"""Decontamination operator semantics on crafted corpora."""

from otters_spark.operators.decontam import contamination_report, ngram_hashes


def test_contamination_report(spark):
    train = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),        # contains eval 100 verbatim
            (2, "x y z a b c d e"),        # shares only a 5-token span
            (3, "p q r s t u v w"),        # clean
            (4, "a b c d e f g h i j"),    # superset: two 8-grams hit? no — one from eval
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [(100, "a b c d e f g h")], ["doc_id", "text"]
    )
    rep = {r["train_id"]: r for r in contamination_report(train, ev, n=8).collect()}
    assert set(rep) == {1, 4}
    assert rep[1]["n_shared_ngrams"] == 1 and rep[1]["n_eval_docs"] == 1
    assert rep[4]["n_shared_ngrams"] == 1


def test_ngram_hashes_distinct_and_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b a b a b"), (2, "too short")], ["doc_id", "text"]
    )
    rows = ngram_hashes(df, 8).collect()
    # doc 1 has 3 8-grams but only 2 distinct ('a b...' and 'b a...');
    # doc 2 (<8 tokens) contributes nothing
    assert len(rows) == 2 and all(r["doc_id"] == 1 for r in rows)


def test_semantic_contamination_planted(spark):
    from pyspark.sql import functions as F

    from otters_spark.operators.decontam import semantic_contamination_report

    rows = [
        (0, [1.0, 0.0, 0.0]),    # == eval 100 -> cosine 1.0
        (1, [0.99, 0.14, 0.0]),  # paraphrase-near eval 100
        (2, [0.0, 1.0, 0.0]),    # orthogonal -> clean
        (3, [0.0, 0.0, 0.0]),    # zero vector scores 0.0 -> clean
        (4, [float("nan"), 0.0, 0.0]),  # NaN cosine is never a hit
    ]
    train = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], ["vec_id", "embedding"]
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))

    got = {
        r["train_id"]: (r["max_cosine"], r["n_eval_hits"])
        for r in semantic_contamination_report(train, ev, 0.9).collect()
    }
    assert set(got) == {0, 1}
    assert got[0] == (1.0, 1)
    assert 0.9 <= got[1][0] < 1.0 and got[1][1] == 1
