"""Benchmark decontamination — find training documents that contain
verbatim n-gram spans from an evaluation/benchmark set, the overlap
check every LLM training pipeline runs before training (the GPT-3 /
PaLM appendices describe the same 8-13-gram collision method).

Scale shape: both sides explode to DISTINCT n-grams hashed to 60-bit
md5 longs (one narrow pass each, no Python), then one hash join keyed
by gram hash and one groupBy keyed by train id. Benchmark sides are
tiny in practice, so the planner broadcasts the eval grams and the
join costs a map-side probe over the train gram stream — corpus-linear
at any scale. With a large eval side it degrades to a shuffle join on
the 8-byte hash, still linear in total gram count. The md5-long
convention (functions/text.py) keeps the shuffle narrow AND makes the
report DuckDB-checkable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import md5_long_expr, word_ngrams_expr

__all__ = [
    "ngram_hashes",
    "contamination_report",
    "semantic_contamination_report",
]


def ngram_hashes(
    df: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id",
    out_id: str = "doc_id",
) -> DataFrame:
    """(id, gram-hash) pairs, one row per DISTINCT n-gram of each doc."""
    with_tokens = df.withColumn("__w", F.split(F.col(text_col), " "))
    grams = F.array_distinct(word_ngrams_expr(F.col("__w"), n))
    return with_tokens.select(
        F.col(id_col).alias(out_id), F.explode(grams).alias("__g")
    ).select(out_id, md5_long_expr("__g").alias("__h"))


def contamination_report(
    train_df: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    eval_id_col: str | None = None,
) -> DataFrame:
    """Per contaminated train doc: how many distinct n-grams it shares
    with the eval set (``n_shared_ngrams``) and how many eval docs it
    collides with (``n_eval_docs``). Clean docs are absent — the
    report is the drop list, not a full-corpus annotation."""
    tg = ngram_hashes(train_df, n, text_col, id_col, out_id="train_id")
    eg = ngram_hashes(
        eval_df, n, eval_text_col or text_col, eval_id_col or id_col,
        out_id="eval_id",
    )
    return (
        tg.join(eg, "__h")
        .groupBy("train_id")
        .agg(
            F.countDistinct("__h").alias("n_shared_ngrams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


def semantic_contamination_report(
    train_df: DataFrame,
    eval_df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    eval_vec_col: str | None = None,
) -> DataFrame:
    """Embedding-space decontamination — the semantic complement of the
    n-gram collision check: a train item whose embedding sits within
    ``cosine >= threshold`` of ANY benchmark item is flagged even when
    it shares no verbatim span (paraphrased eval leakage). Returns, per
    contaminated train row, ``max_cosine`` (6 dp) and ``n_eval_hits``;
    clean rows are absent — the report is the drop list. A NULL or NaN
    cosine is never a hit.

    Scale shape: the benchmark side is small by definition (eval sets
    are thousands of rows, the corpus is billions), so it BROADCASTS
    and scoring is a map-side nested-loop over each corpus partition
    (:func:`~otters_spark.functions.vector.score_pairs`) — one scan of
    the corpus, no shuffle until the per-train-id groupBy (which AQE
    coalesces; its key is the train id, so it is as parallel as the
    corpus). Cosine uses the engine's precomputed inverse-norm
    convention (zero vectors score 0.0), each side's norm computed once
    per row, never per pair. For benchmark sides too big to broadcast,
    generate candidates with the LSH bucket machinery first
    (operators/similarity.py) and verify only bucket collisions."""
    from ..functions.vector import INV_NORM_COL, inv_norm_expr, score_pairs, valid_score

    t = train_df.select(
        F.col(id_col).alias("train_id"),
        F.col(vec_col).alias("__v"),
        inv_norm_expr(vec_col).alias(INV_NORM_COL),
    )
    e = eval_df.select(F.col(eval_vec_col or vec_col).alias("__q"))
    scored = score_pairs(t, e, "cosine", "__v", "__q")
    return (
        scored.filter(valid_score("score") & (F.col("score") >= threshold))
        .groupBy("train_id")
        .agg(
            F.round(F.max("score"), 6).alias("max_cosine"),
            F.count(F.lit(1)).alias("n_eval_hits"),
        )
    )
