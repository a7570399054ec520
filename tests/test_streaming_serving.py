"""Streaming vector search: the streaming serving paths must produce
exactly the batch scoring results (batch-as-oracle, like the events
streams)."""

import json
import os

import pytest

from otters_spark.store import MetaStore
from otters_spark.streaming.serving import serve_query_stream, stream_static_scores

QUERY_SCHEMA = "query_id long, qvec array<double>"


def _write_queries(spark, path, queries):
    import os

    os.makedirs(path, exist_ok=True)
    with open(f"{path}/q.json", "w") as f:
        for qid, v in queries:
            f.write(json.dumps({"query_id": qid, "qvec": v}) + "\n")


def _queries(spark, sf_dir, n=3):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(n).collect()
    return [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(emb)]


def test_stream_static_matches_batch(spark, sf_dir, tmp_path):
    qs = _queries(spark, sf_dir)
    qdir = str(tmp_path / "queries")
    _write_queries(spark, qdir, qs)

    stream_in = spark.readStream.schema(QUERY_SCHEMA).json(qdir)
    out = stream_static_scores(stream_in, _store(spark, sf_dir), threshold=0.2)
    q = (
        out.writeStream.format("memory")
        .queryName("svc_scores")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("select * from svc_scores")

    # batch oracle: same scoring expression over a batch DataFrame
    batch_in = spark.read.schema(QUERY_SCHEMA).json(qdir)
    batch = stream_static_scores(batch_in, _store(spark, sf_dir), threshold=0.2)
    key = ["query_id", "vec_id"]
    a = [(r["query_id"], r["vec_id"], round(r["score"], 9)) for r in streamed.orderBy(*key).collect()]
    b = [(r["query_id"], r["vec_id"], round(r["score"], 9)) for r in batch.orderBy(*key).collect()]
    assert a == b and a


def _store(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return MetaStore.from_df(emb, vec_col="embedding", id_col="vec_id")


def test_serve_query_stream_topk(spark, sf_dir, tmp_path):
    qs = _queries(spark, sf_dir)
    qdir = str(tmp_path / "queries2")
    _write_queries(spark, qdir, qs)
    store = _store(spark, sf_dir)

    got = []
    stream_in = spark.readStream.schema(QUERY_SCHEMA).json(qdir)
    q = serve_query_stream(
        stream_in,
        store,
        on_batch=lambda df, bid: got.extend(df.collect()),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        k=5,
    )
    q.processAllAvailable()
    q.stop()

    # each query's own vector must rank first with score ~1 (self-match)
    assert len(got) == len(qs) * 5
    by_query = {}
    for r in got:
        by_query.setdefault(r["query_id"], []).append(r)
    for qid, vec in qs:
        rows = sorted(by_query[qid], key=lambda r: -r["score"])
        assert rows[0]["vec_id"] == qid and rows[0]["score"] == pytest.approx(1.0)


# --- every metric × every entry point against one exact NumPy top-k ---

_NAN, _INF = float("nan"), float("inf")
# id 8 is a NULL vector, ids 9 and 10 partly and wholly NaN vectors:
# no entry point may return them, whatever the metric. Id 11 scores a
# real ±∞ (dot -∞ against query 0, euclidean/manhattan +∞): it ranks
# last, and comes back whenever k reaches it
_ROWS = [
    [0.0, 0.0, 0.0, 0.0],
    [1.0, 0.0, 0.0, 0.0],
    [1.0, 1.0, 0.0, 0.0],
    [0.0, 1.0, 1.0, 0.0],
    [2.0, 0.0, 1.0, 0.0],
    [1.0, 1.0, 1.0, 1.0],
    [0.0, 0.0, 2.0, 2.0],
    [-1.0, 0.5, 0.0, 1.0],
    None,
    [_NAN, 0.0, 0.0, 0.0],
    [_NAN] * 4,
    [-_INF, 0.0, 0.0, 0.0],
]
_BAD_IDS = {8, 9, 10}
_MATRIX_QUERIES = [[1.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0]]
_THRESHOLDS = {"dot": 1.0, "cosine": 0.5, "euclidean": 2.0,
               "manhattan": 2.0, "hamming": 2.0, "jaccard": 0.5}


def _np_score(metric, v, q):
    import numpy as np

    if v is None:
        return None
    v, q = np.asarray(v, dtype=np.float64), np.asarray(q, dtype=np.float64)
    if np.isnan(v).any() or np.isnan(q).any():  # the reference drops NaN scores
        return None
    with np.errstate(invalid="ignore", over="ignore"):  # inf * 0 is a NaN score
        return _np_metric(metric, v, q)


def _np_metric(metric, v, q):
    import numpy as np

    if metric == "dot":
        return float(v @ q)
    if metric == "cosine":
        nv, nq = np.sqrt(v @ v), np.sqrt(q @ q)
        return float((v @ q) * (0.0 if nv == 0 else 1 / nv) * (0.0 if nq == 0 else 1 / nq))
    if metric == "euclidean":
        return float(((v - q) ** 2).sum())
    if metric == "manhattan":
        return float(np.abs(v - q).sum())
    if metric == "hamming":
        return float((v != q).sum())
    inter, union = ((v != 0) & (q != 0)).sum(), ((v != 0) | (q != 0)).sum()
    return 0.0 if union == 0 else float(inter / union)


def _np_scored(metric, q):
    """(id, score) of every row with a valid (non-NULL, non-NaN) score."""
    import math

    out = []
    for i, v in enumerate(_ROWS):
        s = _np_score(metric, v, q)
        if s is not None and not math.isnan(s):
            out.append((i, s))
    return out


def _np_topk(metric, q, k, scored=None):
    from otters_spark.functions.vector import METRICS

    sign = 1.0 if METRICS[metric] == "min" else -1.0
    rows = _np_scored(metric, q) if scored is None else scored
    return sorted(rows, key=lambda r: (sign * r[1], r[0]))[:k]


def _assert_rows(got, want):
    assert [i for i, _ in got] == [i for i, _ in want], (got, want)
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=1e-5)


@pytest.fixture(scope="module")
def matrix_store(spark):
    from otters_spark.store import VecStore

    df = spark.createDataFrame(
        list(enumerate(_ROWS)), "vec_id long, embedding array<double>"
    )
    return VecStore.from_df(df, dim=4, validate=False)


@pytest.mark.parametrize("metric", ["dot", "cosine", "euclidean", "manhattan",
                                    "hamming", "jaccard"])
def test_every_entry_point_matches_numpy_topk(spark, matrix_store, metric, tmp_path):
    """Plan API (``collect()``, ``df().collect()`` and
    ``collect_with_stats()``, with and without a score filter), serving,
    stream-static threshold, LSH and IVF (single and batch, every
    bucket/cell probed) all return the exact float64
    top-k: direction from METRICS, id tie-break, NULL/NaN rows never
    returned, real ±∞ scores ranked last but returned, and fewer than k
    rows when fewer are valid."""
    import math

    import numpy as np

    from pyspark.sql import functions as F

    from otters_spark.functions.vector import METRICS, inv_norm_of, score_pairs
    from otters_spark.operators.similarity import (
        hyperplanes, ivf_search, ivf_search_batch, lsh_index, lsh_search,
        lsh_search_batch,
    )
    from otters_spark.store import VecStore

    assert sorted(METRICS) == sorted(_THRESHOLDS)
    k, qs = 3, _MATRIX_QUERIES
    want = {qid: _np_topk(metric, q, k) for qid, q in enumerate(qs)}
    for rows in want.values():
        assert len(rows) == k and not {i for i, _ in rows} & _BAD_IDS

    def pairs(rows, score="score"):
        return [(r["vec_id"], r[score]) for r in rows]

    def per_query(rows):
        out = {}
        for r in sorted(rows, key=lambda r: r["query_id"]):
            out.setdefault(r["query_id"], []).append(r)
        return out

    def ranked(rows):
        # a per-query result is a set; order it by the same rule
        sign = 1.0 if METRICS[metric] == "min" else -1.0
        return sorted(pairs(rows), key=lambda r: (sign * r[1], r[0]))

    # plan API; with k = every row, only the valid rows come back, and
    # the survivor count is the valid scores only
    n_all = len(_ROWS)
    t = _THRESHOLDS[metric]
    keep = (lambda s: s <= t) if METRICS[metric] == "min" else (lambda s: s >= t)
    for qid, q in enumerate(qs):
        _assert_rows(pairs(matrix_store.query(q, metric).take(k).collect()), want[qid])
        got, stats = matrix_store.query(q, metric).take(n_all).collect_with_stats()
        _assert_rows(pairs(got), _np_topk(metric, q, n_all))
        assert stats.candidate_rows == n_all
        assert stats.rows_after_filters == len(_np_scored(metric, q))
        passing = [(i, s) for i, s in _np_scored(metric, q) if keep(s)]
        cmp = "lte" if METRICS[metric] == "min" else "gte"
        plan = matrix_store.query(q, metric).vec_filter(t, cmp).take(n_all)
        got, stats = plan.collect_with_stats()
        _assert_rows(pairs(got), _np_topk(metric, q, n_all, passing))
        assert stats.rows_after_filters == len(passing)
        # collect(), df().collect() and collect_with_stats() are three
        # entry points (one statement; the stats path ranks a DataFrame)
        for kk in (k, n_all):
            plan = matrix_store.query(q, metric).vec_filter(t, cmp).take(kk)
            for got in (plan.collect(), plan.df().collect(), plan.collect_with_stats()[0]):
                _assert_rows(pairs(got), _np_topk(metric, q, kk, passing))
    # one plan over both queries ranks every valid (row, query) pair
    both = [pair for q in qs for pair in _np_scored(metric, q)]
    got = matrix_store.query(qs, metric).take(2 * n_all).collect()
    _assert_rows(pairs(got), _np_topk(metric, None, 2 * n_all, both))
    both_passing = [(i, s) for i, s in both if keep(s)]
    plan = matrix_store.query(qs, metric).vec_filter(t, cmp).take(k)
    for got in (plan.collect(), plan.df().collect(), plan.collect_with_stats()[0]):
        _assert_rows(pairs(got), _np_topk(metric, None, k, both_passing))
    # a store whose own columns include `score` and `query_id` answers
    # the same: the kernel's score replaces its `score`
    shadow = VecStore.from_df(
        matrix_store.df.withColumns({"score": F.lit(-1.0), "query_id": F.lit(9)}),
        dim=4, validate=False,
    )
    for q in qs:
        passing = [(i, s) for i, s in _np_scored(metric, q) if keep(s)]
        got = shadow.query(q, metric).vec_filter(t, cmp).take(n_all).collect()
        _assert_rows(pairs(got), _np_topk(metric, q, n_all, passing))
    got = shadow.query(qs, metric).take(2 * n_all).collect()
    _assert_rows(pairs(got), _np_topk(metric, None, 2 * n_all, both))
    # a NaN or ∞ query coordinate is a valid literal
    for q in ([_NAN, 0.0, 0.0, 0.0], [_INF, 0.0, 1.0, 0.0]):
        got = matrix_store.query(q, metric).take(n_all).collect()
        _assert_rows(pairs(got), _np_topk(metric, q, n_all))
    # a literal query scores bit-identically to the same query as a column
    odd = [0.1, 1 / 3, -2.5e-8, 7.0]
    lit = dict(pairs(matrix_store.query(odd, metric).take(n_all).collect()))
    odd_df = spark.createDataFrame(
        [(0, odd, inv_norm_of(odd))], "query_id int, qvec array<double>, q_inv_norm double"
    )
    col_form = score_pairs(matrix_store.df, odd_df, metric, "embedding")
    assert lit == {
        i: s for i, s in pairs(col_form.collect()) if s is not None and not math.isnan(s)
    }

    # ANN entry points over the unvalidated index, every bucket/cell probed
    raw = matrix_store.df.drop("__inv_norm")
    planes = hyperplanes(4, n_planes=1, seed=3)
    indexed = lsh_index(raw, planes)
    assigned = raw.withColumn("ivf_cell", (raw["vec_id"] % 2).cast("int"))
    centroids = np.zeros((2, 4))
    for qid, q in enumerate(qs):
        got = lsh_search(indexed, q, planes, k, metric=metric, multiprobe=1).collect()
        _assert_rows(pairs(got), want[qid])
        got = ivf_search(assigned, centroids, q, k, nprobe=2, metric=metric).collect()
        _assert_rows(pairs(got), want[qid])
    for kk in (k, n_all):
        for got in (
            lsh_search_batch(indexed, qs, planes, kk, metric=metric, multiprobe=1),
            ivf_search_batch(assigned, centroids, qs, kk, nprobe=2, metric=metric),
        ):
            by_q = per_query(got.collect())
            assert sorted(by_q) == [0, 1]
            for qid, rows in by_q.items():
                _assert_rows(ranked(rows), _np_topk(metric, qs[qid], kk))

    # stream-static scores with a threshold (batch input; the stream
    # twin is asserted equal in test_stream_static_matches_batch)
    qdf = spark.createDataFrame(list(enumerate(qs)), QUERY_SCHEMA)
    got = stream_static_scores(qdf, matrix_store, metric=metric, threshold=t).collect()
    by_q = per_query(got)
    for qid, q in enumerate(qs):
        want_t = sorted((i, s) for i, s in _np_scored(metric, q) if keep(s))
        assert want_t, (metric, qid)
        _assert_rows(sorted(pairs(by_q.get(qid, []))), want_t)

    # the serving loop: one stream, both queries in one micro-batch
    qdir = str(tmp_path / "queries")
    _write_queries(spark, qdir, list(enumerate(qs)))
    served = []
    sq = serve_query_stream(
        spark.readStream.schema(QUERY_SCHEMA).json(qdir), matrix_store,
        on_batch=lambda df, bid: served.extend(df.collect()),
        checkpoint_dir=str(tmp_path / "ckpt"), metric=metric, k=k,
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()
    by_q = per_query(served)
    assert sorted(by_q) == [0, 1]
    for qid, rows in by_q.items():
        _assert_rows(ranked(rows), want[qid])


def test_serving_micro_batch_jobs(spark, matrix_store, tmp_path):
    """A one-query micro-batch runs at most two jobs (collect the query
    rows, then the literal-scored top-k: no broadcast job, no isEmpty
    job) and returns every valid row when k exceeds them, the real -∞
    score last; a three-query micro-batch runs at most three (the query
    collect, the per-query window's shuffle map stage, the result: the
    queries are one literal array, so there is no broadcast job) and
    answers each query exactly; an empty micro-batch runs at most one
    job and never reaches the callback."""
    q = _MATRIX_QUERIES[0]
    tracker = spark.sparkContext.statusTracker()

    def serve(name, queries):
        qdir = str(tmp_path / name)
        _write_queries(spark, qdir, queries)
        got, batches = [], []

        def on_batch(df, bid):
            batches.append(bid)
            got.extend(df.collect())

        sq = serve_query_stream(
            spark.readStream.schema(QUERY_SCHEMA).json(qdir), matrix_store,
            on_batch=on_batch, checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
            metric="dot", k=len(_ROWS),
        )
        try:
            sq.processAllAvailable()
        finally:
            sq.stop()
        return got, batches, len(tracker.getJobIdsForGroup(str(sq.runId)))

    got, batches, jobs = serve("one", [(7, q)])
    assert batches == [0] and jobs <= 2, jobs
    assert {r["query_id"] for r in got} == {7}
    want = _np_topk("dot", q, len(_ROWS))
    assert want[-1] == (11, float("-inf"))
    _assert_rows(sorted(((r["vec_id"], r["score"]) for r in got),
                        key=lambda r: (-r[1], r[0])), want)

    qs = {3: _MATRIX_QUERIES[0], 5: _MATRIX_QUERIES[1], 6: [1.0, 0.0, 2.0, 0.5]}
    got, batches, jobs = serve("three", list(qs.items()))
    assert batches == [0] and jobs <= 3, jobs
    for qid, qv in qs.items():
        rows = [(r["vec_id"], r["score"]) for r in got if r["query_id"] == qid]
        _assert_rows(sorted(rows, key=lambda r: (-r[1], r[0])), _np_topk("dot", qv, len(_ROWS)))

    got, batches, jobs = serve("empty", [])
    assert batches == [] and jobs <= 1, (batches, jobs)


def test_per_query_k_bounded_by_window_group_limit(spark, matrix_store, tmp_path):
    """k is checked where callers hit it: up to the WindowGroupLimit
    threshold the per-query top-k plans (and runs), one above raises
    naming the conf, and serving rejects a bad k before any stream
    starts."""
    from otters_spark.functions.vector import (
        WINDOW_GROUP_LIMIT_CONF, rank_topk, score_queries,
    )

    scored = score_queries(matrix_store.df, _MATRIX_QUERIES, "cosine", "embedding")
    old = spark.conf.get(WINDOW_GROUP_LIMIT_CONF)
    spark.conf.set(WINDOW_GROUP_LIMIT_CONF, "3")
    try:
        top = rank_topk(scored, 3, "cosine", "vec_id", query_col="query_id")
        assert "WindowGroupLimit" in top._jdf.queryExecution().executedPlan().toString()
        assert top.count() == 6
        for call in (
            lambda: rank_topk(scored, 4, "cosine", "vec_id", query_col="query_id"),
            lambda: serve_query_stream(
                spark.readStream.schema(QUERY_SCHEMA).json(str(tmp_path)),
                matrix_store, on_batch=lambda df, bid: None,
                checkpoint_dir=str(tmp_path / "ckpt"), k=4,
            ),
        ):
            with pytest.raises(ValueError, match=WINDOW_GROUP_LIMIT_CONF):
                call()
    finally:
        spark.conf.set(WINDOW_GROUP_LIMIT_CONF, old)
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="k must be >= 1"):
        serve_query_stream(
            spark.readStream.schema(QUERY_SCHEMA).json(str(tmp_path)),
            matrix_store, on_batch=lambda df, bid: None,
            checkpoint_dir=str(tmp_path / "ckpt0"), k=0,
        )
    assert len(spark.streams.active) == active
    assert not (tmp_path / "ckpt0").exists()



def _send(qdir, qid, vec):
    """One query file, renamed into place so a trigger never reads it
    half written."""
    tmp = os.path.join(qdir, f".{qid}.json.tmp")
    with open(tmp, "w") as f:
        f.write(json.dumps({"query_id": qid, "qvec": vec}) + "\n")
    os.rename(tmp, os.path.join(qdir, f"{qid}.json"))


def _serve_each(spark, store, qdir, ckpt, queries, on_batch):
    """Serve ``queries`` (id -> vector), one file and one trigger each."""
    os.makedirs(qdir, exist_ok=True)
    sq = serve_query_stream(
        spark.readStream.schema(QUERY_SCHEMA).json(qdir), store,
        on_batch=on_batch, checkpoint_dir=ckpt, metric="dot", k=3,
    )
    try:
        for qid, vec in queries.items():
            _send(qdir, qid, vec)
            sq.processAllAvailable()
    finally:
        sq.stop()


def test_serving_restart_answers_each_query_once(spark, matrix_store, tmp_path):
    """Restarted on its checkpoint (written by the session's checkpoint
    file manager), the serving loop neither replays nor skips: queries 0
    and 1 before the stop and 2 after are answered by batches 0, 1 and 2,
    each exactly once."""
    qdir, ckpt = str(tmp_path / "queries"), str(tmp_path / "ckpt")
    batches = []

    def on_batch(df, bid):
        batches.append((bid, sorted({r["query_id"] for r in df.collect()})))

    _serve_each(spark, matrix_store, qdir, ckpt, dict(enumerate(_MATRIX_QUERIES)), on_batch)
    _serve_each(spark, matrix_store, qdir, ckpt, {2: [1.0, 0.0, 2.0, 0.5]}, on_batch)
    assert batches == [(0, [0]), (1, [1]), (2, [2])]


def test_served_query_ids_compile_no_code(spark, matrix_store, tmp_path):
    """A one-query batch's id rides in the score struct, outside
    generated code: after a warm-up batch, five batches with new ids
    compile no Java class."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    counts = []

    def on_batch(df, bid):
        df.collect()
        counts.append((bid, compiles.getCount()))

    queries = {100 + i: _MATRIX_QUERIES[i % 2] for i in range(6)}
    _serve_each(spark, matrix_store, str(tmp_path / "queries"), str(tmp_path / "ckpt"),
                queries, on_batch)
    assert [bid for bid, _ in counts] == list(range(6))
    assert counts[-1][1] - counts[0][1] == 0
