"""Physical-plan audits — lock in the plans we want at scale:
top-k must be TakeOrderedAndProject (bounded heaps, no full sort),
metadata predicates must reach the Parquet scan (row-group pruning),
dimension joins must broadcast (no shuffle of the fact table)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from otters_spark import MetaStore, col, compile_expr
from otters_spark.suite import Q7, rel_brand_revenue


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def store(spark, sf_dir, tmp_path_factory):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    s = MetaStore.from_df(emb, vec_col="embedding", id_col="vec_id")
    path = str(tmp_path_factory.mktemp("plans") / "store")
    s.save(path, sort_cols=["label"])
    return MetaStore.load(spark, path)


def test_topk_is_take_ordered(store):
    df = store.query(Q7, "cosine").take(10).df()
    assert "TakeOrderedAndProject" in plan_of(df)


def test_meta_filter_pushed_to_scan(store):
    df = store.query(Q7, "cosine").meta_filter(col("label").eq(3)).take(5).df()
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "EqualTo(label,3)" in plan.replace(" ", "")


def final_plan_of(df) -> str:
    """The executed plan without AQE's initial-plan copy."""
    return plan_of(df).split("== Initial Plan ==")[0]


def jobs_and_stages(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    return out, len(jobs), sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)


@pytest.mark.parametrize("metric", ["cosine", "dot"])
def test_point_plan_scores_each_row_once(spark, store, metric):
    """A point query is one job of ONE stage over one scan, whether run
    by ``collect()`` or by collecting ``df()``: the query vector is a
    literal, so there is no join, broadcast or Python RDD; invalid
    scores are dropped before the top-k, so ``TakeOrderedAndProject``
    is the plan root (no shuffle); the kernel appears once in the
    executed plan (no copy pushed into a filter or join condition); and
    the metadata predicate still reaches the Parquet scan."""
    plan = store.query(Q7, metric).meta_filter(col("label").eq(3)).take(5)
    want, jobs, stages = jobs_and_stages(spark, f"point-collect-{metric}", plan.collect)
    assert want and {r["label"] for r in want} == {3}
    assert (jobs, stages) == (1, 1)
    df = plan.df()
    rows, jobs, stages = jobs_and_stages(spark, f"point-df-{metric}", df.collect)
    assert rows == want and (jobs, stages) == (1, 1)
    plan_text = plan_of(df)
    assert plan_text.startswith("TakeOrderedAndProject"), plan_text
    assert plan_text.count("aggregate(") == 1, plan_text
    assert "BroadcastNestedLoopJoin" not in plan_text and "ExistingRDD" not in plan_text
    assert "Exchange" not in plan_text
    assert "EqualTo(label,3)" in plan_text.replace(" ", "")


def test_take_none_scores_each_row_once(spark, store):
    """``take(None)`` (every valid row, sorted) evaluates the kernel
    once per row: the validity filter sits above the kernel's
    ``inline``, so Catalyst cannot push a copy of the kernel into it."""
    df = store.query(Q7, "cosine").vec_filter(0.0, "gt").take(None).df()
    rows = df.collect()
    assert rows and all(r["score"] > 0.0 for r in rows)
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert final_plan_of(df).count("aggregate(") == 1, final_plan_of(df)


def test_df_is_one_sql_statement(store, monkeypatch):
    """Without a row mask, ``df()`` is built by ``spark.sql`` alone: no
    DataFrame transformation runs (each one is an eager analysis)."""
    cls = type(store.df)

    def forbidden(name):
        def call(*args, **kwargs):
            raise AssertionError(f"DataFrame.{name} called while building df()")
        return call

    for name in ("filter", "where", "select", "selectExpr", "withColumn", "withColumns",
                 "drop", "orderBy", "sort", "limit", "observe", "join", "crossJoin",
                 "unionByName", "alias"):
        monkeypatch.setattr(cls, name, forbidden(name))
    df = (
        store.query([Q7, Q7], "euclidean").meta_filter(col("label").gte(2))
        .vec_filter(50.0, "lt").take(3).df()
    )
    monkeypatch.undo()
    assert len(df.collect()) == 3


_DTYPE_ROWS = [
    (0, [1.0], 1, 1, 0.5, 0.5, "a", dt.datetime(2024, 1, 2, 3, 4, 5), dt.date(2024, 1, 2)),
    (1, [1.0], 7, 2**40, 2.5, -1.5, "b", dt.datetime(1969, 7, 20, 20, 17, 40), dt.date(1960, 5, 1)),
]
_DTYPE_SCHEMA = (
    "vec_id long, embedding array<float>, i32 int, i64 long, f32 float, f64 double, "
    "s string, ts timestamp, d date"
)
_DTYPE_LEAVES = [
    ("i32", 7), ("i32", 3_000_000_000), ("i64", 7), ("i64", 2**40), ("f32", 0.5), ("f32", 2),
    ("f64", -1.5), ("f64", float("inf")), ("s", "b"), ("s", "it's {x}\\"),
    ("ts", "2024-01-02 03:04:05"), ("ts", "1969-07-20T20:17:40.000001"), ("d", "2024-01-02"),
]


@pytest.mark.parametrize("op", ["eq", "neq", "lt", "gte", "contains", "starts_with",
                                "ends_with"])
def test_pushed_filters_match_column_predicates(spark, tmp_path_factory, op):
    """Each literal of the SQL predicate is typed as ``F.lit`` types it,
    so for every column type the scan's PushedFilters are those of the
    Column predicate ``F.col(c) OP F.lit(value)``."""
    import re

    path = str(tmp_path_factory.mktemp("dtypes") / "store")
    spark.createDataFrame(_DTYPE_ROWS, _DTYPE_SCHEMA).write.parquet(path)
    store = MetaStore.from_df(spark.read.parquet(path), vec_col="embedding", id_col="vec_id")
    cmp = {"eq": lambda c, v: c == v, "neq": lambda c, v: c != v,
           "lt": lambda c, v: c < v, "gte": lambda c, v: c >= v,
           "contains": lambda c, v: c.contains(v), "starts_with": lambda c, v: c.startswith(v),
           "ends_with": lambda c, v: c.endswith(v)}[op]

    def pushed(df):
        # a predicate no row can satisfy plans as an empty relation
        text = plan_of(df)
        m = re.search(r"PushedFilters: \[[^\]]*\]", text)
        return m.group(0) if m else ("<empty>" if "LocalTableScan <empty>" in text else text)

    leaves = _DTYPE_LEAVES
    if op not in ("eq", "neq"):  # strings take the string ops, the rest orderings
        leaves = [(n, v) for n, v in leaves if (n == "s") == (op not in ("lt", "gte"))]
    for name, value in leaves:
        expr = col(name)._cmp(op, value)
        leaf = compile_expr(expr, store.schema).plan[0][0]
        want = pushed(store.df.filter(cmp(F.col(name), F.lit(leaf.value))))
        got = pushed(store.query([1.0], "dot").meta_filter(expr).take(None).df())
        assert got == want, (name, value)


def test_statement_keeps_a_cached_store_cached(spark):
    """Binding the store into the statement neither uncaches a cached
    store (the plan reads the in-memory relation, query after query)
    nor leaves a temporary view behind."""
    from otters_spark import VecStore

    df = spark.createDataFrame([(i, [float(i), 1.0]) for i in range(20)],
                               "vec_id long, embedding array<double>")
    store = VecStore.from_df(df, dim=2)
    store.df.cache()
    try:
        store.df.count()
        for _ in range(2):
            df = store.query([1.0, 0.0], "dot").take(3).df()
            assert [r["vec_id"] for r in df.collect()] == [19, 18, 17]
            assert store.df.storageLevel.useMemory
            assert "InMemoryTableScan" in plan_of(df)
        assert not [t for t in spark.catalog.listTables() if t.name.startswith("__otters")]
    finally:
        store.df.unpersist()


def test_several_queries_are_one_literal_array(spark, store):
    """Several known queries are one literal array exploded over the
    rows: the global-merge plan and an IVF batch plan each evaluate the
    kernel once (no join, broadcast or query relation), the IVF probe
    filter sits between the query explode and the kernel, so only
    probed pairs are scored, and the global merge runs one job."""
    import numpy as np

    from otters_spark.operators.similarity import ivf_search_batch
    from otters_spark.suite import Q11, Q13

    qs = [Q7, Q11, Q13]
    df = store.query(qs, "cosine").take(10).df()
    assigned = store.df.withColumn("ivf_cell", (F.col("vec_id") % 4).cast("int"))
    batch = ivf_search_batch(assigned, np.eye(4, 64), qs, k=5, nprobe=2)
    for plan in (plan_of(df), plan_of(batch)):
        assert plan.count("aggregate(") == 1, plan
        for node in ("BroadcastNestedLoopJoin", "BroadcastExchange", "LocalTableScan"):
            assert node not in plan, (node, plan)
    nodes = [line.strip() for line in plan_of(batch).splitlines()]
    kernel = next(i for i, n in enumerate(nodes) if "aggregate(" in n)
    probe = next(i for i, n in enumerate(nodes) if "array_contains(" in n)
    # the kernel's own one-element inline comes first; the query
    # explode is the last Generate
    explode = max(i for i, n in enumerate(nodes) if "Generate inline(" in n)
    assert kernel < probe < explode, nodes

    rows, jobs, _ = jobs_and_stages(spark, "several-queries", df.collect)
    assert len(rows) == 10 and jobs == 1


def test_collect_with_stats_runs_the_collect_statement(spark, store):
    """``collect_with_stats()`` runs the statement ``collect()`` runs,
    with the same jobs and stages (a point query: one job, one stage),
    and reads its counts from that statement's executed plan: every
    candidate row per query, the valid scores that pass the score
    filter, and the result rows."""
    from otters_spark.suite import Q11

    plan = store.query(Q7, "cosine").take(10)
    want, jobs, stages = jobs_and_stages(spark, "stats-collect", plan.collect)
    (rows, stats), s_jobs, s_stages = jobs_and_stages(
        spark, "stats-with-stats", plan.collect_with_stats
    )
    assert rows == want and (s_jobs, s_stages) == (jobs, stages) == (1, 1)
    n = store.df.count()
    assert (stats.candidate_rows, stats.rows_after_filters, stats.result_rows) == (n, n, 10)

    def filtered():
        return store.query([Q7, Q11], "cosine").meta_filter(col("label").gte(5)).vec_filter(
            0.0, "gt")

    plan = filtered().take(10)
    want, jobs, stages = jobs_and_stages(spark, "stats-collect-2", plan.collect)
    (rows, stats), s_jobs, s_stages = jobs_and_stages(
        spark, "stats-with-stats-2", plan.collect_with_stats
    )
    assert rows == want and (s_jobs, s_stages) == (jobs, stages)
    candidates = store.df.filter(F.col("label") >= 5).count()
    assert (stats.candidate_rows, stats.vectors_compared) == (candidates, 2 * candidates)
    assert stats.rows_after_filters == len(filtered().take(None).collect())
    assert stats.result_rows == len(rows) == 10


def test_dataframe_entry_points_score_each_pair_once(spark, store, sf_dir, tmp_path):
    """Every DataFrame vector entry point ranks through the statement
    texts: its executed plan evaluates each kernel once (one
    ``aggregate(zip_with(…))`` per kernel, inside its one-element
    ``inline``), and where it ranks, the validity filter sits below the
    limit or window, so invalid scores are dropped before the top-k."""
    import numpy as np

    from otters_spark.operators.similarity import (
        binary_index, binary_search, hyperplanes, ivf_search, ivf_search_batch, lsh_index,
        lsh_load, lsh_save, lsh_search, lsh_search_batch, maxsim_topk, pq_search,
    )
    from otters_spark.suite import Q11, Q13, sim_hard_negatives, sim_knn_classify

    qs = [Q7, Q11, Q13]
    planes = hyperplanes(64, n_planes=2, seed=3)
    lsh_save(lsh_index(store.df, planes), str(tmp_path / "lsh"))
    indexed = lsh_load(spark, str(tmp_path / "lsh"))
    assigned = store.df.withColumn("ivf_cell", (F.col("vec_id") % 4).cast("int"))
    M, K = 8, 4
    encoded = store.df.select(
        "vec_id", F.array(*[(F.col("vec_id") % K).cast("int")] * M).alias("pq_code")
    )
    codebooks = np.random.default_rng(0).standard_normal((M, K, 64 // M))
    tokens = store.df.select((F.col("vec_id") % 50).alias("group_id"), "embedding")
    # (entry point, kernels, ranked by rank_topk)
    cases = {
        "lsh": (lsh_search(indexed, Q7, planes, 5, multiprobe=1), 1, True),
        "lsh_batch": (lsh_search_batch(indexed, qs, planes, 5, multiprobe=1), 1, True),
        "ivf": (ivf_search(assigned, np.eye(4, 64), Q7, 5, nprobe=2), 1, True),
        "ivf_batch": (ivf_search_batch(assigned, np.eye(4, 64), qs, 5, nprobe=2), 1, True),
        "pq_rerank": (pq_search(encoded, codebooks, Q7, 5, store=store.df, rerank=20), 2, True),
        "binary": (binary_search(binary_index(store.df), Q7, 5), 1, True),
        "maxsim": (maxsim_topk(tokens, qs, k=5), 1, True),
        "knn_classify": (sim_knn_classify(spark, sf_dir), 1, True),
        "hard_negatives": (sim_hard_negatives(spark, sf_dir), 1, True),
    }
    for name, (df, kernels, ranked) in cases.items():
        assert df.collect(), name
        plan = final_plan_of(df)
        lines = plan.splitlines()
        generates = [line for line in lines
                     if "Generate inline(array(" in line and "struct(score, " in line]
        assert len(generates) == kernels == plan.count("aggregate(zip_with("), (name, plan)
        if ranked:
            top = min(i for i, line in enumerate(lines)
                      if "TakeOrderedAndProject" in line or "WindowGroupLimit" in line)
            valid = [i for i, line in enumerate(lines) if "Filter isnotnull(nanvl(" in line]
            assert valid and min(valid) > top, (name, plan)


def test_unsaved_lsh_index_evaluates_each_plane_once(spark, sf_dir):
    """Over an ``lsh_index`` frame that is not saved, the probe filter
    stays above the ``inline`` that computes ``lsh_bucket``: the
    executed plan holds each plane kernel once, plus the score kernel."""
    from otters_spark.operators.similarity import (
        hyperplanes, lsh_index, lsh_search, lsh_search_batch,
    )
    from otters_spark.suite import Q11, Q13, sim_lsh_topk

    n_planes = 4
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planes = hyperplanes(64, n_planes=n_planes, seed=42)
    indexed = lsh_index(emb, planes)
    cases = {
        "lsh": lsh_search(indexed, Q7, planes, 10, multiprobe=3),
        "lsh_batch": lsh_search_batch(indexed, [Q7, Q11, Q13], planes, 10, multiprobe=3),
        "sim_lsh_topk": sim_lsh_topk(spark, sf_dir),
    }
    for name, df in cases.items():
        assert df.collect(), name
        plan = final_plan_of(df)
        assert plan.count("aggregate(zip_with(") == n_planes + 1, (name, plan)


def test_vector_literal_is_bit_exact(spark):
    """NaN and ±∞ render as string casts (Spark has no literal for
    them), every finite double as its repr, which round-trips."""
    import math

    from otters_spark.functions.vector import vector_literal_sql

    nan, inf = float("nan"), float("inf")
    vals = [nan, inf, -inf, -0.0, 0.1, 1 / 3, 5e-324, 1e300, None]
    sql = vector_literal_sql(vals)
    assert sql == (
        "CAST(array(CAST('NaN' AS DOUBLE), CAST('Infinity' AS DOUBLE), "
        "CAST('-Infinity' AS DOUBLE), -0.0D, 0.1D, 0.3333333333333333D, "
        "5e-324D, 1e+300D, CAST(NULL AS DOUBLE)) AS ARRAY<DOUBLE>)"
    )
    got = spark.sql(f"SELECT {sql} AS v").first()["v"]
    assert math.isnan(got[0]) and got[-1] is None
    for a, b in zip(got[1:-1], vals[1:-1]):
        assert a == b and math.copysign(1.0, a) == math.copysign(1.0, b)


def test_dim_join_broadcasts(spark, sf_dir):
    plan = plan_of(rel_brand_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the fact table must not be shuffled for the join itself
    assert "SortMergeJoin" not in plan


def test_no_python_udf_in_vector_scoring(store):
    plan = plan_of(store.query(Q7, "cosine").take(10).df())
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_global_sort_uses_range_partitioning(spark, sf_dir):
    """A full ORDER BY without LIMIT is the one sort shape the suite
    queries never use (they all end in TakeOrderedAndProject or
    window sorts): it must plan as a range-partitioning exchange +
    per-partition sort — the distributed total order — and the
    collected output must actually be sorted."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = orders.orderBy("o_totalprice", "o_orderkey").select(
        "o_orderkey", "o_totalprice"
    )
    plan = plan_of(df).lower()
    assert "rangepartitioning" in plan
    rows = df.collect()
    keys = [(r["o_totalprice"], r["o_orderkey"]) for r in rows]
    assert keys == sorted(keys)
    assert len(rows) == orders.count()


def test_row_index_has_no_global_window(spark, sf_dir):
    """with_row_index must assign its dense id via partition offsets
    (zipWithIndex shape): no Window operator at all in the plan — a
    ``Window.orderBy`` with no partition spec funnels the whole input
    through ONE task at scale — and the ids must still be the exact
    dense 0..n-1 sequence."""
    from otters_spark.store import with_row_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("label")
    df = with_row_index(emb, "rid")
    plan = plan_of(df).lower()
    assert "window" not in plan, plan[:2000]
    ids = sorted(r["rid"] for r in df.select("rid").collect())
    assert ids == list(range(emb.count()))


def test_row_index_adversarial_partitioning(spark):
    """Dense 0..n-1 ids must survive empty partitions (more partitions
    than rows), a zero-row frame, and a post-shuffle frame."""
    from otters_spark.store import with_row_index

    tiny = spark.createDataFrame([(i,) for i in range(3)], "x long")
    d = with_row_index(tiny.repartition(8), "rid")
    assert sorted(r["rid"] for r in d.collect()) == [0, 1, 2]

    empty = spark.createDataFrame([], "x long")
    assert with_row_index(empty, "rid").count() == 0

    shuffled = (
        spark.range(0, 1000)
        .withColumn("k", F.col("id") % 7)
        .repartition(5, "k")
    )
    d2 = with_row_index(shuffled, "rid")
    got = sorted(r["rid"] for r in d2.select("rid").collect())
    assert got == list(range(1000))


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path_factory):
    """A partitioned fact joined to a selectively-filtered dim must
    plan a DynamicPruningExpression on the fact scan: at 100 TB the
    filter on the dim prunes fact PARTITIONS at runtime instead of
    scanning all of them. Locks in that engine tables written
    partitioned actually benefit from Spark's DPP."""
    path = str(tmp_path_factory.mktemp("dpp") / "orders_by_pri")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.write.partitionBy("o_orderpriority").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        orders.select("o_orderpriority")
        .distinct()
        .withColumn("is_urgent", F.col("o_orderpriority").startswith("1"))
    )
    joined = fact.join(dim, "o_orderpriority").filter(F.col("is_urgent"))
    plan = plan_of(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_per_query_topk_shuffle_input_is_bounded(spark, sf_dir):
    """Round-12 form of the round-10/11 weak-plan lock: the exact
    per-query top-k path must BOUND the window's shuffle input — no
    plan may ship each query's entire scored corpus to one task. On
    Spark 3.5+/4.x the bound is WindowGroupLimit Partial (a per-map
    k-per-query pre-limit BELOW the exchange) feeding WindowGroupLimit
    Final; the property asserted is the bounded-input one, not any
    particular partial implementation (the round-11 MapInPandas
    partial satisfied it too, at the cost of an Arrow crossing on the
    full scored store — replaced in round 12, VERDICT item 3)."""
    from otters_spark.suite import vs_per_query_topk

    plan = plan_of(vs_per_query_topk(spark, sf_dir))
    win = plan.find("Window ")
    assert win != -1
    below = plan[win:]
    exch = below.find("Exchange")
    assert exch != -1
    # a partial truncation stage must sit BELOW the exchange, where the
    # raw scored store flows: WindowGroupLimit Partial (JVM) or a
    # MapInPandas partial both qualify
    partial_wgl = below.find("WindowGroupLimit", exch)
    partial_mip = below.find("MapInPandas", exch)
    assert partial_wgl != -1 or partial_mip != -1, plan[:3000]
    if partial_wgl != -1:
        # Partial below the exchange, Final above it
        assert "Partial" in below[partial_wgl:partial_wgl + 200]
        final_wgl = below.find("WindowGroupLimit")
        assert final_wgl < exch and "Final" in below[final_wgl:final_wgl + 200]
