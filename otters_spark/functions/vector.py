"""Vector scoring as native Catalyst expressions.

Replaces the reference's SIMD scoring kernels (otters
src/vec_compute.rs:9-54) with JVM-side higher-order functions —
``zip_with`` + ``aggregate`` stay inside whole-stage codegen, so the hot
loop never crosses into Python. All accumulation is in float64 (the
reference accumulates f32; we compare against the DuckDB oracle at 1e-5,
the reference's own test tolerance, tests/vec_store_tests.rs:158,586).

Semantics preserved:

* dot product: plain sum of elementwise products (src/vec_compute.rs:9-22)
* cosine: ``dot * inv_norm_a * inv_norm_b`` with *precomputed* inverse
  norms; a zero vector stores inv_norm 0.0, so its cosine vs anything is
  0.0, never NaN (src/vec.rs:365-368, src/vec_compute.rs:25-32)
* euclidean: **squared** distance, never sqrt'd (src/vec_compute.rs:35-54)

Every vector search entry point scores and ranks through the one path at
the end of this module: :func:`score_pairs` and :func:`rank_topk`.

Scale note: for dim≈64 these codegen'd expressions are the fast path; an
Arrow/pandas-UDF matmul path for very wide vectors lives in
``otters_spark.operators.similarity``.
"""

from __future__ import annotations

import math
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

__all__ = [
    "METRICS",
    "dot_expr",
    "cosine_expr",
    "euclidean_sq_expr",
    "manhattan_expr",
    "hamming_expr",
    "jaccard_expr",
    "inv_norm_expr",
    "inv_norm_of",
    "score_expr",
    "queries_df",
    "ranks_ascending",
    "score_pairs",
    "rank_topk",
    "per_query_topk",
    "check_per_query_k",
]

#: the store's precomputed inverse-norm column (written at build by
#: ``otters_spark.store``; read here by :func:`score_pairs`)
INV_NORM_COL = "__inv_norm"

#: the session conf below which Spark plans ``row_number() <= k`` as
#: WindowGroupLimit Partial/Final (inclusive; default 1000)
WINDOW_GROUP_LIMIT_CONF = "spark.sql.optimizer.windowGroupLimitThreshold"

#: metric -> default take direction (src/vec.rs:92-98: Euclidean->Min,
#: Cosine/DotProduct->Max). Manhattan is the reference's own roadmap
#: item (README.md:209 "More Metrics (Manhattan, ...)"); distance
#: semantics -> Min, like Euclidean.
#: Hamming (distance -> Min) and Jaccard (similarity -> Max) complete
#: the same roadmap line; both are meant for binary/discretized
#: vectors (see their kernel docstrings).
METRICS = {
    "dot": "max",
    "cosine": "max",
    "euclidean": "min",
    "manhattan": "min",
    "hamming": "min",
    "jaccard": "max",
}


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def dot_expr(a, b) -> Column:
    """Dot product of two array columns, accumulated in float64
    (reference: src/vec_compute.rs:9-22)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def inv_norm_expr(v) -> Column:
    """Inverse L2 norm; 0.0 for the zero vector (src/vec.rs:365-368)."""
    norm = F.sqrt(
        F.aggregate(
            F.transform(_c(v), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )
    return F.when(norm == 0.0, F.lit(0.0)).otherwise(F.lit(1.0) / norm)


def inv_norm_of(vec: Sequence[float]) -> float:
    """Driver-side inverse norm for a query vector (hoisted once per
    batch, src/vec.rs:124-137,390-397)."""
    s = math.fsum(float(x) * float(x) for x in vec)
    n = math.sqrt(s)
    return 0.0 if n == 0.0 else 1.0 / n


def cosine_expr(a, b, inv_norm_a, inv_norm_b) -> Column:
    """Cosine similarity from precomputed inverse norms
    (src/vec_compute.rs:25-32). Zero-norm vectors score 0.0 by
    construction (inv_norm stored as 0.0)."""
    ia = inv_norm_a if isinstance(inv_norm_a, Column) else F.lit(float(inv_norm_a))
    ib = inv_norm_b if isinstance(inv_norm_b, Column) else F.lit(float(inv_norm_b))
    return dot_expr(a, b) * ia * ib


def euclidean_sq_expr(a, b) -> Column:
    """Squared euclidean distance — squared on purpose, matching the
    reference exactly (src/vec_compute.rs:35-54; test
    tests/vec_store_tests.rs:636-656)."""
    return F.aggregate(
        F.zip_with(
            _c(a),
            _c(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def manhattan_expr(a, b) -> Column:
    """L1 (Manhattan) distance — the reference's roadmap metric
    (README.md:209). Like the other kernels: zip_with + aggregate in
    float64, inside whole-stage codegen."""
    return F.aggregate(
        F.zip_with(
            _c(a),
            _c(b),
            lambda x, y: F.abs(x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _null_guarded_lane(cond):
    """Lane combinator for zip_with kernels that count matches: maps a
    (x, y) predicate to 1/0 as int64, but NULLs the lane when either
    side is NULL or NaN — so a ragged (zip_with NULL-padded) or
    null-element input propagates NULL through the sum instead of
    silently counting the padded lanes (SQL 3VL would send the NULL
    comparison to the otherwise-branch 0), and a NaN coordinate gives
    a NULL score, which ranking drops, as the arithmetic metrics' NaN
    scores are dropped. Shared by hamming and jaccard; manhattan gets
    the same behavior from arithmetic NULL/NaN propagation for free."""

    def lane(x, y):
        return F.when(
            x.isNull() | y.isNull()
            | F.isnan(x.cast("double")) | F.isnan(y.cast("double")),
            F.lit(None).cast("long"),
        ).otherwise(
            F.when(cond(x, y), F.lit(1)).otherwise(F.lit(0)).cast("long")
        )

    return lane


def hamming_expr(a, b) -> Column:
    """Hamming distance — the count of positions where the two vectors
    differ (reference roadmap metric, README.md:209). Meaningful for
    binary / discretized vectors; defined on any numeric arrays as an
    exact inequality count, accumulated as int64 then cast to double
    so every metric scores as one column type.

    Length-mismatched (ragged) inputs score NULL, not a silent
    undercount — see :func:`_null_guarded_lane`. VecStore's dim
    validation prevents ragged rows at ingest; the guard covers direct
    users of the public function, and the plan layer drops NULL scores
    alongside NaN so a guarded row can never occupy a top-k slot."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), _null_guarded_lane(lambda x, y: x != y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).cast("double")


def jaccard_expr(a, b) -> Column:
    """Jaccard similarity over the NONZERO lanes of two equal-length
    vectors (reference roadmap metric, README.md:209): treating each
    vector as the set of coordinates it activates,
    ``|both nonzero| / |either nonzero|``; two all-zero vectors score
    0.0, never NaN (the zero-vector convention cosine already uses).

    Length-mismatched (ragged) inputs score NULL rather than silently
    miscounting the zip_with NULL-padded lanes — the shared
    :func:`_null_guarded_lane` guard."""
    inter = F.aggregate(
        F.zip_with(
            _c(a), _c(b), _null_guarded_lane(lambda x, y: (x != 0) & (y != 0))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    union = F.aggregate(
        F.zip_with(
            _c(a), _c(b), _null_guarded_lane(lambda x, y: (x != 0) | (y != 0))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


def score_expr(vec_col, q_col, metric: str, inv_norm_col=None, q_inv_norm=None) -> Column:
    """Score expression for one (store-vector, query-vector) pair.

    ``inv_norm_col`` is the store's precomputed inverse-norm column;
    ``q_inv_norm`` the query's (Column or float). Both required for
    cosine — precomputing them is the engine's analog of the reference's
    ingest-time norm precompute (src/vec.rs:365-368).
    """
    if metric == "dot":
        return dot_expr(vec_col, q_col)
    if metric == "cosine":
        ia = _c(inv_norm_col) if inv_norm_col is not None else inv_norm_expr(vec_col)
        ib = q_inv_norm if q_inv_norm is not None else inv_norm_expr(q_col)
        return cosine_expr(vec_col, q_col, ia, ib)
    if metric == "euclidean":
        return euclidean_sq_expr(vec_col, q_col)
    if metric == "manhattan":
        return manhattan_expr(vec_col, q_col)
    if metric == "hamming":
        return hamming_expr(vec_col, q_col)
    if metric == "jaccard":
        return jaccard_expr(vec_col, q_col)
    raise ValueError(f"unknown metric {metric!r}; expected one of {sorted(METRICS)}")


_QUERY_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("qvec", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("q_inv_norm", T.DoubleType(), False),
    ]
)


def queries_df(spark: SparkSession, queries: Iterable[Sequence[float]]) -> DataFrame:
    """Materialize a query batch as a tiny DataFrame (broadcast side of
    the scoring join). Mirrors ``QueryBatch`` (src/vec.rs:320-336) with
    per-query inverse norms hoisted driver-side."""
    rows = [
        (i, [float(x) for x in q], inv_norm_of(q)) for i, q in enumerate(queries)
    ]
    return spark.createDataFrame(rows, _QUERY_SCHEMA)


# --- the one scoring-and-ranking path ----------------------------------
#
# Every vector search entry point (plan API, serving, LSH/IVF/PQ/binary
# ANN, the pandas matmul merge) ranks through :func:`rank_topk`, and
# every broadcast-queries × store scoring goes through
# :func:`score_pairs`. The ranking rule is the reference's: direction
# from METRICS (src/vec.rs:92-98), NaN scores dropped
# (src/vec_compute.rs:236-239) — NULL with them, since a NULL score
# would sort first under ascending order — and ties broken on id
# ascending so results are reproducible.


def ranks_ascending(metric: str, direction: str | None = None) -> bool:
    """True when smaller scores rank first. ``direction`` ("min" or
    "max") overrides the metric's own (the plan's take_min/take_max);
    otherwise it comes from :data:`METRICS`. The only place the
    direction rule lives."""
    d = direction or METRICS.get(metric)
    if d not in ("min", "max"):
        raise ValueError(f"unknown metric {metric!r}; expected one of {sorted(METRICS)}")
    return d == "min"


def _valid_score(score_col: str) -> Column:
    # isnan(NULL) is false, so NULL needs its own test
    return F.col(score_col).isNotNull() & ~F.isnan(F.col(score_col))


def score_pairs(
    candidates: DataFrame,
    queries: DataFrame,
    metric: str,
    vec_col: str,
    qvec_col: str = "qvec",
) -> DataFrame:
    """Every candidate row crossed with every query row (the query
    batch broadcasts — it is the small side) plus a ``score`` column
    from :func:`score_expr`. Inverse norms are the stored ones: the
    candidates' :data:`INV_NORM_COL` when present, the queries'
    ``q_inv_norm`` column (as :func:`queries_df` builds it), each
    computed in place when absent. NULL/NaN scores are dropped here,
    so score filters and survivor counts downstream see valid scores
    only. All columns of both sides are carried through."""
    if "q_inv_norm" not in queries.columns:
        queries = queries.withColumn("q_inv_norm", inv_norm_expr(qvec_col))
    inv = INV_NORM_COL if INV_NORM_COL in candidates.columns else None
    scored = candidates.crossJoin(F.broadcast(queries)).withColumn(
        "score",
        score_expr(vec_col, qvec_col, metric, inv_norm_col=inv,
                   q_inv_norm=F.col("q_inv_norm")),
    )
    return scored.filter(_valid_score("score"))


def rank_topk(
    scored: DataFrame,
    k: int | None,
    metric: str,
    id_col: str,
    query_col: str | None = None,
    score_col: str = "score",
    direction: str | None = None,
) -> DataFrame:
    """Top-``k`` of an already-scored frame by the engine's one ranking
    rule: NULL/NaN scores dropped, direction from :func:`ranks_ascending`,
    ties on ``id_col`` ascending. With ``query_col=None`` the ranking is
    global — ``ORDER BY … LIMIT k``, planned as TakeOrderedAndProject
    (per-partition bounded heaps + a driver merge, the distributed
    TopKCollector of src/vec_compute.rs:77-294); ``k=None`` keeps every
    row, sorted. Otherwise each ``query_col`` group keeps its own top-k
    through :func:`per_query_topk`. All input columns are carried
    through."""
    ascending = ranks_ascending(metric, direction)
    valid = scored.filter(_valid_score(score_col))
    if query_col is not None:
        return per_query_topk(valid, k, query_col, score_col, id_col, ascending)
    first = F.col(score_col).asc_nulls_last() if ascending else F.col(score_col).desc()
    out = valid.orderBy(first, F.col(id_col).asc())
    return out if k is None else out.limit(k)


def per_query_topk(
    scored: DataFrame,
    k: int,
    query_col: str = "query_id",
    score_col: str = "score",
    id_col: str = "vec_id",
    ascending: bool = False,
) -> DataFrame:
    """EXACT per-query top-k over an already-scored frame whose shuffle
    input is BOUNDED — the scale-safe device for batch/serving search.

    One plain rank window: Spark plans ``row_number() <= k`` as
    **WindowGroupLimit Partial/Final** (SPARK-37099) for k up to
    :data:`WINDOW_GROUP_LIMIT_CONF` (default 1000). Each map task
    pre-limits its partition to k rows per query BEFORE the exchange,
    so the shuffle and the final per-query window see at most
    partitions × |queries| × k rows — never the scored corpus. Above
    the threshold that bound is silently lost, so a larger ``k``
    raises. The plan shape is locked by
    tests/test_plans.py::test_per_query_topk_shuffle_input_is_bounded.

    Spark's own NULL/NaN window semantics are kept as they are: a NULL
    query key is its own group, NaN sorts as the largest double, NULL
    scores sort last under DESC / first under ASC — identical to the
    naive window, asserted in tests/test_similarity.py. Callers that
    rank vector scores go through :func:`rank_topk`, which drops
    NULL/NaN scores first.

    Ordering: ``score_col`` desc (asc when ``ascending``), then
    ``id_col`` asc. All input columns are carried through."""
    check_per_query_k(scored.sparkSession, k)
    direction = F.col(score_col).asc() if ascending else F.col(score_col).desc()
    w = Window.partitionBy(query_col).orderBy(direction, F.col(id_col).asc())
    return (
        scored.withColumn("__pqk_rn", F.row_number().over(w))
        .filter(F.col("__pqk_rn") <= k)
        .drop("__pqk_rn")
    )


def check_per_query_k(spark: SparkSession, k: int) -> None:
    """Raise unless 1 <= ``k`` <= the session's WindowGroupLimit
    threshold; above it a per-query top-k would shuffle every scored
    row."""
    if k is None or k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    limit = int(spark.conf.get(WINDOW_GROUP_LIMIT_CONF))
    if k > limit:
        raise ValueError(
            f"k={k} exceeds {WINDOW_GROUP_LIMIT_CONF}={limit}: above it Spark no "
            "longer pre-limits each query's rows before the shuffle; raise the "
            "conf or lower k"
        )
