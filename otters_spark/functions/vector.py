"""Vector scoring as native Catalyst expressions.

Replaces the reference's SIMD scoring kernels (otters
src/vec_compute.rs:9-54) with JVM-side higher-order functions
(``zip_with`` + ``aggregate``), so the hot loop never crosses into
Python. They are not compiled by whole-stage codegen: Spark evaluates
higher-order functions through ``CodegenFallback``, at about 4.7
core-µs per 64-d pair on a cached 200k-row store (a 1.1 µs scan floor
included), so the number of kernel evaluations per (row, query) pair
is what a plan shape costs. All accumulation is in
float64 (the reference accumulates f32; we compare against the DuckDB
oracle at 1e-5, the reference's own test tolerance,
tests/vec_store_tests.rs:158,586).

Semantics preserved:

* dot product: plain sum of elementwise products (src/vec_compute.rs:9-22)
* cosine: ``dot * inv_norm_a * inv_norm_b`` with *precomputed* inverse
  norms; a zero vector stores inv_norm 0.0, so its cosine vs anything is
  0.0, never NaN (src/vec.rs:365-368, src/vec_compute.rs:25-32)
* euclidean: **squared** distance, never sqrt'd (src/vec_compute.rs:35-54)

A kernel's query operand is a column name, a Column, or a vector given
as a Python sequence, which is inlined as one ``array(…D)`` literal
(:func:`vector_literal_sql`): a known query is a constant in the plan,
never a relation to join. Every vector search entry point scores and
ranks through the one statement form at the end of this module
(:func:`scored_sql`, :func:`topk_sql`, run by :func:`run_sql`): the
plan API and the serving loop render one statement per query batch,
and the DataFrame entry points wrap the same texts
(:func:`score_queries`, :func:`rank_topk`); :func:`score_pairs` scores
queries that are themselves a DataFrame with the same kernel.
"""

from __future__ import annotations

import math
import numbers
import uuid
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..expr import quote_ident, sql_literal

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
    "vector_literal_sql",
    "ranks_ascending",
    "valid_score",
    "score_queries",
    "score_pairs",
    "rank_topk",
    "SCORE_CMPS",
    "scored_sql",
    "topk_sql",
    "run_sql",
    "check_per_query_k",
]

#: the store's precomputed inverse-norm column (written at build by
#: ``otters_spark.store``; read here by :func:`score_queries` and
#: :func:`score_pairs`)
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


def _sql(x) -> str:
    """SQL text of a kernel operand: a column name, a vector (any
    sequence of numbers) as an inline literal, a number, or a Column,
    embedded through the SQL text Spark prints for it — so a Column
    operand must be one that prints as SQL (a column reference,
    arithmetic, an ``F.expr``)."""
    if isinstance(x, Column):
        return f"({x._jc.toString()})"
    if isinstance(x, str):
        return x if "`" in x else "`" + x.replace(".", "`.`") + "`"
    if isinstance(x, numbers.Real):
        return sql_literal(x, "float64")
    return vector_literal_sql(x)


def vector_literal_sql(vec: Sequence[float] | None) -> str:
    """SQL text of a vector as an ``array<double>`` literal, bit-exact
    for every element (NULL, NaN and ±∞ included)."""
    body = "NULL" if vec is None else "array(" + ", ".join(
        sql_literal(x, "float64") for x in vec) + ")"
    return f"CAST({body} AS ARRAY<DOUBLE>)"


# --- the kernels, rendered once as SQL text -------------------------------
#
# Each kernel is one SQL expression over operand texts (see _sql), so a
# scoring expression costs one parse instead of a py4j round-trip per
# lambda, cast and operator; the public *_expr functions wrap it in
# F.expr. Lanes are cast to double, so every metric accumulates in
# float64 whatever the stored element type.

_X, _Y = "CAST(x AS DOUBLE)", "CAST(y AS DOUBLE)"


def _lane_sum(a: str, b: str, lane: str, zero: str = "0.0D") -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> {lane}), {zero}, (acc, x) -> acc + x)"


def _guarded_count(a: str, b: str, cond: str) -> str:
    """Count of lanes where ``cond`` holds, as int64 — but a lane where
    either side is NULL or NaN is NULL, so a ragged (zip_with
    NULL-padded) or null-element input propagates NULL through the sum
    instead of silently counting the padded lanes (SQL 3VL would send
    the NULL comparison to the ELSE branch 0), and a NaN coordinate
    gives a NULL score, which ranking drops, as the arithmetic metrics'
    NaN scores are dropped. Shared by hamming and jaccard; manhattan
    gets the same behavior from arithmetic NULL/NaN propagation."""
    lane = (
        f"CASE WHEN x IS NULL OR y IS NULL OR isnan({_X}) OR isnan({_Y}) "
        f"THEN CAST(NULL AS BIGINT) ELSE CAST(CASE WHEN {cond} THEN 1 ELSE 0 END AS BIGINT) END"
    )
    return _lane_sum(a, b, lane, "0L")


def _inv_norm_sql(v: str) -> str:
    norm = f"sqrt(aggregate(transform({v}, x -> {_X} * {_X}), 0.0D, (acc, x) -> acc + x))"
    return f"CASE WHEN {norm} = 0.0D THEN 0.0D ELSE 1.0D / {norm} END"


def _kernel_sql(metric: str, a: str, b: str, inv_a: str | None = None,
                inv_b: str | None = None) -> str:
    """The one renderer of score arithmetic: ``metric`` of the operand
    texts ``a`` (store side) and ``b`` (query side). Cosine multiplies
    the dot product by the given inverse-norm texts, computing a missing
    one in place."""
    if metric == "dot":
        return _lane_sum(a, b, f"{_X} * {_Y}")
    if metric == "cosine":
        inv_a = inv_a or _inv_norm_sql(a)
        inv_b = inv_b or _inv_norm_sql(b)
        return f"{_kernel_sql('dot', a, b)} * {inv_a} * {inv_b}"
    if metric == "euclidean":
        return _lane_sum(a, b, f"({_X} - {_Y}) * ({_X} - {_Y})")
    if metric == "manhattan":
        return _lane_sum(a, b, f"abs({_X} - {_Y})")
    if metric == "hamming":
        return f"CAST({_guarded_count(a, b, 'x != y')} AS DOUBLE)"
    if metric == "jaccard":
        inter = _guarded_count(a, b, "(x != 0) AND (y != 0)")
        union = _guarded_count(a, b, "(x != 0) OR (y != 0)")
        return (f"CASE WHEN {union} = 0 THEN 0.0D "
                f"ELSE CAST({inter} AS DOUBLE) / CAST({union} AS DOUBLE) END")
    raise ValueError(f"unknown metric {metric!r}; expected one of {sorted(METRICS)}")


def dot_expr(a, b) -> Column:
    """Dot product of two vector operands, accumulated in float64
    (reference: src/vec_compute.rs:9-22)."""
    return F.expr(_kernel_sql("dot", _sql(a), _sql(b)))


def inv_norm_expr(v) -> Column:
    """Inverse L2 norm; 0.0 for the zero vector (src/vec.rs:365-368)."""
    return F.expr(_inv_norm_sql(_sql(v)))


def inv_norm_of(vec: Sequence[float]) -> float:
    """Driver-side inverse norm for a query vector (hoisted once per
    batch, src/vec.rs:124-137,390-397)."""
    s = math.fsum(float(x) * float(x) for x in vec)
    n = math.sqrt(s)
    return 0.0 if n == 0.0 else 1.0 / n


def cosine_expr(a, b, inv_norm_a, inv_norm_b) -> Column:
    """Cosine similarity from precomputed inverse norms (a column name,
    a Column or a float each; src/vec_compute.rs:25-32). Zero-norm
    vectors score 0.0 by construction (inv_norm stored as 0.0)."""
    return F.expr(_kernel_sql("cosine", _sql(a), _sql(b), _sql(inv_norm_a), _sql(inv_norm_b)))


def euclidean_sq_expr(a, b) -> Column:
    """Squared euclidean distance — squared on purpose, matching the
    reference exactly (src/vec_compute.rs:35-54; test
    tests/vec_store_tests.rs:636-656)."""
    return F.expr(_kernel_sql("euclidean", _sql(a), _sql(b)))


def manhattan_expr(a, b) -> Column:
    """L1 (Manhattan) distance — the reference's roadmap metric
    (README.md:209). Like the other kernels: zip_with + aggregate in
    float64, evaluated through CodegenFallback (see the module
    docstring)."""
    return F.expr(_kernel_sql("manhattan", _sql(a), _sql(b)))


def hamming_expr(a, b) -> Column:
    """Hamming distance — the count of positions where the two vectors
    differ (reference roadmap metric, README.md:209). Meaningful for
    binary / discretized vectors; defined on any numeric arrays as an
    exact inequality count, accumulated as int64 then cast to double
    so every metric scores as one column type.

    Length-mismatched (ragged) inputs score NULL, not a silent
    undercount — see :func:`_guarded_count`. VecStore's dim
    validation prevents ragged rows at ingest; the guard covers direct
    users of the public function, and ranking drops NULL scores
    alongside NaN so a guarded row can never occupy a top-k slot."""
    return F.expr(_kernel_sql("hamming", _sql(a), _sql(b)))


def jaccard_expr(a, b) -> Column:
    """Jaccard similarity over the NONZERO lanes of two equal-length
    vectors (reference roadmap metric, README.md:209): treating each
    vector as the set of coordinates it activates,
    ``|both nonzero| / |either nonzero|``; two all-zero vectors score
    0.0, never NaN (the zero-vector convention cosine already uses).

    Length-mismatched (ragged) inputs score NULL rather than silently
    miscounting the zip_with NULL-padded lanes — the shared
    :func:`_guarded_count` guard."""
    return F.expr(_kernel_sql("jaccard", _sql(a), _sql(b)))


def _literal_inv_norm(vec: Sequence[float] | None) -> float:
    # a NULL vector or element makes every score NULL whatever this is
    return 0.0 if vec is None or any(x is None for x in vec) else inv_norm_of(vec)


def score_expr(vec_col, q_col, metric: str, inv_norm_col=None, q_inv_norm=None) -> Column:
    """Score expression for one (store-vector, query-vector) pair.

    ``q_col`` is a column name, a Column, or the query vector itself
    (inlined as a literal). ``inv_norm_col`` is the store's precomputed
    inverse-norm column; ``q_inv_norm`` the query's (Column or float).
    Cosine computes a missing one in place — a literal query's on the
    driver with :func:`inv_norm_of`, hoisted once per query. Precomputing
    them is the engine's analog of the reference's ingest-time norm
    precompute (src/vec.rs:365-368).
    """
    if q_inv_norm is None and metric == "cosine" and not isinstance(q_col, (str, Column)):
        q_inv_norm = _literal_inv_norm(q_col)
    return F.expr(_kernel_sql(
        metric, _sql(vec_col), _sql(q_col),
        None if inv_norm_col is None else _sql(inv_norm_col),
        None if q_inv_norm is None else _sql(q_inv_norm),
    ))


# --- the one scoring-and-ranking path ----------------------------------
#
# Every vector search entry point (plan API, serving, LSH/IVF/PQ/binary
# ANN, MaxSim, the suite) ranks by one rule: direction
# from METRICS (src/vec.rs:92-98), NaN scores dropped (src/vec_compute.rs:
# 236-239) — NULL with them — and ties broken on id ascending so results
# are reproducible. The rule exists as one SQL text, :func:`topk_sql`,
# over the scored rows of :func:`scored_sql`, both run by :func:`run_sql`
# (the reference's one TopKCollector, src/vec_compute.rs:77-294). The
# plan API and the serving loop render one statement per query batch;
# :func:`score_queries` and :func:`rank_topk` run the same texts over a
# DataFrame. A kernel is evaluated inside a one-element ``inline`` (here
# and in :func:`score_pairs`), so the validity filter above it cannot be
# pushed into a second copy of the kernel: invalid scores are dropped
# before the top-k, the kernel runs once per (row, query) pair, and
# ``ORDER BY … LIMIT k`` is the plan root (one stage) when a statement
# is collected.


def ranks_ascending(metric: str, direction: str | None = None) -> bool:
    """True when smaller scores rank first. ``direction`` ("min" or
    "max") overrides the metric's own (the plan's take_min/take_max);
    otherwise it comes from :data:`METRICS`. The only place the
    direction rule lives."""
    d = direction or METRICS.get(metric)
    if d not in ("min", "max"):
        raise ValueError(f"unknown metric {metric!r}; expected one of {sorted(METRICS)}")
    return d == "min"


def _rank_key_sql(score: str) -> str:
    # NaN ranks as NULL: last in either direction
    return f"nanvl({score}, CAST(NULL AS DOUBLE))"


def _valid_sql(score: str) -> str:
    return f"({_rank_key_sql(score)} IS NOT NULL)"


def valid_score(score_col: str) -> Column:
    """True for a real score: not NULL, not NaN (±∞ are real scores)."""
    return F.expr(_valid_sql(quote_ident(score_col)))


#: score-filter comparisons (the plan's ``vec_filter`` cmp names) as SQL
SCORE_CMPS = {"lt": "<", "lte": "<=", "gt": ">", "gte": ">=", "eq": "="}

#: the relation placeholder of the statement texts, bound by :func:`run_sql`
BASE = "{base}"


def _batch_sql(queries: Sequence[Sequence[float] | None], ids: Sequence[str],
               query_col: str) -> str:
    """Several known queries as one literal array of (id, vector,
    inverse norm) structs exploded by ``inline`` (the reference's
    ``QueryBatch``, src/vec.rs:320-336): ``ids`` are SQL literal texts,
    inverse norms are hoisted on the driver."""
    structs = ", ".join(
        f"named_struct({sql_literal(query_col)}, {qid}, '__qvec', {vector_literal_sql(q)}, "
        f"'__q_inv_norm', {sql_literal(_literal_inv_norm(q), 'float64')})"
        for qid, q in zip(ids, queries)
    )
    return f"inline(array({structs}))"


def scored_sql(
    queries: Sequence[Sequence[float] | None],
    metric: str,
    vec_col: str,
    columns: Sequence[str],
    inv_norm_col: str | None = None,
    where: str | None = None,
    score_filter: tuple[float, str] | None = None,
    query_ids: Sequence[str] | None = None,
    query_col: str = "query_id",
) -> str:
    """SQL text of the rows of :data:`BASE` that satisfy ``where`` (SQL
    text over its columns), scored against each of ``queries``:
    ``columns`` of the row, then ``query_col`` and ``score``. One query
    is a literal and gets ``query_col`` only when ``query_ids`` (SQL
    literal texts) is given, carried in the score's struct: that
    ``inline`` is interpreted (the kernel is not code-generated), so a
    new id compiles no new class, where a projected id literal is
    inlined into generated Java. Several are one literal array exploded
    by ``inline``, ids 0..n-1 by default. The kernel runs once per (row,
    query) pair, inside a one-element ``inline`` (see the comment
    above). ``score_filter`` (threshold, cmp) NULLs a score that fails
    it, so ranking drops it. Invalid scores are kept: :func:`topk_sql`
    drops them."""
    vec = "b." + quote_ident(vec_col)
    inv = None if inv_norm_col is None else "b." + quote_ident(inv_norm_col)
    cols = ["b." + quote_ident(c) for c in columns]
    views, carried = "", ""
    if len(queries) == 1:
        q = queries[0]
        q_inv = _literal_inv_norm(q) if metric == "cosine" else None
        kernel = _kernel_sql(metric, vec, vector_literal_sql(q), inv,
                             None if q_inv is None else sql_literal(q_inv, "float64"))
        if query_ids is not None:
            carried = f", {sql_literal(query_col)}, {query_ids[0]}"
            cols.append("s." + quote_ident(query_col))
    else:
        ids = query_ids or [str(i) for i in range(len(queries))]
        views = f" LATERAL VIEW {_batch_sql(queries, ids, query_col)} q"
        kernel = _kernel_sql(metric, vec, "q.__qvec", inv, "q.__q_inv_norm")
        cols.append("q." + quote_ident(query_col))
    score = "s.score"
    if score_filter is not None:
        thr, cmp = score_filter
        score = (f"CASE WHEN s.score {SCORE_CMPS[cmp]} {sql_literal(float(thr), 'float64')} "
                 "THEN s.score END")
    rows = BASE if where is None else f"(SELECT * FROM {BASE} WHERE {where})"
    return (
        f"SELECT {', '.join(cols)}, {score} AS score FROM {rows} b{views} "
        f"LATERAL VIEW inline(array(named_struct('score', {kernel}{carried}))) s"
    )


def topk_sql(
    scored: str,
    k: int | None,
    metric: str,
    id_col: str,
    columns: Sequence[str],
    direction: str | None = None,
    query_col: str | None = None,
) -> str:
    """SQL text of the top-``k`` rows of the ``scored`` text by the one
    ranking rule, as ``columns``: rows with an invalid score are dropped
    first, then ``ORDER BY … LIMIT k`` (``k=None`` keeps every valid row,
    sorted), or with ``query_col`` each query's own top-k through a
    row-number window, planned as WindowGroupLimit."""
    asc = "ASC" if ranks_ascending(metric, direction) else "DESC"
    order = f"{_rank_key_sql('score')} {asc} NULLS LAST, {quote_ident(id_col)} ASC"
    out = ", ".join(map(quote_ident, columns))
    valid = f"({scored}) WHERE {_valid_sql('score')}"
    if query_col is None:
        return f"SELECT {out} FROM {valid} ORDER BY {order}" + (
            "" if k is None else f" LIMIT {int(k)}")
    return (
        f"SELECT {out} FROM (SELECT *, row_number() OVER (PARTITION BY "
        f"{quote_ident(query_col)} ORDER BY {order}) AS __pqk_rn FROM {valid}) "
        f"WHERE __pqk_rn <= {int(k)}"
    )


def run_sql(base: DataFrame, text: str) -> DataFrame:
    """The statement ``text`` over ``base`` (the relation :data:`BASE`
    names), on ``base``'s own session: parsed and analysed once, with
    ``base`` bound as a temporary view for that one analysis. Not
    ``spark.sql(text, base=df)``: its formatter drops the view through
    ``Catalog.dropTempView``, which also uncaches every cached plan equal
    to the view's, so a cached store would lose its cache on every
    query; the session catalog's own drop leaves caches alone. Literals
    never hold a raw brace (:func:`~otters_spark.expr.sql_literal`), so
    only the placeholder is replaced."""
    spark = base.sparkSession
    name = f"__otters_base_{uuid.uuid4().hex}"
    base.createOrReplaceTempView(name)
    try:
        return spark.sql(text.replace(BASE, name))
    finally:
        spark._jsparkSession.sessionState().catalog().dropTempView(name)


def score_queries(
    candidates: DataFrame,
    queries: Sequence[Sequence[float] | None],
    metric: str,
    vec_col: str,
    query_ids: Sequence | None = None,
    query_col: str = "query_id",
) -> DataFrame:
    """Every candidate row scored against each of ``queries``, given as
    vectors: :func:`scored_sql` over ``candidates``, so the candidates'
    columns plus ``query_col`` (``query_ids``, literal values, default
    0..n-1) and ``score``, each replacing any candidate column of that
    name. One query gets ``query_col`` only when ``query_ids`` is given.
    The kernel runs once per (row, query) pair, and a filter on
    ``query_col`` placed on the result lands below it, so only the pairs
    it keeps are scored. Inverse norms are the candidates' stored
    :data:`INV_NORM_COL` when present and each query's, hoisted on the
    driver. Invalid scores are kept; :func:`rank_topk` drops them."""
    if not queries:
        raise ValueError("score_queries needs at least one query")
    replaced = {"score", query_col} if len(queries) > 1 or query_ids is not None else {"score"}
    return run_sql(candidates, scored_sql(
        queries, metric, vec_col, [c for c in candidates.columns if c not in replaced],
        inv_norm_col=INV_NORM_COL if INV_NORM_COL in candidates.columns else None,
        query_ids=None if query_ids is None else [sql_literal(i) for i in query_ids],
        query_col=query_col,
    ))


def score_pairs(
    candidates: DataFrame,
    queries: DataFrame,
    metric: str,
    vec_col: str,
    qvec_col: str = "qvec",
) -> DataFrame:
    """Every candidate row crossed with every query row (the query
    batch broadcasts — it is the small side) plus a ``score`` column
    from :func:`score_expr`, evaluated inside a one-element ``inline``
    like :func:`scored_sql`'s kernel: the form for queries that are
    themselves a DataFrame (a stream, or rows of a table); known vectors
    go through :func:`score_queries`. Inverse norms are the stored ones:
    the candidates' :data:`INV_NORM_COL` and the queries' ``q_inv_norm``
    column when present, each computed in place when absent. Invalid
    (NULL/NaN) scores are kept: :func:`rank_topk` drops them, and a
    caller that does not rank filters on :func:`valid_score`. All
    columns of both sides are carried through."""
    if "q_inv_norm" not in queries.columns:
        queries = queries.withColumn("q_inv_norm", inv_norm_expr(qvec_col))
    inv = INV_NORM_COL if INV_NORM_COL in candidates.columns else None
    score = score_expr(vec_col, qvec_col, metric, inv_norm_col=inv,
                       q_inv_norm=F.col("q_inv_norm"))
    return candidates.crossJoin(F.broadcast(queries)).drop("score").select(
        "*", F.inline(F.array(F.struct(score.alias("score")))))


def rank_topk(
    scored: DataFrame,
    k: int | None,
    metric: str,
    id_col: str,
    query_col: str | None = None,
) -> DataFrame:
    """Top-``k`` of an already-scored frame (its ``score`` column) by the
    one ranking rule: :func:`topk_sql` over ``scored``, so invalid
    scores are dropped first and fewer than ``k`` rows come back when
    fewer are valid. With ``query_col=None`` the ranking is global —
    ``ORDER BY … LIMIT k``, planned as TakeOrderedAndProject
    (per-partition bounded heaps + a merge, the distributed
    TopKCollector of src/vec_compute.rs:77-294); ``k=None`` keeps every
    valid row, sorted. Otherwise each ``query_col`` group (a NULL key
    is a group too) keeps its own top-k through a row-number window,
    planned as WindowGroupLimit Partial/Final (SPARK-37099): each map
    task pre-limits its partition to k rows per query before the
    exchange, so the shuffle sees at most partitions × |queries| × k
    rows, never the scored corpus — for ``k`` up to
    :data:`WINDOW_GROUP_LIMIT_CONF`, above which it raises (locked by
    tests/test_plans.py::test_per_query_topk_shuffle_input_is_bounded).
    All input columns are carried through."""
    if query_col is not None:
        check_per_query_k(scored.sparkSession, k)
    return run_sql(scored, topk_sql(
        f"SELECT * FROM {BASE}", k, metric, id_col, scored.columns, query_col=query_col))


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
