"""Fluent query plans — the reference's builder API over one Catalyst plan.

Reference lifecycle (SURVEY.md §3):
``store.query(qs, metric).meta_filter(expr).vec_filter(t, cmp).take(k).collect()``
(otters src/vec.rs:56-311, src/meta.rs:569-829).

Spark realization is ONE SQL statement over the store's DataFrame
(``functions/vector.scored_sql`` + ``topk_sql``, run by ``run_sql`` with
the DataFrame bound as ``{base}``), parsed and analysed once::

    SELECT id, score, <meta cols>                         -- result columns
    FROM (SELECT b.id, b.<meta>, CASE WHEN s.score CMP t  -- ← vec_filter
                                      THEN s.score END AS score
          FROM (SELECT * FROM {base} WHERE meta_pred) b   -- ← pushed into the scan
          LATERAL VIEW inline(array(named_struct(         -- ← kernel once per row,
            'score', kernel(vec, array(…D))))) s)          --   the query a literal
    WHERE nanvl(score, NULL) IS NOT NULL                  -- ┐ NaN ranks as NULL and
    ORDER BY nanvl(score, NULL) DESC NULLS LAST, id       -- │ is dropped first; the
    LIMIT k                                               -- ┘ plan root: one stage

The query is a literal, so there is no join and no query relation, and
the kernel runs once per row; several queries are one literal array
exploded over the rows (``inline``), the kernel once per pair. The
kernel sits inside a one-element ``inline``, so Catalyst cannot push
the validity filter into a second copy of it: the filter stays before
the top-k, and collecting the statement runs ``TakeOrderedAndProject``
as the plan root, in one stage with no shuffle. Row masks (arbitrary
Columns) filter the store's DataFrame before it is bound.
``collect_with_stats`` collects the same statement and reads its
counts from the executed plan's metrics. The reference's hand-built
machinery maps 1:1 onto planner features:
chunk pruning = row-group pruning (src/meta.rs:646-660), rayon chunk
parallelism = task parallelism (src/meta.rs:678-709), TopKCollector's
adaptive threshold = per-partition bounded priority queue in
``TakeOrderedAndProject`` (src/vec_compute.rs:95-208), and result
materialization is a no-op because metadata columns ride along
(src/meta.rs:722-828).

Builder methods never raise; errors surface at ``collect()``/``df()``
(deferred-error model, src/vec.rs:63-90, CHANGELOG.md:6-9).

Determinism note: the reference's top-k tie order is unstable
(sort_unstable, src/meta.rs:702-705); we add an id tie-break so results
are reproducible and oracle-comparable.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame

from .errors import (
    DimensionMismatchError,
    EmptyQueryError,
    MissingMetricError,
    OttersError,
    PlanError,
)
from .expr import Expr, compile_expr
from .functions.vector import (
    METRICS, SCORE_CMPS, run_sql, scored_sql, topk_sql,
)
from .store import INV_NORM_COL, MetaStore, VecStore

__all__ = ["VecQueryPlan", "MetaQueryPlan", "QueryStats"]


@dataclass
class QueryStats:
    """Analog of the reference's ``MetaQueryStats`` (src/meta.rs:832-842),
    re-expressed for Spark's execution model. ``vectors_compared`` maps
    to candidate rows entering scoring × queries; ``rows_after_filters``
    to pairs with a valid (non-NULL, non-NaN) score that pass the score
    filter.

    The reference counts pruned vs evaluated CHUNKS; Spark's chunk
    analog for a saved store is the Parquet ROW GROUP. When the store's
    footers are readable, ``evaluated_chunks``/``pruned_chunks`` come
    from evaluating the plan's CNF against each row group's min/max
    zonemaps (hive partition values included as width-zero zonemaps) —
    the same prune decision the Parquet reader makes from the pushed
    filters, at the reference's granularity (src/meta_compute.rs:32-132).
    Without footers (object stores), the coarser fallback is the scan's
    ``numFiles`` metric vs total store files. Both fields are None for
    in-memory stores (no chunks to prune)."""

    candidate_rows: int
    vectors_compared: int
    rows_after_filters: int
    result_rows: int
    elapsed_sec: float
    evaluated_chunks: int | None = None
    pruned_chunks: int | None = None
    # Reference phase split (prune/score/merge, src/meta.rs:838-841),
    # recovered from the executed plan's per-operator SQLMetrics:
    # prune = scan time + metadata/footer time, score = whole-stage
    # codegen pipeline duration (the scoring expressions), merge =
    # shuffle write + fetch wait + sort time (the top-k/exchange side).
    # These are SUMMED TASK TIMES across parallel tasks — on local[32]
    # a phase can legitimately exceed ``elapsed_sec`` wall clock — the
    # honest analog of the reference's sequential per-phase stopwatch
    # on a pipelined distributed executor. None when plan internals
    # are unavailable.
    prune_sec: float | None = None
    score_sec: float | None = None
    merge_sec: float | None = None


def _executed_plan_nodes(df: DataFrame):
    """Yield each DISTINCT operator of the EXECUTED physical plan
    exactly once (call after an action so metrics are populated).
    Shared traversal for every metric walker so the guards stay in one
    place: AQE's final plan is unwrapped, QueryStageExec wrappers are
    entered via ``.plan()``, ``Reused*`` nodes are skipped (their
    metrics delegate to an original reached through its own subtree —
    visiting both double-counts), and nodes are deduped by plan-node
    id. Raises whatever py4j raises — callers decide the fallback."""
    seen: set[int] = set()

    def walk(node):
        name = node.getClass().getSimpleName()
        if name.startswith("Reused"):
            return
        if name.endswith("QueryStageExec"):
            yield from walk(node.plan())
            return
        nid = int(node.id())
        if nid in seen:
            return
        seen.add(nid)
        yield node
        children = node.children()
        for i in range(children.size()):
            yield from walk(children.apply(i))

    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    yield from walk(plan)


def _scored_counts(df: DataFrame) -> tuple[int, int]:
    """(pairs scored, pairs with a valid score) of an executed vector
    statement, from its plan's SQLMetrics: the rows out of the kernel's
    ``Generate inline(named_struct(score, …))`` and out of the
    ``nanvl(…) IS NOT NULL`` filter. Nodes are matched by their own
    one-line description (``toString`` prints the whole subtree)."""
    pairs = valid = 0
    for node in _executed_plan_nodes(df):
        text = node.simpleString(0)
        if text.startswith("Generate inline(array(named_struct(score,"):
            pairs += int(node.metrics().apply("numOutputRows").value())
        elif text.startswith("Filter ") and "isnotnull(nanvl(" in text:
            valid += int(node.metrics().apply("numOutputRows").value())
    return pairs, valid


def _scan_files_read(df: DataFrame) -> int | None:
    """Best-effort sum of the ``numFiles`` SQL metric over scan leaves
    of the EXECUTED plan. Returns None when no file scan exists
    (in-memory relations) or plan internals are unavailable."""
    total, found = 0, False
    try:
        for node in _executed_plan_nodes(df):
            metrics = node.metrics()
            if metrics.contains("numFiles"):
                total += int(metrics.apply("numFiles").value())
                found = True
        return total if found else None
    except Exception:
        return None


# (metric name -> (phase, unit)) over the executed plan's SQLMetrics.
# Units follow Spark's SQLMetrics factories: createTimingMetric -> ms,
# createNanoTimingMetric -> ns ("duration" on WholeStageCodegen,
# "shuffle write time" on exchanges).
_PHASE_METRICS = {
    "scanTime": ("prune", 1e-3),       # "scan time" (ms)
    "metadataTime": ("prune", 1e-3),   # "metadata time" (footers, ms)
    # WholeStageCodegen "duration" is a MILLISECOND timing metric
    # (verified by live probe against Spark 4.1.2: pipelineTime=572
    # for a 1.6s/4-thread pure-codegen job, alongside
    # shuffleWriteTime=4.0e7 ns for the same job's 40ms write)
    "pipelineTime": ("score", 1e-3),
    "aggTime": ("score", 1e-3),        # "time in aggregation build" (ms)
    "shuffleWriteTime": ("merge", 1e-9),  # ns
    "fetchWaitTime": ("merge", 1e-3),
    "sortTime": ("merge", 1e-3),
}


def _phase_timings(df: DataFrame) -> dict[str, float] | None:
    """Recover the reference's prune/score/merge phase split
    (src/meta.rs:838-841) from the EXECUTED plan's per-operator
    SQLMetrics (call after an action). No extra job, no listener:
    the accumulators are already folded into the plan nodes. Values
    are summed task seconds per phase; None if plan internals are
    unreachable."""
    acc = {"prune": 0.0, "score": 0.0, "merge": 0.0}
    try:
        for node in _executed_plan_nodes(df):
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                phase_unit = _PHASE_METRICS.get(kv._1())
                if phase_unit is not None:
                    phase, unit = phase_unit
                    acc[phase] += max(int(kv._2().value()), 0) * unit
        return acc
    except Exception:
        return None


# zonemap satisfiability: could ANY row in a chunk with stats
# [mn, mx] satisfy ``col OP v``? NULL rows never satisfy a comparison,
# so they cannot un-prune a chunk; string ops (contains/...) and
# unknown types fall through to "possibly matches" (never prune on a
# predicate we cannot reason about — pruning must be sound).
_ZONEMAP_CAN_MATCH = {
    "eq": lambda mn, mx, v: mn <= v <= mx,
    "neq": lambda mn, mx, v: not (mn == v == mx),
    "gt": lambda mn, mx, v: mx > v,
    "gte": lambda mn, mx, v: mx >= v,
    "lt": lambda mn, mx, v: mn < v,
    "lte": lambda mn, mx, v: mn <= v,
    "starts_with": lambda mn, mx, v: str(mn)[: len(v)] <= v <= str(mx)[: len(v)],
}


def _leaf_can_match(leaf, stats: dict) -> bool:
    s = stats.get(leaf.column)
    if s is None:
        return True
    fn = _ZONEMAP_CAN_MATCH.get(leaf.op)
    if fn is None:
        return True
    mn, mx = s
    v = leaf.value
    if type(mn) is not type(v):
        # hive partition values arrive as raw strings; anything else
        # cross-typed is left unpruned (sound)
        try:
            mn, mx = type(v)(mn), type(v)(mx)
        except (TypeError, ValueError):
            return True
    try:
        return bool(fn(mn, mx, v))
    except TypeError:
        return True


def _rowgroup_can_match(cnf: list, stats: dict) -> bool:
    """CNF over zonemaps: every AND-clause needs at least one OR-leaf
    that could match — the reference's per-chunk prune decision
    (src/meta_compute.rs:32-132) evaluated on Parquet footer stats."""
    for clause in cnf:
        if not any(_leaf_can_match(leaf, stats) for leaf in clause):
            return False
    return True


def _normalize_queries(queries: Any) -> list[list[float]] | None:
    if queries is None:
        return None
    try:
        seq = list(queries)
    except TypeError:
        return None
    if not seq:
        return []
    if all(isinstance(x, (int, float)) for x in seq):
        return [[float(x) for x in seq]]
    out = []
    for q in seq:
        out.append([float(x) for x in q])
    return out


class VecQueryPlan:
    """Pure vector search plan (src/vec.rs:56-166). ``store`` may be
    None at construction and attached later with
    :meth:`with_vector_store` (reference src/vec.rs:119); a store-less
    plan errors at collect."""

    def __init__(self, store: VecStore | None, queries: Any, metric: str | None):
        self._store = store
        self._error: OttersError | None = None
        self._metric = metric
        # malformed input (a string, mixed scalar/list batch, ...) must
        # not raise here: the builder is deferred-error end to end
        # (src/vec.rs:63-90), so coercion failures park an OttersError
        # and surface at collect()
        try:
            self._queries = _normalize_queries(queries)
        except (TypeError, ValueError):
            self._queries = None
        self._vec_filter: tuple[float, str] | None = None
        self._row_masks: list[Column] = []
        self._k: int | None = None
        self._take_dir: str | None = None
        if self._queries is None:
            self._error = EmptyQueryError("queries must be a vector or list of vectors")
        if metric is not None and metric not in METRICS:
            self._error = MissingMetricError(
                f"unknown metric {metric!r}; expected one of {sorted(METRICS)}"
            )

    # builder methods mutate only while error-free (map_ok pattern,
    # src/vec.rs:84-90)
    def _ok(self) -> bool:
        return self._error is None

    def filter(self, threshold: float, cmp: str = "gt") -> "VecQueryPlan":
        """Score filter (vec_filter): keep rows where score CMP threshold.
        A repeated call REPLACES the criterion — reference semantics
        (src/vec.rs:152 assigns ``filter_criteria = Some(...)``), not
        AND-accumulation."""
        if self._ok():
            if cmp not in SCORE_CMPS:
                self._error = PlanError(f"bad score cmp {cmp!r}; expected {sorted(SCORE_CMPS)}")
            else:
                try:
                    self._vec_filter = (float(threshold), cmp)
                except (TypeError, ValueError):
                    self._error = PlanError(
                        f"score threshold must be numeric, got {threshold!r}"
                    )
        return self

    vec_filter = filter

    def take(self, k: int | None) -> "VecQueryPlan":
        """Top-k; direction inferred from metric (Euclidean→min else max,
        src/vec.rs:92-98). ``None`` keeps all rows, sorted."""
        if self._ok():
            self._k = None if k is None else int(k)
        return self

    def take_min(self, k: int | None = None) -> "VecQueryPlan":
        if self._ok():
            self._k = None if k is None else int(k)
            self._take_dir = "min"
        return self

    def take_max(self, k: int | None = None) -> "VecQueryPlan":
        if self._ok():
            self._k = None if k is None else int(k)
            self._take_dir = "max"
        return self

    def with_vector_store(self, store: VecStore) -> "VecQueryPlan":
        """Attach (or replace) the store after construction
        (src/vec.rs:119)."""
        if self._ok():
            if isinstance(store, VecStore):
                self._store = store
            else:
                self._error = PlanError("with_vector_store expects a VecStore")
        return self

    def with_row_mask(self, mask: Column) -> "VecQueryPlan":
        """Arbitrary boolean Column pre-filter on store rows — the
        reference's ``with_row_mask`` (src/vec.rs:146), expressed as a
        predicate instead of a positional bitmask (positional masks
        don't survive distribution; a predicate pushes down)."""
        if self._ok():
            if isinstance(mask, Column):
                self._row_masks.append(mask)
            else:
                self._error = PlanError("row mask must be a pyspark Column")
        return self

    # --- execution ------------------------------------------------------

    def _validate(self) -> None:
        """Mirror of plan validation at collect (src/vec.rs:170-203)."""
        if self._error is not None:
            raise self._error
        if self._store is None:
            raise PlanError("no vector store attached (src/vec.rs:184-185)")
        if self._metric is None:
            raise MissingMetricError("no metric configured")
        if not self._queries:
            raise EmptyQueryError("empty query batch (src/vec.rs:178-180)")
        dim = self._store.dim
        if dim:
            for i, q in enumerate(self._queries):
                if len(q) != dim:
                    raise DimensionMismatchError(
                        f"query {i} has dim {len(q)}, store dim {dim} "
                        "(src/vec.rs:186-199)"
                    )

    def _meta_sql(self) -> str | None:
        return None

    def _result_columns(self) -> list[str]:
        return [self._store.id_col, "score"]

    def df(self) -> DataFrame:
        """The result as one SQL statement over the store (lazy; parsed
        and analysed once): the rows that pass the metadata predicate
        (row masks filter the store before it is bound), scored against
        every query with the score filter applied, then ranked. Invalid
        scores are dropped before the top-k, so the kernel runs once per
        (row, query) pair and, collected, ``ORDER BY … LIMIT k`` is the
        plan root: one stage. ``k=None`` keeps every valid row, sorted,
        still scoring each row once."""
        self._validate()
        store = self._store
        base = store.df
        if self._row_masks:
            base = base.filter(functools.reduce(lambda a, b: a & b, self._row_masks))
        several = len(self._queries) > 1
        carried = [
            c for c in dict.fromkeys(self._result_columns())
            if c != "score" and not (several and c == "query_id")
        ]
        scored = scored_sql(
            self._queries, self._metric, store.vec_col, carried,
            inv_norm_col=INV_NORM_COL if INV_NORM_COL in base.columns else None,
            where=self._meta_sql(), score_filter=self._vec_filter,
        )
        return run_sql(base, topk_sql(
            scored, self._k, self._metric, store.id_col,
            self._result_columns(), direction=self._take_dir,
        ))

    def collect(self) -> list:
        """Execute and materialize (reference ``collect``,
        src/vec.rs:206-311)."""
        return self.df().collect()

    def collect_with_stats(self) -> tuple[list, QueryStats]:
        """Execute and also report :class:`QueryStats` — the engine's
        analog of the reference's per-query stats surface
        (src/meta.rs:710-721,832-842). Runs the statement ``collect()``
        runs, with the same jobs and stages; the counts come from its
        executed plan's metrics."""
        df = self.df()
        t0 = time.perf_counter()
        rows = df.collect()
        elapsed = time.perf_counter() - t0
        pairs, survivors = _scored_counts(df)
        candidates = pairs // len(self._queries)
        # chunk accounting at ROW-GROUP granularity when footers are
        # readable (reference chunk ≈ row group): evaluate this plan's
        # CNF against each row group's zonemaps — the same prune
        # decision the Parquet reader makes from the pushed filters.
        # Falls back to the scan's numFiles metric (files read vs store
        # files) when no footer stats exist, and to None for in-memory
        # stores.
        evaluated = pruned = None
        zonemaps = self._store.row_group_zonemaps()
        if zonemaps:
            cnf = [
                clause
                for compiled in getattr(self, "_compiled", [])
                for clause in compiled.plan
            ]
            evaluated = sum(1 for s in zonemaps if _rowgroup_can_match(cnf, s))
            pruned = len(zonemaps) - evaluated
        else:
            evaluated = _scan_files_read(df)
            if evaluated is not None:
                # total chunk count: the store's file listing (cached by
                # the relation; no extra Spark job)
                try:
                    total = len(self._store.df.inputFiles())
                    pruned = max(total - evaluated, 0)
                except Exception:
                    pruned = None
        phases = _phase_timings(df) or {}
        stats = QueryStats(
            candidate_rows=candidates,
            vectors_compared=candidates * len(self._queries or []),
            rows_after_filters=survivors,
            result_rows=len(rows),
            elapsed_sec=elapsed,
            evaluated_chunks=evaluated,
            pruned_chunks=pruned,
            prune_sec=phases.get("prune"),
            score_sec=phases.get("score"),
            merge_sec=phases.get("merge"),
        )
        self._store.last_query_stats = stats  # src/meta.rs:710-721
        return rows, stats

    def explain(self, mode: str = "formatted") -> None:
        self.df().explain(mode)

    def show(self) -> None:
        """Collect and print the reference-shaped result table
        (``index, score, <name-sorted meta cols>``, src/display.rs:164-187)."""
        from .display import format_result

        print(format_result(self.collect(), self._store.id_col))


class MetaQueryPlan(VecQueryPlan):
    """Vector search + strict-typed metadata predicates
    (src/meta.rs:580-829)."""

    def __init__(self, store: MetaStore, queries: Any, metric: str | None):
        super().__init__(store, queries, metric)
        self._meta_exprs: list[Expr] = []
        self._compiled = []

    def meta_filter(self, expr: Expr) -> "MetaQueryPlan":
        """Compile immediately against the schema; stash errors for
        collect (src/meta.rs:605-616)."""
        if self._ok():
            try:
                compiled = compile_expr(expr, self._store.schema)
            except OttersError as e:
                self._error = e
            else:
                self._meta_exprs.append(expr)
                self._compiled.append(compiled)
        return self

    def _meta_sql(self) -> str | None:
        return " AND ".join(c.sql for c in self._compiled) or None

    def _result_columns(self) -> list[str]:
        # result = index, score, then metadata columns in sorted-name
        # order (src/meta.rs:723-724, src/display.rs:166-167)
        return [self._store.id_col, "score"] + sorted(self._store.meta_columns)
