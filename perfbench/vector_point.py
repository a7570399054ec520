"""vector_point: closed loop, one client, filtered point search over a
saved, sorted, Parquet-backed MetaStore.

Each op is ``store.query(q, "cosine").meta_filter(pred).take(10)
.collect()`` with a predicate that selects 0.1-1% of rows, so plan
construction, expression compilation, jobs per query and row-group
pruning dominate and few rows are scored. The store is reopened with
``MetaStore.load`` and never Spark-cached: every op takes the Parquet
scan and pruning path.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from . import gen, oracle
from .harness import percentile
from .tracer import event_log_tasks

K = 10
# Small row groups: a 1-10 label range reads a handful of the ~60.
ROW_GROUP_BYTES = 128 * 1024
# The op mix runs this long before the timed window, so JIT compilation
# and first-query code generation are not measured.
WARMUP_S = 8.0
# The traced half replays a fixed slice of the op list, so its counts
# repeat exactly for one seed whatever the untraced half managed.
TRACE_OP_BASE = gen.POINT_OPS // 2
TRACE_MIN_OPS = 5


def _load_ops(path: str) -> list[dict]:
    t = pq.read_table(path)
    rows = t.to_pylist()
    for r in rows:
        r["qvec"] = [float(x) for x in r["qvec"]]
    return rows


def _predicate(op):
    from otters_spark import col

    p = col("label").gte(op["label_lo"]) & col("label").lt(op["label_hi"])
    if op["source"] is not None:
        p = p & col("source").eq(op["source"])
    if op["ts_min"] is not None:
        p = p & col("ts").gte(op["ts_min"])
    return p


def _mask(ref: dict, op) -> np.ndarray:
    m = (ref["label"] >= op["label_lo"]) & (ref["label"] < op["label_hi"])
    if op["source"] is not None:
        m &= ref["source"] == op["source"]
    if op["ts_min"] is not None:
        m &= ref["ts"] >= op["ts_min"]
    return m


def _op(store, op):
    return store.query(op["qvec"], "cosine").meta_filter(_predicate(op)).take(K).collect()


def _traced_op(run, store, op, i: int) -> tuple[list, dict]:
    """One op with spans at each layer boundary, then a second,
    untimed execution through ``collect_with_stats`` for the pruning
    and phase counters."""
    from otters_spark.expr import compile_expr

    sc = run.spark.sparkContext
    tr, tracker = run.tracer, sc.statusTracker()
    group = f"perfbench-op-{i}"
    t0 = time.perf_counter()
    with tr.span("client.op", op=i):
        pred = _predicate(op)
        with tr.span("expr.compile"):
            tc = time.perf_counter()
            compile_expr(pred, store.schema)
            compile_s = time.perf_counter() - tc
        sc.setJobGroup(group, group)
        with tr.span("plan.build"):
            tb = time.perf_counter()
            plan = store.query(op["qvec"], "cosine").meta_filter(pred).take(K)
            df = plan.df()
            build_s = time.perf_counter() - tb
        with tr.span("plan.action"):
            ta = time.perf_counter()
            rows = df.collect()
            action_s = time.perf_counter() - ta
    latency = time.perf_counter() - t0
    sc.setJobGroup(f"perfbench-stats-{i}", "stats")
    _, qs = plan.collect_with_stats()
    jobs = list(tracker.getJobIdsForGroup(group))
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    tasks = sum(tracker.getStageInfo(s).numTasks for s in stages)
    stat = {
        "latency_s": latency,
        "compile_s": compile_s,
        "build_s": build_s,
        "action_s": action_s,
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": tasks,
        "evaluated_chunks": qs.evaluated_chunks,
        "pruned_chunks": qs.pruned_chunks,
        "candidate_rows": qs.candidate_rows,
        "result_rows": qs.result_rows,
        "prune_s": qs.prune_sec,
        "score_s": qs.score_sec,
        "merge_s": qs.merge_sec,
    }
    return rows, stat


def run_workload(run) -> dict:
    from otters_spark import MetaStore

    tg = time.perf_counter()
    paths = gen.point_inputs(run.seed, os.path.join(run.work, "inputs"))
    ops = _load_ops(paths["ops"])
    gen_s = time.perf_counter() - tg

    spark = run.start_spark()
    store_dir = os.path.join(run.work, "store")
    t0 = time.perf_counter()
    with run.tracer.span("store.build"):
        built = MetaStore.from_df(
            spark.read.parquet(paths["store"]), vec_col="embedding", id_col="vec_id"
        )
        built.save(store_dir, sort_cols=["label"], row_group_bytes=ROW_GROUP_BYTES)
    t1 = time.perf_counter()
    with run.tracer.span("store.load"):
        store = MetaStore.load(spark, store_dir)
        row_groups = len(store.row_group_zonemaps())
    t2 = time.perf_counter()
    disk = sum(
        os.path.getsize(os.path.join(store_dir, f))
        for f in os.listdir(store_dir)
        if f.endswith(".parquet")
    )

    run.tracer.enabled = False
    t_warm = time.perf_counter()
    j = len(ops) - 1
    while time.perf_counter() - t_warm < WARMUP_S:
        _op(store, ops[j])
        j -= 1

    # --- timed window: closed loop, one client -------------------------
    cpu0 = run.cpu_seconds()
    t_start = time.perf_counter()
    setup_s = t_start - run.t_proc0 - gen_s
    half = run.seconds / 2 if run.trace else run.seconds
    lat, results = [], []
    i = 0
    while time.perf_counter() - t_start < half:
        op = ops[i % len(ops)]
        ts = time.perf_counter()
        rows = _op(store, op)
        lat.append(time.perf_counter() - ts)
        results.append((op, rows))
        i += 1
    stats = []
    if run.trace:
        run.tracer.enabled = True
        j = TRACE_OP_BASE
        while time.perf_counter() - t_start < run.seconds or len(stats) < TRACE_MIN_OPS:
            op = ops[j % len(ops)]
            rows, st = _traced_op(run, store, op, j)
            stats.append(st)
            results.append((op, rows))
            j += 1
        run.tracer.enabled = False
    elapsed = time.perf_counter() - t_start
    cpu = run.cpu_seconds() - cpu0
    peak_rss = run.peak_rss_mb()

    # --- correctness, after the window ---------------------------------
    ref = oracle.load_vectors(paths["store"], "vec_id", "embedding", extra=("label", "source", "ts"))
    failures = []
    for op, rows in results:
        want_ids, want_scores = oracle.exact_topk(ref, np.array(op["qvec"]), K, _mask(ref, op))
        why = oracle.topk_mismatch(
            [r["vec_id"] for r in rows], [r["score"] for r in rows], want_ids, want_scores
        )
        if why:
            failures.append({"op_id": op["op_id"], "why": why})

    run.stop_spark()
    extra = {
        "sizes": {"rows": gen.POINT_ROWS, "dim": gen.DIM, "ops_timed": len(lat)},
        "row_group_bytes": ROW_GROUP_BYTES,
        "gen_s": gen_s,
        "peak_rss_mb_python_jvm": peak_rss,
        "latencies_ms": [x * 1e3 for x in lat],
        "failures": failures[:20],
    }
    if not run.trace:
        metrics = {
            "setup_s": setup_s,
            "op_p50_ms": percentile(lat, 50) * 1e3,
            "ops_per_s": len(lat) / elapsed,
            "cpu_ms_per_op": cpu * 1e3 / len(lat),
        }
        return run.finish(metrics, len(lat), len(failures), extra)

    counted = stats[:TRACE_MIN_OPS]
    tasks = [
        t for t in event_log_tasks(run.event_log())
        if (t["group"] or "").startswith("perfbench-op-")
    ]
    n_traced = len(stats)
    evaluated = sum(s["evaluated_chunks"] for s in counted)
    pruned = sum(s["pruned_chunks"] for s in counted)
    metrics = {
        "session.start_s": run.session_start_s,
        "store.build_s": t1 - t0,
        "store.load_s": t2 - t1,
        "store.bytes_per_vec": disk / gen.POINT_ROWS,
        "store.row_groups": row_groups,
        "expr.compile_us": percentile([s["compile_s"] for s in stats], 50) * 1e6,
        "plan.build_ms": percentile([s["build_s"] for s in stats], 50) * 1e3,
        "plan.action_ms": percentile([s["action_s"] for s in stats], 50) * 1e3,
        "plan.jobs_per_op": np.mean([s["jobs"] for s in counted]),
        "plan.stages_per_op": np.mean([s["stages"] for s in counted]),
        "plan.tasks_per_op": np.mean([s["tasks"] for s in counted]),
        "plan.rowgroups_read_ratio": evaluated / (evaluated + pruned),
        "plan.rows_scored_per_result": sum(s["candidate_rows"] for s in counted)
        / max(sum(s["result_rows"] for s in counted), 1),
        "plan.prune_ms": percentile([s["prune_s"] for s in stats], 50) * 1e3,
        "plan.score_ms": percentile([s["score_s"] for s in stats], 50) * 1e3,
        "plan.merge_ms": percentile([s["merge_s"] for s in stats], 50) * 1e3,
        "spark.executor_cpu_ms_per_op": sum(t["cpu_ms"] for t in tasks) / n_traced,
        "spark.gc_ms_per_op": sum(t["gc_ms"] for t in tasks) / n_traced,
        "spark.shuffle_bytes_per_op": sum(t["shuffle_bytes"] for t in tasks) / n_traced,
        "trace.op_p50_overhead_ms": (
            percentile([s["latency_s"] for s in stats], 50) - percentile(lat, 50)
        )
        * 1e3,
    }
    for name in PER_LAYER_BYPASSED:
        metrics[name] = 0.0
    extra["traced_ops"] = stats
    return run.finish(metrics, len(results), len(failures), extra)


# Layers this workload never calls: reported as 0 so every traced run
# emits the full per-layer set.
PER_LAYER_BYPASSED = (
    "vector.ns_per_pair",
    "serving.trigger_ms",
    "serving.add_batch_ms",
    "serving.offset_ms",
    "serving.commit_ms",
    "serving.queries_per_batch",
    "serving.queue_wait_ms",
)
