"""vector_serve: closed loop, one client, against ``serve_query_stream``.

The client writes one query as a one-row Parquet file into the
stream's source directory, waits for the ``on_batch`` callback that
returns its rows, and only then writes the next. Latency runs from the
moment the client starts writing a query to that callback. The store
is held in Spark's memory cache and scored in full by every query: the
``functions.vector`` scoring expressions, ``per_query_topk`` and the
trigger machinery dominate, and ``plan``/``expr``/row-group pruning are
bypassed.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen, oracle
from .harness import percentile
from .tracer import event_log_tasks

K = 10
# A query answered later than this counts as missing in ops_per_s.
LIMIT_MS = 4000.0
# The client gives up on an answer after this long and counts the
# query as failed.
GIVE_UP_S = 30.0
# The op runs this long before the timed window, so stream start-up,
# code generation and JIT compilation are not measured.
WARMUP_S = 8.0
QUERY_SCHEMA = "query_id long, qvec array<float>"


class _Answers:
    """What the ``on_batch`` callback saw; it runs on the stream's
    callback thread and wakes the client."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.cond = threading.Condition()
        self.answered: dict[int, tuple[float, int, list]] = {}
        self.batches: list[dict] = []

    def on_batch(self, df, batch_id: int) -> None:
        traced = self.tracer.enabled
        with self.tracer.span("serving.on_batch", op=batch_id):
            t0 = time.perf_counter()
            with self.tracer.span("vector.topk_action"):
                rows = df.collect()
            t1 = time.perf_counter()
            by_query = defaultdict(list)
            for r in rows:
                by_query[r["query_id"]].append((r["vec_id"], r["score"]))
        with self.cond:
            for qid, hits in by_query.items():
                self.answered[qid] = (t1, batch_id, hits)
            self.batches.append(
                {"batch_id": batch_id, "queries": len(by_query), "action_s": t1 - t0, "traced": traced}
            )
            self.cond.notify_all()

    def wait(self, qid: int, timeout: float) -> None:
        with self.cond:
            self.cond.wait_for(lambda: qid in self.answered, timeout)


def _send(qdir: str, i: int, qid: int, vec: np.ndarray) -> None:
    t = pa.table(
        {
            "query_id": pa.array([qid], pa.int64()),
            "qvec": pa.array([vec.tolist()], pa.list_(pa.float32())),
        }
    )
    tmp = os.path.join(qdir, f".q-{i:06d}.tmp")
    pq.write_table(t, tmp)
    os.rename(tmp, os.path.join(qdir, f"q-{i:06d}.parquet"))


def run_workload(run) -> dict:
    from otters_spark import VecStore
    from otters_spark.streaming.serving import serve_query_stream

    tg = time.perf_counter()
    paths = gen.serve_inputs(run.seed, os.path.join(run.work, "inputs"))
    qt = pq.read_table(paths["queries"])
    q_ids = qt.column("query_id").to_numpy()
    q_vecs = qt.column("qvec").combine_chunks().flatten().to_numpy().reshape(len(q_ids), -1)
    gen_s = time.perf_counter() - tg

    spark = run.start_spark()
    t0 = time.perf_counter()
    with run.tracer.span("store.build"):
        store = VecStore.from_df(
            spark.read.parquet(paths["store"]), vec_col="embedding", id_col="vec_id"
        )
        store.df.cache()
        store_rows = store.df.count()
    build_s = time.perf_counter() - t0

    qdir = os.path.join(run.work, "queries")
    os.makedirs(qdir)
    answers = _Answers(run.tracer)
    with run.tracer.span("serving.start"):
        sq = serve_query_stream(
            spark.readStream.schema(QUERY_SCHEMA).parquet(qdir),
            store,
            answers.on_batch,
            os.path.join(run.work, "checkpoint"),
            metric="cosine",
            k=K,
        )
    run.tracer.enabled = False
    epoch_off = time.time() - time.perf_counter()

    sent: list[float] = []  # send time of query i

    def one_query() -> None:
        i = len(sent)
        if i >= len(q_ids):
            raise ValueError(f"more than {len(q_ids)} queries needed")
        sent.append(time.perf_counter())
        _send(qdir, i, int(q_ids[i]), q_vecs[i])
        answers.wait(int(q_ids[i]), GIVE_UP_S)

    t_warm = time.perf_counter()
    while time.perf_counter() - t_warm < WARMUP_S:
        one_query()
    n_warm = len(sent)

    # --- timed window: closed loop, one client -------------------------
    cpu0 = run.cpu_seconds()
    t_start = time.perf_counter()
    setup_s = t_start - run.t_proc0 - gen_s
    half = run.seconds / 2 if run.trace else run.seconds
    while time.perf_counter() - t_start < half:
        one_query()
    n_half = len(sent)
    if run.trace:
        run.tracer.enabled = True
        while time.perf_counter() - t_start < run.seconds:
            one_query()
        run.tracer.enabled = False
    elapsed = time.perf_counter() - t_start
    cpu = run.cpu_seconds() - cpu0
    timed = range(n_warm, len(sent))
    progress = {p.batchId: p for p in sq.recentProgress if p.numInputRows > 0}
    peak_rss = run.peak_rss_mb()
    sq.stop()

    # --- latency and correctness, after the window ----------------------
    ref = oracle.load_vectors(paths["store"], "vec_id", "embedding")
    with answers.cond:
        answered = dict(answers.answered)
        batches_all = list(answers.batches)
    lat, failures, ok = [], [], 0
    for i in timed:
        qid = int(q_ids[i])
        if qid not in answered:
            failures.append({"query_id": qid, "why": "unanswered"})
            continue
        t_ans, _, hits = answered[qid]
        want_ids, want_scores = oracle.exact_topk(ref, q_vecs[i], K)
        hits.sort(key=lambda h: (-h[1], h[0]))
        why = oracle.topk_mismatch([h[0] for h in hits], [h[1] for h in hits], want_ids, want_scores)
        if why:
            failures.append({"query_id": qid, "why": why})
            continue
        lat.append(t_ans - sent[i])
        ok += lat[-1] * 1e3 <= LIMIT_MS
    if not lat:
        raise RuntimeError(f"no query answered correctly: {failures[:3]}")

    run.stop_spark()
    extra = {
        "sizes": {"rows": store_rows, "dim": gen.DIM, "queries_timed": len(timed)},
        "limit_ms": LIMIT_MS,
        "warmup_s": WARMUP_S,
        "gen_s": gen_s,
        "peak_rss_mb_python_jvm": peak_rss,
        "latencies_ms": [x * 1e3 for x in lat],
        "batch_sizes": [b["queries"] for b in batches_all],
        "batch_duration_ms": {b: dict(p.durationMs) for b, p in progress.items()},
        "failures": failures[:20],
    }
    if not run.trace:
        metrics = {
            "setup_s": setup_s,
            "op_p50_ms": percentile(lat, 50) * 1e3,
            "ops_per_s": ok / elapsed,
            "cpu_ms_per_op": cpu * 1e3 / len(timed),
        }
        return run.finish(metrics, len(timed), len(failures), extra)

    # --- per-layer: batches that started in the traced half ------------
    batches = [b for b in batches_all if b["traced"] and b["queries"]]
    traced_ids = {b["batch_id"] for b in batches}
    trig = [progress[b].durationMs for b in traced_ids if b in progress]
    trig_start = {
        b: dt.datetime.fromisoformat(progress[b].timestamp).timestamp() - epoch_off
        for b in traced_ids
        if b in progress
    }
    traced_q = range(n_half, len(sent))
    queue_wait = [
        trig_start[answered[int(q_ids[i])][1]] - sent[i]
        for i in traced_q
        if int(q_ids[i]) in answered and answered[int(q_ids[i])][1] in trig_start
    ]
    halves: tuple[list, list] = ([], [])
    for i in timed:
        if int(q_ids[i]) in answered:
            halves[i >= n_half].append(answered[int(q_ids[i])][0] - sent[i])
    untraced, traced_lat = halves
    n_traced_q = sum(b["queries"] for b in batches)
    t_trace = sent[n_half]
    lo_ms, hi_ms = (t_trace + epoch_off) * 1e3, (t_start + elapsed + epoch_off) * 1e3
    tasks = [t for t in event_log_tasks(run.event_log()) if lo_ms <= t["launch_ms"] < hi_ms]

    def mean_phase(*keys):
        return float(np.mean([sum(d.get(k, 0) for k in keys) for d in trig]))

    metrics = {
        "session.start_s": run.session_start_s,
        "store.build_s": build_s,
        "vector.ns_per_pair": float(
            np.mean([b["action_s"] / (b["queries"] * store_rows) for b in batches]) * 1e9
        ),
        "serving.trigger_ms": mean_phase("triggerExecution"),
        "serving.add_batch_ms": mean_phase("addBatch"),
        "serving.offset_ms": mean_phase("latestOffset"),
        "serving.commit_ms": mean_phase("walCommit", "commitOffsets"),
        "serving.queries_per_batch": float(np.mean([b["queries"] for b in batches])),
        "serving.queue_wait_ms": float(np.mean(queue_wait)) * 1e3,
        "spark.executor_cpu_ms_per_op": sum(t["cpu_ms"] for t in tasks) / n_traced_q,
        "spark.gc_ms_per_op": sum(t["gc_ms"] for t in tasks) / n_traced_q,
        "spark.shuffle_bytes_per_op": sum(t["shuffle_bytes"] for t in tasks) / n_traced_q,
        "trace.op_p50_overhead_ms": (percentile(traced_lat, 50) - percentile(untraced, 50)) * 1e3,
    }
    for name in PER_LAYER_BYPASSED:
        metrics[name] = 0.0
    extra["traced_batches"] = batches
    return run.finish(metrics, len(timed), len(failures), extra)


# Layers this workload never calls: reported as 0 so every traced run
# emits the full per-layer set.
PER_LAYER_BYPASSED = (
    "store.load_s",
    "store.bytes_per_vec",
    "store.row_groups",
    "expr.compile_us",
    "plan.build_ms",
    "plan.action_ms",
    "plan.jobs_per_op",
    "plan.stages_per_op",
    "plan.tasks_per_op",
    "plan.rowgroups_read_ratio",
    "plan.rows_scored_per_result",
    "plan.prune_ms",
    "plan.score_ms",
    "plan.merge_ms",
)
