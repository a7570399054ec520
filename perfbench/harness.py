"""What both workloads share: the run's work directory, the Spark
session's life cycle, process CPU and memory probes, the run record,
and the declared metric names and units."""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

import numpy as np

from . import host
from .tracer import Tracer

# Declared in BENCHMARK.json; test_perfbench.py keeps the two equal.
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "cpu_ms_per_op": "ms",
}
PER_LAYER = {
    "session.start_s": "s",
    "store.build_s": "s",
    "store.load_s": "s",
    "store.bytes_per_vec": "B",
    "store.row_groups": "count",
    "expr.compile_us": "us",
    "plan.build_ms": "ms",
    "plan.action_ms": "ms",
    "plan.jobs_per_op": "count",
    "plan.stages_per_op": "count",
    "plan.tasks_per_op": "count",
    "plan.rowgroups_read_ratio": "ratio",
    "plan.rows_scored_per_result": "ratio",
    "plan.prune_ms": "ms",
    "plan.score_ms": "ms",
    "plan.merge_ms": "ms",
    "vector.ns_per_pair": "ns",
    "serving.trigger_ms": "ms",
    "serving.add_batch_ms": "ms",
    "serving.offset_ms": "ms",
    "serving.commit_ms": "ms",
    "serving.queries_per_batch": "count",
    "serving.queue_wait_ms": "ms",
    "spark.executor_cpu_ms_per_op": "ms",
    "spark.gc_ms_per_op": "ms",
    "spark.shuffle_bytes_per_op": "B",
    "host.steal_s": "s",
    "trace.op_p50_overhead_ms": "ms",
}
# Counts that must repeat exactly for one seed (tested).
EXACT_COUNTS = (
    "store.bytes_per_vec",
    "store.row_groups",
    "plan.jobs_per_op",
    "plan.stages_per_op",
    "plan.tasks_per_op",
    "plan.rowgroups_read_ratio",
    "plan.rows_scored_per_result",
)

# Of the engine settings only the master is set; every other one is
# get_spark's default. The benchmark adds only where scratch files go
# (and, in the traced run, the event log). The environment overrides
# get_spark honours are removed so that the run's configuration does
# not depend on the caller's shell. SPARK_LOCAL_DIRS would move Spark's
# scratch out of the checkout.
_ENV_OVERRIDES = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def source_digest(root: str) -> str:
    """sha256 over the engine's sources: identifies the code measured
    when the checkout carries no git metadata."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "otters_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


class Run:
    """One benchmark process: work directory, Spark session, probes and
    the run record written to ``.perfbench_work/records/``."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, t_proc0: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_proc0 = t_proc0
        self.root = os.getcwd()
        base = os.path.join(self.root, ".perfbench_work")
        self.work = os.path.join(base, f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
        self.records = os.path.join(base, "records")
        os.makedirs(self.work, exist_ok=True)
        os.makedirs(self.records, exist_ok=True)
        # py4j's connection file and every Spark/JVM scratch file stay
        # inside the checkout
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        tempfile.tempdir = self.tmp
        os.environ["TMPDIR"] = self.tmp
        for k in _ENV_OVERRIDES:
            os.environ.pop(k, None)
        self.tracer = Tracer(enabled=trace)
        self.session_start_s = 0.0
        self.spark = None
        self.jvm_pid: int | None = None
        self.event_log_dir = os.path.join(self.work, "eventlog")
        self.record: dict = {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": int(trace),
            "git_commit": git_commit(self.root),
            "source_sha256": source_digest(self.root),
            "nproc": nproc(),
            "python": sys.version.split()[0],
            "host_before": host.snapshot(),
        }

    # --- Spark life cycle ------------------------------------------------

    def start_spark(self):
        from otters_spark import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        if self.trace:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            spark = get_spark(master=f"local[{nproc()}]", extra_conf=conf)
            spark.range(1).count()
        self.session_start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.record["spark_conf"] = dict(spark.sparkContext.getConf().getAll())
        return spark

    def cpu_seconds(self) -> float:
        return host.tree_cpu_seconds(os.getpid())

    def peak_rss_mb(self) -> list[float]:
        """Peak resident memory (VmHWM) of the Python driver and of the
        JVM, for the run record."""
        return [host.peak_rss_mb(os.getpid()), host.peak_rss_mb(self.jvm_pid)]

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark, self.spark = self.spark, None
        try:
            spark.stop()
            gateway.shutdown()
        finally:
            # also when a signal cut a JVM call short and left the
            # gateway unusable: the JVM exits once its stdin closes
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def event_log(self) -> str:
        """Path of the (finished) event log; call after stop_spark."""
        (path,) = [p for p in glob.glob(os.path.join(self.event_log_dir, "*")) if os.path.isfile(p)]
        return path

    # --- results ---------------------------------------------------------

    def finish(self, metrics: dict[str, float], attempted: int, failed: int, extra: dict) -> dict:
        units = PER_LAYER if self.trace else END_TO_END
        missing = set(units) - set(metrics) - {"host.steal_s"}
        if missing:
            raise RuntimeError(f"workload did not produce {sorted(missing)}")
        after = host.snapshot()
        metrics = dict(metrics)
        metrics["host.steal_s"] = after["steal_s"] - self.record["host_before"]["steal_s"]
        bad = [n for n in units if not math.isfinite(metrics[n])]
        if bad:
            raise RuntimeError(f"non-finite metrics {bad}")
        result = {
            "correct": failed == 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
        }
        self.record.update(extra)
        self.record["host_after"] = after
        self.record["result"] = result
        stem = os.path.join(self.records, os.path.basename(self.work))
        with open(stem + ".json", "w") as f:
            json.dump(self.record, f, indent=1, default=str)
        if self.trace:
            self.tracer.dump(stem + ".spans.json")
        return result

    def cleanup(self) -> None:
        """Remove the run's bulky inputs and engine scratch; the record
        stays."""
        shutil.rmtree(self.work, ignore_errors=True)
