"""SparkSession factory with engine defaults.

Tuned for correctness parity (UTC session timezone; ANSI mode pinned
ON explicitly — Spark 4 defaults to it, but operators like
behavior.py:funnel_counts contract on loud overflow casts, so the
engine does not rely on the runtime's default; reference behaviors
that differ, like the silent NaN score drop, are implemented as
explicit plan steps, see functions/vector.py:rank_topk) and for scale (AQE on with skew handling, parquet
pushdown + bloom filters, Arrow for the few pandas-UDF paths). On a
real cluster the same configs apply; the master URL is the only
local[...] artifact.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


def get_spark(
    app_name: str = "otters-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # deterministic timestamp semantics vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        # loud-overflow contract (behavior.py:funnel_counts and every
        # decimal->long final cast): pinned rather than inherited so a
        # Spark 3.x runtime (default false) can't silently degrade
        # overflow errors to NULLs
        .config("spark.sql.ansi.enabled", "true")
        # runtime re-planning: coalesce small shuffle partitions, split
        # skewed ones — the 100TB-scale safety net for joins/aggs
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at its default
        # (true): Spark's tuning guide recommends false on real
        # clusters (respect advisory partition size), but measured
        # here at local[32] it is a wash overall and costs the
        # mid-size window/agg stages real parallelism
        # (rel_percentiles +75% — BENCH A/B, round 4). On a cluster
        # deployment set it false via extra_conf.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # round 11 (guide §3.1/§9): let the planner pick shuffled-hash
        # over sort-merge when its size conditions hold — skips the
        # per-partition sorts on mid-size equi-joins (A/B over the 15
        # SMJ-heaviest suite queries: 54.8 -> 49.4 s; largest single
        # win dedup_tfidf_cosine_pairs 4.8 -> 2.5 s). The planner
        # still falls back to sort-merge when a build side could not
        # hash locally, and AQE can re-plan at runtime; results are
        # join-strategy-invariant (re-swept vs the oracle at all SFs).
        # Cluster caveat (round-11 ADVICE): SHJ selection rides on
        # planner SIZE ESTIMATES, and a misestimated build side OOMs
        # where SMJ would have spilled — on a real deployment with
        # poor stats, restore the default via
        # extra_conf={"spark.sql.join.preferSortMergeJoin": "true"}
        # (this builder's escape hatch) and force SHJ per-join with
        # the SHUFFLE_HASH hint where measured.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # scan-side pruning (the reference's zonemap/bloom subsystem,
        # SURVEY.md §1.4): row-group stats + bloom + dictionary filters
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet carries TIMESTAMP(NANOS); read as long
        # nanos (engine converts explicitly where needed)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Arrow transport for pandas-UDF scoring paths
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # streaming checkpoint logs (source, offset, commit and state
        # files) through FileSystem.create + rename instead of Spark's
        # default FileContext manager. pip-installed PySpark ships no
        # libhadoop, so local FileContext writes fork a `chmod` and
        # `readlink` child of the driver JVM per log file, three files
        # per micro-batch: this manager leaves one `chmod` per file
        # (traced vector_serve trigger: offset phase 22 -> 12 ms,
        # commit phase 32 -> 8 ms).
        # It writes a temp file and renames it into place, atomic on
        # local disk and HDFS; the trade-off is that an OVERWRITING
        # write becomes delete + rename, and only state-store retries
        # overwrite. Restore Spark's default (or name a cloud-store
        # manager) via extra_conf={"spark.sql.streaming.
        # checkpointFileManagerClass": ...}.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # local mode hosts every executor thread in the driver JVM — an
        # undersized heap GC-thrashes array-heavy operators at local[32]
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
