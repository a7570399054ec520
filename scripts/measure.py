#!/usr/bin/env python
"""Per-query measurement harness.

Times selected suite queries exactly the way bench.py does (noop sink,
min-of-N reps, local[$SPARK_GRAFT_CPUS], shuffle_partitions=cpus) and
optionally dumps .explain("formatted") for each.

Usage:
    python scripts/measure.py [--reps N] [--explain DIR] query ...
    python scripts/measure.py --top 30          # 30 slowest from BENCH_FULL.json

With --explain DIR each query's formatted plan is written to
DIR/<query>.txt (e.g. DIR=plans/r13/before, then plans/r13/after).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    reps = 2
    plans_dir = None
    names: list[str] = []
    top_n = 0
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--reps":
            reps = int(args[i + 1]); i += 2
        elif a == "--explain":
            plans_dir = args[i + 1]; i += 2
        elif a == "--top":
            top_n = int(args[i + 1]); i += 2
        else:
            names.append(a); i += 1

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if top_n:
        with open(os.path.join(here, "BENCH_FULL.json")) as f:
            prev = json.load(f)
        q = {k: v for k, v in prev["queries"].items() if v}
        for k, rec in (prev.get("retimed") or {}).items():
            solo = rec.get("solo_min2") if isinstance(rec, dict) else None
            if solo:
                q[k] = min(q.get(k, solo), solo)
        names = [k for k, _ in sorted(q.items(), key=lambda kv: -kv[1])[:top_n]]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from otters_spark.session import get_spark
    from otters_spark.suite import QUERIES

    spark = get_spark(
        app_name="measure",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm JVM/codegen with the cheapest stable plan
    QUERIES["vs_dot_topk"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)

    out: dict[str, float | None] = {}
    import gc
    for name in names:
        if name not in QUERIES:
            print(f"?? unknown query {name}", file=sys.stderr)
            continue
        fn = QUERIES[name]
        if plans_dir:
            try:
                plan = fn(spark, sf_dir)
                txt = plan._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                )
                with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                    f.write(txt)
            except Exception as e:
                print(f"explain {name} failed: {e}", file=sys.stderr)
        best = None
        spark.sparkContext.setJobDescription(f"measure:{name}")
        for _ in range(reps):
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:
                print(f"FAIL {name}: {e}", file=sys.stderr)
                break
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 3) if best is not None else None
        print(f"{out[name] if out[name] is not None else 'FAIL':>8}  {name}", flush=True)
        gc.collect()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
