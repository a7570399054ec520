"""Benchmark entry point.

    python3 perfbench/run.py --workload vector_point --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts Spark on ``local[nproc]``, measures for ``--seconds``,
checks every answer against an exact numpy computation, and prints
the metrics as a table and then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.
Exits non-zero, printing no result, when the engine is missing or the
run fails.
"""

from __future__ import annotations

import time

T_PROC0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("vector_point", "vector_serve")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be >= 1")

    sys.path.insert(0, os.getcwd())
    try:
        import otters_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {os.getcwd()}: {e}", file=sys.stderr)
        return 2

    from perfbench import harness, vector_point, vector_serve

    workload = {"vector_point": vector_point, "vector_serve": vector_serve}[args.workload]
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), T_PROC0)
    try:
        result = workload.run_workload(run)
    finally:
        try:
            run.stop_spark()
        finally:
            run.cleanup()
    if not args.trace:
        failed, attempted = result["failed"], result["attempted"]
        print(f"{'error_rate':32s} {failed / attempted:14.6f} ratio")
    for name, m in result["metrics"].items():
        print(f"{name:32s} {m['value']:14.6f} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
