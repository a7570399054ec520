#!/usr/bin/env python
"""Mirrored A/B of the benchmark: a base commit against the working tree.

    python scripts/ab.py --workload vector_point --pairs 10 --seed 101
    python scripts/ab.py --workload vector_serve --pairs 10 --seed 101 --base HEAD~1

Run from the repository root. The base side is the committed files of
``--base`` (default ``HEAD``), exported with ``git archive`` into a
scratch directory — the same files a fresh checkout of that commit
holds; the change side is the working tree as it stands, uncommitted
edits included. Each pair runs ``perfbench/run.py`` once per side with
the same seed (pair i uses ``--seed + i``), for ``BENCHMARK.json``'s
``run_seconds``; which side runs first alternates from pair to pair.
Both sides run their own copy of ``perfbench/``.

Printed: one line per run (side, seed, every metric, failed share and
the hypervisor steal during the run), then for each metric each side's
median and quartiles and the change's win count. A gain counts only
when the change wins at least nine tenths of the pairs (ties count for
neither side), the medians differ by more than the base runs'
interquartile range, and no change run fails a larger share of its
operations than the worst base run; the last column says whether all
three hold. The last line is one JSON object with every run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.harness import percentile  # noqa: E402
from perfbench.host import steal_seconds  # noqa: E402


def export_commit(rev: str, dest: str) -> str:
    """Write the committed files of ``rev`` into ``dest``."""
    tar = os.path.join(dest, "base.tar")
    subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", "-o", tar, rev], check=True)
    tree = os.path.join(dest, "base")
    with tarfile.open(tar) as t:
        t.extractall(tree, filter="data")
    os.remove(tar)
    return tree


def run_once(tree: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    steal0 = steal_seconds()
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    steal = steal_seconds() - steal0
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd} in {tree} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    return {
        "metrics": {n: m["value"] for n, m in result["metrics"].items()},
        "failed_share": result["failed"] / max(result["attempted"], 1),
        "steal_s": steal,
    }


def lower_is_better() -> dict[str, bool]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] == "lower" for m in bench["end_to_end"] + bench["per_layer"]}


def summarize(runs: list[dict], lower: dict[str, bool]) -> list[dict]:
    rows = []
    base = [r for r in runs if r["side"] == "base"]
    change = [r for r in runs if r["side"] == "change"]
    fails_more = (max(r["failed_share"] for r in change)
                  > max(r["failed_share"] for r in base))
    for name in base[0]["metrics"]:
        b = [r["metrics"][name] for r in base]
        c = [r["metrics"][name] for r in change]
        sign = 1.0 if lower.get(name, True) else -1.0
        wins = sum(sign * (y - x) < 0 for x, y in zip(b, c))
        b_med, c_med = percentile(b, 50), percentile(c, 50)
        b_iqr = percentile(b, 75) - percentile(b, 25)
        rows.append({
            "metric": name,
            "base": [percentile(b, 25), b_med, percentile(b, 75)],
            "change": [percentile(c, 25), c_med, percentile(c, 75)],
            "wins": wins,
            "pairs": len(b),
            "gain": wins >= 0.9 * len(b) and sign * (c_med - b_med) < 0
            and abs(c_med - b_med) > b_iqr and not fails_more,
        })
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("vector_point", "vector_serve"))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--base", default="HEAD")
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be >= 1")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]

    scratch = tempfile.mkdtemp(prefix="ab-")
    try:
        trees = {"base": export_commit(args.base, scratch), "change": ROOT}
        runs = []
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                r = run_once(trees[side], args.workload, seed, seconds, args.trace)
                r.update(side=side, pair=i, seed=seed)
                runs.append(r)
                shown = " ".join(f"{n}={v:.4g}" for n, v in r["metrics"].items())
                print(f"pair {i} {side:6s} seed {seed} {shown} "
                      f"failed={r['failed_share']:.4f} steal_s={r['steal_s']:.2f}", flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    print(f"\n{args.workload}: {args.pairs} pairs, base {args.base} vs working tree, "
          f"{seconds} s runs; columns are q1 / median / q3")
    rows = summarize(runs, lower_is_better())
    for r in rows:
        b, c = r["base"], r["change"]
        print(f"{r['metric']:32s} base {b[0]:10.4g} {b[1]:10.4g} {b[2]:10.4g}   "
              f"change {c[0]:10.4g} {c[1]:10.4g} {c[2]:10.4g}   "
              f"wins {r['wins']}/{r['pairs']}  gain={'yes' if r['gain'] else 'no'}")
    for side in ("base", "change"):
        shares = [r["failed_share"] for r in runs if r["side"] == side]
        print(f"{'failed_share ' + side:32s} max {max(shares):.4f}")
    print(json.dumps({"workload": args.workload, "base": args.base, "runs": runs,
                      "summary": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
