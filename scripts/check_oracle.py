#!/usr/bin/env python
"""Local differential harness mimicking the driver's correctness gate:
run every suite query on Spark AND its DuckDB oracle, compare
row-count + schema + order-insensitive values. Usage:

    python scripts/check_oracle.py [sf_dir] [pattern ...]

Each pattern is a query name or an fnmatch pattern (``'vs_*'``); with
none, every query runs. A pattern that matches no query is an error
(exit 2) before anything runs.
"""

from __future__ import annotations

import os
import sys
import time
from fnmatch import fnmatchcase

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(ddf):
        problems.append(f"row count: spark={len(sdf)} duckdb={len(ddf)}")
    if sorted(sdf.columns) != sorted(ddf.columns):
        problems.append(f"columns: spark={sorted(sdf.columns)} duckdb={sorted(ddf.columns)}")
        return problems
    s, d = normalize(sdf), normalize(ddf)
    if len(s) != len(d):
        return problems
    for c in s.columns:
        sv, dv = s[c].to_numpy(), d[c].to_numpy()
        if np.issubdtype(sv.dtype, np.floating) or np.issubdtype(dv.dtype, np.floating):
            ok = np.allclose(sv.astype(float), dv.astype(float), rtol=0, atol=1e-9, equal_nan=True)
        else:
            ok = (sv == dv).all()
        if not ok:
            bad = np.nonzero(~(sv == dv) if sv.dtype == dv.dtype else np.ones(len(sv), bool))[0][:3]
            problems.append(f"col {c!r} differs, e.g. rows {bad.tolist()}: spark={sv[bad].tolist()} duckdb={dv[bad].tolist()}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from otters_spark.session import get_spark
    from otters_spark.suite import QUERIES, oracle_connection, oracles_for

    patterns = sys.argv[2:]
    unmatched = [p for p in patterns if not any(fnmatchcase(n, p) for n in QUERIES)]
    if unmatched:
        print(f"no query matches {unmatched}")
        return 2
    oracles = oracles_for(sf_dir)
    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=16)
    con = oracle_connection(sf_dir)

    failures = 0
    for name, fn in QUERIES.items():
        if patterns and not any(fnmatchcase(name, p) for p in patterns):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            failures += 1
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failures += 1
            print(f"FAIL {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            for p in problems:
                print(f"     {p}")
        else:
            print(f"OK   {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
