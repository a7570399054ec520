#!/usr/bin/env python
"""Regenerate docs/QUERIES.md from the suite registration + docstrings."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from otters_spark.suite import DYNAMIC_ORACLES, QUERIES  # noqa: E402

HEADER = """# Query index

Every driver-contract query (`__spark_entry__.queries()`) and what it
demonstrates, in registry order. Generated from suite docstrings
(`python scripts/gen_query_index.py`).

Each query is one `(query function, oracle)` line of the `REGISTRY`
tuple in `otters_spark/suite.py`, so every query has a DuckDB oracle.
{dynamic} generate their oracle SQL from the data in `sf_dir`.

**Frozen order:** rows 1-50 are the driver's correctness window. The
driver records exactly the FIRST 50 registry entries each round. Do
NOT reorder the tuple: a reorder swaps which queries get driver rows
and breaks comparison of `CORRECTNESS_r*.json` across rounds. Rows 51+
are covered by the full sweep (`python scripts/check_oracle.py` at
sf0.001 / 0.01 / 0.1).

| # | query | demonstrates |
|---|---|---|
"""


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    m = re.split(r"(?<=[.!?])\s", text, maxsplit=1)
    s = m[0].rstrip(".")
    return (s[:110] + "...") if len(s) > 113 else s


def main() -> None:
    dynamic = " and ".join(f"`{name}`" for name in DYNAMIC_ORACLES)
    out = [HEADER.format(dynamic=dynamic)]
    for i, (name, fn) in enumerate(QUERIES.items(), 1):
        out.append(f"| {i} | `{name}` | {first_sentence(fn.__doc__)} |\n")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "docs", "QUERIES.md")
    with open(path, "w") as f:
        f.write("".join(out))
    print(f"wrote {path}: {len(QUERIES)} queries")


if __name__ == "__main__":
    main()
