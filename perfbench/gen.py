"""Seeded input generation for the benchmark workloads.

Everything a run feeds the engine is written here, with numpy and
pyarrow only, before the Spark session starts: the same seed gives
byte-identical files (tested in ``test_perfbench.py``). The engine
reads only these files; the correctness oracles read them too, with
pyarrow, so the check never trusts a value the engine produced.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64

# vector_point: a metadata store whose filtered point queries select
# 0.1-1% of rows. ``label`` is the sort column (1000 values, ~40 rows
# each), ``source`` an equality column, ``ts`` a range column.
POINT_ROWS = 40_000
POINT_LABELS = 1000
POINT_SOURCES = 64
POINT_TS_RANGE = 1_000_000
POINT_OPS = 4000

# vector_serve: an in-memory store scored in full by every query.
SERVE_ROWS = 5_000
SERVE_QUERIES = 4000


def _vectors(rng: np.random.Generator, n: int) -> pa.Array:
    flat = rng.standard_normal(n * DIM, dtype=np.float32)
    return pa.FixedSizeListArray.from_arrays(pa.array(flat), DIM).cast(
        pa.list_(pa.float32())
    )


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, compression="snappy")
    return path


def point_inputs(seed: int, out_dir: str) -> dict[str, str]:
    """``store.parquet`` (vec_id, embedding, label, source, ts) and
    ``ops.parquet``: one row per point query with its vector and
    predicate. Predicate kinds cycle so every window sees the same mix:
    a label range alone, with a ``source`` equality, with a ``ts``
    lower bound. Label ranges are 1-10 labels wide (0.1-1% of rows);
    the two conjunct kinds use 5-10 labels so they keep ~10 hits."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = POINT_ROWS
    store = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": _vectors(rng, n),
            "label": pa.array(rng.integers(0, POINT_LABELS, n, dtype=np.int32)),
            "source": pa.array(
                [f"src{i:02d}" for i in rng.integers(0, POINT_SOURCES, n)]
            ),
            "ts": pa.array(rng.integers(0, POINT_TS_RANGE, n, dtype=np.int64)),
        }
    )
    kind = np.arange(POINT_OPS) % 3
    width = np.where(
        kind == 0,
        rng.integers(1, 11, POINT_OPS),
        rng.integers(5, 11, POINT_OPS),
    )
    lo = rng.integers(0, POINT_LABELS - width + 1)
    src = rng.integers(0, POINT_SOURCES, POINT_OPS)
    ts_min = rng.integers(0, POINT_TS_RANGE // 2, POINT_OPS)
    ops = pa.table(
        {
            "op_id": pa.array(np.arange(POINT_OPS, dtype=np.int64)),
            "qvec": _vectors(rng, POINT_OPS),
            "label_lo": pa.array(lo.astype(np.int32)),
            "label_hi": pa.array((lo + width).astype(np.int32)),
            "source": pa.array(
                [f"src{s:02d}" if k == 1 else None for k, s in zip(kind, src)],
                pa.string(),
            ),
            "ts_min": pa.array(
                [int(t) if k == 2 else None for k, t in zip(kind, ts_min)],
                pa.int64(),
            ),
        }
    )
    return {
        "store": _write(store, os.path.join(out_dir, "store.parquet")),
        "ops": _write(ops, os.path.join(out_dir, "ops.parquet")),
    }


def serve_inputs(seed: int, out_dir: str) -> dict[str, str]:
    """``store.parquet`` (vec_id, embedding) and ``queries.parquet``
    (query_id, qvec), the latter replayed by the open-loop generator."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    store = pa.table(
        {
            "vec_id": pa.array(np.arange(SERVE_ROWS, dtype=np.int64)),
            "embedding": _vectors(rng, SERVE_ROWS),
        }
    )
    queries = pa.table(
        {
            "query_id": pa.array(np.arange(SERVE_QUERIES, dtype=np.int64)),
            "qvec": _vectors(rng, SERVE_QUERIES),
        }
    )
    return {
        "store": _write(store, os.path.join(out_dir, "store.parquet")),
        "queries": _write(queries, os.path.join(out_dir, "queries.parquet")),
    }


GENERATORS = {"vector_point": point_inputs, "vector_serve": serve_inputs}
