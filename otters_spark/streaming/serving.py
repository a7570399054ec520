"""Streaming vector search: score a STREAM of query vectors against a
static store.

The reference is batch/in-memory only; this is the extension surface a
serving deployment needs. Two Spark-native shapes:

* :func:`stream_static_scores` — stream-static join: every arriving
  query row is scored against the static store. Append-mode safe (no
  aggregation), so any sink works; an optional score threshold
  pre-filters in the stream.
* :func:`serve_query_stream` — micro-batch top-k via ``foreachBatch``:
  every micro-batch collects its few query rows and scores them as
  known vectors (one query as a literal, several as one literal array
  exploded over the store) in one SQL statement, then hands results to
  a callback.

The stream-static form scores through ``functions.vector.score_pairs``
(its queries are a stream), the serving loop through the statement
renderer the plan API uses (``functions.vector.scored_sql`` and
``topk_sql``: its queries are known per batch); both use the same
kernels and ``functions.vector``'s one ranking rule, so for every
metric a served query returns the rows the batch plan API returns —
asserted metric by metric in tests/test_streaming_serving.py.

What a serving trigger costs beyond scoring: listing the query
directory (``latestOffset``), collecting the batch's query rows, and
three checkpoint-log writes (``sources/0/N``, ``offsets/N``,
``commits/N``). The engine session writes those logs with Spark's
FileSystem-based checkpoint manager (see ``session.py``): pip-installed
PySpark has no native Hadoop library, and the default FileContext
manager forks a ``chmod`` and a ``readlink`` process from the driver
JVM per log file; the FileSystem manager leaves one ``chmod``. A
one-query batch carries its id inside the score struct, outside
generated code, so steady batches compile no Java class.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ..expr import sql_literal
from ..functions.vector import (
    INV_NORM_COL, check_per_query_k, ranks_ascending, run_sql, score_pairs, scored_sql,
    topk_sql, valid_score,
)
from ..store import VecStore

__all__ = ["stream_static_scores", "serve_query_stream"]


def stream_static_scores(
    queries: DataFrame,
    store: VecStore,
    metric: str = "cosine",
    qvec_col: str = "qvec",
    query_id_col: str = "query_id",
    threshold: float | None = None,
) -> DataFrame:
    """Stream-static join form: ``queries`` is a streaming DataFrame of
    (query_id, qvec); every store row is scored against every arriving
    query (the static store side is re-read per micro-batch — at scale,
    point the store at a pruned/partitioned layout). Append-safe:
    returns (query_id, id, score) without aggregation. ``threshold``
    keeps the rows at least that good: ``score >= threshold`` for
    similarity metrics, ``score <= threshold`` for distance metrics."""
    scored = score_pairs(store.df, queries, metric, store.vec_col, qvec_col)
    scored = scored.filter(valid_score("score"))
    if threshold is not None:
        c = F.col("score")
        scored = scored.filter(c <= threshold if ranks_ascending(metric) else c >= threshold)
    return scored.select(query_id_col, store.id_col, "score")


def serve_query_stream(
    queries: DataFrame,
    store: VecStore,
    on_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    metric: str = "cosine",
    k: int = 10,
    qvec_col: str = "qvec",
    query_id_col: str = "query_id",
):
    """Micro-batch top-k serving loop: each arriving micro-batch's query
    rows are collected (one small job; an empty batch stops there), and
    ``score_batch`` renders them into one SQL statement over the store
    with the plan API's renderer
    (:func:`~otters_spark.functions.vector.scored_sql`,
    :func:`~otters_spark.functions.vector.topk_sql`), parsed and
    analysed once. One query is a literal, scored and ranked with a
    global top-k in ONE job with no join and no broadcast; several are
    one literal array exploded over the store (no broadcast job either)
    and ranked per query, planned as WindowGroupLimit, so each map task
    pre-limits to k rows per query before the exchange. Either way the
    kernel runs once per (row, query) pair and invalid scores are
    dropped before the top-k.
    The result DataFrame (``query_id_col``, the store's id, ``score``)
    goes to ``on_batch(results, batch_id)``. ``metric`` and ``k`` are
    checked before the stream starts. Returns the started
    ``StreamingQuery`` (caller awaits/stops)."""
    ranks_ascending(metric)
    check_per_query_k(queries.sparkSession, k)
    inv = INV_NORM_COL if INV_NORM_COL in store.df.columns else None

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.select(query_id_col, qvec_col).collect()
        if not rows:
            return
        id_type = batch_df.schema[query_id_col].dataType.simpleString()
        scored = scored_sql(
            [r[qvec_col] for r in rows], metric, store.vec_col, [store.id_col],
            inv_norm_col=inv,
            query_ids=[f"CAST({sql_literal(r[query_id_col])} AS {id_type})" for r in rows],
            query_col=query_id_col,
        )
        topk = run_sql(store.df, topk_sql(
            scored, k, metric, store.id_col, [query_id_col, store.id_col, "score"],
            query_col=query_id_col if len(rows) > 1 else None,
        ))
        on_batch(topk, batch_id)

    return (
        queries.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("otters_serve")
        .start()
    )
