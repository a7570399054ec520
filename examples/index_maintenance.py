#!/usr/bin/env python
"""Index-maintenance demo: the life of a living vector store —

    build (IVF over the corpus) -> append new vectors
    (VecStore.add_rows + ivf_assign, no retrain) -> remove rows ->
    evaluate the approximate tier against exact ground truth
    (recall@k / MRR / nDCG) to decide when a retrain is due.

Run:  python examples/index_maintenance.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import otters_spark as ot
from otters_spark.functions.vector import rank_topk, score_queries
from otters_spark.operators.evaluation import retrieval_metrics, with_rank
from otters_spark.operators.similarity import ivf_assign, ivf_build, ivf_search_batch
from otters_spark.suite import Q7, Q11


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = ot.get_spark(app_name="otters-index-maintenance")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    # 1. batch build
    assigned, centroids = ivf_build(emb, n_cells=8, seed=42)
    print(f"built IVF index: {assigned.count()} vectors, {len(centroids)} cells")

    # 2. append without retraining: new vectors -> existing centroids
    new = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    grown = assigned.unionByName(ivf_assign(new, centroids))
    print(f"appended {new.count()} vectors -> {grown.count()} total (no retrain)")

    # 3. remove: anti-join, functional (store surface mirrors this via
    # VecStore.remove_rows)
    doomed = [int(r["vec_id"]) for r in new.limit(2).collect()]
    grown = grown.join(
        F.broadcast(spark.createDataFrame([(i,) for i in doomed], "vec_id long")),
        "vec_id",
        "left_anti",
    )
    print(f"removed {len(doomed)} -> {grown.count()} vectors")

    # 4. evaluate the approximate tier: nprobe-pruned IVF vs exact,
    # both lanes one batch over the two queries
    qs = [Q7, Q11]
    ann = ivf_search_batch(grown, centroids, qs, k=10, nprobe=2).select(
        "query_id", "vec_id", "score"
    )
    exact = rank_topk(
        score_queries(grown, qs, "cosine", "embedding").select("query_id", "vec_id", "score"),
        10, "cosine", "vec_id", query_col="query_id",
    )
    report = retrieval_metrics(with_rank(ann), with_rank(exact)).orderBy("query_id")
    report.show(truncate=False)
    mean_recall = report.agg(F.avg("recall")).collect()[0][0]
    print(f"mean recall@10 at nprobe=2: {mean_recall:.2f} "
          "(raise nprobe or retrain when this drifts below target)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
