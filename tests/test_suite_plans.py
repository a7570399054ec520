"""Whole-suite physical-plan audit: no query may regress into a plan
shape that dies at scale. Checks every QUERIES entry's executed plan:

* no CartesianProduct (unbounded pair explosion)
* no BatchEvalPython (row-at-a-time Python in the row path; Arrow-batch
  MapInPandas is allowed — that's the sanctioned Python lane)
* broadcast nested-loop joins only with a broadcast side (the query
  batch / packed blocks), never as a fallback for a real join
* bounded md5 fan-out in the optimized plan — CollapseProject merges
  projections (even through RepartitionByExpression) and runtime
  subexpression elimination skips lambda-bearing higher-order
  functions, so an expensive hash fed into a fan-out of HOF consumers
  silently re-inlines per consumer (observed 34-68 md5 nodes, >5×
  slower; fixed by computing signatures as hash aggregations over
  exploded scalars — see operators/dedup.py:_exploded_token_hashes)
"""

import pytest

from otters_spark.suite import QUERIES

# queries whose operators intentionally use mapInPandas (Arrow batches)
ARROW_OK = {
    "neardup_embedding_pairs",
    "multimodal_features",
    "multimodal_frame_sample",  # Arrow-batched frame decode kernel
    "dedup_char_shingle_pairs",  # incidence-matmul kernel
    "dedup_containment_pairs",  # incidence-matmul kernel
    "dedup_edit_distance_verified",  # shingle matmul candidate generator
    "sim_pq_topk",  # Arrow-batched PQ encode (einsum argmin kernel)
    "text_compression_ratio",  # zlib kernel (no SQL DEFLATE)
    "sim_gram_matrix",  # Arrow-batched integer partial-matmul kernel
    "sim_pca_variance",  # gram kernel + literal-codegen projection
}

# queries allowed an UNPARTITIONED window: only the two-phase binned
# cumsums, whose global window runs over BIN SUMMARIES (≤ n_bins ≈ 1000
# rows by construction), never over corpus rows. Anything else with an
# empty partition spec funnels its whole input through one task — the
# unigram_logprob bug class (corpus-total window over a web-scale
# vocabulary, fixed in r3 with agg-to-one-row + crossJoin(broadcast)).
GLOBAL_WINDOW_OK = {
    "events_cumulative_users",  # cumsum over the DAY table (calendar-bounded)
    "pipeline_token_budget",
    "pipeline_pack_sequences",
    "pipeline_shuffle_shards",  # bin-priors window over ≤1024 bin rows
    "text_zipf_slope",  # rank window over the top-200 token table (limit
    #   200 precedes the window — TakeOrderedAndProject bounds the input)
    "events_rfm_segments",  # three global_row_number histogram cumsums,
    #   each over the ≤1024-bin table (stats.global_row_number — the
    #   shuffle_shards bin-priors shape); the per-user data windows are
    #   all bin-partitioned
    "text_heaps_curve",  # cumulative window over <=16 bucket rows
    "pipeline_curriculum_buckets",  # global_row_number's <=1024-bin
    #   histogram cumsum on the per-doc score table
    "events_mann_whitney",  # stats.mann_whitney: the pooled-rank cumsum
    #   runs over the ≤1024-bin histogram; the within-bin running sum is
    #   bin-partitioned (the global_row_number device on the
    #   distinct-value table)
}


def _unpartitioned_windows(df) -> list[str]:
    """Logical-plan walk: Window/WindowGroupLimit nodes whose partition
    spec is empty (string-matching the plan dump is unreliable — the
    partition columns print inside windowspecdefinition's nested
    parens)."""
    out: list[str] = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls in ("Window", "WindowGroupLimit") and node.partitionSpec().isEmpty():
            out.append(cls)
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_is_scale_safe(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product:\n{plan[:1500]}"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in ARROW_OK:
        assert "MapInPandas" not in plan, f"{name}: unexpected Python stage"
    # expensive-hash fan-out guard: suite-wide max is 6 md5 nodes; the
    # re-inline failure mode lands at 30+
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("md5") <= 10, (
        f"{name}: md5 evaluated {optimized.count('md5')}x in the optimized plan "
        "— an expression fan-out re-inlined an expensive hash (see module doc)"
    )
    # subtree re-execution guard: Catalyst does not dedup subtrees, so
    # feeding a derived table into an operator that references its
    # input k times re-executes the whole upstream k-fold (observed:
    # 81 scans on the MAD query before its stat tables were pinned
    # with localCheckpoint). Suite-wide max is 8 legitimate scans.
    assert plan.count("FileScan") <= 12, (
        f"{name}: {plan.count('FileScan')} FileScans — an upstream subtree "
        "is being re-executed per reference; pin the small intermediate "
        "with .localCheckpoint(eager=False)"
    )
    if name not in GLOBAL_WINDOW_OK:
        glob = _unpartitioned_windows(df)
        assert not glob, (
            f"{name}: {glob} with empty partition spec — the whole input "
            "funnels through ONE task; aggregate to one row and "
            "crossJoin(broadcast) instead, or add to GLOBAL_WINDOW_OK with "
            "a proof the window input is bounded"
        )
