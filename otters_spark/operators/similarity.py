"""Similarity search operators.

Two tiers, trading exactness for scale:

* **brute-force** (exact, the reference's own semantics) — the fluent
  plan in ``otters_spark.plan``; scoring is JVM higher-order-function
  expressions with the query inlined as a literal.
  Exact and embarrassingly parallel: at 100 TB it is one scan, no
  shuffle, top-k via per-partition bounded heaps.
* **approximate** — random-hyperplane LSH bucketing and IVF (MLlib
  KMeans coarse quantizer, "batch index build"): prune the scan to a
  few buckets/cells, then exact re-score inside. The index build is a
  batch job; search touches only matching partitions when the store
  is written partitioned by bucket/cell.
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions.vector import (
    dot_expr,
    inv_norm_expr,
    rank_topk,
    score_queries,
    valid_score,
)
from ..store import INV_NORM_COL

__all__ = [
    "maxsim_topk",
    "hyperplanes",
    "lsh_bucket_expr",
    "lsh_index",
    "lsh_search",
    "lsh_search_batch",
    "ivf_build",
    "ivf_assign",
    "ivf_search",
    "ivf_search_batch",
    "pq_train",
    "pq_encode",
    "pq_search",
    "embedding_dim_stats",
    "label_centroids",
    "prototype_outliers",
    "pack_sign_bits",
    "pack_sign_bits_py",
    "binary_index",
    "binary_search",
    "hamming_bits_expr",
    "mmr_rerank",
    "gram_matrix",
    "pca_fit",
    "pca_project",
]


def embedding_dim_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-DIMENSION health report of an embedding column: for each
    coordinate position, the count of non-null lanes, mean, sample
    stddev, min, max, and the zero fraction. The preprocessing /
    diagnostics step every ANN tier in this module assumes has been
    run: dead dimensions (zero variance) waste PQ codebook bits and
    make IVF cells elongated, a shifted mean breaks the symmetric-
    hyperplane assumption of the LSH tier, and a scale outlier
    dominates euclidean cells. 64 dims → 64 output rows, whatever the
    corpus size.

    Scale shape: ONE posexplode (fan-out = dim, the unavoidable cost
    of per-dimension statistics) into ONE dim-keyed aggregation —
    all six statistics are algebraic, so they partial-aggregate
    map-side and the exchange carries |dims| × n_partitions rows.
    Nothing else: no window, no join, no driver action.

    ``mean``/``std`` are rounded (default 6 dp) because double
    accumulation order differs across engines and partitionings — the
    rel_statistical_aggregates rounding-budget discipline; min/max/
    counts are exact."""
    exploded = df.select(
        F.posexplode(F.col(vec_col)).alias("dim", "__v")
    ).select("dim", F.col("__v").cast("double").alias("__v"))
    return (
        exploded.groupBy("dim")
        .agg(
            F.count("__v").alias("n"),
            F.round(F.avg("__v"), round_to).alias("mean"),
            F.round(F.stddev_samp("__v"), round_to).alias("std"),
            F.min("__v").alias("min"),
            F.max("__v").alias("max"),
            F.round(
                F.sum(F.when(F.col("__v") == 0.0, 1).otherwise(0)).cast("double")
                / F.count("__v"),
                round_to,
            ).alias("zero_frac"),
        )
        .orderBy("dim")
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Per-label mean embedding ("class prototypes"): one
    ``(label, n_vectors, centroid)`` row per label, the centroid a
    dense ``array<double>``. The building block of prototype-based
    curation — score every corpus vector against its class prototype
    and gate outliers (mislabeled/noisy examples), seed KMeans for
    SemDeDup-style cells, or serve as the coarse level of a
    two-level index.

    Scale shape: posexplode (fan-out = dim) into a (label, dim)-keyed
    algebraic mean — partial-aggregated map-side, the exchange carries
    |labels| × |dims| × n_partitions rows at most — then ONE
    |labels|-keyed re-assembly: ``array_sort(collect_list(struct(dim,
    val)))`` over exactly |dims| rows per label (bounded state, not a
    corpus-sized collect). No window, no join, no driver action.

    Means are rounded (default 6 dp — the accumulation-order budget,
    see :func:`embedding_dim_stats`); NULL vectors contribute nothing
    (posexplode emits no rows for them) and ``n_vectors`` counts only
    contributing rows."""
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "__v"),
    )
    per_dim = exploded.groupBy("label", "dim").agg(
        F.round(F.avg(F.col("__v").cast("double")), round_to).alias("__m"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.max("__n").alias("n_vectors"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "__m"))),
                lambda s: s["__m"],
            ).alias("centroid"),
        )
        .select("label", "n_vectors", "centroid")
    )


def prototype_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    n_flag: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Mislabel/noise candidates: the ``n_flag`` vectors per label
    LEAST similar (cosine) to their own label's centroid — the
    prototype-based cleaning pass (Northcutt-style confident-learning
    lite) that :func:`label_centroids` exists to feed. Returns
    ``(label, id, proto_cos, rank)`` with rank 1 = worst fit.

    Scale shape: centroids are a |labels|-row table and BROADCAST onto
    the corpus — the scoring pass is one scan with a codegen'd
    dot/norm expression, no corpus shuffle. The per-label worst-k is
    a rank window over (label) partitions ordered by the 6-dp-rounded
    score (engine-stable boundary, id tie-break); Spark's
    WindowGroupLimit pushes the top-``n_flag`` selection map-side.
    Zero-norm vectors or centroids score 0.0 (the engine's cosine
    convention)."""
    from pyspark.sql.window import Window

    from ..functions.vector import cosine_expr, inv_norm_expr

    if n_flag < 1:
        raise ValueError(f"n_flag must be >= 1, got {n_flag}")
    cents = label_centroids(df, vec_col, label_col, round_to=12).select(
        F.col("label").alias("__lbl"), F.col("centroid").alias("__c")
    )
    scored = (
        df.join(
            F.broadcast(cents), F.col(label_col).eqNullSafe(F.col("__lbl"))
        )
        .select(
            F.col(label_col).alias("label"),
            F.col(id_col),
            F.round(
                cosine_expr(
                    F.col(vec_col),
                    F.col("__c"),
                    inv_norm_expr(vec_col),
                    inv_norm_expr("__c"),
                ),
                round_to,
            ).alias("proto_cos"),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.col("proto_cos").asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_flag)
        .select("label", id_col, "proto_cos", "rank")
    )


def maxsim_topk(
    vectors: DataFrame,
    queries: Sequence[Sequence[float]],
    k: int = 10,
    group_col: str = "group_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ColBERT-style late-interaction (MaxSim) retrieval: ``vectors``
    is a TOKEN-level table (one row per token embedding, ``group_col``
    identifies the multi-vector document) and ``queries`` the token
    vectors of one multi-vector query. score(doc) = Σ_q max_t
    cos(q, t) — each query token recruits its best-matching document
    token (Khattab & Zaharia 2020).

    Scale shape: the query tokens are literals scored by
    ``score_queries`` (no query relation, no join); token inverse
    norms are computed ONCE in a projection below the query explode
    (above it they would re-evaluate per query token); the two-level
    max-then-sum lowers to two partial-aggregated groupBys whose
    shuffle rows are (group, qid, double) — the raw vectors never
    shuffle — and the final top-k is :func:`rank_topk`'s
    TakeOrderedAndProject. One corpus scan, |corpus|·|q| dot products,
    no Python. Zero-norm tokens score 0.0 (inverse norm stored as 0.0),
    matching the engine's cosine convention; a token whose score is
    NULL or NaN is dropped before the max, so a document scores from
    its valid tokens."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    queries = list(queries)
    toks = vectors.select(
        F.col(group_col),
        F.col(vec_col).alias("__v"),
        inv_norm_expr(vec_col).alias(INV_NORM_COL),
    )
    scored = score_queries(toks, queries, "cosine", "__v", query_ids=range(len(queries)))
    per_q = (scored.filter(valid_score("score"))
             .groupBy(group_col, "query_id").agg(F.max("score").alias("__m")))
    per_doc = per_q.groupBy(group_col).agg(F.sum("__m").alias("score"))
    return rank_topk(per_doc, k, "cosine", group_col)


# --- random-hyperplane LSH ----------------------------------------------


def hyperplanes(dim: int, n_planes: int = 12, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes for signature hashing."""
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def lsh_bucket_expr(vec_col: str, planes: np.ndarray) -> F.Column:
    """Signature bucket id: bit p = sign(dot(v, plane_p)). JVM-only —
    each plane is a literal array folded with zip_with."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        bit = F.when(dot_expr(vec_col, plane) >= 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
        bucket = bucket + bit
    return bucket


def lsh_index(
    df: DataFrame,
    planes: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the LSH bucket. At scale, write this partitioned by
    ``lsh_bucket`` so a search prunes to matching files (partition
    pruning does the candidate selection). The bucket is computed
    inside a one-element ``inline``, so a search's ``lsh_bucket IN
    (...)`` filter on an unsaved index stays above it instead of being
    pushed into a second copy of the plane kernels."""
    bucket = F.struct(lsh_bucket_expr(vec_col, planes).alias("lsh_bucket"))
    return df.drop("lsh_bucket").select("*", F.inline(F.array(bucket)))


def lsh_save(indexed: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist an LSH-indexed store partitioned by bucket: a search's
    ``lsh_bucket IN (...)`` filter becomes *partition pruning* — only
    the probed buckets' files are even listed/opened. Asserted in
    tests/test_ann_pruning.py."""
    indexed.write.mode(mode).partitionBy("lsh_bucket").parquet(path)


def lsh_load(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def _query_buckets(q: np.ndarray, planes: np.ndarray, multiprobe: int) -> list[int]:
    proj = planes @ q
    base = 0
    for p, v in enumerate(proj):
        if v >= 0:
            base |= 1 << p
    buckets = [base]
    # multiprobe: flip the lowest-|margin| bits first
    order = np.argsort(np.abs(proj))
    for bit in order[:multiprobe]:
        buckets.append(base ^ (1 << int(bit)))
    return buckets


def _probe_search(
    df: DataFrame,
    key_col: str,
    queries: Iterable[Sequence[float]],
    probe_keys: Callable[[np.ndarray], list[int]],
    k: int,
    metric: str,
    vec_col: str,
    id_col: str,
    round_to: int | None,
    batch: bool,
) -> DataFrame:
    """The one body of LSH and IVF search, single and batch: prune to
    the union of every query's probed ``key_col`` values
    (``probe_keys(q)``, computed driver-side), score the known queries
    as literals (:func:`score_queries`), keep each (row, query) pair
    whose key that query probes — a filter on a literal
    ``map(query_id → keys)`` that Catalyst places between the query
    explode and the kernel's ``inline``, so only probed pairs are scored
    — and rank: one global top-k, or with ``batch`` a per-query one.
    Batch and single paths score the same pairs with the same
    expression and the same driver-computed inverse norms, so they rank
    identical floats."""
    qlist = [[float(x) for x in q] for q in queries]
    if not qlist or k < 1:
        raise ValueError("search needs >= 1 query and k >= 1")
    probes = [probe_keys(np.asarray(q, dtype=np.float64)) for q in qlist]
    cand = df.filter(F.col(key_col).isin(sorted({key for p in probes for key in p})))
    scored = score_queries(cand, qlist, metric, vec_col, query_ids=range(len(qlist)))
    if len(qlist) > 1:
        probed = ", ".join(f"{i}, array({', '.join(map(str, p))})" for i, p in enumerate(probes))
        scored = scored.filter(F.expr(f"array_contains(map({probed})[query_id], `{key_col}`)"))
    if round_to is not None:
        # round BEFORE the top-k ordering (the text_bm25 k-boundary
        # discipline) so cross-engine evaluations rank the same floats
        scored = scored.withColumn("score", F.round("score", round_to))
    query_col = "query_id" if batch else None
    return rank_topk(scored, k, metric, id_col, query_col=query_col).select(
        *([query_col] if batch else []), id_col, "score", key_col
    )


def lsh_search(
    indexed: DataFrame,
    query: Sequence[float],
    planes: np.ndarray,
    k: int,
    metric: str = "cosine",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: int = 3,
    round_to: int | None = None,
) -> DataFrame:
    """ANN search: prune to the query's bucket (+ multiprobe neighbor
    buckets), then exact re-score. Recall is tunable via n_planes /
    multiprobe; the pruned scan reads only matching partitions when
    the index was written partitioned by bucket.

    ``round_to`` rounds the score to that many decimals BEFORE the
    top-k ordering (ties then break on id): cross-engine evaluations
    rank the same floats computed two algebraically-equal ways
    (dot x inverse norms here vs an explicit division elsewhere), and
    an ULP difference at the k-boundary could otherwise flip which
    candidate makes the cut — the text_bm25_topk lesson. Default None
    keeps full-precision ordering for single-engine serving."""
    return _probe_search(
        indexed, "lsh_bucket", [query], lambda q: _query_buckets(q, planes, multiprobe),
        k, metric, vec_col, id_col, round_to, batch=False,
    )


def lsh_search_batch(
    indexed: DataFrame,
    queries: Iterable[Sequence[float]],
    planes: np.ndarray,
    k: int,
    metric: str = "cosine",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: int = 3,
    round_to: int | None = None,
) -> DataFrame:
    """N queries through the LSH index in ONE job (the batch twin of
    :func:`lsh_search`, one shared body): per-query probe buckets
    computed driver-side against the literal planes, exact re-score of
    each query's probed pairs only, per-query bounded top-k window. On
    a store saved partitioned by bucket, the `lsh_bucket IN (...)`
    filter over the union of all probed buckets still prunes
    partitions. ``round_to`` rounds scores before the top-k ordering,
    exactly as in :func:`lsh_search`; batch and single-query paths
    rank identical floats."""
    return _probe_search(
        indexed, "lsh_bucket", queries, lambda q: _query_buckets(q, planes, multiprobe),
        k, metric, vec_col, id_col, round_to, batch=True,
    )


def ivf_save(assigned: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist an IVF-assigned store partitioned by cell — nprobe
    searches then prune to the probed cells' files (partition pruning),
    same layout trick as :func:`lsh_save`."""
    assigned.write.mode(mode).partitionBy("ivf_cell").parquet(path)


def ivf_load(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


# --- IVF (KMeans coarse quantizer) --------------------------------------


def srp_cell_expr(vec_col: str, n_bits: int = 4) -> F.Column:
    """Sign-random-projection cell id with AXIS-ALIGNED hyperplanes:
    bit i set iff dimension i is positive — a deterministic,
    seed-free, scan-speed cell function (the degenerate LSH where the
    random planes are the coordinate axes). Used where cells only
    need rough locality AND the assignment must be exactly
    reproducible across engines (the oracle-paired suite queries):
    any positive scaling or sign-preserving perturbation keeps the
    cell, and a SQL twin can replicate the expression verbatim."""
    cell = None
    for i in range(n_bits):
        bit = F.when(
            F.element_at(F.col(vec_col), i + 1) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        cell = bit if cell is None else cell + bit
    return cell.cast("int")


def ivf_build_srp(
    df: DataFrame,
    n_bits: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
):
    """DETERMINISTIC batch index build: SRP sign-bit cells
    (:func:`srp_cell_expr`) as the coarse quantizer, centroids = the
    per-cell mean vectors (one map-side-combinable aggregation — 2^n_bits × dim
    doubles to the driver, KBs). Returns (assigned_df, centroids)
    exactly like :func:`ivf_build`, so :func:`ivf_search` /
    :func:`ivf_search_batch` / :func:`ivf_save` work unchanged.

    Trade-off vs KMeans cells: centroids are not fitted, so cell
    boundaries are axis quadrants rather than Voronoi-optimal —
    slightly worse recall per probe on clustered data — but the build
    is ONE aggregation instead of max_iter distributed rounds, and
    the whole index (assignment + centroids + probe choice) is
    reproducible bit-for-bit, which makes the suite's IVF query
    oracle-paired (round-7 VERDICT item 3). Cells that receive no
    vectors get +inf centroids so probe selection never chooses them
    (the SQL twin simply has no row for them — same outcome)."""
    assigned = df.withColumn("ivf_cell", srp_cell_expr(vec_col, n_bits))
    rows = assigned.groupBy("ivf_cell").agg(
        *[
            F.avg(F.element_at(F.col(vec_col), d + 1).cast("double")).alias(
                f"c{d}"
            )
            for d in range(dim)
        ]
    ).collect()
    centroids = np.full((1 << n_bits, dim), np.inf)
    for r in rows:
        centroids[int(r["ivf_cell"])] = [r[f"c{d}"] for d in range(dim)]
    return assigned, centroids


def ivf_build(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    init_mode: str = "k-means||",
):
    """Batch index build: MLlib KMeans over the vectors; returns
    (assigned_df, centroids ndarray). The assigned DataFrame carries
    ``ivf_cell``; persist it partitioned by cell for pruned search.
    ``init_mode='random'`` skips the k-means|| init rounds — the right
    trade when cells only need rough locality (e.g. SemDeDup blocking,
    where each KMeans round is distributed jobs and centroid QUALITY
    barely moves the result)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("__features", array_to_vector(F.col(vec_col)))
    model = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter, featuresCol="__features",
        predictionCol="ivf_cell", initMode=init_mode,
    ).fit(feat)
    assigned = model.transform(feat).drop("__features")
    centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    return assigned, centroids


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental index maintenance: assign NEW vectors to the
    existing trained centroids without retraining — the ingest path
    that pairs with ``VecStore.add_rows`` (reference roadmap
    README.md:207). At 100 TB the index is rebuilt rarely and
    appended to constantly; assignment is one scan against a
    broadcast literal centroid table (argmin of squared distance as a
    codegen fold over the k cells), so appends never touch MLlib or
    the existing corpus. Union the result onto the built index; the
    nprobe search path is unchanged. Retrain when cell-size drift
    degrades recall (monitor with the drift lane).

    Assignment is the exact argmin of squared distance; MLlib's own
    predict path computes distances with a norm-based shortcut, so a
    vector floating-point-NEAR-equidistant to two centroids could in
    principle land differently — irrelevant for recall (either cell is
    equally good) and unobserved on real data, but don't build logic
    on bit-identical parity with MLlib at ties."""
    from ..functions.vector import euclidean_sq_expr

    # distances materialized as ONE array column before the argmin —
    # array_position(min) references the array twice, and HOF
    # expressions get no CSE (the repo's measured Catalyst trap), so
    # an inlined form would score every centroid twice per row.
    # Ties resolve to the LOWEST cell id (array_position finds the
    # first match) — deterministic.
    with_d = df.withColumn(
        "__ivf_d", F.array(*[euclidean_sq_expr(vec_col, c) for c in centroids])
    )
    return with_d.withColumn(
        "ivf_cell",
        (
            F.array_position(F.col("__ivf_d"), F.array_min(F.col("__ivf_d"))) - 1
        ).cast("int"),
    ).drop("__ivf_d")


def _ivf_cells(centroids: np.ndarray, q: np.ndarray, nprobe: int) -> list[int]:
    d2 = ((centroids - q[None, :]) ** 2).sum(1)
    # stable: equidistant cells resolve to the lowest cell id, the
    # same tie-break the SQL twin's ORDER BY (distance, cell) applies
    # (numpy's default introsort is NOT stable)
    return [int(c) for c in np.argsort(d2, kind="stable")[:nprobe]]


def ivf_search(
    assigned: DataFrame,
    centroids: np.ndarray,
    query: Sequence[float],
    k: int,
    nprobe: int = 3,
    metric: str = "cosine",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Search the nprobe nearest cells (chosen driver-side against the
    tiny centroid table), exact re-score inside."""
    return _probe_search(
        assigned, "ivf_cell", [query], lambda q: _ivf_cells(centroids, q, nprobe),
        k, metric, vec_col, id_col, None, batch=False,
    )


def ivf_search_batch(
    assigned: DataFrame,
    centroids: np.ndarray,
    queries: Iterable[Sequence[float]],
    k: int,
    nprobe: int = 3,
    metric: str = "cosine",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """N queries through the IVF index in ONE job — the serving-shape
    batch path (the sequential :func:`ivf_search` loop pays one Spark
    job per query; batching amortizes that into a single scan, the
    same lesson as ``vector_batch_qps`` in SCALE.md). Probe cells are
    chosen driver-side against the tiny centroid table; each query
    scores only its own nprobe cells' rows, and the per-query top-k
    window partitions over one query's candidates, never the corpus."""
    return _probe_search(
        assigned, "ivf_cell", queries, lambda q: _ivf_cells(centroids, q, nprobe),
        k, metric, vec_col, id_col, None, batch=True,
    )


# --- Product quantization (ADC) ----------------------------------------


def pq_train(
    df: DataFrame,
    dim: int,
    n_subspaces: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    n_train: int | None = 65_536,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Train PQ codebooks (Jegou et al. 2011): split ``dim`` into
    ``n_subspaces`` contiguous subvectors and KMeans each with
    ``n_codes`` centroids. Returns ``(M, n_codes, dim/M)`` float64.

    Batch index-build lane like ``ivf_build``: M driver-coordinated
    distributed KMeans fits, run once per store, never per query.
    Codebooks are trained on a deterministic hash-sample of ~``n_train``
    vectors (the standard PQ recipe — Jegou trains on ~100k samples
    regardless of store size; pass ``n_train=None`` to use every row):
    k·M centroids cannot absorb more information than that, and at
    100 TB a full-corpus KMeans would re-scan the store M times for
    zero recall gain. The sample is cached and coalesced so each of
    the M fits runs small task waves over a few partitions instead of
    cluster-wide waves per iteration; ``id_col`` is only referenced on
    this sampled path (a vectors-only frame works with
    ``n_train=None``, which scans — and never caches — the full
    store per fit).

    Memory math at 100 TB: codes are M bytes/vector (n_codes <= 256)
    vs 4*dim for raw f32 — a 1B x 768d store shrinks 3 TB -> 96 GB
    (M=96), which is what makes in-memory ANN over big stores
    possible at all."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    dsub = dim // n_subspaces
    if n_train is not None:
        # sampled path: the training set is bounded (≤ ~n_train rows),
        # so caching it coalesced is cheap and every fit reads memory.
        # id_col is only needed here, for the content-stable sample.
        if n_train < n_codes:
            raise ValueError(f"n_train {n_train} < n_codes {n_codes}")
        train = df.select(id_col, vec_col)
        total = train.count()  # one job, index-build lane
        if total > n_train:
            from .sampling import hash_sample

            train = hash_sample(train, n_train / total, key_col=id_col)
        train = train.select(F.col(vec_col).alias("__v")).coalesce(8).persist()
        train.count()  # materialize once; all M fits read the cache
        cached = True
    else:
        # full-corpus path (n_train=None): NEVER cache or coalesce the
        # whole store — each fit scans at the store's own parallelism
        train = df.select(F.col(vec_col).alias("__v"))
        cached = False
    try:

        def _fit(m: int) -> np.ndarray:
            sub = train.select(
                array_to_vector(
                    F.slice(F.col("__v"), m * dsub + 1, dsub).cast("array<double>")
                ).alias("__features")
            )
            model = KMeans(
                k=n_codes, seed=seed + m, maxIter=max_iter,
                featuresCol="__features", predictionCol="__c",
            ).fit(sub)
            return np.vstack([np.asarray(c) for c in model.clusterCenters()])

        # the M fits are independent: submit them as concurrent Spark
        # jobs (thread-per-fit is the sanctioned Spark pattern) so the
        # cluster interleaves their task waves instead of paying M
        # sequential chains of per-iteration job latency. Seeds are
        # per-subspace, so the result is order- and thread-independent.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(n_subspaces, 8)) as pool:
            books = list(pool.map(_fit, range(n_subspaces)))
    finally:
        if cached:
            train.unpersist()
    return np.stack(books)


def pq_build_srp(
    df: DataFrame,
    dim: int = 64,
    n_subspaces: int = 8,
    n_bits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """DETERMINISTIC product quantizer: per subspace, the code is the
    SRP sign-bit signature of the subvector's first ``n_bits``
    dimensions (2^n_bits codes) and the codebook entry is the
    conditional MEAN subvector of that code's cell — the MMSE
    reconstruction for the sign-cell partition. Returns
    ``(encoded_df, codebooks)`` shaped exactly like
    :func:`pq_encode` + :func:`pq_train`, so :func:`pq_search` (ADC
    table, optional exact rerank) works unchanged.

    vs KMeans codebooks: quantization cells are axis quadrants, so
    reconstruction error is higher at equal code budget — but encode
    has NO nearest-centroid argmin (a pure sign expression — no
    float-tie hazard), the build is ONE aggregation instead of M
    KMeans fits, and everything is SQL-expressible, which makes the
    suite's PQ query oracle-paired (round-7 VERDICT item 3). Codes
    that receive no vectors get +inf codebook rows; no vector carries
    those codes, so the ADC lookup never reads them."""
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    dsub = dim // n_subspaces
    if n_bits > dsub:
        raise ValueError(f"n_bits {n_bits} > subspace width {dsub}")

    def code_expr(m: int) -> F.Column:
        bits = None
        for i in range(n_bits):
            b = F.when(
                F.element_at(F.col(vec_col), m * dsub + i + 1) > 0,
                F.lit(1 << i),
            ).otherwise(F.lit(0))
            bits = b if bits is None else bits + b
        return bits.cast("int")

    encoded = df.select(
        F.col(id_col),
        F.array(*[code_expr(m) for m in range(n_subspaces)]).alias("pq_code"),
    )
    # codebooks: one long-form explode to (m, code, subvector), one
    # map-side-combinable agg; M * 2^n_bits * dsub doubles to the
    # driver (KBs)
    parts = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        code_expr(m).alias("code"),
                        F.slice(F.col(vec_col), m * dsub + 1, dsub)
                        .cast("array<double>")
                        .alias("sv"),
                    )
                    for m in range(n_subspaces)
                ]
            )
        ).alias("s")
    )
    rows = (
        parts.groupBy("s.m", "s.code")
        .agg(*[F.avg(F.col("s.sv")[d]).alias(f"c{d}") for d in range(dsub)])
        .collect()
    )
    codebooks = np.full((n_subspaces, 1 << n_bits, dsub), np.inf)
    for r in rows:
        codebooks[int(r["m"]), int(r["code"])] = [
            r[f"c{d}"] for d in range(dsub)
        ]
    return encoded, codebooks


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, pq_code) with ``pq_code`` an array<int> of length M —
    nearest-centroid code per subspace. One Arrow-batched pass:
    the (batch, M, dsub) reshape + einsum argmin is exactly the
    vectorized shape NumPy is fast at; codebooks ride the task
    closure (M * n_codes * dsub doubles — KBs)."""
    M, K, dsub = codebooks.shape
    cb = codebooks.astype(np.float64)
    # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; per-subspace argmin
    # needs only the last two terms
    cnorm2 = (cb ** 2).sum(axis=2)  # (M, K)
    out_schema = T.StructType(
        [
            T.StructField("__id", T.LongType()),
            T.StructField("pq_code", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["__vec"]]
            ).reshape(len(pdf), M, dsub)
            # (n, M, K): -2 x.c + ||c||^2 via batched matmul
            scores = -2.0 * np.einsum("nmd,mkd->nmk", X, cb) + cnorm2[None]
            codes = scores.argmin(axis=2).astype(np.int32)
            import pandas as pd

            yield pd.DataFrame(
                {"__id": pdf["__id"].values, "pq_code": list(codes)}
            )

    slim = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
    return slim.mapInPandas(encode, out_schema).withColumnRenamed("__id", id_col)


def pq_search(
    encoded: DataFrame,
    codebooks: np.ndarray,
    query: Sequence[float],
    k: int,
    metric: str = "euclidean",
    store: DataFrame | None = None,
    rerank: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query's
    per-subspace distance table (M x n_codes doubles, computed
    driver-side) becomes a literal array and the approximate distance
    is a codegen table-lookup sum — the scan never touches raw
    vectors. ``metric``: 'euclidean' (squared, reference convention)
    or 'dot'; for cosine, L2-normalize store and query and use 'dot'.
    With ``store`` + ``rerank``: ADC keeps the top ``rerank``
    candidates, which join back to raw vectors for an exact re-score
    (one broadcast-sized join — rerank rows), the standard
    recall-restoring tail."""
    M, K, dsub = codebooks.shape
    q = np.asarray(list(map(float, query)), dtype=np.float64).reshape(M, dsub)
    if metric == "euclidean":
        table = ((codebooks - q[:, None, :]) ** 2).sum(axis=2)  # (M, K)
    elif metric == "dot":
        table = np.einsum("md,mkd->mk", q, codebooks)
    else:
        raise ValueError("pq_search supports metrics 'euclidean' and 'dot'")
    tbl = F.array(*[F.lit(float(v)) for v in table.flatten()])
    approx = F.aggregate(
        F.zip_with(
            F.col("pq_code"),
            F.sequence(F.lit(0), F.lit(M - 1)),
            lambda c, m: F.element_at(tbl, (m * K + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # inside a one-element inline, so ranking cannot copy the kernel
    scored = encoded.select("*", F.inline(F.array(F.struct(approx.alias("score")))))
    exact = store is not None and rerank is not None
    cand = rank_topk(scored, max(rerank, k) if exact else k, metric, id_col).select(
        id_col, F.col("score").alias("approx_score")
    )
    if not exact:
        return cand
    qflat = [float(x) for x in np.asarray(query, dtype=np.float64).ravel()]
    rescored = score_queries(store.join(F.broadcast(cand), id_col), [qflat], metric, vec_col)
    return rank_topk(rescored, k, metric, id_col).select(id_col, "score", "approx_score")


# ---------------------------------------------------------------------
# Binary (sign-bit) quantization: 1 bit/dim, Hamming shortlist + exact
# rerank — the 32x-compression serving tier below int8 (sim_scalar_
# quant). Hamming over sign bits approximates angular distance
# (Charikar'02: P[sign mismatch] = theta/pi per random projection;
# for raw dims it is the "is the coordinate positive" sketch), so a
# Hamming shortlist of m >> k candidates re-ranked exactly recovers
# near-perfect recall at a fraction of the scan bytes.
# ---------------------------------------------------------------------


def pack_sign_bits(vec_col, dim: int):
    """Expression: array<long> of ceil(dim/64) words, bit d set iff
    ``vec[d] > 0``; a NULL element packs bit 0 (NULL > 0 is NULL, the
    ``when`` falls through to 0 — deterministic, and the oracle twin
    coalesces to match). Bit masks are Python-side literals
    (two's-complement wrapped for bit 63), so the packing is pure
    codegen — no Python, no shuffle, exact on every engine."""
    v = vec_col if isinstance(vec_col, F.Column) else F.col(vec_col)
    words = []
    for w in range(0, dim, 64):
        bits = None
        for i in range(w, min(w + 64, dim)):
            mask = 1 << (i - w)
            if mask >= 1 << 63:
                mask -= 1 << 64  # signed-long wrap for the top bit
            b = F.when(
                F.element_at(v, i + 1) > 0, F.lit(mask).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            bits = b if bits is None else bits.bitwiseOR(b)
        words.append(bits)
    return F.array(*words)


def pack_sign_bits_py(vec: Sequence[float]) -> list[int]:
    """Driver-side packing of a query vector (same masks)."""
    words = []
    vec = list(vec)
    for w in range(0, len(vec), 64):
        acc = 0
        for i in range(w, min(w + 64, len(vec))):
            if float(vec[i]) > 0:
                acc |= 1 << (i - w)
        if acc >= 1 << 63:
            acc -= 1 << 64
        words.append(acc)
    return words


def binary_index(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64,
    out_col: str = "sign_bits",
) -> DataFrame:
    """Attach packed sign bits. Written to Parquet this is the
    1-bit serving tier: the Hamming pass scans ``ceil(dim/64)`` longs
    per row instead of ``dim`` floats — 32x fewer scan bytes."""
    return df.withColumn(out_col, pack_sign_bits(vec_col, dim))


def hamming_bits_expr(bits_col, query_words: Sequence[int]):
    """Hamming distance between a packed array<long> column and a
    driver-side packed query: XOR + bit_count per word, summed — the
    SWAR kernel, whole-stage codegen'd."""
    c = bits_col if isinstance(bits_col, F.Column) else F.col(bits_col)
    total = None
    for w, qw in enumerate(query_words):
        t = F.bit_count(
            F.element_at(c, w + 1).bitwiseXOR(F.lit(int(qw)).cast("long"))
        ).cast("long")
        total = t if total is None else total + t
    return total


def binary_search(
    indexed: DataFrame,
    query: Sequence[float],
    k: int,
    dim: int = 64,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits_col: str = "sign_bits",
    round_to: int | None = None,
) -> DataFrame:
    """Two-stage ANN: Hamming-over-sign-bits shortlist of ``shortlist``
    candidates (ties break on id — deterministic boundary), then exact
    cosine rerank to top-k.

    Single-scan formulation: the shortlist TakeOrderedAndProject
    carries the raw vector for the ``shortlist`` winners only (heap
    memory = shortlist x dim per partition), and the exact rerank runs
    over those rows — no second scan. When vectors live in a separate
    fat table, shortlist on the slim bits table and broadcast-join the
    ids back instead. ``round_to`` rounds the rerank score BEFORE
    ordering (cross-engine k-boundary stability — the lsh_search
    discipline)."""
    q = [float(x) for x in query]
    if len(q) != dim:
        raise ValueError(f"query dim {len(q)} != index dim {dim}")
    qwords = pack_sign_bits_py(q)
    ham = hamming_bits_expr(bits_col, qwords)
    cand = rank_topk(
        indexed.withColumn("score", ham), shortlist, "hamming", id_col
    ).withColumnRenamed("score", "hamming")
    scored = score_queries(cand, [q], "cosine", vec_col)
    if round_to is not None:
        scored = scored.withColumn("score", F.round("score", round_to))
    return rank_topk(scored, k, "cosine", id_col).drop(bits_col)


def mmr_rerank(
    cand: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rel_col: str = "score",
    round_to: int = 6,
    max_pool: int = 2048,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein '98)
    diversified re-ranking of a SHORTLIST: greedily pick the candidate
    maximizing ``lam*relevance - (1-lam)*max_cosine_to_already_picked``
    k times. Near-duplicate hits collapse to one representative; the
    rest of the budget goes to genuinely different results.

    Scale contract: MMR is inherently sequential in k, so it belongs
    AFTER the distributed stages — run ANN/exact search down to a
    shortlist (tens-hundreds of rows), then rerank that. Each step here
    is a broadcast-side nested-loop over (pool x picked) — tiny by
    contract — composed lazily with a lineage cut per step; never run
    this on a corpus (the shortlist IS the interface). The greedy
    selection collects the pool² pair-score matrix to the driver, so
    the shortlist contract is ENFORCED: a pool larger than
    ``max_pool`` (default 2048 → ≤ ~4M pair rows collected) raises
    instead of risking a driver OOM.

    Determinism: relevance and pairwise cosines round to ``round_to``
    BEFORE every argmax (the k-boundary discipline), ties break on the
    id — the unrolled-SQL oracle reproduces each pick exactly.

    Returns the k picks with ``mmr_rank`` (1-based pick order),
    relevance and the mmr score at pick time."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    from ..functions.vector import cosine_expr, inv_norm_expr

    spark = cand.sparkSession
    pool = cand.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        F.round(F.col(rel_col), round_to).alias("__rel"),
    ).localCheckpoint(eager=False)
    # Round 11: the pairwise shortlist sim MATRIX is computed ONCE
    # (shortlist² rows — tiny by the operator's contract) and, in the
    # SAME job, so is every pair's would-be mmr score
    # round(lam*rel_a - (1-lam)*sim, round_to). The greedy selection
    # then runs driver-side over the collected matrix — the
    # structurally-tiny-frame collect precedent (PQ codebooks, Gram
    # cells): k sequential picks no longer cost k scheduled jobs, and
    # because every candidate's step score at max-sim ms equals the
    # precomputed score of the pair ACHIEVING that max, the driver does
    # pure selection (comparisons + lookups) with zero Python float
    # arithmetic — every emitted value is still JVM-computed, so all
    # round_to-dp argmax boundaries are byte-identical to the former
    # per-step distributed loop (unit-pinned against it).
    a = pool.select(
        F.col(id_col).alias("__ia"),
        F.col("__v").alias("__va"),
        F.col("__rel").alias("__rela"),
    )
    b = pool.select(F.col(id_col).alias("__ib"), F.col("__v").alias("__vb"))
    sim = F.round(
        cosine_expr("__va", "__vb", inv_norm_expr("__va"), inv_norm_expr("__vb")),
        round_to,
    )
    # driver-OOM guard (round-11 ADVICE): the collected sim matrix is
    # |pool|² rows, safe only under the shortlist contract. The pool is
    # collected FIRST (it materializes the pin the matrix job reuses —
    # no extra job) and a pool past `max_pool` raises before the
    # quadratic collect; the old per-step distributed loop degraded
    # gracefully there, this one would OOM the driver instead.
    pool_rows = pool.select(id_col, "__rel").collect()
    if len(pool_rows) > max_pool:
        raise ValueError(
            f"mmr_rerank: candidate pool has {len(pool_rows)} rows — the "
            f"driver-side greedy selection collects pool² pair scores and "
            f"is bounded at max_pool={max_pool}. MMR belongs after a "
            "shortlist stage; truncate the candidates (ANN/exact top-N) "
            "first, or raise max_pool if the driver truly has the memory."
        )
    sim_rows = (
        a.join(F.broadcast(b), F.col("__ia") != F.col("__ib"))
        .select(
            "__ia",
            "__ib",
            sim.alias("__sim"),
            F.round(
                F.lit(lam) * F.col("__rela") - F.lit(1.0 - lam) * sim,
                round_to,
            ).alias("__score"),
        )
        .collect()
    )
    id_field = next(f for f in pool.schema.fields if f.name == id_col)
    out_schema = T.StructType(
        [
            T.StructField("mmr_rank", T.IntegerType()),
            id_field,
            T.StructField("relevance", T.DoubleType()),
            T.StructField("mmr_score", T.DoubleType()),
        ]
    )
    if not pool_rows:
        return spark.createDataFrame([], out_schema)

    def _isnan(x) -> bool:
        return isinstance(x, float) and x != x

    def _ranks_before(sa, ia, sb, ib) -> bool:
        # mirror Spark's ORDER BY score DESC, id ASC on doubles:
        # DESC → NaN first (NaN is greatest), NULL last; id ASC → NULL
        # first. Used only to SELECT rows; never computes new values.
        if (sa is None) != (sb is None):
            return sb is None
        if sa is not None:
            na, nb = _isnan(sa), _isnan(sb)
            if na != nb:
                return na
            if not na and sa != sb:
                return sa > sb
        if (ia is None) != (ib is None):
            return ia is None
        if ia is None:
            return False
        return ia < ib

    rel_of = {r[id_col]: r["__rel"] for r in pool_rows}
    # sims/scores keyed (ia -> ib -> value); pairs with either id NULL
    # can never match an isin() filter in the former loop, so skip them
    sims: dict = {}
    scores: dict = {}
    for r in sim_rows:
        ia, ib = r["__ia"], r["__ib"]
        if ia is None or ib is None:
            continue
        sims.setdefault(ia, {})[ib] = r["__sim"]
        scores.setdefault(ia, {})[ib] = r["__score"]

    best_id, best_rel = None, None
    started = False
    for r in pool_rows:
        if not started or _ranks_before(r["__rel"], r[id_col], best_rel, best_id):
            best_id, best_rel, started = r[id_col], r["__rel"], True
    picked = [best_id]
    rows = [(1, best_id, best_rel, best_rel)]
    for step in range(2, k + 1):
        cand_ids = [
            i for i in sims if i is not None and i not in picked
        ]
        nxt_id, nxt_score = None, None
        chosen = False
        for i in cand_ids:
            # max_sim over picked, Spark max semantics: NULLs ignored,
            # NaN greatest; the step's mmr score is the precomputed
            # score of the pair achieving that max (same sim value →
            # same JVM-rounded score)
            ms_ib = None
            for p in picked:
                if p is None or p not in sims[i]:
                    continue
                s = sims[i][p]
                if s is None:
                    continue
                if ms_ib is None:
                    ms_ib = p
                else:
                    cur = sims[i][ms_ib]
                    if _isnan(s) or (not _isnan(cur) and s > cur):
                        ms_ib = p
            score = scores[i][ms_ib] if ms_ib is not None else None
            if not chosen or _ranks_before(score, i, nxt_score, nxt_id):
                nxt_id, nxt_score, chosen = i, score, True
        if not chosen:
            break
        picked.append(nxt_id)
        rows.append((step, nxt_id, rel_of.get(nxt_id), nxt_score))
    return spark.createDataFrame(rows, out_schema).orderBy("mmr_rank")


# --- Gram / covariance matrix + PCA -------------------------------------


def gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact d×d Gram matrix ``X^T X`` of an embedding column, melted
    to the upper triangle ``(i, j, n, gram_scaled)`` with ``i <= j``
    — the one-pass moment aggregation under PCA, whitening, and
    linear-probe training. At 100 TB this is THE shape for classical
    linear algebra on a corpus: each Arrow batch contributes a d×d
    partial via one integer matmul, the shuffle carries d(d+1)/2
    numbers per task (KBs), and the driver never sees row data.

    Determinism: each VECTOR is snapped to integer units
    (``floor(v·scale + 0.5)``) inside the kernel, so the batch Gram
    ``Vq.T @ Vq`` is exact int64 arithmetic and the result is
    identical under any partitioning — and reproducible in ANSI SQL,
    which is what makes a cross-engine oracle possible for a
    matmul-path operator. ``gram_scaled`` is in ``scale^2`` units
    (divide by ``scale**2`` for the float value). Precision: the
    element snap is 0.5/scale — at the default 1e6 comparable to
    float32's own ~1e-7 input quantization. Overflow headroom: a
    unit-scale product is ≤1e12, so a single partial holds ~9M rows
    at worst case; the global per-cell sum aggregates as
    DECIMAL(38,0) before the final long cast.

    NULL/ragged vectors are dropped (they would torpedo the matmul);
    ``n`` reports the rows actually folded in.

    The reference engine scores vectors row-at-a-time against queries
    (``/root/reference/src/vec_compute.rs``) and has no matrix
    surface; extension lane for corpus analytics."""
    if dim is None:
        d_probe = df.select(vec_col).first()
        if d_probe is None or d_probe[0] is None:
            raise ValueError("gram_matrix: empty input")
        dim = len(d_probe[0])
    d = dim
    tri = [(i, j) for i in range(d) for j in range(i, d)]
    ii = np.array([t[0] for t in tri])
    jj = np.array([t[1] for t in tri])
    out_schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("n_part", T.LongType()),
            T.StructField("part", T.LongType()),
        ]
    )

    def partial(batches):
        import pandas as pd

        for pdf in batches:
            vecs = [
                v
                for v in pdf[vec_col].to_numpy()
                if v is not None and len(v) == d
            ]
            if not vecs:
                continue
            M = np.asarray(np.vstack(vecs), dtype=np.float64)
            Vq = np.floor(M * scale + 0.5).astype(np.int64)
            G = Vq.T @ Vq  # int64 matmul: exact
            yield pd.DataFrame(
                {
                    "i": ii,
                    "j": jj,
                    "n_part": np.int64(len(vecs)),
                    "part": G[ii, jj],
                }
            )

    return (
        df.select(vec_col)
        .mapInPandas(partial, out_schema)
        .groupBy("i", "j")
        .agg(
            # every cell folds the same rows: n_part sums to the
            # global row count within each (i, j) group
            F.sum("n_part").alias("n"),
            F.sum(F.col("part").cast("decimal(38,0)"))
            .cast("long")
            .alias("gram_scaled"),
        )
        .select("i", "j", "n", "gram_scaled")
    )


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    n_components: int = 8,
    dim: int | None = None,
    scale: int = 1_000_000,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Principal components of an embedding column: returns ``(mean,
    eigvals, components)`` — mean (d,), eigenvalues of the SAMPLE
    covariance in descending order (r,), and row-orthonormal
    components (r, d).

    The corpus-sized work is exactly two bounded aggregations — the
    :func:`gram_matrix` pass (exact integer X^T X) and a per-dim sum —
    after which the driver assembles the d×d covariance ``(G - n·μμ^T)
    / (n-1)`` and solves the EIGENPROBLEM LOCALLY with ``numpy.eigh``.
    That is the honest 100 TB shape for d ≤ a few thousand: the
    eigensolve is O(d^3) driver work on KBs of input, while the data
    pass stays distributed, partial-aggregated, and exact (same
    architecture as MLlib's RowMatrix.computePrincipalComponents —
    Gramian on executors, LAPACK on the driver).

    Determinism: the Gram and sums are exact integers, so the
    covariance fed to LAPACK is bit-identical on every run; eigenvector
    SIGN is pinned by flipping each component so its
    largest-magnitude coordinate is positive (eigh's sign is otherwise
    arbitrary). Repeated eigenvalues (isotropic noise) can still
    permute within a tie — callers ranking by component index should
    treat tied eigenvalues as an equivalence class."""
    gram = gram_matrix(df, vec_col, dim=dim, scale=scale)
    rows = gram.collect()  # d(d+1)/2 rows — bounded by dim, not corpus
    if not rows:
        raise ValueError("pca_fit: empty input")
    d = max(r["j"] for r in rows) + 1
    n = rows[0]["n"]
    if n < 2:
        raise ValueError("pca_fit: need at least 2 vectors")
    G = np.zeros((d, d), dtype=np.float64)
    for r in rows:
        v = r["gram_scaled"] / float(scale) ** 2
        G[r["i"], r["j"]] = v
        G[r["j"], r["i"]] = v
    # per-dim sums: one posexplode aggregate (bounded: d rows out),
    # snapped to the same integer units as the Gram pass

    mean = np.zeros(d, dtype=np.float64)
    # fold EXACTLY the rows the Gram pass folded: gram_matrix drops
    # NULL / ragged vectors (len != d), so the mean pass must apply the
    # identical predicate or dirty data skews the covariance (and a
    # vector longer than d would index past ``mean``)
    srows = (
        df.where(F.size(F.col(vec_col)) == F.lit(d))
        .select(F.posexplode(F.col(vec_col)).alias("dim", "v"))
        .groupBy("dim")
        .agg(
            # decimal accumulation like the Gram cells themselves:
            # per-dim snapped-unit sums are corpus-scale, and long
            # partials wrap past 2^63 (≈1e12 rows of 1e7-unit values)
            F.sum(
                F.floor(F.col("v").cast("double") * scale + F.lit(0.5))
                .cast("decimal(38,0)")
            ).alias("s")
        )
        .collect()
    )
    for r in srows:
        mean[r["dim"]] = float(r["s"]) / float(scale) / n
    cov = (G - n * np.outer(mean, mean)) / (n - 1)
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1][:n_components]
    vals = eigvals[order]
    comps = eigvecs[:, order].T
    # pin the arbitrary eigenvector sign
    for r_i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[r_i])))
        if comps[r_i, j] < 0:
            comps[r_i] = -comps[r_i]
    return mean, vals, comps


def pca_project(
    df: DataFrame,
    mean: Sequence[float],
    components: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Project embeddings onto fitted principal components: adds
    ``pc0..pc{r-1}`` columns, ``(v - mean) · component_r`` rounded to
    ``round_to``. The components enter the plan as LITERAL arrays
    (r·d doubles — broadcast-free, they ride the serialized plan), and
    each projection is a codegen zip_with/aggregate dot — one scan, no
    shuffle, no Python in the corpus path; the 100 TB cost is exactly
    one projection scan."""
    comps = np.asarray(components, dtype=np.float64)
    mean = np.asarray(list(mean), dtype=np.float64)
    out = df
    centered = F.zip_with(
        F.col(vec_col),
        F.array(*[F.lit(float(m)) for m in mean]),
        lambda x, m: x.cast("double") - m,
    )
    for r_i in range(comps.shape[0]):
        caxis = F.array(*[F.lit(float(c)) for c in comps[r_i]])
        proj = F.aggregate(
            F.zip_with(centered, caxis, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out.withColumn(f"pc{r_i}", F.round(proj, round_to))
    return out
