"""Deterministic embedding clustering + SemDeDup-style semantic dedup.

Two operators the reference's embedding stack implies but never ships
(its Qdrant store only does per-query ANN, src/storage/vector_store.py) —
both are table stakes for a 100 TB training-data pipeline:

- ``kmeans_fit``: Lloyd's k-means over an
  embedding column, made **cross-engine reproducible** so a SQL oracle
  can replay it bit-for-bit (see Determinism below). This is the
  corpus-structuring primitive (topic buckets, stratification keys,
  SemDeDup's partitioner) and the fit behind the IVF index
  (``similarity._ivf_fit``) and the PQ codebooks (``pq.pq_fit``).
- ``semdedup``: cluster-scoped semantic dedup (Abbas et al. 2023,
  "SemDeDup: Data-efficient learning at web-scale through semantic
  deduplication"): pairwise cosine is computed ONLY within a cluster,
  never across the corpus — the published scale path that turns the
  O(N²) global pair join into Σ|cluster|², bounded by the cluster
  granularity you choose.

Determinism (why the oracle can match exactly):
- Inputs are quantized to integers once: x = round(v · SCALE). Every
  centroid update is then mean = exact-integer-sum / count — a single
  IEEE division both engines perform identically, so centroids are
  bit-identical with NO rounding step anywhere in the loop (sums of
  integer-valued doubles are exact regardless of aggregation order,
  which is the one place engines are allowed to differ).
- Distances are left folds in array-index order (``F.aggregate`` over
  ``zip_with``); the oracle unrolls the same left-associated chain, so
  squared distances are bit-identical and the argmin (ties → lowest
  centroid id) agrees without any tolerance.
- Init is the k lowest-id vectors; iteration count is fixed (no
  convergence test); an emptied cluster keeps its previous centroid.

Scale story: centroid state is k×dim doubles on the driver. Each
iteration is one map over the corpus (assignment is a codegen'd fold
up to KMEANS_EXPR_MAX_K, one numpy GEMM per Arrow batch above it)
plus one k×dim-wide partial-aggregated
groupBy — cost kn·d per round, the textbook Lloyd's bound, with only
k·dim·partitions rows ever shuffled. ``semdedup`` shuffles once on
cluster_id and joins within clusters only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rag_database_spark.functions.vector import to_double_array
from rag_database_spark.sources.tables import local_frame

KMEANS_K = 8
KMEANS_ITERS = 4
# Above this k the assignment switches from codegen'd literal-fold
# expressions (oracle-exact, but the expression tree grows k·dim
# literals) to one numpy distance GEMM per Arrow batch
# (similarity.assign_centroids' formulation). Same argmin up to
# float-noise near-ties; the driver-facing entries stay at
# KMEANS_K ≤ this bound so the oracle path is always the fold.
KMEANS_EXPR_MAX_K = 16
# SemDeDup's scale contract: k grows with the corpus so the expected
# cluster size stays bounded (pairs then scale linearly, not N²)
KMEANS_TARGET_CLUSTER = 64
# Quantization scale: 3 decimals of the raw embedding survive. Coarse
# enough that integer sums stay exact far past 2^53 at any corpus size
# (|x| ≤ ~2e3 ⇒ 2^53/2e3 ≈ 4.5e12 rows per cluster), fine enough that
# cluster structure is unchanged (cosine geometry moves by ~1e-3).
KMEANS_SCALE = 1000
SEMDEDUP_THRESHOLD = 0.3


def quantize_embeddings_int(vec_col) -> F.Column:
    """round(v · SCALE): integer-valued doubles — the exact-sum trick
    the whole determinism argument rests on."""
    return F.transform(
        to_double_array(vec_col),
        lambda v: F.round(v * F.lit(float(KMEANS_SCALE)), 0),
    )


def _sq_dist_to(centroid: list[float], col: str = "x") -> F.Column:
    """Left-fold Σ(x_i − c_i)² against one frozen centroid literal —
    same associativity as the oracle's unrolled term chain (the
    leading ``0.0 + t1`` is exact: IEEE ``0.0 + x == x`` and the
    squared terms are never −0.0)."""
    carr = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(F.col(col), carr, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assign_expr(centroids: list[list[float]]) -> F.Column:
    """argmin over the centroid list; ``array_position`` returns the
    FIRST index achieving the min, so ties break to the lowest
    centroid id — mirrored by the oracle's ORDER BY (dist, cid)."""
    dists = F.array(*[_sq_dist_to(c) for c in centroids])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def kmeans_k_for(n: int, target: int = KMEANS_TARGET_CLUSTER) -> int:
    """The k SemDeDup's scale contract asks for: enough clusters that
    the expected cluster size stays ~``target`` as the corpus grows."""
    return max(KMEANS_K, -(-n // target))


def _assign_gemm(xq: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Large-k assignment: one numpy distance GEMM per Arrow batch via
    similarity.assign_centroids (|c|² − 2v·c argmin, ties → lowest
    cid). Float path differs from the fold in the last ulps, so this
    is the SCALE implementation, not the oracle one."""
    from rag_database_spark.operators.similarity import assign_centroids

    spark = xq.sparkSession
    cdf = local_frame(
        spark,
        [(j, c) for j, c in enumerate(centroids)],
        "centroid_id int, cvec array<double>",
    )
    return assign_centroids(xq, cdf, vec_col="x").select(
        "id", "x", F.col("centroid_id").alias("cid")
    )


def kmeans_fit(
    df: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic Lloyd's: returns (assignments(id, cluster_id),
    final centroids in the quantized frame). ``iters`` centroid
    updates, then one final assignment under the settled centroids.

    Up to KMEANS_EXPR_MAX_K the assignment is codegen'd literal folds
    (cross-engine bit-exact, right for oracle-checked small k); above
    it, an Arrow-batch numpy GEMM (right for SemDeDup-scale k)."""
    use_expr = k <= KMEANS_EXPR_MAX_K

    def assign(frame: DataFrame, cents: list[list[float]]) -> DataFrame:
        if use_expr:
            return frame.withColumn("cid", _assign_expr(cents))
        return _assign_gemm(frame, cents)

    xq = df.select(
        F.col(id_col).alias("id"),
        quantize_embeddings_int(F.col(vec_col)).alias("x"),
    ).persist()
    try:
        init = xq.orderBy("id").limit(k).collect()
        if not init:
            empty = xq.select(
                "id", F.lit(None).cast("int").alias("cluster_id")
            ).limit(0)
            return empty, []
        centroids = [list(r["x"]) for r in init]
        dim = len(centroids[0])
        for _ in range(iters):
            assigned = assign(xq, centroids)
            stats = assigned.groupBy("cid").agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at("x", i + 1)).alias(f"s{i}")
                    for i in range(dim)
                ],
            ).collect()
            # exact integer sum / count: one IEEE division, no rounding
            fresh = {
                r["cid"]: [r[f"s{i}"] / r["n"] for i in range(dim)]
                for r in stats
            }
            centroids = [
                fresh.get(j, centroids[j]) for j in range(len(centroids))
            ]
        out = assign(xq, centroids).select(
            "id", F.col("cid").alias("cluster_id")
        )
        return out, centroids
    finally:
        # assignments returned above are recomputed lazily; uncaching is
        # safe (plan stays valid) and frees executor memory once the
        # caller has materialized or persisted its artifact
        xq.unpersist()


def semdedup(
    df: DataFrame,
    assignments: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup keep/drop decisions: within each cluster, a vector is
    DROPPED iff some lower-id cluster-mate sits at rounded cosine ≥
    threshold (lowest id in a near-dup neighborhood survives — same
    deterministic keep rule as the text dedup family, dedup.py).

    Returns (id, cluster_id, max_sim_lower, keep): ``max_sim_lower`` is
    the best rounded cosine against LOWER-id cluster-mates (NULL when
    none — first member of its cluster neighborhood), so the keep rule
    is auditable from the output itself.

    Scale: ONE shuffle on cluster_id; the pair join never leaves a
    cluster, so the quadratic term is Σ|cluster|² — choose k so the
    expected cluster size is bounded (SemDeDup's own contract; the
    paper runs k in the tens of thousands at web scale, where
    ``kmeans_fit`` assigns by Arrow-batch GEMM above
    KMEANS_EXPR_MAX_K)."""
    from rag_database_spark.functions.vector import dot, l2_norm

    # per-row norm in the projection (r17): the per-pair cosine
    # re-folded both norms per cluster-mate pair — 3 interpreted O(d)
    # aggregates per pair → 1. Same subtree, same multiply order
    # (‖a‖·‖b‖), so the rounded cs is bit-identical.
    e = df.select(
        F.col(id_col).alias("id"), to_double_array(F.col(vec_col)).alias("v")
    ).withColumn("n", l2_norm(F.col("v"))).join(assignments, "id")
    a, b = e.alias("a"), e.alias("b")
    denom = F.col("a.n") * F.col("b.n")
    pairs = a.join(
        b,
        (F.col("a.cluster_id") == F.col("b.cluster_id"))
        & (F.col("a.id") > F.col("b.id")),
    ).select(
        F.col("a.id").alias("id"),
        F.round(
            F.when(
                denom > 0, dot(F.col("a.v"), F.col("b.v")) / denom
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("cs"),
    )
    best = pairs.groupBy("id").agg(F.max("cs").alias("max_sim_lower"))
    return (
        assignments.join(best, "id", "left")
        .select(
            "id",
            "cluster_id",
            "max_sim_lower",
            (
                F.col("max_sim_lower").isNull()
                | (F.col("max_sim_lower") < F.lit(threshold))
            ).alias("keep"),
        )
    )


# centroid-distance outlier pruning: keep the closest NUM/DEN fraction
# of each cluster (integer-exact keep rule, so the boundary cannot
# float-drift between engines)
OUTLIER_KEEP_NUM = 9
OUTLIER_KEEP_DEN = 10


def centroid_outliers(
    df: DataFrame,
    assignments: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_num: int = OUTLIER_KEEP_NUM,
    keep_den: int = OUTLIER_KEEP_DEN,
) -> DataFrame:
    """Centroid-distance outlier pruning — the curation step NVIDIA's
    NeMo Curator and the DataComp pipelines run after clustering: a
    vector far from its own centroid is noise/off-topic relative to
    its semantic bucket, and the farthest tail of every cluster is
    pruned before training. (Engine extension beyond the reference
    surface; composes with the same persisted k-means artifact
    ``semdedup`` reads.)

    Returns (id, cluster_id, dist, crank, cluster_n, keep):
    ``dist`` is the squared distance to the OWN cluster's final
    centroid in the quantized frame (the module's determinism
    contract: integer inputs, exact-mean centroids, left-fold term
    chain — bit-identical across engines, same argument as the argmin
    itself); ``crank`` ranks cluster-mates closest-first (ties →
    lowest id); ``keep`` holds iff
    (crank−1)·keep_den < cluster_n·keep_num — i.e. crank ≤
    ceil(cluster_n·num/den), an integer comparison so the keep
    boundary is exact in any engine, with CEIL semantics so a small
    cluster is never emptied (a singleton always keeps its member).

    Scale: one broadcast join against the k-row centroid table, one
    shuffle on cluster_id for the rank window — no corpus self-join,
    no driver collect. ``centroids`` is the persisted (cluster_id,
    cvec) artifact from ``kmeans_fit``, so serving never re-runs the
    iterative fit."""
    from pyspark.sql import Window

    xq = df.select(
        F.col(id_col).alias("id"),
        quantize_embeddings_int(F.col(vec_col)).alias("x"),
    )
    cent = centroids.select(
        "cluster_id", F.col("cvec").cast("array<double>").alias("c")
    )
    d = (
        xq.join(assignments, "id")
        .join(F.broadcast(cent), "cluster_id")
        .select(
            "id",
            "cluster_id",
            F.aggregate(
                F.zip_with(
                    F.col("x"), F.col("c"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("d"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(F.asc("d"), F.asc("id"))
    wn = Window.partitionBy("cluster_id")
    return d.select(
        "id",
        "cluster_id",
        F.round("d", 6).alias("dist"),
        F.row_number().over(w).cast("long").alias("crank"),
        F.count(F.lit(1)).over(wn).alias("cluster_n"),
    ).withColumn(
        "keep",
        (F.col("crank") - F.lit(1)) * F.lit(keep_den)
        < F.col("cluster_n") * F.lit(keep_num),
    )


# Cluster-quota sampling defaults: keep half of every cluster — big
# enough that every non-singleton cluster visibly splits, exact by the
# same integer CEIL rule as the outlier pruner.
QUOTA_NUM = 1
QUOTA_DEN = 2
QUOTA_SEED = 42


def cluster_quota_sample(
    assignments: DataFrame,
    num: int = QUOTA_NUM,
    den: int = QUOTA_DEN,
    seed: int = QUOTA_SEED,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Cluster-balanced subsampling — the diversity-preserving
    downsample step (DataComp / NeMo-Curator recipe): a uniform
    corpus-wide sample keeps the head topics' mass and starves the
    tail, so instead every k-means cluster contributes
    ceil(|cluster| * num/den) documents, chosen by a seeded
    content-free md5 order. Semantic coverage survives any sampling
    rate; the CEIL rule means a singleton cluster always keeps its
    member (the same integer boundary ``centroid_outliers`` uses, so
    the keep set is exact in any engine).

    Input is the persisted (id, cluster_id) k-means assignment
    artifact — serving never re-runs the fit. Returns one AUDITABLE
    row per input vector: (id, cluster_id, pick_key, pick_rank,
    cluster_n, keep).

    Plan: one narrow projection + one shuffle on cluster_id shared by
    the rank and count windows — no text, no vectors, no driver
    state; at 100 TB the assignment table is one narrow row per
    document and everything here is linear with a single exchange."""
    from pyspark.sql import Window

    from rag_database_spark.operators.dedup import hash60

    keyed = assignments.select(
        F.col(id_col).alias("id"),
        F.col(cluster_col).alias("cluster_id"),
    ).withColumn(
        "pick_key",
        hash60(F.concat(F.lit(f"cqs{seed}:"), F.col("id").cast("string"))),
    )
    w = Window.partitionBy("cluster_id").orderBy("pick_key", "id")
    wn = Window.partitionBy("cluster_id")
    return keyed.select(
        "id",
        "cluster_id",
        "pick_key",
        F.row_number().over(w).cast("long").alias("pick_rank"),
        F.count(F.lit(1)).over(wn).alias("cluster_n"),
    ).withColumn(
        "keep",
        (F.col("pick_rank") - F.lit(1)) * F.lit(den)
        < F.col("cluster_n") * F.lit(num),
    )
