"""Product quantization (PQ) — compressed-domain ANN for a 100 TB
embedding column (Jégou et al. 2011, the IVF-PQ building block every
billion-scale ANN service runs).

The vector splits into ``PQ_M`` subspaces; each subspace gets its own
k-means codebook of ``PQ_K`` centroids, and a vector's code is the
M-tuple of its nearest sub-centroids — 64 float dims compress to
M·log2(K) bits (8 subspaces × 16 centroids = 4 bits each = 4 bytes a
vector, 64× smaller than float32). Query scoring is ADC (asymmetric
distance computation): the query stays exact, distance ≈ Σ_m
||q_m − codebook_m[code_m]||², so a scan of the code table does M
lookups + adds per vector instead of a d-dim dot product.

Spark-first shape:

- **Build** (``pq_fit`` / ``write_pq_index``): M independent runs of
  the DETERMINISTIC quantized-frame Lloyd's (``clustering.kmeans_fit``
  — the exact cross-engine machinery behind embed_kmeans/IVF) over
  the sub-vector slices; codes come back as one M-way id join. The
  multi-pass clustering lives only here; both halves persist like the
  BM25/IVF artifacts.
- **Query** (``pq_topk_indexed``): codes never explode — each
  subspace's 16-row codebook broadcast-joins on its code column,
  per-subspace distance is a ``zip_with`` fold of the query slice
  against the joined centroid (JVM column expressions, no Python),
  and the ADC total is a FIXED-ORDER ``+`` chain over the M terms, so
  the sum is bit-identical across engines (a groupBy-SUM over shuffled
  subspace rows would re-associate float adds nondeterministically —
  the one design trap in distributing ADC).
- K is a FORMAT constant, not corpus-adaptive: the code width IS the
  compression contract (4-bit codes), exactly like a real PQ index.
  Capacity scales by adding an IVF coarse layer on top, not by
  growing K.

Every arithmetic step is the quantized-integer-frame exact machinery
(inputs round(v·1000) — integer-valued doubles; centroid means =
exact-int-sum / count; distances = left folds), so the DuckDB oracle
(``oracles.pq_topk_sql``) replays build + encode + ADC + rank
bit-for-bit: hash-certified, not rows-only.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rag_database_spark.functions.vector import to_double_array
from rag_database_spark.operators.clustering import (
    KMEANS_ITERS,
    kmeans_fit,
    quantize_embeddings_int,
)
from rag_database_spark.sources.tables import local_frame

# subspaces × centroids: 8 × 16 → 4-bit codes, 4 bytes/vector at d=64.
# K ≤ clustering.KMEANS_EXPR_MAX_K so the build always runs the
# codegen'd fold assignment — the oracle-exact path.
PQ_M = 8
PQ_K = 16


def _sub_slices(dim: int, m: int) -> list[tuple[int, int]]:
    """[(1-based start, length)] of the m contiguous subspaces."""
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    sub = dim // m
    return [(j * sub + 1, sub) for j in range(m)]


def pq_fit(
    corpus: DataFrame,
    dim: int,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "id",
    vec_col: str = "vec",
) -> tuple[DataFrame, DataFrame]:
    """Train M sub-codebooks and encode the corpus. Returns
    ``(codebooks(m, cid, cvec), codes(id, code0..code{m-1}))`` —
    centroids live in the quantized frame (the same frame the encode
    argmin ran in), codes are int cids.

    Each subspace is one deterministic ``kmeans_fit`` over the slice
    (with K ≤ KMEANS_EXPR_MAX_K it runs the fold path); the final
    codes table is an M-way join on id — build-time only, M is tiny,
    every leg is the same corpus scan Catalyst collapses into one
    shuffle per leg."""
    spark = corpus.sparkSession
    base = corpus.select(
        F.col(id_col).alias("id"),
        to_double_array(F.col(vec_col)).alias("v"),
    )
    cb_rows: list[tuple[int, int, list[float]]] = []
    code_frames: list[DataFrame] = []
    for j, (start, sub) in enumerate(_sub_slices(dim, m)):
        sub_df = base.select(
            F.col("id").alias("vec_id"),
            F.slice(F.col("v"), start, sub).alias("subvec"),
        )
        assign, cents = kmeans_fit(
            sub_df, k=k, iters=iters, id_col="vec_id", vec_col="subvec"
        )
        cb_rows.extend((j, cid, c) for cid, c in enumerate(cents))
        code_frames.append(
            assign.select(
                F.col("id"),
                F.col("cluster_id").alias(f"code{j}"),
            )
        )
    codebooks = local_frame(spark, cb_rows, "m int, cid int, cvec array<double>")
    codes = reduce(lambda a, b: a.join(b, "id"), code_frames)
    return codebooks, codes


def write_pq_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "id",
    vec_col: str = "vec",
) -> None:
    """Persist both halves (same artifact discipline as the BM25 / IVF
    indexes): the codebooks are m·k rows — one tiny file — and the
    code table is 4 bytes of payload per corpus vector, the 64×
    compression that makes a 100 TB embedding column scannable."""
    codebooks, codes = pq_fit(corpus, dim, m, k, id_col=id_col,
                              vec_col=vec_col)
    codebooks.write.mode("overwrite").parquet(f"{path}/codebooks")
    codes.write.mode("overwrite").parquet(f"{path}/codes")


def read_pq_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    return (
        spark.read.parquet(f"{path}/codebooks"),
        spark.read.parquet(f"{path}/codes"),
    )


def pq_topk_indexed(
    queries: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    k: int,
    dim: int,
    m: int = PQ_M,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """ADC top-k over the persisted code table → (query_id, id,
    adc_dist, rank); LOWER distance is better, ties → lowest id.

    Plan: the query block (tiny) broadcast-cross-joins the code scan;
    each subspace's codebook (k rows) broadcast-joins on its code
    column; the per-subspace term is a ``zip_with`` fold of the
    quantized query slice against the joined centroid, and the total
    is a fixed-order ``+`` chain — one codegen'd projection over the
    code table, no Python, no re-associated float sums. The corpus'
    raw vectors are never read: that is the entire point of PQ."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize_embeddings_int(F.col(query_vec_col)).alias("qx"),
    )
    scored = _adc_score(
        codes.crossJoin(F.broadcast(q)), codebooks, dim, m
    )
    return _adc_ranked(scored, k)


def _adc_score(
    joined: DataFrame, codebooks: DataFrame, dim: int, m: int
) -> DataFrame:
    """(query_id, id, adc) from a frame carrying ``qx`` +
    ``code0..code{m-1}``: each subspace's codebook broadcast-joins on
    its code column, per-subspace distance is the zip_with fold of the
    query slice vs the joined centroid, total is the FIXED-ORDER ``+``
    chain (never a re-associating aggregate). Shared by the flat PQ
    scan and the IVF-PQ pruned probe."""
    terms = []
    for j, (start, sub) in enumerate(_sub_slices(dim, m)):
        cb = codebooks.filter(F.col("m") == j).select(
            F.col("cid").alias(f"code{j}"),
            F.col("cvec").alias(f"_cb{j}"),
        )
        joined = joined.join(F.broadcast(cb), f"code{j}")
        terms.append(
            F.aggregate(
                F.zip_with(
                    F.slice(F.col("qx"), start, sub),
                    F.col(f"_cb{j}"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    adc = reduce(lambda a, b: a + b, terms)  # fixed left-to-right order
    return joined.select("query_id", "id", adc.alias("adc"))


def _adc_ranked(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "id",
            F.round("adc", 6).alias("adc_dist"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse-quantizer lists over PQ codes — the Faiss IVFADC
# serving layout (minus residual encoding: codes quantize the raw
# vectors, so the flat-PQ codebooks are reusable and the oracle stays
# a composition of the two proven chains)
# ---------------------------------------------------------------------------


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    n_centroids: int | None = None,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "id",
    vec_col: str = "vec",
) -> None:
    """The billion-scale ANN layout: PQ codes PARTITIONED BY their
    IVF coarse list. A probe of p lists is a partition-pruned scan of
    ~p·(n/k_coarse) FOUR-BYTE codes — the two index structures
    compose so neither the raw vectors nor the full code table is
    read per query. Coarse centroids from the deterministic
    quantized-frame Lloyd's with the count-derived ``ivf_k_for``
    sizing; sub-codebooks from ``pq_fit``."""
    from rag_database_spark.operators.similarity import ivf_k_for

    spark = corpus.sparkSession
    n = corpus.count()
    if n_centroids is None:
        n_centroids = ivf_k_for(n)
    if n == 0:
        local_frame(
            spark, [], "centroid_id int, cvec array<double>, frame_scale int"
        ).write.mode("overwrite").parquet(f"{path}/centroids")
        local_frame(
            spark, [], "m int, cid int, cvec array<double>"
        ).write.mode("overwrite").parquet(f"{path}/codebooks")
        local_frame(
            spark,
            [],
            "centroid_id int, id long, "
            + ", ".join(f"code{j} int" for j in range(m)),
        ).write.mode("overwrite").parquet(f"{path}/lists")
        return
    from rag_database_spark.operators.clustering import KMEANS_SCALE

    coarse_assign, coarse_cents = kmeans_fit(
        corpus, k=n_centroids, id_col=id_col, vec_col=vec_col
    )
    codebooks, codes = pq_fit(corpus, dim, m, k, id_col=id_col,
                              vec_col=vec_col)
    local_frame(
        spark,
        [(i, c, KMEANS_SCALE) for i, c in enumerate(coarse_cents)],
        "centroid_id int, cvec array<double>, frame_scale int",
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    codebooks.write.mode("overwrite").parquet(f"{path}/codebooks")
    (
        codes.join(
            coarse_assign.select(
                "id", F.col("cluster_id").alias("centroid_id")
            ),
            "id",
        )
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/lists")
    )


def read_ivfpq_index(
    spark, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(coarse centroids, sub-codebooks, coded lists)."""
    return (
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/codebooks"),
        spark.read.parquet(f"{path}/lists"),
    )


def ivfpq_topk(
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    lists: DataFrame,
    k: int,
    dim: int,
    n_probe: int = 4,
    m: int = PQ_M,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """IVF-PQ query: exact quantized-frame probe of the coarse
    centroids (``similarity._ivf_probe_quantized`` — the metric the
    coarse fit assigned under, ties → lowest cid), then ADC over ONLY
    the probed coded lists (a static ``isin`` on the partition column
    → partition pruning), ranked (adc ASC, id). Every step replays in
    SQL (``oracles.ivfpq_topk_sql``) — the composed index is as
    hash-certifiable as its two halves."""
    from rag_database_spark.operators.similarity import (
        _ivf_probe_quantized,
    )

    spark = queries.sparkSession
    probes = _ivf_probe_quantized(
        queries, centroids, n_probe, query_id_col, query_vec_col
    )
    if not probes:
        return local_frame(
            spark, [], "query_id long, id long, adc_dist double, rank long"
        )
    probe_df = local_frame(spark, probes, "query_id long, centroid_id int")
    probed_cids = sorted({cid for _, cid in probes})
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize_embeddings_int(F.col(query_vec_col)).alias("qx"),
    )
    cands = (
        lists.filter(F.col("centroid_id").isin(probed_cids))
        .join(F.broadcast(probe_df), "centroid_id")
        .join(F.broadcast(q), "query_id")
    )
    return _adc_ranked(_adc_score(cands, codebooks, dim, m), k)


