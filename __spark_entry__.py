"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Engine lives in ``rag_database_spark``; every entry here cites the
SURVEY §2 operator ids it exercises.
"""

from __future__ import annotations

import json
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from rag_database_spark import oracles, workload
from rag_database_spark.operators import bm25 as bm25_ops
from rag_database_spark.operators import bpe as bpe_ops
from rag_database_spark.functions import quality
from rag_database_spark.functions import text as text_fns
from rag_database_spark.functions import vector as vector_fns
from rag_database_spark.operators import chunking
from rag_database_spark.operators import clustering
from rag_database_spark.operators import dedup
from rag_database_spark.operators import graph as graph_ops
from rag_database_spark.operators import domain_metadata
from rag_database_spark.operators import lifecycle
from rag_database_spark.operators import tables_extract
from rag_database_spark.operators import multimodal
from rag_database_spark.operators import pq as pq_ops
from rag_database_spark.operators import query_analysis as qa
from rag_database_spark.streaming import events as streaming_events
from rag_database_spark.operators import filters as filter_ops
from rag_database_spark.operators import relational
from rag_database_spark.operators import similarity
from rag_database_spark.operators import classifier
from rag_database_spark.operators import text_analytics
from rag_database_spark.operators.fusion import FETCH_MULTIPLIER, rrf_fuse
from rag_database_spark.operators.hybrid import bm25_leg, colpali_leg, dense_leg
from rag_database_spark.functions.exact import exact_avg, exact_sum
from rag_database_spark.sources.tables import (
    TABLES,
    fan_out,
    load_table,
    load_tables,
    local_frame,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: batch hybrid search (Q1 = A3+J11+W1+A1+T2) at sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    return _hybrid_rrf(spark, sf_dir)


# Prepared-query plans: the search entries are parameterized templates
# over a fixed workload, and for the composite ones (three-leg hybrid,
# enhanced search) driver-side plan construction + analysis is 40-60%
# of warm latency (measured at sf0.1: hybrid_rrf3 builds in ~4s and
# executes in ~1.5s). Real engines amortize exactly this with a plan
# cache (SQL prepared statements, Spark's own sessionized view
# resolution), so repeated invocations of the same entry over the same
# corpus artifact reuse the analyzed DataFrame — execution (the noop
# sink / collect) still runs in full on every call. Keyed by every
# source table's fingerprint (_prepared_key) so a regenerated corpus
# can never serve a stale plan.
# Every queries() entry goes through _prepared, and its checkpoint guard
# alone decides what is kept: a plan over a checkpointed leaf (the BFS
# loops, graph_triangles' two measured folds, the components loop above
# its edge budget) rebuilds per call, or the cache would skip real
# compute, not just compilation. Values a builder collects or writes
# while building (query vectors, the near-dup GEMM's broadcast matrix,
# event bounds, the components edge count, time_travel's first-call
# table) depend only on the source tables the key covers.
_PREPARED: dict[tuple[str, str], tuple[SparkSession, DataFrame]] = {}


def _has_materialized_leaf(df: DataFrame) -> bool:
    """True iff the analyzed logical plan contains a ``LogicalRDD``
    leaf backed by a CHECKPOINTED RDD — the footprint of an eager
    ``localCheckpoint()``/``checkpoint()`` inside the builder. Such
    plans must never enter ``_PREPARED``: the cached DataFrame would
    serve the already-materialized RDD blocks to every later
    invocation, so repeated executions would skip the checkpointed
    subtree's real compute — result caching, not plan caching (r18
    gate item; the r17 folds accidentally created exactly this
    channel).

    The checkpoint flag is the precise criterion: an un-checkpointed
    RDD lineage recomputes on every action, so re-serving its plan
    skips no compute. Driver-local fixtures no longer produce
    ``LogicalRDD`` leaves at all: ``local_frame`` builds them as
    ``LocalRelation``s."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if node.nodeName() == "LogicalRDD":
            rdd = node.rdd()
            if rdd.isCheckpointed() or rdd.isLocallyCheckpointed():
                return True
    return False


def _prepared_key(name: str, sf_dir: str) -> tuple[str, str]:
    """``_PREPARED`` key: the entry name plus the source directory and
    the size+mtime fingerprint of EVERY source table. A cached plan
    scans that directory's files and can bake in values collected at
    build time from any table (query vectors and patches from
    ``embeddings``), so a key over ``documents`` alone could serve a
    stale plan after another table is regenerated."""
    fps = "|".join(_source_fingerprint(sf_dir, t) for t in TABLES)
    return (name, f"{Path(sf_dir).resolve()}:{fps}")


def _was_planned(df: DataFrame) -> bool:
    """True iff the frame's own physical plan exists: it was executed
    directly (``collect``, ``toPandas``) or explained. A sink such as
    ``df.write`` plans a new query and leaves the frame unplanned."""
    return df._jdf.queryExecution().tracker().phases().contains("planning")


def _prepared(name, spark, sf_dir, build):
    key = _prepared_key(name, sf_dir)
    hit = _PREPARED.get(key)
    if hit is not None and hit[0] is spark and not _was_planned(hit[1]):
        return hit[1]
    # miss, the plan belongs to a stopped/replaced session (a cached
    # DataFrame is session-bound), or the frame was planned: it may have
    # run directly, and re-executing its finished adaptive plan reuses
    # the materialized shuffle stages (result caching again) — rebuild
    df = build()
    # the only cache rule: a builder that materialized an RDD
    # (localCheckpoint) is served its frame for THIS call only and
    # rebuilds on the next, so every invocation re-runs the
    # checkpointed subtree
    if _has_materialized_leaf(df):
        return df
    _PREPARED[key] = (spark, df)
    return df


def _wrap_prepared(name, fn):
    def prepared_entry(spark, sf_dir):
        return _prepared(name, spark, sf_dir, lambda: fn(spark, sf_dir))

    prepared_entry.__doc__ = fn.__doc__
    prepared_entry.__name__ = fn.__name__
    return prepared_entry


def _source_fingerprint(sf_dir: str, table: str = "documents") -> str:
    """Size+mtime fingerprint of the source parquet: derived artifacts
    key on it so a regenerated test corpus can never serve a stale
    index silently. Raises if the source can't be stat'd — a silent
    name-only fallback would quietly serve stale artifacts."""
    p = Path(sf_dir) / f"{table}.parquet"
    st = p.stat()  # FileNotFoundError/OSError propagates deliberately
    return f"{Path(sf_dir).name}-{st.st_size}-{int(st.st_mtime)}"


_LOGIC_VERSIONS: dict[tuple, str] = {}


def _logic_version(*mods, with_entry: bool = True) -> str:
    """Content hash of the given modules' source files — folded into a
    derived-artifact cache key so a LOGIC edit to any module in the
    artifact's defining closure rebuilds the artifact instead of
    serving a stale frame (the r12/r16/r17 ADVICE staleness class:
    constant edits already ride the keys explicitly, but the code that
    consumes those constants did not). ``with_entry=True`` (default)
    also hashes THIS entry file, covering builder wiring that lives
    here (join/flag composition, edge construction, workload
    constants like JACCARD_THRESHOLD) — pass ``with_entry=False``
    only for artifacts whose builder is a thin call into the hashed
    modules with every entry-side constant already in the key, where
    a per-round whole-file rebuild of an expensive artifact buys no
    extra safety. Hashing files is coarser than hashing the exact
    closure but strictly safe: false invalidation costs one rebuild
    (absorbed untimed in prepare()/warmup), a stale hit costs silent
    wrong results."""
    key = tuple(sorted(m.__name__ for m in mods)) + (with_entry,)
    v = _LOGIC_VERSIONS.get(key)
    if v is None:
        import hashlib

        h = hashlib.md5()
        if with_entry:
            h.update(Path(__file__).read_bytes())
        for mod in sorted(mods, key=lambda m: m.__name__):
            h.update(Path(mod.__file__).read_bytes())
        v = h.hexdigest()[:10]
        _LOGIC_VERSIONS[key] = v
    return v


# --------------------------------------------------------------------------
# Persisted artifacts: every index, pair set, score table and trained model
# a query reads is built once per corpus under .cache/<family>/<key> and
# read back by every consumer, so queries measure query time, not indexing.
# --------------------------------------------------------------------------

# (family, key) -> (session, value). A read-back DataFrame is bound to the
# session that read it, so a hit owned by a stopped or replaced session
# re-reads instead of handing back a frame on a dead session.
_ARTIFACTS: dict[tuple[str, str], tuple[SparkSession, object]] = {}


def _artifact_key(
    sf_dir: str, constants: str, *mods, table: str = "documents",
    with_entry: bool = True,
) -> str:
    """``<source fingerprint><constants>-v<logic version>``: the source
    table the artifact derives from, every constant it bakes in, and
    the hash of the modules (``with_entry``: and this file) whose code
    builds it. A regenerated corpus, a constant edit or a logic edit
    each name a new directory instead of serving a stale one."""
    return (
        f"{_source_fingerprint(sf_dir, table)}{constants}"
        f"-v{_logic_version(*mods, with_entry=with_entry)}"
    )


def _artifact_dir(family: str, key: str) -> str:
    """The one place a ``.cache/<family>/<key>`` path is built."""
    return str(Path(__file__).resolve().parent / ".cache" / family / key)


def _artifact(spark, family, key, build, read=None, done=""):
    """The persisted artifact ``family``/``key``, memoised per session:
    ``build(dir)`` writes it when ``<dir>/<done>/_SUCCESS`` is missing
    (``done`` names the part written last), and ``read(dir)``
    (default ``spark.read.parquet``) reads it back."""
    hit = _ARTIFACTS.get((family, key))
    if hit is not None and hit[0] is spark:
        return hit[1]
    path = _artifact_dir(family, key)
    if not Path(path, done, "_SUCCESS").exists():
        build(path)
    value = (read or spark.read.parquet)(path)
    _ARTIFACTS[(family, key)] = (spark, value)
    return value


def _graph_key(sf_dir: str, constants: str = "") -> str:
    """Key of the doc-graph artifacts (adjacency, PageRank edge list,
    PageRank/PPR scores). Its version covers graph.py (iteration and
    edge prep), dedup.py and functions/text.py (the near_dup edges
    derive from shingling) and this file (_doc_edge_table's confidence
    grid, JACCARD_THRESHOLD, the seed constants)."""
    return _artifact_key(sf_dir, constants, graph_ops, dedup, text_fns)


def _bm25_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, tuple[int, float | None]]:
    """(postings, (n_docs, avgdl)) of the persisted BM25 index."""
    return _artifact(
        spark, "bm25_index",
        _artifact_key(sf_dir, "", bm25_ops, text_fns, with_entry=False),
        lambda d: bm25_ops.write_index(
            load_table(spark, sf_dir, "documents"), d
        ),
        lambda d: (
            spark.read.parquet(f"{d}/postings"), bm25_ops.read_stats(d)
        ),
        done="stats",
    )


def prepare(spark: SparkSession, sf_dir: str) -> None:
    """Optional warmup hook (bench.py calls it): materialize the
    persisted derived artifacts (BM25 index, shingle inverted index,
    IVF lists, near-dup pair set, graph adjacency — ALL parquet-backed
    per corpus fingerprint) so timed runs measure the query paths, not
    one-time index construction. The jaccard/adjacency ``count()``s
    additionally pin the read-back frames in the session cache so
    every consumer reuses one scan + exchange."""
    _bm25_index(spark, sf_dir)
    _shingle_index(spark, sf_dir)
    _ivf_index(spark, sf_dir)
    _pq_index(spark, sf_dir)
    _ivfpq_index(spark, sf_dir)
    _jaccard_pairs(spark, sf_dir).count()
    _cluster_labels(spark, sf_dir).count()
    _bpe_artifacts(spark, sf_dir)
    for conf in (graph_ops.MIN_CONFIDENCE, GRAPH_MIN_CONF):
        _adjacency(spark, sf_dir, conf).count()
    _pagerank_scores(spark, sf_dir)
    _pagerank_scores(spark, sf_dir, weighted=True)
    _ppr_scores(spark, sf_dir)
    _kmeans_artifact(spark, sf_dir)
    _lm_model(spark, sf_dir)
    _lm_model_in(spark, sf_dir)
    _dsir_model(spark, sf_dir)
    _perceptron_weights(spark, sf_dir)
    _bloom_filter_words(spark, sf_dir)
    _bloom_paras_filter_words(spark, sf_dir)
    _semantic_pagerank_scores(spark, sf_dir)
    _time_travel(spark, sf_dir)  # builds the fingerprint-keyed tt_table
    _curation_artifact(spark, sf_dir)  # per-doc curation stage flags


# --------------------------------------------------------------------------
# queries() entries — each (spark, sf_dir) -> DataFrame
# --------------------------------------------------------------------------


def _bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/T1/W1/S7: batch BM25 top-k over the persisted index."""
    queries = workload.queries_df(spark)
    scored = bm25_ops.score_queries(queries, *_bm25_index(spark, sf_dir))
    limit = workload.HYBRID_LIMIT * FETCH_MULTIPLIER
    return bm25_ops.topk(scored, limit).select(
        "query_id",
        "doc_id",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _dense_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11/T3: exact batch cosine top-k over embeddings."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = similarity.query_vectors(workload.queries_df(spark), emb)
    return similarity.cosine_topk(
        qvecs, emb, workload.HYBRID_LIMIT, id_col="vec_id", vec_col="embedding"
    ).select(
        "query_id",
        "id",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ivf_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Persisted IVF artifact (centroids + centroid-partitioned lists),
    built once per corpus fingerprint — the k-means fit never runs in
    the query path (pinned by tests/test_plans.py). Built with the
    deterministic k-means (clustering.kmeans_fit in the quantized
    frame) and a count-derived centroid count (similarity.ivf_k_for),
    so the DuckDB oracle replays the whole index CTE-for-CTE at any
    sf. The key names the fit's constants; the derived count needs
    no suffix, since the embeddings fingerprint and ivf_k_for's
    module version already cover it."""
    return _artifact(
        spark, "ivf_index",
        _artifact_key(
            sf_dir,
            f"-det-i{clustering.KMEANS_ITERS}-q{clustering.KMEANS_SCALE}",
            similarity, clustering, vector_fns,
            table="embeddings", with_entry=False,
        ),
        lambda d: similarity.write_ivf_index(
            load_table(spark, sf_dir, "embeddings"), d,
            id_col="vec_id", vec_col="embedding",
        ),
        lambda d: similarity.read_ivf_index(spark, d),
        done="lists",
    )


def _ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: IVF coarse-quantizer top-k over the PERSISTED
    index (k-means runs at build time only; the query is a partition-
    pruned probe of n_probe centroid lists). The deterministic build
    and the quantized probe make every step exactly replayable in SQL
    (oracles.ann_ivf_topk_sql) — hash-certified since r13; recall vs
    brute force additionally pinned in tests/test_similarity."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = similarity.query_vectors(workload.queries_df(spark), emb)
    centroids, lists = _ivf_index(spark, sf_dir)
    return similarity.ivf_topk_indexed(
        qvecs, centroids, lists, workload.HYBRID_LIMIT
    ).select(
        "query_id",
        "id",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _pq_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Persisted PQ artifact (per-subspace codebooks + 4-bit code
    table) — the compressed-domain ANN index (pq.write_pq_index),
    built once per corpus fingerprint; M and K are format constants so
    they version the cache key."""
    return _artifact(
        spark, "pq_index",
        _artifact_key(
            sf_dir,
            f"-m{pq_ops.PQ_M}-k{pq_ops.PQ_K}"
            f"-i{clustering.KMEANS_ITERS}-q{clustering.KMEANS_SCALE}",
            pq_ops, clustering, vector_fns,
            table="embeddings", with_entry=False,
        ),
        lambda d: pq_ops.write_pq_index(
            load_table(spark, sf_dir, "embeddings"), d, dim=EMBEDDING_DIM,
            id_col="vec_id", vec_col="embedding",
        ),
        lambda d: pq_ops.read_pq_index(spark, d),
        done="codes",
    )


def _pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k over the persisted code table —
    the compressed-domain ANN leg beside IVF and LSH (Jégou 2011, the
    64×-smaller scan a 100 TB embedding column needs). Deterministic
    quantized-frame build + fixed-order ADC sum make the whole path
    SQL-replayable (oracles.pq_topk_sql); distance recall vs the
    float brute force is unit-pinned in tests/test_pq.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = similarity.query_vectors(workload.queries_df(spark), emb)
    codebooks, codes = _pq_index(spark, sf_dir)
    return pq_ops.pq_topk_indexed(
        qvecs, codebooks, codes, workload.HYBRID_LIMIT, dim=EMBEDDING_DIM
    )


def _mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification over the dense leg (diversify.mmr_rerank):
    the retriever's 3× over-fetch re-ranked by greedy Maximal Marginal
    Relevance — λ·relevance − (1−λ)·max-cosine-to-already-selected —
    the step a RAG stack runs so near-duplicate passages don't burn
    the context window. The greedy state is per-query-local over the
    BOUNDED over-fetch, so the default impl runs the whole loop in
    one Arrow batch per query (one exchange, zero driver rounds) —
    bit-identical to the k-round DataFrame form the oracle unrolls
    (oracles.mmr_rerank_sql; equality pinned in tests/test_diversify)."""
    return _mmr_results(spark, sf_dir)


def _mmr_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared MMR stage: dense over-fetch candidates (6dp rel, vector
    carried) through diversify.mmr_rerank — consumed by both the
    mmr_rerank entry and the rag_context_pack composition."""
    from rag_database_spark.operators import diversify

    # the oracle twins (mmr_rerank_sql / rag_context_pack_sql) derive
    # their k / shortlist size from diversify.MMR_K defaults while this
    # side passes workload.HYBRID_LIMIT — pin the assumed equality so a
    # constant edit on either side fails loudly instead of as a silent
    # hash mismatch (ValueError, not assert: must survive python -O)
    if diversify.MMR_K != workload.HYBRID_LIMIT:
        raise ValueError(
            "diversify.MMR_K != workload.HYBRID_LIMIT: "
            f"{diversify.MMR_K} vs {workload.HYBRID_LIMIT}"
        )

    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = similarity.query_vectors(workload.queries_df(spark), emb)
    fetch = workload.HYBRID_LIMIT * FETCH_MULTIPLIER
    cands = (
        similarity.cosine_topk(
            qvecs, emb, fetch, id_col="vec_id", vec_col="embedding"
        )
        .select(
            "query_id", "id", F.round("score", 6).alias("rel")
        )
        .join(
            emb.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").alias("v"),
            ),
            "id",
        )
    )
    return diversify.mmr_rerank(cands, k=workload.HYBRID_LIMIT)


def _rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end RAG serving composition: dense retrieval
    over-fetch → MMR diversification → greedy token-budget context
    assembly (packing.pack_context) — retrieve, de-duplicate the
    context, stop at the window budget; rank 1 always ships. The
    oracle nests the proven dense + MMR chains under the same
    prefix-sum tail."""
    from rag_database_spark.operators.packing import pack_context

    return pack_context(
        _mmr_results(spark, sf_dir),
        load_table(spark, sf_dir, "documents"),
    )


def _ivfpq_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Persisted IVF-PQ artifact (coarse centroids + sub-codebooks +
    coded lists partitioned by coarse list) — the composed
    billion-scale layout (pq.write_ivfpq_index); every constant the
    artifact bakes in versions the cache key, and the count-derived
    coarse centroid count is covered as in ``_ivf_index``."""
    return _artifact(
        spark, "ivfpq",
        _artifact_key(
            sf_dir,
            f"-m{pq_ops.PQ_M}-k{pq_ops.PQ_K}"
            f"-i{clustering.KMEANS_ITERS}-q{clustering.KMEANS_SCALE}",
            pq_ops, similarity, clustering, vector_fns,
            table="embeddings", with_entry=False,
        ),
        lambda d: pq_ops.write_ivfpq_index(
            load_table(spark, sf_dir, "embeddings"), d, dim=EMBEDDING_DIM,
            id_col="vec_id", vec_col="embedding",
        ),
        lambda d: pq_ops.read_ivfpq_index(spark, d),
        done="lists",
    )


def _ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ADC top-k — the composed serving layout (Faiss IVFADC
    minus residual encoding): exact quantized probe of the coarse
    centroids, partition-pruned scan of ONLY the probed coded lists,
    fixed-order ADC, rank (adc ASC, id). Oracle composes the two
    proven chains (oracles.ivfpq_topk_sql) — hash-certified."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = similarity.query_vectors(workload.queries_df(spark), emb)
    centroids, codebooks, lists = _ivfpq_index(spark, sf_dir)
    return pq_ops.ivfpq_topk(
        qvecs, centroids, codebooks, lists, workload.HYBRID_LIMIT,
        dim=EMBEDDING_DIM,
    )


def _ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH buckets (index-free scale path
    next to IVF): shared sign-pattern buckets → candidates → exact
    cosine rescore. Seed-deterministic planes make the DuckDB oracle
    an exact equality check, unlike k-means-based ann_ivf_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = similarity.query_vectors(workload.queries_df(spark), emb)
    return similarity.lsh_topk(
        qvecs, emb, workload.HYBRID_LIMIT, dim=64,
        id_col="vec_id", vec_col="embedding",
    ).select(
        "query_id",
        "id",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _text_legs(
    spark: SparkSession, sf_dir: str, queries: DataFrame, emb: DataFrame
) -> dict[str, DataFrame]:
    """The BM25 (persisted index) and dense legs of the hybrid entries."""
    fetch = FETCH_MULTIPLIER * workload.HYBRID_LIMIT
    return {
        "bm25": bm25_leg(queries, *_bm25_index(spark, sf_dir), fetch),
        "dense": dense_leg(queries, emb, fetch),
    }


def _three_legs(
    spark: SparkSession, sf_dir: str, queries: DataFrame
) -> dict[str, DataFrame]:
    """BM25 + dense + ColPali legs; the ColPali leg's J2/J3 page→chunk
    propagation runs over the multi-vector fixtures."""
    emb = load_table(spark, sf_dir, "embeddings")
    legs = _text_legs(spark, sf_dir, queries, emb)
    legs["colpali"] = colpali_leg(
        workload.query_patches_df(spark, emb),
        workload.multivector_pages(emb),
        workload.chunk_page_map(emb),
        FETCH_MULTIPLIER * workload.HYBRID_LIMIT,
        workload.DOC_PAGES,
    )
    return legs


def _hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: BM25 + dense legs fused with weighted RRF (k=60, .3/.5)."""
    legs = _text_legs(
        spark, sf_dir, workload.queries_df(spark),
        load_table(spark, sf_dir, "embeddings"),
    )
    return rrf_fuse(legs, workload.HYBRID_LIMIT)


def _db_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: row counts per table + doc-lang / event-type breakdowns."""
    return relational.db_stats(load_tables(spark, sf_dir))


def _pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/SQL surface: TPC-H Q1-shaped rollup via spark.sql."""
    return relational.pricing_summary(
        spark, load_table(spark, sf_dir, "lineitem")
    )


def _customer_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/J9/A12: parent ⋈ children rollup (init.sql:628-647 analog)."""
    return relational.customer_overview(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def _org_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: per-nation entity counts (init.sql:650-664 analog)."""
    return relational.org_stats(
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "orders"),
    )


def _list_documents_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/T7: filtered, ordered, offset/limit paging."""
    return relational.list_documents(
        load_table(spark, sf_dir, "documents"), lang="en", offset=20, limit=10
    )


TENANT_ORG = "org1"
TENANT_ACCESS = ("public", "internal")
TENANT_NCHARS = {"gte": 100, "lte": 400}
TENANT_LIMIT = 10


def _tenant_scoped_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/P3/P7: BM25 scored on the full corpus, results restricted
    to the tenant scope + user range filter (the reference injects the
    tenant conjunct into every search, api/main.py:407-410)."""
    docs = load_table(spark, sf_dir, "documents")
    queries = workload.queries_df(spark)
    scored = bm25_ops.score_queries(queries, *_bm25_index(spark, sf_dir))
    ctx = filter_ops.TenantContext(TENANT_ORG, access_levels=TENANT_ACCESS)
    eligible = filter_ops.scoped(
        filter_ops.derive_tenant(docs), ctx, {"n_chars": TENANT_NCHARS}
    ).select("doc_id", "organization_id")
    return (
        bm25_ops.topk(scored.join(eligible, "doc_id"), TENANT_LIMIT)
        .select(
            "query_id",
            "doc_id",
            F.round("score", 6).alias("score"),
            F.col("rank").cast("long").alias("rank"),
            "organization_id",
        )
    )


def _events_json_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: JSON-map containment/range filter over events.props."""
    events = load_table(spark, sf_dir, "events")
    k = filter_ops.json_filter(F.col("props"), "k").cast("int")
    return (
        events.withColumn("k", k)
        .filter((F.col("k") >= 50) & (F.col("k") <= 80))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(exact_avg("value"), 6).alias("avg_value"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID (training-data pipeline surface)."""
    return text_analytics.lang_id(load_table(spark, sf_dir, "documents"))


def _token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish + chars + avg word length."""
    return text_analytics.token_stats(load_table(spark, sf_dir, "documents"))


def _doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 quality metrics + lightweight composite score."""
    return text_analytics.doc_quality(load_table(spark, sf_dir, "documents"))


def _quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 faithful: the reference's five-subscore quality model
    (pattern banks + .25/.30/.15/.15/.15 weights + tier routing)."""
    return quality.quality_report(load_table(spark, sf_dir, "documents"))


def _winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) document fingerprints over the
    normalized text — the MOSS selection scheme.

    The array output is joined to a '|'-delimited string at this entry
    boundary: the driver's order-insensitive value-hash requires
    hashable (scalar) cells."""
    from rag_database_spark.functions.text import winnow_fingerprints

    return winnow_fingerprints(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.array_join(
            F.col("fingerprints").cast("array<string>"), "|"
        ).alias("fingerprints"),
    )


def _exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint (md5 of normalized tokens)."""
    return text_analytics.exact_dedup(load_table(spark, sf_dir, "documents"))


def _chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2/C5/W3/W4/F21/F22: the chunking pipeline — doc-level summary
    chunk + overlapping word-window chunks with page as-of assignment."""
    return chunking.chunk_pipeline(load_table(spark, sf_dir, "documents"))


JACCARD_THRESHOLD = 0.8
COSINE_DUP_THRESHOLD = 0.4

def _shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted shingle inverted index (doc_id, s). with_entry=False:
    the builder is a thin call into dedup.py and the entry-side
    constant is in the key, so a rebuild of this expensive family on
    every edit of this file would buy no extra safety."""
    return _artifact(
        spark, "shingle_index",
        _artifact_key(
            sf_dir, f"-s{dedup.SHINGLE_K}", dedup, text_fns, with_entry=False
        ),
        lambda d: dedup.write_shingle_index(
            load_table(spark, sf_dir, "documents"), d
        ),
        lambda d: dedup.read_shingle_index(spark, d),
    )


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair set as a PERSISTED parquet artifact: built once
    per corpus fingerprint by the inverted-index self-join, read back
    key-clustered, and persisted across the session's many dedup and
    graph consumers."""
    return _artifact(
        spark, "jaccard_pairs",
        _artifact_key(
            sf_dir, f"-s{dedup.SHINGLE_K}-j{JACCARD_THRESHOLD}",
            dedup, text_fns, with_entry=False,
        ),
        lambda d: dedup.write_pair_index(
            dedup.shingle_jaccard_pairs(
                load_table(spark, sf_dir, "documents"),
                JACCARD_THRESHOLD,
                shingle_index=_shingle_index(spark, sf_dir),
            ),
            d,
        ),
        lambda d: dedup.read_pair_index(spark, d).persist(),
    )


def _near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs (inverted-index join)."""
    return _jaccard_pairs(spark, sf_dir)


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted near-dup cluster labels (doc_id, cluster_id =
    component min), derived from the pair set under the same key. The
    dedup_clusters/_cc ENTRIES still run the algorithm live (that is
    what they certify); consumers (dedup_keep, curate_corpus) serve
    from these labels."""
    return _artifact(
        spark, "dedup_labels",
        _artifact_key(
            sf_dir, f"-s{dedup.SHINGLE_K}-j{JACCARD_THRESHOLD}",
            dedup, text_fns, with_entry=False,
        ),
        lambda d: dedup.dedup_clusters_star(
            _jaccard_pairs(spark, sf_dir),
            load_table(spark, sf_dir, "documents"),
        ).write.mode("overwrite").parquet(d),
        lambda d: spark.read.parquet(d).persist(),
    )


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the jaccard edge
    set, cluster_id = component min (dedup_clusters_star: one
    Arrow-batch union-find under its edge budget, large-star/small-star
    rounds above it). Serves both dedup_clusters and dedup_clusters_cc,
    which share one oracle. Under the budget the plan has no
    checkpointed leaf and is served from ``_PREPARED``; only the
    over-budget rounds rebuild per call."""
    return dedup.dedup_clusters_star(
        _jaccard_pairs(spark, sf_dir),
        load_table(spark, sf_dir, "documents"),
    )


def _soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware downweighting (dedup.soft_dedup): every doc
    survives with weight 1/|near-dup component| — a cluster of n
    duplicates contributes one doc's gradient mass in total, the soft
    alternative to keep_representatives' hard drop. Reads the same
    persisted pair artifact as the cluster entries."""
    return dedup.soft_dedup(
        _jaccard_pairs(spark, sf_dir),
        load_table(spark, sf_dir, "documents"),
    )


def _cluster_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subsampling (clustering.cluster_quota_sample):
    every k-means cluster keeps ceil(|c|/2) members by seeded md5
    order — diversity-preserving downsampling over the shared
    persisted k-means artifact; the oracle replays the unrolled
    Lloyd's chain plus the same pick/keep tail."""
    return clustering.cluster_quota_sample(
        _kmeans_artifact(spark, sf_dir)[0]
    ).withColumnRenamed("id", "vec_id")


def _dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized deduplicated corpus: one representative
    (component-min doc) per near-dup cluster, with the duplicate count
    it absorbs — the filtered corpus a training pipeline ships. Serves
    from the persisted cluster-label artifact (the labels are derived
    once per corpus; dedup_clusters certifies the algorithm live)."""
    return dedup.keep_representatives(
        load_table(spark, sf_dir, "documents"),
        _cluster_labels(spark, sf_dir),
    )


def _leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/eval split (dedup.leakage_safe_split):
    whole components land on one side via an md5-of-cluster_id 60-bit
    integer threshold, so the eval slice can never hold a near-dup of
    a training doc. One projection over the persisted cluster-label
    artifact — no join, no shuffle."""
    return dedup.leakage_safe_split(_cluster_labels(spark, sf_dir))


def _split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit (dedup.split_leakage_audit): near-dup pairs
    crossing the train/eval boundary under the NAIVE per-doc split vs
    the cluster-atomic split — the (train, eval) row under 'per_doc'
    is the contamination count, and 'cluster' provably has none. Two
    keyed joins of the persisted pair artifact per scheme + one
    bounded rollup."""
    pairs = _jaccard_pairs(spark, sf_dir)
    naive = dedup.split_leakage_audit(
        pairs, dedup.per_doc_split(load_table(spark, sf_dir, "documents"))
    ).withColumn("scheme", F.lit("per_doc"))
    atomic = dedup.split_leakage_audit(
        pairs,
        dedup.leakage_safe_split(_cluster_labels(spark, sf_dir)).select(
            "doc_id", "split"
        ),
    ).withColumn("scheme", F.lit("cluster"))
    return naive.unionByName(atomic).select(
        "scheme", "split_a", "split_b", "n_pairs"
    )


def _fuzzy_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination: best shingle-Jaccard eval-set match per
    corpus doc (eval slice broadcast; exact inverted-index candidates;
    both sides slice the persisted shingle index — no tokenization)."""
    return dedup.fuzzy_decontam(
        load_table(spark, sf_dir, "documents"),
        shingle_index=_shingle_index(spark, sf_dir),
    )


WINDOW_JOIN_COUNT = 20  # overlapping analysis windows over the ts span


def _events_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join: events matched to overlapping time windows
    via the bucketized band join (`relational.interval_join`) — a keyed
    equi-join on the band id plus a residual filter, never a
    nested-loop (plan-tested). Windows are derived with integer epoch
    math (span/20 steps, 1.5-step length → adjacent windows overlap),
    so both engines build the identical window table. Eager bounds
    lookup (one min/max scan) keeps the band width data-derived."""
    from rag_database_spark.operators import relational

    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.unix_timestamp(F.col("ts"))).cast("long").alias("es"),
        "value",
    )
    t0, t1 = ev.agg(F.min("es"), F.max("es")).first()
    step = max((t1 - t0) // WINDOW_JOIN_COUNT, 1)
    wlen = (3 * step) // 2
    windows = spark.range(WINDOW_JOIN_COUNT).select(
        F.col("id").cast("long").alias("window_id"),
        (F.lit(t0) + F.col("id") * step).cast("long").alias("w_start_s"),
        (F.lit(t0) + F.col("id") * step + wlen).cast("long").alias("w_end_s"),
    )
    j = relational.interval_join(ev, windows, band=wlen + 1)
    return j.groupBy("window_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(exact_sum("value"), 6).alias("total_value"),
    )


DOC_KEYWORDS_K = 3


def _doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document tf-idf keyword extraction served from the
    persisted BM25 postings and stats artifact (no re-tokenization)."""
    return bm25_ops.tfidf_keywords(
        *_bm25_index(spark, sf_dir), DOC_KEYWORDS_K
    )


INGEST_BATCH_MOD = 10  # incoming batch = doc_id % 10 == 0


def _ingest_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental admission, pinned cross-engine: the cross near-dup
    pair set a batch append (dedup.append_pair_index) writes — the
    batch's shingles broadcast-probed against the PERSISTED shingle
    index sliced to the standing corpus; the corpus never shuffles.
    Within-batch pairs are near_dup_pairs restricted to the batch, so
    this entry certifies the index-probe half of the append."""
    idx = _shingle_index(spark, sf_dir).filter(
        F.col("doc_id") % INGEST_BATCH_MOD != 0
    )
    batch = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % INGEST_BATCH_MOD == 0
    )
    return dedup.pairs_vs_index(batch, idx, JACCARD_THRESHOLD)


def _frequent_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters: top word n-grams by occurrence count
    (boilerplate/template-phrase probe)."""
    return text_analytics.frequent_ngrams(
        load_table(spark, sf_dir, "documents")
    )


def _dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication spans per doc: token intervals
    covered by cross-document n-grams, merged into maximal islands."""
    return text_analytics.dup_spans(load_table(spark, sf_dir, "documents"))


def _quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-threshold quality filter: drop the bottom ⌊N·p⌋ docs
    by composite score under a discrete total order."""
    return text_analytics.quality_filter(
        load_table(spark, sf_dir, "documents")
    )


def _token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection ("the best 60% of TOKENS, by
    quality"): an exact weighted prefix over per-bucket windows.
    DuckDB-oracled against a global prefix-sum window."""
    return text_analytics.token_budget_select(
        load_table(spark, sf_dir, "documents"),
        frac=text_analytics.TOKEN_BUDGET_FRAC,
    )


def _cut_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-cut corpus materialization: token streams with every
    cross-document duplication island removed (md5 of the rewrite)."""
    return text_analytics.cut_dup_spans(
        load_table(spark, sf_dir, "documents")
    )


INGEST_GATE_MOD = 25  # doc_id % 25 == 0 → the simulated incoming batch


def _ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup admission gate: for each simulated incoming doc, its
    best Jaccard match in the accepted corpus — both sides sliced from
    the persisted index."""
    docs = load_table(spark, sf_dir, "documents")
    idx = _shingle_index(spark, sf_dir).filter(
        F.col("doc_id") % INGEST_GATE_MOD != 0
    )
    return dedup.best_jaccard_vs_index(
        docs.filter(F.col("doc_id") % INGEST_GATE_MOD == 0), idx
    )


# The FIXTURE filter is deliberately undersized (2^11 bits vs the
# production BLOOM_M_BITS default): the synthetic corpus has zero
# true duplicates, so at production geometry every probe returns
# (0, false) and the driver hash could not tell a broken probe from a
# working one. At 2048 bits the standing ~480 fingerprints load the
# filter to ~60% and the batch draws a full n_hits 0..4 spread
# including deterministic full collisions — every bit of the
# hash/pack/merge/probe chain shows up in the value hash.
BLOOM_FIXTURE_M_BITS = 2048


def _bloom_filter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted packed Bloom bitmap over the STANDING corpus'
    content fingerprints (docs outside the simulated incoming batch) —
    built once per corpus fingerprint, ≤ m/32 rows regardless of
    corpus size (dedup.bloom_filter_build). The cache key folds in
    EVERY constant the bitmap depends on (m, BLOOM_K, the batch-split
    mod) — changing any of them must rebuild, not serve a bitmap the
    rebuilt oracle no longer matches."""
    return _artifact(
        spark, "bloom",
        _artifact_key(
            sf_dir,
            f"-m{BLOOM_FIXTURE_M_BITS}-k{dedup.BLOOM_K}-g{INGEST_GATE_MOD}",
            dedup, text_fns, with_entry=False,
        ),
        lambda d: dedup.bloom_filter_build(
            load_table(spark, sf_dir, "documents").filter(
                F.col("doc_id") % INGEST_GATE_MOD != 0
            ),
            m_bits=BLOOM_FIXTURE_M_BITS,
        ).write.mode("overwrite").parquet(d),
    )


def _bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter dedup gate (dedup.bloom_gate) — Dolma's
    approximate-membership admission check: the simulated incoming
    batch probes the persisted packed bitmap of standing-corpus
    fingerprints; maybe_dup ⇔ all k probe bits set (no false
    negatives, FP rate by filter geometry). The standing corpus is
    never scanned at probe time; the oracle replays the identical
    bitmap and probes from the same md5 hash chain."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.bloom_gate(
        docs.filter(F.col("doc_id") % INGEST_GATE_MOD == 0),
        _bloom_filter_words(spark, sf_dir),
        m_bits=BLOOM_FIXTURE_M_BITS,
    ).withColumnRenamed("id", "doc_id")


def _bloom_paras_filter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted packed Bloom bitmap over the STANDING corpus'
    PARAGRAPH fingerprints — the paragraph half of the Dolma-style
    gate (dedup.doc_paragraphs feeds the same builder). Same
    constant-folding cache key as _bloom_filter_words."""
    return _artifact(
        spark, "bloom_paras",
        _artifact_key(
            sf_dir,
            f"-m{BLOOM_FIXTURE_M_BITS}-k{dedup.BLOOM_K}-g{INGEST_GATE_MOD}",
            dedup, text_fns, with_entry=False,
        ),
        lambda d: dedup.bloom_filter_build(
            dedup.doc_paragraphs(
                load_table(spark, sf_dir, "documents").filter(
                    F.col("doc_id") % INGEST_GATE_MOD != 0
                )
            ),
            text_col="para",
            m_bits=BLOOM_FIXTURE_M_BITS,
        ).write.mode("overwrite").parquet(d),
    )


def _bloom_gate_paras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level Bloom dedup report (dedup.bloom_gate_paragraphs):
    every normalized paragraph of the simulated incoming batch probes
    the persisted standing-paragraph bitmap; per-doc rollup of
    paragraph count / dup-paragraph count / dup fraction — the
    boilerplate signal Dolma thresholds beside its doc-level gate."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.bloom_gate_paragraphs(
        docs.filter(F.col("doc_id") % INGEST_GATE_MOD == 0),
        _bloom_paras_filter_words(spark, sf_dir),
        m_bits=BLOOM_FIXTURE_M_BITS,
    ).withColumnRenamed("id", "doc_id")


DENSE_FILTER_LABELS = (1, 4, 7)  # the queried tenant's label scope


def _dense_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (the Qdrant filter-during-search
    surface, vector_store.py payload filters): cosine top-k restricted
    to a label scope, filter applied BEFORE scoring — candidates
    prune at the parquet scan, and the top-k is always full (post-
    filtering would under-fill it)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = similarity.query_vectors(workload.queries_df(spark), emb)
    eligible = emb.filter(F.col("label").isin(*DENSE_FILTER_LABELS))
    return similarity.cosine_topk(
        qvecs, eligible, workload.HYBRID_LIMIT,
        id_col="vec_id", vec_col="embedding",
    ).select(
        "query_id",
        "id",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization over the decomposed-fixture corpus —
    the one Arrow-batched Python scan in the text family (Spark has no
    NFC builtin); DuckDB's nfc_normalize is the oracle."""
    return text_analytics.normalize_unicode(
        text_analytics.decompose_fixture(
            load_table(spark, sf_dir, "documents")
        )
    )


def _curation_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted per-document curation stage-membership frame — ONE
    row per raw document with the stage flags and the quality score:

        (doc_id, f_exact, f_near, f_quality, f_final, q_score)

    f_exact = survives exact dedup (md5-canonical); f_near = f_exact ∧
    near-dup component representative; f_quality = survives the exact
    bottom-⌊N·p⌋ quality cut of the survivors
    (``text_analytics.quality_cut``); f_final = f_quality ∧
    decontaminated. q_score is the quality score for dedup survivors
    (NULL otherwise).

    Built once per corpus fingerprint (r14 VERDICT item 4: the
    curate_corpus / curation_funnel pair previously re-ran the full
    dedup + 19-regex quality ancestry on every call, ~7.5 s combined
    at sf0.1). The key carries the dedup + quality constants and the
    logic version of text_analytics, functions.text, dedup and this
    file (the join/flag composition and the _cluster_labels wiring
    live here), so neither a parameter edit nor a logic/regex-bank
    edit can serve a stale frame. Serving both entries becomes a
    doc-count-sized parquet scan — at 100× the build amortizes across
    every downstream read and the flags frame stays one narrow row per
    document."""

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        exact_keep = (
            text_analytics.exact_dedup(docs)
            .filter(~F.col("is_dupe"))
            .select("doc_id")
        )
        nd_keep = (
            _cluster_labels(spark, sf_dir)
            .filter(F.col("doc_id") == F.col("cluster_id"))
            .select("doc_id")
        )
        survivors = docs.join(exact_keep, "doc_id").join(nd_keep, "doc_id")
        scored = text_analytics.quality_cut(
            text_analytics.doc_quality(survivors).select("doc_id", "q_score")
        )
        clean = (
            text_analytics.decontaminate(docs)
            .filter(~F.col("is_contaminated"))
            .select("doc_id")
        )

        def _flag(frame: DataFrame, name: str) -> DataFrame:
            return frame.withColumn(name, F.lit(True))

        false = F.lit(False)
        art = (
            docs.select("doc_id")
            .join(_flag(exact_keep, "__exact"), "doc_id", "left")
            .join(_flag(nd_keep, "__nd"), "doc_id", "left")
            .join(scored, "doc_id", "left")
            .join(_flag(clean, "__clean"), "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("__exact", false).alias("f_exact"),
                (
                    F.coalesce("__exact", false)
                    & F.coalesce("__nd", false)
                ).alias("f_near"),
                F.coalesce("keep", false).alias("f_quality"),
                (
                    F.coalesce("keep", false)
                    & F.coalesce("__clean", false)
                ).alias("f_final"),
                "q_score",
            )
        )
        art.write.mode("overwrite").parquet(path)

    return _artifact(
        spark, "curation",
        _artifact_key(
            sf_dir,
            f"-s{dedup.SHINGLE_K}-j{JACCARD_THRESHOLD}"
            f"-p{text_analytics.QUALITY_FILTER_P}",
            text_analytics, text_fns, dedup,
        ),
        build,
    )


def _curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline — the composition the individual
    operators exist for: exact dedup (keep md5-canonical docs) →
    near-dup retention (keep component-min reps) → quality filter
    (drop the bottom ⌊N·p⌋ of the SURVIVORS) → decontamination (drop
    eval-overlapping docs and the eval slice itself). Output: the
    final training corpus as (doc_id, q_score).

    The quality stage is the EXACT discrete cutoff, computed as a
    running count (``text_analytics.quality_cut``) rather than an O(N)
    bottom-k relation: no TakeOrderedAndProject, no broadcast that
    grows with the corpus (pinned by tests/test_plans.py). The whole
    ancestry runs ONCE at artifact build (``_curation_artifact``);
    serving is a flag filter over the persisted per-doc stage frame."""
    return (
        _curation_artifact(spark, sf_dir)
        .filter(F.col("f_final"))
        .select("doc_id", "q_score")
    )


def _curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel report: per-stage survivor counts through raw →
    exact dedup → near-dup retention → quality cut → decontamination —
    the attrition audit every curation run ships next to its output
    corpus (which stage dropped how much is the first question asked
    of any filtered dataset). ONE conditional-count aggregate over the
    persisted per-doc stage frame (``_curation_artifact``), stacked to
    the five report rows — a single scan instead of five plans over
    the full ancestry."""
    agg = _curation_artifact(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("raw"),
        F.count_if("f_exact").alias("exact_dedup"),
        F.count_if("f_near").alias("near_dup"),
        F.count_if("f_quality").alias("quality"),
        F.count_if("f_final").alias("decontam"),
    )
    return agg.selectExpr(
        "stack(5, "
        "1L, 'raw', raw, "
        "2L, 'exact_dedup', exact_dedup, "
        "3L, 'near_dup', near_dup, "
        "4L, 'quality', quality, "
        "5L, 'decontam', decontam"
        ") as (stage_idx, stage, n_docs)"
    )


TIME_TRAVEL_DELETE_MOD = 10  # DELETE WHERE doc_id % 10 == 3


def _time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACID read-path math, oracle-checked: a merge-on-read
    TombstoneTable seeded from the corpus with one epoch-stamped
    DELETE WHERE; snapshot reads at epoch 0 (pre-delete) and current
    must count exactly what plain SQL predicates count. The table is
    a fingerprint-keyed cached artifact, so repeated invocations read
    the same two snapshots (idempotent under bench reruns)."""
    from rag_database_spark.sources import acid

    # the table is complete by its epochs, not by a _SUCCESS marker, so
    # it takes only its directory from the artifact store
    root = _artifact_dir(
        "tt_table",
        _artifact_key(
            sf_dir, f"-d{TIME_TRAVEL_DELETE_MOD}", acid, with_entry=False
        ),
    )
    tbl = acid.TombstoneTable(spark, root, key_col="doc_id")
    if tbl._current_epoch() < 2:  # epoch 1 = append, epoch 2 = delete
        tbl.append(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "source", "n_chars"
            )
        )
        tbl.delete_where(
            F.col("doc_id") % TIME_TRAVEL_DELETE_MOD == 3
        )
    pre = tbl.read(as_of_epoch=1).agg(
        F.count(F.lit(1)).alias("n_rows")
    ).select(F.lit(1).alias("epoch"), "n_rows")
    cur = tbl.read().agg(F.count(F.lit(1)).alias("n_rows")).select(
        F.lit(2).alias("epoch"), "n_rows"
    )
    return pre.unionByName(cur)


def _strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-cleaning markup strip over the deterministic HTML-wrapped
    corpus fixture; round_trip pins strip(wrap(text)) == text."""
    return text_analytics.strip_markup(
        text_analytics.wrap_markup(load_table(spark, sf_dir, "documents"))
    )


def _source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing recipe: per-source doc/token totals + the uniform
    sampling weight that caps each source at a token budget."""
    return text_analytics.source_mix(load_table(spark, sf_dir, "documents"))


def _vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep probe: top-V vocab induction + per-doc OOV rate
    (vocab broadcast; corpus token stream never shuffles)."""
    return text_analytics.vocab_oov(load_table(spark, sf_dir, "documents"))


def _temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """τ=2 temperature source-mixing rollup: per-source keep rate ∝
    √size/size under a half-corpus char budget, deterministic md5
    keep set (rate table broadcast; doc stream never shuffles)."""
    return text_analytics.temperature_sample(
        load_table(spark, sf_dir, "documents")
    )


def _lm_artifact(spark: SparkSession, sf_dir: str, family: str,
                 lang: str | None = None) -> DataFrame:
    """Per-corpus bigram-LM artifact (w1, w2, lp), trained once per
    corpus fingerprint — on the ``lang`` slice when given — so scoring
    calls join the read-back model instead of re-aggregating the
    corpus. LM_ALPHA is baked into the log-probs and the slice into
    the counts, so both version the key."""

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        if lang is not None:
            docs = docs.filter(F.col("lang") == lang)
        text_analytics.train_lm(docs).write.mode("overwrite").parquet(path)

    return _artifact(
        spark, family,
        _artifact_key(
            sf_dir,
            f"-a{text_analytics.LM_ALPHA}" + (f"-l{lang}" if lang else ""),
            text_analytics, text_fns, with_entry=False,
        ),
        build,
    )


def _lm_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-corpus bigram-LM artifact."""
    return _lm_artifact(spark, sf_dir, "lm_model")


def _lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style fluency filter signal: per-doc mean log-prob +
    perplexity under a corpus-trained add-k bigram LM (bigrams form
    array-side — no positional self-join), scored against the
    persisted per-corpus model artifact (one keyed join; training
    happens once per corpus, not per call)."""
    return text_analytics.lm_score(
        load_table(spark, sf_dir, "documents"),
        model=_lm_model(spark, sf_dir),
    )


def _bpe_artifacts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Per-corpus BPE tokenizer artifacts: the ordered merge list AND
    the (word → tokens) encode table, trained once per corpus
    fingerprint and persisted — the merge loop never runs at query
    time; encoding is a keyed join against the read-back table."""

    def build(path: str) -> None:
        merges, encoded = bpe_ops.train_bpe(
            load_table(spark, sf_dir, "documents")
        )
        merges.coalesce(1).write.mode("overwrite").parquet(f"{path}/merges")
        encoded.write.mode("overwrite").parquet(f"{path}/encoded")

    return _artifact(
        spark, "bpe",
        _artifact_key(
            sf_dir,
            f"-n{bpe_ops.DEFAULT_MERGES}-c{bpe_ops.DEFAULT_MIN_COUNT}",
            bpe_ops, text_fns, with_entry=False,
        ),
        build,
        lambda d: (
            spark.read.parquet(f"{d}/merges"),
            spark.read.parquet(f"{d}/encoded"),
        ),
        done="encoded",
    )


def _bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training step 0 as an audit: top-100 adjacent symbol pairs
    over the word-frequency table (pairs form array-side, one
    aggregation exchange) — DuckDB-oracled."""
    return bpe_ops.pair_stats(
        load_table(spark, sf_dir, "documents"), top_n=100
    )


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer model: ordered merge list from the
    persisted per-corpus artifact. Rows-only at the driver (the merge
    loop is iterative — not SQL-expressible); pinned against a pure-
    Python BPE reference implementation in tests/test_bpe.py."""
    merges, _ = _bpe_artifacts(spark, sf_dir)
    return merges.orderBy("rank")


def _bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BPE token accounting against the persisted encode
    table: explode + (doc_id, word) rollup + one join keyed on word —
    the scale path a tokenizer-aware pipeline uses (token budgets,
    packing lengths). Rows-only at the driver; invariants pinned in
    tests/test_bpe.py."""
    _, encoded = _bpe_artifacts(spark, sf_dir)
    return bpe_ops.encode_docs(
        load_table(spark, sf_dir, "documents"), encoded
    )


def _lang_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (bpe.lang_fertility): tokens
    per word by language against the persisted per-corpus BPE encode
    table — the multilingual tokenizer-bias audit. Rides the
    bpe_tokens plan plus one doc-keyed join and a language rollup."""
    _, encoded = _bpe_artifacts(spark, sf_dir)
    return bpe_ops.lang_fertility(
        load_table(spark, sf_dir, "documents"), encoded
    )


CONTRASTIVE_IN_LANG = "en"  # the in-domain slice for Moore-Lewis


def _lm_model_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-domain bigram-LM artifact: trained on the ``lang = en``
    slice only, persisted per corpus fingerprint beside the
    whole-corpus model (``_lm_model``)."""
    return _lm_artifact(spark, sf_dir, "lm_model_in", CONTRASTIVE_IN_LANG)


def _contrastive_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moore-Lewis contrastive data selection: per-doc in-domain-vs-
    corpus bigram-LM log-prob difference + in-domain bigram coverage,
    scored against the two persisted per-corpus model artifacts (one
    keyed join each; no training at query time)."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analytics.contrastive_score(
        docs,
        docs.filter(F.col("lang") == CONTRASTIVE_IN_LANG),
        in_model=_lm_model_in(spark, sf_dir),
        base_model=_lm_model(spark, sf_dir),
    )


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (one md5 + Kirsch-Mitzenmacher per shingle,
    oracle-reproducible), over the persisted shingle index (S7)."""
    return dedup.minhash_signatures(
        load_table(spark, sf_dir, "documents"),
        shingle_index=_shingle_index(spark, sf_dir),
    )


def _simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints over tf-weighted raw tokens."""
    return dedup.simhash(load_table(spark, sf_dir, "documents"))


def _table_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16/F17: pipe-table parse + cell typing over the fixture corpus."""
    return tables_extract.parse_pipe_tables(tables_extract.fixtures_df(spark))


def _table_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/A9: table type classification + column-count variance."""
    return tables_extract.table_summary(tables_extract.fixtures_df(spark))


def _extract_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10-F14: contract/tax/financial metadata + doc-type routing.
    Array columns are '|'-joined at the entry boundary (scalar cells for
    the driver hash); the operator keeps its typed array outputs."""
    df = domain_metadata.extract_metadata(domain_metadata.fixtures_df(spark))
    for c in ("parties", "irc_sections", "tax_forms", "fiscal_periods",
              "code_sections"):
        df = df.withColumn(c, F.array_join(c, "|"))
    return df


DELETE_MOD = 7
UPSERT_MOD = 5
RERANK_CANDIDATES = 30


def _delete_document_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13/U2: anti-join cascade across dependent tables; output =
    surviving row counts per table."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    doomed = docs.filter(F.col("doc_id") % DELETE_MOD == 0).select("doc_id")
    survivors = lifecycle.delete_document_cascade(
        {"documents": docs, "embeddings": emb},
        doomed,
        {"documents": "doc_id", "embeddings": "vec_id"},
    )
    parts = [
        df.agg(F.count("*").alias("n_remaining")).select(
            F.lit(name).alias("table_name"), "n_remaining"
        )
        for name, df in survivors.items()
    ]
    return parts[0].unionByName(parts[1])


def _vector_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/S12: idempotent keep-latest upsert on the vector table."""
    emb = load_table(spark, sf_dir, "embeddings")
    existing = emb.select("vec_id", "label", F.lit(1).alias("version"))
    incoming = (
        emb.filter(F.col("vec_id") % UPSERT_MOD == 0)
        .select(
            "vec_id",
            (F.col("label") + 1000).alias("label"),
            F.lit(2).alias("version"),
        )
    )
    return lifecycle.upsert_latest(existing, incoming, "vec_id", "version")


def _rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6/M8: rerank the BM25 candidate list with the deterministic
    pair scorer, re-sort, top-k."""
    queries = workload.queries_df(spark)
    cands = bm25_ops.topk(
        bm25_ops.score_queries(queries, *_bm25_index(spark, sf_dir)),
        RERANK_CANDIDATES,
    ).select("query_id", F.col("doc_id").alias("id"))
    return lifecycle.lexical_overlap_rerank(
        cands,
        queries,
        load_table(spark, sf_dir, "documents"),
        workload.HYBRID_LIMIT,
        id_col="doc_id",
    )


def _bm25_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5: index-level stats from the persisted tables."""
    return lifecycle.bm25_index_stats(*_bm25_index(spark, sf_dir))


def _events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event analytics (streaming/events.py)."""
    return streaming_events.hourly_event_agg(
        load_table(spark, sf_dir, "events")
    )


def _user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity), batch window form."""
    return streaming_events.sessionize(load_table(spark, sf_dir, "events"))


def _event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: per-step first-occurrence
    chaining (strictly-after), user-keyed joins, 1-row totals
    broadcast for the conversion column."""
    return streaming_events.funnel(load_table(spark, sf_dir, "events"))


FUNNEL_WINDOW_US = 3_600_000_000  # "converted within the hour"


def _event_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with a per-step conversion window: each step must land
    within FUNNEL_WINDOW_US of the previous one (integer µs
    arithmetic, engine-portable) — the 'click within an hour of the
    view' business rule on top of the strictly-after chaining."""
    return streaming_events.funnel(
        load_table(spark, sf_dir, "events"), within_us=FUNNEL_WINDOW_US
    )


def _cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle (first-event cohort × activity
    week, distinct users; offsets exact via Monday alignment)."""
    return streaming_events.cohort_retention(
        load_table(spark, sf_dir, "events")
    )


def _events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP CUBE rollup: four granularities in one exchange, gid
    bitmask disambiguating rollup NULLs."""
    return relational.events_cube(load_table(spark, sf_dir, "events"))


def _events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distribution profile (exact percentiles +
    distinct users); the sketch twin is pinned in tests/test_sketches."""
    return relational.events_profile(load_table(spark, sf_dir, "events"))


def _events_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch twin of events_profile as its own bench-visible entry
    (r16 VERDICT stretch 7): HLL++ distinct users +
    ``percentile_approx`` quantile summaries — constant state per
    group, no distinct shuffle, the form the exact entry's docstring
    names as the 100 TB drop-in. Rows-only driver check BY DESIGN:
    sketch estimates are engine-implementation-defined (Spark's HLL++
    /QuantileSummaries vs DuckDB's HLL produce different — individually
    correct — estimates from identical data), so no cross-engine value
    hash can exist; the accuracy contract is pinned against the exact
    forms in tests/test_sketches.py, and this entry's job is a tracked
    LATENCY row so the sketch plan's scaling stays measured beside the
    exact path's."""
    return relational.events_profile_approx(
        load_table(spark, sf_dir, "events")
    )


def _conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: purchase ⋈ latest same-user
    click within the 1-hour window; the stream-stream interval-join
    twin is tested for agreement in tests/."""
    return streaming_events.attribute_conversions(
        load_table(spark, sf_dir, "events")
    )


def _dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-n-gram fraction (RefinedWeb/Dolma contamination
    metric): share of each document's word 5-grams that occur in at
    least one other document."""
    return text_analytics.dup_ngram_fraction(
        load_table(spark, sf_dir, "documents")
    )


def _dedup_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 overlap-resolution dedup over deterministic regions derived
    from the documents table (4 per doc, ~half overlapping). Oracled as
    a DuckDB recursive-CTE state walk (oracles.dedup_regions_sql); the
    keep rules are additionally pinned on the hand fixture by unit
    test (tests/test_ingest.py)."""
    regions = tables_extract.synthetic_regions(
        load_table(spark, sf_dir, "documents")
    )
    return tables_extract.dedup_overlapping_regions(regions).select(
        "document_id",
        F.col("start").alias("r_start"),
        F.col("end").alias("r_end"),
        "confidence",
    )


def _domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: top-10 documents per source by quality score
    (window rank on the rounded score, deterministic ties)."""
    return text_analytics.domain_cap(load_table(spark, sf_dir, "documents"))


def _redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (email/card/SSN/phone/IPv4) over the fixture corpus —
    ordered count+replace chain, all JVM regexp expressions."""
    from rag_database_spark.operators import redaction

    return redaction.redact_pii(redaction.pii_fixtures_df(spark))


def _media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary plumbing: documents.text as an opaque binary
    payload through the Arrow mapInPandas media path."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return multimodal.media_stats(
        multimodal.media_table(docs, "doc_id", "payload", "text")
    )


def _media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4-parity resize clamp (reference: page images <=1024px,
    document_processor.py:219-237): aspect-preserving integer-exact
    dims through the Arrow media path; payload projected away so the
    result hashes (the binary travels executor-side only)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    # real=False pinned: payloads are text bytes, not decodable
    # images — the PIL branch must never trigger even if installed
    out = multimodal.resize_media(
        multimodal.media_table(docs, "doc_id", "payload", "image"),
        real=False,
    )
    return out.select(
        "media_id",
        "kind",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("new_width").cast("long").alias("new_width"),
        F.col("new_height").cast("long").alias("new_height"),
        "resized",
    )


VIDEO_FRAME_BYTES = 32
VIDEO_EVERY_N = 2
VIDEO_JACCARD = 0.5


def _video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup: sampled-frame-set Jaccard — frame_sample emits
    every 2nd fixed-size frame, each frame hashes to one md5 'shingle',
    and the pair join is the SAME inverted-index machinery as text
    near-dup (shingle_jaccard_pairs over a prebuilt exploded index:
    candidate-ceiling auto-switch, never all-pairs). Two videos
    sharing most sampled frames pair up regardless of length — the
    frame-set analog of content-defined video dedup."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    frames = multimodal.frame_sample(
        multimodal.media_table(docs, "doc_id", "payload", "video"),
        every_n=VIDEO_EVERY_N,
        frame_bytes=VIDEO_FRAME_BYTES,
    )
    ex = frames.select(
        F.col("media_id").alias("doc_id"),
        F.md5(F.col("frame")).alias("s"),
    ).distinct()
    return dedup.shingle_jaccard_pairs(
        None, VIDEO_JACCARD, shingle_index=ex
    )


AUDIO_FP_HAMMING = 5  # 6 blocks × 10 bits over the 60-bit fingerprint


def _audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup: Haitsma-Kalker-style energy-delta fingerprint
    per payload (soundfile seam; deterministic md5 frame-energy stub
    otherwise) + the same Hamming-banded pair join as the image/text
    SimHash family — keyed, never all-pairs."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    fps = multimodal.audio_fingerprint(
        multimodal.media_table(docs, "doc_id", "payload", "audio"),
        real=False,  # text-derived payloads: pin the stub energies
    ).select(
        F.col("media_id").alias("doc_id"),
        F.col("audio_fp").alias("simhash"),
    )
    return dedup.simhash_pairs(
        fps, AUDIO_FP_HAMMING, bits=multimodal.AUDIO_FP_FRAMES - 1
    ).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


IMAGE_DHASH_HAMMING = 5  # 6 blocks × 10 bits over the 60-bit dHash


def _image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup for the multimodal family: 60-bit perceptual
    dHash per media payload (PIL seam; deterministic length-scaled
    md5 pixel stub otherwise) + Hamming-banded pair join reusing the
    SimHash pigeonhole machinery — d+1 blocks, keyed join, never
    all-pairs. The reference stores page images
    (metadata_store.py:315-357); this is the dedup pass over them."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    fps = multimodal.image_dhash(
        multimodal.media_table(docs, "doc_id", "payload", "image"),
        real=False,  # text-derived payloads: pin the stub pixel grid
    ).select(
        F.col("media_id").alias("doc_id"),
        F.col("dhash").alias("simhash"),
    )
    return dedup.simhash_pairs(
        fps, IMAGE_DHASH_HAMMING, bits=multimodal.DHASH_BITS
    ).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _text_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-lite + J11: deterministic hash-projection embedder feeding
    cosine top-k — the full embed→index→search path, model-free."""
    from rag_database_spark.functions.embedder import hash_embed

    docs = fan_out(load_table(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("id"), hash_embed(F.col("text")).alias("vec")
    )
    q = workload.queries_df(spark).select(
        "query_id", hash_embed(F.col("query_text")).alias("qvec")
    )
    return similarity.cosine_topk(q, docs, workload.HYBRID_LIMIT).select(
        "query_id",
        "id",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


VISUAL_SEARCH_TYPES = ("table", "figure")


def _visual_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3/P10: MaxSim over visual elements restricted to the requested
    element types (vector_store.py:714-780 element-type filter)."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = similarity.maxsim_scores_pruned(
        workload.query_patches_df(spark, emb),
        workload.multivector_pages(emb),
        FETCH_MULTIPLIER * workload.HYBRID_LIMIT,
    )
    etypes = F.array(*[F.lit(t) for t in oracles.VISUAL_ELEMENT_TYPES])
    elements = scored.withColumn(
        "element_type",
        F.element_at(
            etypes,
            (F.col("page_id") % len(oracles.VISUAL_ELEMENT_TYPES) + 1).cast(
                "int"
            ),
        ),
    ).filter(F.col("element_type").isin(*VISUAL_SEARCH_TYPES))
    return bm25_ops.topk(
        elements, workload.HYBRID_LIMIT, id_col="page_id"
    ).select(
        "query_id",
        F.col("page_id").alias("element_id"),
        "element_type",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _chunk_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P9 (unified_chunk.py:187-215, master_pipeline.py:703-707):
    paragraph-level chunks only, projected to the indexing payload with
    truncated text."""
    chunks = chunking.chunk_pipeline(load_table(spark, sf_dir, "documents"))
    return chunks.filter(F.col("level") == "paragraph").select(
        "chunk_id",
        "doc_id",
        "page_number",
        "token_count",
        F.substring("chunk_text", 1, 1000).alias("text_excerpt"),
    )


def _colpali_lite_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: avg-pooled multi-vectors → single-vector cosine top-k (the
    reference's ColPali-lite cheap path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pooled_pages = workload.multivector_pages(emb).select(
        F.col("page_id").alias("id"),
        similarity.avg_pool_patches(F.col("patches")).alias("vec"),
    )
    pooled_q = workload.query_patches_df(spark, emb).select(
        "query_id",
        similarity.avg_pool_patches(F.col("patches")).alias("qvec"),
    )
    return similarity.cosine_topk(
        pooled_q, pooled_pages, workload.HYBRID_LIMIT
    ).select(
        "query_id",
        "id",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _hybrid_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 + F8: three-leg hybrid with per-query modality-adaptive
    weights (visual queries boost colpali, text queries boost dense)
    instead of the static .3/.5/.2 (hybrid_search.py:191-217 +
    query_analyzer.py:123-186)."""
    queries = workload.queries_df(spark)
    # no localCheckpoint: over the LocalRelation workload the optimizer
    # folds the F8 signal projection into a literal table
    # (ConvertToLocalRelation), and the lazy entry is served from
    # _PREPARED — 1.25 s vs 2.57 s per call with the checkpoint
    # (median of 6 alternating pairs, sf0.01, 4 cores)
    weights = queries.select(
        "query_id", qa.suggested_weights(F.col("query_text")).alias("w")
    ).select("query_id", "w.*")
    return rrf_fuse(
        _three_legs(spark, sf_dir, queries), workload.HYBRID_LIMIT, weights
    ).select("query_id", "id", "rrf_score", "rank")


def _chunking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: per-level chunk totals over the chunk pipeline."""
    chunks = chunking.chunk_pipeline(load_table(spark, sf_dir, "documents"))
    return chunks.groupBy("level").agg(
        F.count("*").alias("n_chunks"),
        F.sum("token_count").alias("total_tokens"),
        # exact integer sum / count in one IEEE division: bit-identical
        # across engines (round(avg) drifted below 6dp)
        (F.sum("token_count").cast("double") / F.count("*")).alias(
            "avg_tokens"
        ),
        F.max("page_number").alias("max_page"),
    )


def _search_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: search-term set expansion (original ∪ enhanced ∪ matched
    acronym expansions)."""
    return workload.analysis_queries_df(spark).select(
        "query_id",
        # sorted for the order-insensitive oracle compare (the operator
        # itself preserves priority order); '|'-joined so every output
        # cell is scalar-hashable by the driver
        F.array_join(
            F.array_sort(qa.search_terms(F.col("query_text"))), "|"
        ).alias("search_terms"),
    )


def _query_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3-F8: classify / precision-detect / modality+weights / domain /
    acronym expansion over the analysis workload."""
    return qa.analyze_queries(workload.analysis_queries_df(spark))


def _enhanced_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: base hybrid (2× over-fetch) + precision BM25 fallback with
    +0.5 boost, J4 priority merge, top-k."""
    return qa.enhanced_search(
        workload.queries_df(spark),
        load_table(spark, sf_dir, "embeddings"),
        _bm25_index(spark, sf_dir),
        limit=workload.HYBRID_LIMIT,
    )


def _search_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-query failure-signal rollup over enhanced results.
    `sources` is '|'-joined at the entry boundary (scalar cells for the
    driver hash); the operator keeps its typed array output."""
    return qa.search_analytics(_enhanced_search(spark, sf_dir)).withColumn(
        "sources", F.array_join("sources", "|")
    )


def _maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12/M6/T3: MaxSim late-interaction top-k over the multi-vector
    page table (Q3/Q4 visual-only search)."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = similarity.maxsim_scores_pruned(
        workload.query_patches_df(spark, emb),
        workload.multivector_pages(emb),
        FETCH_MULTIPLIER * workload.HYBRID_LIMIT,
    )
    return bm25_ops.topk(scored, workload.HYBRID_LIMIT, id_col="page_id").select(
        "query_id",
        "page_id",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _hybrid_rrf3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 full: three-leg hybrid (bm25/dense/colpali) with J2/J3 page→
    chunk propagation feeding the colpali leg."""
    legs = _three_legs(spark, sf_dir, workload.queries_df(spark))
    return rrf_fuse(legs, workload.HYBRID_LIMIT)


GRAPH_SEED_MAX = 10
GRAPH_MAX_DEPTH = 2
GRAPH_MIN_CONF = 0.7


def _doc_edge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge table over the test corpus: same-source sequence chains
    (deterministic confidence grid) + near-dup pairs (confidence =
    Jaccard). Stands in for F19-extracted edges, which need legal text
    the synthetic corpus lacks (extraction itself is unit-tested)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    seq = (
        docs.select("source", "doc_id")
        .withColumn("nxt", F.lead("doc_id").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            F.col("doc_id").alias("src"),
            F.col("nxt").alias("dst"),
            F.lit("sequence").alias("relation_type"),
            F.round(0.5 + (F.col("doc_id") % 5) * 0.1, 6).alias("confidence"),
        )
    )
    nd = _jaccard_pairs(spark, sf_dir).select(
        F.col("id_a").alias("src"),
        F.col("id_b").alias("dst"),
        F.lit("near_dup").alias("relation_type"),
        F.col("jaccard").alias("confidence"),
    )
    return seq.unionByName(nd)


def _doc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19-shaped edge table (W6-deduped by construction)."""
    return _doc_edge_table(spark, sf_dir)


def _adjacency(spark: SparkSession, sf_dir: str, min_conf: float) -> DataFrame:
    """Traversal-ready adjacency (undirected, confidence-filtered,
    hash-partitioned on the join key) — query-independent per (corpus,
    cutoff), so it materializes once and every BFS/augmentation call
    reuses the persisted partitions instead of re-deriving edge
    extraction + exchange per walk."""
    # repartition("me") restores the join-key clustering the parquet
    # round-trip drops from the plan's partitioning info; the persist
    # pins it so every BFS wave reuses one exchange
    return _artifact(
        spark, "adjacency", _graph_key(sf_dir, f"-c{min_conf}"),
        lambda d: graph_ops.write_adjacency(
            graph_ops.build_adjacency(_doc_edge_table(spark, sf_dir), min_conf),
            d,
        ),
        lambda d: graph_ops.read_adjacency(spark, d)
        .repartition("me")
        .persist(),
    )


def _graph_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/U5: multi-source BFS (depth ≤ 2, confidence ≥ 0.7) over the
    document graph — iterative join + left_anti visited set."""
    edges = _doc_edge_table(spark, sf_dir)
    seeds = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < GRAPH_SEED_MAX)
        .select(F.col("doc_id").alias("start_id"))
    )
    return graph_ops.bfs_expand(
        edges, seeds, GRAPH_MAX_DEPTH, GRAPH_MIN_CONF,
        adj=_adjacency(spark, sf_dir, GRAPH_MIN_CONF),
    ).select("start_id", "doc_id", F.col("depth").cast("long").alias("depth"))


def _graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: per-relation-type rollup of the edge table."""
    return graph_ops.graph_stats(_doc_edge_table(spark, sf_dir))


PAGERANK_TOPK = 20

def _pagerank_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PageRank-ready out-edge list (undirected + degree, the walk
    structure every pagerank/PPR call needs), persisted so personalized
    runs skip the per-call edge prep."""
    return _artifact(
        spark, "pagerank_edges", _graph_key(sf_dir),
        lambda d: graph_ops.pagerank_edges(
            _doc_edge_table(spark, sf_dir)
        ).write.mode("overwrite").parquet(d),
        lambda d: spark.read.parquet(d).repartition("me").persist(),
    )


def _pagerank_scores(
    spark: SparkSession, sf_dir: str, weighted: bool = False
) -> DataFrame:
    """Global PageRank scores: query-independent per corpus, so
    serving reads the persisted parquet instead of re-running the
    5-round iteration."""

    def build(path: str) -> None:
        out = (
            graph_ops.pagerank_edges(
                _doc_edge_table(spark, sf_dir), weighted=True
            ).persist()
            if weighted
            else _pagerank_out(spark, sf_dir)
        )
        graph_ops.pagerank(
            load_table(spark, sf_dir, "documents"), out=out,
            weighted=weighted,
        ).write.mode("overwrite").parquet(path)
        if weighted:
            out.unpersist()

    # iteration count and damping are baked into the persisted scores
    return _artifact(
        spark, "pagerank",
        _graph_key(
            sf_dir,
            f"-i{graph_ops.PAGERANK_ITERATIONS}"
            f"-d{graph_ops.PAGERANK_DAMPING}" + ("-w" if weighted else ""),
        ),
        build,
    )


def _doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference LLM-pipeline op: document-importance PageRank
    over the doc graph (fixed 5-round power iteration; oracle =
    unrolled SQL chain), served from the persisted per-corpus score
    artifact. Top-k is a TakeOrderedAndProject over the rounded
    score, and the 1..k rank is stamped on the k survivors only —
    never a global window."""
    return _pagerank_top(_pagerank_scores(spark, sf_dir))


def _pagerank_top(scores: DataFrame) -> DataFrame:
    ranks = scores.select("doc_id", F.round("rank", 6).alias("score"))
    top = ranks.orderBy(F.desc("score"), "doc_id").limit(PAGERANK_TOPK)
    # unpartitioned window is intentional and safe: it runs over `top`,
    # already bounded to PAGERANK_TOPK rows by the TakeOrderedAndProject
    # above — the single-partition WindowExec warning it emits covers a
    # k-row frame, never the corpus (r15 VERDICT item 8)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).orderBy("rank")


def _pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence-weighted PageRank: transition probability ∝ edge
    confidence (max over parallel edges; weight-sum degree rounded 6dp
    for cross-engine bit-identity), served from the weighted score
    artifact."""
    return _pagerank_top(_pagerank_scores(spark, sf_dir, weighted=True))


def _graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient
    (degree-oriented compact-forward wedge join — hub-degree-bounded
    at scale)."""
    return graph_ops.triangles(_doc_edge_table(spark, sf_dir))


PPR_SEED_MAX = 5

def _ppr_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted personalized-PageRank score artifact — the entry's
    seed set is a FIXED workload constant (doc_id < PPR_SEED_MAX),
    so like ``_pagerank_scores`` the scores are query-independent per
    corpus and serve from parquet (r16: the live 5-round power
    iteration previously re-ran per call, 4.3 s at sf0.1 vs ~0.05 s
    served). The iteration count, damping, and seed bound are baked
    into the key. A caller with DYNAMIC seeds runs
    ``graph_ops.pagerank(seeds=...)`` live — the loop this artifact's
    build (and the pagerank units) exercises."""

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        seeds = docs.filter(F.col("doc_id") < PPR_SEED_MAX).select("doc_id")
        graph_ops.pagerank(
            docs, seeds=seeds, out=_pagerank_out(spark, sf_dir)
        ).write.mode("overwrite").parquet(path)

    return _artifact(
        spark, "ppr",
        _graph_key(
            sf_dir,
            f"-i{graph_ops.PAGERANK_ITERATIONS}"
            f"-d{graph_ops.PAGERANK_DAMPING}-s{PPR_SEED_MAX}",
        ),
        build,
    )


def _ppr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a seed result set — graph-proximity
    re-ranking for retrieval augmentation (random-walk-with-restart;
    teleport + dangling mass concentrate on the seeds). Served from
    the persisted per-corpus score artifact (``_ppr_scores``)."""
    return _pagerank_top(_ppr_scores(spark, sf_dir))


CHAIN_SRC_MAX = 3
# destinations sit on the synthetic corpus's +20 sequence lattice so
# the pair list mixes every depth 1..CHAIN_MAX_DEPTH with unreachable
# (NULL) pairs — both J6 outcomes get oracle coverage
CHAIN_DST_MOD = 20
CHAIN_DST_REM_MAX = 2
CHAIN_DST_LO = 20
CHAIN_DST_HI = 100
CHAIN_MAX_DEPTH = 4
# J6 runs at the graph module's default 0.5 cutoff (not the 0.7 the
# expand entry uses) so multi-hop chains actually exist in the sparse
# synthetic graph — exercises depths 1..4 AND the unreachable-NULL path
CHAIN_MIN_CONF = graph_ops.MIN_CONFIDENCE


def _shortest_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: shortest relation chain per (src, dst) pair — one shared BFS
    from the distinct sources, then a join onto the pair list; NULL
    chain_len = unreachable within CHAIN_MAX_DEPTH."""
    docs = load_table(spark, sf_dir, "documents")
    srcs = docs.filter(F.col("doc_id") < CHAIN_SRC_MAX).select(
        F.col("doc_id").alias("src")
    )
    dsts = docs.filter(
        F.col("doc_id").between(CHAIN_DST_LO, CHAIN_DST_HI)
        & (F.col("doc_id") % CHAIN_DST_MOD <= CHAIN_DST_REM_MAX)
    ).select(F.col("doc_id").alias("dst"))
    return graph_ops.shortest_chains(
        _doc_edge_table(spark, sf_dir),
        srcs.crossJoin(dsts),
        CHAIN_MAX_DEPTH,
        CHAIN_MIN_CONF,
        adj=_adjacency(spark, sf_dir, CHAIN_MIN_CONF),
    )


def _augment_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: 1-hop graph augmentation of the top-5 hybrid results per
    query — related docs scored by avg edge confidence, best 3 new
    docs kept."""
    return graph_ops.augment_results(
        _hybrid_rrf(spark, sf_dir),
        _doc_edge_table(spark, sf_dir),
        adj=_adjacency(spark, sf_dir, graph_ops.MIN_CONFIDENCE),
    ).select("query_id", "id", "graph_score", "aug_rank")


def _extract_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19/W6: regex relationship extraction + confidence heuristic +
    deterministic first-seen dedup over the legal fixture corpus."""
    return graph_ops.extract_relationships(graph_ops.rel_fixtures_df(spark))


def _resolve_references(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: unresolved target refs joined against the identifier
    registry (broadcast); matches get the real doc id, first match by
    identifier order wins, the rest stay unresolved."""
    return graph_ops.resolve_references(
        graph_ops.extract_relationships(graph_ops.rel_fixtures_df(spark)),
        graph_ops.ident_registry_df(spark),
    )


def _related_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: docs related to a seed id set — union of both edge
    directions, distinct, seeds excluded (left_anti)."""
    seeds = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < GRAPH_SEED_MAX)
        .select("doc_id")
    )
    return graph_ops.related_ids(_doc_edge_table(spark, sf_dir), seeds)


def _semantic_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: sentences grouped by cosine to the running chunk centroid
    under the deterministic hash embedder. Hash-oracled since r13 —
    the sequential walk replays as one RECURSIVE CTE
    (oracles.semantic_chunks_sql: dyadic-exact md5 projections, the
    engine's recomputed centroid IS the incremental accumulation);
    the real-model seam stays injection-tested in tests/."""
    return chunking.semantic_chunks(chunking.section_fixtures_df(spark))


def _route_and_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 routing through all four chunkers; tier assigned
    deterministically from doc_id so every strategy exercises.
    Hash-oracled since r13 (oracles.route_and_chunk_sql — the
    recursive semantic/sdpm twins unioned with the long-proven
    sentence/token builders)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 8)
        .withColumn(
            "tier",
            F.element_at(
                F.array(
                    F.lit("high"), F.lit("medium"),
                    F.lit("low"), F.lit("garbage"),
                ),
                (F.col("doc_id") % 4 + 1).cast("int"),
            ),
        )
    )
    return chunking.route_and_chunk(docs)


def _gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter signals (Rae et al. 2021 bounds) over the
    documents table — pure column expressions, one scan."""
    return text_analytics.gopher_rules(load_table(spark, sf_dir, "documents"))


def _quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization audit over the embeddings table: the
    quantized array is hashed (md5) because the driver compare cannot
    hash list cells; error bounds are unit-pinned."""
    return similarity.quantize_embeddings(
        load_table(spark, sf_dir, "embeddings")
    ).select(
        "id", F.round("scale", 6).alias("scale"),
        "q_min", "q_max", "q_md5",
    )


def _quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine over int8-quantized vectors (scales cancel →
    integer dot products in codegen): the compute path paired with
    quantize_embeddings storage."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = similarity.query_vectors(workload.queries_df(spark), emb)
    return similarity.quantized_topk(
        qvecs, emb, workload.HYBRID_LIMIT
    ).select(
        "query_id",
        "id",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch AS-OF join (relational.asof_join, merge-union plan):
    every purchase picks the latest prior view by the same user,
    unbounded lookback — oracled against DuckDB's native ASOF JOIN."""
    events = load_table(spark, sf_dir, "events")
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    out = relational.asof_join(
        purchases, views, on="user_id",
        left_ts="purchase_ts", right_ts="ts",
    )
    return out.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        F.col("matched.view_id").alias("view_id"),
        F.col("matched.ts").alias("view_ts"),
        (
            F.unix_micros(F.col("purchase_ts").cast("timestamp"))
            - F.unix_micros(F.col("matched.ts").cast("timestamp"))
        ).cast("long").alias("gap_us"),
    )


def _repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher within-doc repetition filters (dup lines, top-2-gram /
    dup-5-gram char coverage) over the documents table."""
    return text_analytics.repetition_signals(
        load_table(spark, sf_dir, "documents")
    )


def _c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 web-text cleaning signals (Raffel et al. 2020) — line
    filters + page flags, one codegen scan. Runs over the multi-line
    fixture corpus (the synthetic documents are single-line word soup,
    which would leave every line rule untested — same pattern as
    redact_pii/extract_relationships)."""
    return text_analytics.c4_rules(text_analytics.c4_fixtures_df(spark))


def _qrels_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic modular relevance set ((vec_id + 3*query_id) % 9
    == 0), expressed as an EQUI-join on the residue so the probe is
    keyed, not a cross join."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = workload.queries_df(spark)
    return emb.select(
        F.col("vec_id").alias("id"),
        (F.col("vec_id") % 9).alias("m"),
    ).join(
        queries.select(
            "query_id",
            ((9 - (F.col("query_id") * 3) % 9) % 9).alias("m"),
        ),
        "m",
    ).select("query_id", "id")


def _ir_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation (evaluation.ir_metrics): MRR / recall@10 /
    nDCG@10 of the dense leg against the modular qrels fixture.
    Gains/IDCG are Python-computed literals on both engines; DCG is
    an ordered running sum, never a float groupBy."""
    from rag_database_spark.operators import evaluation

    return evaluation.ir_metrics(
        _dense_topk(spark, sf_dir),
        _qrels_fixture(spark, sf_dir),
        evaluation.IR_K,
    )


def _eval_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B retrieval comparison (evaluation.eval_delta): exact dense
    leg vs the matryoshka prefix cascade, both scored by ir_metrics
    against the same qrels, per-query metric deltas — the regression
    scoreboard an index/serving change must pass before rollout."""
    from rag_database_spark.operators import evaluation

    # eval_delta_sql derives both legs' depth from evaluation.IR_K
    # while the dense/matryoshka legs here fetch workload.HYBRID_LIMIT
    # — pin the assumed equality (same guard as _mmr_results;
    # ValueError, not assert: must survive python -O)
    if evaluation.IR_K != workload.HYBRID_LIMIT:
        raise ValueError(
            "evaluation.IR_K != workload.HYBRID_LIMIT: "
            f"{evaluation.IR_K} vs {workload.HYBRID_LIMIT}"
        )
    qrels = _qrels_fixture(spark, sf_dir)
    a = evaluation.ir_metrics(_dense_topk(spark, sf_dir), qrels)
    b = evaluation.ir_metrics(_matryoshka_topk(spark, sf_dir), qrels)
    return evaluation.eval_delta(a, b)


def _hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (evaluation.hard_negatives): the dense
    leg's 3x over-fetch minus the qrels positives, re-ranked by
    retrieval order — the contrastive-training negatives a bi-encoder
    recipe exports. One anti-join + one bounded per-query window on
    top of the retrieval that was already paid for."""
    from rag_database_spark.operators import evaluation

    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = similarity.query_vectors(workload.queries_df(spark), emb)
    fetch = workload.HYBRID_LIMIT * FETCH_MULTIPLIER
    results = similarity.cosine_topk(
        qvecs, emb, fetch, id_col="vec_id", vec_col="embedding"
    ).select(
        "query_id", "id", F.round("score", 6).alias("score"), "rank"
    )
    return evaluation.hard_negatives(
        results, _qrels_fixture(spark, sf_dir)
    )


def _flagged_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist-word filter (C4 §2.2 any-hit + Dolma ratio rule) over
    the documents table: one codegen scan, no shuffle — the bad-word
    step ``c4_rules`` delegates. Fixture blocklist drawn from the
    synthetic vocabulary so both decision branches are exercised."""
    return text_analytics.flagged_words(load_table(spark, sf_dir, "documents"))


def _shuffle_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: seeded hash60 sort key,
    modulo shard, within-shard rank — one narrow projection + one
    per-shard window, reproducible on any cluster size."""
    from rag_database_spark.operators.packing import shuffle_export

    return shuffle_export(load_table(spark, sf_dir, "documents"))


def _matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka dimension-cascade top-k: 16-dim prefix shortlist
    (12dp prefetch quantization) -> full-dim exact rescore of the 3x
    over-fetch — the column-pruned cheap-scan ANN path."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = similarity.query_vectors(workload.queries_df(spark), emb)
    return similarity.matryoshka_topk(
        qvecs, emb, workload.HYBRID_LIMIT,
        id_col="vec_id", vec_col="embedding",
    ).select(
        "query_id", "id", "score",
        F.col("rank").cast("long").alias("rank"),
    )


def _pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (training-batch assembly): per-shard contiguous
    token-stream offsets and the fixed-budget training-row span of each
    document — sharded so no global window serializes the corpus."""
    from rag_database_spark.operators.packing import pack_sequences

    return pack_sequences(load_table(spark, sf_dir, "documents"))


def _pack_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed training rows, projected for comparison:
    per-(shard, bin) doc/token counts + md5 of the space-joined packed
    stream (the digest pins content equality without moving the full
    token arrays through the compare)."""
    from rag_database_spark.operators.packing import pack_rows

    return pack_rows(load_table(spark, sf_dir, "documents")).select(
        "shard",
        "bin",
        "n_docs",
        "n_tokens",
        F.md5(F.array_join("tokens", " ")).alias("tokens_md5"),
    )


def _stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality-stratified corpus sampling: tier from the
    A7 quality pipeline, keep iff md5(seed:doc_id)'s 60-bit value falls
    under the tier fraction — the reproducible mixing step of a
    training-data pipeline (stable across partitioning and engines)."""
    return text_analytics.stratified_sample(
        load_table(spark, sf_dir, "documents"), deterministic=True
    )


def _decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 8-gram overlap of every training doc
    against the (broadcast) benchmark gram set, flagged at 10%."""
    return text_analytics.decontaminate(
        load_table(spark, sf_dir, "documents")
    )


def _route_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 tier→strategy dispatch over the REAL quality tiers, oracled
    on per-strategy doc counts + char volume (the C4 chunk contents
    stay rows-only; this pins the router)."""
    docs = load_table(spark, sf_dir, "documents")
    dq = text_analytics.doc_quality(docs).select("doc_id", "tier")
    expr = None
    for tier, strat in chunking.STRATEGY_BY_TIER.items():
        cond = F.col("tier") == tier
        expr = (
            F.when(cond, F.lit(strat))
            if expr is None
            else expr.when(cond, F.lit(strat))
        )
    return (
        docs.select("doc_id", "n_chars")
        .join(dq, "doc_id")
        .withColumn("strategy", expr)
        .groupBy("strategy")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


def _detect_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: per-line section-header cascade over the structured fixture
    corpus (family, title, section number, dot-depth level)."""
    return chunking.detect_sections(chunking.section_fixtures_df(spark))


def _sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3/C7/P11: sentence-boundary split with the 20-char minimum over
    the structured fixture corpus."""
    return chunking.sentence_chunks(chunking.section_fixtures_df(spark))


def _table_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18: dual table representations — CSV-like structured text and
    the one-sentence semantic description."""
    return tables_extract.table_texts(tables_extract.fixtures_df(spark))


def _embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs. Auto-dispatched: exact
    broadcast-GEMM under similarity.GEMM_MAX_CELLS (true here, so the
    oracle compare stays exact), LSH-bucketed candidates + exact
    verification above it (recall-tested in tests/)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dupes(
        emb, COSINE_DUP_THRESHOLD, id_col="vec_id", vec_col="embedding"
    ).select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


# driver-testdata embeddings width (TESTDATA.md; also pinned at the
# lsh_topk call above) — the kmeans oracle unrolls its distance chain
# to exactly this many terms
EMBEDDING_DIM = 64

def _kmeans_artifact(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Persisted deterministic k-means artifact: the assignments
    (vec_id, cluster_id) and the settled centroids (cluster_id, cvec) —
    trained once per EMBEDDINGS-table fingerprint (Lloyd's with
    KMEANS_ITERS updates, clustering.kmeans_fit), so the clustering
    entries read it back instead of re-running the iterative fit per
    call.

    k is ADAPTIVE (clustering.kmeans_k_for over the corpus count), the
    SemDeDup scale contract: cluster size stays ~KMEANS_TARGET_CLUSTER
    as the corpus grows, so within-cluster pair joins scale linearly
    (the r12 pinned k=8 made Σ|c|² quadratic — measured exponent 1.47
    on the scale probe). Exact cross-engine replay survives because
    the oracle's kk CTE derives the SAME k from count(*) in SQL
    (oracles._kmeans_ctes — the knn_graph_lsh plane-count trick). The
    count is taken at build only: the embeddings fingerprint in the
    key covers it, so a grown corpus never serves a smaller-k
    artifact."""

    def build(path: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        # the codegen'd literal-fold assignment (the oracle-exact
        # path) up to KMEANS_EXPR_MAX_K, the Arrow-batch
        # GEMM beyond it. At driver-correctness scale (sf0.01, 500
        # rows) the derived k is KMEANS_K=8 → fold path → bit-exact vs
        # the unrolled CTEs; at bench/probe scales the GEMM path is
        # the documented scale implementation (no hash check runs
        # there).
        assign_df, cents = clustering.kmeans_fit(
            emb, k=clustering.kmeans_k_for(emb.count())
        )
        assign_df.write.mode("overwrite").parquet(f"{path}/assign")
        # the settled centroids are part of the artifact too: the
        # outlier pruner computes distance against them without ever
        # re-running the fit (k rows × dim doubles — tiny)
        local_frame(
            spark, list(enumerate(cents)), "cluster_id int, cvec array<double>"
        ).write.mode("overwrite").parquet(f"{path}/centroids")

    return _artifact(
        spark, "kmeans",
        _artifact_key(
            sf_dir,
            f"-i{clustering.KMEANS_ITERS}-q{clustering.KMEANS_SCALE}",
            clustering, vector_fns, table="embeddings", with_entry=False,
        ),
        build,
        lambda d: (
            spark.read.parquet(f"{d}/assign"),
            spark.read.parquet(f"{d}/centroids"),
        ),
        done="centroids",
    )


def _embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means over the embedding corpus
    (clustering.kmeans_fit; exact cross-engine replay — see the module
    docstring's determinism argument). Output joins the ground-truth
    label for purity eyeballing; the DuckDB oracle replays all
    KMEANS_ITERS rounds as unrolled CTEs and must agree on every
    assignment exactly, not approximately."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", "label")
        .join(
            _kmeans_artifact(spark, sf_dir)[0].withColumnRenamed(
                "id", "vec_id"
            ),
            "vec_id",
        )
        .select("vec_id", "cluster_id", "label")
    )


def _semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup —
    pairwise cosine only WITHIN a k-means cluster (the persisted
    assignment artifact), drop iff a lower-id cluster-mate sits at
    cosine ≥ SEMDEDUP_THRESHOLD. The published scale path for
    embedding dedup: Σ|cluster|² pairs instead of N²."""
    emb = load_table(spark, sf_dir, "embeddings")
    assign, _ = _kmeans_artifact(spark, sf_dir)
    return clustering.semdedup(emb, assign).withColumnRenamed("id", "vec_id")


def _kmeans_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance outlier pruning (clustering.centroid_outliers)
    — NeMo-Curator-style post-clustering curation: per vector, squared
    distance to its OWN cluster's settled centroid in the quantized
    frame, closest-first rank, and the integer keep rule that prunes
    the farthest 1/10 of every cluster. Reads both halves of the
    persisted k-means artifact; the oracle replays the full unrolled
    Lloyd's chain plus the same distance/rank tail."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.centroid_outliers(
        emb, *_kmeans_artifact(spark, sf_dir)
    ).withColumnRenamed("id", "vec_id")


VECTOR_GATE_MOD = 25  # vec_id % 25 == 0 → the simulated incoming batch


def _vector_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space admission gate (vector twin of ingest_gate):
    for each simulated incoming vector, its best-cosine match in the
    accepted corpus — batch broadcasts, corpus never shuffles
    (similarity.best_cosine_match, one cosine_topk(k=1))."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.best_cosine_match(
        emb.filter(F.col("vec_id") % VECTOR_GATE_MOD == 0),
        emb.filter(F.col("vec_id") % VECTOR_GATE_MOD != 0),
        id_col="vec_id", vec_col="embedding",
    ).withColumnRenamed("id", "vec_id")


DSIR_TOP_N = 100


def _perceptron_weights(spark: SparkSession, sf_dir: str) -> list[int]:
    """Persisted batch-perceptron quality weights — trained once per
    DOCUMENTS fingerprint (classifier.perceptron_train over the
    exact-integer feature scan), stored as a 1-row parquet so a
    restarted session scores without retraining."""

    def build(path: str) -> None:
        w = classifier.perceptron_train(
            classifier.perceptron_features(
                load_table(spark, sf_dir, "documents")
            )
        )
        local_frame(
            spark,
            [tuple(w)],
            ", ".join(f"w{i + 1} long" for i in range(len(w))),
        ).write.mode("overwrite").parquet(path)

    def read(path: str) -> list[int]:
        row = spark.read.parquet(path).collect()[0]
        return [row[f"w{i + 1}"] for i in range(len(classifier.FEATURES))]

    return _artifact(
        spark, "perceptron",
        _artifact_key(
            sf_dir, f"-r{classifier.PERCEPTRON_ROUNDS}",
            classifier, text_fns, with_entry=False,
        ),
        build,
        read,
    )


def _perceptron_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality selection (classifier.py): score every doc
    with the persisted batch-perceptron weights (integer dot product,
    pure codegen) and select score > 0 — the DataComp/DCLM-style
    learned filter beside the rule-based c4/gopher entries. The oracle
    replays training itself: each of the PERCEPTRON_ROUNDS updates
    unrolls as one aggregate CTE (exact int64 sums, so the weight
    vector matches bit-for-bit), then scores under the settled
    weights."""
    docs = load_table(spark, sf_dir, "documents")
    feats = classifier.perceptron_features(docs)
    return classifier.perceptron_score(
        feats, _perceptron_weights(spark, sf_dir)
    ).withColumnRenamed("id", "doc_id")


def _dsir_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted DSIR importance model (bucket, w): hashed-bigram
    log ratios between the in-domain slice (lang = en, the same slice
    Moore-Lewis uses) and the whole corpus — trained once per corpus
    fingerprint (text_analytics.train_dsir)."""

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        text_analytics.train_dsir(
            docs, docs.filter(F.col("lang") == CONTRASTIVE_IN_LANG)
        ).write.mode("overwrite").parquet(path)

    return _artifact(
        spark, "dsir_model",
        _artifact_key(
            sf_dir,
            f"-b{text_analytics.DSIR_BUCKETS}"
            f"-a{text_analytics.DSIR_ALPHA}-l{CONTRASTIVE_IN_LANG}",
            text_analytics, text_fns, with_entry=False,
        ),
        build,
    )


def _dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): top-N documents by
    mean hashed-bigram log importance ratio under the persisted
    in-domain-vs-corpus model. Top-N is orderBy+limit
    (TakeOrderedAndProject — never a global window); the rank column
    is a window over the N survivors only."""
    docs = load_table(spark, sf_dir, "documents")
    scored = text_analytics.dsir_score(docs, model=_dsir_model(spark, sf_dir))
    top = (
        scored.filter(F.col("avg_llr").isNotNull())
        .orderBy(F.desc("avg_llr"), "doc_id")
        .limit(DSIR_TOP_N)
    )
    w = Window.orderBy(F.desc("avg_llr"), "doc_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("rank", "doc_id", "lang", "n_bigrams", "avg_llr")
    )


KNN_GRAPH_K = 5


def _knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN cosine similarity graph over the embedding corpus — the
    embedding analog of doc_edges, feeding the same graph analytics
    (similarity.knn_graph: one blocked-GEMM batch top-k with the
    corpus on both sides, self edges dropped)."""
    return similarity.knn_graph(
        load_table(spark, sf_dir, "embeddings"),
        KNN_GRAPH_K, id_col="vec_id", vec_col="embedding",
    )


def _semantic_pagerank_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted PageRank-over-knn-graph score artifact, keyed by the
    EMBEDDINGS fingerprint — same discipline as the doc-graph
    pagerank artifacts (train once, serve reads)."""

    def build(path: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        edges = similarity.knn_graph(
            emb, KNN_GRAPH_K, id_col="vec_id", vec_col="embedding"
        ).select("src", "dst", F.col("cos_sim").alias("confidence"))
        graph_ops.pagerank(
            emb.select("vec_id"), edges, node_col="vec_id"
        ).write.mode("overwrite").parquet(path)

    # "-q12" names the EDGE DEFINITION: r12 quantized knn_graph's rank
    # to PREFETCH_ROUND_DP, which can flip edges at rank-k tie
    # boundaries. The version covers the knn edge construction, the
    # iteration and this file's wiring.
    return _artifact(
        spark, "sempr",
        _artifact_key(
            sf_dir, "-q12", graph_ops, similarity, vector_fns,
            table="embeddings",
        ),
        build,
    )


def _semantic_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the k-NN cosine graph — which
    embeddings sit in dense semantic neighborhoods (hub detection for
    curation/coreset weighting). Composes the two existing primitives:
    knn_graph edges feed the same fixed-round power iteration as the
    doc graph; the oracle reuses the shared unrolled chain over a
    materialized knn-edge CTE. Served from the persisted score
    artifact; top-k is TakeOrderedAndProject, rank over survivors."""
    scores = _semantic_pagerank_scores(spark, sf_dir)
    ranks = scores.select("vec_id", F.round("rank", 6).alias("score"))
    top = ranks.orderBy(F.desc("score"), "vec_id").limit(PAGERANK_TOPK)
    w = Window.orderBy(F.desc("score"), "vec_id")
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("vec_id", "score", "rank")


def _knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph via the LSH bucket SELF-join — the
    100 TB twin of knn_graph (no corpus-sized broadcast, candidates
    bounded by bucket occupancy); seed-deterministic, so the oracle is
    an exact equality check, and recall vs the exact graph is
    unit-pinned."""
    return similarity.knn_graph_lsh(
        load_table(spark, sf_dir, "embeddings"),
        KNN_GRAPH_K, dim=EMBEDDING_DIM,
        id_col="vec_id", vec_col="embedding",
    )


# 0.4, not the near-dup 0.3: at 0.3 the synthetic corpus' pair graph
# is dense enough that transitive closure merges ~97% of vectors into
# one giant component — a valid but useless clustering
SEMANTIC_CC_THRESHOLD = 0.4


def _semantic_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic duplicate components: connected components over the
    embedding near-dup pair graph at cosine ≥ 0.4 — cluster-id every
    vector by its transitive semantic-duplicate group, with the
    component size. The embedding analog of dedup_clusters_cc;
    composes two existing primitives (embedding_near_dupes ×
    dedup_clusters_star). The pair graph is small (59 edges over the
    sf0.01 fixture's 500 vectors, 920 over sf0.1's 2,000), far under
    ``dedup_clusters_star``'s ``CC_LOCAL_MAX_EDGES`` budget, so the labels
    come from one Arrow-batch union-find over the lazy edge set, chosen
    by the edge checkpoint's count probe, and the plan is served from
    ``_PREPARED``; a graph above the budget runs the large/small-star
    rounds (O(log n) of them) and rebuilds per call."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dupes(
        emb, SEMANTIC_CC_THRESHOLD, id_col="vec_id", vec_col="embedding"
    ).select("id_a", "id_b")
    labels = dedup.dedup_clusters_star(pairs, emb, id_col="vec_id")
    # a window, not a groupBy joined back: the labels subtree (and its
    # Arrow batch) runs once
    return labels.select(
        F.col("doc_id").alias("vec_id"),
        "cluster_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .alias("cluster_size"),
    )


RETENTION_AS_OF = "2026-01-01"
RETENTION_EPOCH = "2020-01-01"
RETENTION_SPAN_DAYS = 3650
RETENTION_STRIDE = 13  # doc_id·13 mod span spreads small ids over the decade
LEGAL_HOLD_MOD = 97


def _retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12/S13-adjacent compliance lifecycle: the retention sweep the
    reference schema declares but never enforces (init.sql:208-209).
    The driver corpus carries no compliance columns, so the entry
    derives a deterministic fixture policy (retention_until spread
    over ~8 years from doc_id, every 97th doc legal-held) and the
    operator classifies each doc hold/sweep/retain as of a fixed date;
    the swept ids feed the existing delete-cascade/tombstone path."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.date_add(
            F.to_date(F.lit(RETENTION_EPOCH)),
            ((F.col("doc_id") * RETENTION_STRIDE) % RETENTION_SPAN_DAYS)
            .cast("int"),
        ).alias("retention_until"),
        (F.col("doc_id") % LEGAL_HOLD_MOD == 0).alias("legal_hold"),
    )
    return lifecycle.retention_actions(docs, RETENTION_AS_OF)


def _retention_sweep_oracle_args():
    return (RETENTION_AS_OF, RETENTION_EPOCH, RETENTION_SPAN_DAYS,
            RETENTION_STRIDE, LEGAL_HOLD_MOD)


DSIR_RESAMPLE_SEED = 42


def _dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's actual selection rule — Gumbel top-k importance
    RESAMPLING (Xie et al. 2023 §2): key = total log importance weight
    + deterministic md5-derived Gumbel(0,1); the top-N keys are a
    weighted sample without replacement from softmax(llr_total).
    Same persisted model artifact as dsir_select; TakeOrderedAndProject
    top-N, rank windowed over the N survivors."""
    docs = load_table(spark, sf_dir, "documents")
    keys = text_analytics.dsir_resample_keys(
        docs, model=_dsir_model(spark, sf_dir), seed=DSIR_RESAMPLE_SEED
    )
    top = keys.orderBy(F.desc("gumbel_key"), "doc_id").limit(DSIR_TOP_N)
    w = Window.orderBy(F.desc("gumbel_key"), "doc_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "rank", "doc_id", "lang", "n_bigrams", "llr_total",
            "gumbel_key",
        )
    )


# Entries that ship no oracle_sql BY DESIGN: sketch estimates
# (HLL++/quantile summaries) are engine-implementation-defined, so no
# cross-engine value hash can exist; accuracy is pinned against the
# exact twin in tests/test_sketches.py. The driver records only a row
# count for them, so _driver_order keeps them out of its window.
ROWS_ONLY_ENTRIES: tuple[str, ...] = ("events_profile_approx",)

# name -> builder, one entry per line in name order. queries() serves
# every entry through _prepared, whose checkpoint guard alone decides
# which plans are cached.
_ENTRIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ann_ivf_topk": _ann_ivf_topk,
    "ann_lsh_topk": _ann_lsh_topk,
    "asof_attribution": _asof_attribution,
    "audio_near_dup": _audio_near_dup,
    "augment_results": _augment_results,
    "bloom_gate": _bloom_gate,
    "bloom_gate_paras": _bloom_gate_paras,
    "bm25_index_stats": _bm25_index_stats,
    "bm25_topk": _bm25_topk,
    "bpe_pair_stats": _bpe_pair_stats,
    "bpe_tokens": _bpe_tokens,
    "bpe_vocab": _bpe_vocab,
    "c4_rules": _c4_rules,
    "chunk_documents": _chunk_documents,
    "chunk_payloads": _chunk_payloads,
    "chunking_stats": _chunking_stats,
    "cluster_quota_sample": _cluster_quota_sample,
    "cohort_retention": _cohort_retention,
    "colpali_lite_topk": _colpali_lite_topk,
    "contrastive_select": _contrastive_select,
    "conversions": _conversions,
    "curate_corpus": _curate_corpus,
    "curation_funnel": _curation_funnel,
    "customer_overview": _customer_overview,
    "cut_dup_spans": _cut_dup_spans,
    "db_stats": _db_stats,
    "decontam": _decontam,
    "dedup_clusters": _dedup_clusters,
    "dedup_clusters_cc": _dedup_clusters,
    "dedup_keep": _dedup_keep,
    "dedup_regions": _dedup_regions,
    "delete_document_cascade": _delete_document_cascade,
    "dense_filtered_topk": _dense_filtered_topk,
    "dense_topk": _dense_topk,
    "detect_sections": _detect_sections,
    "doc_edges": _doc_edges,
    "doc_keywords": _doc_keywords,
    "doc_pagerank": _doc_pagerank,
    "doc_quality": _doc_quality,
    "domain_cap": _domain_cap,
    "dsir_resample": _dsir_resample,
    "dsir_select": _dsir_select,
    "dup_ngram_fraction": _dup_ngram_fraction,
    "dup_spans": _dup_spans,
    "embed_kmeans": _embed_kmeans,
    "embedding_near_dup": _embedding_near_dup,
    "enhanced_search": _enhanced_search,
    "eval_delta": _eval_delta,
    "event_funnel": _event_funnel,
    "event_funnel_windowed": _event_funnel_windowed,
    "events_cube": _events_cube,
    "events_hourly": _events_hourly,
    "events_json_filter": _events_json_filter,
    "events_profile": _events_profile,
    "events_profile_approx": _events_profile_approx,
    "events_window_join": _events_window_join,
    "exact_dedup": _exact_dedup,
    "extract_metadata": _extract_metadata,
    "extract_relationships": _extract_relationships,
    "flagged_words": _flagged_words,
    "frequent_ngrams": _frequent_ngrams,
    "fuzzy_decontam": _fuzzy_decontam,
    "gopher_rules": _gopher_rules,
    "graph_expand": _graph_expand,
    "graph_stats": _graph_stats,
    "graph_triangles": _graph_triangles,
    "hard_negatives": _hard_negatives,
    "hybrid_adaptive": _hybrid_adaptive,
    "hybrid_rrf": _hybrid_rrf,
    "hybrid_rrf3": _hybrid_rrf3,
    "image_near_dup": _image_near_dup,
    "ingest_gate": _ingest_gate,
    "ingest_pairs": _ingest_pairs,
    "ir_metrics": _ir_metrics,
    "ivfpq_topk": _ivfpq_topk,
    "kmeans_outliers": _kmeans_outliers,
    "knn_graph": _knn_graph,
    "knn_graph_lsh": _knn_graph_lsh,
    "lang_fertility": _lang_fertility,
    "lang_id": _lang_id,
    "leakage_split": _leakage_split,
    "list_documents_page": _list_documents_page,
    "lm_perplexity": _lm_perplexity,
    "matryoshka_topk": _matryoshka_topk,
    "maxsim_topk": _maxsim_topk,
    "media_resize": _media_resize,
    "media_stats": _media_stats,
    "minhash_sigs": _minhash_sigs,
    "mmr_rerank": _mmr_rerank,
    "near_dup_pairs": _near_dup_pairs,
    "nfc_normalize": _nfc_normalize,
    "org_stats": _org_stats,
    "pack_rows": _pack_rows,
    "pack_sequences": _pack_sequences,
    "pagerank_weighted": _pagerank_weighted,
    "perceptron_select": _perceptron_select,
    "ppr_topk": _ppr_topk,
    "pq_topk": _pq_topk,
    "pricing_summary": _pricing_summary,
    "quality_filter": _quality_filter,
    "quality_report": _quality_report,
    "quantize_embeddings": _quantize_embeddings,
    "quantized_topk": _quantized_topk,
    "query_analysis": _query_analysis,
    "rag_context_pack": _rag_context_pack,
    "redact_pii": _redact_pii,
    "related_ids": _related_ids,
    "repetition_signals": _repetition_signals,
    "rerank_topk": _rerank_topk,
    "resolve_references": _resolve_references,
    "retention_sweep": _retention_sweep,
    "route_and_chunk": _route_and_chunk,
    "route_stats": _route_stats,
    "search_analytics": _search_analytics,
    "search_terms": _search_terms,
    "semantic_chunks": _semantic_chunks,
    "semantic_components": _semantic_components,
    "semantic_pagerank": _semantic_pagerank,
    "semdedup": _semdedup,
    "sentence_chunks": _sentence_chunks,
    "shortest_chains": _shortest_chains,
    "shuffle_export": _shuffle_export,
    "simhash_fp": _simhash_fp,
    "soft_dedup": _soft_dedup,
    "source_mix": _source_mix,
    "split_audit": _split_audit,
    "stratified_sample": _stratified_sample,
    "strip_markup": _strip_markup,
    "table_cells": _table_cells,
    "table_summary": _table_summary,
    "table_texts": _table_texts,
    "temperature_mix": _temperature_mix,
    "tenant_scoped_search": _tenant_scoped_search,
    "text_embed_topk": _text_embed_topk,
    "time_travel": _time_travel,
    "token_budget_select": _token_budget_select,
    "token_stats": _token_stats,
    "user_sessions": _user_sessions,
    "vector_ingest_gate": _vector_ingest_gate,
    "vector_upsert": _vector_upsert,
    "video_near_dup": _video_near_dup,
    "visual_search": _visual_search,
    "vocab_oov": _vocab_oov,
    "winnow_fp": _winnow_fp,
}


def _driver_order(names) -> list[str]:
    """The driver checks only the first 50 keys of queries(), so the
    stalest certifications go first: rows-only entries last, then by
    the last round whose ``CORRECTNESS_r<N>.json`` (next to this file)
    has ``hash_match: true`` for the entry, oldest first (never green
    counts as round 0), then by name. Without CORRECTNESS files the
    order is by name, rows-only entries still last."""
    last: dict[str, int] = {}
    for path in Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json"):
        rnd = path.stem.removeprefix("CORRECTNESS_r")
        if not rnd.isdigit():
            continue
        for name, row in json.loads(path.read_text()).items():
            if row.get("hash_match") is True:
                last[name] = max(last.get(name, 0), int(rnd))
    return sorted(
        names, key=lambda n: (n in ROWS_ONLY_ENTRIES, last.get(n, 0), n)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        n: _wrap_prepared(n, _ENTRIES[n]) for n in _driver_order(_ENTRIES)
    }


def oracle_sql() -> dict[str, str]:
    from rag_database_spark.operators import evaluation

    return {
        "bm25_topk": oracles.bm25_topk_sql(),
        "dense_topk": oracles.dense_topk_sql(),
        "hybrid_rrf": oracles.hybrid_rrf_sql(),
        "db_stats": oracles.db_stats_sql(),
        "customer_overview": oracles.customer_overview_sql(),
        "pricing_summary": oracles.pricing_summary_sql(),
        "org_stats": oracles.org_stats_sql(),
        "list_documents_page": oracles.list_documents_page_sql(),
        "tenant_scoped_search": oracles.tenant_scoped_search_sql(
            TENANT_ORG,
            TENANT_ACCESS,
            TENANT_NCHARS["gte"],
            TENANT_NCHARS["lte"],
            TENANT_LIMIT,
        ),
        "events_json_filter": oracles.events_json_filter_sql(),
        "lang_id": oracles.lang_id_sql(),
        "token_stats": oracles.token_stats_sql(),
        "doc_quality": oracles.doc_quality_sql(),
        "quality_report": oracles.quality_report_sql(),
        "exact_dedup": oracles.exact_dedup_sql(),
        "winnow_fp": oracles.winnow_fp_sql(),
        "chunk_documents": oracles.chunk_documents_sql(),
        "chunking_stats": oracles.chunking_stats_sql(),
        "search_terms": oracles.search_terms_sql(),
        "near_dup_pairs": oracles.near_dup_pairs_sql(
            JACCARD_THRESHOLD, dedup.SHINGLE_K
        ),
        "dedup_clusters": oracles.dedup_clusters_sql(
            JACCARD_THRESHOLD, dedup.SHINGLE_K
        ),
        "dedup_keep": oracles.dedup_keep_sql(
            JACCARD_THRESHOLD, dedup.SHINGLE_K
        ),
        "leakage_split": oracles.leakage_split_sql(
            JACCARD_THRESHOLD, dedup.SHINGLE_K,
            dedup.LEAKAGE_EVAL_FRACTION, dedup.LEAKAGE_SPLIT_SEED,
        ),
        "split_audit": oracles.split_audit_sql(
            JACCARD_THRESHOLD, dedup.SHINGLE_K,
            dedup.LEAKAGE_EVAL_FRACTION, dedup.LEAKAGE_SPLIT_SEED,
        ),
        "hard_negatives": oracles.hard_negatives_sql(
            workload.HYBRID_LIMIT * FETCH_MULTIPLIER,
            evaluation.HARD_NEG_N,
        ),
        "curation_funnel": oracles.curation_funnel_sql(
            JACCARD_THRESHOLD, dedup.SHINGLE_K,
            text_analytics.QUALITY_FILTER_P,
        ),
        "lang_fertility": oracles.lang_fertility_sql(
            bpe_ops.DEFAULT_MERGES, bpe_ops.DEFAULT_MIN_COUNT,
        ),
        "dedup_clusters_cc": oracles.dedup_clusters_sql(
            JACCARD_THRESHOLD, dedup.SHINGLE_K
        ),
        "fuzzy_decontam": oracles.fuzzy_decontam_sql(
            dedup.FUZZY_CONTAM_BENCH_MAX,
            dedup.FUZZY_CONTAM_THRESHOLD,
            dedup.SHINGLE_K,
        ),
        "frequent_ngrams": oracles.frequent_ngrams_sql(
            text_analytics.FREQ_NGRAM_N, text_analytics.FREQ_NGRAM_TOP
        ),
        "dup_spans": oracles.dup_spans_sql(text_analytics.DUP_SPAN_N),
        "vocab_oov": oracles.vocab_oov_sql(text_analytics.VOCAB_SIZE),
        # bpe_vocab / bpe_tokens are deliberately rows-only: the merge
        # loop is iterative (argmax per round) — not SQL-expressible;
        # both are pinned against a pure-Python BPE reference in
        # tests/test_bpe.py, and bpe_pair_stats oracles the shared
        # word/pair counting they build on.
        "bpe_pair_stats": oracles.bpe_pair_stats_sql(100),
        "bpe_vocab": oracles.bpe_vocab_sql(
            bpe_ops.DEFAULT_MERGES, bpe_ops.DEFAULT_MIN_COUNT
        ),
        "bpe_tokens": oracles.bpe_tokens_sql(
            bpe_ops.DEFAULT_MERGES, bpe_ops.DEFAULT_MIN_COUNT
        ),
        "token_budget_select": oracles.token_budget_select_sql(
            text_analytics.TOKEN_BUDGET_FRAC
        ),
        "contrastive_select": oracles.contrastive_score_sql(
            text_analytics.LM_ALPHA, CONTRASTIVE_IN_LANG
        ),
        "cut_dup_spans": oracles.cut_dup_spans_sql(
            text_analytics.DUP_SPAN_N
        ),
        "ingest_gate": oracles.ingest_gate_sql(
            INGEST_GATE_MOD, dedup.SHINGLE_K
        ),
        "ingest_pairs": oracles.ingest_pairs_sql(
            JACCARD_THRESHOLD, dedup.SHINGLE_K, INGEST_BATCH_MOD
        ),
        "doc_keywords": oracles.doc_keywords_sql(DOC_KEYWORDS_K),
        "events_window_join": oracles.events_window_join_sql(
            WINDOW_JOIN_COUNT
        ),
        "lm_perplexity": oracles.lm_score_sql(text_analytics.LM_ALPHA),
        "embed_kmeans": oracles.kmeans_sql(
            clustering.KMEANS_ITERS,
            EMBEDDING_DIM, clustering.KMEANS_SCALE,
        ),
        "semdedup": oracles.semdedup_sql(
            clustering.SEMDEDUP_THRESHOLD,
            clustering.KMEANS_ITERS,
            EMBEDDING_DIM, clustering.KMEANS_SCALE,
        ),
        "bloom_gate": oracles.bloom_gate_sql(
            INGEST_GATE_MOD, BLOOM_FIXTURE_M_BITS, dedup.BLOOM_K
        ),
        "bloom_gate_paras": oracles.bloom_gate_paras_sql(
            INGEST_GATE_MOD, BLOOM_FIXTURE_M_BITS, dedup.BLOOM_K
        ),
        "perceptron_select": oracles.perceptron_select_sql(
            classifier.PERCEPTRON_ROUNDS
        ),
        "kmeans_outliers": oracles.kmeans_outliers_sql(
            clustering.KMEANS_ITERS,
            EMBEDDING_DIM, clustering.KMEANS_SCALE,
            clustering.OUTLIER_KEEP_NUM, clustering.OUTLIER_KEEP_DEN,
        ),
        "dsir_select": oracles.dsir_select_sql(
            CONTRASTIVE_IN_LANG, text_analytics.DSIR_BUCKETS,
            text_analytics.DSIR_ALPHA, DSIR_TOP_N,
        ),
        "vector_ingest_gate": oracles.vector_ingest_gate_sql(
            VECTOR_GATE_MOD
        ),
        "dsir_resample": oracles.dsir_resample_sql(
            CONTRASTIVE_IN_LANG, text_analytics.DSIR_BUCKETS,
            text_analytics.DSIR_ALPHA, DSIR_TOP_N, DSIR_RESAMPLE_SEED,
        ),
        "knn_graph": oracles.knn_graph_sql(KNN_GRAPH_K),
        "knn_graph_lsh": oracles.knn_graph_lsh_sql(
            KNN_GRAPH_K, dim=EMBEDDING_DIM
        ),
        "semantic_pagerank": oracles.knn_pagerank_sql(
            KNN_GRAPH_K, PAGERANK_TOPK,
            graph_ops.PAGERANK_DAMPING, graph_ops.PAGERANK_ITERATIONS,
        ),
        "semantic_components": oracles.semantic_components_sql(
            SEMANTIC_CC_THRESHOLD
        ),
        "retention_sweep": oracles.retention_sweep_sql(
            *_retention_sweep_oracle_args()
        ),
        "graph_triangles": oracles.triangles_sql(
            JACCARD_THRESHOLD, dedup.SHINGLE_K
        ),
        "temperature_mix": oracles.temperature_sample_sql(
            text_analytics.TEMP_BUDGET_FRAC, text_analytics.TEMP_SEED
        ),
        "event_funnel": oracles.funnel_sql(streaming_events.FUNNEL_STEPS),
        "event_funnel_windowed": oracles.funnel_sql(
            streaming_events.FUNNEL_STEPS, within_us=FUNNEL_WINDOW_US
        ),
        "cohort_retention": oracles.cohort_retention_sql(),
        "events_cube": oracles.events_cube_sql(),
        "pagerank_weighted": oracles.pagerank_sql(
            JACCARD_THRESHOLD,
            dedup.SHINGLE_K,
            PAGERANK_TOPK,
            graph_ops.PAGERANK_DAMPING,
            graph_ops.PAGERANK_ITERATIONS,
            weighted=True,
        ),
        "doc_pagerank": oracles.pagerank_sql(
            JACCARD_THRESHOLD,
            dedup.SHINGLE_K,
            PAGERANK_TOPK,
            graph_ops.PAGERANK_DAMPING,
            graph_ops.PAGERANK_ITERATIONS,
        ),
        "ppr_topk": oracles.pagerank_sql(
            JACCARD_THRESHOLD,
            dedup.SHINGLE_K,
            PAGERANK_TOPK,
            graph_ops.PAGERANK_DAMPING,
            graph_ops.PAGERANK_ITERATIONS,
            seed_max=PPR_SEED_MAX,
        ),
        "source_mix": oracles.source_mix_sql(
            text_analytics.MIX_TOKEN_BUDGET
        ),
        "strip_markup": oracles.strip_markup_sql(),
        "dense_filtered_topk": oracles.dense_filtered_topk_sql(
            DENSE_FILTER_LABELS
        ),
        "time_travel": oracles.time_travel_sql(TIME_TRAVEL_DELETE_MOD),
        "curate_corpus": oracles.curate_corpus_sql(
            JACCARD_THRESHOLD,
            dedup.SHINGLE_K,
            text_analytics.QUALITY_FILTER_P,
        ),
        "nfc_normalize": oracles.nfc_normalize_sql(),
        "quality_filter": oracles.quality_filter_sql(
            text_analytics.QUALITY_FILTER_P
        ),
        "minhash_sigs": oracles.minhash_signatures_sql(
            dedup.N_MINHASHES, dedup.SHINGLE_K
        ),
        "simhash_fp": oracles.simhash_sql(dedup.SIMHASH_BITS),
        "embedding_near_dup": oracles.embedding_near_dup_sql(
            COSINE_DUP_THRESHOLD
        ),
        "doc_edges": oracles.doc_edges_sql(JACCARD_THRESHOLD, dedup.SHINGLE_K),
        "graph_expand": oracles.graph_expand_sql(
            JACCARD_THRESHOLD,
            dedup.SHINGLE_K,
            GRAPH_SEED_MAX,
            GRAPH_MAX_DEPTH,
            GRAPH_MIN_CONF,
        ),
        "graph_stats": oracles.graph_stats_sql(
            JACCARD_THRESHOLD, dedup.SHINGLE_K
        ),
        "maxsim_topk": oracles.maxsim_topk_sql(),
        "hybrid_rrf3": oracles.hybrid_rrf3_sql(),
        "hybrid_adaptive": oracles.hybrid_adaptive_sql(),
        "query_analysis": oracles.query_analysis_sql(),
        "enhanced_search": oracles.enhanced_search_sql(),
        "search_analytics": oracles.search_analytics_sql(),
        "events_hourly": oracles.events_hourly_sql(),
        "user_sessions": oracles.user_sessions_sql(),
        "conversions": oracles.conversions_sql(),
        "events_profile": oracles.events_profile_sql(),
        "dup_ngram_fraction": oracles.dup_ngram_fraction_sql(),
        "redact_pii": oracles.redact_pii_sql(),
        "domain_cap": oracles.domain_cap_sql(),
        "dedup_regions": oracles.dedup_regions_sql(),
        "media_stats": oracles.media_stats_sql(),
        "image_near_dup": oracles.image_near_dup_sql(IMAGE_DHASH_HAMMING),
        "media_resize": oracles.media_resize_sql(multimodal.MAX_SIDE),
        "audio_near_dup": oracles.audio_near_dup_sql(AUDIO_FP_HAMMING),
        "video_near_dup": oracles.video_near_dup_sql(
            VIDEO_FRAME_BYTES, VIDEO_EVERY_N, VIDEO_JACCARD
        ),
        "delete_document_cascade": oracles.delete_cascade_sql(DELETE_MOD),
        "vector_upsert": oracles.vector_upsert_sql(UPSERT_MOD),
        "rerank_topk": oracles.rerank_topk_sql(
            RERANK_CANDIDATES, workload.HYBRID_LIMIT
        ),
        "bm25_index_stats": oracles.bm25_index_stats_sql(),
        "colpali_lite_topk": oracles.colpali_lite_topk_sql(),
        "text_embed_topk": oracles.text_embed_topk_sql(),
        "visual_search": oracles.visual_search_sql(VISUAL_SEARCH_TYPES),
        "chunk_payloads": oracles.chunk_payloads_sql(),
        "table_cells": oracles.table_cells_sql(),
        "table_summary": oracles.table_summary_sql(),
        "extract_metadata": oracles.extract_metadata_sql(),
        "extract_relationships": oracles.extract_relationships_sql(),
        "resolve_references": oracles.resolve_references_sql(),
        "related_ids": oracles.related_ids_sql(
            JACCARD_THRESHOLD, dedup.SHINGLE_K, GRAPH_SEED_MAX
        ),
        # semantic_chunks / route_and_chunk deliberately absent: the
        # sequential centroid walk is not SQL-expressible; the driver
        # records the (weaker) rows-only check for them
        "shortest_chains": oracles.shortest_chains_sql(
            JACCARD_THRESHOLD,
            dedup.SHINGLE_K,
            CHAIN_SRC_MAX,
            CHAIN_DST_LO,
            CHAIN_DST_HI,
            CHAIN_DST_MOD,
            CHAIN_DST_REM_MAX,
            CHAIN_MAX_DEPTH,
            CHAIN_MIN_CONF,
        ),
        "augment_results": oracles.augment_results_sql(
            workload.HYBRID_LIMIT, JACCARD_THRESHOLD, dedup.SHINGLE_K
        ),
        "detect_sections": oracles.detect_sections_sql(),
        "sentence_chunks": oracles.sentence_chunks_sql(),
        "table_texts": oracles.table_texts_sql(),
        "route_stats": oracles.route_stats_sql(),
        "semantic_chunks": oracles.semantic_chunks_sql(),
        "route_and_chunk": oracles.route_and_chunk_sql(),
        "gopher_rules": oracles.gopher_rules_sql(),
        "c4_rules": oracles.c4_rules_sql(),
        "ir_metrics": oracles.ir_metrics_sql(),
        "eval_delta": oracles.eval_delta_sql(),
        "repetition_signals": oracles.repetition_signals_sql(),
        "asof_attribution": oracles.asof_attribution_sql(),
        "quantize_embeddings": oracles.quantize_embeddings_sql(),
        "quantized_topk": oracles.quantized_topk_sql(workload.HYBRID_LIMIT),
        "pack_sequences": oracles.pack_sequences_sql(),
        "pack_rows": oracles.pack_rows_sql(),
        "flagged_words": oracles.flagged_words_sql(),
        "shuffle_export": oracles.shuffle_export_sql(),
        "matryoshka_topk": oracles.matryoshka_topk_sql(workload.HYBRID_LIMIT),
        "soft_dedup": oracles.soft_dedup_sql(
            JACCARD_THRESHOLD, dedup.SHINGLE_K
        ),
        "cluster_quota_sample": oracles.cluster_quota_sample_sql(),
        "decontam": oracles.decontaminate_sql(),
        "stratified_sample": oracles.stratified_sample_sql(),
        "ann_lsh_topk": oracles.ann_lsh_topk_sql(workload.HYBRID_LIMIT),
        "ann_ivf_topk": oracles.ann_ivf_topk_sql(workload.HYBRID_LIMIT),
        "pq_topk": oracles.pq_topk_sql(workload.HYBRID_LIMIT),
        "ivfpq_topk": oracles.ivfpq_topk_sql(workload.HYBRID_LIMIT),
        "mmr_rerank": oracles.mmr_rerank_sql(
            workload.HYBRID_LIMIT * FETCH_MULTIPLIER
        ),
        "rag_context_pack": oracles.rag_context_pack_sql(
            workload.HYBRID_LIMIT * FETCH_MULTIPLIER
        ),
    }
