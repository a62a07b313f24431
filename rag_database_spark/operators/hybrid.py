"""Q1 — hybrid search legs, the flagship composite's inputs
(reference: HybridSearcher.search, src/retrieval/hybrid_search.py:219-430).

Pipeline (SURVEY §3.1 Spark re-expression):

    BM25 leg    : query terms ⋈ persisted postings (with doc length),
                  corpus stats as literals → score → rank (W1)
    dense leg   : query vectors → exact cosine top-k (J11) → rank
    colpali leg : MaxSim page top-k → page→chunk propagation (J2/J3) → rank
    fusion      : ``fusion.rrf_fuse`` — weighted RRF k=60 (A1) → top-k (T2)

Each leg returns (query_id, id, rank) over-fetched to ``fetch`` =
3 × limit (hybrid_search.py:256); the caller names the legs in the
dict it hands to ``rrf_fuse``. Ids unify across legs (the workload's
doc_id and vec_id are aligned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rag_database_spark.operators import bm25 as bm25_ops
from rag_database_spark.operators import similarity
from rag_database_spark.operators.fusion import propagate_page_scores_batch


def bm25_leg(
    queries: DataFrame,
    postings: DataFrame,
    stats: tuple[int, float | None],
    fetch: int,
) -> DataFrame:
    """A3 + W1 + T4: top-``fetch`` BM25 documents per query over a
    persisted index, so the corpus is not re-tokenized per query batch
    (S7). ``postings`` carry each document's length and ``stats`` is
    the ``bm25.read_stats`` pair, so the leg is one broadcast of the
    query terms and one query_id shuffle."""
    scored = bm25_ops.score_queries(queries, postings, stats)
    return bm25_ops.topk(scored, fetch).select(
        "query_id",
        F.col("doc_id").alias("id"),
        F.col("rank").cast("long").alias("rank"),
    )


def dense_leg(queries: DataFrame, embeddings: DataFrame, fetch: int) -> DataFrame:
    """J11 + W1 + T4: exact cosine top-``fetch`` per query; the query
    vector is looked up from ``embeddings`` by query_vec_id."""
    return similarity.cosine_topk(
        similarity.query_vectors(queries, embeddings),
        embeddings,
        fetch,
        id_col="vec_id",
        vec_col="embedding",
    ).select("query_id", "id", F.col("rank").cast("long").alias("rank"))


def colpali_leg(
    query_patches: DataFrame,
    page_patches: DataFrame,
    chunk_pages: DataFrame,
    fetch: int,
    doc_pages: int,
) -> DataFrame:
    """The multi-vector leg (J12 + J2/J3 + W2,
    hybrid_search.py:307-394): MaxSim page scores → top-fetch pages →
    propagate to chunks (page match, else doc-max × 0.8) → re-rank.

    ``chunk_pages``: (id, document_id, page_number)."""
    pages_scored = similarity.maxsim_scores_pruned(
        query_patches, page_patches, fetch
    )
    # MaxSim prefetch + rescore is one Arrow pass over one page-table
    # scan, and propagate_page_scores_batch reads page_topk once, so
    # that subtree appears once in the plan: the leg is pure lazy (no
    # eager fold here or in the fixtures) and its plan can be reused.
    page_topk = bm25_ops.topk(
        pages_scored, fetch, id_col="page_id"
    ).select(
        "query_id",
        F.floor(F.col("page_id") / doc_pages).cast("long").alias("document_id"),
        F.col("page_id").alias("page_number"),
        "score",
    )
    prop = propagate_page_scores_batch(chunk_pages, page_topk)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("propagated_score"), F.asc("id")
    )
    return (
        prop.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= fetch)
        .select("query_id", "id", "rank")
    )
