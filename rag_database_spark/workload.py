"""Deterministic bulk-query workload over the driver's tables.

The reference serves one query per HTTP request (src/api/main.py:370-445);
the batch engine evaluates a *workload* of queries in one plan — the
Spark-idiomatic form (SURVEY §3.1 "batch of queries runs the same plan
with an extra query_id grouping column").

These constants are the single source of truth for BOTH the Spark
queries and the DuckDB oracle SQL (interpolated there), so the two sides
can never drift.

Each workload row: (query_id, query_text, query_vec_id) — the dense leg
uses the embedding row with vec_id == query_vec_id as the query vector
(deterministic, model-free; FIXTURES.md's hash-projection idea adapted
to the driver's real tables where doc_id and vec_id are aligned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from rag_database_spark.sources.tables import local_frame

HYBRID_QUERIES: tuple[tuple[int, str, int], ...] = (
    (1, "fast hash join order table scan", 3),
    (2, "window merge sort batch stream", 7),
    (3, "spark filter scan column vector", 42),
    (4, "customer data group agg value", 99),
    (5, "slow query row key part small", 123),
    # precision query: exercises F5 detection + Q2 fallback boost
    (6, "exact amount shown in table 3 of the customer agreement", 200),
)

# standalone analysis workload (F2-F8): acronym / precision / visual /
# domain-rich phrasings the hybrid workload doesn't need
ANALYSIS_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "what does the table show about quarterly revenue"),
    (2, "IRC deduction rules for rental income tax"),
    (3, "IRC requirements for residential building construction"),
    (4, "compare the ROI of both investment options"),
    (5, "when was the NDA agreement signed by each party"),
    (6, "exact value in section 4.2 of the contract"),
    (7, "show the diagram and chart from figure 7"),
    (8, "summarize the main findings of the report"),
)

HYBRID_LIMIT = 10


def queries_df(spark: SparkSession) -> DataFrame:
    # a LocalRelation (local_frame), so scanning the 6 rows launches no
    # Python-worker tasks. Do NOT coalesce(1): a Coalesce over a
    # LocalTableScan blocks the ConvertToLocalRelation fold AND makes
    # every collect re-evaluate the wide analysis projections in one
    # serial task (measured 4 s/run vs 0.5 s warm without it)
    return local_frame(
        spark, HYBRID_QUERIES, "query_id long, query_text string, query_vec_id long"
    )


# -- multi-vector (ColPali-shaped) fixtures derived from embeddings --------
# page = 8 consecutive vec_ids' embeddings as its patch set; document = 2
# consecutive pages; query multi-vector = the 4 embeddings starting at
# query_vec_id. Deterministic, model-free, reproducible in the oracle.
PAGE_GROUP = 8
DOC_PAGES = 2
QUERY_TOKENS = 4


def _collect_patches(df, key_col: str):
    from pyspark.sql import functions as F

    return (
        df.groupBy(key_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("vec_id", "embedding"))
            ).alias("rows")
        )
        .select(
            key_col,
            F.transform(
                "rows", lambda r: r["embedding"].cast("array<double>")
            ).alias("patches"),
        )
    )


def multivector_pages(embeddings: DataFrame) -> DataFrame:
    """(page_id, patches array<array<double>>) — the page multi-vector
    table (reference: ColPali patch embeddings per page, SURVEY §1.1)."""
    from pyspark.sql import functions as F

    grouped = embeddings.withColumn(
        "page_id", F.floor(F.col("vec_id") / PAGE_GROUP).cast("long")
    )
    return _collect_patches(grouped, "page_id")


def query_patches_df(spark: SparkSession, embeddings: DataFrame) -> DataFrame:
    """(query_id, patches) — per-query token-vector sets."""
    from pyspark.sql import functions as F

    q = queries_df(spark)
    joined = q.join(
        embeddings,
        (embeddings["vec_id"] >= q["query_vec_id"])
        & (embeddings["vec_id"] < q["query_vec_id"] + QUERY_TOKENS),
    ).select("query_id", "vec_id", "embedding")
    return _collect_patches(joined, "query_id")


def chunk_page_map(embeddings: DataFrame) -> DataFrame:
    """(id, document_id, page_number) — every vec is a 'chunk'; its page
    is its 8-group, its document spans 2 pages (J2/J3 join keys)."""
    from pyspark.sql import functions as F

    return embeddings.select(
        F.col("vec_id").alias("id"),
        F.floor(F.col("vec_id") / (PAGE_GROUP * DOC_PAGES)).cast("long").alias(
            "document_id"
        ),
        F.floor(F.col("vec_id") / PAGE_GROUP).cast("long").alias("page_number"),
    )


def queries_values_sql() -> str:
    """DuckDB VALUES literal for the same workload."""
    rows = ", ".join(
        f"({qid}, '{text}', {vid})" for qid, text, vid in HYBRID_QUERIES
    )
    return f"(VALUES {rows}) AS q(query_id, query_text, query_vec_id)"


def analysis_queries_df(spark: SparkSession) -> DataFrame:
    # a LocalRelation (local_frame) — no coalesce(1); see queries_df
    return local_frame(spark, ANALYSIS_QUERIES, "query_id long, query_text string")


def analysis_queries_values_sql() -> str:
    rows = ", ".join(f"({qid}, '{text}')" for qid, text in ANALYSIS_QUERIES)
    return f"(VALUES {rows}) AS q(query_id, query_text)"
