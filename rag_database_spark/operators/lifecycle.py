"""Lifecycle operators — delete cascade, idempotent upsert, rerank,
index stats (S8/S12/S13, U2, T6/M8, A4).

The reference deletes a document from every store sequentially
(master_pipeline.py:847-890) and upserts vectors with deterministic ids
(vector_store.py:176-228); both become anti-join / keep-latest window
rewrites here — one keyed shuffle each, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rag_database_spark.functions.text import tokenize
from rag_database_spark.operators.bm25 import stat_literals


def delete_by_ids(
    df: DataFrame, ids: DataFrame, key_col: str
) -> DataFrame:
    """U2 (bm25_store.py:257-280): complement via left_anti — the
    Spark-native DELETE WHERE id IN (...)."""
    return df.join(
        ids.select(F.col(ids.columns[0]).alias(key_col)), [key_col],
        "left_anti",
    )


def delete_document_cascade(
    tables: dict[str, DataFrame],
    doc_ids: DataFrame,
    key_cols: dict[str, str],
) -> dict[str, DataFrame]:
    """S13 (master_pipeline.py:847-890): one anti-join per dependent
    table — documents, chunks, pages, embeddings, edges — all lazily
    planned; a Delta/Iceberg sink turns each into DELETE WHERE."""
    return {
        name: delete_by_ids(df, doc_ids, key_cols[name])
        for name, df in tables.items()
    }


def upsert_latest(
    existing: DataFrame,
    incoming: DataFrame,
    key_col: str,
    version_col: str,
) -> DataFrame:
    """S8/S12 idempotent upsert: union then keep the newest row per key
    — (version DESC, prefer incoming) — the row_number keep-latest
    rewrite of the reference's delete-then-insert re-ingest
    (metadata_store.py:799-847) and Qdrant id-idempotent upsert."""
    a = existing.withColumn("__src", F.lit(0))
    b = incoming.withColumn("__src", F.lit(1))
    w = Window.partitionBy(key_col).orderBy(
        F.desc(version_col), F.desc("__src")
    )
    return (
        a.unionByName(b)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def lexical_overlap_rerank(
    results: DataFrame,
    queries: DataFrame,
    documents: DataFrame,
    limit: int,
    id_col: str = "id",
    text_col: str = "text",
    query_text_col: str = "query_text",
) -> DataFrame:
    """T6/M8 (hybrid_search.py:576-625): re-score the candidate list
    per (query, doc) pair and re-sort. The reference scores pairs with
    a cross-encoder model; the engine's default scorer is deterministic
    lexical overlap (|q∩d| / |q∪d| over distinct tokens) — the same
    pair-scoring topology, so a model-backed Pandas-UDF scorer drops in
    by swapping the score expression.

    ``results``: (query_id, id, ...) candidates (already top-k-bounded
    → both join sides are small).

    Scale note: the candidate PAIRS broadcast-join into the documents
    scan BEFORE tokenization, so only candidate documents are tokenized
    and the corpus-wide token arrays never shuffle — the unpruned form
    sort-merge-joined every document's token array against a 180-row
    candidate list (flagged superlinear by the sf1 scale probe:
    0.8 s → 19.5 s). Pure-lazy single-consumption shape (r18; replaces
    the r16/r17 eager localCheckpoint fold): the pair list is consumed
    exactly once — it broadcasts straight into the documents scan,
    which both prunes the scan to candidate documents AND attaches
    query_id in the same join, so the upstream candidate pipeline (BM25
    scoring + window top-k in ``rerank_topk``) appears once in the
    plan and runs once per action. Tokenization happens per PAIR row
    instead of per distinct candidate document — bounded by the
    top-k-bounded pair count, and it keeps the plan free of RDD leaves
    so the entry-level prepared-plan cache can legitimately memoize
    it."""
    q = queries.select(
        "query_id",
        F.array_distinct(tokenize(F.col(query_text_col))).alias("q_toks"),
    )
    pairs = results.select("query_id", "id")
    inter = F.size(F.array_intersect(F.col("q_toks"), F.col("d_toks")))
    union = F.size(F.array_union(F.col("q_toks"), F.col("d_toks")))
    scored = (
        documents.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("__text")
        )
        .join(F.broadcast(pairs), "id")
        .select(
            "query_id",
            "id",
            F.array_distinct(tokenize(F.col("__text"))).alias("d_toks"),
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "id",
            F.round(
                F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6
            ).alias("rerank_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rerank_score"), F.asc("id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= limit)
    )


DEFAULT_CROSS_ENCODER = "cross-encoder/ms-marco-MiniLM-L-6-v2"


def model_rerank(
    results: DataFrame,
    queries: DataFrame,
    documents: DataFrame,
    limit: int,
    model_name: str = DEFAULT_CROSS_ENCODER,
    batch_size: int = 64,
    id_col: str = "id",
    text_col: str = "text",
    query_text_col: str = "query_text",
) -> DataFrame:
    """M8 real-model path (hybrid_search.py:576-625): cross-encoder
    pair scoring via sentence-transformers' CrossEncoder through an
    Arrow-batched mapInPandas — the model loads once per Python
    worker, each Arrow batch is one forward pass over its
    (query_text, doc_text) pairs, and only the scores cross back to
    the JVM. Identical topology to ``lexical_overlap_rerank`` (the
    deterministic default): candidate ids broadcast-semi-join into the
    documents scan BEFORE any text moves, so only the top-k-bounded
    candidate pairs ever reach Python.

    Raises ImportError when sentence-transformers is absent (the
    deterministic scorer is the fallback); the smoke test injects a
    fake CrossEncoder to verify the pair plumbing without weights."""
    from rag_database_spark.seams import optional_import

    st_mod = optional_import("sentence_transformers")
    if st_mod is None:
        raise ImportError(
            "sentence_transformers not installed — use "
            "lexical_overlap_rerank() as the deterministic fallback"
        )
    # captured at driver time: a real installed class pickles by
    # reference, the smoke test's fake ships by value
    model_cls = st_mod.CrossEncoder

    from collections.abc import Iterator

    import pandas as pd

    q = queries.select("query_id", query_text_col)
    cand_ids = results.select(F.col("id").alias(id_col)).distinct()
    d = documents.join(F.broadcast(cand_ids), id_col).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__doc_text")
    )
    pairs = (
        results.select("query_id", "id")
        .join(F.broadcast(q), "query_id")
        .join(F.broadcast(d), "id")
    )

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = model_cls(model_name)  # once per partition
        for pdf in it:
            if pdf.empty:
                continue
            preds = model.predict(
                list(zip(pdf[query_text_col], pdf["__doc_text"])),
                batch_size=batch_size,
            )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "id": pdf["id"],
                    "rerank_score": [round(float(s), 6) for s in preds],
                }
            )

    scored = pairs.mapInPandas(
        score, schema="query_id long, id long, rerank_score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rerank_score"), F.asc("id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= limit)
    )


def bm25_index_stats(
    postings: DataFrame, stats: tuple[int, float | None]
) -> DataFrame:
    """A4 (bm25_store.py:326-334): corpus size, average doc length,
    vocabulary size, postings count. ``approx_vocabulary`` shows the
    approx_count_distinct upgrade SURVEY §2 notes for 100 TB.

    ``stats`` is the index's ``(n_docs, avgdl)`` pair
    (``bm25.read_stats``): avgdl is the exact integer length sum
    divided ONCE in IEEE double — bit-deterministic across engines,
    unlike round(avg(...), 6) whose pre-rounding accumulation order
    differs by ulps. Both are literals on the one postings aggregate."""
    n_docs, avgdl = stat_literals(stats)
    return postings.agg(
        n_docs.alias("n_docs"),
        avgdl.alias("avg_doc_len"),
        F.countDistinct("term").alias("vocabulary_size"),
        F.count("*").alias("n_postings"),
        F.sum("tf").alias("total_tokens"),
    )


def retention_actions(
    docs: DataFrame,
    as_of: str,
    retention_col: str = "retention_until",
    hold_col: str = "legal_hold",
) -> DataFrame:
    """Compliance-lifecycle sweep decisions — the enforcement the
    reference schema declares but never implements (init.sql:208-209
    ``retention_until DATE, legal_hold BOOLEAN``; tenant_schema.py:117
    carries the flags through every write, and nothing ever sweeps):

    - ``hold``   — legal_hold set: retention NEVER deletes it,
    - ``sweep``  — retention date passed and no hold: delete-cascade
      candidate (feed the ids to delete_by_ids / the tombstone table),
    - ``retain`` — still inside its retention window (or no policy).

    One codegen'd projection — the sweep SELECTION is a scan;
    executing it is the existing S13 cascade / DELETE WHERE
    machinery. Partition pruning applies when ``retention_col`` (or a
    date-derived bucket of it) is a partition column."""
    action = (
        F.when(F.col(hold_col), F.lit("hold"))
        .when(
            F.col(retention_col).isNotNull()
            & (F.col(retention_col) <= F.to_date(F.lit(as_of))),
            F.lit("sweep"),
        )
        .otherwise(F.lit("retain"))
    )
    return docs.withColumn("action", action)


