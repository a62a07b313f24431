"""BM25 as DataFrame algebra (reference operator A3, src/storage/bm25_store.py).

The reference keeps parallel in-memory lists and rebuilds a ``BM25Okapi``
object on every add (bm25_store.py:134-188 — "good for < 1M documents").
The Spark formulation replaces that with derived tables that scale
horizontally and update incrementally:

    postings(doc_id, term, tf, dl)    — explode + groupBy (map-side combine);
                                        dl rides along as the doc's length
    doclens(doc_id, dl)               — array size per doc, no shuffle
    stats(n_docs, sum_dl)             — one row per write/append

Scoring a *batch* of queries is one broadcast join and ONE shuffle:
query terms (tiny, broadcast) ⋈ postings, hash partitioned once on
query_id. Each posting carries its document's length (as Lucene keeps
per-document length norms beside the postings), and the corpus stats
``(n_docs, avgdl)`` are read from the index's stats rows on the driver
(``read_stats``, no Spark job) and enter the plan as literals. The
document frequency of each query term is a count inside the query_id
partitioning, so the whole leg — df, the per-(query, doc) rollup and
the caller's per-query top-k — runs without a further exchange, and
only matched postings ever move.

IDF variant: Lucene/Elasticsearch BM25 — ``ln(1 + (N - df + .5)/(df + .5))``
— i.e. the formula the reference's Elasticsearch backend uses
(bm25_store.py:337-476). The pickle backend delegates to ``rank_bm25``'s
Okapi with an epsilon floor for negative IDFs; the Lucene form is strictly
positive so needs no floor, and we adopt it as the engine-defined scoring.
k1 = 1.5, b = 0.75 from the reference config (src/config.py:32-33).
"""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from rag_database_spark.functions.text import tokenize
from rag_database_spark.sources.tables import local_frame

K1 = 1.5
B = 0.75


def build_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """postings(doc_id, term, tf, dl). groupBy gives map-side partial
    aggregation; the shuffle key (doc_id, term) is high-cardinality and
    uniform, so no skew handling is needed. ``dl`` is the document's
    token count from the same tokenization; it depends on doc_id alone,
    so grouping by it as well leaves the groups unchanged."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks")
    )
    tokens = toks.select(
        "doc_id", F.explode("toks").alias("term"), F.size("toks").alias("dl")
    )
    return tokens.groupBy("doc_id", "term", "dl").agg(
        F.count("*").alias("tf")
    ).select("doc_id", "term", "tf", "dl")


def build_doclens(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """doclens(doc_id, dl) — computed as array size, shuffle-free. Includes
    zero-length docs (they still count toward N and avgdl)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokenize(F.col(text_col))).alias("dl"),
    )


def score_queries(
    queries: DataFrame,
    postings: DataFrame,
    stats: tuple[int, float | None],
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """BM25 score for every (query, matching doc) pair.

    Returns (query_id, doc_id, score), hash partitioned on query_id.
    ``stats`` is the index's ``(n_docs, avgdl)`` pair (``read_stats``);
    both enter the plan as literals, so the corpus statistics cost no
    join and no job.

    Query terms keep multiplicity via a qtf multiplier (rank_bm25
    iterates duplicate query tokens, bm25_store.py:217); (term, qtf)
    comes from one projection over each query's token array, so the
    query side needs no aggregate.

    One broadcast and one shuffle: postings (which carry each
    document's length ``dl``) are broadcast-joined to the query terms,
    and the matched stream is hash partitioned on query_id once. Inside
    that partitioning, df is ``count over (partition by query_id,
    term)`` — postings are unique on (doc_id, term), so it counts the
    documents holding the term — and the (query_id, doc_id) rollup and
    ``topk``'s query_id window reuse the same partitioning. The
    vocabulary is never aggregated.

    The trade: one query's whole matched stream lands in one task. A
    df window keyed on term put each hot term in one task instead; at
    batch scale many queries spread the load over the partitions.
    """
    toks = queries.select(
        F.col(query_id_col).alias("query_id"),
        tokenize(F.col(query_text_col)).alias("toks"),
    )
    qterms = toks.select(
        "query_id",
        F.inline(
            F.transform(
                F.array_distinct("toks"),
                lambda t: F.struct(
                    t.alias("term"),
                    F.size(F.filter("toks", lambda x: x == t)).alias("qtf"),
                ),
            )
        ),
    )
    matched = (
        postings.join(F.broadcast(qterms), "term")
        .repartition("query_id")
        .withColumn(
            "df",
            F.count(F.lit(1)).over(Window.partitionBy("query_id", "term")),
        )
    )
    n_docs, avgdl = stat_literals(stats)
    idf = F.log(
        F.lit(1.0) + (n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = (
        F.col("qtf")
        * idf
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl))
    )
    return matched.groupBy("query_id", "doc_id").agg(
        F.sum(term_score).alias("score")
    )


def stat_literals(stats: tuple[int, float | None]) -> tuple:
    """A ``read_stats`` pair as typed plan literals: n_docs bigint and
    avgdl double, the types the summed stats rows had as columns."""
    n_docs, avgdl = stats
    return F.lit(n_docs).cast("long"), F.lit(avgdl).cast("double")


def tfidf_keywords(
    postings: DataFrame, stats: tuple[int, float | None], k: int = 3
) -> DataFrame:
    """Per-document keyword extraction: top-``k`` terms by tf-idf
    (smoothed idf ln((N+1)/(df+1)) + 1, ties → term ascending) over
    the PERSISTED postings artifact — no re-tokenization; the doc-level
    twin of the reference's query-side keyword surface (F1 tokenizer,
    bm25_store.py:38-100; search-term extraction, hybrid_search.py).

    Scale: df is one groupBy(term) with map-side partials; N is the
    index's ``read_stats`` count, a plan literal; the rank window
    partitions by doc_id and is bounded by per-document vocabulary,
    never corpus size."""
    n_docs = stat_literals(stats)[0]
    dfreq = postings.groupBy("term").agg(F.count("*").alias("df"))
    scored = postings.join(dfreq, "term").select(
        "doc_id",
        "term",
        (
            F.col("tf")
            * (F.log((n_docs + 1.0) / (F.col("df") + 1.0)) + 1.0)
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "term",
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _write_tables(
    docs: DataFrame, path: str, mode: str, id_col: str, text_col: str
) -> None:
    """Write (``mode`` overwrite) or append the postings and doclens
    rows of ``docs``, then the one stats row (n_docs, sum_dl) of the
    doclens just written: an ``Observation`` collects it during the
    doclens write, so the documents are tokenized once per table.

    Postings are sorted by (doc_id, term) inside each write task, a
    local sort with no exchange: a document's rows then sit together,
    so its repeated ``dl`` run-length encodes and the file is smaller
    than the unsorted one without ``dl``. Zero-length documents have no
    postings; they exist only in doclens and the stats rows."""
    build_postings(docs, id_col, text_col).sortWithinPartitions(
        "doc_id", "term"
    ).write.mode(mode).parquet(f"{path}/postings")
    seen = Observation("bm25_stats")
    build_doclens(docs, id_col, text_col).observe(
        seen,
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
    ).write.mode(mode).parquet(f"{path}/doclens")
    row = seen.get
    local_frame(
        docs.sparkSession,
        [(row["n_docs"], row["sum_dl"])],
        "n_docs long, sum_dl long",
    ).write.mode(mode).parquet(f"{path}/stats")


def write_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """S7 (bm25_store.py:290-324 pickle persist → parquet tables): write
    the derived postings (with each document's length) + doclens
    tables and the corpus stats row once; the query path then reads
    them instead of re-tokenizing the corpus per query batch (the
    reference rebuilds BM25Okapi on every add, :176-188 — the
    incremental-table form is the scale fix)."""
    _write_tables(docs, path, "overwrite", id_col, text_col)


def append_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental S7 maintenance: tokenizing ONLY the new documents
    and appending their postings/doclens rows plus one (n_docs, sum_dl)
    delta row yields the same index as a full rebuild: postings and
    doclens are per-document, the stats rows sum to the corpus totals
    (``read_stats``), and df is counted from the postings at query
    time. The reference instead rebuilds BM25Okapi over the whole
    corpus on every add (bm25_store.py:176-188); at 100 TB that's the
    difference between cost ∝ delta and cost ∝ corpus."""
    _write_tables(new_docs, path, "append", id_col, text_col)


def read_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) from a ``write_index`` directory. Scoring
    needs only the postings and ``read_stats``; doclens is the one
    table that lists zero-length documents."""
    return (
        spark.read.parquet(f"{path}/postings"),
        spark.read.parquet(f"{path}/doclens"),
    )


def read_stats(path: str) -> tuple[int, float | None]:
    """``(n_docs, avgdl)`` of a ``write_index`` directory: the sums of
    its stats rows (one per write or append), read on the driver with
    pyarrow, so no Spark job runs. avgdl is ``sum_dl / n_docs`` divided
    once in IEEE double (Spark's ``try_divide`` of the two bigint sums
    gives the same bits) and None for an empty index."""
    table = pq.read_table(f"{path}/stats", columns=["n_docs", "sum_dl"])
    n_docs = sum(table.column("n_docs").to_pylist())
    sum_dl = sum(table.column("sum_dl").to_pylist())
    return n_docs, (float(sum_dl) / float(n_docs) if n_docs else None)


def topk(
    scored: DataFrame,
    k: int,
    partition_col: str = "query_id",
    score_col: str = "score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-query top-k: rank by (score DESC, id ASC) — the
    explicit tie-break SURVEY §7 requires (the reference relies on Python
    sort stability, hybrid_search.py:117-124)."""
    w = Window.partitionBy(partition_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
