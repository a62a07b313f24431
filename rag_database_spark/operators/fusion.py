"""Rank fusion — the heart of the reference's hybrid search
(src/retrieval/hybrid_search.py). ``rrf_fuse`` is the engine's one RRF
fusion: the static and the modality-adaptive hybrid entries and the
enhanced-search base all call it over legs built in ``hybrid.py``.

Reference semantics preserved exactly:
- Weighted Reciprocal Rank Fusion, k = 60:
      rrf(id) = Σ_method  weight_m / (k + rank_m(id))
  (hybrid_search.py:78-85 k, :109-115 accumulation, :185-189 default
  weights bm25 .3 / dense .5 / colpali .2).
- Missing methods contribute 0 — the reference accumulates into a
  defaultdict (a k-way FULL OUTER join); here the union+groupBy form
  gives the same semantics with one shuffle.
- Over-fetch 3× per method before fusion (hybrid_search.py:256).
- Page→chunk score propagation (J2) and doc-level ×0.8 fallback boost
  (J3, hybrid_search.py:368-394).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RRF_K = 60
DEFAULT_WEIGHTS = {"bm25": 0.3, "dense": 0.5, "colpali": 0.2}
FETCH_MULTIPLIER = 3  # hybrid_search.py:256
DOC_BOOST = 0.8  # hybrid_search.py:383-384


def rrf_fuse(
    legs: dict[str, DataFrame],
    limit: int,
    weights: dict[str, float] | DataFrame | None = None,
    k: int = RRF_K,
) -> DataFrame:
    """J1 + A1 + T2: weighted RRF over ranked legs, top-``limit`` per
    query (ties broken by id ascending).

    ``legs`` maps a method name to its (query_id, id, rank) frame.
    ``weights`` is either the static {method: weight} map (default
    .3/.5/.2), inlined as a literal CASE expression with no join, or a
    per-query (query_id, w_<method>...) frame (F8 modality-adaptive
    weights, hybrid_search.py:191-217), broadcast-joined onto the
    tagged union before the single groupBy shuffle.

    Output: query_id, id, rrf_score (rounded 6), <method>_rank per leg
    (null when the leg did not return the id), rank."""
    weights = DEFAULT_WEIGHTS if weights is None else weights
    tagged = reduce(DataFrame.unionByName, [
        df.select("query_id", "id", F.lit(m).alias("method"), "rank")
        for m, df in legs.items()
    ])
    if isinstance(weights, DataFrame):
        tagged = tagged.join(F.broadcast(weights), "query_id")
        per_method = {m: F.col(f"w_{m}") for m in legs}
    else:
        per_method = {m: F.lit(float(w)) for m, w in weights.items()}
    wexpr = F.lit(None).cast("double")
    for m, w in per_method.items():
        wexpr = F.when(F.col("method") == m, w).otherwise(wexpr)
    fused = tagged.groupBy("query_id", "id").agg(
        F.round(F.sum(wexpr / (F.lit(float(k)) + F.col("rank"))), 6).alias(
            "rrf_score"
        ),
        *[F.max(F.when(F.col("method") == m, F.col("rank"))).alias(f"{m}_rank")
          for m in legs],
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("id"))
    return fused.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= limit
    )


def propagate_page_scores_batch(
    chunks: DataFrame,
    page_scores: DataFrame,
    boost: float = DOC_BOOST,
) -> DataFrame:
    """J2 + J3, batch-query form: ``page_scores`` carries
    (query_id, document_id, page_number, score); chunks of a matched
    document join in per query — exact page match inherits the page
    score, the document's other pages get ``max(page score) × boost``
    (hybrid_search.py:307-394).

    Single consumption (r18): ONE doc-grain aggregate carries both the
    doc-max score and a page→score map (pages per (query, doc) are
    top-k-bounded, so the map is tiny), so the ``page_scores`` lineage
    — for the colpali leg the MaxSim ArrowEvalPython GEMM — is
    evaluated once. The map lookup is null when the chunk's page is
    absent (LEFT-join semantics). The inner doc-grain join scopes the
    expansion to matched documents and attaches query_id; its side is
    top-k-bounded → broadcast."""
    doc_side = page_scores.groupBy("query_id", "document_id").agg(
        F.max("score").alias("doc_max_score"),
        F.map_from_entries(
            F.collect_list(F.struct("page_number", "score"))
        ).alias("__page_scores"),
    )
    return (
        chunks.join(F.broadcast(doc_side), ["document_id"])
        .withColumn("page_score", F.col("__page_scores")[F.col("page_number")])
        .withColumn(
            "propagated_score",
            F.coalesce(
                F.col("page_score"), F.col("doc_max_score") * F.lit(boost)
            ),
        )
        .drop("doc_max_score", "__page_scores")
    )
