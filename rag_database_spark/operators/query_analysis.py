"""Query understanding + enhanced search — F2-F8, Q2, J4, A6
(src/terminology/acronym_database.py, src/retrieval/
enhanced_hybrid_search.py, src/retrieval/query_analyzer.py).

The reference analyzes one query string per request; the engine analyzes
a *queries DataFrame* with the same regex banks as column expressions,
so a million-query workload costs one narrow projection. The acronym DB
is a static constant (the reference seeds it from init.sql:435-494), so
disambiguation + replacement unrolls into a fixed CASE cascade — no
join, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rag_database_spark.operators import bm25 as bm25_ops
from rag_database_spark.operators.fusion import FETCH_MULTIPLIER, rrf_fuse
from rag_database_spark.operators.hybrid import bm25_leg, dense_leg

# --- F5 precision detection (enhanced_hybrid_search.py:73-121) -------------
PRECISION_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"(?i)(?:in[ ]+)?table[ ]+(\d+|[A-Z])", "table_reference"),
    (r"(?i)(?:in[ ]+)?figure[ ]+(\d+|[A-Z])", "figure_reference"),
    (r"(?i)(?:in[ ]+)?exhibit[ ]+([A-Z]|\d+)", "exhibit_reference"),
    (r"(?i)(?:in[ ]+)?section[ ]+(\d+(?:\.\d+)*)", "section_reference"),
    (r"(?i)(?:in[ ]+)?article[ ]+(\d+|[IVXLC]+)", "article_reference"),
    (r"(?i)(?:in[ ]+)?clause[ ]+(\d+(?:\.\d+)*)", "clause_reference"),
    (r"(?i)(?:exact|specific|precise)[ ]+(?:amount|value|number|date)",
     "exact_value"),
    (r"(?i)what[ ]+(?:is|was|are|were)[ ]+the[ ]+(?:exact|specific)",
     "exact_value"),
    (r"(?i)(?:on[ ]+)?line[ ]+(\d+)", "line_reference"),
    (r"(?i)(?:in[ ]+)?paragraph[ ]+(\d+)", "paragraph_reference"),
)

# --- F6 query classification (enhanced_hybrid_search.py:369-389) -----------
QUERY_TYPE_KEYWORDS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("comparative", ("compare", "difference", "vs", "versus", "between")),
    ("temporal", ("when", "date", "before", "after", "during")),
    ("reference", ("table", "figure", "section", "article", "exhibit")),
    ("precise", ("exact", "specific", "precise", "what is the")),
)

# --- F8 modality (query_analyzer.py:67-96, 123-186) ------------------------
VISUAL_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"\b(table|tables)\b", "table"),
    (r"\b(figure|figures|fig\.?)\b", "figure"),
    (r"\b(chart|charts)\b", "chart"),
    (r"\b(diagram|diagrams)\b", "diagram"),
    (r"\b(image|images|picture|pictures|photo|photos)\b", "image"),
    (r"\b(graph|graphs)\b", "graph"),
    (r"\b(formula|formulas|equation|equations)\b", "formula"),
)
VISUAL_INTENT_PATTERNS: tuple[str, ...] = (
    r"what[ ]+does[ ]+the[ ]+(table|figure|chart|diagram)[ ]+show",
    r"according[ ]+to[ ]+the[ ]+(table|figure|chart)",
    r"in[ ]+the[ ]+(table|figure|chart|diagram)",
    r"from[ ]+the[ ]+(table|figure|chart)",
    r"(show|display|visualize|illustrate)",
    r"(look[ ]+at|see|view)[ ]+the[ ]+(table|figure|chart)",
    r"(data|values|numbers)[ ]+in[ ]+the[ ]+table",
    r"table[ ]+(shows?|displays?|contains?|lists?)",
    r"figure[ ]+(shows?|displays?|illustrates?)",
)
MODALITY_WEIGHTS = {
    "text": {"bm25": 0.35, "dense": 0.55, "colpali": 0.10},
    "visual": {"bm25": 0.15, "dense": 0.25, "colpali": 0.60},
    "mixed": {"bm25": 0.25, "dense": 0.35, "colpali": 0.40},
}
VISUAL_THRESHOLD = 0.3  # query_analyzer.py:102

# --- F2/F3 acronyms + domains (acronym_database.py:35-56, 499-525;
# seed rows init.sql:435-494). Static engine seed; per entry:
# (acronym, expansion, domain, context keywords).
ACRONYMS: tuple[tuple[str, str, str, tuple[str, ...]], ...] = (
    ("IRC", "Internal Revenue Code", "tax",
     ("tax", "revenue", "income", "deduction")),
    ("IRC", "International Residential Code", "building",
     ("building", "construction", "residential", "dwelling")),
    ("NDA", "Non-Disclosure Agreement", "legal",
     ("agreement", "confidential", "party", "disclosure")),
    ("SOW", "Statement of Work", "legal",
     ("contract", "deliverables", "work", "project")),
    ("ROI", "Return on Investment", "financial",
     ("investment", "return", "profit", "financial")),
    ("API", "Application Programming Interface", "technical",
     ("software", "interface", "endpoint", "technical")),
)

DOMAIN_KEYWORDS: dict[str, tuple[str, ...]] = {
    "building": ("building", "construction", "code", "residential"),
    "financial": ("financial", "revenue", "profit", "investment", "quarterly"),
    "legal": ("contract", "agreement", "party", "clause", "legal"),
    "tax": ("tax", "irs", "income", "deduction"),
    "technical": ("software", "system", "technical", "specification"),
}


def detect_precision(text: Column) -> Column:
    """F5: first matching pattern wins → struct(is_precision,
    precision_type, reference). Built as ``coalesce`` over independent
    per-pattern cases — linear expression size (a chained
    when(prev.isNotNull(), prev) form duplicates the previous tree per
    level and blows up 2^n).

    Reference semantics note: the reference returns reference=None when
    the first matching pattern has no capture group; the engine takes
    the first non-empty extraction across the bank (coalesce) — the
    type still comes from the first match."""
    import re as _re

    ptype = F.coalesce(
        *[F.when(text.rlike(p), F.lit(name)) for p, name in PRECISION_PATTERNS]
    )
    ref = F.coalesce(
        *[
            F.when(
                text.rlike(p),
                F.nullif(F.regexp_extract(text, p, 1), F.lit("")),
            )
            for p, _name in PRECISION_PATTERNS
            if _re.compile(p).groups > 0
        ]
    )
    return F.struct(
        ptype.isNotNull().alias("is_precision"),
        ptype.alias("precision_type"),
        ref.alias("reference"),
    )


def classify_query(text: Column) -> Column:
    """F6: keyword-membership cascade (substring containment, like the
    reference's ``word in query_lower``)."""
    low = F.lower(text)
    out = F.lit("broad")
    for qtype, words in reversed(QUERY_TYPE_KEYWORDS):
        hit = F.lit(False)
        for w in words:
            hit = hit | low.contains(w)
        out = F.when(hit, F.lit(qtype)).otherwise(out)
    return out


def visual_score(text: Column) -> Column:
    """F8: 0.3 per visual-element pattern + 0.25 per intent pattern,
    capped at 1.0 (query_analyzer.py:130-152)."""
    low = F.lower(text)
    s = F.lit(0.0)
    for pat, _target in VISUAL_PATTERNS:
        s = s + F.when(low.rlike(pat), 0.3).otherwise(0.0)
    for pat in VISUAL_INTENT_PATTERNS:
        s = s + F.when(low.rlike(pat), 0.25).otherwise(0.0)
    return F.least(s, F.lit(1.0))


def modality(vscore: Column) -> Column:
    return (
        F.when(vscore >= 0.5, "visual")
        .when(vscore >= VISUAL_THRESHOLD, "mixed")
        .otherwise("text")
    )


def n_visual_targets(text: Column) -> Column:
    low = F.lower(text)
    n = F.lit(0)
    for pat, _target in VISUAL_PATTERNS:
        n = n + F.when(low.rlike(pat), 1).otherwise(0)
    return n


def weights_from_signals(vs: Column, n: Column) -> Column:
    """F8 weights from PRE-COMPUTED signal columns (visual score +
    targeted-element count): modality defaults, colpali boosted by
    min(0.1·n, 0.15), cap 0.7, then renormalized
    (query_analyzer.py:165-174).

    Taking columns rather than the query text matters for plan size:
    every reference to ``vs``/``n`` here is an attribute lookup, not a
    copy of the 16-regex visual-score expression tree — inlined, the
    3-leg × renormalize structure instantiates that tree ~36×, and
    Catalyst's analysis cost grows with the duplicated tree even
    though codegen would CSE it."""
    mod = modality(vs)

    def base(leg):
        return (
            F.when(mod == "visual", MODALITY_WEIGHTS["visual"][leg])
            .when(mod == "mixed", MODALITY_WEIGHTS["mixed"][leg])
            .otherwise(MODALITY_WEIGHTS["text"][leg])
        )

    boost = F.least(0.1 * n, F.lit(0.15))
    colpali = F.when(
        n > 0, F.least(base("colpali") + boost, F.lit(0.7))
    ).otherwise(base("colpali"))
    total = base("bm25") + base("dense") + colpali
    return F.struct(
        (base("bm25") / total).alias("w_bm25"),
        (base("dense") / total).alias("w_dense"),
        (colpali / total).alias("w_colpali"),
    )


def suggested_weights(text: Column) -> Column:
    """F8 weights straight from the query text — convenience form for
    single-expression use; ``analyze_queries`` feeds
    ``weights_from_signals`` materialized signal columns instead."""
    return weights_from_signals(visual_score(text), n_visual_targets(text))


# --- F7 query complexity → chunk level (hierarchical_chunker.py:550-610) ---
PRECISION_KEYWORDS: tuple[str, ...] = (
    "exact", "specific", "precisely", "exactly",
    "table", "figure", "section", "article", "clause",
    "number", "amount", "value", "date", "deadline",
    "line", "paragraph", "sentence",
    "what is the", "what was the",
)
BROAD_KEYWORDS: tuple[str, ...] = (
    "overview", "summary", "about", "describe",
    "explain", "what does", "how does", "why does",
    "generally", "overall", "main", "key points",
)


def query_complexity(text: Column) -> Column:
    """F7: precision vs broad keyword counts → struct(chunk_level,
    confidence). Exact reference decision table
    (hierarchical_chunker.py:597-610): precision wins → sentence
    (conf .9 at ≥2 hits else .7); broad wins → section at ≥2 (.9) else
    paragraph (.7); tie → paragraph (.5)."""
    low = F.lower(text)
    p = F.lit(0)
    for kw in PRECISION_KEYWORDS:
        p = p + F.when(low.contains(kw), 1).otherwise(0)
    b = F.lit(0)
    for kw in BROAD_KEYWORDS:
        b = b + F.when(low.contains(kw), 1).otherwise(0)
    level = (
        F.when(p > b, F.lit("sentence"))
        .when((b > p) & (b >= 2), F.lit("section"))
        .when(b > p, F.lit("paragraph"))
        .otherwise(F.lit("paragraph"))
    )
    conf = (
        F.when((p > b) & (p >= 2), 0.9)
        .when(p > b, 0.7)
        .when((b > p) & (b >= 2), 0.9)
        .when(b > p, 0.7)
        .otherwise(0.5)
    )
    return F.struct(level.alias("chunk_level"), conf.alias("confidence"))


def detect_domain(text: Column) -> Column:
    """F3: keyword-presence count per domain; argmax, ties by domain
    name ascending, zero hits → 'general'."""
    low = F.lower(text)
    scored = []
    for domain in sorted(DOMAIN_KEYWORDS):
        hits = F.lit(0)
        for kw in DOMAIN_KEYWORDS[domain]:
            hits = hits + F.when(low.contains(kw), 1).otherwise(0)
        scored.append(
            F.struct(hits.alias("hits"), F.lit(domain).alias("domain"))
        )
    arr = F.array(*scored)
    best = F.array_sort(
        arr,
        lambda l, r: F.when(l["hits"] > r["hits"], F.lit(-1))
        .when(l["hits"] < r["hits"], F.lit(1))
        .when(l["domain"] < r["domain"], F.lit(-1))
        .when(l["domain"] > r["domain"], F.lit(1))
        .otherwise(F.lit(0)),
    )[0]
    return F.when(best["hits"] > 0, best["domain"]).otherwise(F.lit("general"))


def expand_acronyms(text: Column, domain: Column | None = None) -> Column:
    """F2/F4 (acronym_database.py:402-486): for each known acronym
    present as a standalone uppercase token, choose the expansion by
    (domain match × 2 + context-keyword hits, ties by expansion asc)
    and rewrite occurrences as 'ACR (Expansion)'.

    ``domain`` accepts a pre-computed ``detect_domain`` column so the
    per-acronym disambiguation scores reference one attribute instead
    of inlining the 21-keyword domain tree per candidate.

    Engine deviation (documented): ALL occurrences are rewritten, not
    just the first — the reference replaces the first only; queries
    repeat an acronym rarely, and global replace stays columnar."""
    low = F.lower(text)
    if domain is None:
        domain = detect_domain(text)
    out = text
    by_acr: dict[str, list[tuple[str, str, tuple[str, ...]]]] = {}
    for acr, exp, dom, kws in ACRONYMS:
        by_acr.setdefault(acr, []).append((exp, dom, kws))
    for acr in sorted(by_acr):
        candidates = []
        for exp, dom, kws in sorted(by_acr[acr]):
            score = F.when(domain == dom, 2).otherwise(0)
            for kw in kws:
                score = score + F.when(low.contains(kw), 1).otherwise(0)
            candidates.append(
                F.struct(
                    (-score).alias("neg"), F.lit(exp).alias("exp")
                )
            )
        best_exp = F.array_sort(F.array(*candidates))[0]["exp"]
        pat = rf"\b{acr}\b"
        # regexp_replace is a no-op when the pattern is absent, so no
        # conditional wrapper — keeps the folded expression linear-size
        out = F.regexp_replace(
            out, pat, F.concat(F.lit(acr + " ("), best_exp, F.lit(")"))
        )
    return out


# Prepared analysis projections, keyed by (SparkContext id, text_col).
# Building the analysis tree costs ~1 s of pure driver time — thousands
# of Column nodes, each a py4j round trip — so, like a prepared
# statement, build once per context and reuse: Columns are unbound
# expressions, valid against any DataFrame of the same context. Keying
# on the context id drops refs from a stopped JVM.
_PREPARED: dict[tuple[int, str], tuple[list[Column], list[Column]]] = {}


def _prepared_cols(text_col: str) -> tuple[list[Column], list[Column]]:
    from pyspark import SparkContext

    key = (id(SparkContext._active_spark_context), text_col)
    if key in _PREPARED:
        return _PREPARED[key]
    t = F.col(text_col)
    stage1 = [
        t.alias("__t"),
        visual_score(t).alias("__vs"),
        n_visual_targets(t).alias("__nv"),
        detect_domain(t).alias("__domain"),
    ]
    tt = F.col("__t")
    vs = F.col("__vs")
    prec = detect_precision(tt)
    w = weights_from_signals(vs, F.col("__nv"))
    cx = query_complexity(tt)
    stage2 = [
        classify_query(tt).alias("query_type"),
        prec["is_precision"].alias("is_precision"),
        prec["precision_type"].alias("precision_type"),
        prec["reference"].alias("reference"),
        cx["chunk_level"].alias("chunk_level"),
        F.round(cx["confidence"], 6).alias("complexity_confidence"),
        F.round(vs, 6).alias("visual_score"),
        modality(vs).alias("modality"),
        F.round(w["w_bm25"], 6).alias("w_bm25"),
        F.round(w["w_dense"], 6).alias("w_dense"),
        F.round(w["w_colpali"], 6).alias("w_colpali"),
        F.col("__domain").alias("domain"),
        expand_acronyms(tt, domain=F.col("__domain")).alias(
            "enhanced_query"
        ),
    ]
    if len(_PREPARED) >= 16:
        _PREPARED.clear()
    _PREPARED[key] = (stage1, stage2)
    return stage1, stage2


def analyze_queries(
    queries: DataFrame, text_col: str = "query_text"
) -> DataFrame:
    """F3-F8 as TWO stacked projections: stage 1 materializes the
    shared signals (visual score, target count, domain) once each;
    stage 2 derives everything else from those columns. Catalyst keeps
    the projects separate (collapsing would duplicate non-cheap
    expressions) and whole-stage codegen fuses them back into one pass
    — so the scan count is unchanged but the analyzed tree shrinks
    ~20× (the weights/acronym logic would otherwise inline dozens of
    copies of the regex banks).

    Output: (query_id, query_type, is_precision, precision_type,
    reference, chunk_level, complexity_confidence, visual_score,
    modality, w_*, domain, enhanced_query)."""
    stage1, stage2 = _prepared_cols(text_col)
    return queries.select("query_id", *stage1).select(
        "query_id", *stage2
    )


# --- Q2 enhanced search ----------------------------------------------------

PRECISION_BOOST = 0.5  # enhanced_hybrid_search.py:428
PRECISION_FALLBACK_LIMIT = 5  # :421


def precision_search_terms(queries: DataFrame,
                           text_col: str = "query_text") -> DataFrame:
    """The precision-fallback query rewrite
    (enhanced_hybrid_search.py:404-417): 'Table 3' → search 'table 3'.
    The reference issues cased + lowercase variants; BM25 tokenization
    lowercases anyway, so one variant suffices (bm25_store.py:38-100)."""
    prec = detect_precision(F.col(text_col))
    kind = F.split(prec["precision_type"], "_")[0]
    term = F.when(
        prec["reference"].isNotNull(),
        F.concat_ws(" ", kind, prec["reference"]),
    ).otherwise(prec["reference"])
    return queries.select(
        "query_id", prec["is_precision"].alias("is_precision"),
        term.alias("search_term"),
    ).filter(F.col("is_precision") & F.col("search_term").isNotNull())


def enhanced_search(
    queries: DataFrame,
    embeddings: DataFrame,
    index: tuple[DataFrame, tuple[int, float | None]],
    limit: int = 10,
) -> DataFrame:
    """Q2 (enhanced_hybrid_search.py:236-367, engine subset): base
    hybrid with 2× over-fetch → precision BM25 fallback (+0.5 score
    boost, 5 results) → J4 priority merge (precision first, first-seen
    id wins) → top-k.

    ``index`` is a persisted BM25 index's postings and its
    ``bm25.read_stats`` pair.

    Output: (query_id, id, final_score, source, rank)."""
    fetch = FETCH_MULTIPLIER * 2 * limit
    base = rrf_fuse(
        {
            "bm25": bm25_leg(queries, *index, fetch),
            "dense": dense_leg(queries, embeddings, fetch),
        },
        2 * limit,
    )
    base_rows = base.select(
        "query_id",
        "id",
        F.col("rrf_score").alias("final_score"),
        F.lit("base").alias("source"),
        F.col("rank").alias("__order"),
    )

    pterms = precision_search_terms(queries).select(
        "query_id", F.col("search_term").alias("query_text")
    )
    pscored = bm25_ops.score_queries(pterms, *index)
    prec_rows = bm25_ops.topk(pscored, PRECISION_FALLBACK_LIMIT).select(
        "query_id",
        F.col("doc_id").alias("id"),
        F.round(F.col("score") + PRECISION_BOOST, 6).alias("final_score"),
        F.lit("precision").alias("source"),
        F.col("rank").cast("long").alias("__order"),
    )

    merged = prec_rows.unionByName(base_rows).withColumn(
        "__prio", F.when(F.col("source") == "precision", 0).otherwise(1)
    )
    dedup_w = Window.partitionBy("query_id", "id").orderBy("__prio", "__order")
    final_w = Window.partitionBy("query_id").orderBy(
        "__prio", "__order", F.asc("id")
    )
    return (
        merged.withColumn("__rn", F.row_number().over(dedup_w))
        .filter(F.col("__rn") == 1)
        .withColumn("rank", F.row_number().over(final_w).cast("long"))
        .filter(F.col("rank") <= limit)
        .select("query_id", "id", "final_score", "source", "rank")
    )


def search_analytics(results: DataFrame,
                     score_col: str = "final_score") -> DataFrame:
    """A6 (enhanced_hybrid_search.py:144-197): per-query failure
    signals — result count, score moments, source mix.

    ``avg_score`` averages the 1e-6-QUANTIZED scores via an exact
    integer sum: a plain float ``avg`` is summation-order-dependent at
    the last ulp, and when the true mean lands within an ulp of the
    6dp rounding boundary the two engines' different reduction orders
    flip the rounded digit (first seen at sf0.1 — sf0.01 never hits
    the boundary). Scores in this pipeline are already 6dp-rounded
    upstream, so the quantization is lossless here; callers feeding
    unrounded scores get a deterministic 1e-6-quantized mean."""
    n = F.count(F.lit(1))
    int_sum = F.sum(F.round(F.col(score_col) * 1e6).cast("long"))
    return results.groupBy("query_id").agg(
        n.alias("n_results"),
        F.round(int_sum / (n * F.lit(1_000_000.0)), 6).alias("avg_score"),
        F.round(F.max(score_col), 6).alias("max_score"),
        F.countDistinct("id").alias("n_distinct_docs"),
        F.sort_array(F.collect_set("source")).alias("sources"),
    )


def search_terms(text: Column) -> Column:
    """U4 (acronym_database.py:609-616): search-term set expansion —
    the original query ∪ the acronym-enhanced rewrite ∪ each matched
    expansion, distinct, order-preserving."""
    expansions = []
    seen = set()
    for acr, exp, _dom, _kws in ACRONYMS:
        if (acr, exp) in seen:
            continue
        seen.add((acr, exp))
        expansions.append(F.when(text.rlike(rf"\b{acr}\b"), F.lit(exp)))
    arr = F.filter(
        F.array(text, expand_acronyms(text), *expansions),
        lambda x: x.isNotNull(),
    )
    return F.array_distinct(arr)
