"""Chunking pipeline — the reference's central transformation
(C2/C5/C6/C7/C8, W3, W4, F9, F21, F22; src/chunking/*).

The reference chunks one document at a time in Python (Chonkie token
windows, chunking_service.py:261-271; greedy paragraph packer :633-739;
hierarchy :326-526; page assignment via bisect,
master_pipeline.py:710-770). Re-expressed for Spark, chunking is a
flatMap in pure column algebra: one documents row → N chunk rows via
``explode(sequence(...))``, with no Python in the path at all — every
operator here is JVM-side and whole-stage-codegen'd, so a 100 TB corpus
chunks at scan speed with zero shuffles (the only wide op is the page
as-of, bounded per document).

Engine-defined window semantics (Chonkie C2): fixed word windows of
``chunk_size`` with ``overlap`` carry, stride = size − overlap
(reference defaults 512/128, chunking_service.py:229-251; the engine
parameterizes them). Offsets are in the normalized (single-spaced)
text, which makes (char_start, char_end, token_count) exactly
reproducible by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rag_database_spark.functions.text import SPLIT_RE
from rag_database_spark.sources.tables import local_frame

CHUNK_SIZE = 32  # words per chunk (scaled-down 512, config.py:27)
OVERLAP = 8      # carried words   (scaled-down 128, config.py:28)
PAGE_CHARS = 200          # synthetic page length for W4 over the test tables
DOC_SUMMARY_CHARS = 2000  # F22 doc-level truncation (chunking_service.py:448)


def split_words(text_col: Column) -> Column:
    """Whitespace word split, empties dropped (the packer's word unit,
    chunking_service.py:633-739)."""
    return F.filter(F.split(text_col, SPLIT_RE), lambda t: F.length(t) > 0)


def _chunk_id(doc_id: Column, level: Column, idx: Column, text: Column) -> Column:
    """F21 deterministic id scheme ``{doc}_{level}_{idx}_{md5[:12]}``
    (document_processor.py:183-188, unified_chunk.py:138-142)."""
    return F.concat_ws(
        "_",
        doc_id.cast("string"),
        level,
        idx.cast("string"),
        F.substring(F.md5(text), 1, 12),
    )


def _base(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # No fan_out here: the chunk pipeline's per-row cost (one split +
    # array ops) is too cheap to amortize a reshard of the raw text —
    # measured at sf0.1, the exchange cost ~0.6-1 s per entry for no
    # downstream win (r5 bench: chunk_documents 1.32→1.95 s with it).
    words = split_words(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"), words.alias("words")
    ).select(
        "doc_id",
        "words",
        F.size("words").alias("n"),
        F.array_join("words", " ").alias("norm_text"),
    ).withColumn("norm_len", F.length("norm_text"))


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = CHUNK_SIZE,
    overlap: int = OVERLAP,
) -> DataFrame:
    """C2/W3: word-window chunks with overlap; one row in → N rows out
    via explode, chunk_index dense from 0 per document.

    Output: (doc_id, chunk_index, chunk_text, token_count, char_start,
    char_end) — offsets into the normalized text."""
    stride = chunk_size - overlap
    if stride <= 0:
        raise ValueError("chunk_size must exceed overlap")
    base = _base(docs, id_col, text_col).filter(F.col("n") > 0)
    n = F.col("n")
    n_chunks = (
        F.when(n <= chunk_size, F.lit(1))
        .otherwise(F.floor((n - chunk_size + stride - 1) / stride) + 1)
        .cast("long")
    )
    # char_start per chunk in O(doc_len) total: the naive form
    # (re-joining the word prefix per chunk row) is O(doc_len²/stride)
    # per document — ruinous for long documents at scale. Instead:
    # per-stride segment char lengths in one pass over the words, then
    # a prefix sum over the (tiny, ≤n_chunks) segment array; chunk k
    # starts at prefix[k] = Σ_{i ≤ k·stride} (len(word_i) + 1), which
    # is exactly length(join(words[1..k·stride])) + 1 for k > 0.
    seg_lens = F.transform(
        F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1),
        lambda k: F.aggregate(
            F.slice(F.col("words"), (k * stride + 1).cast("int"), stride),
            F.lit(0).cast("long"),
            lambda acc, w: acc + F.length(w) + 1,
        ),
    )
    char_starts = F.aggregate(
        seg_lens,
        F.array(F.lit(0).cast("long")),
        lambda acc, x: F.concat(
            acc, F.array(F.element_at(acc, -1) + x)
        ),
    )
    exploded = base.withColumn("n_chunks", n_chunks).withColumn(
        "__char_starts", char_starts
    ).select(
        "doc_id",
        "words",
        "n",
        "__char_starts",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)).alias(
            "chunk_index"
        ),
    )
    start = (F.col("chunk_index") * stride).cast("int")
    chunk_words = F.slice(F.col("words"), start + 1, chunk_size)
    chunk_text = F.array_join(chunk_words, " ")
    char_start = F.element_at(
        F.col("__char_starts"), (F.col("chunk_index") + 1).cast("int")
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_index"),
        chunk_text.alias("chunk_text"),
        F.least(F.lit(chunk_size), F.col("n") - start).cast("long").alias(
            "token_count"
        ),
        char_start.alias("char_start"),
    ).withColumn(
        "char_end", F.col("char_start") + F.length("chunk_text")
    )


def doc_level_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    summary_chars: int = DOC_SUMMARY_CHARS,
) -> DataFrame:
    """C5 document-level summary chunk + F22 truncation: first
    ``summary_chars`` of the normalized text, '...' appended when
    truncated (chunking_service.py:448)."""
    base = _base(docs, id_col, text_col).filter(F.col("n") > 0)
    text = F.when(
        F.col("norm_len") > summary_chars,
        F.concat(F.substring("norm_text", 1, summary_chars), F.lit("...")),
    ).otherwise(F.col("norm_text"))
    return base.select(
        "doc_id",
        F.lit(0).cast("long").alias("chunk_index"),
        text.alias("chunk_text"),
        F.col("n").cast("long").alias("token_count"),
        F.lit(0).cast("long").alias("char_start"),
        F.col("norm_len").cast("long").alias("char_end"),
    )


def page_boundaries(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    page_chars: int = PAGE_CHARS,
) -> DataFrame:
    """Synthetic page-boundary table for the pageless test corpus:
    boundaries every ``page_chars`` of normalized text. The real ingest
    path would carry parser-emitted boundaries; the as-of assignment
    below is identical either way."""
    base = _base(docs, id_col, text_col).filter(F.col("n") > 0)
    return base.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("norm_len"), F.lit(page_chars))
        ).alias("pos"),
    ).withColumn("page_number", (F.col("pos") / page_chars + 1).cast("long"))


def assign_pages(
    chunks: DataFrame,
    boundaries: DataFrame,
    pos_col: str = "char_start",
) -> DataFrame:
    """W4 — the as-of join (master_pipeline.py:710-770 bisect): each
    chunk gets the page of the last boundary with ``pos <= char_start``.

    Spark form: union boundaries+chunks, one window sort per document,
    ``last(page, ignorenulls)`` running value — O(n log n) per doc
    partition, no driver logic, no UDF. Equal positions resolve
    boundary-first (is_chunk secondary key)."""
    c = chunks.withColumn(
        "__row", F.struct(*[F.col(x) for x in chunks.columns])
    ).select(
        "doc_id",
        F.col(pos_col).alias("pos"),
        F.lit(None).cast("long").alias("__page"),
        F.lit(1).alias("__is_chunk"),
        "__row",
    )
    b = boundaries.select(
        "doc_id",
        F.col("pos"),
        F.col("page_number").alias("__page"),
        F.lit(0).alias("__is_chunk"),
    ).withColumn("__row", F.lit(None).cast(c.schema["__row"].dataType))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos", "__is_chunk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = b.unionByName(c).withColumn(
        "page_number", F.last("__page", ignorenulls=True).over(w)
    )
    out_cols = [F.col(f"__row.{x}").alias(x) for x in chunks.columns]
    return merged.filter(F.col("__is_chunk") == 1).select(
        *out_cols, "page_number"
    )


def chunk_pipeline(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = CHUNK_SIZE,
    overlap: int = OVERLAP,
    page_chars: int = PAGE_CHARS,
) -> DataFrame:
    """The full C5-lite hierarchy: document-level summary chunk (no
    page) + word-window paragraph chunks with W4 page assignment, W3
    indices, F21 ids, parent_id threading (unified_chunk.py:76-127)."""
    paras = chunk_documents(docs, id_col, text_col, chunk_size, overlap)
    paras = assign_pages(
        paras, page_boundaries(docs, id_col, text_col, page_chars)
    ).withColumn("level", F.lit("paragraph"))
    doc_chunks = doc_level_chunks(docs, id_col, text_col).select(
        "*",
        F.lit(None).cast("long").alias("page_number"),
    ).withColumn("level", F.lit("document"))

    doc_ids = doc_chunks.select(
        "doc_id",
        _chunk_id(
            F.col("doc_id"), F.lit("document"), F.lit(0), F.col("chunk_text")
        ).alias("__doc_chunk_id"),
    )
    all_chunks = doc_chunks.unionByName(paras)
    return (
        all_chunks.withColumn(
            "chunk_id",
            _chunk_id(
                F.col("doc_id"),
                F.col("level"),
                F.col("chunk_index"),
                F.col("chunk_text"),
            ),
        )
        # chunk-grain ⋈ doc-grain equi-join; AQE picks broadcast vs
        # shuffle by observed size (doc-grain side is 1 row per doc)
        .join(doc_ids, "doc_id")
        .withColumn(
            "parent_id",
            F.when(F.col("level") == "paragraph", F.col("__doc_chunk_id")),
        )
        .select(
            "doc_id",
            "chunk_id",
            "level",
            "chunk_index",
            "chunk_text",
            "token_count",
            "char_start",
            "char_end",
            "page_number",
            "parent_id",
        )
    )


# ---------------------------------------------------------------------------
# F9 structure detection + C7 sentence chunks (unit-tested surface; the
# driver's synthetic corpus has no line/sentence structure to oracle)
# ---------------------------------------------------------------------------

# Pattern banks per document family (chunking_service.py:83-207,
# hierarchical_chunker.py:88-287): (family, regex, level-from-dots?).
# Level = 1 + number of dots in the section number where applicable.
SECTION_PATTERNS: tuple[tuple[str, str], ...] = (
    ("legal", r"^(?:ARTICLE|Article)\s+([IVXLC]+|\d+)"),
    ("legal", r"^(?:SECTION|Section)\s+(\d+(?:\.\d+)*)"),
    ("legal", r"^(?:Clause)\s+(\d+(?:\.\d+)*)"),
    ("legal", r"^(WHEREAS)\b"),
    ("legal", r"^(?:Exhibit|EXHIBIT)\s+([A-Z])\b"),
    ("technical", r"^(?:Chapter|CHAPTER)\s+(\d+)"),
    ("technical", r"^(?:Part|PART)\s+([IVXLC]+|\d+)"),
    ("code", r"^§\s*(\d+(?:\.\d+)*)"),
    ("financial", r"^(Balance Sheet|Income Statement|Cash Flow)"),
    ("financial", r"^(Q[1-4]\s+\d{4}|FY\s*\d{4})"),
)


# fixture corpus for the F9/C7 oracle entries — the driver's synthetic
# documents have no line or sentence structure, so section detection
# and sentence chunking run over this deterministic frame (same pattern
# as the tables_extract fixtures). Apostrophe-free for SQL VALUES
# embedding; every SECTION_PATTERNS family fires, and the texts carry
# real sentence boundaries for the C7 split.
SECTION_FIXTURES: tuple[tuple[int, str], ...] = (
    (1,
     "ARTICLE I\n"
     "The parties agree to the following terms. Each party shall act "
     "in good faith at all times.\n"
     "Section 1.2\n"
     "Payment is due within thirty days of the invoice date. Late "
     "payment accrues interest! Does any party dispute this?\n"
     "Section 1.2.1\n"
     "Clause 4.10\n"
     "WHEREAS the parties wish to cooperate on the project.\n"
     "Exhibit B\n"
     "short line"),
    (2,
     "Chapter 3\n"
     "Introductory text for the third chapter follows immediately "
     "here. A second sentence closes the paragraph.\n"
     "Part IV\n"
     "§ 12.5\n"
     "Balance Sheet\n"
     "Q1 2024\n"
     "FY 2023 totals appear below the heading."),
    (3,
     "no headers in this document, just two plain sentences. this is "
     "the second sentence of the document!"),
)


def section_fixtures_df(spark) -> DataFrame:
    return local_frame(spark, SECTION_FIXTURES, "doc_id long, text string")


def section_fixtures_values_sql() -> str:
    rows = ", ".join(
        "({}, '{}')".format(i, t.replace("\n", "\\n"))
        for i, t in SECTION_FIXTURES
    )
    return (
        f"(SELECT doc_id, replace(text, '\\n', chr(10)) AS text "
        f"FROM (VALUES {rows}) AS v(doc_id, text))"
    )


def detect_sections(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """F9: per-line regex cascade → (doc_id, line_no, family, title,
    section_number, level). Lines via posexplode — a flatMap with no
    Python; each pattern is one JVM regexp_extract."""
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("line_no", "line"),
    )
    line = F.col("line")
    # coalesce over independent cases — linear expression size
    family = F.coalesce(
        *[F.when(line.rlike(p), F.lit(fam)) for fam, p in SECTION_PATTERNS]
    )
    number = F.coalesce(
        *[
            F.when(line.rlike(p), F.regexp_extract(line, p, 1))
            for _fam, p in SECTION_PATTERNS
        ]
    )
    out = lines.select(
        "doc_id",
        "line_no",
        family.alias("family"),
        F.trim(line).alias("title"),
        number.alias("section_number"),
    ).filter(F.col("family").isNotNull())
    # level = dot-depth of the section number (chunking_service.py:190-205)
    return out.withColumn(
        "level",
        (
            F.length("section_number")
            - F.length(F.regexp_replace("section_number", r"\.", ""))
            + 1
        ).cast("int"),
    )


SENTENCE_SPLIT_RE = r"(?<=[.!?])\s+"
MIN_SENTENCE_CHARS = 20  # P11 (hierarchical_chunker.py:525)


def sentence_chunks(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C7 (hierarchical_chunker.py:511-539): sentence-boundary split,
    sentences shorter than 20 chars dropped (P11)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), SENTENCE_SPLIT_RE)).alias(
            "sentence_index", "sentence"
        ),
    ).filter(F.length(F.trim("sentence")) >= MIN_SENTENCE_CHARS).select(
        "doc_id", "sentence_index", F.trim("sentence").alias("sentence")
    )


# ---------------------------------------------------------------------------
# C4 semantic / SDPM chunking + C1 strategy routing
# (chunking_service.py:63-69, 286-312, 360-365)
# ---------------------------------------------------------------------------

SEMANTIC_THRESHOLD = 0.5  # chunking_service.py:296
SDPM_SKIP_WINDOW = 2      # chunking_service.py:307


def _hash_embed_py(text: str, dim: int = 8) -> list[float]:
    """Python twin of functions/embedder.hash_embed — identical tokens
    (lower, punct→space, split, len≥2, stopwords dropped) and identical
    md5-keyed projections, so executor-side chunking agrees with the
    columnar embedder."""
    import hashlib
    import re as _re

    from rag_database_spark.functions.text import (
        MIN_TOKEN_LEN,
        PUNCT_RE,
        SPLIT_RE,
        STOPWORDS,
    )

    from rag_database_spark.functions.embedder import DIMS_PER_DIGEST

    cleaned = _re.sub(PUNCT_RE, " ", text.lower())
    toks = [
        t
        for t in _re.split(SPLIT_RE, cleaned)
        if len(t) >= MIN_TOKEN_LEN and t not in STOPWORDS
    ]
    if not toks:
        return [0.0] * dim
    n_digests = -(-dim // DIMS_PER_DIGEST)
    sums = [0.0] * dim
    for t in toks:
        hx = "".join(
            hashlib.md5(f"{k}|{t}".encode()).hexdigest()
            for k in range(n_digests)
        )
        for i in range(dim):
            sums[i] += int(hx[4 * i: 4 * i + 4], 16) / 32768.0 - 1.0
    return [s / len(toks) for s in sums]


def _cos(a: list[float], b: list[float]) -> float:
    import math

    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb) if na > 0 and nb > 0 else 0.0


def semantic_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = SEMANTIC_THRESHOLD,
    skip_window: int = 0,
    embedder=None,
) -> DataFrame:
    """C4 (chunking_service.py:286-312): sentences grouped by embedding
    similarity — a sentence joins the open chunk while its cosine to
    the chunk centroid ≥ threshold. ``skip_window > 0`` is the SDPM
    variant: a below-threshold sentence still joins if any of the next
    ``skip_window`` sentences would (double-pass merging).

    Sequential within a document (like the reference's Chonkie
    chunkers) → applyInPandas per doc, parallel across docs.
    ``embedder`` is the model seam: a ``sentences -> list[vector]``
    callable (e.g. a sentence-transformers ``encode`` wrapper) ships
    to the workers by closure; ``None`` uses the engine's
    deterministic hash projection so default results stay stable and
    golden-testable."""
    import re as _re

    import pandas as pd

    embed_batch = embedder or (
        lambda sentences: [_hash_embed_py(s) for s in sentences]
    )

    def chunk_one(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for doc_id, text in zip(pdf[id_col], pdf[text_col]):
            sentences = [
                s.strip()
                for s in _re.split(SENTENCE_SPLIT_RE, text or "")
                if s.strip()
            ]
            if not sentences:
                continue
            vecs = [list(map(float, v)) for v in embed_batch(sentences)]
            chunks: list[list[int]] = [[0]]
            for i in range(1, len(sentences)):
                centroid = [
                    sum(vecs[j][d] for j in chunks[-1]) / len(chunks[-1])
                    for d in range(len(vecs[0]))
                ]
                joins = _cos(vecs[i], centroid) >= threshold
                if not joins and skip_window > 0:
                    # SDPM: look ahead — a near-future similar sentence
                    # bridges the gap
                    for j in range(i + 1, min(i + 1 + skip_window, len(vecs))):
                        if _cos(vecs[j], centroid) >= threshold:
                            joins = True
                            break
                if joins:
                    chunks[-1].append(i)
                else:
                    chunks.append([i])
            for ci, idxs in enumerate(chunks):
                out.append(
                    (
                        doc_id,
                        ci,
                        " ".join(sentences[j] for j in idxs),
                        len(idxs),
                    )
                )
        return pd.DataFrame(
            out, columns=["doc_id", "chunk_index", "chunk_text", "n_sentences"]
        )

    return docs.groupBy(id_col).applyInPandas(
        chunk_one,
        schema=(
            "doc_id long, chunk_index long, chunk_text string, "
            "n_sentences long"
        ),
    )


# C1 (chunking_service.py:63-69): quality tier → chunking strategy
STRATEGY_BY_TIER = {
    "high": "sdpm",
    "medium": "semantic",
    "low": "sentence",
    "garbage": "token",
}


def route_and_chunk(
    docs_with_tier: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tier_col: str = "tier",
) -> DataFrame:
    """C1 routing: each quality tier takes its chunker; outputs union
    with a ``strategy`` column. Filters split the corpus once — every
    branch is lazy, so unmatched branches cost nothing."""
    t = F.col(tier_col)
    base = docs_with_tier
    sdpm = semantic_chunks(
        base.filter(t == "high"), id_col, text_col,
        skip_window=SDPM_SKIP_WINDOW,
    ).withColumn("strategy", F.lit("sdpm"))
    sem = semantic_chunks(
        base.filter(t == "medium"), id_col, text_col
    ).withColumn("strategy", F.lit("semantic"))
    sent = (
        sentence_chunks(base.filter(t == "low"), id_col, text_col)
        .select(
            "doc_id",
            F.col("sentence_index").cast("long").alias("chunk_index"),
            F.col("sentence").alias("chunk_text"),
            F.lit(1).cast("long").alias("n_sentences"),
        )
        .withColumn("strategy", F.lit("sentence"))
    )
    tok = (
        chunk_documents(base.filter(t == "garbage"), id_col, text_col)
        .select(
            "doc_id", "chunk_index", "chunk_text",
            F.lit(None).cast("long").alias("n_sentences"),
        )
        .withColumn("strategy", F.lit("token"))
    )
    return sdpm.unionByName(sem).unionByName(sent).unionByName(tok)
