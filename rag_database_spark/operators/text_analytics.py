"""Document-level text analytics — the training-data-pipeline surface
(language ID, token stats, quality metrics A7, exact dedup) as one
narrow scan + column expressions per operator.

Everything is a JVM-side column expression over ``documents(doc_id,
text, ...)`` — no Python in the hot path, a single projection per
operator, no shuffle except ``exact_dedup``'s one groupBy on the
16-byte fingerprint (uniform key, map-side combine)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rag_database_spark.sources.tables import fan_out, local_frame
from rag_database_spark.functions.text import (
    SPLIT_RE,
    avg_word_length,
    detect_language,
    digit_ratio,
    doc_fingerprint,
    quality_score,
    quality_tier,
    raw_tokens,
    special_char_ratio,
    stopword_ratio,
    token_count_bpe_ish,
    token_count_ws,
    unique_token_ratio,
)


def lang_id(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """Language ID via stopword-marker hit ratios (argmax, ties by
    language name ascending, 'unknown' under 5% hit ratio)."""
    docs = fan_out(docs)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        detect_language(F.col(text_col)).alias("lang_pred"),
    )


def model_lang_id(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    model_path: str = "lid.176.bin",
    min_confidence: float = 0.0,
) -> DataFrame:
    """Real-model language ID — the fastText seam (same optional-import
    discipline as the sentence-transformers embedder and CrossEncoder
    reranker, functions/embedder.py:94): `lid.176.bin`-style fastText
    models are THE production lang-id path a training pipeline runs
    (CCNet, RedPajama, FineWeb all gate on it), so the Spark plumbing —
    Arrow-batched mapInPandas, model loaded once per Python worker,
    newline-stripped single-label predict — is real and fixture-tested
    even though this container ships no weights.

    Returns (doc_id, lang_pred, confidence); predictions under
    ``min_confidence`` become 'unknown' (the CCNet 0.5 convention).
    Raises ImportError when fasttext is absent."""
    from rag_database_spark.seams import optional_import

    ft_mod = optional_import("fasttext")
    if ft_mod is None:
        raise ImportError(
            "fasttext not installed — lang_id is the "
            "stopword-marker fallback"
        )
    load_model = ft_mod.load_model  # pickled by reference or value

    from collections.abc import Iterator

    import pandas as pd

    docs = fan_out(docs)
    src = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")
    )
    # id type follows the caller's column (string-keyed corpora work),
    # matching the heuristic path's schema
    id_type = src.schema["doc_id"].dataType.simpleString()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = load_model(model_path)  # once per partition
        for pdf in it:
            if pdf.empty:
                continue
            # fastText predict rejects newlines (and None rows crash
            # it — a NULL text is just an unknown-language doc here,
            # same as the heuristic path's behavior)
            texts = [
                t.replace("\n", " ") if isinstance(t, str) else ""
                for t in pdf["__t"].tolist()
            ]
            labels, probs = model.predict(texts, k=1)
            langs, confs = [], []
            for lab, pr in zip(labels, probs):
                if len(lab) == 0:
                    # fastText returns an EMPTY label tuple for
                    # token-less input (blank/whitespace text, or the
                    # "" a NULL row maps to) — that really is just an
                    # unknown-language doc, not an IndexError
                    langs.append("unknown")
                    confs.append(0.0)
                    continue
                conf = float(pr[0])
                lang = lab[0].replace("__label__", "")
                langs.append(
                    lang if conf >= min_confidence else "unknown"
                )
                confs.append(conf)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "lang_pred": langs,
                    "confidence": confs,
                }
            )

    return src.mapInPandas(
        batches,
        schema=f"doc_id {id_type}, lang_pred string, confidence double",
    )


def token_stats(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-document token counting: whitespace tokens, BPE-ish subword
    pieces, characters, average word length."""
    docs = fan_out(docs)
    t = F.col(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        token_count_ws(t).alias("n_tokens_ws"),
        token_count_bpe_ish(t).alias("n_tokens_bpe"),
        F.length(t).alias("n_chars_calc"),
        F.round(avg_word_length(t), 6).alias("avg_word_len"),
    )


def doc_quality(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                keep: tuple[str, ...] = ()) -> DataFrame:
    """A7 quality metrics + composite score + tier routing (F15
    thresholds .8/.5/.2, document_quality.py:356-365).

    ``keep``: extra input columns passed through unchanged (r18) — lets
    per-row consumers like ``domain_cap`` carry their grouping column
    through the projection instead of joining the scores back to the
    source on doc_id (which re-scanned the corpus and cost two
    exchanges + a sort-merge join for a value computable in the same
    pass)."""
    docs = fan_out(docs)
    t = F.col(text_col)
    # Two-step projection (r17): the raw ratios each feed an output
    # column AND the composite score (which itself feeds q_score AND
    # the tier), so the single-select form re-split the text ~7× per
    # row. Stage 1 evaluates each signal once; stage 2 rebuilds the
    # score from the staged columns with the exact formula/ordering of
    # functions.text.quality_score (0.30·len + 0.25·stop + 0.25·uniq
    # + 0.20·clean — same sub-expressions, same chain), so every value
    # is bit-identical. CollapseProject keeps the boundary: the
    # staged aliases are non-cheap and multiply-referenced.
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in keep],
        stopword_ratio(t).alias("__stop"),
        unique_token_ratio(t).alias("__uniq"),
        digit_ratio(t).alias("__digit"),
        special_char_ratio(t).alias("__special"),
        F.length(t).alias("__len"),
    )
    length_score = F.least(F.col("__len") / F.lit(200.0), F.lit(1.0))
    stop_score = F.least(F.col("__stop") * 4.0, F.lit(1.0))
    clean = F.lit(1.0) - F.col("__special")
    score = (
        0.30 * length_score
        + 0.25 * stop_score
        + 0.25 * F.col("__uniq")
        + 0.20 * clean
    )
    return staged.select(
        "doc_id",
        *keep,
        F.round(F.col("__stop"), 6).alias("stopword_ratio"),
        F.round(F.col("__uniq"), 6).alias("unique_ratio"),
        F.round(F.col("__digit"), 6).alias("digit_ratio"),
        F.round(F.col("__special"), 6).alias("special_ratio"),
        F.round(score, 6).alias("q_score"),
        quality_tier(score).alias("tier"),
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact content dedup: md5 fingerprint over the normalized token
    stream; the smallest doc_id per fingerprint is canonical, the rest
    are flagged (reference id scheme: md5 of content,
    document_processor.py:183-188).

    One shuffle on the fingerprint (uniform 128-bit key — no skew);
    at 100 TB this is the standard exact-dedup plan."""
    # No fan_out: the md5 projection is one pass over the text and the
    # groupBy shuffle that follows reshards anyway (r5 bench: the extra
    # exchange took exact_dedup 0.45→0.81 s).
    w = Window.partitionBy("fingerprint")
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            doc_fingerprint(F.col(text_col)).alias("fingerprint"),
        )
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("is_dupe", F.col("doc_id") != F.col("canonical_id"))
    )


def dup_ngram_fraction(docs: DataFrame, n: int = 5,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Duplicate-n-gram fraction per document — the RefinedWeb/Dolma
    cross-document contamination metric: the share of a document's
    word n-grams that also occur in at least one OTHER document.

    Plan (r18, single-pass): one codegen projection builds each doc's
    n-gram array (sequence + slice, no Python), ONE explode, then a
    window over ``ng`` computes min/max doc_id per gram —
    ``min != max`` ⟺ the gram occurs in >1 distinct document — and a
    rollup keyed doc_id. The r17 shape evaluated the gram stream TWICE
    (groupBy(ng) for count_distinct + a sort-merge join back on ng):
    two tokenize+explode scans and two exchanges of the corpus gram
    stream; the window form is one scan and one gram-stream exchange.
    Hot n-grams land in one window partition (WindowExec buffers and
    spills) — the same rows the old plan funneled through one SMJ
    partition, so the skew profile is unchanged. The per-doc rollup is
    bounded by document length."""
    raw_docs = docs
    docs = fan_out(docs)
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), SPLIT_RE),
        lambda t: F.length(t) > 0,
    )
    ngrams = F.when(
        F.size("__toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice("__toks", i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ng_rows = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
        .select("doc_id", F.explode(ngrams).alias("ng"))
    )
    wng = Window.partitionBy("ng")
    per_doc = (
        ng_rows.withColumn(
            "__dup",
            F.min("doc_id").over(wng) != F.max("doc_id").over(wng),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.col("__dup").cast("long")).alias("n_dup_ngrams"),
        )
    )
    # join side pruned to doc_id: use the un-fanned scan (the
    # round-robin exchange buys nothing before a join that shuffles)
    return (
        raw_docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("n_dup_ngrams", F.lit(0)).alias("n_dup_ngrams"),
            F.round(
                F.when(
                    F.col("n_ngrams") > 0,
                    F.col("n_dup_ngrams") / F.col("n_ngrams"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )


# Gopher document-quality bounds (Rae et al. 2021, "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", table A1
# — public paper): a doc passes when every rule holds.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_WORD_RATIO = 0.1
GOPHER_MAX_BULLET_LINE_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.3
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8


def gopher_rules(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Gopher-style quality filter signals, one narrow scan of pure
    column expressions (no Python, no shuffle — linear at any scale):

    - ``n_words`` whitespace words, ``mean_word_len`` non-space chars
      per word
    - ``symbol_word_ratio``: '#' or '...' occurrences per word
    - ``bullet_line_frac`` / ``ellipsis_line_frac``: lines starting
      with a bullet glyph / ending in an ellipsis
    - ``alpha_word_frac``: words containing at least one letter
    - ``passes``: conjunction of the published bounds

    The reference has no Gopher pass (its quality layer is F15/A7);
    this is the LLM-curation extension the pipeline needs for raw-web
    corpora. Ratios are rounded to 6dp for engine-independent
    comparison; counts are exact.

    Word splitting strips ALL leading/trailing whitespace first
    (``trim`` only strips spaces, so text ending in \\n or \\t would
    otherwise count an empty-string word, inflating n_words and
    deflating alpha_word_frac vs the Gopher definition)."""
    docs = fan_out(docs)
    t = F.col(text_col)
    stripped = F.regexp_replace(t, r"^\s+|\s+$", "")
    words = F.split(stripped, r"\s+")
    n_words = F.when(F.length(stripped) == 0, F.lit(0)).otherwise(
        F.size(words)
    )
    n_lines = F.size(F.split(t, "\n"))
    non_space = F.length(F.regexp_replace(t, r"\s", ""))
    mean_wl = F.when(n_words > 0, non_space / n_words).otherwise(F.lit(0.0))
    n_symbols = (
        F.size(F.split(t, "#", -1)) - 1
        + F.size(F.split(t, r"\.\.\.", -1)) - 1
    )
    sym_ratio = F.when(n_words > 0, n_symbols / n_words).otherwise(F.lit(0.0))
    bullet_lines = F.size(
        F.filter(F.split(t, "\n"), lambda l: l.rlike(r"^\s*[-*•]"))
    )
    ellipsis_lines = F.size(
        F.filter(F.split(t, "\n"), lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = F.when(n_words > 0, alpha_words / n_words).otherwise(
        F.lit(0.0)
    )
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_word_ratio"),
        F.round(bullet_lines / n_lines, 6).alias("bullet_line_frac"),
        F.round(ellipsis_lines / n_lines, 6).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
    )
    return out.withColumn(
        "passes",
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & (F.col("mean_word_len") >= GOPHER_MIN_MEAN_WORD_LEN)
        & (F.col("mean_word_len") <= GOPHER_MAX_MEAN_WORD_LEN)
        & (F.col("symbol_word_ratio") <= GOPHER_MAX_SYMBOL_WORD_RATIO)
        & (F.col("bullet_line_frac") <= GOPHER_MAX_BULLET_LINE_FRAC)
        & (F.col("ellipsis_line_frac") <= GOPHER_MAX_ELLIPSIS_LINE_FRAC)
        & (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_WORD_FRAC),
    )


# C4 cleaning bounds (Raffel et al. 2020 §2.2): line kept iff it ends
# in terminal punctuation, has ≥ 5 words, and doesn't mention
# javascript; page kept iff ≥ 3 sentences survive and it contains
# neither "lorem ipsum" nor a curly brace.
C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
_C4_TERMINAL_RE = r'[.!?"]\s*$'
_C4_MIN_WORDS_RE = r"^\s*(\S+\s+){%d}\S" % (C4_MIN_LINE_WORDS - 1)
_C4_JS_RE = r"(?i)javascript"


def c4_rules(docs: DataFrame, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """C4-style web-text cleaning signals (Raffel et al. 2020 §2.2) —
    the other canonical raw-web curation pass next to ``gopher_rules``,
    and like it one narrow scan of pure column expressions (no Python,
    no shuffle — linear at any scale):

    - line-level: keep lines ending in terminal punctuation
      (``. ! ? "``), with ≥ {C4_MIN_LINE_WORDS} words, not mentioning
      javascript → ``n_kept_lines`` / ``kept_chars``
    - page-level: ``n_sentences`` (terminal marks in the kept text),
      ``has_lorem_ipsum``, ``has_brace`` (the paper drops any page
      with source code's '{')
    - ``passes``: ≥ {C4_MIN_SENTENCES} sentences and neither page flag

    The reference has no web-cleaning pass (its corpus is parsed
    documents); this is the LLM-curation extension for raw-web data.
    The paper's remaining steps are separate operators here: bad-word
    filtering → ``flagged_words``, three-sentence dedup →
    ``dup_ngram_fraction``/``winnow_fp``."""
    docs = fan_out(docs)
    t = F.col(text_col)
    lines = F.split(t, "\n")
    kept = F.filter(
        lines,
        lambda l: l.rlike(_C4_TERMINAL_RE)
        & l.rlike(_C4_MIN_WORDS_RE)
        & ~l.rlike(_C4_JS_RE),
    )
    kept_text = F.array_join(kept, "\n")
    n_sentences = F.length(kept_text) - F.length(
        F.regexp_replace(kept_text, r"[.!?]", "")
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        F.length(kept_text).cast("long").alias("kept_chars"),
        n_sentences.cast("long").alias("n_sentences"),
        F.lower(t).contains("lorem ipsum").alias("has_lorem_ipsum"),
        t.contains("{").alias("has_brace"),
    ).withColumn(
        "passes",
        (F.col("n_sentences") >= C4_MIN_SENTENCES)
        & ~F.col("has_lorem_ipsum")
        & ~F.col("has_brace"),
    )


# Flagged-word filter (the bad-word step C4 §2.2 applies before every
# other heuristic, and Dolma's flagged-word RATIO refinement — Raffel
# et al. 2020; Soldaini et al. 2024). The word list is a deployment
# input (the published LDNOOBW list in production); the default here
# is a small fixture list drawn from the synthetic corpus vocabulary
# so the operator's branches are exercised end-to-end. Two decisions
# ship because the two recipes differ: C4 drops a page on ANY hit
# (``any_flagged``), Dolma drops above a ratio (``passes``).
FLAGGED_WORDS: tuple[str, ...] = ("slow", "legacy", "deprecated")
FLAGGED_MAX_FRAC = 0.05


def flagged_words(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  words: tuple[str, ...] = FLAGGED_WORDS,
                  max_frac: float = FLAGGED_MAX_FRAC) -> DataFrame:
    """Blocklist-word signals per document — one narrow scan of pure
    column expressions (no Python, no shuffle, linear at any scale):

    - ``n_words``: raw token count (lowercase → punctuation→space →
      whitespace split, stopwords KEPT — a bad-word ratio over a
      stopword-stripped denominator would overstate density)
    - ``n_flagged``: tokens in ``words`` (duplicates counted —
      ``array_intersect`` would dedupe)
    - ``flagged_frac``: 6dp-rounded ratio (0.0 for empty docs)
    - ``any_flagged``: the C4 §2.2 page-drop rule
    - ``passes``: the Dolma ratio rule ``flagged_frac <= max_frac``

    The blocklist rides into the plan as a literal IN-list: at any
    realistic list size (LDNOOBW ~400 terms) that's still a codegen'd
    set probe per token, never a join. ``c4_rules`` delegates this
    step here (its docstring's "bad-word filtering" pointer)."""
    docs = fan_out(docs)
    toks = raw_tokens(F.col(text_col))
    n_words = F.size(toks)
    n_flagged = F.size(F.filter(toks, lambda t: t.isin(*words)))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_words.cast("long").alias("n_words"),
        n_flagged.cast("long").alias("n_flagged"),
        F.round(
            F.when(n_words > 0, n_flagged / n_words).otherwise(F.lit(0.0)), 6
        ).alias("flagged_frac"),
        (n_flagged > 0).alias("any_flagged"),
    ).withColumn("passes", F.col("flagged_frac") <= F.lit(max_frac))


# Gopher repetition bounds (Rae et al. 2021 §A1.1): duplicate-line
# fractions, most-frequent-2-gram char coverage, duplicated-5-gram
# char coverage. Char coverage counts every occurrence times the
# gram's non-space length — the engine-defined reading of the paper's
# "fraction of characters contained within" (occurrence overlaps are
# not collapsed), mirrored exactly by the SQL twin.
GOPHER_MAX_DUP_LINE_FRAC = 0.30
GOPHER_MAX_DUP_LINE_CHAR_FRAC = 0.20
GOPHER_MAX_TOP_2GRAM_CHAR_FRAC = 0.20
GOPHER_MAX_DUP_5GRAM_CHAR_FRAC = 0.15


def repetition_signals(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Gopher-style WITHIN-document repetition filters (Rae et al.
    2021 §A1.1) — the complement of ``gopher_rules``' shape signals
    and ``dup_ngram_fraction``'s cross-document metric:

    - ``dup_line_frac`` / ``dup_line_char_frac``: repeated non-empty
      lines by count and by character mass — pure array expressions,
      zero shuffle.
    - ``top_2gram_char_frac``: characters covered by the most frequent
      word 2-gram.
    - ``dup_5gram_char_frac``: characters covered by word 5-grams
      occurring more than once.
    - ``passes``: conjunction of the published bounds.

    Plan: line signals stay in the codegen scan; each gram size
    explodes as PLAIN STRING rows tagged with a literal n, unioned
    into ONE groupBy(doc_id, n, gram) (uniform composite key, map-side
    partial agg) → per-doc rollup. Per-doc key-spaces are bounded by
    document length, so no skew handling is needed at any corpus
    scale. (Measured: exploding one concatenated array-of-structs
    instead of the tagged-string union was 5× slower at sf0.1 — the
    struct generator falls out of cheap whole-stage codegen.)"""
    docs = fan_out(docs)
    t = F.col(text_col)
    lines = F.filter(
        F.split(t, "\n"), lambda l: F.length(F.trim(l)) > 0
    )
    dlines = F.array_distinct(lines)
    chars_of = lambda arr: F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    toks = F.filter(
        F.split(F.trim(F.lower(t)), SPLIT_RE),
        lambda x: F.length(x) > 0,
    )

    def grams(n):
        return F.when(
            F.size("__toks") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice("__toks", i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).alias("n_lines"),
        F.size(dlines).alias("n_dlines"),
        chars_of(lines).alias("line_chars"),
        chars_of(dlines).alias("dline_chars"),
        toks.alias("__toks"),
    ).withColumn("tok_chars", chars_of(F.col("__toks")))
    gram_rows = lambda n: base.select(
        "doc_id", F.lit(n).alias("n"), F.explode(grams(n)).alias("g")
    )
    counts = (
        gram_rows(2).unionByName(gram_rows(5))
        .groupBy("doc_id", "n", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "gchars",
            F.col("cnt") * F.length(F.regexp_replace("g", " ", "")),
        )
    )
    rollup = counts.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 2, F.col("gchars"))).alias("top2"),
        F.sum(
            F.when((F.col("n") == 5) & (F.col("cnt") > 1), F.col("gchars"))
        ).alias("dup5"),
    )
    frac = lambda num, den: F.round(
        F.when(den > 0, num / den).otherwise(F.lit(0.0)), 6
    )
    out = (
        base.drop("__toks")
        .join(rollup, "doc_id", "left")
        .select(
            "doc_id",
            frac(F.col("n_lines") - F.col("n_dlines"),
                 F.col("n_lines")).alias("dup_line_frac"),
            frac(F.col("line_chars") - F.col("dline_chars"),
                 F.col("line_chars")).alias("dup_line_char_frac"),
            frac(F.coalesce("top2", F.lit(0)),
                 F.col("tok_chars")).alias("top_2gram_char_frac"),
            frac(F.coalesce("dup5", F.lit(0)),
                 F.col("tok_chars")).alias("dup_5gram_char_frac"),
        )
    )
    return out.withColumn(
        "passes",
        (F.col("dup_line_frac") <= GOPHER_MAX_DUP_LINE_FRAC)
        & (F.col("dup_line_char_frac") <= GOPHER_MAX_DUP_LINE_CHAR_FRAC)
        & (F.col("top_2gram_char_frac") <= GOPHER_MAX_TOP_2GRAM_CHAR_FRAC)
        & (F.col("dup_5gram_char_frac") <= GOPHER_MAX_DUP_5GRAM_CHAR_FRAC),
    )


# Fixture corpus for the C4 oracle entry — the synthetic documents
# table is single-line word soup with no terminal punctuation, so
# every line rule would trivially reject it; these pages fire each
# branch (same pattern as redaction.PII_FIXTURES). Lines are stored
# unjoined so the SQL twin can rebuild the text via chr(10) concat.
# Apostrophe-free for SQL VALUES embedding.
C4_FIXTURES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (1, ("This first sentence has more than five words and ends well.",
         "Short line.",
         "Another full sentence with plenty of words to keep here!",
         "And a third proper sentence survives the cleaning pass.")),
    (2, ("Navigation menu items without any terminal punctuation",
         "Enable javascript to view this page properly today.",
         "A real sentence with enough words stays in the corpus.")),
    (3, ("Lorem ipsum dolor sit amet is boilerplate filler text.",
         "A normal sentence that would otherwise have been kept.")),
    (4, ("function init() { return 42; } is code, not prose.",
         "This sentence is long enough and punctuated correctly.")),
    (5, ("Only one good sentence lives on this sparse page today.",)),
    (6, ("", "   ", "tiny.")),
    (7, ('He said "the quoted ending counts as terminal too."',
         "Numbers like 1 2 3 4 5 6 are still words, okay?",
         "Third proper sentence pushes this page over the bar.")),
    (8, ("one two three four five.",
         "one two three four.",
         "a b c d e f g h?")),
)


def c4_fixtures_df(spark) -> DataFrame:
    return local_frame(
        spark,
        [(d, "\n".join(lines)) for d, lines in C4_FIXTURES],
        "doc_id long, text string",
    )


def c4_fixtures_values_sql() -> str:
    rows = ", ".join(
        "({}, {})".format(
            d,
            " || chr(10) || ".join(
                "'{}'".format(line.replace("'", "''")) for line in lines
            ),
        )
        for d, lines in C4_FIXTURES
    )
    return f"(SELECT * FROM (VALUES {rows}) AS v(doc_id, text))"


# Benchmark decontamination defaults: the pseudo-eval set is the
# deterministic doc_id < DECON_BENCH_MAX slice (stand-in for a real
# benchmark table — swap the filter for a join against it); 8-gram
# overlap with a 10% flag threshold follows the published
# GPT-3/Llama-style n-gram decontamination recipes.
DECON_BENCH_MAX = 20
DECON_NGRAM = 8
DECON_THRESHOLD = 0.10


def decontaminate(
    docs: DataFrame,
    bench_docs: DataFrame | None = None,
    bench_max: int = DECON_BENCH_MAX,
    n: int = DECON_NGRAM,
    threshold: float = DECON_THRESHOLD,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents whose word
    ``n``-gram overlap with a (small) evaluation set exceeds
    ``threshold`` — the step that keeps eval answers out of a training
    mix. Tokenization matches ``dup_ngram_fraction`` exactly.

    The eval set is ``bench_docs`` (any DataFrame with ``text_col`` —
    a real benchmark table); every row of ``docs`` is then probed.
    When ``bench_docs`` is None, the deterministic ``doc_id <
    bench_max`` slice of ``docs`` stands in (the oracle's fixture) and
    those benchmark rows are excluded from the probed corpus.

    Scale design: the benchmark gram set is tiny next to the corpus,
    so it is the BROADCAST side of the membership join — the corpus
    never shuffles for the probe; the only wide op is the per-doc
    rollup keyed on doc_id (map-side partial aggs). At 100 TB this is
    a scan + broadcast hash join, linear in the corpus.

    Output: (doc_id, n_ngrams, n_hits, contam_frac, is_contaminated)
    for every probed document.
    """
    raw_docs = docs  # keep-side join is pruned to doc_id — no fan_out
    docs = fan_out(docs)

    def _gram_rows(df: DataFrame, df_id_col: str) -> DataFrame:
        toks = F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), SPLIT_RE),
            lambda t: F.length(t) > 0,
        )
        ngrams = F.when(
            F.size("__toks") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice("__toks", i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return df.select(
            F.col(df_id_col).alias("doc_id"), toks.alias("__toks")
        ).select("doc_id", F.explode(ngrams).alias("ng"))

    ng_rows = _gram_rows(docs, id_col)
    if bench_docs is not None:
        bench_src = _gram_rows(bench_docs, id_col)
        corpus = ng_rows
        keep = raw_docs.select(F.col(id_col).alias("doc_id"))
    else:
        bench_src = ng_rows.filter(F.col("doc_id") < bench_max)
        corpus = ng_rows.filter(F.col("doc_id") >= bench_max)
        keep = raw_docs.select(F.col(id_col).alias("doc_id")).filter(
            F.col("doc_id") >= bench_max
        )
    bench_grams = (
        bench_src.select("ng").distinct().withColumn("__hit", F.lit(1))
    )
    per_doc = (
        corpus.join(F.broadcast(bench_grams), "ng", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hits"),
        )
    )
    return (
        keep.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0))
            .cast("bigint")
            .alias("n_ngrams"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.when(
                    F.col("n_ngrams") > 0,
                    F.col("n_hits") / F.col("n_ngrams"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("contam_frac"),
        )
        .withColumn(
            "is_contaminated", F.col("contam_frac") >= threshold
        )
    )


# salt fan-out for the two-phase per-source top-k: a source is split
# into this many deterministic buckets for the partial rank, bounding
# any single task to ~1/32 of the biggest source
DOMAIN_CAP_SALTS = 32


def domain_cap(docs: DataFrame, per_source: int = 10,
               id_col: str = "doc_id", text_col: str = "text",
               source_col: str = "source") -> DataFrame:
    """Per-source quota capping (domain balancing): keep the top
    ``per_source`` documents of each source by quality score — the
    Common-Crawl-style curation step that stops one domain from
    dominating a training mix.

    Ranking uses the ROUNDED q_score (ties broken by doc_id), so the
    cut is deterministic and engine-independent.

    Two-phase top-k so a skewed giant source never funnels through one
    task: phase 1 ranks within (source, salt) buckets — salt is a
    deterministic hash of the doc id, so each bucket holds ~1/NSALTS of
    the source — and keeps each bucket's top ``per_source``. Any row in
    the true source top-k is in its bucket's top-k, so phase 2's exact
    window runs over ≤ NSALTS × per_source rows per source: bounded
    regardless of source size. Exactness vs the single-window form is
    pinned by unit test (tests/test_pipeline_text.py).

    r18: ``source`` rides THROUGH the doc_quality projection (a pure
    per-row expression bank) instead of joining the scores back to a
    second corpus scan on doc_id — the join cost two exchanges + a
    sort-merge join and doubled the scan; now the plan is one scan
    into the two ranking windows."""
    joined = doc_quality(docs, id_col, text_col, keep=(source_col,)).select(
        "doc_id", F.col(source_col).alias("source"), "q_score"
    )
    salt = F.crc32(F.col("doc_id").cast("string")) % DOMAIN_CAP_SALTS
    w1 = Window.partitionBy("source", "salt").orderBy(
        F.desc("q_score"), F.asc("doc_id")
    )
    survivors = (
        joined.withColumn("salt", salt)
        .withColumn("bucket_rank", F.row_number().over(w1))
        .filter(F.col("bucket_rank") <= per_source)
        .drop("salt", "bucket_rank")
    )
    w2 = Window.partitionBy("source").orderBy(
        F.desc("q_score"), F.asc("doc_id")
    )
    return (
        survivors.withColumn(
            "rank_in_source", F.row_number().over(w2).cast("long")
        )
        .filter(F.col("rank_in_source") <= per_source)
        .select("doc_id", "source", "q_score", "rank_in_source")
    )


def stratified_sample(docs: DataFrame,
                      fractions: dict[str, float] | None = None,
                      seed: int = 42,
                      id_col: str = "doc_id",
                      text_col: str = "text",
                      deterministic: bool = False) -> DataFrame:
    """Quality-stratified corpus sampling — the mixing step of a
    training-data pipeline: keep all high-tier text, down-sample the
    middle, drop the garbage tier.

    Two modes, both one scan with per-row draws (no shuffle; at 100 TB
    the sample streams out at scan speed):

    - ``deterministic=False``: ``sampleBy`` on the quality tier —
      seeded Bernoulli draws whose outcome depends on the partition
      split, so verification is statistical (per-tier rates within
      binomial bounds, tests/test_pipeline_text.py).
    - ``deterministic=True``: content-hash sampling — keep a row iff
      its md5-derived 60-bit hash of ``seed:doc_id`` falls below
      ``fraction × 2^60``. The keep set is a pure function of the ids
      (stable across partitioning, engines, and reruns — the
      reproducible-pipeline form used when a 100 TB sample must be
      re-derivable), and exactly reproducible by the DuckDB oracle
      via the same integer threshold (``oracles.stratified_sample_sql``).
    """
    if fractions is None:
        fractions = {"high": 1.0, "medium": 0.5, "low": 0.1, "garbage": 0.0}
    dq = doc_quality(docs, id_col, text_col).select("doc_id", "tier")
    keyed = docs.select(F.col(id_col).alias("doc_id")).join(dq, "doc_id")
    if not deterministic:
        return keyed.sampleBy("tier", fractions, seed)
    # 60-bit uniform key from md5 (same construction as dedup.py: Spark
    # conv(substr(md5(x),1,15),16,10) == DuckDB ('0x'||substr(..))::BIGINT);
    # thresholds stay in exact integer space — no float round-trip.
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(str(seed)),
                              F.col("doc_id").cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    thr = None
    for tier, frac in fractions.items():
        lim = F.lit(int(frac * (1 << 60)))
        cond = F.col("tier") == tier
        thr = F.when(cond, lim) if thr is None else thr.when(cond, lim)
    return (
        keyed.withColumn("_h", h)
        .filter(F.col("_h") < thr)
        .select("doc_id", "tier")
    )


TEMP_BUDGET_FRAC = 0.5  # char budget as a fraction of the corpus
TEMP_SEED = 7


def temperature_sample(docs: DataFrame,
                       budget_frac: float = TEMP_BUDGET_FRAC,
                       seed: int = TEMP_SEED,
                       id_col: str = "doc_id",
                       source_col: str = "source",
                       size_col: str = "n_chars") -> DataFrame:
    """Temperature-based source mixing (τ = 2) — the multilingual /
    multi-source rebalancing step of a training-data pipeline: sample
    sources proportionally to size^(1/τ) instead of size, so small
    sources are up-weighted relative to their share and no single
    source dominates the mix (the standard temperature-sampling
    scheme from multilingual pretraining, exponent fixed at 1/2 so
    both engines evaluate it as IEEE-exact ``sqrt`` — fractional
    ``pow`` is not correctly rounded across libms).

    Per source s with total size n_s: share q_s = √n_s / Σ√n_t and
    keep rate r_s = min(1, B·q_s / n_s) with B = budget_frac × Σn_t.
    The Σ√ denominator is rounded to 6dp so both engines proceed from
    the identical double; every later op is an IEEE basic op on
    identical inputs, so the rates — and the integer keep thresholds
    floor(r_s·2^60) — are bit-identical cross-engine. Keep decisions
    reuse the ``stratified_sample`` content-hash construction (60-bit
    md5 key vs integer threshold: partition-stable, re-derivable).

    Scale: the rate table is one per-source rollup (map-side
    partials) broadcast back onto the corpus — the doc stream never
    shuffles; the keep filter is a scan-side predicate. Returns the
    per-source audit rollup (source, n_sz, n_docs, keep_rate,
    n_kept)."""
    per_src = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(size_col).alias("n_sz"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    denom = per_src.agg(
        F.round(
            F.sum(F.sqrt(F.col("n_sz").cast("double"))), 6
        ).alias("denom"),
        F.sum("n_sz").cast("double").alias("total"),
    )
    rates = (
        per_src.crossJoin(F.broadcast(denom))
        .select(
            "source", "n_sz", "n_docs",
            F.least(
                F.lit(1.0),
                F.lit(budget_frac)
                * F.col("total")
                * F.sqrt(F.col("n_sz").cast("double"))
                / F.col("denom")
                / F.col("n_sz").cast("double"),
            ).alias("rate"),
        )
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(str(seed)),
                              F.col(id_col).cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    kept = (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.col(source_col).alias("source"))
        .join(F.broadcast(rates.select("source", "rate")), "source")
        .withColumn("_h", h)
        .filter(
            F.col("_h")
            < F.floor(F.col("rate") * F.lit(float(1 << 60))).cast("long")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_sz").cast("bigint").alias("n_sz"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.round("rate", 6).alias("keep_rate"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


# corpus-wide n-gram heavy hitters: trigram phrases, top-50 by count
FREQ_NGRAM_N = 3
FREQ_NGRAM_TOP = 50


def frequent_ngrams(docs: DataFrame, n: int = FREQ_NGRAM_N,
                    top: int = FREQ_NGRAM_TOP,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Corpus-wide heavy hitters: the ``top`` word ``n``-grams by total
    occurrence count (ties broken lexicographically), with the number
    of distinct documents each appears in. The data-quality probe that
    surfaces boilerplate headers/footers and template phrases worth a
    cleaning rule. Tokenization matches ``dup_ngram_fraction`` exactly
    (trim → lower → whitespace split).

    Scale design: the occurrence count is a plain groupBy(ngram) —
    hot keys (exactly the heavy hitters we want) are absorbed by
    map-side partial aggregation, so skew is harmless; the doc count
    is a two-phase distinct on (ngram, doc_id). The final top-k is a
    sort-limit — Spark plans TakeOrderedAndProject: per-partition
    heaps of ``top`` rows merged on the driver, never a global sort.
    """
    docs = fan_out(docs)
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), SPLIT_RE),
        lambda t: F.length(t) > 0,
    )
    ngrams = F.when(
        F.size("__toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice("__toks", i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ng_rows = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
        .select("doc_id", F.explode(ngrams).alias("ng"))
    )
    return (
        ng_rows.groupBy("ng")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("ng"))
        .limit(top)
    )


DUP_SPAN_N = 5  # same n-gram order as dup_ngram_fraction


def _dup_span_islands(docs: DataFrame, n: int,
                      id_col: str, text_col: str) -> DataFrame:
    """Merged duplication spans per document —
    (doc_id, n_tokens, s, e) token intervals covered by any word
    n-gram that also appears in at least one OTHER document, merged
    into maximal islands (running-max-end window merge). Shared core
    of ``dup_spans`` (the audit) and ``cut_dup_spans`` (the rewrite).

    Plan (r18, single-pass): one codegen projection builds
    (position, n-gram) pairs, ONE explode, then a window over ``ng``
    computes min/max doc_id per gram — ``min != max`` ⟺ cross-document
    duplicate — followed by the classic running-max-end island merge
    per document (two windows and a rollup keyed doc_id). The r17
    shape evaluated the gram stream twice (groupBy(ng) count_distinct
    + sort-merge join back on ng): two tokenize scans, two gram-stream
    exchanges; the window form is one of each. Hot n-grams buffer in
    one window partition (spillable) — the same rows the old plan
    funneled through one SMJ partition. The doc_id window partitions
    are single documents — bounded by document length, never
    corpus-sized.
    """
    docs = fan_out(docs)
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), SPLIT_RE),
        lambda t: F.length(t) > 0,
    )
    grams = F.when(
        F.size("__toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.concat_ws(" ", F.slice("__toks", i, n)).alias("ng"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,ng:string>>"))
    rows = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
        .select(
            "doc_id",
            F.size("__toks").alias("n_tokens"),
            F.explode(grams).alias("g"),
        )
        .select("doc_id", "n_tokens", "g.pos", "g.ng")
    )
    wng = Window.partitionBy("ng")
    dup = (
        rows.withColumn(
            "__dup",
            F.min("doc_id").over(wng) != F.max("doc_id").over(wng),
        )
        .filter(F.col("__dup"))
        .select(
            "doc_id",
            "n_tokens",
            F.col("pos").alias("s"),
            (F.col("pos") + F.lit(n - 1)).alias("e"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("s")
    prev_max_end = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = dup.withColumn(
        "__new",
        (prev_max_end.isNull() | (F.col("s") > prev_max_end)).cast("long"),
    ).withColumn(
        "grp",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return islands.groupBy("doc_id", "n_tokens", "grp").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )


def dup_spans(docs: DataFrame, n: int = DUP_SPAN_N,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Exact-substring duplication spans (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    public paper): per-doc count/coverage of the merged duplication
    islands (``_dup_span_islands``). Where ``dup_ngram_fraction``
    counts duplicated grams, this localizes them — the signal a
    pipeline needs to CUT the duplicated passage instead of dropping
    the doc."""
    spans = _dup_span_islands(docs, n, id_col, text_col)
    per_doc = spans.groupBy("doc_id", "n_tokens").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("covered"),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_spans", F.lit(0))
            .cast("bigint")
            .alias("n_dup_spans"),
            F.coalesce("covered", F.lit(0))
            .cast("bigint")
            .alias("covered_tokens"),
            F.round(
                F.coalesce(
                    F.col("covered") / F.col("n_tokens"), F.lit(0.0)
                ),
                6,
            ).alias("dup_span_frac"),
        )
    )


QUALITY_FILTER_P = 0.25  # drop the bottom quartile by composite score

# fixed-width q_score buckets of weighted_prefix (q_score lies in [0, 1])
PREFIX_BUCKETS = 1024


def weighted_prefix(scored: DataFrame, weight: Column,
                    descending: bool) -> DataFrame:
    """``scored`` (doc_id, q_score, ...) plus ``__prefix``, the EXACT
    running sum of ``weight`` up to and including each row under the
    total order (q_score, doc_id) — q_score descending when
    ``descending`` — and ``__total``, the sum over all rows.

    A global prefix sum without a single-partition window or a driver
    round trip: rows are bucketed by floor(q_score · PREFIX_BUCKETS),
    a monotone function of the score, so each bucket is a contiguous
    run of the order. The running sum is a window PARTITIONED by
    bucket, and each bucket's offset (the weight of every bucket
    before it) is a fold over the ≤ PREFIX_BUCKETS bucket sums,
    gathered on one row. Exactness needs only the monotonicity:
    a crowded bucket costs one larger window task, never a row. NULL
    scores go to bucket -1, which sorts where Spark puts NULLs (first
    ascending, last descending)."""
    bucket = F.floor(F.col("q_score") * PREFIX_BUCKETS)
    keyed = scored.withColumn("__b", F.coalesce(bucket, F.lit(-1))).withColumn(
        "__w", weight
    )
    order = F.desc("q_score") if descending else F.asc("q_score")
    run = Window.partitionBy("__b").orderBy(order, "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # every bucket sum on ONE row, so the offsets are a fold over it and
    # the input is read once for the sums (a self-join of the sums is
    # column-pruned into two different reads of the input)
    every = keyed.groupBy("__b").agg(F.sum("__w").alias("__bw")).agg(
        F.collect_list(F.struct("__b", "__bw")).alias("__all"),
        F.sum("__bw").alias("__total"),
    )
    b = F.col("__t.__b")
    offsets = every.select(F.explode("__all").alias("__t"), "*").select(
        b.alias("__b"),
        F.aggregate(
            "__all",
            F.lit(0).cast("long"),
            lambda acc, o: acc + F.when(
                o["__b"] > b if descending else o["__b"] < b, o["__bw"]
            ).otherwise(0),
        ).alias("__off"),
        "__total",
    )
    return (
        keyed.withColumn("__prefix", F.sum("__w").over(run))
        .join(F.broadcast(offsets), "__b")
        .withColumn("__prefix", F.col("__prefix") + F.col("__off"))
        .drop("__b", "__w", "__off")
    )


def quality_filter(docs: DataFrame, p: float = QUALITY_FILTER_P) -> DataFrame:
    """Percentile-threshold quality filtering: keep the top ``1 - p``
    of the corpus by composite quality score — the "drop the worst
    quartile" step of a training mix. The cutoff is DISCRETE: the
    ⌊N·p⌋ lowest-ranked documents under the total order
    (q_score asc, doc_id asc) are dropped, so ties at the boundary
    resolve identically in any engine — no interpolated quantile whose
    last-ulp float could flip a boundary document.

    One count + a bottom-k selection that Spark plans as
    TakeOrderedAndProject (per-partition heaps merged on the driver —
    no global sort) + a broadcast anti-join. k grows with the corpus;
    the curation pipeline takes the same cutoff at scale through
    :func:`quality_cut` instead.
    """
    import math

    scored = doc_quality(docs).select("doc_id", "q_score")
    # count the INPUT, not the scored projection: doc_quality is 1:1
    # per doc, and a bare parquet count is metadata-only while
    # scored.count() would execute the full quality scan just for N
    k = math.floor(docs.count() * p)
    bottom = (
        scored.orderBy("q_score", "doc_id").limit(k).select("doc_id")
    )
    return scored.join(F.broadcast(bottom), "doc_id", "left_anti")


def quality_cut(scored: DataFrame, p: float = QUALITY_FILTER_P) -> DataFrame:
    """``quality_filter``'s discrete cutoff as a flag, one lazy plan:
    (doc_id, q_score, keep) over ``scored`` (doc_id, q_score), where
    ``keep`` is False for the ⌊N·p⌋ lowest rows under (q_score asc,
    doc_id asc). A row is kept iff its running count under that order
    exceeds ⌊N·p⌋ (``weighted_prefix`` with weight 1), so the plan
    holds no bottom-k relation that grows with the corpus."""
    return weighted_prefix(scored, F.lit(1), descending=False).select(
        "doc_id",
        "q_score",
        (F.col("__prefix") > F.floor(F.col("__total") * p)).alias("keep"),
    )


TOKEN_BUDGET_FRAC = 0.6  # workload default: keep the best 60% of tokens


def token_budget_select(docs: DataFrame,
                        frac: float = TOKEN_BUDGET_FRAC) -> DataFrame:
    """Token-budget corpus selection: fill a budget of
    ``floor(frac · total_tokens)`` with the highest-quality documents —
    the global selection step of assembling a training corpus ("the
    best N tokens", not "the best N documents"). Selection order is the
    total order (q_score DESC, doc_id ASC) over the 6dp-rounded
    composite quality score, so the boundary is engine-identical; a
    document is kept iff the running token sum up TO AND INCLUDING it
    fits the budget (zero-token documents ride along for free, matching
    the prefix-sum definition on both engines). The budget itself is
    exact integer arithmetic — ``total · round(frac·1000) div 1000`` —
    because ``floor(total * 0.6)`` disagrees between binary floats and
    DuckDB's decimal literals whenever the product lands on an integer.

    The running sum is :func:`weighted_prefix` (per-bucket windows
    plus a bucket-offset table), so the plan is lazy, launches no job
    while building, and has no single-partition window."""
    t = F.col("text")
    scored = fan_out(docs).select(
        "doc_id",
        F.round(quality_score(t), 6).alias("q_score"),
        token_count_ws(t).cast("long").alias("n_tokens"),
    )
    num = round(frac * 1000)
    return (
        weighted_prefix(scored, F.col("n_tokens"), descending=True)
        .filter(F.col("__prefix") <= F.expr(f"__total * {num} div 1000"))
        .select("doc_id", "q_score", "n_tokens")
    )


VOCAB_SIZE = 512  # top-V tokens by corpus frequency


def vocab_oov(docs: DataFrame, vocab_size: int = VOCAB_SIZE,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Vocabulary-coverage probe for tokenizer prep: induce the top
    ``vocab_size`` tokens by corpus occurrence count (ties broken
    lexicographically — a total order, so the vocabulary set is
    engine-independent), then report each document's out-of-vocabulary
    rate. The pre-flight that estimates UNK rates before committing to
    a vocab size. Tokenization matches ``dup_ngram_fraction``.

    Scale design: the induction is one groupBy(token) with map-side
    partials plus a TakeOrderedAndProject top-V; the induced vocab is
    tiny by construction, so the coverage pass joins it BROADCAST —
    the corpus token stream never shuffles for the probe; the per-doc
    rollup keys on doc_id."""
    raw_docs = docs
    docs = fan_out(docs)
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), SPLIT_RE),
        lambda t: F.length(t) > 0,
    )
    tok_rows = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(toks).alias("tok")
    )
    vocab = (
        tok_rows.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("__in_vocab"))
    )
    per_doc = (
        tok_rows.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                (F.col("__in_vocab").isNull()).cast("long")
            ).alias("n_oov"),
        )
    )
    # join side pruned to doc_id: use the un-fanned scan (r17)
    return (
        raw_docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.col("n_oov") / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("oov_rate"),
        )
    )


LM_ALPHA = 0.5  # add-k smoothing mass per bigram type


def _lm_doc_bigrams(docs: DataFrame, id_col: str,
                    text_col: str) -> tuple[DataFrame, DataFrame]:
    """(token arrays, per-(doc, w1, w2) bigram multiplicities) — the
    shared front end of LM training and LM scoring. Bigrams form
    INSIDE the token array (a ``transform`` over the sliced array —
    no positional self-join, no shuffle to pair neighbors); the
    multiplicity rollup shrinks the stream before any model join."""
    docs = fan_out(docs)
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), SPLIT_RE),
        lambda t: F.length(t) > 0,
    )
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("t"))
    big = (
        base.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t)-1),"
                    " (x, i) -> struct(x AS w1, element_at(t, i+2) AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    per = big.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("m")
    )
    return base, per


def train_lm(docs: DataFrame, alpha: float = LM_ALPHA,
             id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Train the add-k-smoothed bigram LM over a corpus and return it
    as the persistable model table (w1, w2, lp) with
    lp = log((c(w1,w2)+k) / (ctx(w1)+k·V)) — exactly the per-bigram
    log-prob ``lm_score`` consumes, precomputed so the artifact can be
    written once per corpus (same persistence discipline as the BM25 /
    IVF / PageRank artifacts) and scoring becomes a single keyed join.
    lp round-trips parquet doubles bit-exactly, so
    ``lm_score(docs, model=read_back(train_lm(docs)))`` equals
    ``lm_score(docs)`` (unit-pinned).

    Scale: one corpus pass for bigram counts (map-side partials), the
    (w1) context rollup reuses the (w1, w2) aggregate's output, and
    the 1-row vocab size rides a broadcast cross join."""
    base, per = _lm_doc_bigrams(docs, id_col, text_col)
    cnt = per.groupBy("w1", "w2").agg(F.sum("m").alias("c"))
    ctx = cnt.groupBy("w1").agg(F.sum("c").alias("cx"))
    vsize = base.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").cast("double").alias("v")
    )
    lp = F.log(
        (F.col("c") + F.lit(alpha))
        / (F.col("cx") + F.lit(alpha) * F.col("v"))
    )
    return (
        cnt.join(ctx, "w1")
        .crossJoin(F.broadcast(vsize))
        .select("w1", "w2", lp.alias("lp"))
    )


def lm_score(docs: DataFrame, alpha: float = LM_ALPHA,
             id_col: str = "doc_id",
             text_col: str = "text",
             model: DataFrame | None = None) -> DataFrame:
    """Bigram-LM fluency score per document — the deterministic,
    self-trained stand-in for CCNet-style perplexity filtering
    (Wenzek et al. 2020: rank web text by LM perplexity, drop the
    worst tail). The model is an add-k-smoothed bigram LM induced from
    the corpus itself: P(w2|w1) = (c(w1,w2)+k) / (ctx(w1)+k·V), with
    ctx(w1) = Σ bigram counts starting at w1 and V = corpus distinct
    token count. Per doc: mean log-prob over its bigram occurrences
    and the corresponding perplexity exp(−mean). Tokenization matches
    ``vocab_oov``/``dup_ngram_fraction``.

    With ``model`` (a persisted ``train_lm`` artifact, read back from
    parquet) training is skipped entirely: scoring is ONE keyed join
    per→(w1, w2)→lp plus the doc_id rollup — the per-corpus model
    trains once, like every other derived index here. Without it the
    model is induced inline from ``docs`` (identical result,
    unit-pinned; two extra corpus-wide aggregations per call).

    Scale design: bigrams form INSIDE the token array (see
    ``_lm_doc_bigrams``); the per-(doc, w1, w2) multiplicity rollup
    shrinks the stream before the model join, and the final rollup
    keys on doc_id. The mean is computed in weighted form Σm·lp / Σm
    on BOTH engines so the two sides differ only in summation order
    (absorbed by the 6dp rounding); perplexity exponentiates the
    already-rounded mean."""
    if model is None:
        model = train_lm(docs, alpha, id_col, text_col)
    base, per = _lm_doc_bigrams(docs, id_col, text_col)
    # no fan_out on the docs side: pruned to doc_id for a join that
    # shuffles anyway — the round-robin exchange was pure cost (r17)
    rolled = (
        per.join(model, ["w1", "w2"])
        .select("doc_id", "m", (F.col("m") * F.col("lp")).alias("mlp"))
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.round(F.sum("mlp") / F.sum("m"), 6).alias("avg_logp"),
        )
    )
    # zero-bigram (empty / single-token) docs get NULL score, not a
    # best-possible ppl of 1.0 — a perplexity filter keeping the
    # lowest-ppl tail must not preferentially retain degenerate docs
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(rolled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.col("avg_logp"),
            F.round(F.exp(-F.col("avg_logp")), 6).alias("ppl"),
        )
    )


def contrastive_score(docs: DataFrame, in_docs: DataFrame,
                      alpha: float = LM_ALPHA,
                      id_col: str = "doc_id",
                      text_col: str = "text",
                      in_model: DataFrame | None = None,
                      base_model: DataFrame | None = None) -> DataFrame:
    """Moore-Lewis-style contrastive data selection signal (Moore &
    Lewis 2010: rank candidate text by in-domain vs general LM
    cross-entropy difference; the ancestor of DSIR-style importance
    weighting). Two add-k bigram LMs — one trained on the in-domain
    slice ``in_docs``, one on the whole corpus — score every document;
    ``ml_score = avg_logp_in − avg_logp_base`` ranks how much more
    in-domain-like than corpus-average each document reads. Positive =
    select first when filling a domain-targeted budget.

    Engine-defined deviation from the textbook form (same discipline
    as the other deterministic analogs here): each average runs over
    the bigrams PRESENT in that model (``lm_score``'s matched-bigram
    semantics — no backoff term), and ``in_coverage`` (matched
    fraction under the in-domain model) is emitted alongside, itself a
    strong domain signal. Both columns are exact and DuckDB-twinned.

    Scale: the corpus bigram stream forms ONCE (array-side, shared
    front end with ``lm_score``) and is traversed ONCE — both model
    lookups are left joins on the (w1, w2) key folded into a single
    doc_id rollup (one aggregation exchange, not one per model plus a
    totals pass); per-doc sums add the identical multiset of addends
    as the per-model rollup form, so the 6dp-rounded outputs are
    unchanged. Persisted models (``in_model``/``base_model`` read back
    from per-corpus artifacts) skip training entirely — the same
    artifact discipline as ``lm_perplexity``."""
    if base_model is None:
        base_model = train_lm(docs, alpha, id_col, text_col)
    if in_model is None:
        in_model = train_lm(in_docs, alpha, id_col, text_col)
    base, per = _lm_doc_bigrams(docs, id_col, text_col)

    scored = (
        per.join(
            in_model.select("w1", "w2", F.col("lp").alias("lp_in")),
            ["w1", "w2"], "left",
        )
        .join(
            base_model.select("w1", "w2", F.col("lp").alias("lp_base")),
            ["w1", "w2"], "left",
        )
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.sum(F.when(F.col("lp_in").isNotNull(), F.col("m")))
            .alias("m_in"),
            F.sum(F.col("m") * F.col("lp_in")).alias("s_in"),
            F.sum(F.when(F.col("lp_base").isNotNull(), F.col("m")))
            .alias("m_base"),
            F.sum(F.col("m") * F.col("lp_base")).alias("s_base"),
        )
    )
    # no fan_out: docs is pruned to doc_id for a join that shuffles
    # anyway — the round-robin exchange was pure cost (r17)
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.coalesce(F.col("m_in").cast("bigint"), F.lit(0))
                / F.greatest(F.coalesce("n_bigrams", F.lit(0)), F.lit(1)),
                6,
            ).alias("in_coverage"),
            F.round(F.col("s_in") / F.col("m_in"), 6).alias("avg_logp_in"),
            F.round(F.col("s_base") / F.col("m_base"), 6).alias(
                "avg_logp_base"
            ),
            F.round(
                F.round(F.col("s_in") / F.col("m_in"), 6)
                - F.round(F.col("s_base") / F.col("m_base"), 6),
                6,
            ).alias("ml_score"),
        )
    )


def cut_dup_spans(docs: DataFrame, n: int = DUP_SPAN_N,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Materialize the span-cut corpus: each document's token stream
    with every cross-document duplication island (``_dup_span_islands``)
    removed — the actual rewrite step of exact-substring dedup (Lee et
    al. 2022), where ``dup_spans`` is only the audit. Returns
    (doc_id, n_kept_tokens, clean_md5): the md5 stands in for the
    rewritten text so the result is hashable at any scale; the full
    text is one ``concat_ws`` away in the same plan.

    Plan (r18, fused single stream): ONE projection emits per-token
    structs (pos, tok, ng) — ng is the n-gram starting at pos, null
    for the last n-1 positions — and ONE explode produces the whole
    stream. A window over ng (min/max doc_id; tail rows get singleton
    synthetic keys so no corpus-wide null partition exists) marks
    cross-document dup STARTS, and a per-doc range-frame window marks
    coverage: position p is covered ⟺ some dup gram starts in
    [p-n+1, p] — exactly the union of the merged islands' [s, s+n-1]
    intervals, so island merging is unnecessary for the cut. The r17
    shape ran THREE corpus tokenize passes (gram stream ×2 inside
    _dup_span_islands + one posexplode) plus a sequence-explode of
    covered positions and a corpus-wide LEFT ANTI join; this is one
    pass and two exchanges (gram key, doc_id — the final rollup reuses
    the doc_id partitioning). Reassembly sorts each doc's kept
    (pos, token) pairs inside the aggregate (array_sort over a
    collect_list bounded by document length — never corpus-sized)."""
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), SPLIT_RE),
        lambda t: F.length(t) > 0,
    )
    entries = F.transform(
        F.col("__toks"),
        lambda t, i: F.struct(
            (i + F.lit(1)).cast("int").alias("pos"),
            t.alias("tok"),
            F.when(
                i < F.size("__toks") - (n - 1),
                F.concat_ws(" ", F.slice("__toks", i + F.lit(1), n)),
            ).alias("ng"),
        ),
    )
    stream = (
        fan_out(docs)
        .select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
        .select("doc_id", F.explode(entries).alias("g"))
        .select("doc_id", "g.pos", "g.tok", "g.ng")
    )
    # dup-start detection: same min!=max criterion as _dup_span_islands;
    # tail rows (ng IS NULL) partition by a per-row synthetic key — the
    # isNull flag column separates the namespaces, so a pathological
    # token equal to "doc#pos" can never collide with a real gram
    wng = Window.partitionBy(
        F.col("ng").isNull(),
        F.coalesce(
            F.col("ng"),
            F.concat_ws("#", F.col("doc_id"), F.col("pos")),
        ),
    )
    flagged = stream.withColumn(
        "__dup",
        (
            F.min("doc_id").over(wng) != F.max("doc_id").over(wng)
        ).cast("int"),
    )
    wdoc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rangeBetween(-(n - 1), 0)
    )
    kept = flagged.withColumn(
        "__covered", F.max("__dup").over(wdoc)
    ).filter(F.col("__covered") == 0)
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda x: x["tok"],
                ),
            )
        ).alias("clean_md5"),
    )
    empty_md5 = F.md5(F.lit(""))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_kept_tokens", F.lit(0))
            .cast("bigint")
            .alias("n_kept_tokens"),
            F.coalesce("clean_md5", empty_md5).alias("clean_md5"),
        )
    )


MIX_TOKEN_BUDGET = 1_300  # per-source token cap for the mixing fixture


def source_mix(docs: DataFrame, token_budget: int = MIX_TOKEN_BUDGET,
               source_col: str = "source",
               text_col: str = "text") -> DataFrame:
    """Data-mixing weights: per-source document/token totals and the
    uniform sampling weight that caps every source at ``token_budget``
    tokens — the "down-weight over-represented sources" step that turns
    corpus stats into a training-mix recipe (weights feed
    ``stratified_sample``-style keeps). Token counting matches
    ``token_stats``'s whitespace definition.

    One groupBy(source) with map-side partials over a single scan; the
    output is one row per source — tiny at any corpus scale."""
    per = fan_out(docs).groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_ws(F.col(text_col)))
        .cast("bigint")
        .alias("n_tokens"),
    )
    return per.select(
        source_col,
        "n_docs",
        "n_tokens",
        F.round(
            F.least(F.lit(1.0), F.lit(token_budget) / F.col("n_tokens")),
            6,
        ).alias("sample_weight"),
    )


def wrap_markup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Deterministic HTML-wrapped twin of the corpus — the fixture
    producer for ``strip_markup``'s oracle (same pattern as
    ``synthetic_regions``/``c4_fixtures``: both engines derive the
    identical markup from the same rows, so the stripper has real tags
    and entities to remove at ANY scale). Every inter-word space
    becomes a paragraph boundary plus a ``&nbsp;`` entity, so
    stripping must undo both to round-trip the text."""
    t = F.col(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        t.alias("original"),
        F.concat(
            F.lit('<div id="d'),
            F.col(id_col).cast("string"),
            F.lit('"><p>'),
            F.regexp_replace(t, " ", '&nbsp;</p><p class="x">'),
            F.lit("</p></div>"),
        ).alias("html"),
    )


# entity map applied AFTER tag removal, in fixed order
_MARKUP_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # last, so &amp;lt; does not double-decode
)


def strip_markup(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Markup stripping — the web-cleaning step upstream of the C4/
    Gopher rules: remove tags, decode the common entities, collapse
    whitespace. One codegen projection (regexp + chained replaces),
    no shuffle, linear at any scale.

    Output per page: tag count, cleaned text, and (when an
    ``original`` column is present) a round-trip flag — stripping the
    deterministic ``wrap_markup`` fixture must reproduce the original
    text exactly."""
    from rag_database_spark.functions.text import WS_CLASS

    cleaned = F.regexp_replace(F.col(html_col), "<[^>]+>", " ")
    for ent, rep in _MARKUP_ENTITIES:
        cleaned = F.replace(cleaned, F.lit(ent), F.lit(rep))
    cleaned = F.trim(
        F.regexp_replace(cleaned, rf"[{WS_CLASS}]+", " ")
    )
    out = pages.withColumn(
        "n_tags",
        F.size(
            F.regexp_extract_all(F.col(html_col), F.lit("<[^>]+>"), 0)
        ),
    ).withColumn("clean_text", cleaned)
    if "original" in pages.columns:
        out = out.withColumn(
            "round_trip",
            F.col("clean_text")
            == F.trim(
                F.regexp_replace(
                    F.col("original"), rf"[{WS_CLASS}]+", " "
                )
            ),
        )
        return out.select(
            "doc_id",
            "n_tags",
            F.md5("clean_text").alias("clean_md5"),
            "round_trip",
        )
    return out.select(
        "doc_id", "n_tags", F.md5("clean_text").alias("clean_md5")
    )


def decompose_fixture(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Deterministic decomposed-Unicode twin of the corpus (fixture
    producer for ``normalize_unicode``'s oracle): inject NFD sequences
    — e+COMBINING ACUTE, o+COMBINING DIAERESIS — after every matching
    letter, so normalization has real composition work in both engines
    at any scale."""
    t = F.col(text_col)
    deco = F.replace(
        F.replace(t, F.lit("e"), F.lit("e\u0301")),
        F.lit("o"),
        F.lit("o\u0308"),
    )
    return docs.select(F.col(id_col).alias("doc_id"), deco.alias("raw"))


def normalize_unicode(pages: DataFrame, id_col: str = "doc_id",
                      text_col: str = "raw") -> DataFrame:
    """Unicode NFC normalization — the canonicalization step upstream
    of hashing/dedup (decomposed and composed spellings of the same
    grapheme must fingerprint identically). Spark has no NFC builtin,
    so this is the documented Python slow path done right: one
    Arrow-batched ``mapInPandas`` scan (stdlib ``unicodedata``), no
    shuffle, linear at any scale — never a row-at-a-time UDF.

    Output: (doc_id, n_chars_raw, n_chars_nfc, nfc_md5) — the md5
    stands in for the normalized text so results stay hashable."""
    import pandas as pd

    schema = (
        "doc_id long, n_chars_raw bigint, n_chars_nfc bigint, "
        "nfc_md5 string"
    )

    def batches(it):
        import hashlib
        import unicodedata

        for pdf in it:
            norm = pdf[text_col].map(
                lambda s: unicodedata.normalize("NFC", s)
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_chars_raw": pdf[text_col].str.len().astype("int64"),
                    "n_chars_nfc": norm.str.len().astype("int64"),
                    "nfc_md5": norm.map(
                        lambda s: hashlib.md5(s.encode()).hexdigest()
                    ),
                }
            )

    return pages.mapInPandas(batches, schema)


# ---------------------------------------------------------------------------
# DSIR-style hashed n-gram importance selection
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024  # hashed-feature dimensionality
DSIR_ALPHA = 1.0     # Laplace smoothing mass per bucket


def _dsir_bucket_stream(docs: DataFrame, n_buckets: int,
                        id_col: str, text_col: str) -> DataFrame:
    """(doc_id, bucket) — one row per bigram OCCURRENCE, with the
    hashed-bucket id computed directly on the array-side bigram string
    (r17): the DSIR paths only ever consume bigrams through their
    bucket, so the (doc, w1, w2) multiplicity rollup that
    `_lm_doc_bigrams` feeds the LM/Moore-Lewis joins with is a wasted
    aggregation+exchange here — counting straight into (doc, bucket)
    halves the agg chain
    and narrows the shuffle key from two token strings to one int
    (guide §2.3/§2.4). Σ-equivalent: integer occurrence counts roll up
    to the same per-bucket totals bit-for-bit."""
    from rag_database_spark.operators.dedup import hash60

    docs = fan_out(docs)
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), SPLIT_RE),
        lambda t: F.length(t) > 0,
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t)-1),"
                    " (x, i) -> concat(x, ' ', element_at(t, i+2)))"
                )
            ).alias("bg"),
        )
        # same bytes as concat_ws(' ', w1, w2) on the struct form —
        # bigram tokens are non-empty and non-null by construction
        .select(
            "doc_id",
            (hash60(F.col("bg")) % F.lit(n_buckets)).alias("bucket"),
        )
    )


def train_dsir(docs: DataFrame, target_docs: DataFrame,
               n_buckets: int = DSIR_BUCKETS,
               alpha: float = DSIR_ALPHA,
               id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Train a DSIR-style importance model (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): hashed
    bigram features, per-bucket log importance ratio between the
    target distribution and the raw corpus,

        w(b) = ln((t_b + α) / (T + αB)) − ln((r_b + α) / (R + αB)),

    rounded to 9 dp (counts are integers, so the logs are
    bit-identical cross-engine and the rounding is belt-and-braces).
    Returns the persistable model table (bucket, w) plus one
    ``bucket = -1`` row carrying the unseen-bucket default weight —
    same artifact discipline as ``train_lm`` (persist once per corpus
    fingerprint; scoring is a single keyed join).

    Where Moore-Lewis (``contrastive_score``) contrasts two generative
    bigram LMs, DSIR is a multinomial importance ratio over a FIXED
    hashed feature space — the model is B rows regardless of vocab, so
    it broadcasts at any corpus scale.

    Scale: two corpus passes (bigram → bucket rollups with map-side
    partials), a B-row join, and two scalar totals on a broadcast
    cross join. B rows out."""
    raw_b = (
        _dsir_bucket_stream(docs, n_buckets, id_col, text_col)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("r"))
    )
    tgt_b = (
        _dsir_bucket_stream(target_docs, n_buckets, id_col, text_col)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("t"))
    )
    joined = (
        raw_b.join(tgt_b, "bucket", "full")
        .select(
            "bucket",
            F.coalesce("r", F.lit(0.0)).alias("r"),
            F.coalesce("t", F.lit(0.0)).alias("t"),
        )
    )
    # Spark resolves identifiers case-insensitively, so the totals
    # must not shadow the per-bucket r/t columns; coalesce keeps the
    # default weight finite (0.0) on an empty training corpus
    totals = joined.agg(
        F.coalesce(F.sum("r"), F.lit(0.0)).alias("tot_r"),
        F.coalesce(F.sum("t"), F.lit(0.0)).alias("tot_t"),
    )
    ab = float(alpha) * n_buckets

    def _w(t_col, r_col) -> F.Column:
        return F.round(
            F.log(
                (t_col + F.lit(float(alpha))) / (F.col("tot_t") + F.lit(ab))
            )
            - F.log(
                (r_col + F.lit(float(alpha))) / (F.col("tot_r") + F.lit(ab))
            ),
            9,
        )

    # the model carries its own feature dimensionality: scoring MUST
    # hash with the same B or every lookup silently misses into the
    # default weight — a foot-gun a parameter default can't guard
    weights = joined.crossJoin(F.broadcast(totals)).select(
        "bucket",
        _w(F.col("t"), F.col("r")).alias("w"),
        F.lit(n_buckets).cast("int").alias("n_buckets"),
    )
    default = totals.select(
        F.lit(-1).cast("long").alias("bucket"),
        _w(F.lit(0.0), F.lit(0.0)).alias("w"),
        F.lit(n_buckets).cast("int").alias("n_buckets"),
    )
    return weights.unionByName(default)


def dsir_score(docs: DataFrame, model: DataFrame,
               id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Per-document DSIR importance: mean hashed-bigram log importance
    ratio Σ m_b·w(b) / Σ m_b under a ``train_dsir`` model (read back
    from its per-corpus artifact — no training here). The feature
    dimensionality is read from the model itself (one 1-row lookup at
    plan-build time), so a hash-space mismatch between training and
    scoring is impossible by construction. Documents with zero bigrams
    score NULL (they carry no evidence either way; a selector must not
    default-admit them).

    Scale: bigrams form array-side (shared ``_lm_doc_bigrams`` front
    end), the per-(doc, bucket) rollup shrinks the stream before the
    B-row broadcast join, and the final rollup keys on doc_id."""
    default_row = model.filter(F.col("bucket") == -1).first()
    if default_row is None:
        raise ValueError(
            "dsir_score: model has no bucket=-1 default row — not a "
            "train_dsir artifact"
        )
    n_buckets = int(default_row["n_buckets"])
    perb = (
        _dsir_bucket_stream(docs, id_col=id_col, text_col=text_col,
                            n_buckets=n_buckets)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("m"))
    )
    default = model.filter(F.col("bucket") == -1).select(
        F.col("w").alias("w_def")
    )
    table = model.filter(F.col("bucket") >= 0)
    rolled = (
        perb.join(F.broadcast(table), "bucket", "left")
        .crossJoin(F.broadcast(default))
        .select(
            "doc_id", "m",
            (F.col("m") * F.coalesce("w", "w_def")).alias("mw"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.round(F.sum("mw") / F.sum("m"), 6).alias("avg_llr"),
        )
    )
    # no fan_out on the docs side: it is pruned to doc_id for a join
    # that shuffles anyway — the round-robin exchange was pure cost
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(rolled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint")
            .alias("n_bigrams"),
            "avg_llr",
        )
    )


# The uniform uses the TOP 52 bits of the 60-bit hash: h52 + 0.5 is
# exactly representable in a double (53-bit mantissa) and
# (h52 + 0.5) / 2^52 can therefore never round to 0.0 or 1.0 — at 60
# bits, hashes within 64 of 2^60 round u to exactly 1.0 and the Gumbel
# blows up to +inf (hypothesis-found edge, tests/test_properties.py).
DSIR_GUMBEL_SHIFT = 8
DSIR_GUMBEL_DENOM = float(1 << 52)


def dsir_resample_keys(docs: DataFrame, model: DataFrame,
                       seed: int = 42,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Gumbel keys for DSIR's actual selection rule — importance
    RESAMPLING, not top-N-by-score (Xie et al. 2023 sample with the
    Gumbel top-k trick): per document, key = total log importance
    weight + Gumbel(0,1) noise; the top-N keys are a weighted sample
    without replacement from softmax(llr_total).

    Determinism: the uniform is the top 52 bits of the 60-bit md5 of
    ``seed:doc_id`` mapped to (0,1) as (h52 + 0.5) / 2^52 — exactly
    representable, STRICTLY inside (0,1) for every hash (see
    DSIR_GUMBEL_SHIFT) — and the Gumbel is −ln(−ln(u)), one IEEE chain
    both engines replay bit-identically. llr_total uses the TOTAL Σ m·w (not the
    per-bigram mean): importance weights multiply per feature, so the
    log weight of a document is the sum — longer on-target documents
    legitimately carry more evidence.

    Zero-bigram documents get llr_total = 0 (no evidence) but still
    carry noise, so a resample can admit them at their prior rate —
    unlike the score-ranked selector, which excludes them.

    Scale: the same bucket rollup + B-row broadcast join as
    ``dsir_score``; the key is one projection."""
    default_row = model.filter(F.col("bucket") == -1).first()
    if default_row is None:
        raise ValueError(
            "dsir_resample_keys: model has no bucket=-1 default row — "
            "not a train_dsir artifact"
        )
    n_buckets = int(default_row["n_buckets"])
    perb = (
        _dsir_bucket_stream(docs, id_col=id_col, text_col=text_col,
                            n_buckets=n_buckets)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("m"))
    )
    default = model.filter(F.col("bucket") == -1).select(
        F.col("w").alias("w_def")
    )
    table = model.filter(F.col("bucket") >= 0)
    rolled = (
        perb.join(F.broadcast(table), "bucket", "left")
        .crossJoin(F.broadcast(default))
        .select(
            "doc_id", "m",
            (F.col("m") * F.coalesce("w", "w_def")).alias("mw"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.round(F.sum("mw"), 6).alias("llr_total"),
        )
    )
    from rag_database_spark.operators.dedup import hash60

    u = (
        F.shiftright(
            hash60(F.concat(F.lit(f"{seed}:"), F.col("doc_id"))),
            DSIR_GUMBEL_SHIFT,
        )
        + F.lit(0.5)
    ) / F.lit(DSIR_GUMBEL_DENOM)
    gumbel = -F.log(-F.log(u))
    # no fan_out on the docs side: it is pruned to doc_id for a join
    # that shuffles anyway — the round-robin exchange was pure cost
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(rolled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint")
            .alias("n_bigrams"),
            F.coalesce("llr_total", F.lit(0.0)).alias("llr_total"),
            F.round(
                F.coalesce("llr_total", F.lit(0.0)) + gumbel, 6
            ).alias("gumbel_key"),
        )
    )
