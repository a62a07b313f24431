"""Byte-pair-encoding tokenizer TRAINING and application, distributed.

Extends the engine's token accounting (``functions/text.py``
``token_count_bpe_ish``, reference ``src/storage/bm25_store.py:38-100``
tokenizer) from *counting* to *training*: the classic Sennrich et al.
2016 BPE procedure, re-expressed for Spark's execution model. A
training-data pipeline at 100 TB needs the tokenizer trained on the
corpus it will feed — this is that step.

Scale design (the part that matters at 100 TB):

- **Train on the word-frequency table, not the corpus.** The corpus is
  scanned ONCE (``word_counts``: explode + groupBy word). Every merge
  iteration thereafter touches only the distinct-word table — bounded
  by vocabulary (~10-100 M rows at web scale), orders of magnitude
  smaller than the corpus, and embarrassingly parallel.
- **One distributed aggregation per merge** (pair counts, map-side
  partials) + a 1-row argmax to the driver. The symbol rewrite is a
  pure column expression (``F.aggregate`` fold — JVM-side, no Python),
  and the table is ``localCheckpoint``ed each round so lineage stays
  flat instead of nesting K fold expressions.
- **Application is a broadcast/keyed join, never a re-derivation.** The
  trained (word → tokens) encode table is the persisted artifact;
  encoding a corpus costs explode + join on ``word`` + per-doc rollup.
  The merge loop never runs at query time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rag_database_spark.functions.text import raw_tokens
from rag_database_spark.sources.tables import local_frame

# end-of-word sentinel: cannot collide with corpus symbols (words are
# \w-only after the shared tokenizer's punctuation strip, so no '<',
# '/' or '>' survives into a word)
EOW = "</w>"

# default training size for the workload entries: big enough that
# multi-level merges form (merged symbols merging again), small enough
# that the one-time artifact build stays in the seconds range
DEFAULT_MERGES = 32
# ignore pairs rarer than this during training (Sennrich's min
# frequency guard; also caps artifact noise on tiny corpora)
DEFAULT_MIN_COUNT = 2


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the shared raw tokenizer (stopwords KEPT — a
    tokenizer trains on the text distribution, not the IR-filtered
    one). One corpus scan, one shuffle on ``word``."""
    return (
        docs.select(F.explode(raw_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def initial_symbols(word_col: Column) -> Column:
    """Character symbols + the end-of-word sentinel: 'low' →
    ['l','o','w','</w>']."""
    return F.concat(
        F.filter(F.split(word_col, ""), lambda c: F.length(c) > 0),
        F.array(F.lit(EOW)),
    )


def pair_counts(words: DataFrame, syms_col: str = "syms",
                cnt_col: str = "cnt") -> DataFrame:
    """(lhs, rhs, pair_count): adjacent-symbol pair frequencies over the
    word table, weighted by word count — the quantity BPE maximizes
    each merge. Pairs form INSIDE the symbol array (``transform`` with
    index), so the only exchange is the (lhs, rhs) aggregation with
    map-side partials."""
    syms = F.col(syms_col)
    pairs = F.transform(
        F.slice(syms, 1, F.greatest(F.size(syms) - 1, F.lit(0))),
        lambda s, i: F.struct(
            s.alias("lhs"), F.element_at(syms, i + 2).alias("rhs")
        ),
    )
    return (
        words.select(F.col(cnt_col).alias("cnt"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("cnt").alias("pair_count"))
    )


def pair_stats(docs: DataFrame, top_n: int = 100,
               text_col: str = "text") -> DataFrame:
    """Top-N initial symbol pairs over a corpus — merge step 0 of BPE
    training, as a standalone audit (what WOULD merge first). Ordered
    (pair_count DESC, lhs, rhs) with an exact tie-break so the top-N
    boundary is deterministic for the DuckDB oracle."""
    words = word_counts(docs, text_col).withColumn(
        "syms", initial_symbols(F.col("word"))
    )
    return (
        pair_counts(words)
        .orderBy(F.desc("pair_count"), "lhs", "rhs")
        .limit(top_n)
    )


def merge_pair(syms_col: Column, lhs: str, rhs: str) -> Column:
    """Apply ONE merge rule greedily left-to-right, as a pure fold —
    ['l','o','w','</w>'] under (o,w) → ['l','ow','</w>']. Non-overlapping
    by construction: a symbol produced by this rule is strictly longer
    than ``lhs`` and therefore never re-matches it within the pass."""
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(lhs))
            & (s == F.lit(rhs)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(lhs + rhs)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def train_bpe(docs: DataFrame, num_merges: int = DEFAULT_MERGES,
              min_count: int = DEFAULT_MIN_COUNT,
              text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """Learn ``num_merges`` BPE merges from a corpus. Returns
    ``(merges, encoded)``:

    - ``merges``: (rank, lhs, rhs, merged, pair_count) — the ordered
      merge list, i.e. the tokenizer model.
    - ``encoded``: (word, cnt, tokens) — every corpus word with its
      final BPE token sequence; THE artifact query-time encoding joins
      against (persist both; see ``__spark_entry__._bpe_artifacts``).

    Each iteration: one pair-count aggregation over the word table, a
    single-row argmax collected to the driver (deterministic tie-break
    count DESC, lhs, rhs), one fold rewrite, one ``localCheckpoint`` to
    keep lineage flat. Stops early when no pair reaches ``min_count``.
    """
    words = (
        word_counts(docs, text_col)
        .withColumn("syms", initial_symbols(F.col("word")))
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(num_merges):
        best = (
            pair_counts(words)
            .orderBy(F.desc("pair_count"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not best or best[0]["pair_count"] < min_count:
            break
        lhs, rhs = best[0]["lhs"], best[0]["rhs"]
        merges.append((rank, lhs, rhs, lhs + rhs, int(best[0]["pair_count"])))
        words = words.withColumn(
            "syms", merge_pair(F.col("syms"), lhs, rhs)
        ).localCheckpoint()
    spark = docs.sparkSession
    merges_df = local_frame(
        spark,
        merges,
        "rank int, lhs string, rhs string, merged string, pair_count bigint",
    )
    encoded = words.select(
        "word", "cnt", F.col("syms").alias("tokens")
    )
    return merges_df, encoded


def encode_docs(docs: DataFrame, encoded_words: DataFrame,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-document BPE statistics against the persisted encode table:
    (doc_id, n_words, n_bpe_tokens, avg_tokens_per_word). The corpus
    pays one explode + a (doc_id, word) rollup + one join keyed on
    ``word`` (the encode table is vocabulary-sized — broadcastable in
    most deployments, and AQE picks that up from its actual size);
    the merge loop never re-runs here. Words absent from the encode
    table (empty corpus slice) fall back to character count + 1
    (all-singles + EOW), keeping the encoder total — every word
    contributes, exactly like a real tokenizer's byte fallback."""
    per_word = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(raw_tokens(F.col(text_col))).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    enc = encoded_words.select(
        "word", F.size("tokens").alias("n_tok")
    )
    return (
        per_word.join(enc, "word", "left")
        .withColumn(
            "n_tok",
            F.coalesce(F.col("n_tok"), F.length("word") + F.lit(1)),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("n_tok")).cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.sum(F.col("n") * F.col("n_tok")) / F.sum("n"), 6
            ).alias("avg_tokens_per_word"),
        )
    )


def lang_fertility(docs: DataFrame, encoded_words: DataFrame,
                   id_col: str = "doc_id",
                   text_col: str = "text",
                   lang_col: str = "lang") -> DataFrame:
    """Per-language tokenizer fertility — the multilingual tokenizer
    audit (BLOOM/XLM-style): tokens-per-word by language exposes which
    languages the trained vocabulary serves poorly (high fertility =
    more tokens per word = that language pays more context budget and
    compute per sentence). One rollup of ``encode_docs``'s per-doc
    stats joined to the corpus language column:
    (lang, n_docs, n_words, n_bpe_tokens, fertility).

    Scale: everything heavy (the encode-table join, the per-doc word
    rollup) is the already-paid ``encode_docs`` plan; this adds one
    doc-keyed join and a rollup on the language key space. Documents
    with no tokens contribute no row to ``encode_docs`` and are
    excluded — fertility over zero words is undefined, not zero."""
    per_doc = encode_docs(docs, encoded_words, id_col, text_col).select(
        "doc_id", "n_words", "n_bpe_tokens"
    )
    langs = docs.select(
        F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")
    )
    return (
        per_doc.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_bpe_tokens") / F.sum("n_words"), 6
            ).alias("fertility"),
        )
    )
