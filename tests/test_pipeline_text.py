"""Hand-case tests for the training-pipeline text extensions:
duplicate-n-gram fraction and PII redaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_database_spark.operators import redaction
from rag_database_spark.operators.text_analytics import dup_ngram_fraction


def test_dup_ngram_fraction_hand_case(spark):
    # docs 1 and 2 share exactly one 5-gram ("a b c d e"); doc 3 is
    # too short to hold any 5-gram.
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),       # 5-grams: "a b c d e", "b c d e f"
            (2, "z a b c d e"),       # 5-grams: "z a b c d", "a b c d e"
            (3, "x y"),               # no 5-grams
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_dup_ngrams"], r["dup_frac"])
        for r in dup_ngram_fraction(docs).collect()
    }
    assert got == {1: (2, 1, 0.5), 2: (2, 1, 0.5), 3: (0, 0, 0.0)}


def test_dup_ngram_fraction_case_insensitive(spark):
    docs = spark.createDataFrame(
        [(1, "A B C D E"), (2, "a b c d e")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["dup_frac"]
        for r in dup_ngram_fraction(docs).collect()
    }
    assert got == {1: 1.0, 2: 1.0}


def test_redact_pii_counts_and_text(spark):
    rows = {
        r["doc_id"]: r
        for r in redaction.redact_pii(
            redaction.pii_fixtures_df(spark)
        ).collect()
    }
    # row 1: one email, one dashed phone
    assert rows[1]["n_email"] == 1 and rows[1]["n_phone"] == 1
    assert "[EMAIL]" in rows[1]["redacted"]
    assert "[PHONE]" in rows[1]["redacted"]
    # row 6: a dotted number is claimed by the earlier phone class,
    # never double-counted as an IPv4
    assert rows[6]["n_phone"] == 1 and rows[6]["n_ip"] == 0
    # row 7: clean doc passes through untouched
    assert rows[7]["redacted"] == redaction.PII_FIXTURES[6][1]
    assert all(
        rows[7][f"n_{name}"] == 0 for name, _, _ in redaction.PII_PATTERNS
    )
    # row 5: one of each of email/phone/ssn/ip
    assert (
        rows[5]["n_email"],
        rows[5]["n_ssn"],
        rows[5]["n_phone"],
        rows[5]["n_ip"],
    ) == (1, 1, 1, 1)


def test_redact_pii_no_matches_on_corpus_soup(spark):
    # the synthetic documents corpus is word soup — the scrub must be
    # a no-op there (guards against over-eager patterns)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = redaction.redact_pii(docs)
    from pyspark.sql import functions as F

    hits = out.agg(
        *[
            F.sum(f"n_{name}").alias(name)
            for name, _, _ in redaction.PII_PATTERNS
        ]
    ).collect()[0]
    assert all(hits[name] == 0 for name, _, _ in redaction.PII_PATTERNS)


def test_gopher_rules_hand_case(spark):
    from rag_database_spark.operators.text_analytics import gopher_rules

    long_good = " ".join(f"word{i}" for i in range(60))
    bullets = "\n".join("- item here" for _ in range(10))
    symbols = "# " * 30 + "text"
    docs = spark.createDataFrame(
        [
            (1, long_good),    # passes every bound
            (2, "too short"),  # n_words < 50
            (3, bullets),      # bullet_line_frac = 1.0 > 0.9
            (4, symbols),      # symbol ratio 30/31 > 0.1 (and short)
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_rules(docs).collect()}
    assert out[1]["passes"] and out[1]["n_words"] == 60
    assert not out[2]["passes"] and out[2]["n_words"] == 2
    assert not out[3]["passes"]
    assert out[3]["bullet_line_frac"] == 1.0
    assert not out[4]["passes"]
    assert out[4]["symbol_word_ratio"] > 0.9
    assert out[1]["alpha_word_frac"] == 1.0


def test_domain_cap_respects_quota_and_order(spark):
    from rag_database_spark.operators.text_analytics import domain_cap

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = domain_cap(docs, per_source=3).collect()
    by_source = {}
    for r in out:
        by_source.setdefault(r["source"], []).append(r)
    assert by_source and all(len(v) <= 3 for v in by_source.values())
    for rows in by_source.values():
        rows.sort(key=lambda r: r["rank_in_source"])
        scores = [r["q_score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert [r["rank_in_source"] for r in rows] == list(
            range(1, len(rows) + 1)
        )


def test_domain_cap_two_phase_matches_single_window(spark):
    """Exactness of the salted two-phase top-k vs the plain one-window
    formulation, on a skewed corpus (one source holds ~80% of docs)."""
    from pyspark.sql import Window

    from rag_database_spark.operators.text_analytics import (
        doc_quality,
        domain_cap,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .withColumn(
            "source",
            F.when(F.col("doc_id") % 5 < 4, F.lit("megasource")).otherwise(
                F.col("source")
            ),
        )
    )
    got = sorted(
        tuple(r) for r in domain_cap(docs, per_source=7).collect()
    )
    dq = doc_quality(docs).select("doc_id", "q_score")
    joined = docs.select("doc_id", "source").join(dq, "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.desc("q_score"), F.asc("doc_id")
    )
    exp = sorted(
        tuple(r)
        for r in joined.withColumn(
            "rank_in_source", F.row_number().over(w).cast("long")
        )
        .filter(F.col("rank_in_source") <= 7)
        .select("doc_id", "source", "q_score", "rank_in_source")
        .collect()
    )
    assert got == exp


def test_stratified_sample_rates_and_determinism(spark):
    from rag_database_spark.operators.text_analytics import (
        doc_quality,
        stratified_sample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    fr = {"high": 1.0, "medium": 0.5, "low": 0.1, "garbage": 0.0}
    tiers = {
        r["tier"]: r["n"]
        for r in doc_quality(docs).groupBy("tier").count()
        .withColumnRenamed("count", "n").collect()
    }
    got = {
        r["tier"]: r["n"]
        for r in stratified_sample(docs, fr).groupBy("tier").count()
        .withColumnRenamed("count", "n").collect()
    }
    for tier, frac in fr.items():
        n = tiers.get(tier, 0)
        k = got.get(tier, 0)
        if frac in (0.0, 1.0):
            assert k == int(n * frac), (tier, n, k)
        else:
            # 4-sigma binomial band
            import math

            sigma = math.sqrt(n * frac * (1 - frac))
            assert abs(k - n * frac) <= 4 * sigma + 1, (tier, n, k)
    # seeded: two runs in the same session agree exactly
    a = sorted(r["doc_id"] for r in stratified_sample(docs, fr).collect())
    b = sorted(r["doc_id"] for r in stratified_sample(docs, fr).collect())
    assert a == b


def test_stratified_sample_deterministic_mode(spark):
    """Hash mode: the keep set is a pure function of (seed, doc_id,
    tier) — invariant under repartitioning, tier-exact at the 0/1
    fraction extremes, within binomial bounds in between, and changes
    with the seed."""
    from rag_database_spark.operators.text_analytics import (
        doc_quality,
        stratified_sample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    fr = {"high": 1.0, "medium": 0.5, "low": 0.1, "garbage": 0.0}
    tiers = {
        r["tier"]: r["n"]
        for r in doc_quality(docs).groupBy("tier").count()
        .withColumnRenamed("count", "n").collect()
    }
    base = sorted(
        (r["doc_id"], r["tier"])
        for r in stratified_sample(docs, fr, deterministic=True).collect()
    )
    # partitioning must not affect the keep set (sampleBy's Bernoulli
    # draws DO shift with the split — that's exactly what this fixes)
    resharded = sorted(
        (r["doc_id"], r["tier"])
        for r in stratified_sample(
            docs.repartition(13), fr, deterministic=True
        ).collect()
    )
    assert base == resharded
    got = {}
    for _, tier in base:
        got[tier] = got.get(tier, 0) + 1
    assert got.get("high", 0) == tiers.get("high", 0)
    assert got.get("garbage", 0) == 0
    import math

    for tier in ("medium", "low"):
        n, frac = tiers.get(tier, 0), fr[tier]
        sigma = math.sqrt(n * frac * (1 - frac))
        assert abs(got.get(tier, 0) - n * frac) <= 4 * sigma + 1
    other_seed = sorted(
        (r["doc_id"], r["tier"])
        for r in stratified_sample(
            docs, fr, seed=7, deterministic=True
        ).collect()
    )
    assert other_seed != base


def test_c4_rules_fixture_outcomes(spark):
    """Hand-verified C4 page outcomes: only the clean multi-sentence
    pages pass; javascript/short/unpunctuated lines are dropped at the
    line level; lorem-ipsum and curly-brace pages fail page-level."""
    from rag_database_spark.operators.text_analytics import (
        c4_fixtures_df,
        c4_rules,
    )

    rows = {
        r["doc_id"]: r
        for r in c4_rules(c4_fixtures_df(spark)).collect()
    }
    assert {d for d, r in rows.items() if r["passes"]} == {1, 7}
    # page 1: the 2-word line is dropped, three sentences survive
    assert rows[1]["n_lines"] == 4
    assert rows[1]["n_kept_lines"] == 3
    assert rows[1]["n_sentences"] == 3
    # page 2: unpunctuated + javascript lines dropped, one survivor
    assert rows[2]["n_kept_lines"] == 1
    # page-level flags
    assert rows[3]["has_lorem_ipsum"] and not rows[3]["has_brace"]
    assert rows[4]["has_brace"] and not rows[4]["has_lorem_ipsum"]
    # page 6: nothing survives, zero-length kept text
    assert rows[6]["n_kept_lines"] == 0
    assert rows[6]["kept_chars"] == 0
    # page 7: a closing double-quote counts as terminal punctuation
    assert rows[7]["n_kept_lines"] == 3
    # page 8: the 4-word line is below the word floor
    assert rows[8]["n_kept_lines"] == 2


def test_repetition_signals_hand_case(spark):
    from rag_database_spark.operators.text_analytics import (
        repetition_signals,
    )

    # doc 1: "a b" repeated 5x -> top 2-gram "b a"/"a b" dominate;
    # every 5-gram occurs more than once
    rep = " ".join(["a b"] * 5)          # a b a b a b a b a b
    # doc 2: all-distinct words, no repeated lines
    uniq = "one two three four five six seven eight nine ten"
    # doc 3: duplicated lines
    lined = "dup line here\nunique line one\ndup line here\n\n"
    docs = spark.createDataFrame(
        [(1, rep), (2, uniq), (3, lined)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    # doc 1: 9 two-grams over 10 single-char tokens (10 chars); "a b"
    # occurs 5x -> 5*2=10 chars of coverage -> frac 1.0; all six
    # 5-grams are "ababa"/"babab" patterns occurring >1 -> dup5 frac
    # = 6*5/10 = 3.0 (overlapping occurrences counted, can exceed 1)
    assert out[1]["top_2gram_char_frac"] == 1.0
    assert out[1]["dup_5gram_char_frac"] == 3.0
    assert not out[1]["passes"]
    # doc 2: every 2-gram unique -> top covers 2 words of 10; no
    # duplicate 5-grams; single line not duplicated
    assert out[2]["dup_5gram_char_frac"] == 0.0
    assert out[2]["dup_line_frac"] == 0.0
    assert not out[2]["passes"]  # top 2-gram 8/43 > 0.2? compute below
    # doc 3: 3 non-empty lines, one repeated -> 1/3
    assert out[3]["dup_line_frac"] == round(1 / 3, 6)
    assert out[3]["dup_line_char_frac"] == round(13 / 41, 6)


def test_frequent_ngrams_hand_case(spark):
    from rag_database_spark.operators.text_analytics import frequent_ngrams

    docs = spark.createDataFrame(
        [
            (1, "the quick fox the quick fox jumps"),
            (2, "the quick fox appears again"),
            (3, "no overlap here at all"),
        ],
        "doc_id long, text string",
    )
    rows = frequent_ngrams(docs, n=3, top=3).collect()
    # (count desc, ngram asc) total order; "the quick fox" occurs 3x
    # across 2 docs, everything else once
    assert (rows[0]["ng"], rows[0]["n_occurrences"], rows[0]["n_docs"]) == (
        "the quick fox", 3, 2
    )
    assert rows[1]["n_occurrences"] == 1
    assert [r["ng"] for r in rows] == sorted(
        [r["ng"] for r in rows],
        key=lambda g: (-dict((x["ng"], x["n_occurrences"]) for x in rows)[g], g),
    )


def test_dup_spans_hand_case(spark):
    from rag_database_spark.operators.text_analytics import dup_spans

    docs = spark.createDataFrame(
        [
            # docs 1/2 share exactly one 5-gram ("a b c d e", pos 1)
            (1, "a b c d e f g h"),
            (2, "a b c d e z y x"),
            # docs 4/5 share two OVERLAPPING 5-grams → one merged span
            (4, "p q r s t u v"),
            (5, "p q r s t u w"),
            (3, "nothing shared with anybody else at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_dup_spans"], r["covered_tokens"], r["dup_span_frac"]
        )
        for r in dup_spans(docs, n=5).collect()
    }
    assert got[1] == (1, 5, pytest.approx(round(5 / 8, 6)))
    assert got[2] == (1, 5, pytest.approx(round(5 / 8, 6)))
    # [1,5] and [2,6] merge into [1,6]: 6 of 7 tokens covered
    assert got[4] == (1, 6, pytest.approx(round(6 / 7, 6)))
    assert got[5] == (1, 6, pytest.approx(round(6 / 7, 6)))
    assert got[3] == (0, 0, 0.0)


def test_dup_spans_disjoint_islands(spark):
    from rag_database_spark.operators.text_analytics import dup_spans

    # two shared trigrams separated by unique middles → two spans
    docs = spark.createDataFrame(
        [
            (1, "x y z unique1 filler1 middle1 a b c"),
            (2, "x y z unique2 filler2 middle2 a b c"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_dup_spans"], r["covered_tokens"])
        for r in dup_spans(docs, n=3).collect()
    }
    assert got[1] == (2, 6)  # spans [1,3] and [7,9]
    assert got[2] == (2, 6)


def test_quality_filter_drops_bottom_quartile(spark):
    from rag_database_spark.operators.text_analytics import (
        doc_quality, quality_filter,
    )

    texts = [
        (i, ("the quick brown fox jumps over the lazy dog " * (i + 1))[:400])
        for i in range(8)
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    kept = quality_filter(docs, p=0.25).collect()
    assert len(kept) == 6  # 8 - floor(8 * .25)
    all_scores = {
        r["doc_id"]: r["q_score"] for r in doc_quality(docs).collect()
    }
    kept_ids = {r["doc_id"] for r in kept}
    dropped = [
        (all_scores[i], i) for i in all_scores if i not in kept_ids
    ]
    # every dropped doc orders before every kept doc under
    # (q_score, doc_id)
    assert max(dropped) <= min((all_scores[i], i) for i in kept_ids)


def test_quality_cut_equals_quality_filter(spark):
    """quality_cut, the curation artifact's lazy cutoff, keeps exactly
    the rows quality_filter keeps — not one doc of drift, including
    under q_score ties at the boundary and at k = 0, 1 and n."""
    from rag_database_spark.operators.text_analytics import (
        doc_quality, quality_cut, quality_filter,
    )

    # 12 distinct lengths + 8 exact repeats of one text → heavy score
    # ties straddling the 25% boundary, resolved by doc_id
    texts = [
        (i, ("the quick brown fox jumps over the lazy dog " * (i + 1))[:500])
        for i in range(12)
    ] + [(100 + i, "tied tied tied identical text body here") for i in range(8)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    scored = doc_quality(docs).select("doc_id", "q_score")
    # n = 20: k = 5, 10, 1, 0, 20
    for p in (0.25, 0.5, 0.05, 0.0, 1.0):
        kept = {r["doc_id"] for r in quality_filter(docs, p=p).collect()}
        cut = {
            r["doc_id"]
            for r in quality_cut(scored, p).filter("keep").collect()
        }
        assert cut == kept, f"p={p}"


def test_quality_cut_edges(spark):
    from rag_database_spark.operators.text_analytics import quality_cut

    scored = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(9)], "doc_id long, q_score double"
    )

    def dropped(p):
        return {
            r["doc_id"]
            for r in quality_cut(scored, p).filter("NOT keep").collect()
        }

    assert dropped(0.0) == set()  # k = 0
    assert dropped(1.0) == set(range(9))  # k = n
    # k = ⌊9 · 0.12⌋ = 1: the global min tuple (0.0, 0)
    assert dropped(0.12) == {0}
    # k = 2 lands inside a tie run: doc_ids 0,3,6 share score 0.0
    assert dropped(0.23) == {0, 3}


def test_vocab_oov_hand_case(spark):
    from rag_database_spark.operators.text_analytics import vocab_oov

    docs = spark.createDataFrame(
        [
            (1, "aa aa aa bb bb cc"),
            (2, "aa bb dd"),
            (3, "ee ff"),
        ],
        "doc_id long, text string",
    )
    # counts: aa=4 bb=3 cc=1 dd=1 ee=1 ff=1 → top-3 = aa, bb, cc
    # (count desc then token asc breaks the 4-way tie at count 1)
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_rate"])
        for r in vocab_oov(docs, vocab_size=3).collect()
    }
    assert got[1] == (6, 0, 0.0)
    assert got[2] == (3, 1, pytest.approx(round(1 / 3, 6)))
    assert got[3] == (2, 2, 1.0)


def test_cut_dup_spans_hand_case(spark):
    import hashlib

    from rag_database_spark.operators.text_analytics import cut_dup_spans

    docs = spark.createDataFrame(
        [
            # share the trigram "a b c" at the START; tails differ
            (1, "a b c tail one here"),
            (2, "a b c other tail words"),
            (3, "untouched document stays whole"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_kept_tokens"], r["clean_md5"])
        for r in cut_dup_spans(docs, n=3).collect()
    }

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert got[1] == (3, md5("tail one here"))
    assert got[2] == (3, md5("other tail words"))
    assert got[3] == (4, md5("untouched document stays whole"))


def test_cut_dup_spans_fully_covered_doc(spark):
    import hashlib

    from rag_database_spark.operators.text_analytics import cut_dup_spans

    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "x y z")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_kept_tokens"], r["clean_md5"])
        for r in cut_dup_spans(docs, n=3).collect()
    }
    empty = hashlib.md5(b"").hexdigest()
    assert got == {1: (0, empty), 2: (0, empty)}


def test_source_mix_weights(spark):
    from rag_database_spark.operators.text_analytics import source_mix

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "big"),
            (2, "e f g h", "big"),       # big: 8 tokens
            (3, "only two", "small"),    # small: 2 tokens
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: (r["n_docs"], r["n_tokens"], r["sample_weight"])
        for r in source_mix(docs, token_budget=4).collect()
    }
    assert got["big"] == (2, 8, 0.5)     # capped: 4/8
    assert got["small"] == (1, 2, 1.0)   # under budget: uncapped


def test_strip_markup_hand_case(spark):
    from rag_database_spark.operators.text_analytics import strip_markup

    pages = spark.createDataFrame(
        [
            (1, '<html><body class="m"><h1>Title</h1>'
                '<p>hello&nbsp;world &amp; more</p><br/></body></html>'),
            (2, "no markup at   all"),
            (3, "&lt;tag&gt; is &quot;escaped&quot; &#39;here&#39;"),
        ],
        "doc_id long, html string",
    )
    got = {r["doc_id"]: r for r in strip_markup(pages).collect()}
    import hashlib

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert got[1]["n_tags"] == 9
    assert got[1]["clean_md5"] == md5("Title hello world & more")
    assert got[2]["n_tags"] == 0
    assert got[2]["clean_md5"] == md5("no markup at all")
    assert got[3]["n_tags"] == 0
    assert got[3]["clean_md5"] == md5("<tag> is \"escaped\" 'here'")


def test_strip_markup_round_trips_wrapped_corpus(spark):
    from rag_database_spark.operators.text_analytics import (
        strip_markup, wrap_markup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = strip_markup(wrap_markup(docs))
    assert out.filter(~F.col("round_trip")).count() == 0
    assert out.filter(F.col("n_tags") < 4).count() == 0


def test_normalize_unicode_composes_nfd(spark):
    import hashlib
    import unicodedata

    from rag_database_spark.operators.text_analytics import (
        normalize_unicode,
    )

    # explicit NFD escapes: e+U+0301 and A+U+030A compose under NFC
    nfd = "cafe\u0301 and A\u030a"
    rows = [
        (1, nfd),
        (2, "plain ascii"),                    # identity
        (3, "\u00e9 already composed"),        # NFC fixpoint
    ]
    pages = spark.createDataFrame(rows, "doc_id long, raw string")
    got = {r["doc_id"]: r for r in normalize_unicode(pages).collect()}

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert got[1]["n_chars_raw"] == 12
    assert got[1]["n_chars_nfc"] == 10  # two marks composed away
    assert got[1]["nfc_md5"] == md5("caf\u00e9 and \u00c5")
    assert got[2]["n_chars_raw"] == got[2]["n_chars_nfc"] == 11
    assert got[3]["nfc_md5"] == md5(
        unicodedata.normalize("NFC", rows[2][1])
    )


def test_lm_score_matches_hand_model(spark):
    """lm_score == a hand-built add-k bigram model on a 2-doc corpus,
    and a fluent (in-distribution) doc scores lower perplexity than a
    one-off token sequence."""
    import math

    from rag_database_spark.operators.text_analytics import lm_score

    docs = spark.createDataFrame(
        [(1, "the cat sat the cat sat the cat"),
         (2, "dog ran fast"),
         (3, "x")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in lm_score(docs).collect()}

    seqs = {1: "the cat sat the cat sat the cat".split(),
            2: "dog ran fast".split()}
    bigrams = [(s[i], s[i + 1]) for s in seqs.values()
               for i in range(len(s) - 1)]
    vocab = {t for s in list(seqs.values()) + [["x"]] for t in s}
    cnt: dict = {}
    for b in bigrams:
        cnt[b] = cnt.get(b, 0) + 1
    ctx: dict = {}
    for (w1, _), c in cnt.items():
        ctx[w1] = ctx.get(w1, 0) + c
    a, v = 0.5, len(vocab)

    for doc_id, s in seqs.items():
        lps = [math.log((cnt[(s[i], s[i + 1])] + a)
                        / (ctx[s[i]] + a * v))
               for i in range(len(s) - 1)]
        want = sum(lps) / len(lps)
        assert got[doc_id]["n_bigrams"] == len(lps)
        assert abs(got[doc_id]["avg_logp"] - round(want, 6)) < 1e-9
        assert abs(
            got[doc_id]["ppl"] - round(math.exp(-round(want, 6)), 6)
        ) < 1e-9

    # zero-bigram doc: NULL sentinel, never a best-possible ppl that a
    # lowest-perplexity filter would preferentially keep
    assert got[3]["n_bigrams"] == 0
    assert got[3]["avg_logp"] is None and got[3]["ppl"] is None
    assert got[1]["ppl"] < got[2]["ppl"]


def test_lm_score_persisted_model_equals_inline(spark, tmp_path):
    """Scoring against the parquet-persisted train_lm artifact is
    bit-identical to inline training — the per-corpus model artifact
    (the lm_perplexity entry's serving path) changes nothing about
    the result."""
    from rag_database_spark.operators.text_analytics import (
        lm_score,
        train_lm,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat the cat sat the cat"),
         (2, "dog ran fast and the cat ran too"),
         (3, "x"),
         (4, "")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "lm_model")
    train_lm(docs).write.mode("overwrite").parquet(path)
    model = spark.read.parquet(path)

    inline = sorted(map(tuple, lm_score(docs).collect()))
    persisted = sorted(map(tuple, lm_score(docs, model=model).collect()))
    assert inline == persisted


def test_contrastive_score_matches_hand_models(spark):
    """contrastive_score == two hand-built add-k bigram models (base:
    all docs, in-domain: the English-like slice); an in-domain doc gets
    a higher ml_score than an out-of-domain one, and coverage tracks
    how many of a doc's bigrams the in-domain model has seen."""
    import math

    from rag_database_spark.operators.text_analytics import (
        contrastive_score,
    )

    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "the dog sat on the cat", "en"),
        (3, "der hund lief durch den wald", "de"),
        (4, "the cat sat on the mat again", "de"),  # en-like text
        (5, "x", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r["doc_id"]: r
        for r in contrastive_score(
            docs, docs.filter("lang = 'en'")
        ).collect()
    }

    def model(seqs):
        cnt, ctx, vocab = {}, {}, set()
        for s in seqs:
            vocab.update(s)
            for i in range(len(s) - 1):
                b = (s[i], s[i + 1])
                cnt[b] = cnt.get(b, 0) + 1
        for (w1, _), c in cnt.items():
            ctx[w1] = ctx.get(w1, 0) + c
        return cnt, ctx, len(vocab)

    toks = {i: t.split() for i, t, _ in rows}
    base_m = model(toks.values())
    in_m = model([toks[1], toks[2], toks[5]])
    a = 0.5

    def score(s, m):
        cnt, ctx, v = m
        lps = [
            math.log((cnt[(s[i], s[i + 1])] + a) / (ctx[s[i]] + a * v))
            for i in range(len(s) - 1)
            if (s[i], s[i + 1]) in cnt
        ]
        return (len(lps), round(sum(lps) / len(lps), 6)) if lps else (0, None)

    for doc_id in (1, 2, 3, 4):
        s = toks[doc_id]
        n_in, want_in = score(s, in_m)
        n_b, want_b = score(s, base_m)
        assert got[doc_id]["n_bigrams"] == len(s) - 1
        if want_in is not None:
            assert abs(got[doc_id]["avg_logp_in"] - want_in) < 1e-9
        else:
            assert got[doc_id]["avg_logp_in"] is None
        assert abs(got[doc_id]["avg_logp_base"] - want_b) < 1e-9
        cov = round(n_in / max(len(s) - 1, 1), 6)
        assert abs(got[doc_id]["in_coverage"] - cov) < 1e-9
        if want_in is not None:
            assert abs(
                got[doc_id]["ml_score"] - round(want_in - want_b, 6)
            ) < 1e-9
    # the en-like doc written under lang='de' still scores more
    # in-domain than the genuinely German one — selection reads the
    # TEXT, not the label
    assert got[4]["ml_score"] is not None
    assert got[3]["in_coverage"] < got[4]["in_coverage"]
    # zero-bigram doc: NULL scores, zero coverage
    assert got[5]["n_bigrams"] == 0
    assert got[5]["ml_score"] is None and got[5]["in_coverage"] == 0.0


def test_contrastive_score_persisted_models_equal_inline(spark, tmp_path):
    from rag_database_spark.operators.text_analytics import (
        contrastive_score,
        train_lm,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "en"),
            (2, "der hund lief durch den wald", "de"),
            (3, "the dog sat on the mat too", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    in_docs = docs.filter("lang = 'en'")
    for df, name in ((docs, "base"), (in_docs, "in")):
        train_lm(df).write.mode("overwrite").parquet(
            str(tmp_path / name)
        )
    inline = sorted(
        map(tuple, contrastive_score(docs, in_docs).collect())
    )
    persisted = sorted(
        map(
            tuple,
            contrastive_score(
                docs,
                in_docs,
                in_model=spark.read.parquet(str(tmp_path / "in")),
                base_model=spark.read.parquet(str(tmp_path / "base")),
            ).collect(),
        )
    )
    assert inline == persisted


def test_temperature_sample_flattens_source_skew(spark):
    """τ=2 sampling keeps a larger FRACTION of the small source than
    of the big one (flattening), the per-source audit is exact, and
    the keep set is partition-invariant."""
    from rag_database_spark.operators.text_analytics import (
        temperature_sample,
    )

    rows = [(i, "big", 100) for i in range(900)] + [
        (900 + i, "small", 100) for i in range(100)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    )
    out = {r["source"]: r for r in temperature_sample(docs).collect()}

    assert out["big"]["n_docs"] == 900 and out["small"]["n_docs"] == 100
    # √-weighting: small source's keep rate strictly above the big one's
    assert out["small"]["keep_rate"] > out["big"]["keep_rate"]
    # kept counts land near rate × n (hash is uniform)
    for s in ("big", "small"):
        expect = out[s]["keep_rate"] * out[s]["n_docs"]
        assert abs(out[s]["n_kept"] - expect) < 4 * (expect ** 0.5) + 3

    again = {
        r["source"]: r["n_kept"]
        for r in temperature_sample(docs.repartition(7)).collect()
    }
    assert again == {s: out[s]["n_kept"] for s in out}


def test_flagged_words_hand_case(spark):
    """Hand-verified blocklist signals: duplicate hits count, the
    tokenizer matches through punctuation/case, empty docs are 0-safe,
    and the C4 any-hit vs Dolma ratio decisions diverge exactly where
    the ratio crosses the threshold."""
    from rag_database_spark.operators.text_analytics import flagged_words

    docs = spark.createDataFrame(
        [
            # 1 hit in 10 words -> frac 0.1 > 0.05: any_flagged, fails
            (1, "the slow brown fox jumps over the lazy dog again"),
            # 0 hits: clean, passes
            (2, "fast table scan with hash join and merge sort"),
            # 2 hits in 40 words -> frac 0.05: flagged but PASSES
            #   (boundary: <= is the Dolma rule)
            (3, "slow " + "word " * 38 + "slow"),
            # punctuation + case: "Slow," tokenizes to 'slow'
            (4, "Slow, but steady."),
            # empty doc: n_words 0, frac 0.0, passes
            (5, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in flagged_words(docs).collect()}

    assert rows[1]["n_flagged"] == 1 and rows[1]["n_words"] == 10
    assert rows[1]["flagged_frac"] == 0.1
    assert rows[1]["any_flagged"] and not rows[1]["passes"]

    assert rows[2]["n_flagged"] == 0
    assert not rows[2]["any_flagged"] and rows[2]["passes"]

    assert rows[3]["n_flagged"] == 2 and rows[3]["n_words"] == 40
    assert rows[3]["flagged_frac"] == 0.05
    assert rows[3]["any_flagged"] and rows[3]["passes"]

    assert rows[4]["n_flagged"] == 1 and rows[4]["n_words"] == 3

    assert rows[5]["n_words"] == 0 and rows[5]["flagged_frac"] == 0.0
    assert not rows[5]["any_flagged"] and rows[5]["passes"]


def test_flagged_words_custom_list_and_threshold(spark):
    from rag_database_spark.operators.text_analytics import flagged_words

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma beta")], "doc_id long, text string"
    )
    r = flagged_words(docs, words=("beta",), max_frac=0.6).collect()[0]
    assert r["n_flagged"] == 2 and r["flagged_frac"] == 0.5
    assert r["passes"]
