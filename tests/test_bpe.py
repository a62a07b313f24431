"""BPE tokenizer training (operators/bpe.py) vs a pure-Python reference
implementation of Sennrich et al. 2016 — merges, encodings, greedy
application, OOV fallback, partition invariance, artifact round-trip."""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from rag_database_spark.operators import bpe


def py_bpe(words: list[str], num_merges: int, min_count: int = 2):
    """Reference BPE: word-frequency training, greedy left-to-right
    non-overlapping merge application, tie-break (count DESC, lhs,
    rhs) — the exact contract operators/bpe.py implements."""
    vocab = collections.Counter(words)
    syms = {w: list(w) + [bpe.EOW] for w in vocab}
    merges = []
    for rank in range(num_merges):
        pc: collections.Counter = collections.Counter()
        for w, c in vocab.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (lhs, rhs), cnt = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        if cnt < min_count:
            break
        merges.append((rank, lhs, rhs, lhs + rhs, cnt))
        for w in syms:
            syms[w] = py_apply_one(syms[w], lhs, rhs)
    return merges, syms


def py_apply_one(s: list[str], lhs: str, rhs: str) -> list[str]:
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
            out.append(lhs + rhs)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


SENNRICH = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3


def _docs(spark, words, n_parts=1):
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    return df.repartition(n_parts) if n_parts > 1 else df


def test_train_matches_python_reference(spark):
    exp_merges, exp_syms = py_bpe(SENNRICH, 8)
    m, enc = bpe.train_bpe(_docs(spark, SENNRICH), num_merges=8)
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in m.orderBy("rank").collect()
    ]
    assert got == exp_merges
    # the classic result: 'newest' collapses to one token
    got_syms = {r["word"]: list(r["tokens"]) for r in enc.collect()}
    assert got_syms == exp_syms
    assert got_syms["newest"] == ["newest" + bpe.EOW]


def test_partition_invariance(spark):
    exp_merges, _ = py_bpe(SENNRICH, 6)
    m, _ = bpe.train_bpe(_docs(spark, SENNRICH, n_parts=7), num_merges=6)
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in m.orderBy("rank").collect()
    ]
    assert got == exp_merges


def test_merge_pair_is_greedy_left_to_right(spark):
    # 'aaaa' + EOW under (a,a): non-overlapping pairs, no re-merge of
    # the produced symbol within the pass
    df = spark.createDataFrame([(["a", "a", "a", "a", bpe.EOW],)], "s array<string>")
    got = df.select(bpe.merge_pair(F.col("s"), "a", "a").alias("m")).first()["m"]
    assert list(got) == ["aa", "aa", bpe.EOW]
    # odd run: trailing singleton survives
    df3 = spark.createDataFrame([(["a", "a", "a", bpe.EOW],)], "s array<string>")
    got3 = df3.select(bpe.merge_pair(F.col("s"), "a", "a").alias("m")).first()["m"]
    assert list(got3) == ["aa", "a", bpe.EOW]


def test_pair_stats_matches_brute(spark):
    words = ["abc", "abd", "bc", "a"]
    brute: collections.Counter = collections.Counter()
    for w in words:
        s = list(w) + [bpe.EOW]
        for a, b in zip(s, s[1:]):
            brute[(a, b)] += 1
    got = {
        (r["lhs"], r["rhs"]): r["pair_count"]
        for r in bpe.pair_stats(_docs(spark, words), top_n=100).collect()
    }
    assert got == dict(brute)


def test_encode_docs_and_fallback(spark):
    _, enc = bpe.train_bpe(_docs(spark, SENNRICH), num_merges=8)
    docs = spark.createDataFrame(
        [(0, "low low newest"), (1, "zzz")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in bpe.encode_docs(docs, enc).collect()
    }
    # low -> [low, </w>] (2), newest -> [newest</w>] (1)
    assert rows[0]["n_words"] == 3
    assert rows[0]["n_bpe_tokens"] == 2 + 2 + 1
    # 'zzz' absent from the encode table: falls back to len+1 singles
    assert rows[1]["n_bpe_tokens"] == 4


def test_artifact_roundtrip(spark, tmp_path):
    m, enc = bpe.train_bpe(_docs(spark, SENNRICH), num_merges=6)
    m.write.parquet(str(tmp_path / "merges"))
    enc.write.parquet(str(tmp_path / "encoded"))
    m2 = spark.read.parquet(str(tmp_path / "merges"))
    enc2 = spark.read.parquet(str(tmp_path / "encoded"))
    assert sorted(map(tuple, m.collect())) == sorted(map(tuple, m2.collect()))
    a = sorted((r["word"], list(r["tokens"])) for r in enc.collect())
    b = sorted((r["word"], list(r["tokens"])) for r in enc2.collect())
    assert a == b


def test_random_corpora_match_python_reference(spark):
    """Seeded-random differential: words with repeated chars, digits,
    underscores, and heavy tie pressure (tiny alphabet) — covers merge
    tie-breaks and multi-level re-merges the Sennrich case doesn't."""
    import random

    rng = random.Random(0xB9E)
    for trial in range(3):
        alphabet = ["a", "b", "c", "1", "_"][: 2 + trial]
        words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(5, 25))
        ]
        exp_merges, exp_syms = py_bpe(words, 4)
        m, enc = bpe.train_bpe(_docs(spark, words), num_merges=4)
        got = [
            (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
            for r in m.orderBy("rank").collect()
        ]
        assert got == exp_merges, f"trial {trial}: {words}"
        got_syms = {r["word"]: list(r["tokens"]) for r in enc.collect()}
        assert got_syms == exp_syms, f"trial {trial}: {words}"


def test_early_stop_below_min_count(spark):
    # every word unique -> after char pairs with count 1, min_count=2
    # stops training immediately
    m, _ = bpe.train_bpe(
        _docs(spark, ["ab", "cd", "ef"]), num_merges=10, min_count=2
    )
    assert m.count() == 0


def test_lang_fertility_hand_case(spark):
    """Per-lang rollup of the encode table: doc 1 (en) has 3 words at
    2 tokens each; doc 2 (de) has 2 words, one via byte fallback
    (len+1); token-less doc 3 contributes no row."""
    from rag_database_spark.operators.bpe import lang_fertility

    docs = spark.createDataFrame(
        [(1, "aa bb aa", "en"), (2, "cc zzzz", "de"), (3, "", "fr")],
        "doc_id long, text string, lang string",
    )
    enc = spark.createDataFrame(
        [("aa", ["a", "a</w>"]), ("bb", ["b", "b</w>"]),
         ("cc", ["cc</w>"])],
        "word string, tokens array<string>",
    )
    got = {
        r["lang"]: (r["n_docs"], r["n_words"], r["n_bpe_tokens"],
                    r["fertility"])
        for r in lang_fertility(docs, enc).collect()
    }
    # en: 3 words x 2 tokens = 6; de: cc=1 token + zzzz fallback 4+1=5
    assert got == {
        "en": (1, 3, 6, 2.0),
        "de": (1, 2, 6, 3.0),
    }
