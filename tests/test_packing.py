"""Sequence packing + benchmark decontamination (training-pipeline
extensions; no reference counterpart — the packing/decontam recipes are
the published GPT-3/Llama-style ones)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_database_spark.operators.packing import pack_sequences
from rag_database_spark.operators.text_analytics import decontaminate


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # shard 0 (ids 0,4,8 with n_shards=4): 3 + 5 + 2 tokens
        (0, "a b c"),
        (4, "one two three four five"),
        (8, "x y"),
        # shard 1: a doc longer than the budget
        (1, " ".join(f"t{i}" for i in range(25))),
        # shard 2: empty text
        (2, ""),
        (6, "p q r"),
        # shard 3
        (3, "m n o"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_offsets_are_contiguous_per_shard(spark, docs):
    out = pack_sequences(docs, budget=8, n_shards=4).collect()
    by_shard: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["doc_id"])):
        by_shard.setdefault(r["shard"], []).append(r)
    for rows in by_shard.values():
        expect_start = 0
        for r in rows:
            assert r["start_offset"] == expect_start
            assert r["end_offset"] == expect_start + r["n_tokens"]
            expect_start = r["end_offset"]


def test_pack_bin_spans(spark, docs):
    out = {r["doc_id"]: r for r in pack_sequences(docs, budget=8, n_shards=4).collect()}
    # shard 0 stream: doc0 [0,3) bin 0; doc4 [3,8) bin 0 (ends ON the
    # boundary -> stays in bin 0); doc8 [8,10) bin 1
    assert (out[0]["first_bin"], out[0]["last_bin"]) == (0, 0)
    assert (out[4]["first_bin"], out[4]["last_bin"]) == (0, 0)
    assert not out[4]["spans_boundary"]
    assert (out[8]["first_bin"], out[8]["last_bin"]) == (1, 1)
    # 25-token doc with budget 8 spans bins 0..3
    assert (out[1]["first_bin"], out[1]["last_bin"]) == (0, 3)
    assert out[1]["spans_boundary"]
    # empty doc: zero tokens, degenerate span pinned to first_bin
    assert out[2]["n_tokens"] == 0
    assert out[2]["first_bin"] == out[2]["last_bin"]
    assert not out[2]["spans_boundary"]


def test_decontaminate_flags_overlap(spark):
    bench_text = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    rows = [
        (0, bench_text),                      # benchmark doc (id < 5)
        (10, bench_text),                     # fully contaminated copy
        (11, "c1 c2 c3 c4 c5 c6 c7 c8 c9"),   # clean
        (12, "short text"),                   # < n tokens: no grams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in decontaminate(docs, bench_max=5, n=8, threshold=0.5).collect()
    }
    assert set(out) == {10, 11, 12}           # benchmark doc excluded
    assert out[10]["n_ngrams"] == 3 and out[10]["n_hits"] == 3
    assert out[10]["is_contaminated"]
    assert out[11]["n_hits"] == 0 and not out[11]["is_contaminated"]
    assert out[12]["n_ngrams"] == 0 and not out[12]["is_contaminated"]


def test_pack_rows_materializes_full_bins(spark, docs):
    from rag_database_spark.operators.packing import pack_rows

    out = {(r["shard"], r["bin"]): r
           for r in pack_rows(docs, budget=8, n_shards=4).collect()}
    # shard 0 stream: a b c | one two three four five | x y
    assert out[(0, 0)]["tokens"] == [
        "a", "b", "c", "one", "two", "three", "four", "five"
    ]
    assert out[(0, 0)]["n_docs"] == 2
    assert out[(0, 1)]["tokens"] == ["x", "y"]
    # shard 1: one 25-token doc split 8/8/8/1 across bins 0..3
    for b in range(3):
        assert out[(1, b)]["n_tokens"] == 8
        assert out[(1, b)]["tokens"] == [f"t{i}" for i in range(b * 8, b * 8 + 8)]
    assert out[(1, 3)]["tokens"] == ["t24"]
    # shard 2: the empty doc contributes nothing (not even n_docs)
    assert out[(2, 0)]["tokens"] == ["p", "q", "r"]
    assert out[(2, 0)]["n_docs"] == 1
    # every bin except each shard's tail holds exactly the budget
    max_bin = {}
    for (s, b) in out:
        max_bin[s] = max(max_bin.get(s, -1), b)
    for (s, b), r in out.items():
        if b < max_bin[s]:
            assert r["n_tokens"] == 8, (s, b)
        assert r["n_tokens"] <= 8


def test_decontaminate_with_external_bench_table(spark):
    bench_text = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    bench = spark.createDataFrame(
        [(100, bench_text)], "doc_id long, text string"
    )
    rows = [
        (10, bench_text),                     # contaminated copy
        (11, "c1 c2 c3 c4 c5 c6 c7 c8 c9"),   # clean
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in decontaminate(
            docs, bench_docs=bench, n=8, threshold=0.5
        ).collect()
    }
    # every training doc is probed (no id-slice exclusion)
    assert set(out) == {10, 11}
    assert out[10]["n_hits"] == 3 and out[10]["is_contaminated"]
    assert out[11]["n_hits"] == 0 and not out[11]["is_contaminated"]


def test_shuffle_export_deterministic_and_complete(spark):
    from rag_database_spark.operators.packing import shuffle_export

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(97)], "doc_id long, text string"
    )
    a = shuffle_export(docs).collect()
    b = shuffle_export(docs.repartition(7)).collect()
    # same rows regardless of input partitioning, every doc exactly once
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 97 and len({r["doc_id"] for r in a}) == 97
    # shard is key-derived, pos is a 1..n_shard contiguous rank in
    # (sort_key, doc_id) order
    by_shard = {}
    for r in a:
        assert r["shard"] == r["sort_key"] % 8
        by_shard.setdefault(r["shard"], []).append(r)
    for rows in by_shard.values():
        rows.sort(key=lambda r: (r["sort_key"], r["doc_id"]))
        assert [r["pos"] for r in rows] == list(range(1, len(rows) + 1))


def test_shuffle_export_seed_changes_order_not_membership(spark):
    from rag_database_spark.operators.packing import shuffle_export

    docs = spark.createDataFrame(
        [(i, "x") for i in range(50)], "doc_id long, text string"
    )
    a = shuffle_export(docs, seed=1).collect()
    b = shuffle_export(docs, seed=2).collect()
    assert {r["doc_id"] for r in a} == {r["doc_id"] for r in b}
    # a different epoch seed produces a genuinely different permutation
    key = lambda rows: sorted((r["doc_id"], r["shard"], r["pos"]) for r in rows)
    assert key(a) != key(b)


def test_pack_context_budget_cut_and_rank1_guarantee(spark):
    """Greedy context assembly: keep while the running total fits;
    rank 1 ships even when it alone exceeds the budget; the cut is
    per-query independent."""
    from rag_database_spark.operators.packing import pack_context

    results = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2)],
        "query_id long, id long, rank long",
    )
    docs = spark.createDataFrame(
        [(10, "a b c"), (11, "d e"), (12, "f g h i"),
         (20, " ".join(["w"] * 50)), (21, "x y")],
        "doc_id long, text string",
    )
    rows = {(r["query_id"], r["id"]): r
            for r in pack_context(results, docs, budget=6).collect()}
    # q1: 3 + 2 = 5 <= 6 keeps ranks 1-2; rank 3 overflows (5+4=9)
    assert rows[(1, 10)]["kept"] and rows[(1, 10)]["cum_tokens"] == 3
    assert rows[(1, 11)]["kept"] and rows[(1, 11)]["cum_tokens"] == 5
    assert not rows[(1, 12)]["kept"] and rows[(1, 12)]["cum_tokens"] == 9
    # q2: rank 1 is 50 tokens > budget but ships anyway; rank 2 not
    assert rows[(2, 20)]["kept"]
    assert not rows[(2, 21)]["kept"]
