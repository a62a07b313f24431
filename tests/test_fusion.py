"""Rank fusion (A1/J1) hand-cases with the reference constants
(hybrid_search.py: k=60, weights bm25 .3 / dense .5 / colpali .2):
static and per-query weights, tie-break, absent legs, plus J2/J3
page-score propagation."""

from __future__ import annotations

import pytest

from rag_database_spark.operators.fusion import (
    DEFAULT_WEIGHTS,
    RRF_K,
    propagate_page_scores_batch,
    rrf_fuse,
)

LEG_SCHEMA = "query_id long, id string, rank long"


def test_reference_constants():
    assert RRF_K == 60
    assert DEFAULT_WEIGHTS == {"bm25": 0.3, "dense": 0.5, "colpali": 0.2}


def test_rrf_hand_case(spark):
    # doc A: bm25 rank 1, dense rank 2; doc B: dense rank 1 only
    legs = {
        "bm25": spark.createDataFrame([(1, "A", 1)], LEG_SCHEMA),
        "dense": spark.createDataFrame([(1, "A", 2), (1, "B", 1)], LEG_SCHEMA),
    }
    got = {r["id"]: r for r in rrf_fuse(legs, limit=10).collect()}
    assert got["A"]["rrf_score"] == round(0.3 / 61 + 0.5 / 62, 6)
    assert got["B"]["rrf_score"] == round(0.5 / 61, 6)
    assert (got["A"]["bm25_rank"], got["A"]["dense_rank"]) == (1, 2)
    assert (got["B"]["bm25_rank"], got["B"]["dense_rank"]) == (None, 1)
    assert (got["A"]["rank"], got["B"]["rank"]) == (1, 2)


def test_rrf_limit_and_tie_break(spark):
    # identical contributions → tie broken by id ascending
    legs = {
        "dense": spark.createDataFrame([(1, "Z", 1), (1, "A", 1)], LEG_SCHEMA)
    }
    rows = rrf_fuse(legs, limit=1).collect()
    assert len(rows) == 1 and rows[0]["id"] == "A"


def test_rrf_per_query_weights(spark):
    """A per-query (query_id, w_<method>...) weight frame: both queries
    see the same legs, but opposite weights pick different top ids."""
    ranks = [(q, "A", 1) for q in (1, 2)] + [(q, "B", 2) for q in (1, 2)]
    flipped = [(q, i, 3 - r) for q, i, r in ranks]
    legs = {
        "bm25": spark.createDataFrame(ranks, LEG_SCHEMA),
        "dense": spark.createDataFrame(flipped, LEG_SCHEMA),
    }
    weights = spark.createDataFrame(
        [(1, 0.9, 0.1), (2, 0.1, 0.9)],
        "query_id long, w_bm25 double, w_dense double",
    )
    rows = rrf_fuse(legs, limit=2, weights=weights).collect()
    top = {r["query_id"]: r["id"] for r in rows if r["rank"] == 1}
    assert top == {1: "A", 2: "B"}
    score = {(r["query_id"], r["id"]): r["rrf_score"] for r in rows}
    assert score[(1, "A")] == round(0.9 / 61 + 0.1 / 62, 6)
    assert score[(2, "A")] == round(0.1 / 61 + 0.9 / 62, 6)


def test_propagation_page_match_and_doc_fallback(spark):
    chunks = spark.createDataFrame(
        [("c1", "d1", 1), ("c2", "d1", 9), ("c3", "d2", 1)],
        "id string, document_id string, page_number int",
    )
    pages = spark.createDataFrame(
        [(1, "d1", 1, 0.9), (1, "d1", 2, 0.4), (2, "d2", 3, 0.5)],
        "query_id long, document_id string, page_number int, score double",
    )
    got = {
        (r["query_id"], r["id"]): r["propagated_score"]
        for r in propagate_page_scores_batch(chunks, pages).collect()
    }
    assert got[(1, "c1")] == pytest.approx(0.9)  # J2: exact page match
    assert got[(1, "c2")] == pytest.approx(0.9 * 0.8)  # J3: doc max × 0.8
    assert got[(2, "c3")] == pytest.approx(0.5 * 0.8)
    # chunks join in only for the documents their query matched
    assert set(got) == {(1, "c1"), (1, "c2"), (2, "c3")}


def test_hybrid_absent_leg_contributes_zero(spark, tmp_path):
    """A query whose BM25 leg matches nothing still fuses: missing
    methods contribute 0 (the reference's defaultdict semantics)."""
    from rag_database_spark.operators import bm25 as bm25_ops
    from rag_database_spark.operators.hybrid import bm25_leg, dense_leg

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(1, "zzzz qqqq missing terms", 3)],  # zero BM25 matches
        "query_id long, query_text string, query_vec_id long",
    )
    path = str(tmp_path / "bm25")
    bm25_ops.write_index(docs, path)
    postings = bm25_ops.read_index(spark, path)[0]
    legs = {
        "bm25": bm25_leg(queries, postings, bm25_ops.read_stats(path), 15),
        "dense": dense_leg(queries, emb, 15),
    }
    rows = rrf_fuse(legs, limit=5).collect()
    assert rows  # dense leg alone produces results
    assert all(r["bm25_rank"] is None for r in rows)
    assert all(r["dense_rank"] is not None for r in rows)
    # rrf score equals the dense-only contribution
    first = min(rows, key=lambda r: r["rank"])
    assert first["rrf_score"] == round(0.5 / (60 + first["dense_rank"]), 6)
