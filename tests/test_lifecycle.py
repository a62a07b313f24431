"""Lifecycle operators: delete cascade, idempotent upsert, rerank."""

from __future__ import annotations

import pytest

from rag_database_spark.operators import lifecycle

from plan_inspect import executed_plan


def test_delete_by_ids(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    ids = spark.createDataFrame([(2,)], ["id"])
    got = sorted(r["id"] for r in lifecycle.delete_by_ids(df, ids, "id").collect())
    assert got == [1, 3]


def test_cascade_applies_per_table_keys(spark):
    docs = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    chunks = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2)], "chunk_id long, document_id long"
    )
    out = lifecycle.delete_document_cascade(
        {"docs": docs, "chunks": chunks},
        spark.createDataFrame([(1,)], ["doc_id"]),
        {"docs": "doc_id", "chunks": "document_id"},
    )
    assert [r["doc_id"] for r in out["docs"].collect()] == [2]
    assert [r["chunk_id"] for r in out["chunks"].collect()] == [12]


def test_upsert_keep_latest_and_idempotent(spark):
    existing = spark.createDataFrame(
        [(1, "old", 1), (2, "keep", 1)], "id long, v string, version int"
    )
    incoming = spark.createDataFrame(
        [(1, "new", 2), (3, "ins", 2)], "id long, v string, version int"
    )
    out = {r["id"]: r["v"] for r in
           lifecycle.upsert_latest(existing, incoming, "id", "version").collect()}
    assert out == {1: "new", 2: "keep", 3: "ins"}
    # replay: same incoming again — incoming side wins version ties
    replay = lifecycle.upsert_latest(
        spark.createDataFrame(
            [(1, "new", 2), (2, "keep", 1), (3, "ins", 2)],
            "id long, v string, version int",
        ),
        incoming, "id", "version",
    )
    assert {r["id"]: r["v"] for r in replay.collect()} == out


def test_rerank_scores_overlap(spark):
    queries = spark.createDataFrame(
        [(1, "fast hash join")], "query_id long, query_text string"
    )
    docs = spark.createDataFrame(
        [(10, "fast hash join algorithms"), (20, "slow nested loops only")],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame([(1, 10), (1, 20)], "query_id long, id long")
    rows = lifecycle.lexical_overlap_rerank(
        cands, queries, docs, limit=2, id_col="doc_id"
    ).orderBy("rank").collect()
    assert rows[0]["id"] == 10
    assert rows[0]["rerank_score"] == pytest.approx(0.75)  # 3 / 4
    assert rows[1]["rerank_score"] == 0.0


def test_rerank_candidate_lineage_appears_once(spark):
    """Single-consumption shape: the candidate pair list broadcasts
    once into the documents scan, so the upstream candidate pipeline
    (BM25 scoring + top-k in rerank_topk) appears once in the plan and
    runs once per action — with no checkpoint, so the plan carries no
    materialized leaf and the prepared-plan cache may reuse it."""
    import __spark_entry__ as entrymod

    queries = spark.createDataFrame(
        [(1, "fast hash join")], "query_id long, query_text string"
    )
    docs = spark.createDataFrame(
        [(10, "fast hash join algorithms"), (20, "slow nested loops only")],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame(
        [(1, 10), (1, 20)], "query_id long, id long"
    ).filter("id >= 0")  # a marker transformation on the candidate lineage
    out = lifecycle.lexical_overlap_rerank(
        cands, queries, docs, limit=2, id_col="doc_id"
    )
    plan = executed_plan(out)
    lines = plan.splitlines()
    # the candidate scan and its marker filter (`(id#NL >= 0)`) each
    # appear exactly once; the queries fixture is also an ExistingRDD,
    # so match the candidate schema, and an inferred `doc_id >= 0` on
    # the documents side does not count
    cand_scans = [
        line for line in lines
        if "Scan ExistingRDD[query_id#" in line and ",id#" in line
    ]
    assert len(cand_scans) == 1, plan
    markers = [line for line in lines if ">= 0" in line and "(id#" in line]
    assert len(markers) == 1, plan
    assert not entrymod._has_materialized_leaf(out)
    # and the rerank order
    rows = out.orderBy("rank").collect()
    assert [r["id"] for r in rows] == [10, 20]
