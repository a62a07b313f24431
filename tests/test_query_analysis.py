"""F2-F8 query understanding + Q2 enhanced-search merge semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_database_spark.operators import bm25 as bm25_ops
from rag_database_spark.operators import query_analysis as qa


def _analyze(spark, text):
    df = spark.createDataFrame([(1, text)], "query_id long, query_text string")
    return qa.analyze_queries(df).first()


def test_precision_detection(spark):
    r = _analyze(spark, "what is shown in Table 3 of the report")
    assert r["is_precision"] and r["precision_type"] == "table_reference"
    assert r["reference"] == "3"
    r2 = _analyze(spark, "summarize the document")
    assert not r2["is_precision"] and r2["precision_type"] is None


def test_query_classification(spark):
    assert _analyze(spark, "compare revenue vs costs")["query_type"] == "comparative"
    assert _analyze(spark, "when was it signed")["query_type"] == "temporal"
    assert _analyze(spark, "what does section 2 say")["query_type"] == "reference"
    assert _analyze(spark, "tell me about the company")["query_type"] == "broad"


def test_modality_and_weights(spark):
    # 'table' visual pattern (0.3) + 'in the table' intent (0.25) +
    # 'table shows' intent (0.25) = 0.8 → visual
    r = _analyze(spark, "what data is in the table that shows revenue")
    assert r["modality"] == "visual"
    assert r["visual_score"] >= 0.5
    # one target element → colpali boosted from .60 by 0.1, renorm
    assert r["w_colpali"] > 0.5
    # columns are independently rounded to 6dp → sum within 2e-6 of 1
    assert r["w_bm25"] + r["w_dense"] + r["w_colpali"] == pytest.approx(
        1.0, abs=1e-5
    )
    t = _analyze(spark, "summarize the contract terms")
    assert t["modality"] == "text"
    assert t["w_dense"] == pytest.approx(0.55)


def test_acronym_disambiguation_by_domain(spark):
    tax = _analyze(spark, "IRC deduction rules for income tax")
    assert "IRC (Internal Revenue Code)" in tax["enhanced_query"]
    assert tax["domain"] == "tax"
    bld = _analyze(spark, "IRC rules for residential building construction")
    assert "IRC (International Residential Code)" in bld["enhanced_query"]
    assert bld["domain"] == "building"


def test_precision_search_terms(spark):
    q = spark.createDataFrame(
        [(1, "see table 7 for details"), (2, "plain broad question")],
        "query_id long, query_text string",
    )
    rows = qa.precision_search_terms(q).collect()
    assert len(rows) == 1
    assert rows[0]["search_term"] == "table 7"


def test_enhanced_search_precision_first(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "table 9 shows revenue numbers"), (2, "unrelated words entirely"),
         (3, "more table content here table")],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(1, "value in table 9", 1)],
        "query_id long, query_text string, query_vec_id long",
    )
    path = str(tmp_path / "bm25")
    bm25_ops.write_index(docs, path)
    index = (bm25_ops.read_index(spark, path)[0], bm25_ops.read_stats(path))
    out = qa.enhanced_search(queries, emb, index, limit=5).collect()
    by_rank = sorted(out, key=lambda r: r["rank"])
    # precision fallback results rank first and carry the +0.5 boost
    assert by_rank[0]["source"] == "precision"
    assert by_rank[0]["final_score"] > 0.5
    sources = {r["source"] for r in out}
    assert sources == {"precision", "base"}
