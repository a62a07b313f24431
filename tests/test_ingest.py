"""Ingestion sources S1/S2/S4 (parse and render seams over a
binaryFile scan), W5 overlap dedup, U3 related ids, U4 search-term
expansion."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_database_spark.operators import graph as g
from rag_database_spark.operators.query_analysis import search_terms
from rag_database_spark.operators.tables_extract import (
    dedup_overlapping_regions,
)
from rag_database_spark.sources import ingest

DOC = (
    "QUARTERLY REPORT\n\n"
    "Revenue grew across all segments in the period under review, "
    "driven by strong demand.\n\n"
    "| Segment | Revenue |\n| Cloud | $500 |\n\n"
    "Costs were contained."
)


@pytest.fixture(scope="module")
def files_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("docs")
    (d / "report.txt").write_text(DOC)
    (d / "sub").mkdir()
    (d / "sub" / "other.txt").write_text("Short note.\n\nSecond paragraph here.")
    (d / "skip.bin").write_bytes(b"\x00\x01")
    return str(d)


def test_parse_emits_typed_elements(spark, files_dir):
    files = spark.read.format("binaryFile").load(f"{files_dir}/report.txt")
    els = ingest.parse_documents(files).orderBy("element_index").collect()
    cats = [e["category"] for e in els]
    assert cats == ["Title", "NarrativeText", "Table", "NarrativeText"]
    assert els[0]["text"] == "QUARTERLY REPORT"
    assert els[0]["document_id"].startswith("report_")
    assert len(els[0]["document_id"].split("_")[-1]) == 12  # md5[:12]


def test_page_images_stub(spark, files_dir):
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .option("recursiveFileLookup", "true")
        .load(files_dir)
    )
    pages = ingest.page_images_stub(files).collect()
    assert all(p["width"] == 612 and len(p["image"]) == 16 for p in pages)


def test_dedup_overlapping_regions(spark):
    regions = spark.createDataFrame(
        [
            ("d", 0, 100, 0.9),
            ("d", 50, 150, 0.5),   # overlaps kept [0,100), lower conf → drop
            ("d", 90, 200, 0.95),  # overlaps, higher conf → replaces
            ("d", 300, 400, 0.4),  # disjoint → kept
        ],
        "document_id string, start long, end long, confidence double",
    )
    kept = sorted(
        (r["start"], r["end"])
        for r in dedup_overlapping_regions(regions).collect()
    )
    assert kept == [(90, 200), (300, 400)]


def test_related_ids_union_and_exclusion(spark):
    edges = spark.createDataFrame(
        [(1, 2, "r", 0.9), (3, 1, "r", 0.9), (4, 5, "r", 0.9)],
        "src long, dst long, relation_type string, confidence double",
    )
    ids = spark.createDataFrame([(1,)], ["doc_id"])
    got = sorted(r["related_id"] for r in g.related_ids(edges, ids).collect())
    assert got == [2, 3]


def test_search_terms_expansion(spark):
    df = spark.createDataFrame(
        [("NDA terms for the confidential party",)], "q string"
    )
    terms = df.select(search_terms(F.col("q")).alias("t")).first()["t"]
    assert terms[0] == "NDA terms for the confidential party"
    assert any("NDA (Non-Disclosure Agreement)" in t for t in terms)
    assert "Non-Disclosure Agreement" in terms


