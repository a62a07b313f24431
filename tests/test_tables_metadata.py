"""Table extraction (F16-F18/A8-A9) and domain metadata (F10-F14)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_database_spark.operators import domain_metadata, tables_extract
from rag_database_spark.sources.tables import local_frame


def test_classify_cell_cascade(spark):
    vals = [
        ("$1,200.00", "currency"),
        ("12.5%", "percentage"),
        ("1/15/2024", "date"),
        ("1,350", "number"),
        ("yes", "boolean"),
        ("✓", "boolean"),
        ("hello", "text"),
        ("$12 total", "text"),  # not a pure currency cell
    ]
    df = spark.createDataFrame([(v,) for v, _ in vals], "v string")
    got = [
        r[0]
        for r in df.select(
            tables_extract.classify_cell(F.col("v"))
        ).collect()
    ]
    assert got == [t for _, t in vals]


def test_parse_skips_borders_and_trims(spark):
    fx = tables_extract.fixtures_df(spark)
    cells = tables_extract.parse_pipe_tables(fx).collect()
    t1 = [c for c in cells if c["table_id"] == 1]
    # 4 rows (header + 3 data) × 3 cols; the |---| border row is gone
    assert len(t1) == 12
    assert {c["row_idx"] for c in t1} == {0, 1, 2, 3}
    hdr = sorted(
        (c["col_idx"], c["value"]) for c in t1 if c["is_header"]
    )
    assert hdr == [(0, "Quarter"), (1, "Revenue"), (2, "Growth")]
    # doc 3 has no table
    assert not [c for c in cells if c["table_id"] == 3]


def test_table_texts(spark):
    fx = tables_extract.fixtures_df(spark)
    texts = {
        r["table_id"]: r
        for r in tables_extract.table_texts(fx).collect()
    }
    assert texts[1]["structured_text"].splitlines()[0] == "Quarter, Revenue, Growth"
    assert "financial table with columns Quarter, Revenue, Growth" in (
        texts[1]["semantic_description"]
    )
    assert "3 data rows" in texts[1]["semantic_description"]


def test_table_edge_cases(spark):
    """Hand-computed values for a ragged table, a header-only table,
    border rows of both kinds and an empty cell."""
    docs = local_frame(
        spark,
        (
            (1, "| a | b | c |\n| 1 | 2 | 3 |\n| p | q |"),
            (2, "| only | header |"),
            (3, "+---+---+\n| h1 | h2 |\n|---+---|\n| 5 | 6 |"),
            (4, "| a |  | c |\n| 1 | 2 | 3 |"),
        ),
        "table_id long, text string",
    )
    cells = tables_extract.parse_pipe_tables(docs).collect()

    def by_table(t):
        return sorted(
            (c["row_idx"], c["col_idx"], c["value"], c["cell_type"],
             c["is_header"])
            for c in cells if c["table_id"] == t
        )

    # the header-only table has cells; both border rows take no row_idx
    assert by_table(2) == [
        (0, 0, "only", "text", True), (0, 1, "header", "text", True),
    ]
    assert by_table(3) == [
        (0, 0, "h1", "text", True), (0, 1, "h2", "text", True),
        (1, 0, "5", "number", False), (1, 1, "6", "number", False),
    ]
    # the empty cell is "" typed text and keeps its column
    assert by_table(4)[:3] == [
        (0, 0, "a", "text", True), (0, 1, "", "text", True),
        (0, 2, "c", "text", True),
    ]
    assert [(r, c) for r, c, *_ in by_table(1)] == [
        (0, 0), (0, 1), (0, 2), (1, 0), (1, 1), (1, 2), (2, 0), (2, 1),
    ]

    summary = {
        r["table_id"]: r.asDict()
        for r in tables_extract.table_summary(docs).collect()
    }
    assert set(summary) == {1, 3, 4}  # a table needs a data row
    # ragged: cell counts 3, 3, 2 → var_pop = 22/3 − (8/3)² = 2/9;
    # 3 of its 5 data cells are numbers → financial
    assert summary[1] == {
        "table_id": 1, "n_rows": 2, "n_cols": 3,
        "table_type": "financial", "col_count_variance": 0.222222,
        "title": None,
    }
    assert (summary[3]["n_rows"], summary[3]["n_cols"]) == (1, 2)
    assert summary[3]["col_count_variance"] == 0.0
    assert summary[4]["n_cols"] == 3

    texts = {
        r["table_id"]: r
        for r in tables_extract.table_texts(docs).collect()
    }
    assert set(texts) == {1, 3, 4}
    assert texts[1]["structured_text"] == "a, b, c\n1, 2, 3\np, q"
    assert texts[1]["semantic_description"] == (
        "A financial table with columns a, b, c and 2 data rows."
    )
    assert texts[4]["structured_text"].splitlines()[0] == "a, , c"


def test_doc_type_requires_two_hits(spark):
    df = spark.createDataFrame(
        [(1, "one mention of revenue only"),
         (2, "revenue and quarterly earnings grew")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["doc_type"]
        for r in domain_metadata.extract_metadata(df).collect()
    }
    assert got == {1: "general", 2: "financial"}


def test_contract_extraction_end_to_end(spark):
    rows = {
        r["doc_id"]: r
        for r in domain_metadata.extract_metadata(
            domain_metadata.fixtures_df(spark)
        ).collect()
    }
    c = rows[1]
    assert c["contract_type"] == "service_agreement"
    assert c["effective_date"] == "January 15, 2024"
    assert c["governing_law"] == "Delaware"
    assert c["max_amount"] == pytest.approx(12500.0)
    assert c["has_confidentiality"] and not c["has_indemnification"]
    tax = rows[2]
    assert tax["doc_type"] == "tax"
    assert tax["irc_sections"] == ["1031(a)", "179"]
