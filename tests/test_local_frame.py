"""Driver-local frames (sources.tables.local_frame): every fixture,
query workload and probe list is a JVM LocalRelation with exactly its
DDL schema, so no scan of it runs Python-worker tasks."""

from __future__ import annotations

import pytest
from pyspark.sql.types import _parse_datatype_string

from rag_database_spark import workload
from rag_database_spark.operators import (
    chunking,
    domain_metadata,
    graph,
    redaction,
    tables_extract,
    text_analytics,
)
from rag_database_spark.sources.tables import local_frame

from plan_inspect import leaf_names


def test_local_frame_is_local_relation_with_ddl_schema(spark):
    ddl = "query_id long, query_text string, query_vec_id long"
    df = local_frame(spark, [(1, "a b", 3), (2, None, 4)], ddl)
    assert leaf_names(df) == ["LocalRelation"]
    # the parsed DDL, nullability included — not an inferred schema
    assert df.schema == _parse_datatype_string(ddl)
    assert [tuple(r) for r in df.collect()] == [(1, "a b", 3), (2, None, 4)]


def test_local_frame_empty_input(spark):
    ddl = "centroid_id int, cvec array<double>, frame_scale int"
    df = local_frame(spark, [], ddl)
    assert leaf_names(df) == ["LocalRelation"]
    assert df.schema == _parse_datatype_string(ddl)
    assert df.collect() == []


def test_local_frame_array_of_double_round_trip(spark):
    import numpy as np

    rows = [(0, [0.5, -1.25, 3.0]), (1, np.array([1e-300, 2.0])), (2, None)]
    df = local_frame(spark, rows, "centroid_id int, cvec array<double>")
    assert leaf_names(df) == ["LocalRelation"]
    assert dict(df.dtypes)["cvec"] == "array<double>"
    got = {r["centroid_id"]: r["cvec"] for r in df.collect()}
    assert got == {0: [0.5, -1.25, 3.0], 1: [1e-300, 2.0], 2: None}


FIXTURE_BUILDERS = {
    "workload.queries_df": workload.queries_df,
    "workload.analysis_queries_df": workload.analysis_queries_df,
    "domain_metadata.fixtures_df": domain_metadata.fixtures_df,
    "text_analytics.c4_fixtures_df": text_analytics.c4_fixtures_df,
    "tables_extract.fixtures_df": tables_extract.fixtures_df,
    "chunking.section_fixtures_df": chunking.section_fixtures_df,
    "graph.rel_fixtures_df": graph.rel_fixtures_df,
    "graph.ident_registry_df": graph.ident_registry_df,
    "redaction.pii_fixtures_df": redaction.pii_fixtures_df,
}


@pytest.mark.parametrize("name", sorted(FIXTURE_BUILDERS))
def test_fixture_builder_is_single_local_relation(spark, name):
    df = FIXTURE_BUILDERS[name](spark)
    assert leaf_names(df) == ["LocalRelation"]
    assert df.count() > 0
