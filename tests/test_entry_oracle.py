"""Differential smoke: every queries() entry vs its DuckDB oracle at
sf0.001 — the same comparison the driver's t2 gate runs at sf0.01
(tools/check_correctness.py is the full-size version)."""

from __future__ import annotations

import math
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entrymod
from rag_database_spark.sources.tables import TABLES

from plan_inspect import unmaterialized_rdd_leaves

SF_DIR = "/root/testdata/sf0.001"

# The only entries a warm call rebuilds: their builders checkpoint in
# the BFS rounds (shortest_chains, graph_expand) or in graph.triangles'
# two measured folds. Every other entry's plan has no checkpointed leaf
# and its second call is the cached frame, so it launches no build job.
UNCACHED = {"shortest_chains", "graph_expand", "graph_triangles"}


def _normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else f"{v:.6f}")
            elif isinstance(v, (list, tuple)):
                vals.append(str(list(v)))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_entry_matches_oracle(spark, duck, name):
    if not Path(SF_DIR).exists():
        pytest.skip("driver testdata not present")
    sdf = entrymod.queries()[name](spark, SF_DIR)
    assert unmaterialized_rdd_leaves(sdf) == []
    # every entry goes through the plan cache: the second call is served
    # the first frame unless a checkpointed leaf keeps it out. Checked
    # before collect(), since a frame that ran is rebuilt on purpose.
    assert entrymod._has_materialized_leaf(sdf) == (name in UNCACHED)
    again = entrymod.queries()[name](spark, SF_DIR)
    assert (again is sdf) == (name not in UNCACHED)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        assert len(s_rows) >= 0  # rows-only check: must at least run
        return
    res = duck.execute(oracle)
    d_cols = [c[0] for c in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    d_idx = [d_cols.index(c) for c in s_cols]
    d_aligned = [tuple(r[i] for i in d_idx) for r in d_rows]
    assert _normalize(s_rows, s_cols) == _normalize(d_aligned, s_cols)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert df.columns
