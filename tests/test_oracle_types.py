"""Guard the oracle result schemas against pandas-hostile DuckDB types.

The driver compares Spark vs DuckDB by canonicalizing fetched values; a
DuckDB HUGEINT (what ``sum(INTEGER/BIGINT)`` returns) survives
``fetchall()`` as a Python int but becomes **float64** under a
pandas/Arrow fetch — so the driver sees ``"15.0"`` where Spark emits
``"15"`` and the value hash goes red even though the numbers agree.
Round 3's three persistent hash-fails (customer_overview,
bm25_index_stats, chunking_stats) were exactly the three entries whose
oracle emitted a HUGEINT column.

This test DESCRIBEs every ``oracle_sql()`` entry and pins the result
column types to the set that round-trips identically through both
``fetchall()`` and pandas: BIGINT/INTEGER-family, DOUBLE/FLOAT,
VARCHAR, DATE/TIMESTAMP, BOOLEAN. No Spark session needed — this runs
in milliseconds against the sf0.001 parquet.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"

SAFE_TYPES = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT",
    "DOUBLE", "FLOAT",
    "VARCHAR", "DATE", "TIMESTAMP", "BOOLEAN",
}


@pytest.fixture(scope="module")
def oracle_schemas():
    import __spark_entry__ as entrymod
    from rag_database_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    out = {}
    for name, sql in entrymod.oracle_sql().items():
        out[name] = con.execute(
            f"DESCRIBE SELECT * FROM ({sql})"
        ).fetchall()
    con.close()
    return out


def test_no_pandas_hostile_types(oracle_schemas):
    offenders = {
        name: [(c, t) for c, t, *_ in schema if t not in SAFE_TYPES]
        for name, schema in oracle_schemas.items()
    }
    offenders = {k: v for k, v in offenders.items() if v}
    assert not offenders, (
        "oracle columns with types the driver's pandas fetch mangles "
        f"(cast to BIGINT/DOUBLE in the SQL): {offenders}"
    )


def test_every_query_entry_has_oracle_or_is_known_rows_only():
    """Every queries() entry either has an oracle or is on the explicit
    rows-only allowlist — prevents silently shipping unverified entries."""
    import __spark_entry__ as entrymod

    rows_only = set(entrymod.ROWS_ONLY_ENTRIES)
    qs = set(entrymod.queries())
    oracled = set(entrymod.oracle_sql())
    assert oracled <= qs, f"orphan oracles: {oracled - qs}"
    missing = qs - oracled - rows_only
    assert not missing, f"entries with no oracle and not allowlisted: {missing}"


DRIVER_WINDOW = 50


def test_driver_window_composition_is_pinned():
    """The driver verifies only the FIRST 50 queries() entries, so
    declaration order is load-bearing: every slot in the window must be
    oracle-backed (a rows-only entry there wastes a verified slot), and
    a future entry inserted mid-dict must not silently push a verified
    entry past the cutoff. Python dicts preserve insertion order, so
    list(queries()) IS the driver's evaluation order."""
    import __spark_entry__ as entrymod

    order = list(entrymod.queries())
    head = order[:DRIVER_WINDOW]
    oracled = set(entrymod.oracle_sql())
    rows_only = set(entrymod.ROWS_ONLY_ENTRIES)

    not_oracled = [k for k in head if k not in oracled]
    assert not not_oracled, (
        f"non-oracle entries inside the driver's {DRIVER_WINDOW}-entry "
        f"window (move to the tail): {not_oracled}"
    )
    in_head = rows_only & set(head)
    assert not in_head, f"rows-only entries occupying verified slots: {in_head}"


def test_driver_window_holds_the_stalest_certifications():
    """The window is computed from the CORRECTNESS_r<N>.json files: no
    oracle-backed entry outside the first 50 keys had its last green
    hash match in an older round than an entry inside them (never green
    counts as round 0)."""
    import json

    import __spark_entry__ as entrymod

    last = {}
    root = Path(entrymod.__file__).resolve().parent
    for path in root.glob("CORRECTNESS_r*.json"):
        rnd = path.stem.removeprefix("CORRECTNESS_r")
        if not rnd.isdigit():
            continue
        for name, row in json.loads(path.read_text()).items():
            if row["hash_match"] is True:
                last[name] = max(last.get(name, 0), int(rnd))
    order = list(entrymod.queries())
    rows_only = set(entrymod.ROWS_ONLY_ENTRIES)
    head = {n: last.get(n, 0) for n in order[:DRIVER_WINDOW]}
    tail = {
        n: last.get(n, 0)
        for n in order[DRIVER_WINDOW:]
        if n not in rows_only
    }
    newest_in = max(head.values())
    older_out = sorted(n for n, r in tail.items() if r < newest_in)
    assert not older_out, (
        f"entries outside the window certified before round {newest_in}: "
        f"{older_out}"
    )


def test_embedding_corpus_has_no_zero_norm_vectors():
    """Data contract behind the unguarded full-vector cosines in the
    oracle SQL: the engine maps a zero-norm vector to score 0.0 while
    DuckDB's list_cosine_similarity returns -1.0, so the twins agree
    only while no corpus embedding has zero norm. Real encoders
    normalize at encode time (reference dense_embedder.py:59-65) and
    the hash-projection fixture embeds a nonzero component by
    construction; this pins the assumption at every driver sf. The
    one place a zero norm IS reachable — a 16-dim PREFIX slice of a
    nonzero vector — carries explicit CASE guards
    (oracles.matryoshka_topk_sql / eval_delta_sql / _mmr_parts)."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        n = duckdb.sql(
            f"SELECT count(*) FROM '/root/testdata/sf{sf}/embeddings.parquet' "
            "WHERE list_dot_product(embedding::DOUBLE[], "
            "embedding::DOUBLE[]) <= 0"
        ).fetchone()[0]
        assert n == 0, f"sf{sf}: {n} zero-norm embeddings"


def test_id_columns_are_nonnegative():
    """Data contract behind every modular shard/bucket key (shuffle
    export, quota sampling, bloom probes, gate batch splits): Spark
    and DuckDB both give `%` the dividend's sign, so a NEGATIVE id
    would make `key % n` negative on both engines — breaking the
    shard ranges the operators document ([0, n)) even though the
    twins would still agree. Driver ids are nonnegative by
    construction; pin it."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        for table, col in (("documents", "doc_id"), ("embeddings", "vec_id"),
                           ("events", "event_id")):
            lo = duckdb.sql(
                f"SELECT min({col}) FROM "
                f"'/root/testdata/sf{sf}/{table}.parquet'"
            ).fetchone()[0]
            assert lo is not None and lo >= 0, (sf, table, lo)
