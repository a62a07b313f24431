"""Output checks: an entry's result against its DuckDB oracle twin.

Both sides reduce to a fingerprint: the sorted column names, the row
count and a hash of the rows, order-insensitive, with values normalised
exactly as ``tools/check_correctness.py`` normalises them. Oracle
fingerprints are cached on disk by (corpus fingerprint, hash of
``oracles.py``, hash of the SQL text), so a corpus is queried in DuckDB
once per program version.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import duckdb

from common import ROOT

sys.path.insert(0, str(ROOT / "tools"))

from check_correctness import ListCellError, normalize  # noqa: E402

from rag_database_spark.sources.tables import TABLES  # noqa: E402


def fingerprint(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    rows normalised and sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    aligned = [tuple(r[i] for i in order) for r in rows]
    h = hashlib.sha256(json.dumps(cols).encode())
    h.update(str(len(aligned)).encode())
    for row in normalize(aligned, cols):
        h.update(repr(row).encode())
    return h.hexdigest()


def file_digest(*paths: Path) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


class Oracle:
    """DuckDB over one corpus directory, with a fingerprint cache file."""

    def __init__(self, corpus_dir: Path, cache_file: Path):
        files = {t: corpus_dir / f"{t}.parquet" for t in TABLES}
        self.corpus_fp = file_digest(*(files[t] for t in sorted(files)))
        self.code_fp = file_digest(ROOT / "rag_database_spark" / "oracles.py")
        self.cache_file = cache_file
        self.cache = (
            json.loads(cache_file.read_text()) if cache_file.exists() else {}
        )
        self.con = duckdb.connect()
        for t, p in files.items():
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def expected(self, sql: str) -> str:
        key = f"{self.corpus_fp}:{self.code_fp}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
        fp = self.cache.get(key)
        if fp is None:
            res = self.con.execute(sql)
            fp = fingerprint([c[0] for c in res.description], res.fetchall())
            self.cache[key] = fp
            self.cache_file.parent.mkdir(parents=True, exist_ok=True)
            self.cache_file.write_text(json.dumps(self.cache, indent=0))
        return fp

    def close(self) -> None:
        self.con.close()


def check_result(columns: list[str], rows: list[tuple], sql: str | None,
                 oracle: Oracle) -> str | None:
    """None when the result is correct, else a one-line reason. An
    entry without an oracle must return at least one row."""
    if sql is None:
        return None if rows else "no oracle and an empty result"
    try:
        got = fingerprint(columns, rows)
    except ListCellError as e:
        return f"list cell: {e}"
    return None if got == oracle.expected(sql) else "differs from its oracle"
