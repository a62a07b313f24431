"""PII redaction — a training-data-pipeline extension (no reference
analog; the reference stops at quality scoring, document_quality.py).

Five pattern classes (email, payment card, SSN, US phone, IPv4) are
applied IN ORDER as chained ``regexp_replace`` column expressions —
all JVM-side, one projection, no shuffle, linear in corpus size.
Each class's match count is taken on the text AS ALREADY REDACTED by
the earlier classes, so counts and replacements are consistent (a
dotted phone number is counted as a phone, never double-counted as
an IPv4). The DuckDB oracle replays the identical chain from the
same ``PII_PATTERNS`` constants.

Patterns are written in the Java∩RE2 regex intersection (no
backreferences, no lookaround) so both engines agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rag_database_spark.sources.tables import local_frame

# (name, pattern, replacement-token) — order is semantics: earlier
# classes claim their text before later ones can see it.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    (
        "email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "[EMAIL]",
    ),
    (
        "card",
        r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b",
        "[CARD]",
    ),
    (
        "ssn",
        r"\b\d{3}-\d{2}-\d{4}\b",
        "[SSN]",
    ),
    (
        "phone",
        r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
        "[PHONE]",
    ),
    (
        "ip",
        r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
        "[IP]",
    ),
)


def redact_pii(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Per-document PII scrub: count + replace each pattern class in
    PII_PATTERNS order. One narrow projection — at 100 TB this is an
    embarrassingly parallel scan with zero exchange."""
    cur = F.col(text_col)
    count_cols = []
    for name, pat, tok in PII_PATTERNS:
        count_cols.append(
            F.regexp_count(cur, F.lit(pat)).alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, tok)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        *count_cols,
        cur.alias("redacted"),
    )


# Fixture corpus — the synthetic documents table is PII-free word
# soup, so the oracle entry runs over these rows (same pattern as
# graph.REL_FIXTURES).
PII_FIXTURES: tuple[tuple[int, str], ...] = (
    (1, "contact alice.smith+ml@example-corp.io or call 415-555-0199"),
    (2, "card 4111 1111-1111 1111 expires 04/28, backup 4012-8888-8888-1881"),
    (3, "ssn on file 078-05-1120; payroll phone 212.555.0123"),
    (4, "server at 10.0.42.7 proxied via 192.168.1.254 port 8080"),
    (5, "mixed: bob@corp.net, 555-867-5309, 303-22-0456, 172.16.254.1"),
    (6, "dotted phone 123.456.7890 must not be read as an address"),
    (7, "clean document with no personal identifiers at all"),
    (8, "edge: not-an-email @@bad..tld, short 12-34-5678, 999.999"),
)


def pii_fixtures_df(spark) -> DataFrame:
    return local_frame(spark, PII_FIXTURES, "doc_id long, text string")


def pii_fixtures_values_sql() -> str:
    rows = ", ".join(
        "({}, '{}')".format(d, t.replace("'", "''"))
        for d, t in PII_FIXTURES
    )
    return f"(SELECT * FROM (VALUES {rows}) AS v(doc_id, text))"
