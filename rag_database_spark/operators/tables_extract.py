"""Table extraction — detect/parse text tables, classify cells and
tables, emit dual text representations (F16/F17/F18, A8/A9;
src/tables/table_extractor.py).

The reference grows table regions row-by-row in Python (:101-288); the
engine parses the common pipe-delimited form in pure column algebra,
which covers the markdown-style tables its own smoke test uses
(:676-703). Each document is parsed once, in one projection: its pipe
lines are filtered in place (``_pipe_lines``) and split into cells.
``table_rows`` holds them as an ``array<array<string>>`` of rows, and
the summary (A8 type, A9 column-count variance, title) and the dual
texts (F18) are array expressions over it; the cell table posexplodes
the same pipe lines and their cells. Every output row depends on one
input table, so nothing shuffles, joins or windows; the price is
interpreted higher-order functions per row. Everything is JVM-side,
with no Python."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rag_database_spark.sources.tables import local_frame

# F16 (table_extractor.py:428-443) — tried in order, first match wins
CELL_TYPE_PATTERNS: tuple[tuple[str, str], ...] = (
    ("currency", r"^\$[\d,]+(?:\.\d{2})?$"),
    ("percentage", r"^[\d,]+(?:\.\d+)?%$"),
    ("date", r"^\d{1,2}[/-]\d{1,2}[/-]\d{2,4}$"),
    ("number", r"^[\d,]+(?:\.\d+)?$"),
)
BOOLEAN_VALUES: tuple[str, ...] = ("yes", "no", "true", "false", "✓", "✗", "x")

PIPE_ROW_RE = r"^\s*\|.*\|\s*$"
BORDER_ROW_RE = r"^\s*[-|+\s]+\s*$"
TITLE_RE = r"(?i)(Table\s+\d+[:.]\s*[^\n]+)"

# A8 header hints (table_extractor.py:474-481)
FINANCIAL_HEADERS = ("amount", "revenue", "cost", "price", "total")
SCHEDULE_HEADERS = ("date", "deadline", "due", "schedule")
COMPLIANCE_HEADERS = ("status", "complete", "approved")


def classify_cell(value: Column) -> Column:
    """F16: regex cascade over the trimmed cell value."""
    v = F.trim(value)
    out = F.lit("text")
    # build as coalesce: independent cases, first match wins
    cases = [
        F.when(v.rlike(pat), F.lit(name)) for name, pat in CELL_TYPE_PATTERNS
    ]
    cases.append(
        F.when(F.lower(v).isin(*BOOLEAN_VALUES), F.lit("boolean"))
    )
    return F.coalesce(*cases, out)


def _pipe_lines(text: Column) -> Column:
    """F17 (pipe branch): the pipe rows minus the border rows, in line
    order; the first is the header."""
    return F.filter(
        F.split(text, r"\n"),
        lambda line: line.rlike(PIPE_ROW_RE) & ~line.rlike(BORDER_ROW_RE),
    )


def _raw_cells(line: Column) -> Column:
    """The inner splits of '|' of one pipe row, untrimmed."""
    inner = F.regexp_replace(
        F.regexp_replace(line, r"^\s*\|", ""), r"\|\s*$", ""
    )
    return F.split(inner, r"\|")


def table_rows(docs: DataFrame) -> DataFrame:
    """F17 (table_extractor.py:291-416): one document row →
    (table_id, text, rows array<array<string>>), each row its trimmed
    cells; rows[0] is the header."""
    # a lambda, not F.trim itself: transform would bind the element
    # index to F.trim's optional second parameter
    rows = F.transform(
        _pipe_lines(F.col("text")),
        lambda line: F.transform(_raw_cells(line), lambda c: F.trim(c)),
    )
    return docs.select("table_id", "text", rows.alias("rows"))


def parse_pipe_tables(docs: DataFrame) -> DataFrame:
    """F16/F17: cell rows (table_id, row_idx, col_idx, value, cell_type,
    is_header); row_idx is the row's position among the pipe rows.

    The two posexplodes run over the pipe lines and their raw splits,
    not over ``table_rows``: trimming after the explode keeps the trim
    in generated code. Exploding the trimmed row arrays took about 1.4×
    as long (300k replicated fixture rows, 4 cores)."""
    cells = (
        docs.select(
            "table_id",
            F.posexplode(_pipe_lines(F.col("text"))).alias("row_idx", "line"),
        )
        .select(
            "table_id",
            "row_idx",
            F.posexplode(_raw_cells(F.col("line"))).alias("col_idx", "raw"),
        )
    )
    return cells.select(
        "table_id",
        F.col("row_idx").cast("long").alias("row_idx"),
        F.col("col_idx").cast("long").alias("col_idx"),
        F.trim("raw").alias("value"),
        classify_cell(F.col("raw")).alias("cell_type"),
        (F.col("row_idx") == 0).alias("is_header"),
    )


def _summarized(docs: DataFrame) -> DataFrame:
    """``table_rows`` of the tables with a header and at least one data
    row, plus the A8/A9 summary columns."""
    rows = F.col("rows")
    header = rows[0]
    typed = (
        table_rows(docs)
        .filter(F.size(rows) >= 2)
        .withColumn(
            "types",
            F.transform(
                F.flatten(F.slice(rows, 2, F.size(rows))), classify_cell
            ),
        )
    )
    types = F.col("types")

    def _share(*names: str) -> Column:
        hits = F.size(F.filter(types, lambda t: t.isin(*names)))
        return hits / F.size(types)

    hdrs = F.array_distinct(F.transform(header, F.lower))

    def _hint(words: tuple[str, ...]) -> Column:
        return F.size(F.array_intersect(hdrs, F.array(*map(F.lit, words)))) > 0

    ttype = (
        F.when(_share("currency", "number") > 0.5, "financial")
        .when(_share("boolean") > 0.2, "compliance")
        .when(_share("date") > 0.2, "schedule")
        .when(_hint(FINANCIAL_HEADERS), "financial")
        .when(_hint(SCHEDULE_HEADERS), "schedule")
        .when(_hint(COMPLIANCE_HEADERS), "compliance")
        .otherwise("data")
    )
    # A9 var_pop of the per-row cell counts, header row included, via
    # the exact closed form (n·Σx² − (Σx)²)/n² with exact integer sums:
    # the engines' Welford-merge orders differ at the last ulp, and the
    # counts are integral, so the integer form is both exact and
    # order-independent (same hazard class as functions/exact.py; the
    # DuckDB twin mirrors the expression)
    zero = F.lit(0).cast("long")
    n = F.size(rows).cast("long")
    s = F.aggregate(rows, zero, lambda acc, r: acc + F.size(r))
    ss = F.aggregate(rows, zero, lambda acc, r: acc + F.size(r) * F.size(r))
    variance = F.round((n * ss - s * s).cast("double") / (n * n).cast("double"), 6)
    title = F.nullif(
        F.trim(F.regexp_extract(F.col("text"), TITLE_RE, 1)), F.lit("")
    )
    return typed.select(
        "table_id",
        "rows",
        (F.size(rows) - 1).cast("long").alias("n_rows"),
        F.size(header).cast("long").alias("n_cols"),
        ttype.alias("table_type"),
        variance.alias("col_count_variance"),
        title.alias("title"),
    )


def table_summary(docs: DataFrame) -> DataFrame:
    """A8 type classification + A9 column-count variance + title, one
    row per table with a header and at least one data row.

    Type rule (table_extractor.py:445-483): over DATA cells —
    financial if (currency+number)/total > .5; compliance if
    boolean/total > .2; schedule if date/total > .2; else header hints;
    else 'data'."""
    return _summarized(docs).drop("rows")


def table_texts(docs: DataFrame) -> DataFrame:
    """F18 (table_extractor.py:493-552): dual representations —
    CSV-like structured_text and a one-sentence semantic description."""
    rows = F.col("rows")
    return _summarized(docs).select(
        "table_id",
        F.array_join(
            F.transform(rows, lambda r: F.array_join(r, ", ")), "\n"
        ).alias("structured_text"),
        F.concat(
            F.lit("A "),
            F.col("table_type"),
            F.lit(" table with columns "),
            F.array_join(rows[0], ", "),
            F.lit(" and "),
            F.col("n_rows").cast("string"),
            F.lit(" data rows."),
        ).alias("semantic_description"),
    )


# fixture tables for the oracle-checked entries (the synthetic corpus
# has no tables); apostrophe-free for SQL VALUES embedding
TABLE_FIXTURES: tuple[tuple[int, str], ...] = (
    (1,
     "Table 1: Revenue by Quarter\n"
     "| Quarter | Revenue | Growth |\n"
     "|---------|---------|--------|\n"
     "| Q1 2023 | $1,200.00 | 5.2% |\n"
     "| Q2 2023 | $1,350.50 | 12.5% |\n"
     "| Q3 2023 | $1,500.00 | 11.1% |"),
    (2,
     "| Task | Due | Complete |\n"
     "| Filing | 1/15/2024 | yes |\n"
     "| Review | 2/28/2024 | no |\n"
     "| Audit | 3/30/2024 | x |"),
    (3, "no table in this document at all"),
)


def fixtures_df(spark):
    return local_frame(spark, TABLE_FIXTURES, "table_id long, text string")


def fixtures_values_sql() -> str:
    rows = ", ".join(
        "({}, '{}')".format(i, t.replace("\n", "\\n")) for i, t in TABLE_FIXTURES
    )
    return (
        f"(SELECT table_id, replace(text, '\\n', chr(10)) AS text "
        f"FROM (VALUES {rows}) AS v(table_id, text))"
    )


def dedup_overlapping_regions(regions: DataFrame) -> DataFrame:
    """W5 (table_extractor.py:270-288): regions sorted by start; a
    region overlapping the last KEPT region replaces it only when its
    confidence is higher, else it is dropped.

    The keep-set depends on prior keep decisions (not expressible as a
    single window), so it runs in Python — but NOT as one pandas group
    per document: ``groupBy().applyInPandas`` costs a group dispatch
    per doc (13.9s for 20k docs at sf0.1). Instead the input is
    hash-partitioned on document and sorted (doc, start, end) within
    partitions, and a single ``mapInPandas`` pass walks each Arrow
    batch linearly, resetting state at document boundaries. Rows of
    one document can straddle two Arrow batches, so the walk carries
    the trailing (possibly incomplete) document over to the next batch.
    One shuffle, O(rows) Python per partition, no per-group overhead.

    Input/output: (document_id, start, end, confidence)."""
    import pandas as pd

    def _walk(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["document_id"].to_numpy()
        starts = pdf["start"].to_numpy()
        ends = pdf["end"].to_numpy()
        confs = pdf["confidence"].to_numpy()
        kept: list[int] = []
        cur_doc = None
        for i in range(len(pdf)):
            if ids[i] != cur_doc:
                cur_doc = ids[i]
                kept.append(i)
            elif starts[i] < ends[kept[-1]]:
                if confs[i] > confs[kept[-1]]:
                    kept[-1] = i
            else:
                kept.append(i)
        return pdf.iloc[kept]

    def keep_batches(it):
        carry = None
        for pdf in it:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if pdf.empty:
                continue
            last_doc = pdf["document_id"].iloc[-1]
            tail_mask = pdf["document_id"] == last_doc
            carry = pdf[tail_mask]
            head = pdf[~tail_mask]
            if not head.empty:
                yield _walk(head)
        if carry is not None and not carry.empty:
            yield _walk(carry)

    sorted_regions = regions.repartition("document_id").sortWithinPartitions(
        "document_id", "start", "end"
    )
    return sorted_regions.mapInPandas(keep_batches, schema=regions.schema)


def synthetic_regions(documents: DataFrame) -> DataFrame:
    """Derive a deterministic per-document region set from the
    ``documents`` table so W5 can be oracle-checked at data scale
    (unit tests pin the keep rules on hand-built regions).

    Four regions per doc, starts strictly increasing by 200 (so the
    sort inside the keep-walk has no ties and is engine-independent);
    end/confidence vary by integer arithmetic on ``n_chars``, which
    both Spark and DuckDB compute identically (pure int modulo, one
    final exact int/100.0 division). Roughly half of adjacent pairs
    overlap, exercising both keep rules."""
    i = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i")
    base = documents.select(
        F.col("doc_id").alias("document_id"), "n_chars", i
    )
    start = (F.col("i") * 200 + F.col("n_chars") % 100).cast("long")
    end = (
        start + 150 + (F.col("n_chars") * (F.col("i") + 2)) % 120
    ).cast("long")
    conf = (
        ((F.col("n_chars") * (F.col("i") * 31 + 17)) % 100) / F.lit(100.0)
    ).alias("confidence")
    return base.select(
        "document_id", start.alias("start"), end.alias("end"), conf
    )
