"""Table extraction — detect/parse text tables, classify cells and
tables, emit dual text representations (F16/F17/F18, A8/A9;
src/tables/table_extractor.py).

The reference grows table regions row-by-row in Python (:101-288); the
engine parses the common pipe-delimited form in pure column algebra
(posexplode lines → split cells → explode), which covers the
markdown-style tables its own smoke test uses (:676-703). Region
detection by column-count variance (A9, :203-241) is a window
aggregate. Everything is JVM-side; one document row fans out to its
cell rows with no Python."""

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


def parse_pipe_tables(
    docs: DataFrame, id_col: str = "table_id", text_col: str = "text"
) -> DataFrame:
    """F17 (pipe branch): one (doc) row → cell rows
    (table_id, row_idx, col_idx, value, cell_type, is_header).
    Pipe rows minus border rows, cells = inner splits of '|', trimmed;
    row 0 is the header (table_extractor.py:291-416)."""
    lines = docs.select(
        F.col(id_col).alias("table_id"),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("line_no", "line"),
    )
    table_lines = lines.filter(
        F.col("line").rlike(PIPE_ROW_RE) & ~F.col("line").rlike(BORDER_ROW_RE)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("table_id").orderBy("line_no")
    rows = table_lines.withColumn(
        "row_idx", (F.row_number().over(w) - 1).cast("long")
    )
    inner = F.regexp_replace(
        F.regexp_replace(F.col("line"), r"^\s*\|", ""), r"\|\s*$", ""
    )
    cells = rows.select(
        "table_id",
        "row_idx",
        F.posexplode(F.split(inner, r"\|")).alias("col_idx", "raw"),
    ).select(
        "table_id",
        "row_idx",
        F.col("col_idx").cast("long").alias("col_idx"),
        F.trim("raw").alias("value"),
    )
    return cells.select(
        "table_id",
        "row_idx",
        "col_idx",
        "value",
        classify_cell(F.col("value")).alias("cell_type"),
        (F.col("row_idx") == 0).alias("is_header"),
    )


def table_summary(
    cells: DataFrame, docs: DataFrame,
    id_col: str = "table_id", text_col: str = "text",
) -> DataFrame:
    """A8 type classification + A9 column-count variance + title.

    Type rule (table_extractor.py:445-483): over DATA cells —
    financial if (currency+number)/total > .5; compliance if
    boolean/total > .2; schedule if date/total > .2; else header hints;
    else 'data'."""
    data = cells.filter(~F.col("is_header"))
    ratios = data.groupBy("table_id").agg(
        F.count("*").alias("total"),
        F.sum(F.when(F.col("cell_type").isin("currency", "number"), 1).otherwise(0)).alias("fin"),
        F.sum(F.when(F.col("cell_type") == "boolean", 1).otherwise(0)).alias("boo"),
        F.sum(F.when(F.col("cell_type") == "date", 1).otherwise(0)).alias("dat"),
        F.countDistinct("row_idx").alias("n_rows"),
    )
    # A9 variance over ALL table rows (header included) — the region
    # detector's per-line column-count signal
    per_row_cols = cells.groupBy("table_id", "row_idx").agg(
        F.count("*").alias("ncols")
    )
    # var_pop via the exact closed form (n·Σx² − (Σx)²)/n² with exact
    # integer sums: the engines' Welford-merge orders differ at the
    # last ulp, and ncols is integral, so the integer form is both
    # exact and order-independent (same hazard class as
    # functions/exact.py; the DuckDB twin mirrors the expression)
    variance = (
        per_row_cols.groupBy("table_id")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col("ncols").cast("long")).alias("__s"),
            F.sum(
                (F.col("ncols") * F.col("ncols")).cast("long")
            ).alias("__ss"),
        )
        .select(
            "table_id",
            F.round(
                (
                    F.col("__n") * F.col("__ss")
                    - F.col("__s") * F.col("__s")
                ).cast("double")
                / (F.col("__n") * F.col("__n")).cast("double"),
                6,
            ).alias("col_count_variance"),
        )
    )
    headers = (
        cells.filter(F.col("is_header"))
        .groupBy("table_id")
        .agg(
            F.count("*").alias("n_cols"),
            F.collect_set(F.lower("value")).alias("hdrs"),
        )
    )

    def _hint(hdrs: Column, words: tuple[str, ...]) -> Column:
        return F.size(F.array_intersect(hdrs, F.array(*[F.lit(w) for w in words]))) > 0

    titles = docs.select(
        F.col(id_col).alias("table_id"),
        F.nullif(
            F.trim(F.regexp_extract(F.col(text_col), TITLE_RE, 1)), F.lit("")
        ).alias("title"),
    )
    joined = (
        ratios.join(variance, "table_id")
        .join(headers, "table_id")
        .join(titles, "table_id")
    )
    ttype = (
        F.when((F.col("fin") / F.col("total")) > 0.5, "financial")
        .when((F.col("boo") / F.col("total")) > 0.2, "compliance")
        .when((F.col("dat") / F.col("total")) > 0.2, "schedule")
        .when(_hint(F.col("hdrs"), FINANCIAL_HEADERS), "financial")
        .when(_hint(F.col("hdrs"), SCHEDULE_HEADERS), "schedule")
        .when(_hint(F.col("hdrs"), COMPLIANCE_HEADERS), "compliance")
        .otherwise("data")
    )
    return joined.select(
        "table_id",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_cols").cast("long").alias("n_cols"),
        ttype.alias("table_type"),
        "col_count_variance",
        "title",
    )


def table_texts(cells: DataFrame, summary: DataFrame) -> DataFrame:
    """F18 (table_extractor.py:493-552): dual representations —
    CSV-like structured_text and a one-sentence semantic description."""
    row_texts = (
        cells.groupBy("table_id", "row_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("col_idx", "value"))
                    ),
                    lambda s: s["value"],
                ),
                ", ",
            ).alias("row_text")
        )
    )
    structured = (
        row_texts.groupBy("table_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("row_idx", "row_text"))
                    ),
                    lambda s: s["row_text"],
                ),
                "\n",
            ).alias("structured_text")
        )
    )
    header_list = (
        cells.filter(F.col("is_header"))
        .groupBy("table_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("col_idx", "value"))
                    ),
                    lambda s: s["value"],
                ),
                ", ",
            ).alias("header_text")
        )
    )
    return (
        structured.join(header_list, "table_id")
        .join(summary, "table_id")
        .select(
            "table_id",
            "structured_text",
            F.concat(
                F.lit("A "),
                F.col("table_type"),
                F.lit(" table with columns "),
                F.col("header_text"),
                F.lit(" and "),
                F.col("n_rows").cast("string"),
                F.lit(" data rows."),
            ).alias("semantic_description"),
        )
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
