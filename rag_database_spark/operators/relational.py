"""Relational analytics operators — the reference's FK joins, SQL
views, stats rollups, and paging (J8/J9, A5/A12, P6/T7/T8).

The reference exposes these as Postgres views (init.sql:628-664
``document_overview`` / ``organization_stats``) and ORM rollups
(metadata_store.py:1245-1291 ``get_database_stats``,
:779-796 ``list_documents``). Here each is a declarative DataFrame plan:
joins are equi-joins Catalyst can reorder/broadcast, aggregates get
map-side partial aggregation, and the paging window sorts once.

Scale notes: the overview joins shuffle on the FK (orderkey/custkey) —
at 100 TB both sides would be bucketed on the key to make these
shuffle-free; the dimension side (nation/region) is broadcast. The
stats rollup is a union of independent small aggregates — one job, no
wide shuffle. Paging with a global row_number serializes on one
partition after the per-partition sort; for deep paging at scale a
keyset continuation (WHERE (sort_key, id) > last_seen) avoids it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rag_database_spark.functions.exact import exact_sum


def db_stats(tables: dict[str, DataFrame]) -> DataFrame:
    """A5 (metadata_store.py:1245-1291): one long-format frame of
    (section, key, cnt) — row counts per table plus group-by breakdowns
    of documents (by lang) and events (by type)."""
    parts = []
    for name, df in sorted(tables.items()):
        parts.append(
            df.agg(F.count("*").alias("cnt")).select(
                F.lit("table").alias("section"), F.lit(name).alias("key"), "cnt"
            )
        )
    if "documents" in tables:
        parts.append(
            tables["documents"]
            .groupBy(F.col("lang").alias("key"))
            .agg(F.count("*").alias("cnt"))
            .select(F.lit("doc_lang").alias("section"), "key", "cnt")
        )
    if "events" in tables:
        parts.append(
            tables["events"]
            .groupBy(F.col("event_type").alias("key"))
            .agg(F.count("*").alias("cnt"))
            .select(F.lit("event_type").alias("section"), "key", "cnt")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def customer_overview(customer: DataFrame, orders: DataFrame,
                      lineitem: DataFrame) -> DataFrame:
    """J9/A12 analog of init.sql:628-647 ``document_overview``: the
    parent entity joined to two child tables with per-parent distinct
    counts and sums.

    Aggregate lineitem to order grain FIRST, then join — the classic
    pre-aggregation that keeps the big⋈big join at order grain instead
    of exploding customer×lineitem."""
    # price×(1−discount) lies on a 4-decimal grid: round each row onto
    # the grid (no half-way ties — the double is ~1e-9 off the grid
    # point) and sum EXACTLY as integer 1e-4 units — the same exact,
    # summation-order-independent result the previous decimal(18,4)
    # sum produced, at roughly half the aggregate cost (r17: the
    # decimal accumulator measured 1.14 s vs 0.60 s for a numeric one
    # on this rollup at sf0.1). round4(x) sits within ~1e-9 of k/1e4,
    # so round(round4(x)·1e4) recovers the integer k exactly; long
    # sums are exact far past any decimal(18,4)-representable total.
    row_rev_units = F.round(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
        * 10000,
        0,
    ).cast("long")
    li_per_order = lineitem.groupBy("l_orderkey").agg(
        F.count("*").alias("n_items"),
        F.sum(row_rev_units).alias("rev_units"),
    )
    per_cust = (
        orders.join(li_per_order, orders["o_orderkey"] == li_per_order["l_orderkey"], "left")
        .groupBy("o_custkey")
        .agg(
            # orders ⋈ li_per_order is one row per order (the child side
            # is pre-aggregated to order grain), so a plain count equals
            # count(DISTINCT o_orderkey) without the expand+dedup pass
            F.count("o_orderkey").alias("n_orders"),
            F.sum("n_items").alias("n_lineitems"),
            # exact integer units → one correctly-rounded double
            # division: identical to casting the exact decimal total
            # (both are the nearest double of the same rational)
            (F.sum("rev_units").cast("double") / F.lit(10000.0)).alias(
                "revenue"
            ),
        )
    )
    return (
        customer.join(per_cust, customer["c_custkey"] == per_cust["o_custkey"], "left")
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_lineitems", F.lit(0)).alias("n_lineitems"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
    )


def org_stats(nation: DataFrame, customer: DataFrame, supplier: DataFrame,
              orders: DataFrame) -> DataFrame:
    """A12 analog of init.sql:650-664 ``organization_stats``: per-nation
    entity counts + order volume. Each side is pre-aggregated to nation
    grain, then the tiny per-nation frames join broadcast."""
    cust = customer.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers")
    )
    supp = supplier.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers")
    )
    ords = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(exact_sum("o_totalprice"), 2).alias("total_order_value"),
        )
    )
    return (
        nation.join(F.broadcast(cust), nation["n_nationkey"] == cust["c_nationkey"], "left")
        .join(F.broadcast(supp), nation["n_nationkey"] == supp["s_nationkey"], "left")
        .join(F.broadcast(ords.withColumnRenamed("c_nationkey", "o_nationkey")),
              nation["n_nationkey"] == F.col("o_nationkey"), "left")
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total_order_value", F.lit(0.0)).alias("total_order_value"),
        )
    )


PRICING_CUTOFF = "1998-09-01"


def pricing_summary(spark, lineitem: DataFrame,
                    cutoff: str = PRICING_CUTOFF) -> DataFrame:
    """TPC-H Q1-shaped pricing summary through the SQL API — the
    engine's `spark.sql` surface demo (SURVEY §2 A12 family): scan →
    pushed date filter → grouped aggregates. Catalyst plans it
    identically to the DataFrame form; the entry point is the point."""
    lineitem.createOrReplaceTempView("lineitem_v")
    return spark.sql(f"""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                          AS DOUBLE), 2) AS sum_base_price,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2))))
                          AS DOUBLE), 4)
                 AS sum_disc_price,
               round(avg(l_quantity), 6) AS avg_qty,
               count(*) AS count_order
        FROM lineitem_v
        WHERE l_shipdate <= timestamp '{cutoff}'
        GROUP BY l_returnflag, l_linestatus
    """)


def list_documents(docs: DataFrame, lang: str | None = None,
                   source: str | None = None, offset: int = 0,
                   limit: int = 20) -> DataFrame:
    """P6/T7 (metadata_store.py:779-796): optional equality filters +
    deterministic order + offset/limit paging via row_number.

    Order: (n_chars DESC, doc_id ASC) — the driver tables' analog of
    ``ORDER BY created_at DESC`` with a pinned tie-break."""
    out = docs
    if lang is not None:
        out = out.filter(F.col("lang") == lang)
    if source is not None:
        out = out.filter(F.col("source") == source)
    w = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        out.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter((F.col("rn") > offset) & (F.col("rn") <= offset + limit))
        .select("doc_id", "lang", "source", "n_chars", "rn")
    )


def events_cube(events: DataFrame) -> DataFrame:
    """OLAP CUBE rollup over (event_type, hour): all four
    granularities — per (type, hour), per type, per hour, and the
    grand total — in ONE aggregation. Spark expands the grouping sets
    inside a single exchange with partial aggregation per set, so the
    multi-granularity report costs one shuffle, not four scans; the
    ``grouping_id`` bitmask (leftmost grouping column = most
    significant bit, identical to DuckDB's GROUPING()) disambiguates
    rollup NULLs from genuine NULL keys. The dashboard-rollup surface
    a serving layer precomputes."""
    return (
        events.cube(
            F.col("event_type"),
            F.date_trunc("hour", F.col("ts")).alias("bucket_start"),
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(exact_sum("value"), 6).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def events_profile(events: DataFrame) -> DataFrame:
    """Per-event-type distribution profile: row count, exact distinct
    users, exact value percentiles (p50/p95/p99).

    The EXACT forms verify against the DuckDB oracle (both engines use
    linear-interpolated percentiles — bit-identical on the same data).
    At 100 TB the drop-in scale path is the sketch pair
    ``approx_count_distinct`` (HyperLogLog++, fixed ~kB of state per
    group instead of a distinct-shuffle) and ``approx_percentile``
    (KLL/GK summaries, mergeable map-side) — same plan shape, bounded
    memory; tests/test_sketches.py pins their error against these
    exact forms."""
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_value"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95_value"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99_value"),
        )
    )


def events_profile_approx(events: DataFrame, rsd: float = 0.05) -> DataFrame:
    """Sketch-backed twin of ``events_profile`` — HLL++ distinct and
    quantile summaries; constant state per group, no distinct shuffle."""
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id", rsd).alias("n_users"),
            F.percentile_approx("value", 0.5, 10000).alias("p50_value"),
            F.percentile_approx("value", 0.95, 10000).alias("p95_value"),
            F.percentile_approx("value", 0.99, 10000).alias("p99_value"),
        )
    )


def interval_join(
    events: DataFrame,
    windows: DataFrame,
    band: int,
    ts_col: str = "es",
    start_col: str = "w_start_s",
    end_col: str = "w_end_s",
) -> DataFrame:
    """Bucketized range join: every event row matched to every window
    whose ``[start, end]`` (integer keys, e.g. epoch seconds) contains
    its ``ts`` — the custom operator Spark lacks natively (a naive
    formulation plans as BroadcastNestedLoopJoin and is O(|events| ×
    |windows|)).

    Band trick (the standard range-join optimization): with ``band`` ≥
    the longest window, each window overlaps at most
    ``len/band + 1 ≤ 2`` bands, so the window side explodes to ~2 rows
    while each event belongs to exactly ONE band — the join becomes a
    keyed equi-join on the band id plus a residual between-filter, and
    a matching (event, window) pair meets in exactly the event's band
    (no dedup needed, result is exact). At 100 TB this is one shuffle
    on a uniform integer key instead of a nested-loop scan; plan-tested
    to contain no BroadcastNestedLoopJoin.
    """
    w_banded = windows.withColumn(
        "__band",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / band).cast("long"),
                F.floor(F.col(end_col) / band).cast("long"),
            )
        ),
    )
    e_banded = events.withColumn(
        "__band", F.floor(F.col(ts_col) / band).cast("long")
    )
    return (
        e_banded.join(w_banded, "__band")
        .filter(F.col(ts_col).between(F.col(start_col), F.col(end_col)))
        .drop("__band")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    tolerance_us: int | None = None,
) -> DataFrame:
    """Generic batch AS-OF join: each left row picks the single right
    row with the greatest ``right_ts`` ≤ its ``left_ts`` for the same
    key (the time-series point-in-time join Spark lacks as a builtin;
    DuckDB/kdb expose it natively — the oracle uses DuckDB ASOF JOIN).

    Plan — merge-union, NOT an equi-join + filter: both sides are
    tagged and unioned, ONE hash shuffle on the key, and a running
    ``last(right, ignorenulls)`` over the (ts, side)-ordered window
    carries the latest right payload forward to each left row. Work is
    O(n log n) per key for the sort, independent of match fan-out — a
    join-then-filter plan explodes on hot keys (every purchase × every
    click of a power user) exactly where this stays linear; the same
    skew-safety argument as streaming last-touch attribution
    (streaming/events.py), generalized to unbounded lookback.

    Equal timestamps match (``>=`` semantics): right rows sort before
    left rows at the same instant. Callers wanting deterministic
    results under duplicate (key, ts) right rows should pre-dedupe the
    right side (the window keeps whichever sorted last).

    ``tolerance_us``: optional max age (microseconds); older matches
    become NULL, mirroring pandas ``merge_asof(tolerance=...)``."""
    rstruct = F.struct(*[F.col(c) for c in right.columns])
    r_side = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        rstruct.alias("__r"),
    )
    rtype = r_side.schema["__r"].dataType
    l_side = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(rtype).alias("__r"),
        *[F.col(c) for c in left.columns],
    )
    r_aligned = r_side.select(
        "__k", "__ts", "__side", "__r",
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns],
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        l_side.unionByName(r_aligned)
        .withColumn("__m", F.last("__r", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
    )
    if tolerance_us is not None:
        too_old = (
            F.unix_micros(F.col("__ts").cast("timestamp"))
            - F.unix_micros(F.col(f"__m.{right_ts}").cast("timestamp"))
        ) > tolerance_us
        matched = matched.withColumn(
            "__m", F.when(~too_old, F.col("__m"))
        )
    return matched.select(*left.columns, F.col("__m").alias("matched"))
