"""Event analytics over the clickstream table (engine extension —
SURVEY §2.11: the reference has no streams; its ingestion is
request-driven batch, master_pipeline.py:772-845). Every function is a
batch transformation that the DuckDB oracle checks.

Scale notes: the tumbling aggregation is keyed on (window, event_type)
— bounded state per window, O(#types × #windows) output rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rag_database_spark.functions.exact import exact_sum


def hourly_event_agg(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event type: count, value sum, exact
    user reach."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            # exact decimal sum: order-independent across engines (value is
            # 2dp data; see functions/exact.py)
            F.round(exact_sum("value"), 6).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization (window algebra, oracle-checked)
# ---------------------------------------------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


def sessionize(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Batch sessionization: per user, a new session starts when the
    gap to the previous event exceeds ``gap_us``. Two windows (lag +
    running sum) and one aggregate — all keyed on user_id, one shuffle.

    Output: (user_id, session_id, session_start, session_end,
    n_events, total_value)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    new_session = F.when(
        gap.isNull() | (gap > gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_session = events.withColumn(
        "session_id", F.sum(new_session).over(run).cast("long")
    )
    return with_session.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(exact_sum("value"), 6).alias("total_value"),
    )


ATTRIBUTION_WINDOW_US = 60 * 60 * 1_000_000  # 1-hour last-touch window


def attribute_conversions(
    events: DataFrame, window_us: int = ATTRIBUTION_WINDOW_US
) -> DataFrame:
    """Last-touch conversion attribution (batch form, oracle-checked):
    each purchase joins the latest click by the same user within the
    attribution window. One shuffle keyed user_id for the interval
    join, one window for the last-touch pick."""
    from pyspark.sql import Window

    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        "value",
    )
    c_us = F.unix_micros(F.col("click_ts").cast("timestamp"))
    p_us = F.unix_micros(F.col("purchase_ts").cast("timestamp"))
    joined = purchases.join(clicks, "user_id").filter(
        (c_us <= p_us) & (c_us > p_us - window_us)
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.desc("click_ts"), F.desc("click_id")
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "purchase_id", "user_id", "purchase_ts", "click_id",
            "click_ts", "value",
        )
    )


# ---------------------------------------------------------------------------
# Behavioral analytics: ordered funnel + weekly cohort retention
# ---------------------------------------------------------------------------

FUNNEL_STEPS = ("view", "click", "purchase")


def funnel(
    events: DataFrame,
    steps: tuple[str, ...] = FUNNEL_STEPS,
    within_us: int | None = None,
) -> DataFrame:
    """Ordered conversion funnel: a user reaches step k only via an
    event of that type STRICTLY AFTER their step-(k-1) time (earliest
    qualifying occurrence wins, so the result is deterministic and
    oracle-able). ``within_us`` additionally caps each step-to-step
    gap (the "click within an hour of the view" business rule) —
    integer µs arithmetic, engine-portable. Returns one row per step:
    (step_idx, step, n_users, conversion-vs-step-1 rounded 6dp).

    Scale: each step is one equi-join on user_id plus a keyed min —
    the step chain stays co-partitioned on the user key after the
    first shuffle, and the per-step totals are 1-row aggregates
    (broadcast for the rate column). Event volume per step shrinks
    monotonically; nothing corpus-sized crosses the driver."""
    prev = None
    step_counts = []
    for i, s in enumerate(steps):
        ev = events.filter(F.col("event_type") == s).select("user_id", "ts")
        if prev is None:
            cur = ev.groupBy("user_id").agg(F.min("ts").alias("t"))
        else:
            after = F.col("ts") > F.col("t")
            if within_us is not None:
                after = after & (
                    F.unix_micros(F.col("ts"))
                    <= F.unix_micros(F.col("t")) + F.lit(within_us)
                )
            cur = (
                ev.join(prev, "user_id")
                .filter(after)
                .groupBy("user_id")
                .agg(F.min("ts").alias("t"))
            )
        step_counts.append(
            cur.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit(i + 1).cast("long").alias("step_idx"),
                F.lit(s).alias("step"),
                "n",
            )
        )
        prev = cur
    from functools import reduce

    res = reduce(lambda a, b: a.unionByName(b), step_counts)
    base = step_counts[0].select(F.col("n").alias("n1"))
    return res.crossJoin(F.broadcast(base)).select(
        "step_idx",
        "step",
        F.col("n").cast("bigint").alias("n_users"),
        F.round(
            F.when(
                F.col("n1") > 0, F.col("n") / F.col("n1")
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("conversion"),
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: users grouped by the Monday-truncated
    week of their FIRST event, counted distinct in each later activity
    week — the (cohort_week, week_offset, n_users) retention triangle.
    Week offsets are exact (both weeks are Monday-aligned, so the day
    difference is an exact multiple of 7).

    Scale: one keyed min per user, one join back on user_id, one
    (cohort, offset) rollup — three shuffles total, all map-side
    combinable."""
    firsts = events.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    joined = events.select("user_id", "ts").join(firsts, "user_id")
    return (
        joined.select(
            "user_id",
            # to_date: DuckDB's date_trunc('week') yields DATE, Spark's
            # a midnight TIMESTAMP — align the hash representation
            F.to_date(F.date_trunc("week", F.col("first_ts"))).alias(
                "cohort_week"
            ),
            F.to_date(F.date_trunc("week", F.col("ts"))).alias(
                "activity_week"
            ),
        )
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(F.col("activity_week"), F.col("cohort_week")) / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


