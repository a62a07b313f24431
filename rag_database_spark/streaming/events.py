"""Structured Streaming ingestion + windowed analytics (engine
extension — SURVEY §2.11: the reference has no streams; its ingestion
is request-driven batch, master_pipeline.py:772-845. The streaming path
reuses the SAME transformations via foreachBatch, so batch and stream
stay semantically identical — the batch form is what the DuckDB oracle
checks).

Scale notes: the tumbling aggregation is keyed on (window, event_type)
— bounded state per window; the watermark bounds how long state is
retained, so a perpetual stream holds O(#types × #open windows) rows of
state per executor. File-source streaming scales by listing parallelism
and maxFilesPerTrigger back-pressure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rag_database_spark.functions.exact import exact_sum

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
DEFAULT_WATERMARK = "2 hours"


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream with an explicit schema (streams cannot
    infer). ``maxFilesPerTrigger`` is the back-pressure knob."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def hourly_event_agg(events: DataFrame, exact_users: bool = True) -> DataFrame:
    """Tumbling 1-hour windows per event type: count, value sum, user
    reach. Works identically on a batch frame (the oracle-checked form)
    and a stream (add ``with_watermark`` first).

    ``exact_users=False`` switches to ``approx_count_distinct`` — the
    streaming-legal and 100 TB-friendly form (exact distinct is
    unsupported in streaming aggregation and shuffles every user id)."""
    users = (
        F.countDistinct("user_id")
        if exact_users
        else F.approx_count_distinct("user_id")
    )
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            # exact decimal sum: order-independent across engines (value is
            # 2dp data; see functions/exact.py)
            F.round(exact_sum("value"), 6).alias("sum_value"),
            users.alias("n_users"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


def with_watermark(
    events: DataFrame, delay: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Late-data policy: rows later than ``delay`` behind the max seen
    event time are dropped and their windows finalized."""
    return events.withWatermark("ts", delay)


def stream_hourly_to_memory(
    spark: SparkSession, src_path: str, query_name: str
):
    """Run the hourly aggregation over all currently-available files
    (availableNow trigger) into an in-memory sink — the test/demo
    topology. Returns the StreamingQuery (caller awaits termination)."""
    stream = with_watermark(read_event_stream(spark, src_path))
    return (
        hourly_event_agg(stream, exact_users=False)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )


def stream_upsert_table(
    spark: SparkSession,
    src_path: str,
    table,
    schema: str,
    order_col: str,
):
    """CDC-style streaming upsert: each micro-batch is reduced to its
    LAST change per key (max ``order_col`` wins — micro-batch replay
    must be idempotent, so the reduction happens before the write),
    then upserted into a merge-on-read ``TombstoneTable``. The
    delete-first upsert keeps the whole history append-only; a
    periodic ``compact()`` folds tombstones back into the base.

    This is the Spark-native form of the reference's delete-first
    re-ingest (metadata_store.py:799-847) driven from a stream."""
    from pyspark.sql import Window

    key = table.key_col

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(key).orderBy(F.desc(order_col))
        last = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # project onto the table's schema: change-log-only columns
        # (like the ordering sequence) must not leak into base files —
        # append() rejects schema drift outright. The order column is
        # dropped unconditionally so the FIRST micro-batch (which may
        # bootstrap an empty table, base is None) can't bake it into
        # the table schema and poison every later clean append.
        from rag_database_spark.sources.acid import COMMIT_COL

        base = table._base()
        if base is not None:
            last = last.select(
                *[c for c in base.columns if c != COMMIT_COL]
            )
        else:
            last = last.drop(order_col, COMMIT_COL)
        table.upsert(last)

    return (
        spark.readStream.schema(schema)
        .parquet(src_path)
        .writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", str(table.root / "_upsert_checkpoint")
        )
        .start()
    )


def stream_ingest_documents(
    spark: SparkSession, src_path: str, dst_path: str, schema: str
):
    """S14-analog incremental ingest: each micro-batch of documents runs
    the SAME chunk pipeline as batch ingest and appends parquet —
    foreachBatch reuse keeps stream/batch semantics identical."""
    from rag_database_spark.operators.chunking import chunk_pipeline

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        chunk_pipeline(batch_df).write.mode("append").parquet(dst_path)

    return (
        spark.readStream.schema(schema)
        .parquet(src_path)
        .writeStream.foreachBatch(_ingest)
        .trigger(availableNow=True)
        .option("checkpointLocation", dst_path + "_checkpoint")
        .start()
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization: batch (window algebra, oracle-checked) and
# stateful streaming (applyInPandasWithState) forms of the same semantics
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


SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_id long, session_start timestamp, "
    "session_end timestamp, n_events long, total_value double"
)
SESSION_STATE_SCHEMA = "last_us long, session_id long"


def sessionize_stream(
    events: DataFrame,
    gap_us: int = SESSION_GAP_US,
    expire_state: bool = False,
):
    """Streaming form via applyInPandasWithState: per-user state keeps
    (last event time, current session ordinal); each micro-batch folds
    its events into sessions and emits the batch's session aggregates.
    Same gap rule as the batch form — the state is exactly what the
    lag window carries implicitly.

    ``expire_state=True`` switches to EventTimeTimeout (requires a
    watermarked input): once the watermark passes a user's last event
    plus the gap, that user's state is dropped. Without it, per-user
    state lives forever — the 100 TB stream holds state for every user
    ever seen; with it, state is O(active users in the gap horizon)."""
    import pandas as pd

    def fold(key, pdf_iter, state):
        (user_id,) = key
        if expire_state and state.hasTimedOut:
            # watermark passed last_event + gap: the session cannot be
            # extended, and its rows were already emitted eagerly —
            # just drop the state
            state.remove()
            yield pd.DataFrame(
                columns=[
                    "user_id", "session_id", "session_start",
                    "session_end", "n_events", "total_value",
                ]
            )
            return
        last_us, session_id = (
            state.get if state.exists else (None, 0)
        )
        rows = []
        cur = None  # (start_us, end_us, n, total)
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        if chunks:
            # events may arrive split across several Arrow batches in
            # arbitrary order — sort the whole group once
            merged = pd.concat(chunks).sort_values(["ts", "event_id"])
            for ts, value in zip(merged["ts"], merged["value"]):
                us = int(ts.value // 1000)  # pandas ns → µs
                if last_us is None or us - last_us > gap_us:
                    if cur is not None:
                        rows.append(cur)
                    session_id += 1
                    cur = [us, us, 0, 0.0]
                elif cur is None:
                    # session continues from previous batch
                    cur = [us, us, 0, 0.0]
                cur[1] = us
                cur[2] += 1
                cur[3] += float(value)
                last_us = us
        if cur is not None:
            rows.append(cur)
        state.update((last_us, session_id))
        if expire_state and last_us is not None:
            # timeout fires when the event-time watermark passes this
            state.setTimeoutTimestamp((last_us + gap_us) // 1000)
        out = pd.DataFrame(
            [
                (
                    user_id,
                    session_id - len(rows) + 1 + i,
                    pd.Timestamp(r[0] * 1000),
                    pd.Timestamp(r[1] * 1000),
                    r[2],
                    round(r[3], 6),
                )
                for i, r in enumerate(rows)
            ],
            columns=[
                "user_id", "session_id", "session_start", "session_end",
                "n_events", "total_value",
            ],
        )
        yield out

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout" if expire_state else "NoTimeout",
    )


ATTRIBUTION_WINDOW_US = 60 * 60 * 1_000_000  # 1-hour last-touch window


def attribute_conversions(
    events: DataFrame, window_us: int = ATTRIBUTION_WINDOW_US
) -> DataFrame:
    """Last-touch conversion attribution (batch form, oracle-checked):
    each purchase joins the latest click by the same user within the
    attribution window. One shuffle keyed user_id for the interval
    join, one window for the last-touch pick.

    ``attribute_conversions_stream`` is the stream-stream twin over the
    same candidate-join semantics."""
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


def attribute_conversions_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    window: str = "1 hour",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Stream-stream interval join: purchases ⋈ clicks of the same user
    with click_ts ∈ [purchase_ts − window, purchase_ts]. Both sides are
    watermarked, so Spark bounds each side's join state to
    watermark + interval — the state-cleanup contract that makes a
    perpetual two-stream join feasible.

    Emits ALL candidate (purchase, click) pairs: per-key ranking
    windows are unsupported inside a streaming query, so the last-touch
    pick (the batch form's row_number) runs downstream — in
    foreachBatch or on the sink table."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        "value",
    ).withWatermark("purchase_ts", watermark)
    return p.join(
        c,
        F.expr(
            f"user_id = c_user AND click_ts <= purchase_ts AND "
            f"click_ts >= purchase_ts - interval {window}"
        ),
    ).select(
        "purchase_id", "user_id", "purchase_ts", "click_id", "click_ts",
        "value",
    )


def dedup_events_stream(
    events: DataFrame, delay: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Exactly-once event dedup on a stream: watermark bounds the
    dedup state (ids older than the watermark are forgotten), then
    ``dropDuplicates`` on the id + event time. The batch equivalent is
    a plain dropDuplicates — same call, unbounded state."""
    return with_watermark(events, delay).dropDuplicates(["event_id", "ts"])


def sessionize_native(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Built-in ``session_window`` form of ``sessionize`` — the
    Spark-native gap-session operator (streaming-capable with a
    watermark). Boundary semantics differ only at an exact-gap instant
    (half-open window vs strict-greater rule); window end is
    last-event + gap rather than last-event time."""
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(exact_sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


def stream_dedup_gate(
    spark: SparkSession,
    src_path: str,
    accept_path: str,
    quarantine_path: str,
    schema: str,
    index_path: str,
    threshold: float = 0.8,
    max_files_per_trigger: int | None = None,
    pair_path: str | None = None,
    pair_threshold: float = 0.5,
):
    """Online near-duplicate admission gate: each micro-batch of
    incoming documents is probed against the persisted shingle index
    of the already-accepted corpus (``dedup.best_jaccard_vs_index`` —
    batch/stream semantics identical by construction). Documents whose
    best Jaccard ≥ ``threshold`` are written to ``quarantine_path``
    (with their match id and score); the rest are appended to
    ``accept_path`` AND their shingles to the index — so later batches
    dedup against everything accepted before them, not just the
    bootstrap corpus. Intra-batch duplicates are deliberately out of
    scope (that is the batch ``near_dup_pairs`` job's step); the gate
    guards the corpus boundary.

    With ``pair_path`` the gate also maintains the persisted near-dup
    PAIR index online (``dedup.append_pair_index``): each accepted
    slice appends its cross pairs vs the pre-batch corpus plus its
    within-slice pairs at ``pair_threshold`` (typically below the
    quarantine threshold — accepted docs can still be pair-linked),
    keeping the artifact equal to a full rebuild over everything
    accepted so far (unit-pinned).

    Replay-idempotent: foreachBatch is at-least-once, so every sink
    (accept, quarantine, pairs, shingle index) is written as an
    ``ingest_batch=<batch_id>`` hive partition via dynamic-partition
    overwrite (``dedup._write_slice``) — a replayed micro-batch
    rewrites exactly its own slice instead of double-appending. The
    probe likewise excludes the batch's own slice from the index it
    reads, so a replay (whose shingles the failed attempt already
    wrote) does not self-match at jaccard 1.0 (unit-pinned:
    tests/test_streaming_multimodal.py replay test).

    Scale: the probe broadcasts only the micro-batch's shingles; the
    index is scanned, never shuffled, and grows by appended parquet
    partitions (same merge-on-read shape as ``bm25.append_index``)."""

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        dedup_gate_batch(
            batch_df, batch_id, accept_path, quarantine_path,
            index_path, threshold, pair_path, pair_threshold,
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(src_path)
        .writeStream.foreachBatch(_gate)
        .trigger(availableNow=True)
        .option("checkpointLocation", accept_path + "_checkpoint")
        .start()
    )


def dedup_gate_batch(
    batch_df: DataFrame,
    batch_id: int,
    accept_path: str,
    quarantine_path: str,
    index_path: str,
    threshold: float,
    pair_path: str | None = None,
    pair_threshold: float = 0.5,
) -> None:
    """One micro-batch of the admission gate (the foreachBatch body of
    ``stream_dedup_gate``, module-level so replay can be unit-tested by
    calling it twice with the same ``batch_id``). Every sink write goes
    through ``dedup._write_slice(…, batch_id)`` — an
    ``ingest_batch=<id>`` partition overwritten dynamically — and the
    index probe filters out ``ingest_batch == batch_id``, so re-running
    a batch (at-least-once replay) reproduces byte-identical artifacts
    instead of double-appending or self-matching."""
    from rag_database_spark.operators import dedup as dd

    spark = batch_df.sparkSession
    batch_df = batch_df.persist()
    verdict = None

    def _standing_index():
        # the index minus this batch's own slice: a replayed batch's
        # shingles are already on disk (written by the failed attempt)
        # and probing against them would self-match everything at 1.0;
        # read_shingle_index also absorbs the mixed flat+partitioned
        # layout an upgraded-in-place stream leaves behind
        return dd.read_shingle_index(
            spark, index_path, exclude_batch=batch_id
        )

    try:
        # flat legacy layout commits a root _SUCCESS; dynamic-partition
        # overwrite (the gate's own slices) does NOT — it only creates
        # ingest_batch=N dirs, so check for either
        has_index = dd.slice_root_has_index(spark, index_path)
        if has_index:
            verdict = dd.best_jaccard_vs_index(
                batch_df, _standing_index()
            ).persist()
            dup_ids = verdict.filter(F.col("best_jaccard") >= threshold)
            accepted = batch_df.join(
                dup_ids.select("doc_id"), "doc_id", "left_anti"
            )
            # _write_slice skips zero-row slices (deterministic probe,
            # so a replay makes the same decision)
            dd._write_slice(
                batch_df.join(dup_ids, "doc_id"), quarantine_path, batch_id
            )
        else:
            accepted = batch_df
        dd._write_slice(accepted, accept_path, batch_id)
        if pair_path is not None and has_index:
            # writes the accepted slice's cross+within pairs AND its
            # shingle rows, each as this batch's partition (the index
            # grows inside the call; replay overwrites the same slice)
            dd.append_pair_index(
                accepted, pair_path, index_path, pair_threshold,
                batch_id=batch_id,
            )
        else:
            if pair_path is not None:
                # bootstrap: no standing index yet — only within-slice
                # pairs exist
                dd._write_slice(
                    dd.shingle_jaccard_pairs(
                        accepted, pair_threshold
                    ).repartition("id_a"),
                    pair_path,
                    batch_id,
                )
            dd._write_slice(
                dd._doc_shingles(
                    accepted, "doc_id", "text", dd.SHINGLE_K
                ).select("doc_id", F.explode("sh").alias("s")),
                index_path,
                batch_id,
            )
    finally:
        # drop per-batch cache entries — a long-running stream would
        # otherwise accumulate one pinned verdict per micro-batch
        if verdict is not None:
            verdict.unpersist()
        batch_df.unpersist()


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


def funnel_stream(
    events: DataFrame, steps: tuple[str, ...] = FUNNEL_STEPS
) -> DataFrame:
    """Streaming form of ``funnel`` via applyInPandasWithState: per
    user, the state is the tuple of step-attainment times (µs, None
    for unreached); each micro-batch folds its events in (ts,
    event_id) order — the first qualifying occurrence of step k
    strictly after the step-(k-1) time is exactly the batch form's
    per-step min when events arrive in event-time order. Emits the
    user's contiguous steps-reached count per micro-batch; the latest
    row per user is the funnel position (the per-step totals are one
    groupBy over that snapshot).

    State is O(steps) longs per user — bounded regardless of event
    volume. Ordering caveat (inherent to one-pass streaming funnels):
    an event arriving AFTER a later-step event that it would have
    re-qualified is not reconsidered; feed event-time-ordered batches
    (or replay) for exact batch agreement, as the agreement test
    does."""
    import pandas as pd

    k = len(steps)
    step_idx = {s: i for i, s in enumerate(steps)}
    state_schema = ", ".join(f"t{i} long" for i in range(k))

    def fold(key, pdf_iter, state):
        (user_id,) = key
        reached = list(state.get) if state.exists else [None] * k
        chunks = [p for p in pdf_iter if not p.empty]
        if chunks:
            merged = pd.concat(chunks).sort_values(["ts", "event_id"])
            for ts, et in zip(merged["ts"], merged["event_type"]):
                i = step_idx.get(et)
                if i is None or reached[i] is not None:
                    continue
                us = int(ts.value // 1000)
                if i == 0:
                    reached[0] = us
                elif reached[i - 1] is not None and us > reached[i - 1]:
                    reached[i] = us
        state.update(tuple(reached))
        n = 0
        for t in reached:
            if t is None:
                break
            n += 1
        yield pd.DataFrame(
            [(user_id, n)], columns=["user_id", "steps_reached"]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id long, steps_reached integer",
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def vector_gate_batch(
    batch_df: DataFrame,
    batch_id: int,
    accept_path: str,
    quarantine_path: str,
    index_path: str,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch of the EMBEDDING admission gate — the vector
    twin of ``dedup_gate_batch``: incoming vectors are probed against
    the accepted-vector index with ``similarity.best_cosine_match``
    (batch broadcasts, index never shuffles); rounded best cosine ≥
    ``threshold`` quarantines (with match id + score), the rest append
    to the corpus AND the index so later batches gate against them.

    Replay-idempotent by the same construction as the text gate: every
    sink is an ``ingest_batch=<id>`` slice via ``dedup._write_slice``
    and the probe reads the index MINUS this batch's own slice, so an
    at-least-once replay reproduces byte-identical artifacts instead
    of double-appending or self-matching at cosine 1.0."""
    from rag_database_spark.operators import dedup as dd
    from rag_database_spark.operators.similarity import best_cosine_match

    spark = batch_df.sparkSession
    batch_df = batch_df.persist()
    verdict = None
    try:
        has_index = dd.slice_root_has_index(spark, index_path)
        if has_index:
            standing = dd._read_slices(
                spark, index_path, [id_col, vec_col],
                exclude_batch=batch_id,
            )
            verdict = best_cosine_match(
                batch_df, standing, id_col=id_col, vec_col=vec_col
            ).withColumnRenamed("id", id_col).persist()
            dup_ids = verdict.filter(
                F.col("best_cosine") >= threshold
            )
            accepted = batch_df.join(
                dup_ids.select(id_col), id_col, "left_anti"
            )
            dd._write_slice(
                batch_df.join(dup_ids, id_col), quarantine_path, batch_id
            )
        else:
            accepted = batch_df
        dd._write_slice(accepted, accept_path, batch_id)
        dd._write_slice(
            accepted.select(id_col, vec_col), index_path, batch_id
        )
    finally:
        batch_df.unpersist()
        if verdict is not None:
            verdict.unpersist()


def stream_vector_gate(
    spark: SparkSession,
    src_path: str,
    accept_path: str,
    quarantine_path: str,
    schema: str,
    index_path: str,
    threshold: float = 0.9,
    max_files_per_trigger: int | None = None,
):
    """Online embedding-dedup admission gate (the streaming form of
    the ``vector_ingest_gate`` entry): each micro-batch of incoming
    vectors gates against everything accepted before it. Semantics are
    ``vector_gate_batch``'s — stream==batch by construction, and the
    batch form is what the DuckDB oracle checks."""

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        vector_gate_batch(
            batch_df, batch_id, accept_path, quarantine_path,
            index_path, threshold,
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(src_path)
        .writeStream.foreachBatch(_gate)
        .trigger(availableNow=True)
        .option("checkpointLocation", accept_path + "_checkpoint")
        .start()
    )


def bloom_gate_batch(
    batch_df: DataFrame,
    batch_id: int,
    accept_path: str,
    quarantine_path: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int | None = None,
    k: int | None = None,
) -> None:
    """One micro-batch of the BLOOM admission gate — the
    approximate-membership twin of ``dedup_gate_batch`` (Dolma's dedup
    mechanism run online): incoming docs probe the bit_or-merged union
    of all prior batches' packed bitmap slices; maybe_dup (all k probe
    bits set — no false negatives, FP rate by geometry) quarantines
    with its n_hits, the rest append to the corpus AND contribute
    their own packed bitmap slice so later batches gate against them.

    The standing index the probe reads is ≤ m/32 rows per slice and
    the merge is one partial-aggregated groupBy(word_idx) — at any
    corpus size the probe cost is bounded by the filter geometry, not
    the corpus. Replay-idempotent by the same construction as the
    other gates: every sink is an ``ingest_batch=<id>`` slice and the
    probe excludes this batch's own slice, so an at-least-once replay
    reproduces byte-identical artifacts instead of self-matching."""
    from rag_database_spark.operators import dedup as dd

    m_bits = dd.BLOOM_M_BITS if m_bits is None else m_bits
    k = dd.BLOOM_K if k is None else k
    spark = batch_df.sparkSession
    batch_df = batch_df.persist()
    verdict = None
    try:
        has_index = dd.slice_root_has_index(spark, index_path)
        if has_index:
            slices = dd._read_slices(
                spark, index_path, ["word_idx", "bits"],
                exclude_batch=batch_id,
            )
            fw = slices.groupBy("word_idx").agg(
                F.expr("bit_or(bits)").alias("bits")
            )
            verdict = (
                dd.bloom_gate(batch_df, fw, id_col, text_col, m_bits, k)
                .withColumnRenamed("id", id_col)
                .persist()
            )
            dup_ids = verdict.filter(F.col("maybe_dup"))
            accepted = batch_df.join(
                dup_ids.select(id_col), id_col, "left_anti"
            )
            dd._write_slice(
                batch_df.join(dup_ids, id_col).select(
                    id_col, "n_hits"
                ),
                quarantine_path,
                batch_id,
            )
        else:
            accepted = batch_df  # bootstrap: nothing to gate against
        dd._write_slice(accepted, accept_path, batch_id)
        dd._write_slice(
            dd.bloom_filter_build(accepted, text_col, m_bits, k),
            index_path,
            batch_id,
        )
    finally:
        if verdict is not None:
            verdict.unpersist()
        batch_df.unpersist()
