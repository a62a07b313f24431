"""Hand cases for the generic batch AS-OF join (merge-union plan)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from rag_database_spark.operators.relational import asof_join

from plan_inspect import plan_of


def ts(s):
    return datetime(2024, 1, 1, 0, 0, s)


def test_asof_join_hand_case(spark):
    right = spark.createDataFrame(
        [(1, ts(10), "a"), (1, ts(20), "b"), (1, ts(30), "d"),
         (3, ts(5), "z")],
        "user_id long, ts timestamp, q string",
    )
    left = spark.createDataFrame(
        [(1, 100, ts(5)), (1, 101, ts(10)), (1, 102, ts(25)),
         (1, 103, ts(59)), (2, 104, ts(40))],
        "user_id long, trade_id long, ts timestamp",
    )
    out = {
        r["trade_id"]: r["matched"]
        for r in asof_join(left, right, on="user_id").collect()
    }
    assert out[100] is None              # nothing at or before ts=5
    assert out[101]["q"] == "a"          # equal timestamps match (>=)
    assert out[102]["q"] == "b"          # latest prior, not first
    assert out[103]["q"] == "d"
    assert out[104] is None              # key with no right rows
    # left rows all preserved (left-join semantics)
    assert len(out) == 5


def test_asof_join_tolerance_and_partition_invariance(spark):
    right = spark.createDataFrame(
        [(1, ts(10), "a")], "user_id long, ts timestamp, q string"
    )
    left = spark.createDataFrame(
        [(1, 200, ts(12)), (1, 201, ts(50))],
        "user_id long, trade_id long, ts timestamp",
    )
    out = {
        r["trade_id"]: r["matched"]
        for r in asof_join(
            left, right, on="user_id", tolerance_us=5_000_000
        ).collect()
    }
    assert out[200]["q"] == "a"          # 2s old, inside tolerance
    assert out[201] is None              # 40s old, expired
    # reshard both sides: identical result (single keyed window)
    again = {
        r["trade_id"]: r["matched"]
        for r in asof_join(
            left.repartition(7), right.repartition(5),
            on="user_id", tolerance_us=5_000_000,
        ).collect()
    }
    assert again == out


def test_interval_join_equals_naive(spark):
    """The band-bucketized range join must return exactly the naive
    cross-join-filter pairs, across band boundaries and overlapping
    windows, at several band widths."""
    from rag_database_spark.operators.relational import interval_join

    events = spark.createDataFrame(
        [(i, i * 7 % 100) for i in range(40)], "event_id long, es long"
    )
    windows = spark.createDataFrame(
        [(0, 0, 30), (1, 25, 55), (2, 50, 99), (3, 98, 100), (4, 200, 300)],
        "window_id long, w_start_s long, w_end_s long",
    )
    naive = sorted(
        (r["event_id"], r["window_id"])
        for r in events.crossJoin(windows)
        .filter(F.col("es").between(F.col("w_start_s"), F.col("w_end_s")))
        .collect()
    )
    assert naive  # fixture produces matches
    for band in (31, 50, 101, 7):
        # band >= longest window keeps the explode bounded; smaller
        # bands still produce exact results (just more window rows)
        got = sorted(
            (r["event_id"], r["window_id"])
            for r in interval_join(events, windows, band=band).collect()
        )
        assert got == naive, band


def test_interval_join_plan_is_keyed_not_nested_loop(spark):
    from rag_database_spark.operators.relational import interval_join

    events = spark.range(100).select(F.col("id").alias("es"))
    windows = spark.range(10).select(
        F.col("id").alias("window_id"),
        (F.col("id") * 10).alias("w_start_s"),
        (F.col("id") * 10 + 14).alias("w_end_s"),
    )
    df = interval_join(events, windows, band=15)
    p = plan_of(df, "simple")
    assert "BroadcastNestedLoopJoin" not in p
    assert "Join" in p  # a keyed join on the band id
