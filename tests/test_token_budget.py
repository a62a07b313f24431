"""token_budget_select and its weighted_prefix vs a brute-force python
computation of the prefix rule — including empty docs, tie-heavy
scores, crowded and empty q_score buckets, and degenerate budgets."""

from __future__ import annotations

import random

import pytest

from rag_database_spark.operators import text_analytics as ta


def _corpus(rng, n, empties=True):
    words = ["alpha", "beta", "gamma", "the", "and", "data", "spark",
             "42", "!!", "quality"]
    rows = []
    for i in range(n):
        if empties and rng.random() < 0.1:
            rows.append((i, ""))
        else:
            k = rng.randint(1, 30)
            rows.append((i, " ".join(rng.choice(words) for _ in range(k))))
    return rows


def _brute(spark_scored, frac):
    """Apply the prefix rule in python to the engine's own (q, n)
    annotations — isolates the SELECTION logic from the scoring."""
    num = round(frac * 1000)
    total = sum(n for _, _, n in spark_scored)
    budget = total * num // 1000
    out, cum = set(), 0
    for doc_id, q, n in sorted(spark_scored, key=lambda r: (-r[1], r[0])):
        if cum + n <= budget:
            cum += n
            out.add(doc_id)
        else:
            break
    return out


def _scored_rows(spark, rows):
    from pyspark.sql import functions as F
    from rag_database_spark.functions.text import quality_score, token_count_ws

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return [
        (r["doc_id"], r["q"], r["n"])
        for r in df.select(
            "doc_id",
            F.round(quality_score(F.col("text")), 6).alias("q"),
            token_count_ws(F.col("text")).cast("long").alias("n"),
        ).collect()
    ]


def _selected(df, frac):
    return {r["doc_id"] for r in ta.token_budget_select(df, frac).collect()}


@pytest.mark.parametrize("frac", [0.0, 0.3, 0.6, 0.9, 1.0])
def test_matches_brute(spark, frac):
    rng = random.Random(7041 + int(frac * 10))
    rows = _corpus(rng, 80)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert _selected(df, frac) == _brute(_scored_rows(spark, rows), frac)


def test_crossing_inside_crowded_tie_bucket(spark):
    """30 identical documents share one q_score, so one bucket holds
    them all; every budget below crosses inside that bucket, and the
    selection must still be the exact doc_id prefix of the tie run."""
    rng = random.Random(5)
    rows = _corpus(rng, 10, empties=False) + [
        (100 + i, "the data and the spark of quality") for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scored = _scored_rows(spark, rows)
    tied = {i for i, _, _ in scored if i >= 100}
    for frac in (0.2, 0.4, 0.6):
        want = _brute(scored, frac)
        assert 0 < len(want & tied) < len(tied), frac  # crossing in the run
        assert _selected(df, frac) == want, frac


def test_empty_buckets_between_documents(spark):
    """Scores far apart leave empty q_score buckets between documents:
    each bucket's offset must still count every heavier bucket."""
    rows = [
        (0, "!!! ### $$$"),
        (1, "the and of the data"),
        (2, "spark"),
        (3, "the quick brown fox jumps over the lazy dog " * 6),
        (4, ""),
        (5, "?? data ??"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scored = _scored_rows(spark, rows)
    buckets = sorted({int(q * ta.PREFIX_BUCKETS) for _, q, _ in scored})
    assert buckets[-1] - buckets[0] >= len(buckets)  # gaps exist
    for frac in (0.0, 0.2, 0.5, 0.8, 1.0):
        assert _selected(df, frac) == _brute(scored, frac), frac


def test_weighted_prefix_is_the_exact_running_sum(spark):
    """Every row's prefix, in both orders, over a crowded tied bucket,
    distinct scores inside one bucket, empty buckets and a NULL score
    (which sorts first ascending and last descending)."""
    from pyspark.sql import functions as F

    eps = 1.0 / ta.PREFIX_BUCKETS
    rows = (
        [(i, 0.5, i % 4) for i in range(20)]
        + [(20 + i, 0.5 + eps * (i + 1) / 12, 3) for i in range(10)]
        + [(40, 0.0, 5), (41, 0.999, 2), (42, 1.0, 1), (43, None, 7)]
    )
    df = spark.createDataFrame(rows, "doc_id long, q_score double, w long")
    total = sum(w for _, _, w in rows)
    for descending, order in (
        (True, lambda r: (r[1] is None, -(r[1] or 0.0), r[0])),
        (False, lambda r: (r[1] is not None, r[1] or 0.0, r[0])),
    ):
        want, cum = {}, 0
        for doc_id, _, w in sorted(rows, key=order):
            cum += w
            want[doc_id] = cum
        got = ta.weighted_prefix(df, F.col("w"), descending).collect()
        assert {r["doc_id"]: r["__prefix"] for r in got} == want
        assert {r["__total"] for r in got} == {total}


def test_tie_heavy_scores(spark):
    # identical text -> identical q_score for every doc: the band is
    # one giant tie block; selection must still be the doc_id prefix
    rows = [(i, "same same same text here") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(_selected(df, 0.5))
    # 40 docs x 5 tokens = 200 total, budget 100 -> exactly 20 docs,
    # lowest doc_ids first (tie-break doc_id ASC)
    assert got == list(range(20))


def test_partition_invariance(spark):
    rng = random.Random(99)
    rows = _corpus(rng, 60)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert _selected(df, 0.6) == _selected(df.repartition(7), 0.6)


def test_weight_skew_matches_brute(spark):
    """Token mass concentrated in high-quality (long) docs puts the
    crossing far from the uniform-tokens doc fraction."""
    rows = [
        (i, " ".join(f"w{j % 7}" for j in range(i % 40 + 1)))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert _selected(df, 0.5) == _brute(_scored_rows(spark, rows), 0.5)


def test_zero_token_docs_ride_free(spark):
    # empty docs sort wherever their q lands; they never consume budget
    rows = [(0, "aaa bbb ccc ddd"), (1, ""), (2, "eee fff")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scored = _scored_rows(spark, rows)
    for frac in (0.0, 0.4, 0.7, 1.0):
        assert _selected(df, frac) == _brute(scored, frac), frac
