"""token_budget_select: bracket (sketch-banded) path vs the direct
global-prefix-sum twin vs a brute-force python computation of the
prefix rule — including empty docs, tie-heavy scores, and degenerate
budgets."""

from __future__ import annotations

import random

import pytest

from rag_database_spark.operators import text_analytics as ta

from plan_inspect import executed_plan


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


@pytest.mark.parametrize("frac", [0.0, 0.3, 0.6, 0.9, 1.0])
def test_bracket_equals_window_twin_and_brute(spark, frac):
    rng = random.Random(7041 + int(frac * 10))
    rows = _corpus(rng, 80)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_bracket = {
        r["doc_id"]
        for r in ta.token_budget_select(df, frac=frac, bracket=True).collect()
    }
    got_window = {
        r["doc_id"]
        for r in ta.token_budget_select(df, frac=frac, bracket=False).collect()
    }
    assert got_bracket == got_window
    assert got_bracket == _brute(_scored_rows(spark, rows), frac)


def test_tie_heavy_scores(spark):
    # identical text -> identical q_score for every doc: the band is
    # one giant tie block; selection must still be the doc_id prefix
    rows = [(i, "same same same text here") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        r["doc_id"]
        for r in ta.token_budget_select(df, frac=0.5, bracket=True).collect()
    )
    # 40 docs x 5 tokens = 200 total, budget 100 -> exactly 20 docs,
    # lowest doc_ids first (tie-break doc_id ASC)
    assert got == list(range(20))


def test_partition_invariance(spark):
    rng = random.Random(99)
    rows = _corpus(rng, 60)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"] for r in ta.token_budget_select(df, 0.6).collect()}
    b = {
        r["doc_id"]
        for r in ta.token_budget_select(df.repartition(7), 0.6).collect()
    }
    assert a == b


def test_bracket_recenters_under_weight_skew(spark):
    """Token mass concentrated in high-quality (long) docs displaces
    the crossing far from the uniform-tokens doc-fraction guess; the
    binary-search re-centering must still land the band (the plan's
    cumulative Window stays band-scoped — a fallback to the global
    window twin would have no q_score filter beneath it)."""
    rows = [
        (i, " ".join(f"w{j % 7}" for j in range(i % 40 + 1)))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sel = ta.token_budget_select(df, frac=0.5, bracket=True)
    got = {r["doc_id"] for r in sel.collect()}
    assert got == _brute(_scored_rows(spark, rows), 0.5)
    plan = executed_plan(sel)
    if "Window" in plan:
        win_subtree = plan[plan.index("Window"):]
        assert "q_score" in win_subtree and "Filter" in win_subtree


def test_zero_token_docs_ride_free(spark):
    # empty docs sort wherever their q lands; they never consume budget
    rows = [(0, "aaa bbb ccc ddd"), (1, ""), (2, "eee fff")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scored = _scored_rows(spark, rows)
    for frac in (0.0, 0.4, 0.7, 1.0):
        got = {
            r["doc_id"]
            for r in ta.token_budget_select(df, frac=frac).collect()
        }
        assert got == _brute(scored, frac), frac
