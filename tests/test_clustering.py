"""Deterministic k-means + SemDeDup (operators/clustering.py) and the
DSIR importance model (text_analytics.train_dsir/dsir_score).

The cross-engine value check lives in tests/test_entry_oracle.py
(embed_kmeans / semdedup / dsir_select vs their DuckDB twins); here we
pin the algorithmic invariants a green hash can't express on its own:
numpy replication of the quantized Lloyd's, determinism across
re-fits, the SemDeDup keep rule's auditability, artifact round-trips,
and degenerate inputs.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from plan_inspect import physical_node_names
from rag_database_spark.operators import clustering
from rag_database_spark.operators import text_analytics as ta


def _emb_df(spark, vecs, ids=None):
    ids = ids if ids is not None else range(len(vecs))
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def _numpy_kmeans(V, k, iters, scale=clustering.KMEANS_SCALE):
    """Reference Lloyd's in the exact arithmetic frame the operator
    pins: integer-quantized inputs, mean = exact-int-sum / count."""
    X = np.round(np.asarray(V, dtype=np.float64) * scale)
    C = X[:k].astype(np.float64).copy()

    def assign(C):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return d.argmin(axis=1)

    for _ in range(iters):
        a = assign(C)
        for j in range(len(C)):
            m = a == j
            if m.any():
                C[j] = X[m].sum(axis=0) / m.sum()
    return assign(C)


@pytest.fixture(scope="module")
def rand_vecs():
    rng = np.random.RandomState(7)
    V = rng.randn(60, 8)
    return V / np.linalg.norm(V, axis=1, keepdims=True)


def test_kmeans_matches_numpy_reference(spark, rand_vecs):
    df = _emb_df(spark, rand_vecs)
    got = dict(
        clustering.kmeans_fit(df, k=4, iters=3)[0]
        .orderBy("id").collect()
    )
    want = _numpy_kmeans(rand_vecs, k=4, iters=3)
    assert [got[i] for i in range(len(rand_vecs))] == list(want)
    assert len(set(got.values())) > 1  # it actually clustered


def test_kmeans_deterministic_across_refits(spark, rand_vecs):
    df = _emb_df(spark, rand_vecs).repartition(5)
    a = sorted(clustering.kmeans_fit(df, k=3, iters=2)[0].collect())
    b = sorted(clustering.kmeans_fit(df, k=3, iters=2)[0].collect())
    assert a == b


def test_kmeans_centroids_survive_emptied_cluster(spark):
    # two far groups + k=3: the third centroid (init = vec 2, inside
    # group one) loses every member after the first update; the fit
    # must keep its previous centroid instead of producing NULLs
    vecs = [[0.0, 0.0], [0.1, 0.0], [0.05, 0.02], [9.0, 9.0], [9.1, 9.0]]
    out, cents = clustering.kmeans_fit(_emb_df(spark, vecs), k=3, iters=3)
    rows = out.collect()
    assert all(r["cluster_id"] is not None for r in rows)
    assert len(cents) == 3
    assert all(all(math.isfinite(v) for v in c) for c in cents)


def test_kmeans_k_larger_than_n(spark):
    vecs = [[1.0, 0.0], [0.0, 1.0]]
    out, cents = clustering.kmeans_fit(_emb_df(spark, vecs), k=5, iters=2)
    got = dict(out.collect())
    assert got == {0: 0, 1: 1}
    assert len(cents) == 2


def test_kmeans_gemm_impl_matches_expr(spark, rand_vecs, monkeypatch):
    # the scale path (Arrow-batch GEMM argmin, k > KMEANS_EXPR_MAX_K)
    # must agree with the oracle path (literal folds) away from float
    # near-ties — which is everywhere, on real data
    df = _emb_df(spark, rand_vecs)
    a = sorted(clustering.kmeans_fit(df, k=4, iters=3)[0].collect())
    monkeypatch.setattr(clustering, "KMEANS_EXPR_MAX_K", 3)
    gemm = clustering.kmeans_fit(df, k=4, iters=3)[0]
    assert "MapInPandas" in physical_node_names(gemm)
    assert sorted(gemm.collect()) == a


def test_kmeans_k_for_contract():
    assert clustering.kmeans_k_for(500) == clustering.KMEANS_K
    assert clustering.kmeans_k_for(64_000) == 1000
    assert clustering.kmeans_k_for(64_001) == 1001


def test_kmeans_empty_input(spark):
    out, cents = clustering.kmeans_fit(
        _emb_df(spark, []).filter(F.lit(False)), k=3, iters=2
    )
    assert out.count() == 0
    assert cents == []


def test_semdedup_keep_rule_is_auditable(spark, rand_vecs):
    # plant near-dups: rows 50..54 are tiny perturbations of rows 0..4
    V = rand_vecs.copy()
    V[50:55] = V[0:5] + 1e-3
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    df = _emb_df(spark, V)
    assign = clustering.kmeans_fit(df, k=4, iters=3)[0]
    out = clustering.semdedup(df, assign, threshold=0.9).collect()
    by_id = {r["id"]: r for r in out}
    assert len(by_id) == len(V)

    # recompute the audit columns independently
    a = dict(assign.collect())
    S = V @ V.T
    for r in out:
        lower_sims = [
            round(S[r["id"], j], 6)
            for j in range(r["id"])
            if a[j] == r["cluster_id"]
        ]
        want_max = max(lower_sims) if lower_sims else None
        if want_max is None:
            assert r["max_sim_lower"] is None
        else:
            assert r["max_sim_lower"] == pytest.approx(want_max, abs=2e-6)
        assert r["keep"] == (want_max is None or want_max < 0.9)

    # the planted dups were dropped, their originals kept
    dropped = {r["id"] for r in out if not r["keep"]}
    assert set(range(50, 55)) <= dropped
    assert not dropped & set(range(0, 5))


def test_semdedup_threshold_one_keeps_everything(spark, rand_vecs):
    df = _emb_df(spark, rand_vecs)
    assign = clustering.kmeans_fit(df, k=4, iters=2)[0]
    out = clustering.semdedup(df, assign, threshold=1.0 + 1e-9)
    assert out.filter(~F.col("keep")).count() == 0


def _docs_df(spark, texts, langs=None):
    langs = langs or ["en"] * len(texts)
    rows = [(i, t, l) for i, (t, l) in enumerate(zip(texts, langs))]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_dsir_model_roundtrip_and_scoring(spark, tmp_path):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox runs over the lazy dog",
        "der schnelle braune fuchs springt ueber den faulen hund",
        "der schnelle braune fuchs rennt ueber den faulen hund",
    ]
    docs = _docs_df(spark, texts, langs=["en", "en", "de", "de"])
    target = docs.filter(F.col("lang") == "en")
    model = ta.train_dsir(docs, target, n_buckets=256)

    # exactly one default row, carrying the unseen-bucket weight
    default = model.filter(F.col("bucket") == -1).collect()
    assert len(default) == 1

    # persisted == inline
    path = str(tmp_path / "dsir")
    model.write.parquet(path)
    back = spark.read.parquet(path)
    inline = sorted(ta.dsir_score(docs, model).collect())
    persisted = sorted(ta.dsir_score(docs, back).collect())
    assert inline == persisted

    # in-domain docs must outscore the out-of-domain ones
    scores = {r["doc_id"]: r["avg_llr"] for r in inline}
    assert min(scores[0], scores[1]) > max(scores[2], scores[3])


def test_dsir_rejects_non_model_frame(spark):
    docs = _docs_df(spark, ["hello world wide web"])
    bogus = spark.createDataFrame(
        [(0, 0.5, 32)], "bucket long, w double, n_buckets int"
    )
    with pytest.raises(ValueError, match="default row"):
        ta.dsir_score(docs, bogus)


def test_dsir_zero_bigram_doc_scores_null(spark):
    docs = _docs_df(spark, ["hello world wide web", "single", ""])
    model = ta.train_dsir(docs, docs.limit(1), n_buckets=32)
    rows = {r["doc_id"]: r for r in ta.dsir_score(docs, model).collect()}
    assert rows[1]["n_bigrams"] == 0 and rows[1]["avg_llr"] is None
    assert rows[2]["n_bigrams"] == 0 and rows[2]["avg_llr"] is None
    assert rows[0]["avg_llr"] is not None


def test_dsir_resample_keys_replay_python(spark):
    """The Gumbel key is bit-replayable: recompute llr_total + gumbel
    for every doc with hashlib/math and require exact equality."""
    import hashlib

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox runs over the lazy dog",
        "der schnelle braune fuchs springt ueber den faulen hund",
        "single",
    ]
    docs = _docs_df(spark, texts, langs=["en", "en", "de", "de"])
    model = ta.train_dsir(docs, docs.filter(F.col("lang") == "en"),
                          n_buckets=256)
    rows = {r["doc_id"]: r
            for r in ta.dsir_resample_keys(docs, model, seed=7).collect()}
    assert rows[3]["n_bigrams"] == 0 and rows[3]["llr_total"] == 0.0
    for i in range(4):
        h = int(hashlib.md5(f"7:{i}".encode()).hexdigest()[:15], 16)
        u = ((h >> ta.DSIR_GUMBEL_SHIFT) + 0.5) / ta.DSIR_GUMBEL_DENOM
        g = -math.log(-math.log(u))
        want = round(rows[i]["llr_total"] + g, 6)
        assert rows[i]["gumbel_key"] == want

    # deterministic across calls; different under a different seed
    again = {r["doc_id"]: r["gumbel_key"]
             for r in ta.dsir_resample_keys(docs, model, seed=7).collect()}
    assert again == {i: rows[i]["gumbel_key"] for i in range(4)}
    other = {r["doc_id"]: r["gumbel_key"]
             for r in ta.dsir_resample_keys(docs, model, seed=8).collect()}
    assert other != again


# ---------------------------------------------------------------------------
# centroid_outliers (r12)
# ---------------------------------------------------------------------------


def test_centroid_outliers_matches_numpy(spark):
    """dist/rank/keep agree with a numpy replay of the same quantized
    frame, and the farthest tail of each cluster is the pruned one."""
    rng = np.random.RandomState(7)
    C = rng.randn(3, 4)
    V = np.repeat(C, 20, axis=0) + 0.05 * rng.randn(60, 4)
    df = _emb_df(spark, V)
    assign_df, cents = clustering.kmeans_fit(df, k=3, iters=2)
    cent_df = spark.createDataFrame(
        [(j, c) for j, c in enumerate(cents)],
        "cluster_id int, cvec array<double>",
    )
    out = {
        r["id"]: r
        for r in clustering.centroid_outliers(
            df, assign_df, cent_df
        ).collect()
    }
    assert len(out) == 60

    # numpy replay
    X = np.round(V.astype(np.float64) * clustering.KMEANS_SCALE)
    a = {r["id"]: r["cluster_id"] for r in assign_df.collect()}
    for i in range(60):
        c = np.array(cents[a[i]])
        d = float(((X[i] - c) ** 2).sum())
        assert out[i]["cluster_id"] == a[i]
        assert math.isclose(out[i]["dist"], round(d, 6), abs_tol=1e-9)

    # per cluster: ranks are 1..n, keep = crank*10 <= n*9 (floor 90%)
    by_c = {}
    for r in out.values():
        by_c.setdefault(r["cluster_id"], []).append(r)
    for rows in by_c.values():
        n = len(rows)
        ranks = sorted(r["crank"] for r in rows)
        assert ranks == list(range(1, n + 1))
        for r in rows:
            assert r["cluster_n"] == n
            # ceil keep rule: crank <= ceil(n * 9/10)
            assert r["keep"] == (
                (r["crank"] - 1) * clustering.OUTLIER_KEEP_DEN
                < n * clustering.OUTLIER_KEEP_NUM
            )
        # the last-ranked (farthest) member is pruned whenever the
        # cluster is big enough that ceil(0.9n) < n (i.e. n >= 10)
        far = next(r for r in rows if r["crank"] == n)
        if (n - 1) * clustering.OUTLIER_KEEP_DEN >= (
            n * clustering.OUTLIER_KEEP_NUM
        ):
            assert not far["keep"]


def test_centroid_outliers_tie_break_and_small_cluster(spark):
    """Duplicate vectors tie on dist → rank by id; ceil semantics
    never empty a cluster (a singleton keeps its member, and a
    3-cluster keeps all 3 since ceil(2.7)=3)."""
    V = [[1.0, 0.0]] * 3 + [[0.0, 1.0]]
    df = _emb_df(spark, V)
    assign_df, cents = clustering.kmeans_fit(df, k=2, iters=1)
    cent_df = spark.createDataFrame(
        [(j, c) for j, c in enumerate(cents)],
        "cluster_id int, cvec array<double>",
    )
    rows = clustering.centroid_outliers(df, assign_df, cent_df).collect()
    dup = sorted(
        (r for r in rows if r["cluster_n"] == 3), key=lambda r: r["crank"]
    )
    # identical dist → ties break to lowest id
    assert [r["id"] for r in dup] == sorted(r["id"] for r in dup)
    # n=3: ceil(2.7) = 3 → all kept
    assert [r["keep"] for r in dup] == [True, True, True]
    solo = [r for r in rows if r["cluster_n"] == 1]
    # n=1: ceil(0.9) = 1 → a singleton keeps its member
    assert solo and solo[0]["keep"]
    # exact boundary: n=20 keeps exactly ceil(18)=18 (checked in the
    # numpy test above); here pin the formula itself
    assert ((18 - 1) * 10 < 20 * 9) and not ((19 - 1) * 10 < 20 * 9)


def test_cluster_quota_sample_ceil_rule_and_order(spark):
    """Keep set = first ceil(|c|·num/den) members in seeded md5
    order: verified against a hashlib replay; a singleton cluster
    always keeps its member; repartitioning doesn't change the
    result."""
    import hashlib

    from rag_database_spark.operators.clustering import (
        cluster_quota_sample,
    )

    assign = spark.createDataFrame(
        [(i, 0) for i in range(10)]        # 10-member cluster
        + [(100 + i, 1) for i in range(3)]  # 3-member cluster
        + [(999, 2)],                       # singleton
        "id long, cluster_id int",
    )
    rows = cluster_quota_sample(assign, num=1, den=2, seed=7).collect()
    by_c = {}
    for r in rows:
        by_c.setdefault(r["cluster_id"], []).append(r)

    def key(i):
        return int(hashlib.md5(f"cqs7:{i}".encode()).hexdigest()[:15], 16)

    for cid, members in by_c.items():
        n = len(members)
        expected_keep = -(-n // 2)  # ceil(n/2)
        kept = [r for r in members if r["keep"]]
        assert len(kept) == expected_keep
        order = sorted(members, key=lambda r: (key(r["id"]), r["id"]))
        assert [r["id"] for r in sorted(members, key=lambda r: r["pick_rank"])] \
            == [r["id"] for r in order]
        for r in members:
            assert r["pick_key"] == key(r["id"])
            assert r["cluster_n"] == n
    assert by_c[2][0]["keep"]  # singleton survives

    again = cluster_quota_sample(
        assign.repartition(5), num=1, den=2, seed=7
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
