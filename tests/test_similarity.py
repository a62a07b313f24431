"""Exact cosine top-k (J11): GEMM vs a numpy brute force,
deterministic tie-breaks at the k boundary, MaxSim (J12/M6) vs a plain
numpy loop, and near-dup pair detection."""

from __future__ import annotations

import math

import numpy as np
import pytest

from rag_database_spark.operators.similarity import (
    avg_pool_patches,
    cosine_topk,
    embedding_near_dupes,
    maxsim_scores_pruned,
)


def _brute_maxsim(qdf, pdf):
    """Numpy brute-force MaxSim, sum over query tokens of the best
    patch dot product, for every (query_id, page_id) pair."""
    qs = [(r["query_id"], np.array(r["patches"])) for r in qdf.collect()]
    ps = [(r["page_id"], np.array(r["patches"])) for r in pdf.collect()]
    return {
        (q, p): float((Q @ P.T).max(axis=1).sum())
        for q, Q in qs
        for p, P in ps
    }


def _vecs(seed, n, d):
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n, d)).round(3).tolist()


@pytest.fixture(scope="module")
def corpus(spark):
    vs = _vecs(7, 40, 8)
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vs)], "id long, vec array<double>"
    )


@pytest.fixture(scope="module")
def queries(spark):
    vs = _vecs(13, 3, 8)
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vs)], "query_id long, qvec array<double>"
    )


def test_gemm_matches_numpy_brute_force(spark, corpus, queries):
    g = {
        (r["query_id"], r["rank"]): (r["id"], r["score"])
        for r in cosine_topk(queries, corpus, 5).collect()
    }
    rows = corpus.collect()
    ids = [r["id"] for r in rows]
    V = np.array([r["vec"] for r in rows])
    exp = {}
    for r in queries.collect():
        q = np.array(r["qvec"])
        cos = V @ q / (np.linalg.norm(V, axis=1) * np.linalg.norm(q))
        ranked = sorted(zip(ids, cos), key=lambda t: (-t[1], t[0]))[:5]
        for rank, (i, c) in enumerate(ranked, 1):
            exp[(r["query_id"], rank)] = (i, float(c))
    assert set(g) == set(exp) and len(g) == 15
    for k in exp:
        assert g[k][0] == exp[k][0]
        assert g[k][1] == pytest.approx(exp[k][1], rel=1e-9)


def test_tie_break_prefers_smaller_id(spark):
    # duplicate vectors ⇒ exactly tied scores; id ASC must win
    v = [1.0, 0.0]
    corpus = spark.createDataFrame(
        [(9, v), (2, v), (5, v), (1, [0.0, 1.0])], "id long, vec array<double>"
    )
    queries = spark.createDataFrame([(0, v)], "query_id long, qvec array<double>")
    rows = cosine_topk(queries, corpus, 2).orderBy("rank").collect()
    assert [r["id"] for r in rows] == [2, 5]


def test_maxsim_matches_numpy_loop(spark):
    rng = np.random.default_rng(3)
    qp = rng.normal(size=(4, 6)).round(3)
    pages = {pid: rng.normal(size=(5, 6)).round(3) for pid in (0, 1)}
    qdf = spark.createDataFrame(
        [(0, qp.tolist())], "query_id long, patches array<array<double>>"
    )
    pdf = spark.createDataFrame(
        [(pid, p.tolist()) for pid, p in pages.items()],
        "page_id long, patches array<array<double>>",
    )
    # fetch_k covers both pages, so every page is rescored
    got = {
        r["page_id"]: r["score"]
        for r in maxsim_scores_pruned(qdf, pdf, fetch_k=2).collect()
    }
    for pid, P in pages.items():
        exp = sum(max(float(np.dot(t, p)) for p in P) for t in qp)
        assert got[pid] == pytest.approx(exp, rel=1e-12)


@pytest.fixture(scope="module")
def patch_corpus(spark):
    rng = np.random.default_rng(11)
    qdf = spark.createDataFrame(
        [(q, rng.normal(size=(4, 6)).round(3).tolist()) for q in range(3)],
        "query_id long, patches array<array<double>>",
    )
    pdf = spark.createDataFrame(
        [(p, rng.normal(size=(5, 6)).round(3).tolist()) for p in range(20)],
        "page_id long, patches array<array<double>>",
    )
    return qdf, pdf


def test_pruned_covers_all_equals_brute_force(spark, patch_corpus):
    # fetch ≥ n_pages ⇒ the prefetch keeps every page and the two-stage
    # plan must reproduce brute-force MaxSim exactly, scores included
    qdf, pdf = patch_corpus
    brute = _brute_maxsim(qdf, pdf)
    pruned = {
        (r["query_id"], r["page_id"]): r["score"]
        for r in maxsim_scores_pruned(qdf, pdf, fetch_k=20).collect()
    }
    assert set(pruned) == set(brute)
    for k in brute:
        assert pruned[k] == pytest.approx(brute[k], rel=1e-12)


def test_pruned_rescore_is_exact_on_candidates(spark, patch_corpus):
    # fetch < n_pages ⇒ candidates are the pooled-cosine top-fetch per
    # query, and each candidate's score equals the brute-force score
    qdf, pdf = patch_corpus
    fetch = 6
    brute = _brute_maxsim(qdf, pdf)
    pooled_q = qdf.select(
        "query_id", avg_pool_patches(qdf["patches"]).alias("qvec")
    )
    pooled_p = pdf.select(
        pdf["page_id"].alias("id"), avg_pool_patches(pdf["patches"]).alias("vec")
    )
    expected_cands = {
        (r["query_id"], r["id"])
        for r in cosine_topk(pooled_q, pooled_p, fetch).collect()
    }
    pruned = {
        (r["query_id"], r["page_id"]): r["score"]
        for r in maxsim_scores_pruned(qdf, pdf, fetch_k=fetch).collect()
    }
    assert set(pruned) == expected_cands
    assert all(len([k for k in pruned if k[0] == q]) == fetch for q in range(3))
    for k, s in pruned.items():
        assert s == pytest.approx(brute[k], rel=1e-12)


def test_near_dupes_brute_force(spark):
    a = [1.0, 0.0, 0.0]
    b = [0.9999, 0.01, 0.0]
    c = [0.0, 1.0, 0.0]
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "id long, vec array<double>"
    )
    rows = embedding_near_dupes(df, threshold=0.99).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
    exp = np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))
    assert rows[0]["cos_sim"] == pytest.approx(float(exp))


def test_ivf_recall_vs_brute_force(spark):
    # clustered corpus: IVF with enough probes finds the true neighbors
    rng = np.random.default_rng(5)
    centers = rng.normal(size=(4, 12)) * 5
    rows = []
    for i in range(200):
        c = centers[i % 4]
        rows.append((i, (c + rng.normal(scale=0.3, size=12)).tolist()))
    corpus = spark.createDataFrame(rows, "id long, vec array<double>")
    queries = spark.createDataFrame(
        [(qi, (centers[qi] + rng.normal(scale=0.3, size=12)).tolist())
         for qi in range(4)],
        "query_id long, qvec array<double>",
    )
    from rag_database_spark.operators.similarity import (
        _ivf_fit,
        ivf_topk_indexed,
    )

    exact = cosine_topk(queries, corpus, 10).collect()
    centroids, lists = _ivf_fit(corpus, 8, "id", "vec")
    approx = ivf_topk_indexed(
        queries, centroids, lists, 10, n_probe=3
    ).collect()
    key = lambda rs: {
        (r["query_id"], r["id"]) for r in rs
    }
    recall = len(key(exact) & key(approx)) / len(key(exact))
    assert recall >= 0.9


def test_ivf_persisted_index_matches_inline_fit(spark, tmp_path):
    """write_ivf_index → ivf_topk_indexed returns exactly what an
    in-memory ``_ivf_fit`` → ivf_topk_indexed computes (deterministic
    fit ⇒ same centroids ⇒ same probes ⇒ same candidates), and the
    query path never runs k-means — refitting per query batch is the
    scale bug the split removes."""
    from rag_database_spark.operators import clustering
    from rag_database_spark.operators.similarity import (
        _ivf_fit,
        ivf_topk_indexed,
        read_ivf_index,
        write_ivf_index,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(4, 12)) * 5
    rows = [
        (i, (centers[i % 4] + rng.normal(scale=0.3, size=12)).tolist())
        for i in range(120)
    ]
    corpus = spark.createDataFrame(rows, "id long, vec array<double>")
    queries = spark.createDataFrame(
        [(qi, (centers[qi] + rng.normal(scale=0.3, size=12)).tolist())
         for qi in range(4)],
        "query_id long, qvec array<double>",
    )

    inline = ivf_topk_indexed(
        queries, *_ivf_fit(corpus, 8, "id", "vec"), 10, n_probe=3
    )
    inline_rows = {(r["query_id"], r["id"], round(r["score"], 9))
                   for r in inline.collect()}

    path = str(tmp_path / "ivf")
    write_ivf_index(corpus, path, n_centroids=8)
    centroids, lists = read_ivf_index(spark, path)

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("kmeans_fit ran in the IVF query path")

    orig_fit = clustering.kmeans_fit
    clustering.kmeans_fit = boom
    try:
        indexed = ivf_topk_indexed(queries, centroids, lists, 10, n_probe=3)
        got = {(r["query_id"], r["id"], round(r["score"], 9))
               for r in indexed.collect()}
    finally:
        clustering.kmeans_fit = orig_fit
    assert got == inline_rows


def test_lsh_topk_recall_and_determinism(spark):
    """LSH ANN: candidate scores are exact cosines (subset of brute
    force), recall is high on a clustered corpus, and the result is a
    pure function of the seed (stable across repartitioning)."""
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(4, 12)) * 5
    rows = []
    for i in range(200):
        c = centers[i % 4]
        rows.append((i, (c + rng.normal(scale=0.3, size=12)).tolist()))
    corpus = spark.createDataFrame(rows, "id long, vec array<double>")
    queries = spark.createDataFrame(
        [(qi, (centers[qi] + rng.normal(scale=0.3, size=12)).tolist())
         for qi in range(4)],
        "query_id long, qvec array<double>",
    )
    from rag_database_spark.operators.similarity import lsh_topk

    exact = cosine_topk(queries, corpus, 10).collect()
    approx = lsh_topk(queries, corpus, 10, dim=12).collect()
    key = lambda rs: {(r["query_id"], r["id"]) for r in rs}
    recall = len(key(exact) & key(approx)) / len(key(exact))
    assert recall >= 0.9
    # every approx hit carries the exact brute-force score
    brute = {(r["query_id"], r["id"]): r["score"] for r in exact}
    for r in approx:
        k = (r["query_id"], r["id"])
        if k in brute:
            assert r["score"] == pytest.approx(brute[k], rel=1e-12)
    # seed-deterministic and partitioning-invariant
    again = sorted(
        (r["query_id"], r["id"], r["rank"])
        for r in lsh_topk(
            queries.repartition(7), corpus.repartition(13), 10, dim=12
        ).collect()
    )
    assert again == sorted(
        (r["query_id"], r["id"], r["rank"]) for r in approx
    )


def test_quantize_embeddings_error_bounds(spark):
    """Int8 scalar quantization: values clamp to [-127, 127], per-
    component dequantization error is bounded by scale/2, and cosine
    similarity survives quantization to ~1e-2."""
    from pyspark.sql import functions as F

    from rag_database_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = quantize_embeddings(emb).join(
        emb.select(F.col("vec_id").alias("id"), "embedding"), "id"
    ).collect()
    assert rows
    for r in rows:
        assert -127 <= r["q_min"] <= r["q_max"] <= 127
        v = np.asarray(r["embedding"], dtype=np.float64)
        q = np.asarray(r["q"], dtype=np.float64)
        recon = q * r["scale"]
        assert np.max(np.abs(v - recon)) <= r["scale"] / 2 + 1e-12
        nv, nr = np.linalg.norm(v), np.linalg.norm(recon)
        if nv > 0 and nr > 0:
            cos = float(v @ recon / (nv * nr))
            assert cos > 0.99


def test_quantized_topk_recall_vs_float(spark):
    """Int8-quantized cosine ranking tracks float cosine: high overlap
    of the top-k sets and near-identical scores."""
    from rag_database_spark.operators.similarity import quantized_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.limit(5).select(
        emb["vec_id"].alias("query_id"), emb["embedding"].alias("qvec")
    )
    exact = cosine_topk(
        queries, emb, 10, id_col="vec_id", vec_col="embedding"
    ).collect()
    quant = quantized_topk(queries, emb, 10).collect()
    key = lambda rs: {(r["query_id"], r["id"]) for r in rs}
    recall = len(key(exact) & key(quant)) / len(key(exact))
    assert recall >= 0.9
    fscore = {(r["query_id"], r["id"]): r["score"] for r in exact}
    for r in quant:
        k = (r["query_id"], r["id"])
        if k in fscore:
            assert abs(r["score"] - fscore[k]) < 0.02


def test_knn_graph_matches_numpy_brute_force(spark):
    from rag_database_spark.operators.similarity import knn_graph

    rng = np.random.RandomState(11)
    V = rng.randn(40, 6)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(V)],
        "vec_id long, embedding array<float>",
    )
    got = knn_graph(df, k=4, id_col="vec_id", vec_col="embedding").collect()
    # every vector emits exactly k edges, none to itself, ranked 1..k
    by_src = {}
    for r in got:
        assert r["dst"] != r["src"]
        by_src.setdefault(r["src"], []).append((r["rank"], r["dst"]))
    assert set(by_src) == set(range(40))
    S = V @ V.T
    for src, edges in by_src.items():
        assert sorted(r for r, _ in edges) == [1, 2, 3, 4]
        order = sorted(
            (j for j in range(40) if j != src),
            key=lambda j: (-round(S[src, j], 9), j),
        )[:4]
        assert [d for _, d in sorted(edges)] == order


def test_knn_graph_handles_duplicate_vectors(spark):
    from rag_database_spark.operators.similarity import knn_graph

    # three exact copies: self must never appear even when ties at
    # cosine 1.0 crowd the prefetch
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 0.0]),
            (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = knn_graph(df, k=2, id_col="vec_id", vec_col="embedding").collect()
    for r in got:
        assert r["src"] != r["dst"]
    by_src = {}
    for r in got:
        by_src.setdefault(r["src"], []).append(r["dst"])
    # each copy's top-2 are the other two copies (cos 1.0, lowest ids)
    assert sorted(by_src[0]) == [1, 2]
    assert sorted(by_src[1]) == [0, 2]
    assert sorted(by_src[2]) == [0, 1]


def test_knn_graph_lsh_recall_vs_exact(spark):
    from rag_database_spark.operators.similarity import (
        knn_graph, knn_graph_lsh,
    )

    # clustered corpus — the regime LSH serves: true neighbors are
    # CLOSE (jittered copies of 30 centers, neighbor cosine ~0.99).
    # On uniformly random vectors the top-k "neighbors" sit at ~70° and
    # sign-pattern LSH rightly finds few of them — that is the
    # documented recall curve P(miss) = (1-(1-θ/π)^p)^t, not a bug.
    rng = np.random.RandomState(3)
    C = rng.randn(30, 16)
    V = np.repeat(C, 4, axis=0) + 0.05 * rng.randn(120, 16)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(V)],
        "vec_id long, embedding array<float>",
    )
    exact = knn_graph(df, k=3, id_col="vec_id", vec_col="embedding")
    approx = knn_graph_lsh(
        df, k=3, dim=16, id_col="vec_id", vec_col="embedding"
    )
    e = {(r["src"], r["dst"]) for r in exact.collect()}
    a = {(r["src"], r["dst"]) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.8
    # approximate edges are still REAL neighbors: every returned edge
    # carries its exact cosine and excludes self
    for r in approx.collect():
        assert r["src"] != r["dst"]


def test_ivf_k_for_contract():
    """Adaptive IVF geometry, two regimes: ceil(n/target) while lists
    fill toward IVF_TARGET_LIST, then ceil(sqrt(n)) — balanced IVF
    where per-query centroid scan AND probed-list length both grow as
    sqrt(n) instead of the centroid table going linear (a fixed
    n_centroids leaves probe cost linear in corpus size; a pure
    n/target rule puts 4M centroids on the driver at 1e9 rows)."""
    import math

    from rag_database_spark.operators.similarity import (
        IVF_MIN_CENTROIDS, IVF_TARGET_LIST, ivf_k_for,
    )

    assert ivf_k_for(0) == IVF_MIN_CENTROIDS
    assert ivf_k_for(IVF_MIN_CENTROIDS * IVF_TARGET_LIST) == IVF_MIN_CENTROIDS
    assert ivf_k_for(IVF_MIN_CENTROIDS * IVF_TARGET_LIST + 1) == (
        IVF_MIN_CENTROIDS + 1
    )
    # crossover: n/target == sqrt(n) at n = target² (65536)
    assert ivf_k_for(IVF_TARGET_LIST**2) == IVF_TARGET_LIST
    # sqrt regime: balanced k, exact integer ceil-sqrt
    assert ivf_k_for(1_000_000) == 1000
    assert ivf_k_for(1_000_001) == 1001
    assert ivf_k_for(10**9) == math.isqrt(10**9 - 1) + 1


def test_ivf_det_quantized_probe_serves_exact_member(spark):
    """Det-built index + quantized probe: querying with a corpus
    vector's own value must surface that vector at rank 1 (its list is
    always probed — distance 0 to its own centroid ranking first is
    not guaranteed, but the true nearest centroid is by construction
    the assigned one), and every returned score is the exact
    brute-force cosine."""
    import numpy as np
    import pytest as _pytest

    from rag_database_spark.operators.similarity import (
        cosine_topk, ivf_topk_indexed, read_ivf_index, write_ivf_index,
    )

    rng = np.random.default_rng(11)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(80)]
    corpus = spark.createDataFrame(rows, "id long, vec array<double>")
    path = str(spark.conf.get("spark.sql.warehouse.dir")).replace(
        "file:", ""
    ) + "/ivf_det_probe_test"
    write_ivf_index(corpus, path, n_centroids=4)
    centroids, lists = read_ivf_index(spark, path)
    assert centroids.columns == ["centroid_id", "cvec", "frame_scale"]

    queries = spark.createDataFrame(
        [(qi, rows[qi][1]) for qi in range(5)],
        "query_id long, qvec array<double>",
    )
    got = ivf_topk_indexed(
        queries, centroids, lists, 5, n_probe=2
    ).collect()
    rank1 = {r["query_id"]: r["id"] for r in got if r["rank"] == 1}
    assert rank1 == {qi: qi for qi in range(5)}
    brute = {
        (r["query_id"], r["id"]): r["score"]
        for r in cosine_topk(queries, corpus, 80).collect()
    }
    for r in got:
        assert r["score"] == _pytest.approx(
            brute[(r["query_id"], r["id"])], rel=1e-12
        )


def test_matryoshka_recall_and_self_serve(spark):
    """Prefix-cascade top-k: on a clustered corpus the 16-dim prefix
    shortlist plus full-dim rescore recovers the brute-force top-k
    almost entirely, and a query that IS a corpus vector serves
    itself at rank 1 with score 1.0."""
    from rag_database_spark.operators.similarity import matryoshka_topk

    rng = np.random.default_rng(17)
    centers = rng.normal(size=(4, 32)) * 5
    rows = [
        (i, (centers[i % 4] + rng.normal(scale=0.3, size=32)).tolist())
        for i in range(200)
    ]
    corpus = spark.createDataFrame(rows, "id long, vec array<double>")
    queries = spark.createDataFrame(
        [(qi, rows[qi][1]) for qi in range(4)],
        "query_id long, qvec array<double>",
    )
    exact = cosine_topk(queries, corpus, 10).collect()
    casc = matryoshka_topk(queries, corpus, 10, prefix_dims=8).collect()
    key = lambda rs: {(r["query_id"], r["id"]) for r in rs}
    recall = len(key(exact) & key(casc)) / len(key(exact))
    assert recall >= 0.8
    top1 = {r["query_id"]: r for r in casc if r["rank"] == 1}
    for qi in range(4):
        assert top1[qi]["id"] == qi
        assert top1[qi]["score"] == 1.0


def test_ir_metrics_hand_case(spark):
    """MRR / recall@k / nDCG@k against hand-computed values: two of
    three relevant docs retrieved at ranks 2 and 4, one relevant doc
    never retrieved, a second query with zero relevant docs, and a
    third query absent from qrels entirely."""
    from rag_database_spark.operators.evaluation import ir_metrics

    results = spark.createDataFrame(
        [(1, 10 + r, r) for r in range(1, 6)]
        + [(2, 20 + r, r) for r in range(1, 4)],
        "query_id long, id long, rank long",
    )
    qrels = spark.createDataFrame(
        [(1, 12), (1, 14), (1, 99)], "query_id long, id long"
    )
    rows = {r["query_id"]: r
            for r in ir_metrics(results, qrels, k=10).collect()}
    r1 = rows[1]
    assert r1["total_rel"] == 3 and r1["hits"] == 2
    assert r1["mrr"] == 0.5
    assert r1["recall_at_k"] == 0.666667
    assert r1["ndcg_at_k"] == 0.498189
    r2 = rows[2]
    assert r2["total_rel"] == 0 and r2["hits"] == 0
    assert r2["mrr"] == 0.0 and r2["recall_at_k"] == 0.0
    assert r2["ndcg_at_k"] == 0.0


def test_ir_metrics_perfect_ranking_is_one(spark):
    """A ranking whose top-m results are exactly the m relevant docs
    scores nDCG 1.0, MRR 1.0, recall 1.0."""
    from rag_database_spark.operators.evaluation import ir_metrics

    results = spark.createDataFrame(
        [(1, r, r) for r in range(1, 11)], "query_id long, id long, rank long"
    )
    qrels = spark.createDataFrame(
        [(1, i) for i in (1, 2, 3)], "query_id long, id long"
    )
    r = ir_metrics(results, qrels, k=10).collect()[0]
    assert r["mrr"] == 1.0 and r["recall_at_k"] == 1.0
    assert r["ndcg_at_k"] == 1.0


def test_eval_delta_hand_case(spark):
    """Paired A/B deltas: identical sides zero out, a degraded side B
    shows positive deltas for A, and a query absent from one side
    surfaces with NULLs instead of dropping."""
    from rag_database_spark.operators.evaluation import (
        eval_delta,
        ir_metrics,
    )

    results_a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1)],
        "query_id long, id long, rank long",
    )
    results_b = spark.createDataFrame(
        [(1, 99, 1), (1, 10, 2)],  # q1 degraded, q2 missing
        "query_id long, id long, rank long",
    )
    qrels = spark.createDataFrame(
        [(1, 10), (2, 20)], "query_id long, id long"
    )
    a = ir_metrics(results_a, qrels, k=10)
    b = ir_metrics(results_b, qrels, k=10)

    same = {r["query_id"]: r for r in eval_delta(a, a).collect()}
    assert all(
        same[q]["d_mrr"] == 0.0 and same[q]["d_ndcg"] == 0.0 for q in same
    )

    rows = {r["query_id"]: r for r in eval_delta(a, b).collect()}
    r1 = rows[1]
    assert r1["mrr_a"] == 1.0 and r1["mrr_b"] == 0.5
    assert r1["d_mrr"] == 0.5 and r1["d_recall"] == 0.0
    assert r1["d_ndcg"] > 0
    r2 = rows[2]
    assert r2["mrr_a"] == 1.0 and r2["mrr_b"] is None
    assert r2["d_mrr"] is None


def test_hard_negatives_hand_case(spark):
    """Positives are anti-joined out (duplicate qrels rows included),
    survivors re-rank densely by retrieval order, and n caps the
    per-query output."""
    from rag_database_spark.operators.evaluation import hard_negatives

    results = spark.createDataFrame(
        [(1, d, 1.0 - d / 10.0, d) for d in range(1, 7)],
        "query_id long, id long, score double, rank long",
    )
    qrels = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 5)], "query_id long, id long"
    )
    rows = hard_negatives(results, qrels, n=3).orderBy("neg_rank").collect()
    # ranks 1,3,4 survive (2 and 5 are positives), capped at n=3
    assert [(r["id"], r["neg_rank"]) for r in rows] == [
        (1, 1), (3, 2), (4, 3)
    ]
    assert rows[0]["score"] == 0.9
