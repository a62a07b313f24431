"""Dedup family: exact Jaccard hand-case, MinHash-LSH recall, SimHash
Hamming pairing, random-hyperplane embedding LSH recall vs brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from plan_inspect import jobs_launched, physical_node_names
from rag_database_spark.operators import dedup
from rag_database_spark.operators.similarity import embedding_near_dupes

DOCS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "alpha beta gamma delta epsilon zeta eta iota"),  # near-dup of 1
    (3, "totally different words about completely other topics here"),
    (4, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_jaccard_hand_case(spark, docs):
    rows = dedup.shingle_jaccard_pairs(docs, 0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    # doc1 vs doc2: 8 words → 6 shingles each, 5 shared → 5/7
    assert got[(1, 2)] == pytest.approx(round(5 / 7, 6))
    assert got[(1, 4)] == 1.0
    assert got[(2, 4)] == pytest.approx(round(5 / 7, 6))
    assert (1, 3) not in got


def test_minhash_estimates_jaccard(spark, docs):
    sigs = dedup.minhash_signatures(docs, n_hashes=16).collect()
    by_id = {r["doc_id"]: [r[f"sig_{i}"] for i in range(16)] for r in sigs}
    assert by_id[1] == by_id[4]  # identical docs → identical signatures
    agree_12 = sum(a == b for a, b in zip(by_id[1], by_id[2])) / 16
    agree_13 = sum(a == b for a, b in zip(by_id[1], by_id[3])) / 16
    assert agree_12 > agree_13  # near-dup agrees more than unrelated


def test_simhash_identical_and_hamming(spark, docs):
    fps = dedup.simhash(docs)
    by_id = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    assert by_id[1] == by_id[4]
    pairs = dedup.simhash_pairs(fps, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got[(1, 4)] == 0
    assert (1, 3) not in got


def test_simhash_pairs_complete_vs_brute_force(spark):
    """The pigeonhole banded join is EXACT, not approximate: over
    seeded-random 60-bit fingerprints (plus planted close pairs) it
    returns precisely the brute-force pair set at hamming <= d — the
    completeness guarantee every Hamming-banded near-dup op
    (SimHash text, image dHash, audio fingerprint) rides on."""
    import random

    rng = random.Random(7)
    fps = [(i, rng.getrandbits(60)) for i in range(150)]
    for j in range(12):  # planted pairs at hamming 0..5
        mutated = fps[j][1]
        for _ in range(rng.randint(0, 5)):
            mutated ^= 1 << rng.randrange(60)
        fps.append((1000 + j, mutated))

    df = spark.createDataFrame(fps, "doc_id long, simhash long")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_pairs(df, max_hamming=5, bits=60).collect()
    }
    want = {
        (a, b, bin(fa ^ fb).count("1"))
        for a, fa in fps
        for b, fb in fps
        if a < b and bin(fa ^ fb).count("1") <= 5
    }
    assert got == want and len(want) >= 12


def test_rp_lsh_recall_vs_brute_force(spark):
    # 20 base vectors, each with a jittered near-dup (cosine ≈ 1)
    rng = np.random.default_rng(11)
    base = rng.normal(size=(20, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, v.tolist()))
        rows.append((2 * i + 1, (v + rng.normal(scale=0.01, size=16)).tolist()))
    corpus = spark.createDataFrame(rows, "id long, vec array<double>")

    brute = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dupes(corpus, 0.98).collect()
    }
    lsh_df = dedup.embedding_near_dupes_lsh(
        corpus, 0.98, dim=16, n_tables=6, n_planes=6
    )
    assert not entrymod._has_materialized_leaf(lsh_df)  # one lazy plan
    lsh = {(r["id_a"], r["id_b"]) for r in lsh_df.collect()}
    assert brute  # the planted pairs exist
    assert lsh <= brute  # no false positives (exact verification)
    recall = len(lsh & brute) / len(brute)
    assert recall >= 0.9


def test_rp_blocks_deterministic(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.3, 0.7, -0.1])],
        "id long, vec array<double>",
    )
    a = sorted(map(tuple, dedup.rp_blocks(corpus, dim=3).collect()))
    b = sorted(map(tuple, dedup.rp_blocks(corpus, dim=3).collect()))
    assert a == b


def test_direct_pair_estimate_hand_case(spark, docs):
    # shingle dfs over DOCS: 5 shingles shared by {1,2,4} (df=3), one
    # by {1,4} (df=2), the rest df=1 → Σ df·(df−1)/2 = 5·3 + 1 = 16
    ex = dedup._doc_shingles(docs, "doc_id", "text", dedup.SHINGLE_K).select(
        "doc_id", F.explode("sh").alias("s")
    )
    assert dedup._estimate_direct_pairs(ex) == 16


def test_auto_dispatch_flips_prefix_above_budget(spark, docs, monkeypatch):
    # the selection reads DIRECT_PAIR_BUDGET at call time: the direct
    # self-join has no Window, the prefix filter ranks each document's
    # shingles in one, so a Window appears only above the budget
    def windows():
        df = dedup.shingle_jaccard_pairs(docs, 0.5)
        return physical_node_names(df).count("Window")

    assert windows() == 0
    monkeypatch.setattr(dedup, "DIRECT_PAIR_BUDGET", 0)
    assert windows() > 0


def test_embedding_near_dup_auto_routes_to_lsh(spark, monkeypatch):
    # shrink the GEMM ceiling so auto must take the LSH path — and
    # prove it never touches the driver-collect GEMM implementation
    from rag_database_spark.operators import similarity

    rng = np.random.default_rng(7)
    base = rng.normal(size=(10, 8))
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, v.tolist()))
        rows.append((2 * i + 1, (v + rng.normal(scale=0.005, size=8)).tolist()))
    corpus = spark.createDataFrame(rows, "id long, vec array<double>")

    monkeypatch.setattr(similarity, "GEMM_MAX_CELLS", 1)

    def boom(*a, **k):
        raise AssertionError("auto dispatch must not driver-collect")

    monkeypatch.setattr(similarity, "_near_dupes_gemm", boom)
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dupes(corpus, 0.98).collect()
    }
    assert got  # LSH path found the planted near-dups


def test_prefix_filter_is_exact(spark, docs, monkeypatch):
    base = sorted(
        map(tuple, dedup.shingle_jaccard_pairs(docs, 0.5).collect())
    )
    # budget 0 → the prefix-filter path; results are exact either way
    monkeypatch.setattr(dedup, "DIRECT_PAIR_BUDGET", 0)
    pf = sorted(
        map(tuple, dedup.shingle_jaccard_pairs(docs, 0.5).collect())
    )
    assert base == pf and base  # identical, non-empty


def test_dedup_clusters_long_chain_converges(spark):
    # a 12-node path: every node takes the far end's label
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(13)], "doc_id long")
    rows = dedup.dedup_clusters_star(pairs, docs).collect()
    assert {r["cluster_id"] for r in rows} == {0}


def test_keep_representatives_hand_case(spark):
    # cluster {1,2,3} keeps 1 (absorbs 2), pair {10,11} keeps 10
    # (absorbs 1), singleton 20 keeps itself (absorbs 0)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(i, i * 100) for i in (1, 2, 3, 10, 11, 20)],
        "doc_id long, n_chars long",
    )
    clusters = dedup.dedup_clusters_star(pairs, docs)
    rows = dedup.keep_representatives(docs, clusters).collect()
    got = {
        r["doc_id"]: (r["cluster_size"], r["n_dupes_removed"], r["n_chars"])
        for r in rows
    }
    assert got == {1: (3, 2, 100), 10: (2, 1, 1000), 20: (1, 0, 2000)}


def test_fuzzy_decontam_hand_case(spark):
    # bench slice: doc_id < 2. Doc 5 is an exact copy of bench doc 0
    # (jaccard 1.0 → contaminated); doc 6 shares nothing (0.0, NULL
    # match); doc 7 partially overlaps bench doc 1 below threshold.
    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "one two three four five six seven"),
        (5, "alpha beta gamma delta epsilon zeta"),
        (6, "completely unrelated corpus document text here"),
        (7, "one two three nine ten eleven twelve"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in dedup.fuzzy_decontam(docs, bench_max=2).collect()
    }
    assert set(got) == {5, 6, 7}
    assert got[5]["bench_id"] == 0
    assert got[5]["best_jaccard"] == 1.0
    assert got[5]["is_contaminated"] is True
    assert got[6]["bench_id"] is None
    assert got[6]["best_jaccard"] == 0.0
    assert got[6]["is_contaminated"] is False
    # doc 7 vs bench 1: shingles 5 each, shared {"one two three"} → 1/9
    assert got[7]["bench_id"] == 1
    assert got[7]["best_jaccard"] == pytest.approx(round(1 / 9, 6))
    assert got[7]["is_contaminated"] is False


def test_fuzzy_decontam_tie_breaks_min_bench_id(spark):
    # two identical bench docs tie at jaccard 1.0 → argmax picks the
    # smaller bench_id deterministically
    rows = [
        (0, "alpha beta gamma delta epsilon"),
        (1, "alpha beta gamma delta epsilon"),
        (9, "alpha beta gamma delta epsilon"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.fuzzy_decontam(docs, bench_max=2).collect()
    assert len(got) == 1
    assert got[0]["bench_id"] == 0
    assert got[0]["best_jaccard"] == 1.0


def test_fuzzy_decontam_index_mode_matches_tokenize(spark, tmp_path):
    # index-driven fixture mode must return exactly what the
    # tokenizing path returns
    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "one two three four five six seven"),
        (5, "alpha beta gamma delta epsilon zeta"),
        (6, "completely unrelated corpus document text here"),
        (7, "one two three nine ten eleven twelve"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "shingle_index")
    dedup.write_shingle_index(docs, path)
    idx = dedup.read_shingle_index(spark, path)
    base = sorted(
        tuple(r) for r in dedup.fuzzy_decontam(docs, bench_max=2).collect()
    )
    via_index = sorted(
        tuple(r)
        for r in dedup.fuzzy_decontam(
            docs, bench_max=2, shingle_index=idx
        ).collect()
    )
    assert base == via_index


@pytest.fixture(params=["batch", "star"])
def cc_path(request, monkeypatch):
    """Both dedup_clusters_star paths: the default edge budget finishes
    in one Arrow batch; a zero budget sends every non-empty graph
    through the large-star/small-star rounds."""
    if request.param == "star":
        monkeypatch.setattr(dedup, "CC_LOCAL_MAX_EDGES", 0)
    return request.param


def _bfs_component_min(nodes, edges):
    """Reference labels: plain BFS over the undirected edge list, each
    node labelled with its component's smallest id."""
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    label = {}
    for start in sorted(nodes):
        if start in label:
            continue
        label[start] = start
        todo = [start]
        while todo:
            for nb in adj[todo.pop()]:
                if nb not in label:
                    label[nb] = start
                    todo.append(nb)
    return label


def test_star_cc_matches_min_label_hand_case(spark, cc_path):
    # chain 1-2-3 (transitive, no direct 1-3 edge), pair 10-11,
    # singleton 20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20)], "doc_id long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters_star(pairs, docs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_star_cc_matches_min_label_on_random_graph(spark, cc_path):
    import random

    rng = random.Random(7)
    n = 60
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(45)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters_star(pairs, docs).collect()
    }
    assert got == _bfs_component_min(range(n), edges)


def test_star_cc_long_chain_converges_logarithmically(spark, monkeypatch):
    # a 64-node path: min-label needs ~63 rounds, star must settle in
    # O(log n) — assert it fixpoints well under the propagation bound
    monkeypatch.setattr(dedup, "CC_LOCAL_MAX_EDGES", 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(64)], "doc_id long")
    # patch the class the frames really are (PySpark's classic
    # DataFrame overrides localCheckpoint, so patching the public base
    # class would count nothing)
    calls = {"rounds": 0}
    frame_cls = type(pairs)
    orig = frame_cls.localCheckpoint

    def counting(self, *a, **kw):
        calls["rounds"] += 1
        return orig(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "localCheckpoint", counting)
    rows = dedup.dedup_clusters_star(pairs, docs).collect()
    assert {r["cluster_id"] for r in rows} == {0}
    # the initial edge checkpoint plus one per round: at least one
    # round ran, and far fewer than min-label's 63
    assert 2 <= calls["rounds"] <= 12, calls["rounds"]


def test_star_cc_checkpointed_leaf_only_above_budget(spark, cc_path):
    """Under the edge budget the union-find reads the lazy edge set, so
    the labels plan has no checkpointed leaf and the plan cache may keep
    it; the star rounds above the budget build over checkpoints."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20)], "doc_id long"
    )
    labels = dedup.dedup_clusters_star(pairs, docs)
    assert entrymod._has_materialized_leaf(labels) == (cc_path == "star")


def test_keep_representatives_agrees_across_cc_algorithms(spark, cc_path):
    ids, edges = (1, 2, 3, 10, 11, 20), [(1, 2), (2, 3), (10, 11)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    docs = spark.createDataFrame(
        [(i, i * 10) for i in ids], "doc_id long, n_chars long"
    )
    ref = spark.createDataFrame(
        sorted(_bfs_component_min(ids, edges).items()),
        "doc_id long, cluster_id long",
    )
    a = sorted(tuple(r) for r in dedup.keep_representatives(
        docs, ref).collect())
    b = sorted(tuple(r) for r in dedup.keep_representatives(
        docs, dedup.dedup_clusters_star(pairs, docs)).collect())
    assert a == b


# jobs building dedup_clusters_star on a small graph may launch: the
# signature probe, which also materializes the lazy edge checkpoint,
# with its shuffle stage
STAR_CC_SMALL_GRAPH_MAX_JOBS = 3


def test_star_cc_small_graph_job_ceiling(spark, monkeypatch):
    """Under the edge budget, building the components launches a fixed
    handful of jobs whatever the graph's depth; the star rounds the
    budget replaces launch more on the same graph."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(32)], "doc_id long")
    n_batch = jobs_launched(
        spark, "star-cc-batch",
        lambda: dedup.dedup_clusters_star(pairs, docs),
    )
    assert 1 <= n_batch <= STAR_CC_SMALL_GRAPH_MAX_JOBS, n_batch
    monkeypatch.setattr(dedup, "CC_LOCAL_MAX_EDGES", 0)
    n_star = jobs_launched(
        spark, "star-cc-rounds",
        lambda: dedup.dedup_clusters_star(pairs, docs),
    )
    assert n_star > STAR_CC_SMALL_GRAPH_MAX_JOBS, n_star


def test_union_find_labels_hand_case():
    import pandas as pd

    # two batches: chain 9-5-7 spans them, pair 2-3 in one
    batches = [
        pd.DataFrame({"u": [9, 2], "v": [5, 3]}),
        pd.DataFrame({"u": [7], "v": [5]}),
    ]
    (out,) = list(dedup._union_find_labels(iter(batches)))
    assert dict(zip(out["u"], out["label"])) == {
        2: 2, 3: 2, 5: 5, 7: 5, 9: 5,
    }
    assert list(dedup._union_find_labels(iter([]))) == []


# ---------------------------------------------------------------------------
# Bloom-filter dedup gate (r12)
# ---------------------------------------------------------------------------


def _docs_df(spark, texts, ids=None):
    ids = ids if ids is not None else range(len(texts))
    return spark.createDataFrame(
        [(int(i), t) for i, t in zip(ids, texts)],
        "doc_id long, text string",
    )


def test_bloom_gate_no_false_negatives(spark):
    """An exact duplicate of an indexed doc ALWAYS flags (the Bloom
    guarantee), including under normalization (case/punct changes
    that the fingerprint canonicalizes away)."""
    corpus = _docs_df(spark, [
        "the quick brown fox jumps over the lazy dog",
        "machine learning at scale needs careful data curation",
        "completely unrelated third document about rivers",
    ])
    fw = dedup.bloom_filter_build(corpus)
    batch = _docs_df(spark, [
        "THE QUICK brown fox, jumps over the lazy dog!",  # dup mod norm
        "a genuinely fresh document never indexed before xyzzy",
    ], ids=[100, 101])
    rows = {r["id"]: r for r in dedup.bloom_gate(batch, fw).collect()}
    assert rows[100]["maybe_dup"] and rows[100]["n_hits"] == dedup.BLOOM_K
    # fresh doc at this geometry (m=2^18, 3 docs indexed): no FP
    assert not rows[101]["maybe_dup"]


def test_bloom_filter_packing_bounds(spark):
    """The packed bitmap stays within m/32 rows, word indexes within
    range, and every word fits the positive int64 range (32-bit
    packing — no sign-bit masks)."""
    corpus = _docs_df(
        spark, [f"document number {i} with words {i * 7}" for i in range(50)]
    )
    fw = dedup.bloom_filter_build(corpus).collect()
    assert 0 < len(fw) <= dedup.BLOOM_M_BITS // 32
    for r in fw:
        assert 0 <= r["word_idx"] < dedup.BLOOM_M_BITS // 32
        assert 0 < r["bits"] < (1 << 32)


def test_bloom_gate_deterministic_across_builds(spark):
    corpus = _docs_df(spark, ["alpha beta gamma", "delta epsilon zeta"])
    a = sorted(map(tuple, dedup.bloom_filter_build(corpus).collect()))
    b = sorted(map(tuple, dedup.bloom_filter_build(corpus).collect()))
    assert a == b


def test_bloom_gate_paragraphs_rollup(spark):
    corpus = _docs_df(spark, [
        "alpha beta gamma delta\nthe shared boilerplate footer line",
        "another body entirely\nsecond unique paragraph here",
    ])
    fw = dedup.bloom_filter_build(
        dedup.doc_paragraphs(corpus), text_col="para"
    )
    batch = _docs_df(spark, [
        # 3 paras: 1 dup (the footer, case/punct-normalized), 2 fresh
        "THE SHARED boilerplate footer line!\nfresh one qq\nfresh two zz",
        "",          # no surviving paragraphs
        "only fresh content in a single paragraph",
    ], ids=[100, 101, 102])
    rows = {
        r["id"]: r
        for r in dedup.bloom_gate_paragraphs(batch, fw).collect()
    }
    assert rows[100]["n_paras"] == 3 and rows[100]["n_dup_paras"] == 1
    assert abs(rows[100]["dup_para_frac"] - round(1 / 3, 6)) < 1e-9
    assert rows[101]["n_paras"] == 0 and rows[101]["dup_para_frac"] is None
    assert rows[102]["n_paras"] == 1 and rows[102]["n_dup_paras"] == 0


def test_doc_paragraphs_keeps_repeats_distinct(spark):
    df = _docs_df(spark, ["same line\nsame line\n\n   \nother"])
    rows = dedup.doc_paragraphs(df).collect()
    # blank/whitespace-only paragraphs dropped; repeats keep their index
    assert sorted((r["para_idx"], r["para"]) for r in rows) == [
        (0, "same line"), (1, "same line"), (4, "other"),
    ]


def test_bloom_gate_duplicate_batch_rows_still_flag(spark):
    """An at-least-once source delivering the same row twice in one
    batch must not break the no-false-negative guarantee: n_hits
    counts DISTINCT probe indexes, not probe rows."""
    corpus = _docs_df(spark, ["the quick brown fox jumps over the dog"])
    fw = dedup.bloom_filter_build(corpus)
    batch = _docs_df(
        spark,
        ["the quick brown fox jumps over the dog"] * 2
        + ["fresh text entirely\nfresh text entirely"],
        ids=[100, 100, 101],
    )
    rows = {r["id"]: r for r in dedup.bloom_gate(batch, fw).collect()}
    assert len(rows) == 2  # one verdict per distinct id
    assert rows[100]["maybe_dup"] and rows[100]["n_hits"] == dedup.BLOOM_K
    assert not rows[101]["maybe_dup"]
    # paragraph rollup likewise: one row per distinct id, dup rows
    # don't double-count paragraphs or probes
    pfw = dedup.bloom_filter_build(
        dedup.doc_paragraphs(corpus), text_col="para"
    )
    prow = {
        r["id"]: r
        for r in dedup.bloom_gate_paragraphs(batch, pfw).collect()
    }
    assert len(prow) == 2
    assert prow[100]["n_paras"] == 1 and prow[100]["n_dup_paras"] == 1
    assert prow[101]["n_paras"] == 2 and prow[101]["n_dup_paras"] == 0


def test_adaptive_n_planes_contract():
    """Occupancy-pinning geometry: floor at small n, log2 growth so
    2^planes tracks n/target, and a hard clamp at LSH_MAX_PLANES so
    an astronomically large corpus saturates instead of rp_blocks
    raising while the oracle's np CTE silently truncates (ADVICE
    r12)."""
    from rag_database_spark.operators.dedup import (
        LSH_MAX_PLANES, LSH_TARGET_OCCUPANCY, adaptive_n_planes,
    )

    t = LSH_TARGET_OCCUPANCY
    assert adaptive_n_planes(0) == 8
    assert adaptive_n_planes(t) == 8
    # growth: 2^planes ≈ n / target once past the floor
    assert adaptive_n_planes(t * 2**12) == 12
    assert adaptive_n_planes(t * 2**12 - 1) == 12
    assert adaptive_n_planes(t * 2**12 + 1) == 13
    # clamp: never exceeds the canonical draw, engine == oracle
    assert adaptive_n_planes(t * 2**40) == LSH_MAX_PLANES
    assert adaptive_n_planes(2**62) == LSH_MAX_PLANES


def test_soft_dedup_weights(spark):
    """Component {1,2,3} weights 1/3, pair {5,6} weights 0.5,
    singleton 4 weights 1.0 — one row per corpus doc, weight rounded
    at 6dp."""
    from rag_database_spark.operators.dedup import soft_dedup

    docs = spark.createDataFrame(
        [(i, "t") for i in range(1, 7)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    rows = {r["doc_id"]: r for r in soft_dedup(pairs, docs).collect()}
    assert len(rows) == 6
    for d in (1, 2, 3):
        assert rows[d]["cluster_id"] == 1
        assert rows[d]["group_size"] == 3
        assert rows[d]["weight"] == 0.333333
    assert rows[4]["group_size"] == 1 and rows[4]["weight"] == 1.0
    for d in (5, 6):
        assert rows[d]["cluster_id"] == 5
        assert rows[d]["weight"] == 0.5
    # total gradient mass ≈ number of distinct components
    assert abs(sum(r["weight"] for r in rows.values()) - 3.0) < 1e-5


def test_leakage_safe_split_is_cluster_atomic_and_deterministic(spark):
    """Every near-dup component lands wholly on one side (the property
    that prevents train/eval contamination), the assignment is a pure
    function of (seed, cluster_id), and eval_fraction brackets the
    eval share over many singleton clusters."""
    labels = spark.createDataFrame(
        [(d, c) for c in range(200) for d in (c * 10, c * 10 + 1)],
        "doc_id long, cluster_id long",
    )
    out = dedup.leakage_safe_split(labels, eval_fraction=0.25, seed=7)
    rows = out.collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values()), "split broke a cluster"

    # deterministic: a second run (different partitioning) is identical
    again = dedup.leakage_safe_split(
        labels.repartition(7), eval_fraction=0.25, seed=7
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    # seed changes the assignment; fraction ~25% within loose bounds
    other = {
        (r["doc_id"], r["split"])
        for r in dedup.leakage_safe_split(
            labels, eval_fraction=0.25, seed=8
        ).collect()
    }
    assert other != {(r["doc_id"], r["split"]) for r in rows}
    frac = sum(1 for s in by_cluster.values() if s == {"eval"}) / 200
    assert 0.12 < frac < 0.40, frac


def test_split_leakage_audit_counts_crossings(spark):
    """Planted case: pair (1,2) crosses a hand-made split, pair (3,4)
    does not — the audit reports exactly one crossing row with
    normalized side labels, and a cluster-atomic split of the same
    graph audits crossing-free."""
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.8)], "id_a long, id_b long, jaccard double"
    )
    split = spark.createDataFrame(
        [(1, "train"), (2, "eval"), (3, "train"), (4, "train")],
        "doc_id long, split string",
    )
    got = {
        (r["split_a"], r["split_b"]): r["n_pairs"]
        for r in dedup.split_leakage_audit(pairs, split).collect()
    }
    assert got == {("eval", "train"): 1, ("train", "train"): 1}

    # the cluster-atomic split over the same graph never crosses
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3)], "doc_id long, cluster_id long"
    )
    atomic = dedup.leakage_safe_split(labels, eval_fraction=0.5, seed=3)
    crossings = {
        (r["split_a"], r["split_b"])
        for r in dedup.split_leakage_audit(
            pairs, atomic.select("doc_id", "split")
        ).collect()
    }
    assert all(a == b for a, b in crossings), crossings
