"""Document graph: F19 extraction on legal fixture text (mirrors the
reference's amendment smoke, document_graph.py:605-662), J10 reference
resolution, J5 BFS, J6 shortest chain, J7 augmentation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_database_spark.operators import graph as g

AMENDMENT = (
    "This First Amendment to Service Agreement 2023 is entered into. "
    "This amendment supersedes all prior versions of the agreement. "
    "See Exhibit A attached hereto. "
    "Pursuant to IRC Section 1401(a) the parties agree. "
    "As defined in the Master Services Agreement, fees may vary."
)


@pytest.fixture(scope="module")
def edges(spark):
    docs = spark.createDataFrame(
        [(100, AMENDMENT), (200, "plain text with no references at all")],
        "doc_id long, text string",
    )
    return g.extract_relationships(docs)


def test_extraction_families(edges):
    rows = edges.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["relation_type"], []).append(r)
    assert set(by_type) >= {"amends", "supersedes", "exhibits_to", "cites",
                            "references"}
    assert all(r["source_id"] == 100 for r in rows)


def test_confidence_heuristic(edges):
    rows = {(r["relation_type"], r["target_ref"]): r["confidence"]
            for r in edges.collect()}
    # cites/exhibits start at .9 (document_graph.py:191-193)
    assert rows[("exhibits_to", "A")] == pytest.approx(0.9)
    assert rows[("cites", "1401(a)")] == pytest.approx(0.9)
    # hedging 'may' inside the reference match drops .1 from base .7
    ref_confs = [v for (t, _), v in rows.items() if t == "references"]
    assert any(c == pytest.approx(0.6) for c in ref_confs)
    assert all(0.3 <= c <= 1.0 for c in rows.values())


def test_resolution(spark, edges):
    idents = spark.createDataFrame(
        [("master services agreement", 7)], "identifier string, doc_id long"
    )
    resolved = g.resolve_references(edges, idents)
    hits = resolved.filter(F.col("target_id") == "7").collect()
    assert len(hits) == 1
    assert "master services agreement" in hits[0]["target_ref"].lower()


@pytest.fixture(scope="module")
def chain_edges(spark):
    # 1-2-3-4 path plus a low-confidence shortcut 1-4
    return spark.createDataFrame(
        [(1, 2, "r", 0.9), (2, 3, "r", 0.9), (3, 4, "r", 0.9),
         (1, 4, "r", 0.4)],
        "src long, dst long, relation_type string, confidence double",
    )


def test_bfs_depth_and_confidence_filter(spark, chain_edges):
    seeds = spark.createDataFrame([(1,)], ["start_id"])
    rows = g.bfs_expand(chain_edges, seeds, max_depth=2, min_confidence=0.5)
    got = {(r["doc_id"]): r["depth"] for r in rows.collect()}
    # low-confidence 1-4 edge is skipped: 4 is NOT reachable in 2 hops
    assert got == {2: 1, 3: 2}


def test_shortest_chain(spark, chain_edges):
    def chain_len(src, dst, **kw):
        pairs = spark.createDataFrame([(src, dst)], "src long, dst long")
        return g.shortest_chains(chain_edges, pairs, **kw).first()["chain_len"]

    assert chain_len(1, 4, min_confidence=0.5) == 3
    assert chain_len(1, 4, min_confidence=0.3) == 1
    assert chain_len(1, 99) is None


def test_shortest_chains_hub_skew(spark):
    """Star graph: one hub (0) connected to every leaf — the meeting
    node every seed reaches at depth 1. The pair-first meet bounds the
    intermediate at Σ_pairs |reach(src)| (linear in the request size)
    instead of |seeds|² rows on the hub key; correctness: every
    leaf↔leaf pair is distance 2 via the hub, leaf↔hub is 1, and a
    node outside the component stays NULL."""
    n = 60
    edges = spark.createDataFrame(
        [(0, i, "r", 0.9) for i in range(1, n + 1)]
        + [(100, 101, "r", 0.9)],  # disconnected component
        "src long, dst long, relation_type string, confidence double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 40), (5, 0), (1, 100)], "src long, dst long"
    )
    got = {
        (r["src"], r["dst"]): r["chain_len"]
        for r in g.shortest_chains(edges, pairs, max_depth=4).collect()
    }
    assert got == {(1, 2): 2, (3, 40): 2, (5, 0): 1, (1, 100): None}


def test_augment_results(spark, chain_edges):
    results = spark.createDataFrame(
        [(1, 2, 1)], "query_id long, id long, rank long"
    )
    rows = g.augment_results(results, chain_edges).collect()
    got = {r["id"]: (r["graph_score"], r["aug_rank"]) for r in rows}
    # neighbors of doc 2: 1 and 3 (conf .9 each), both new
    assert got == {1: (0.9, 1), 3: (0.9, 2)}


def test_bfs_with_prebuilt_adjacency(spark, chain_edges):
    """A supplied build_adjacency frame gives identical results to the
    self-built path across all three traversal operators.

    (No persistence assertion: Spark's cache manager keys cached data
    by analyzed plan, so a self-built twin of the same adjacency plan
    shares — and on unpersist clears — the same cache entry; only
    results, never cache state, are guaranteed here.)"""
    seeds = spark.createDataFrame([(1,)], ["start_id"])
    adj = g.build_adjacency(chain_edges, 0.5).persist()
    try:
        own = g.bfs_expand(chain_edges, seeds, 2, 0.5)
        given = g.bfs_expand(chain_edges, seeds, 2, 0.5, adj=adj)
        assert sorted(map(tuple, own.collect())) == sorted(
            map(tuple, given.collect())
        )
        chains = g.shortest_chains(
            chain_edges,
            spark.createDataFrame([(1, 4)], "src long, dst long"),
            max_depth=3,
            min_confidence=0.5,
            adj=adj,
        ).collect()
        assert chains[0]["chain_len"] == 3
        aug = g.augment_results(
            spark.createDataFrame([(1, 2, 1)], "query_id long, id long, rank long"),
            chain_edges,
            adj=adj,
        ).collect()
        assert {r["id"] for r in aug} == {1, 3}
    finally:
        adj.unpersist()


def test_pagerank_matches_dense_reference(spark):
    """pagerank == a dense numpy power iteration on the same graph:
    same damping, same dangling redistribution, same round count.
    Node 5 is isolated (dangling), node 2 is the hub."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], ["doc_id"])
    edges = spark.createDataFrame(
        [(1, 2, "t", 1.0), (2, 3, "t", 1.0), (2, 4, "t", 1.0)],
        "src long, dst long, relation_type string, confidence double",
    )
    got = {
        r["doc_id"]: r["rank"]
        for r in g.pagerank(nodes, edges, iterations=5).collect()
    }

    adj = {1: [2], 2: [1, 3, 4], 3: [2], 4: [2], 5: []}
    n, d = 5, 0.85
    r = {v: 1.0 / n for v in adj}
    for _ in range(5):
        dangling = sum(r[v] for v in adj if not adj[v])
        contrib = {v: 0.0 for v in adj}
        for u, outs in adj.items():
            for v in outs:
                contrib[v] += r[u] / len(outs)
        r = {
            v: (1.0 - d) / n + d * (contrib[v] + dangling / n)
            for v in adj
        }

    assert set(got) == set(r)
    for v in r:
        assert abs(got[v] - r[v]) < 1e-12, (v, got[v], r[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[2] == max(got.values())


def test_personalized_pagerank_concentrates_on_seeds(spark):
    """With a seed teleport set, mass concentrates on the seed and its
    neighborhood; a node disconnected from the seeds scores 0."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], ["doc_id"])
    edges = spark.createDataFrame(
        [(1, 2, "t", 1.0), (2, 3, "t", 1.0), (4, 5, "t", 1.0)],
        "src long, dst long, relation_type string, confidence double",
    )
    seeds = spark.createDataFrame([(1,)], ["doc_id"])
    got = {
        r["doc_id"]: r["rank"]
        for r in g.pagerank(nodes, edges, seeds=seeds).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # seed holds at least the undamped teleport share; its hub
    # neighbor may legitimately exceed it (mass funnels through 2)
    assert got[1] >= 0.15
    assert got[4] == 0.0 and got[5] == 0.0
    assert got[2] > got[3] > 0.0
    assert got[1] + got[2] + got[3] > 0.999999


def test_triangles_counts_and_clustering(spark):
    """Triangle {1,2,3} with pendant 4 off node 3: per-node counts and
    clustering coefficients are exact; each triangle is counted once
    despite the degree orientation."""
    edges = spark.createDataFrame(
        [(1, 2, "t", 1.0), (2, 3, "t", 1.0), (1, 3, "t", 1.0),
         (3, 4, "t", 1.0)],
        "src long, dst long, relation_type string, confidence double",
    )
    got = {r["node"]: r for r in g.triangles(edges).collect()}
    assert (got[1]["degree"], got[1]["n_triangles"], got[1]["clustering"]) \
        == (2, 1, 1.0)
    assert (got[2]["degree"], got[2]["n_triangles"], got[2]["clustering"]) \
        == (2, 1, 1.0)
    assert (got[3]["degree"], got[3]["n_triangles"]) == (3, 1)
    assert abs(got[3]["clustering"] - round(2 / 6, 6)) < 1e-9
    assert (got[4]["degree"], got[4]["n_triangles"], got[4]["clustering"]) \
        == (1, 0, 0.0)


def test_triangles_match_brute_force_on_random_graph(spark):
    """Compact-forward counts == naive all-triple enumeration on a
    30-node pseudo-random graph (deterministic md5-derived edge set),
    including the degree-tie orientation branch."""
    import hashlib
    from itertools import combinations

    pairs = sorted(
        (a, b)
        for a, b in combinations(range(1, 31), 2)
        if int(hashlib.md5(f"{a}:{b}".encode()).hexdigest(), 16) % 5 == 0
    )
    edges = spark.createDataFrame(
        [(a, b, "t", 1.0) for a, b in pairs],
        "src long, dst long, relation_type string, confidence double",
    )
    got = {r["node"]: r for r in g.triangles(edges).collect()}

    nbrs: dict[int, set[int]] = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    tri = {v: 0 for v in nbrs}
    for a, b, c in combinations(sorted(nbrs), 3):
        if b in nbrs[a] and c in nbrs[a] and c in nbrs[b]:
            for v in (a, b, c):
                tri[v] += 1
    assert set(got) == set(nbrs)
    for v in nbrs:
        assert got[v]["degree"] == len(nbrs[v]), v
        assert got[v]["n_triangles"] == tri[v], v
        d = len(nbrs[v])
        want = round(2 * tri[v] / (d * (d - 1)), 6) if d >= 2 else 0.0
        assert abs(got[v]["clustering"] - want) < 1e-9, v


def test_pagerank_rejects_mismatched_prebuilt_out(spark):
    """Passing a prebuilt out= edge artifact whose weighted-ness
    disagrees with the weighted= flag raises instead of silently
    using the artifact's semantics (the transition weight is keyed
    off the 'w' column's presence)."""
    import pytest

    nodes = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    edges = spark.createDataFrame(
        [(1, 2, "t", 0.9)],
        "src long, dst long, relation_type string, confidence double",
    )
    out_w = g.pagerank_edges(edges, weighted=True)
    out_u = g.pagerank_edges(edges, weighted=False)
    with pytest.raises(ValueError, match="weighted"):
        g.pagerank(nodes, out=out_w, weighted=False)
    with pytest.raises(ValueError, match="weighted"):
        g.pagerank(nodes, out=out_u, weighted=True)
    # matching combinations still run
    assert g.pagerank(nodes, out=out_w, weighted=True).count() == 2
    assert g.pagerank(nodes, out=out_u).count() == 2


def test_weighted_pagerank_matches_dense_reference(spark):
    """Weighted pagerank == a dense reference with confidence-weighted
    transitions (max over parallel edges, 6dp-rounded weight-sum
    degree); the strong edge pulls more mass than the weak one."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], ["doc_id"])
    edges = spark.createDataFrame(
        [(1, 2, "a", 0.9), (1, 2, "b", 0.5),   # parallel: max -> 0.9
         (1, 3, "a", 0.1), (2, 4, "a", 0.7)],
        "src long, dst long, relation_type string, confidence double",
    )
    got = {
        r["doc_id"]: r["rank"]
        for r in g.pagerank(nodes, edges, weighted=True).collect()
    }

    w = {}
    for a, b, c in ((1, 2, 0.9), (1, 3, 0.1), (2, 4, 0.7)):
        w[(a, b)] = c
        w[(b, a)] = c
    deg = {}
    for (a, _), c in w.items():
        deg[a] = deg.get(a, 0.0) + c
    deg = {k: round(v, 6) for k, v in deg.items()}
    n, d = 4, 0.85
    r = {v: 1.0 / n for v in range(1, 5)}
    for _ in range(5):
        contrib = {v: 0.0 for v in r}
        for (a, b), c in w.items():
            contrib[b] += r[a] * c / deg[a]
        r = {v: (1.0 - d) / n + d * contrib[v] for v in r}

    for v in r:
        assert abs(got[v] - r[v]) < 1e-12, (v, got[v], r[v])
    # node 2 (strong 0.9 link from the hub) outranks node 3 (weak 0.1)
    assert got[2] > got[3]


def test_pagerank_seed_dedup_and_unknown_seeds(spark):
    """Duplicate seed rows and seeds outside the node set must not
    break the probability-distribution invariant: ranks match the
    clean single-seed run exactly."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 4)], ["doc_id"])
    edges = spark.createDataFrame(
        [(1, 2, "t", 1.0), (2, 3, "t", 1.0)],
        "src long, dst long, relation_type string, confidence double",
    )
    clean = {
        r["doc_id"]: r["rank"]
        for r in g.pagerank(
            nodes, edges,
            seeds=spark.createDataFrame([(1,)], ["doc_id"]),
        ).collect()
    }
    messy = {
        r["doc_id"]: r["rank"]
        for r in g.pagerank(
            nodes, edges,
            seeds=spark.createDataFrame(
                [(1,), (1,), (99,)], ["doc_id"]   # dup + unknown
            ),
        ).collect()
    }
    assert messy == clean
    assert abs(sum(messy.values()) - 1.0) < 1e-9
    assert len(messy) == 3
