"""Persisted-index layouts (S7): write/read round trips and appends
that equal a full rebuild."""

from __future__ import annotations

from rag_database_spark.operators import bm25 as bm25_ops

DOCS = [
    (0, "fast hash join beats sort merge join"),
    (1, "sort merge join wins on presorted data"),
    (2, "hash table build side must fit memory"),
]


def test_plain_index_roundtrip(spark, tmp_path):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / "idx")
    bm25_ops.write_index(docs, path)
    postings, doclens = bm25_ops.read_index(spark, path)
    direct = bm25_ops.build_postings(docs).collect()
    assert sorted(map(tuple, postings.collect())) == sorted(map(tuple, direct))
    assert doclens.count() == 3


def test_pair_index_roundtrip_equals_rebuild(spark, tmp_path):
    """The persisted near-dup pair set must read back identical to a
    fresh shingle_jaccard_pairs build (a restarted session serves the
    same pairs)."""
    from rag_database_spark.operators import dedup

    texts = [
        (i, "the quick brown fox jumps over the lazy dog every day " * 3)
        for i in range(4)
    ] + [(10 + i, f"totally unrelated text body number {i} here") for i in range(3)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    built = dedup.shingle_jaccard_pairs(docs, 0.5)
    path = str(tmp_path / "pairs")
    dedup.write_pair_index(built, path)
    back = dedup.read_pair_index(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, built.collect())
    )


def test_append_pair_index_equals_full_rebuild(spark, tmp_path):
    """Incremental admission invariant: pairs(corpus) on disk + the
    appended batch pairs must equal a full rebuild over corpus ∪ batch
    — cross pairs via the index probe, within-batch pairs via the
    self-join, no pair missed or duplicated."""
    from rag_database_spark.operators import dedup

    dup = "the quick brown fox jumps over the lazy dog every single day "
    corpus = spark.createDataFrame(
        [(1, dup * 3), (2, dup * 3 + "tail marker one"),
         (3, "completely different text body with other words here now")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, dup * 3 + "incoming twin"), (11, dup * 3 + "incoming twin bis"),
         (12, "unrelated incoming document text")],
        "doc_id long, text string",
    )
    pair_path = str(tmp_path / "pairs")
    sh_path = str(tmp_path / "shingles")
    dedup.write_shingle_index(corpus, sh_path)
    dedup.write_pair_index(
        dedup.shingle_jaccard_pairs(corpus, 0.5), pair_path
    )
    dedup.append_pair_index(batch, pair_path, sh_path, 0.5)

    incremental = sorted(
        map(tuple, dedup.read_pair_index(spark, pair_path).collect())
    )
    rebuilt = sorted(
        map(tuple, dedup.shingle_jaccard_pairs(corpus.union(batch), 0.5).collect())
    )
    assert incremental == rebuilt
    assert len(rebuilt) > 3  # cross AND within-batch pairs exist
    # the shingle index was maintained too: a second batch sees doc 10
    idx = dedup.read_shingle_index(spark, sh_path)
    assert idx.filter(idx.doc_id == 10).count() > 0


def test_adjacency_roundtrip_equals_rebuild(spark, tmp_path):
    """The persisted adjacency must read back identical to a fresh
    build_adjacency over the same edges."""
    from rag_database_spark.operators import graph as graph_ops

    edges = spark.createDataFrame(
        [(1, 2, "next", 0.9), (2, 3, "next", 0.6), (3, 4, "ref", 0.95)],
        "src long, dst long, relation_type string, confidence double",
    )
    built = graph_ops.build_adjacency(edges, 0.7)
    path = str(tmp_path / "adj")
    graph_ops.write_adjacency(built, path)
    back = graph_ops.read_adjacency(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, built.collect())
    )


def test_append_ivf_index_assigns_like_kmeans(spark, tmp_path):
    """Appended vectors must land in the list a rebuild with the same
    (frozen) centroids would choose — Euclidean argmin, verified
    independently with numpy — and the probe must then find them."""
    import numpy as np

    from rag_database_spark.operators import similarity

    rng = np.random.default_rng(7)
    base = [(i, rng.normal(size=8).tolist()) for i in range(60)]
    corpus = spark.createDataFrame(base, "id long, vec array<double>")
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(corpus, path, n_centroids=4)

    batch_rows = [(100 + i, rng.normal(size=8).tolist()) for i in range(10)]
    batch = spark.createDataFrame(batch_rows, "id long, vec array<double>")
    similarity.append_ivf_index(batch, path)

    centroids, lists = similarity.read_ivf_index(spark, path)
    cent_rows = centroids.collect()
    # det-built indexes store centroids in the quantized frame — the
    # numpy re-derivation must compare in the same frame
    scale = cent_rows[0]["frame_scale"]
    ctr = {r["centroid_id"]: np.array(r["cvec"]) for r in cent_rows}
    got = {
        r["id"]: r["centroid_id"]
        for r in lists.filter(lists.id >= 100).collect()
    }
    assert set(got) == {100 + i for i in range(10)}
    for vid, vec in batch_rows:
        qx = np.round(np.array(vec) * scale)
        d2 = {cid: float(((qx - c) ** 2).sum()) for cid, c in ctr.items()}
        assert got[vid] == min(sorted(d2), key=lambda c: (d2[c], c)), vid
    # the probe serves the appended vector: querying with its own
    # value must return it at rank 1
    q = spark.createDataFrame(
        [(1, batch_rows[0][1])], "query_id long, qvec array<double>"
    )
    top = similarity.ivf_topk_indexed(q, centroids, lists, 3).collect()
    assert top[0]["id"] == batch_rows[0][0]


def test_append_ivf_index_reads_batch_once(spark, tmp_path, monkeypatch):
    """The appended lists come from one Arrow pass that assigns on the
    quantized vector and carries the raw one through: the written plan
    reads the batch once, with no join back on id and no shuffle."""
    import numpy as np

    from plan_inspect import physical_node_names
    from rag_database_spark.operators import similarity

    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(40)]
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(
        spark.createDataFrame(rows[:30], "id long, vec array<double>"),
        path, n_centroids=4,
    )
    batch = spark.createDataFrame(rows[30:], "id long, vec array<double>")
    frame_cls, written = type(batch), []
    write = frame_cls.write
    monkeypatch.setattr(
        frame_cls, "write",
        property(lambda df: written.append(df) or write.fget(df)),
    )
    similarity.append_ivf_index(batch, path)
    monkeypatch.undo()
    names = physical_node_names(written[-1])
    assert not [n for n in names if "Join" in n or "Exchange" in n], names
    assert sum("Scan" in n for n in names) == 1, names
    lists = similarity.read_ivf_index(spark, path)[1]
    got = {r["id"]: list(r["vec"]) for r in lists.filter("id >= 30").collect()}
    assert got == {i: v for i, v in rows[30:]}
