"""Engine robustness: every batch text/dedup operator must return an
EMPTY result with its normal schema on an empty corpus — not raise.
(Degenerate inputs are routine at 100 TB: an empty partition, a
filtered-out tenant, a bootstrap run before any ingest.)"""

from __future__ import annotations

from rag_database_spark.operators import dedup
from rag_database_spark.operators import text_analytics as ta


def test_operators_tolerate_empty_corpus(spark):
    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    ops = {
        "lang_id": lambda: ta.lang_id(empty),
        "token_stats": lambda: ta.token_stats(empty),
        "doc_quality": lambda: ta.doc_quality(empty),
        "exact_dedup": lambda: ta.exact_dedup(empty),
        "dup_ngram_fraction": lambda: ta.dup_ngram_fraction(empty),
        "gopher_rules": lambda: ta.gopher_rules(empty),
        "dup_spans": lambda: ta.dup_spans(empty),
        "cut_dup_spans": lambda: ta.cut_dup_spans(empty),
        "frequent_ngrams": lambda: ta.frequent_ngrams(empty),
        "vocab_oov": lambda: ta.vocab_oov(empty),
        "quality_filter": lambda: ta.quality_filter(empty),
        "source_mix": lambda: ta.source_mix(empty),
        "decontaminate": lambda: ta.decontaminate(empty),
        "shingle_jaccard_pairs": lambda: dedup.shingle_jaccard_pairs(
            empty, 0.8
        ),
        "minhash_signatures": lambda: dedup.minhash_signatures(empty),
        "simhash": lambda: dedup.simhash(empty),
        "fuzzy_decontam": lambda: dedup.fuzzy_decontam(empty),
    }
    failures = []
    for name, fn in ops.items():
        try:
            df = fn()
            assert df.count() == 0
            assert df.schema.fields  # schema survives the empty input
        except Exception as exc:  # noqa: BLE001 - collect, then report
            failures.append(f"{name}: {type(exc).__name__}: {exc}")
    assert not failures, failures


def test_graph_and_mixing_ops_tolerate_empty_input(spark):
    """r7 operators: empty corpus / edge set yields an empty result
    with the normal schema (pagerank guards its 1/n teleport)."""
    from rag_database_spark.operators import graph as g

    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    empty_edges = spark.createDataFrame(
        [], "src long, dst long, relation_type string, confidence double"
    )
    some_nodes = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    ops = {
        "lm_score": lambda: ta.lm_score(empty_docs),
        "temperature_sample": lambda: ta.temperature_sample(empty_docs),
        "triangles": lambda: g.triangles(empty_edges),
        "pagerank_no_nodes": lambda: g.pagerank(
            empty_docs.select("doc_id"), empty_edges
        ),
        "pagerank_no_seeds": lambda: g.pagerank(
            some_nodes, empty_edges, seeds=some_nodes.limit(0)
        ),
    }
    failures = []
    for name, fn in ops.items():
        try:
            df = fn()
            assert df.count() == 0
            assert df.schema.fields
        except Exception as exc:  # noqa: BLE001 - collect, then report
            failures.append(f"{name}: {type(exc).__name__}: {exc}")
    assert not failures, failures


def test_r10_selection_and_bpe_ops_tolerate_empty_corpus(spark):
    """r10 operators: BPE training, token-budget selection, and
    contrastive scoring all return empty results with stable schemas
    on an empty corpus (bootstrap before any ingest)."""
    from rag_database_spark.operators import bpe

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    merges, encoded = bpe.train_bpe(empty, num_merges=4)
    assert merges.count() == 0 and merges.schema.fields
    assert encoded.count() == 0

    assert bpe.pair_stats(empty).count() == 0
    assert bpe.encode_docs(empty, encoded).count() == 0

    sel = ta.token_budget_select(empty, frac=0.6)
    assert sel.count() == 0 and sel.schema.fields

    cs = ta.contrastive_score(empty, empty.filter("lang = 'en'"))
    assert cs.count() == 0 and cs.schema.fields


def test_clustering_and_dsir_tolerate_empty_input(spark):
    """r11 operators: empty embedding corpus / empty document corpus
    yield empty results with the normal schema (kmeans guards its
    init collect; train_dsir's totals coalesce to 0)."""
    from rag_database_spark.operators import clustering

    empty_emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    assign, cents = clustering.kmeans_fit(empty_emb)
    assert assign.count() == 0 and cents == []
    sd = clustering.semdedup(empty_emb, assign)
    assert sd.count() == 0 and sd.schema.fields

    model = ta.train_dsir(empty_docs, empty_docs)
    rows = model.collect()
    assert len(rows) == 1 and rows[0]["bucket"] == -1
    assert rows[0]["w"] == 0.0  # empty corpus carries no evidence
    scored = ta.dsir_score(empty_docs, model)
    assert scored.count() == 0 and scored.schema.fields


def test_r12_operators_tolerate_empty_corpus(spark):
    """r12 additions: perceptron, centroid outliers, Bloom gates."""
    from rag_database_spark.operators import classifier as cl
    from rag_database_spark.operators import clustering

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )

    feats = cl.perceptron_features(empty_docs)
    assert feats.count() == 0
    # training on nothing: zero weights, scoring selects nothing
    w = cl.perceptron_train(feats)
    assert w == [0] * len(cl.FEATURES)
    assert cl.perceptron_score(feats, w).count() == 0

    # empty corpus -> empty assignments/centroids -> empty outliers
    assign, cents = clustering.kmeans_fit(empty_emb, k=3, iters=1)
    cent_df = spark.createDataFrame([], "cluster_id int, cvec array<double>")
    out = clustering.centroid_outliers(empty_emb, assign, cent_df)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "id", "cluster_id", "dist", "crank", "cluster_n", "keep",
    ]

    # empty filter build; probing a non-empty batch against an EMPTY
    # filter: everything misses (left join, bits NULL)
    fw = dedup.bloom_filter_build(empty_docs)
    assert fw.count() == 0
    batch = spark.createDataFrame(
        [(1, "some text here")], "doc_id long, text string"
    )
    rows = dedup.bloom_gate(batch, fw).collect()
    assert rows[0]["n_hits"] == 0 and not rows[0]["maybe_dup"]
    prows = dedup.bloom_gate_paragraphs(batch, fw).collect()
    assert prows[0]["n_dup_paras"] == 0
    # and an empty BATCH against a non-empty filter
    fw2 = dedup.bloom_filter_build(batch)
    assert dedup.bloom_gate(empty_docs, fw2).count() == 0
    assert dedup.bloom_gate_paragraphs(empty_docs, fw2).count() == 0


def test_r13_ivf_tolerates_degenerate_input(spark, tmp_path):
    """r13 addition: det-IVF quantized probe with empty queries /
    empty corpus."""
    import numpy as np

    from rag_database_spark.operators import similarity

    rng = np.random.default_rng(3)
    corpus = spark.createDataFrame(
        [(i, rng.normal(size=4).tolist()) for i in range(20)],
        "id long, vec array<double>",
    )
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(corpus, path, n_centroids=2)
    centroids, lists = similarity.read_ivf_index(spark, path)

    empty_q = spark.createDataFrame([], "query_id long, qvec array<double>")
    out = similarity.ivf_topk_indexed(
        empty_q, centroids, lists, 3
    )
    assert out.count() == 0
    assert out.columns == ["query_id", "id", "score", "rank"]

    # empty centroid table (bootstrap index): probe returns nothing
    q = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 0.0])], "query_id long, qvec array<double>"
    )
    empty_cent = spark.createDataFrame(
        [], "centroid_id int, cvec array<double>, frame_scale int"
    )
    assert similarity.ivf_topk_indexed(
        q, empty_cent, lists, 3
    ).count() == 0

    # ivf_k_for(0) stays at the floor; write over an empty corpus is
    # a no-op-sized but valid index (0 lists, floor centroids request
    # collapses to however many distinct init vectors exist: none)
    empty_c = spark.createDataFrame([], "id long, vec array<double>")
    path2 = str(tmp_path / "ivf_empty")
    similarity.write_ivf_index(empty_c, path2)
    cent2, lists2 = similarity.read_ivf_index(spark, path2)
    assert cent2.count() == 0 and lists2.count() == 0


def test_r13_flagged_shuffle_matryoshka_tolerate_empty_input(spark):
    """The r13 second-batch trio: empty corpus/queries yield empty
    results with the normal schema (no div-by-zero, no window crash,
    no GEMM on a zero-row side)."""
    from rag_database_spark.operators.packing import shuffle_export
    from rag_database_spark.operators.similarity import matryoshka_topk
    from rag_database_spark.operators.text_analytics import flagged_words

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_vecs = spark.createDataFrame([], "id long, vec array<double>")
    one_query = spark.createDataFrame(
        [(1, [1.0] * 24)], "query_id long, qvec array<double>"
    )
    some_vecs = spark.createDataFrame(
        [(1, [1.0] * 24), (2, [0.5] * 24)], "id long, vec array<double>"
    )
    empty_queries = spark.createDataFrame(
        [], "query_id long, qvec array<double>"
    )

    fw = flagged_words(empty_docs)
    assert fw.count() == 0
    assert set(fw.columns) == {
        "doc_id", "n_words", "n_flagged", "flagged_frac",
        "any_flagged", "passes",
    }

    se = shuffle_export(empty_docs)
    assert se.count() == 0
    assert set(se.columns) == {"doc_id", "sort_key", "shard", "pos"}

    assert matryoshka_topk(one_query, empty_vecs, 5).count() == 0
    assert matryoshka_topk(empty_queries, some_vecs, 5).count() == 0


def test_r13_soft_dedup_and_quota_sample_tolerate_empty_input(spark):
    from rag_database_spark.operators.clustering import (
        cluster_quota_sample,
    )
    from rag_database_spark.operators.dedup import soft_dedup

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    some_docs = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    )
    empty_assign = spark.createDataFrame([], "id long, cluster_id int")

    sd = soft_dedup(empty_pairs, empty_docs)
    assert sd.count() == 0
    assert set(sd.columns) == {
        "doc_id", "cluster_id", "group_size", "weight",
    }
    # no pairs at all: every doc is its own singleton at weight 1.0
    rows = soft_dedup(empty_pairs, some_docs).collect()
    assert {r["doc_id"] for r in rows} == {1, 2}
    assert all(r["weight"] == 1.0 for r in rows)

    qs = cluster_quota_sample(empty_assign)
    assert qs.count() == 0
    assert set(qs.columns) == {
        "id", "cluster_id", "pick_key", "pick_rank", "cluster_n", "keep",
    }


def test_ir_metrics_tolerates_empty_inputs(spark):
    from rag_database_spark.operators.evaluation import ir_metrics

    empty_results = spark.createDataFrame(
        [], "query_id long, id long, rank long"
    )
    empty_qrels = spark.createDataFrame([], "query_id long, id long")
    some_results = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, id long, rank long"
    )
    assert ir_metrics(empty_results, empty_qrels).count() == 0
    rows = ir_metrics(some_results, empty_qrels).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["total_rel"] == 0 and r["hits"] == 0
    assert r["mrr"] == 0.0 and r["recall_at_k"] == 0.0
    assert r["ndcg_at_k"] == 0.0


def test_shortest_chains_tolerates_empty_inputs(spark):
    """The pair-first meet join: empty pairs yields an empty frame
    with the (src, dst, chain_len) schema; empty edges yields every
    requested pair with a NULL chain_len (nothing is reachable)."""
    from rag_database_spark.operators import graph as g

    edges = spark.createDataFrame(
        [(1, 2, "r", 0.9)],
        "src long, dst long, relation_type string, confidence double",
    )
    empty_edges = edges.limit(0)
    pairs = spark.createDataFrame([(1, 2)], "src long, dst long")

    no_pairs = g.shortest_chains(edges, pairs.limit(0))
    assert no_pairs.count() == 0
    assert [f.name for f in no_pairs.schema.fields] == [
        "src", "dst", "chain_len"
    ]

    no_edges = g.shortest_chains(empty_edges, pairs).collect()
    assert len(no_edges) == 1
    assert no_edges[0]["chain_len"] is None
