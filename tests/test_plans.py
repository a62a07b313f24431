"""Physical-plan assertions — the scale properties the engine relies
on must be visible in Catalyst's output, not just claimed in
docstrings: predicate pushdown and column pruning reach the parquet
scan, small dimensions broadcast, aggregates run partial map-side,
and hot projections stay inside whole-stage codegen."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from plan_inspect import (
    jobs_launched, physical_node_names, plan_of, unpartitioned_windows,
)
from rag_database_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_filter_pushdown_and_column_pruning(spark):
    df = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") > 100)
        .select("doc_id", "lang")
    )
    p = plan_of(df)
    assert "GreaterThan(doc_id,100)" in p  # filter reached the scan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in p  # pruned


def test_small_dim_join_broadcasts(spark):
    cust = load_table(spark, SF_DIR, "customer")
    nation = load_table(spark, SF_DIR, "nation")
    j = cust.join(nation, cust.c_nationkey == nation.n_nationkey)
    assert "BroadcastHashJoin" in plan_of(j, "simple")


def test_aggregate_is_partial_then_final(spark):
    agg = (
        load_table(spark, SF_DIR, "customer")
        .groupBy("c_nationkey")
        .agg(F.sum("c_acctbal").alias("s"))
    )
    p = plan_of(agg)
    assert "partial_sum" in p  # map-side combine before the exchange
    assert p.count("HashAggregate") >= 2


def test_quality_scan_stays_in_codegen(spark):
    from rag_database_spark.operators.text_analytics import doc_quality

    df = doc_quality(load_table(spark, SF_DIR, "documents"))
    p = plan_of(df)
    assert "BatchEvalPython" not in p  # no row-at-a-time Python
    assert "ArrowEvalPython" not in p
    # The formatted plan hides codegen ids under a pre-execution
    # AdaptiveSparkPlan (the fan_out exchange triggers AQE), so assert
    # the whole-stage span on the codegen dump instead.
    assert "WholeStageCodegen" in plan_of(df, "codegen")


def test_bm25_query_semijoin_before_vocab_agg(spark, tmp_path):
    """The BM25 leg must semi-join postings to the broadcast query
    terms BEFORE any corpus-wide aggregation (the round-1 scale fix):
    the scoring plan carries a broadcast join, and the scan of the
    postings side is filtered, not a full-vocabulary rollup."""
    from rag_database_spark.operators import bm25 as bm25_ops
    from rag_database_spark.workload import queries_df

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    path = str(tmp_path / "bm25")
    bm25_ops.write_index(docs, path)
    scored = bm25_ops.score_queries(
        queries_df(spark),
        bm25_ops.read_index(spark, path)[0],
        bm25_ops.read_stats(path),
    )
    assert "BroadcastHashJoin" in plan_of(scored, "simple")


def test_dup_ngram_rollup_partial_aggregates(spark):
    from rag_database_spark.operators.text_analytics import (
        dup_ngram_fraction,
    )

    df = dup_ngram_fraction(load_table(spark, SF_DIR, "documents"))
    p = plan_of(df)
    assert "partial_count" in p


def test_ivf_probe_scan_is_partition_pruned(spark, tmp_path):
    """The IVF query path must read only the probed centroids'
    directories: the static isin filter on the partitionBy(centroid_id)
    layout becomes a PartitionFilter, so probing p of C lists costs
    p/C of the scan — the difference between a pruned probe and a
    corpus pass at 100 TB."""
    from rag_database_spark.operators.similarity import (
        ivf_topk_indexed,
        read_ivf_index,
        write_ivf_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, n_centroids=8, id_col="vec_id",
                    vec_col="embedding")
    centroids, lists = read_ivf_index(spark, path)
    queries = emb.limit(2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    out = ivf_topk_indexed(queries, centroids, lists, 5, n_probe=2)
    p = plan_of(out)
    assert "PartitionFilters: [centroid_id" in p
    assert "BroadcastHashJoin" in plan_of(out, "simple")


def test_chunk_pipeline_has_no_extra_exchange(spark):
    """Word-window chunking is pure column algebra: the only exchange
    in the full pipeline is the one hash-partition by doc_id feeding
    the page as-of window (+ its union leg). In particular the
    char-offset computation must not introduce joins or shuffles —
    it runs as an in-array prefix sum, O(doc_len) per document."""
    from rag_database_spark.operators.chunking import (
        chunk_documents,
        chunk_pipeline,
    )

    docs = load_table(spark, SF_DIR, "documents")
    # the raw word-window chunker alone: zero exchanges, zero joins
    p = plan_of(chunk_documents(docs), "simple")
    assert "Exchange" not in p
    assert "Join" not in p
    # full pipeline (page as-of + hierarchy): exchanges only for the
    # doc_id window partitioning, never a join-shaped shuffle per chunk
    p_full = plan_of(chunk_pipeline(docs), "simple")
    assert "SortMergeJoin" not in p_full


def test_simhash_single_shuffle(spark):
    """SimHash needs exactly ONE aggregation exchange (the doc-level
    sign sum); the per-(doc, term) tf pre-aggregation was removed as
    algebraically redundant, so a second shuffle of the distinct-term
    space would be a regression."""
    from rag_database_spark.operators.dedup import simhash

    docs = load_table(spark, SF_DIR, "documents")
    p = plan_of(simhash(docs), "simple")
    # one aggregate exchange (+ optionally the fan_out round-robin
    # reshard, which is not a hashpartitioning exchange)
    assert p.count("Exchange hashpartitioning") == 1
    p_full = plan_of(simhash(docs))
    assert "partial_sum" in p_full  # map-side combine before it


def test_lsh_topk_no_corpus_wide_join(spark):
    """LSH ANN plan contract: the query-side block and vector tables
    broadcast (tiny), the candidate join is keyed — never a cartesian
    or sort-merge join of the corpus — and the top-k window carries a
    WindowGroupLimit pushdown."""
    from rag_database_spark.operators.similarity import lsh_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    p = plan_of(
        lsh_topk(queries, emb, 10, dim=64,
                 id_col="vec_id", vec_col="embedding"),
        "simple",
    )
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "WindowGroupLimit" in p


def test_image_near_dup_banded_join(spark):
    """Image near-dup plan contract: the Hamming pair join is keyed on
    the pigeonhole (block_idx, block_val) — never an all-pairs
    cartesian or nested-loop join over the corpus fingerprints."""
    from rag_database_spark.operators import dedup as dd
    from rag_database_spark.operators import multimodal

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    fps = multimodal.image_dhash(
        multimodal.media_table(docs, "doc_id", "payload", "image")
    ).select(
        F.col("media_id").alias("doc_id"),
        F.col("dhash").alias("simhash"),
    )
    p = plan_of(
        dd.simhash_pairs(fps, 5, bits=multimodal.DHASH_BITS), "simple"
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "block_idx" in p and "block_val" in p


def test_repetition_signals_partial_agg_and_single_gram_shuffle(spark):
    """The gram count groupBy must combine map-side (partial_count
    before its exchange); the per-doc rollup is the only other
    aggregation exchange."""
    from rag_database_spark.operators.text_analytics import (
        repetition_signals,
    )

    docs = load_table(spark, SF_DIR, "documents")
    p_full = plan_of(repetition_signals(docs))
    assert "partial_count" in p_full
    p = plan_of(repetition_signals(docs), "simple")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_fuzzy_decontam_broadcasts_eval_side(spark):
    """The eval-set shingles must be the broadcast side — the corpus
    never shuffles for candidate generation. r18: set sizes ride the
    exploded streams as per-row columns, so there are no size joins at
    all and each side's tokenize+shingle projection appears exactly
    once (the r17 shape evaluated it twice per side and re-joined the
    sizes)."""
    from rag_database_spark.operators.dedup import fuzzy_decontam

    df = fuzzy_decontam(load_table(spark, SF_DIR, "documents"))
    p = plan_of(df, "simple")
    assert "BroadcastHashJoin" in p  # the shingle candidate join
    # one tokenize per side (corpus + eval slice), not two
    assert p.count("split(trim(lower(") <= 2


def test_vocab_oov_coverage_join_broadcasts(spark):
    """The induced vocab is tiny by construction; the coverage pass
    must broadcast it so the token stream never shuffles."""
    from rag_database_spark.operators.text_analytics import vocab_oov

    p = plan_of(
        vocab_oov(load_table(spark, SF_DIR, "documents")), "simple"
    )
    assert "BroadcastHashJoin" in p


def test_topk_entries_plan_as_take_ordered(spark):
    """frequent_ngrams' top-k must plan as TakeOrderedAndProject
    (per-partition heaps), never a global Sort + Limit."""
    from rag_database_spark.operators.text_analytics import frequent_ngrams

    p = plan_of(
        frequent_ngrams(load_table(spark, SF_DIR, "documents")), "simple"
    )
    assert "TakeOrderedAndProject" in p


def test_quality_filter_bottom_k_is_take_ordered(spark):
    """The exact percentile path selects the bottom-k via
    TakeOrderedAndProject and anti-joins it broadcast."""
    from rag_database_spark.operators.text_analytics import quality_filter

    df = quality_filter(load_table(spark, SF_DIR, "documents"))
    p = plan_of(df, "simple")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_curate_corpus_quality_stage_is_literal_threshold(spark):
    """The curation artifact's quality cutoff (``quality_cut`` over the
    scored documents) is a running count, NOT an O(N) bottom-k: no
    TakeOrderedAndProject anywhere in its plan, and no broadcast of a
    limit()-derived relation. The served ``curate_corpus`` plan is a
    scan of the persisted artifact, so the cut is checked directly."""
    from rag_database_spark.operators.text_analytics import (
        doc_quality, quality_cut,
    )

    scored = doc_quality(load_table(spark, SF_DIR, "documents")).select(
        "doc_id", "q_score"
    )
    p = plan_of(quality_cut(scored), "simple")
    assert "TakeOrderedAndProject" not in p
    assert "GlobalLimit" not in p and "LocalLimit" not in p


def test_token_budget_select_has_no_global_window(spark):
    """The weighted prefix runs as windows partitioned by q_score
    bucket: no Window pulls the per-document rows into one task, and
    no checkpointed leaf keeps the plan out of the plan cache."""
    import __spark_entry__ as entrymod
    from rag_database_spark.operators.text_analytics import (
        token_budget_select,
    )

    df = token_budget_select(load_table(spark, SF_DIR, "documents"), 0.6)
    assert unpartitioned_windows(df) == []
    assert not entrymod._has_materialized_leaf(df)


def test_ingest_gate_broadcasts_batch_side(spark, tmp_path):
    """The incoming batch's shingles/sizes broadcast; the corpus index
    is scanned, never shuffled for candidate generation."""
    from rag_database_spark.operators import dedup

    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "idx")
    dedup.write_shingle_index(docs.limit(30), path)
    idx = dedup.read_shingle_index(spark, path)
    df = dedup.best_jaccard_vs_index(docs.limit(5), idx)
    assert plan_of(df, "simple").count("BroadcastHashJoin") >= 2


def test_cut_dup_spans_single_pass_window_cut(spark):
    """r18: the cut is computed on ONE fused (pos, tok, ng) stream —
    a gram-key window marks cross-doc dup starts and a per-doc
    range-frame window marks coverage — so the plan has exactly one
    corpus tokenize+explode, no interval anti-join, and no nested-loop
    probe. (The r17 shape ran three tokenize passes and a corpus-wide
    LEFT ANTI join on (doc_id, pos).)"""
    from rag_database_spark.operators.text_analytics import cut_dup_spans

    p = plan_of(cut_dup_spans(load_table(spark, SF_DIR, "documents")))
    assert "BroadcastNestedLoopJoin" not in p
    assert "LeftAnti" not in p
    assert p.count("split(trim(lower(") == 1
    assert p.count("Window") >= 2


def test_dense_filtered_topk_pushes_label_filter(spark):
    """Filter-during-search: the label scope must reach the parquet
    scan (pre-filter), not apply after scoring (post-filter)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["dense_filtered_topk"](spark, SF_DIR)
    p = plan_of(df)
    assert "In(label, [1,4,7])" in p or "PushedFilters: [In(label" in p


def test_triangles_plan_is_all_equi_joins(spark):
    """Triangle enumeration must stay keyed: the degree orientation
    exists precisely so the wedge and closing joins are equi-joins —
    a BroadcastNestedLoopJoin/CartesianProduct here is the quadratic
    hub blowup the orientation prevents."""
    from rag_database_spark.operators import graph as graph_ops

    edges = spark.createDataFrame(
        [(1, 2, "t", 1.0), (2, 3, "t", 1.0), (1, 3, "t", 1.0)],
        "src long, dst long, relation_type string, confidence double",
    )
    p = plan_of(graph_ops.triangles(edges), "simple")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_dsir_select_topn_is_take_ordered_and_model_broadcasts(spark):
    """DSIR's top-N must plan as TakeOrderedAndProject (never a global
    window over the scored corpus) and the B-row model table must ride
    a broadcast join — the corpus never shuffles for the lookup."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["dsir_select"](spark, SF_DIR)
    p = plan_of(df, "simple")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p


def test_semdedup_pair_join_is_cluster_keyed(spark):
    """SemDeDup's pair join must key on cluster_id (one shuffle,
    quadratic only within a cluster) — never a BroadcastNestedLoopJoin
    over the corpus."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["semdedup"](spark, SF_DIR)
    p = plan_of(df, "simple")
    assert "BroadcastNestedLoopJoin" not in p
    assert "cluster_id" in p


def test_knn_graph_lsh_candidates_are_bucket_keyed(spark):
    """The approximate knn graph's candidate generation must join on
    the (table, bucket) key — one shuffle bounded by bucket occupancy,
    never a BroadcastNestedLoopJoin or corpus-sized broadcast."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["knn_graph_lsh"](spark, SF_DIR)
    p = plan_of(df, "simple")
    assert "BroadcastNestedLoopJoin" not in p
    assert "bucket" in p


def test_perceptron_scoring_is_pure_codegen(spark):
    """Serving-side contract: scoring under trained weights is one
    scan — no Exchange (shuffle), no Python evaluation node. (Training
    has its per-round aggregates; this pins the scoring plan callers
    run at corpus scale.)"""
    from rag_database_spark.operators import classifier as cl

    docs = spark.createDataFrame(
        [(1, "the quick brown fox and the lazy dog run far")],
        "doc_id long, text string",
    )
    df = cl.perceptron_score(cl.perceptron_features(docs), [1, -1, -1, -1])
    p = plan_of(df, "simple")
    assert "Exchange" not in p
    assert "Python" not in p and "mapInPandas" not in p.lower()


def test_kmeans_outliers_broadcasts_centroids(spark):
    """The centroid table (k rows) must broadcast — never a shuffle
    join against the corpus — and the only wide operation is the
    cluster_id rank window."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["kmeans_outliers"](spark, SF_DIR)
    p = plan_of(df, "simple")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bloom_gate_broadcasts_small_filter(spark):
    """At the fixture geometry (m=2^18 → ≤8k packed words) the filter
    must broadcast; the standing corpus never appears in the probe
    plan (the probe reads the persisted bitmap, not documents twice)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["bloom_gate"](spark, SF_DIR)
    p = plan_of(df, "simple")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pq_adc_scan_broadcasts_codebooks_no_python(spark, tmp_path):
    """The PQ ADC scan must be one pass over the code table: every
    codebook join is a broadcast (16 rows each), the query block rides
    a broadcast too, and the whole scoring projection is JVM column
    expressions — no shuffle of the codes, no Python stage, raw
    vectors never read."""
    import numpy as np

    from rag_database_spark.operators import pq

    rng = np.random.default_rng(2)
    corpus = spark.createDataFrame(
        [(i, rng.normal(size=16).tolist()) for i in range(80)],
        "id long, vec array<double>",
    )
    path = str(tmp_path / "pq")
    pq.write_pq_index(corpus, path, dim=16, m=4, k=4)
    codebooks, codes = pq.read_pq_index(spark, path)
    queries = spark.createDataFrame(
        [(1, rng.normal(size=16).tolist())],
        "query_id long, qvec array<double>",
    )
    out = pq.pq_topk_indexed(queries, codebooks, codes, 5, dim=16, m=4)
    p = plan_of(out, "simple")
    assert "SortMergeJoin" not in p          # codes never shuffle on a key
    assert "BroadcastHashJoin" in p          # codebook joins broadcast
    assert "PythonEval" not in p and "ArrowEval" not in p
    assert "WindowGroupLimit" in p           # top-k pushdown on the rank


def test_flagged_words_single_codegen_scan(spark):
    """The blocklist probe is one projection over the scan — no
    Exchange, no Python, the IN-list folded into codegen."""
    from rag_database_spark.operators.text_analytics import flagged_words

    df = flagged_words(load_table(spark, SF_DIR, "documents"))
    p = plan_of(df, "simple")
    # no aggregation/join shuffle (fan_out's round-robin reshard is
    # not a hashpartitioning exchange), no Python
    assert p.count("Exchange hashpartitioning") == 0
    assert "BatchEvalPython" not in p and "ArrowEval" not in p
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_shuffle_export_single_shard_exchange(spark):
    """The training-order shuffle moves each row exactly once: one
    hash Exchange on the shard key feeding the per-shard rank window;
    only (doc_id) is read from the corpus."""
    from rag_database_spark.operators.packing import shuffle_export

    p = plan_of(shuffle_export(load_table(spark, SF_DIR, "documents")), "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert "ReadSchema: struct<doc_id:bigint>" in p


def test_matryoshka_rescore_side_broadcasts(spark):
    """Stage 2 touches the corpus through broadcast joins only (the
    shortlist and the query vectors broadcast; the corpus never
    shuffles)."""
    from pyspark.sql import functions as F2

    from rag_database_spark.operators.similarity import matryoshka_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = (
        emb.filter(F2.col("vec_id") < 3)
        .select(F2.col("vec_id").alias("query_id"),
                F2.col("embedding").alias("qvec"))
    )
    p = plan_of(
        matryoshka_topk(queries, emb, 10,
                        id_col="vec_id", vec_col="embedding"),
        "simple",
    )
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_cluster_quota_sample_single_exchange(spark):
    """Both windows (rank + count) share ONE hash exchange on
    cluster_id; only the narrow assignment columns are read."""
    from rag_database_spark.operators.clustering import (
        cluster_quota_sample,
    )

    assign = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, cluster_id int"
    )
    p = plan_of(cluster_quota_sample(assign), "simple")
    assert p.count("Exchange hashpartitioning") == 1


def test_rag_context_pack_token_join_reads_two_columns(spark):
    """The context-assembly tail joins ONLY (doc_id, text→count)
    against the bounded results frame: the doc scan prunes to two
    columns and no corpus-wide sort appears after the join."""
    from rag_database_spark.operators.packing import pack_context

    results = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, id long, rank long"
    )
    docs = load_table(spark, SF_DIR, "documents")
    p = plan_of(pack_context(results, docs))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_leakage_split_is_shuffle_free_projection(spark):
    """The cluster-atomic split is ONE projection over the label frame
    — no Exchange, no Join anywhere in the plan (the component
    structure was already paid for by the dedup pass)."""
    from rag_database_spark.operators import dedup

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "doc_id long, cluster_id long"
    )
    p = plan_of(dedup.leakage_safe_split(labels))
    assert "Exchange" not in p, p
    assert "Join" not in p, p


@pytest.mark.parametrize(
    "name", ["table_cells", "table_summary", "table_texts"]
)
def test_table_family_is_one_narrow_pass(spark, name):
    """Every table output row depends on one input table, so the family
    is a per-row projection of the parsed row array: no shuffle,
    broadcast, join, window or aggregate, and one job per write."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, SF_DIR)
    names = physical_node_names(df)
    wide = [
        n for n in names
        if any(k in n for k in ("Exchange", "Join", "Window", "Aggregate"))
    ]
    assert not wide, names
    n_jobs = jobs_launched(
        spark, f"narrow-{name}",
        lambda: df.write.format("noop").mode("overwrite").save(),
    )
    assert n_jobs <= 1, n_jobs


def test_split_leakage_audit_joins_are_keyed(spark):
    """The audit is two equi-joins on the doc-id key + one bounded
    rollup — no cross or nested-loop join can appear whatever the
    split frame's size."""
    from rag_database_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2, 0.9)], "id_a long, id_b long, jaccard double"
    )
    split = spark.createDataFrame(
        [(1, "train"), (2, "eval")], "doc_id long, split string"
    )
    p = plan_of(dedup.split_leakage_audit(pairs, split))
    assert "NestedLoop" not in p and "CartesianProduct" not in p, p


def _broadcasts_and_shuffles(p: str) -> tuple[int, int]:
    """(BroadcastExchange, shuffle Exchange) counts of a simple plan."""
    return (
        len(re.findall(r"\bBroadcastExchange ", p)),
        len(re.findall(r"(?<![A-Za-z])Exchange ", p)),
    )


def test_bm25_topk_exchange_ceiling(spark):
    """The BM25 leg broadcasts once and shuffles once: the query terms
    are broadcast to the postings, which carry each document's length,
    and the corpus stats are plan literals, so no doclens join and no
    nested-loop stats join remain. The matched stream is hash
    partitioned on query_id, and df, the (query_id, doc_id) rollup and
    the top-k window all run inside that partitioning. A df window
    keyed on term alone would bring back its own exchange."""
    import __spark_entry__ as entrymod

    p = plan_of(entrymod.queries()["bm25_topk"](spark, SF_DIR), "simple")
    broadcasts, shuffles = _broadcasts_and_shuffles(p)
    assert broadcasts <= 1 and shuffles <= 1, p
    assert "BroadcastNestedLoopJoin" not in p, p
    term_windows = re.findall(r"\bWindow \[.*\], \[term#\d+L?\]", p)
    assert not term_windows, p


def test_hybrid_rrf3_single_union_exchange_ceiling(spark):
    """The three legs meet in ONE Union feeding the single RRF groupBy,
    and the whole three-leg plan stays at or under 5 shuffle exchanges
    (the BM25 leg's one, the dense and ColPali legs' own, none for
    the fusion) and 2 broadcasts (the BM25 query terms and the ColPali
    doc side) — a duplicated leg or a second fusion would show up as
    extra Unions or Exchanges."""
    import __spark_entry__ as entrymod

    p = plan_of(entrymod.queries()["hybrid_rrf3"](spark, SF_DIR), "simple")
    assert len(re.findall(r"\bUnion\b", p)) == 1, p
    broadcasts, shuffles = _broadcasts_and_shuffles(p)
    assert shuffles <= 5, p
    assert broadcasts <= 2, p
    assert "BroadcastNestedLoopJoin" not in p, p


@pytest.mark.parametrize("name, ceiling", [("bm25_topk", 3), ("hybrid_rrf3", 8)])
def test_bm25_entries_warm_job_ceiling(spark, name, ceiling):
    """A warm call's Spark jobs: under AQE every shuffle and every
    broadcast is its own job, so the BM25 leg's one broadcast and one
    shuffle (no doclens or stats broadcast) keep bm25_topk at 3 jobs
    and hybrid_rrf3 at 8."""
    import __spark_entry__ as entrymod

    def run():
        df = entrymod.queries()[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()

    run()  # builds the index and the cached plan
    n_jobs = jobs_launched(spark, f"warm-{name}", run)
    assert n_jobs <= ceiling, n_jobs


def test_maxsim_topk_single_arrow_pass_no_join(spark):
    """MaxSim prefetch and rescore run in ONE MapInPandas over the page
    table: no candidate join back to the pages, no second page scan."""
    import __spark_entry__ as entrymod

    p = plan_of(entrymod.queries()["maxsim_topk"](spark, SF_DIR), "simple")
    assert len(re.findall(r"\bMapInPandas\b", p)) == 1, p
    assert "Join" not in p, p
