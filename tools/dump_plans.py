"""Dump the formatted physical plans of the headline queries to
PLANS.md — the plan-hygiene audit trail (pushdown, pruning, broadcast,
partial aggregation, codegen spans) in one reviewable file, regenerated
per round.

Usage: python tools/dump_plans.py [entry ...]

With no names it rewrites the file with the HEADLINE set. Named entries
replace only their own ``## NAME`` sections (a new name is appended);
every other section is kept as it is.
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from rag_database_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"

# One representative per plan family: persisted-index search, GEMM
# top-k, multi-leg fusion, regex analytics, windowed chunking, bucketed
# dedup, pre-aggregated relational join, partition-pruned ANN probe.
HEADLINE = (
    "bm25_topk",
    "text_embed_topk",
    "hybrid_rrf3",
    "quality_report",
    "chunk_documents",
    "near_dup_pairs",
    "customer_overview",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "repetition_signals",
    "asof_attribution",
    "quantized_topk",
    "domain_cap",
    "pack_rows",
    "fuzzy_decontam",
    "cut_dup_spans",
    "vocab_oov",
    "quality_filter",
    "curate_corpus",
    # r7 additions: LM scoring (array-side bigrams), τ-mixing
    # (broadcast rate table), oriented wedge join. The pagerank
    # entries are excluded by design — their output plan is a scan of
    # the per-round localCheckpoint, so there is nothing to audit.
    "lm_perplexity",
    "temperature_mix",
    "graph_triangles",
    # r10 additions: the multimodal dedup matrix (banded/indexed pair
    # joins) + the windowed funnel
    "image_near_dup",
    "audio_near_dup",
    "video_near_dup",
    "media_resize",
    "event_funnel_windowed",
    # r11 additions: cluster-scoped semantic dedup (artifact join +
    # cluster-keyed pair join), DSIR selection (B-row broadcast model
    # + TakeOrderedAndProject), the vector admission gate (broadcast
    # batch GEMM). embed_kmeans is excluded by design — the entry plan
    # is a scan of the persisted assignment artifact.
    "semdedup",
    "dsir_select",
    "dsir_resample",
    "vector_ingest_gate",
    "knn_graph_lsh",
    # r10: BPE tokenizer — step-0 pair audit (one aggregation exchange)
    # and query-time encoding (explode + keyed join vs the persisted
    # encode table; the merge loop never appears in a query plan)
    "bpe_pair_stats",
    "bpe_tokens",
    # r10: weighted token-budget selection (bucket-partitioned prefix) +
    # dual-LM contrastive selection (two keyed model joins)
    "token_budget_select",
    "contrastive_select",
    # r14: the pair-first meet join (bounded by the request size, not
    # hub degree) is worth auditing alongside the other graph walks
    "shortest_chains",
    # r17: the sketch twin of events_profile — the plan to audit is
    # ObjectHashAggregate over HLL++/quantile-summary buffers (one
    # exchange, no distinct shuffle) vs the exact entry's expand
    "events_profile_approx",
    # r14 additions: the split/audit/negative-mining/funnel/fertility
    # family — shuffle-free projection, keyed pair joins, anti-join +
    # bounded window, five-stage recount, bpe-chain rollup
    "leakage_split",
    "split_audit",
    "hard_negatives",
    "curation_funnel",
    "lang_fertility",
    # r12: centroid-distance pruning (broadcast centroid join + one
    # exchange shared by both windows), learned quality selection
    # (codegen dot product — the NO-exchange contract), and the Bloom
    # gates (broadcast packed-bitmap probe; paragraph variant adds the
    # posexplode + two-level rollup)
    "kmeans_outliers",
    "perceptron_select",
    "bloom_gate",
    "bloom_gate_paras",
    # r13: compressed-domain ANN — the flat ADC scan (broadcast
    # codebook joins, one codegen projection over the code table, raw
    # vectors never read) and the composed IVF-PQ probe
    # (PartitionFilters on the coded-list scan)
    "pq_topk",
    "ivfpq_topk",
    # r13 second batch: blocklist probe (zero-exchange codegen scan),
    # seeded shuffle export (one shard exchange, id-only ReadSchema),
    # matryoshka cascade (prefix GEMM shortlist + broadcast rescore —
    # no SortMergeJoin), soft dedup (component labels + one rollup),
    # cluster-quota sampling (one exchange shared by both windows),
    # and the end-to-end RAG composition's budgeted-cut tail. The
    # Arrow-batched mmr_rerank itself is excluded by design — its
    # plan is one FlatMapGroupsInPandas over the bounded over-fetch.
    "flagged_words",
    "shuffle_export",
    "matryoshka_topk",
    "soft_dedup",
    # the embedding-pair components: the union-find MapInPandas reads
    # the lazy edge set under the edge budget (no checkpointed leaf)
    "semantic_components",
    "cluster_quota_sample",
    "rag_context_pack",
    # r13: retrieval evaluation — keyed relevance join + one ordered
    # cumsum window, nothing corpus-sized
    "ir_metrics",
)


HEADER = (
    "# PLANS — formatted physical plans of the headline queries\n\n"
    f"Generated by `tools/dump_plans.py` at sf0.1 (`{SF_DIR}`). What to "
    "look for: `PushedFilters` / `ReadSchema` on scans (pushdown + "
    "pruning), `BroadcastHashJoin` for small sides, `partial_*` "
    "aggregates before exchanges (map-side combine), `PartitionFilters` "
    "on the IVF probe, and few/no `Exchange`s in the chunking plan.\n\n"
)


def main() -> int:
    names = sys.argv[1:] or list(HEADLINE)
    path = REPO / "PLANS.md"
    header, sections = HEADER, {}
    if sys.argv[1:] and path.exists():
        header, *parts = re.split(r"^(?=## )", path.read_text(), flags=re.M)
        sections = {p.split("\n", 1)[0][3:]: p for p in parts}
    spark = get_spark("dump_plans")
    entrymod.prepare(spark, SF_DIR)
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().rstrip()
        sections[name] = f"## {name}\n\n```\n{plan}\n```\n\n"
    path.write_text(header + "".join(sections.values()))
    print(f"wrote PLANS.md ({len(names)} of {len(sections)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
