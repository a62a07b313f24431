"""Workload definitions: which ``queries()`` entries each workload owns,
and which of them each run times.

Every registered entry belongs to exactly one of ``search`` or
``corpus`` (``test_perfbench.py`` enforces it, so a new entry cannot
escape the benchmark). A full pass over either class takes longer than
one run may (about 32 s and 40 s on 4 cores), so each run times a fixed
set per class, ``TIMED``, derived from the surveyed warm seconds in
``entries.json`` (``survey.py``): the anchors, then the heaviest entries
of the class while a pass stays within ``PASS_BUDGET_S``. The traced run
adds one pass over ``COVERAGE``, the fewest entries that reach every
program module the class reaches and the timed set does not. Every run
also output-checks a seed-chosen rotation of the class's other entries
outside the timed interval; consecutive seeds walk the whole class.
"""

from __future__ import annotations

import json
import random
from pathlib import Path

from tracing import MODULE_LAYERS

SEARCH = (
    "bm25_topk dense_topk dense_filtered_topk text_embed_topk ann_ivf_topk "
    "ann_lsh_topk pq_topk ivfpq_topk quantized_topk matryoshka_topk "
    "maxsim_topk colpali_lite_topk visual_search hybrid_rrf hybrid_rrf3 "
    "hybrid_adaptive enhanced_search augment_results graph_expand ppr_topk "
    "related_ids tenant_scoped_search query_analysis search_terms "
    "search_analytics rerank_topk mmr_rerank rag_context_pack hard_negatives "
    "ir_metrics eval_delta"
).split()

CORPUS = """
asof_attribution audio_near_dup bloom_gate bloom_gate_paras
bm25_index_stats bpe_pair_stats bpe_tokens bpe_vocab c4_rules
chunk_documents chunk_payloads chunking_stats cluster_quota_sample
cohort_retention contrastive_select conversions curate_corpus
curation_funnel customer_overview cut_dup_spans db_stats decontam
dedup_clusters dedup_clusters_cc dedup_keep dedup_regions
delete_document_cascade detect_sections doc_edges doc_keywords
doc_pagerank doc_quality domain_cap dsir_resample dsir_select
dup_ngram_fraction dup_spans embed_kmeans embedding_near_dup event_funnel
event_funnel_windowed events_cube events_hourly events_json_filter
events_profile events_profile_approx events_window_join exact_dedup
extract_metadata extract_relationships flagged_words frequent_ngrams
fuzzy_decontam gopher_rules graph_stats graph_triangles image_near_dup
ingest_gate ingest_pairs kmeans_outliers knn_graph knn_graph_lsh
lang_fertility lang_id leakage_split list_documents_page lm_perplexity
media_resize media_stats minhash_sigs near_dup_pairs nfc_normalize
org_stats pack_rows pack_sequences pagerank_weighted perceptron_select
pricing_summary quality_filter quality_report quantize_embeddings
redact_pii repetition_signals resolve_references retention_sweep
route_and_chunk route_stats semantic_chunks semantic_components
semantic_pagerank semdedup sentence_chunks shortest_chains shuffle_export
simhash_fp soft_dedup source_mix split_audit stratified_sample
strip_markup table_cells table_summary table_texts temperature_mix
time_travel token_budget_select token_stats user_sessions
vector_ingest_gate vector_upsert video_near_dup vocab_oov winnow_fp
""".split()

CLASSES = {"search": SEARCH, "corpus": CORPUS}

SURVEY = json.loads((Path(__file__).resolve().parent / "entries.json").read_text())
SECONDS = {n: e["seconds"] for n, e in SURVEY["entries"].items()}
MODULES = {n: set(e["modules"]) & set(MODULE_LAYERS) for n, e in SURVEY["entries"].items()}

# surveyed seconds of one timed pass. The measured pass runs up to 40 %
# longer, and a run times at least three passes after one warm-up
# pass: about 45-60 s a run on 4 cores, so that the 48 runs of a
# comparison fit in an hour
PASS_BUDGET_S = 3.5
# timed whatever their share: the paper's three-leg hybrid (BM25, dense
# and ColPali legs fused by weighted RRF)
ANCHORS = {"search": ["hybrid_rrf3"], "corpus": []}


def timed_set(workload: str) -> list[str]:
    """The anchors, then the class's entries from the heaviest down,
    each taken if the pass stays within ``PASS_BUDGET_S``."""
    chosen = list(ANCHORS[workload])
    total = sum(SECONDS[n] for n in chosen)
    for n in sorted(CLASSES[workload], key=lambda n: (-SECONDS[n], n)):
        if n not in chosen and total + SECONDS[n] <= PASS_BUDGET_S:
            chosen.append(n)
            total += SECONDS[n]
    return chosen


def coverage_set(workload: str) -> list[str]:
    """Greedy set cover: the entries that reach the class's modules the
    timed set does not, most new modules first, then the cheapest."""
    timed = timed_set(workload)
    covered = set().union(*(MODULES[n] for n in timed))
    rest = [n for n in CLASSES[workload] if n not in timed]
    chosen: list[str] = []
    while True:
        gain = {n: len(MODULES[n] - covered) for n in rest if n not in chosen}
        best = min(gain, key=lambda n: (-gain[n], SECONDS[n], n))
        if gain[best] == 0:
            return chosen
        chosen.append(best)
        covered |= MODULES[best]


def time_share(workload: str, names: list[str]) -> float:
    """The share of a class pass's surveyed seconds that ``names`` take."""
    return sum(SECONDS[n] for n in names) / sum(SECONDS[n] for n in CLASSES[workload])


TIMED = {w: timed_set(w) for w in CLASSES}
COVERAGE = {w: coverage_set(w) for w in CLASSES}

# untimed, output-checked entries per run from the rest of each class
ROTATION = {"search": 1, "corpus": 1}


def rotation(workload: str, seed: int) -> list[str]:
    """The untimed entries for ``seed``: consecutive seeds walk the
    class's untimed entries in a fixed shuffled order."""
    k = ROTATION[workload]
    rest = sorted(set(CLASSES[workload]) - set(TIMED[workload]))
    random.Random(0).shuffle(rest)
    start = seed * k
    return [rest[(start + i) % len(rest)] for i in range(k)]
