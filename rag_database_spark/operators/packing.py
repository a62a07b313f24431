"""Sequence packing — the training-batch assembly step of an LLM data
pipeline: concatenate tokenized documents into a contiguous token
stream and cut it into fixed-budget training rows (GPT-style stream
packing: documents may span row boundaries; no padding except the
final partial row of each shard).

The reference has no packing stage (it serves search, not training);
this is part of the training-data extension the build brief names.

Scale design: a single global token stream would serialize the whole
corpus through one cumulative-sum window. Instead documents are
sharded by a deterministic hash of ``doc_id`` (the same topology every
distributed packer uses — each shard's stream is packed independently,
shards in parallel), so the only window runs per-shard and the plan is
one narrow projection + one window over ``NSHARDS``-way partitioned
data. At 100 TB, shard count scales with the cluster, not the corpus.

Determinism: shard = doc_id % NSHARDS, within-shard order is (doc_id)
— engine-independent integer math, so the DuckDB oracle reproduces the
exact bin layout. (With non-uniform production ids, swap the modulo
for a hash of the id; only shard balance changes, not semantics.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rag_database_spark.functions.text import SPLIT_RE, token_count_ws

PACK_BUDGET = 2048  # tokens per training row
PACK_NSHARDS = 32

def _shard_cumsum():
    """Explicit ROWS frame for the per-shard running sum: Spark's
    default with an orderBy is RANGE (peer rows share one value),
    DuckDB's oracle pins ROWS — identical only while doc_id is unique
    per shard, so spell out the frame both engines use. (A function,
    not a module constant: building a WindowSpec needs an active
    SparkContext.)"""
    return (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    n_shards: int = PACK_NSHARDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign every document its [start, end) offsets in its shard's
    token stream and the training-row (bin) span those offsets cover.

    Output: (doc_id, shard, n_tokens, start_offset, end_offset,
    first_bin, last_bin, spans_boundary) — enough to materialize the
    packed rows with one groupBy(first_bin..last_bin explode) and to
    audit fill (bin b of shard s holds stream tokens [b*budget,
    (b+1)*budget)).
    """
    n_tokens = token_count_ws(F.col(text_col))
    w = _shard_cumsum()
    out = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            n_tokens.cast("long").alias("n_tokens"),
        )
        .withColumn(
            "shard", (F.col("doc_id") % n_shards).cast("bigint")
        )
        .withColumn(
            "end_offset", F.sum("n_tokens").over(w).cast("long")
        )
        .withColumn(
            "start_offset", (F.col("end_offset") - F.col("n_tokens"))
        )
    )
    first_bin = F.floor(F.col("start_offset") / budget)
    # a doc ending exactly on a boundary belongs to the bin before it
    last_bin = F.floor((F.col("end_offset") - 1) / budget)
    return out.select(
        "doc_id",
        "shard",
        "n_tokens",
        "start_offset",
        "end_offset",
        first_bin.cast("long").alias("first_bin"),
        F.greatest(last_bin, first_bin).cast("long").alias("last_bin"),
        (F.greatest(last_bin, first_bin) > first_bin).alias(
            "spans_boundary"
        ),
    )


def pack_rows(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    n_shards: int = PACK_NSHARDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Materialize the packed training rows themselves — the step a
    training pipeline actually consumes (``pack_sequences`` emits the
    offset audit; this emits the rows).

    Plan: the same per-shard cumulative-sum window assigns offsets,
    then each document EXPLODES its [first_bin..last_bin] span (a doc
    touches ⌈n_tokens/budget⌉+1 bins at most — the fan-out is bounded
    by document length, never corpus size), slices the token range it
    contributes to each bin in codegen, and one groupBy (shard, bin)
    reassembles every bin's stream in offset order. Two exchanges total
    (window + groupBy), both keyed on the 32-way shard topology.

    Output: (shard, bin, n_docs, n_tokens, tokens array<string>) — bin
    b of shard s holds stream tokens [b·budget, (b+1)·budget); every
    bin is exactly ``budget`` tokens except each shard's tail. Empty
    documents are dropped (they contribute no tokens)."""
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), SPLIT_RE),
        lambda t: F.length(t) > 0,
    )
    base = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
        .withColumn("n_tokens", F.size("toks").cast("long"))
        .withColumn("shard", (F.col("doc_id") % n_shards).cast("bigint"))
        .withColumn(
            "end_offset",
            F.sum("n_tokens").over(_shard_cumsum()).cast("long"),
        )
        .withColumn(
            "start_offset", F.col("end_offset") - F.col("n_tokens")
        )
        .filter(F.col("n_tokens") > 0)
    )
    first_bin = F.floor(F.col("start_offset") / budget).cast("long")
    last_bin = F.greatest(
        F.floor((F.col("end_offset") - 1) / budget), first_bin
    ).cast("long")
    spans = base.select(
        "shard",
        "toks",
        "start_offset",
        "end_offset",
        F.explode(F.sequence(first_bin, last_bin)).alias("bin"),
    )
    seg_start = F.greatest(F.col("bin") * budget, F.col("start_offset"))
    seg_end = F.least((F.col("bin") + 1) * budget, F.col("end_offset"))
    segs = spans.select(
        "shard",
        "bin",
        "start_offset",
        F.slice(
            "toks",
            (seg_start - F.col("start_offset") + 1).cast("int"),
            (seg_end - seg_start).cast("int"),
        ).alias("seg"),
    )
    # array_sort on (start_offset, seg) structs: offsets are distinct
    # within a (shard, bin) — each doc appears once — so the sort key
    # is the stream order
    assembled = F.flatten(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("start_offset").alias("o"),
                             F.col("seg").alias("s"))
                )
            ),
            lambda x: x["s"],
        )
    )
    return (
        segs.groupBy("shard", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            assembled.alias("tokens"),
        )
        .select(
            "shard",
            F.col("bin").cast("long").alias("bin"),
            "n_docs",
            F.size("tokens").cast("long").alias("n_tokens"),
            "tokens",
        )
    )


# Context-window budget for pack_context: ~3 synthetic docs (the
# corpus averages ~50 whitespace tokens/doc), so the greedy cut is
# exercised on every query at any tested sf.
CONTEXT_BUDGET = 160


def pack_context(
    results: DataFrame,
    docs: DataFrame,
    budget: int = CONTEXT_BUDGET,
    query_col: str = "query_id",
    id_col: str = "id",
    rank_col: str = "rank",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy context-window assembly — the LAST step of a RAG
    serving pipeline: walk each query's ranked (already diversified)
    results in rank order and keep documents until the token budget
    is spent. ``kept = cum_tokens <= budget OR rank = 1`` — the top
    result always ships even if oversized (an empty context is worse
    than a truncated one); every row returns with its running total
    so the cut is auditable.

    Output: (query_id, id, rank, n_tokens, cum_tokens, kept).

    Plan: the results frame is O(queries × k) — corpus-sized state
    never appears; one keyed join pulls ONLY the token counts (a
    narrow projection of the doc table: at 100 TB that join prunes to
    two columns and broadcasts the result side), and the running sum
    is one window per query with an explicit ROWS frame (the default
    RANGE frame would share totals across rank ties; ranks are unique
    per query, but the frame is pinned so both engines compute the
    same prefix sums by construction)."""
    tok = docs.select(
        F.col(doc_id_col).alias("id"),
        token_count_ws(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    seq = results.select(
        F.col(query_col).alias("query_id"),
        F.col(id_col).alias("id"),
        F.col(rank_col).cast("long").alias("rank"),
    ).join(tok, "id")
    # (rank, id) order: ranks are unique per query in every ranked
    # producer here, but a generic caller with tied ranks would
    # otherwise get partition-order-dependent prefix sums
    w = (
        Window.partitionBy("query_id")
        .orderBy("rank", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return seq.select(
        "query_id",
        "id",
        "rank",
        "n_tokens",
        F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
    ).withColumn(
        "kept",
        (F.col("cum_tokens") <= F.lit(budget)) | (F.col("rank") == 1),
    )


SHUFFLE_NSHARDS = 8
SHUFFLE_SEED = 42


def shuffle_export(
    docs: DataFrame,
    n_shards: int = SHUFFLE_NSHARDS,
    seed: int = SHUFFLE_SEED,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle for training export — the step
    between curation and ``pack_sequences``: a trainer must read the
    corpus in random order, but a 100 TB sort on ``rand()`` is neither
    reproducible nor restartable. Instead every doc gets a seeded
    content-free sort key (``hash60`` of ``'shuffle{seed}:' || id``),
    its shard is ``key % n_shards``, and its position is the key's
    rank within the shard:

    - one narrow projection + one window partitioned by shard — the
      only shuffle moves each row once to its shard; the per-shard
      sort is bounded by ``corpus/n_shards`` and shards scale with
      the cluster, not the corpus (write form:
      ``repartition(shard).sortWithinPartitions(sort_key)``);
    - md5 keys are uniform, so shards balance to ~1/n_shards with no
      skew handling;
    - same seed -> byte-identical order on any cluster size (restart-
      and resume-safe); a new epoch is a new seed, not a new scan
      of state.

    Output: (doc_id, sort_key, shard, pos)."""
    from rag_database_spark.operators.dedup import hash60

    keyed = docs.select(F.col(id_col).alias("doc_id")).select(
        "doc_id",
        hash60(
            F.concat(
                F.lit(f"shuffle{seed}:"), F.col("doc_id").cast("string")
            )
        ).alias("sort_key"),
    )
    sharded = keyed.withColumn(
        "shard", (F.col("sort_key") % n_shards).cast("long")
    )
    w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return sharded.withColumn(
        "pos", F.row_number().over(w).cast("long")
    )


