"""Near-duplicate detection — the LLM-training-data dedup family
(engine extension beyond the reference surface, per the build brief):

- exact n-gram Jaccard pairs via a shingle inverted-index join
  (``shingle_jaccard_pairs``) — exact and 100 TB-viable: any pair with
  Jaccard > 0 shares a shingle, so the candidate join touches only
  pairs with overlap, never the N² cross product.
- MinHash signatures (``minhash_signatures``).
- SimHash fingerprints (``simhash``) with Hamming-distance pairing.
- random-hyperplane LSH bucketing for embedding-space near-dups
  (``rp_blocks`` / ``embedding_near_dupes_lsh``) — the path
  ``similarity.embedding_near_dupes`` routes to above its GEMM budgets.

All hashes derive from md5 (seed-prefixed), so the DuckDB oracle can
reproduce signatures bit-for-bit: Spark ``conv(substr(md5(x),1,15),16,10)``
== DuckDB ``('0x' || substr(md5(x),1,15))::BIGINT``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rag_database_spark.functions.text import raw_tokens, shingles
from rag_database_spark.sources.tables import fan_out

N_MINHASHES = 16
SIMHASH_BITS = 32
SHINGLE_K = 3


def hash60(col: Column) -> Column:
    """Deterministic 60-bit integer hash from md5 — reproducible in any
    engine with md5 + hex parsing (no engine-native hash functions,
    which differ between Spark and DuckDB)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _doc_shingles(docs: DataFrame, id_col: str, text_col: str,
                  k: int) -> DataFrame:
    docs = fan_out(docs)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        shingles(F.col(text_col), k).alias("sh"),
    ).filter(F.size("sh") > 0)


def write_shingle_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SHINGLE_K,
) -> None:
    """Persist the exploded shingle inverted index (doc_id, s) — the
    S7-style derived artifact the Jaccard join consumes. The self-join
    references it twice; reading parquet twice beats recomputing
    text→shingles twice (regex + array ops dominate the scan)."""
    _doc_shingles(docs, id_col, text_col, k).select(
        "doc_id", F.explode("sh").alias("s")
    ).write.mode("overwrite").parquet(path)


def read_shingle_index(spark, path: str) -> DataFrame:
    """(doc_id, s) of a ``write_shingle_index`` root (plus its
    ``append_pair_index`` appends)."""
    return spark.read.parquet(path).select("doc_id", "s")


def write_pair_index(pairs: DataFrame, path: str) -> None:
    """Persist the near-dup pair set (id_a, id_b, jaccard) — the most
    expensive derived artifact (the inverted-index self-join over the
    whole corpus). Same discipline as the persisted BM25/IVF/shingle
    stores (reference: every index persists, bm25_store.py:290-324): a
    restarted session serves clustering/retention/audit queries from
    this parquet instead of recomputing the O(corpus) join. Layout is
    clustered by ``id_a`` so read-back joins against doc-keyed frames
    scan key-local files."""
    pairs.repartition("id_a").write.mode("overwrite").parquet(path)


def read_pair_index(spark, path: str) -> DataFrame:
    """(id_a, id_b, jaccard) of a ``write_pair_index`` root (plus its
    ``append_pair_index`` appends)."""
    return spark.read.parquet(path).select("id_a", "id_b", "jaccard")


# Candidate-row ceiling for the direct inverted-index self-join: the
# join emits Σ_s df·(df−1)/2 pair rows before the groupBy, so a few hot
# shingles (df ~ corpus size) detonate it quadratically. Under the
# budget, direct wins (measured 26s vs 31s at sf0.1 — the prefix path's
# verification join costs more than the explosion it avoids on the
# tiny-vocab synthetic corpus, where Σdf(df−1)/2 ≈ 2.5e7); above it,
# the PPJoin prefix filter's superlinear advantage takes over.
DIRECT_PAIR_BUDGET = 200_000_000


def _estimate_direct_pairs(ex: DataFrame) -> int:
    """Σ_s df·(df−1)/2 over the exploded (doc_id, s) index — the exact
    number of candidate rows the direct self-join would emit. One
    aggregation over the postings, no join."""
    row = (
        ex.groupBy("s").agg(F.count("*").alias("df"))
        .agg(F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("pairs"))
        .first()
    )
    return int(row["pairs"] or 0)


def shingle_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SHINGLE_K,
    shingle_index: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard near-dup pairs over distinct k-token shingles.

    Plan: candidate pairs from an inverted-index self-join, then exact
    Jaccard via |A|+|B|−∩. With the prefix filter, candidate generation
    indexes only each document's PREFIX under a global rarest-first
    shingle order — the PPJoin/AllPairs bound: a pair with Jaccard ≥ t
    must share a shingle among the first ⌊(1−t)·|A|⌋+1 of A's ordered
    shingles, then the true intersection is recomputed over FULL sets
    for surviving candidates only (still exact).

    Which path wins is a corpus property, measured not guessed: on the
    driver's tiny-vocabulary synthetic corpus the verification join
    (|candidates| × |A| rows) costs more than the direct pair explosion
    it avoids (measured 31s vs 26s at sf0.1); on realistic text — large
    vocabulary, heavy-tailed shingle dfs where Σdf² explodes — the
    prefix join touches only rare shingles and scales superlinearly
    better. The operator therefore measures: it computes the direct
    join's exact candidate-row count Σ df·(df−1)/2 with one cheap
    aggregation and turns the prefix filter on only above
    ``DIRECT_PAIR_BUDGET``, so the Σdf² join cannot detonate on a
    heavy-tailed corpus while the synthetic corpus keeps the faster
    direct plan. Both paths are exact — the switch never changes
    results, only the plan.

    Pass a persisted ``shingle_index`` (``write_shingle_index``) to avoid
    re-deriving shingles for each side of the self-join."""
    if shingle_index is not None:
        ex = shingle_index
        sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n"))
    else:
        sh = _doc_shingles(docs, id_col, text_col, k)
        sizes = sh.select("doc_id", F.size("sh").alias("n"))
        ex = sh.select("doc_id", F.explode("sh").alias("s"))
    if _estimate_direct_pairs(ex) > DIRECT_PAIR_BUDGET:
        dfreq = ex.groupBy("s").agg(F.count("*").alias("df"))
        ordered = ex.join(dfreq, "s").withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "s")
            ),
        )
        with_n = ordered.join(sizes, "doc_id")
        # epsilon guards: (1-t) is inexact in binary (1-0.8 < 0.2, so
        # floor under-counts when (1-t)·n is integral), and the final
        # filter compares ROUNDED jaccard, admitting pairs a hair under
        # t — widen the bound by 2e-6 to keep those reachable
        prefix = with_n.filter(
            F.col("pos")
            <= F.floor(
                (1.0 - threshold + 2e-6) * F.col("n") + 1e-9
            ).cast("int")
            + 1
        ).select("doc_id", "s")
        pa = prefix.select(F.col("doc_id").alias("id_a"), "s")
        pb = prefix.select(F.col("doc_id").alias("id_b"), "s")
        cands = (
            pa.join(pb, "s")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        # exact verification on candidates only: ∩ over full sets
        ex_a = ex.select(F.col("doc_id").alias("id_a"), "s")
        ex_b = ex.select(F.col("doc_id").alias("id_b"), "s")
        inter = (
            cands.join(ex_a, "id_a")
            .join(ex_b, ["id_b", "s"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        a = ex.select(F.col("doc_id").alias("id_a"), "s")
        b = ex.select(F.col("doc_id").alias("id_b"), "s")
        inter = (
            a.join(b, "s")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# Kirsch-Mitzenmacher second-hash modulus: keeping h2 < 2^56 bounds
# max(h1 + i·h2) ≈ 2^60 + 63·2^56 < 2^63, so the family is overflow-
# safe in Java longs AND DuckDB BIGINTs (which raise on overflow)
KM_H2_MOD = 1 << 56


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_MINHASHES,
    k: int = SHINGLE_K,
    shingle_index: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document. One explode + one groupBy with
    ``n_hashes`` min-aggregates — a single shuffle keyed on doc_id.

    E[|sig agreement|/n] estimates Jaccard (Broder '97, the MinHash
    construction PAPERS.md cites for fuzzy dedup).

    Hash family: ONE md5 per shingle occurrence yields two 60/56-bit
    halves (h1, h2); sig_i minimizes h1 + i·h2 — Kirsch-Mitzenmacher
    double hashing ('06), the standard trick for deriving k hash
    functions from two. Replaces the earlier one-md5-per-TWO-hashes
    scheme: the md5s (not the shuffle) dominated the runtime, and this
    cuts them ``n_hashes/2``-fold (measured 15.8s → 4.9s at sf0.1 with
    the persisted index). h1/h2 are materialized in a projection BEFORE
    the aggregate so codegen provably computes the digest once per row.

    Pass a persisted ``shingle_index`` (``write_shingle_index``) to
    skip re-deriving text→shingles entirely."""
    if shingle_index is not None:
        ex = shingle_index
    else:
        ex = _doc_shingles(docs, id_col, text_col, k).select(
            "doc_id", F.explode("sh").alias("s")
        )
    hexcol = F.md5(F.col("s"))
    hs = ex.select(
        "doc_id",
        F.conv(F.substring(hexcol, 1, 15), 16, 10).cast("long").alias("h1"),
        (
            F.conv(F.substring(hexcol, 17, 15), 16, 10).cast("long")
            % F.lit(KM_H2_MOD)
        ).alias("h2"),
    )
    aggs = [
        F.min(F.col("h1") + i * F.col("h2")).alias(f"sig_{i}")
        for i in range(n_hashes)
    ]
    return hs.groupBy("doc_id").agg(*aggs)


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash fingerprint (Charikar '02): per-token 60-bit hash; bit j
    of the fingerprint is 1 iff Σ_tokens tf·(±1 by hash bit j) > 0.

    One explode + ONE groupBy: Σ_term tf(term)·sign_j(term) equals
    Σ_occurrence sign_j(token), so the intermediate (doc, term) tf
    aggregation — a full extra shuffle of every distinct term — is
    algebraically redundant; per-occurrence ±1 contributions flow
    straight into the doc-level sum, where map-side partial
    aggregation collapses them to one row per (doc, partition) before
    the only shuffle. All JVM exprs."""
    docs = fan_out(docs)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(raw_tokens(F.col(text_col))).alias("term"),
    )
    h = hash60(F.col("term"))
    one = F.lit(1).cast("long")
    contribs = toks.select(
        "doc_id",
        *[
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, one)
            .otherwise(-one)
            .alias(f"c_{j}")
            for j in range(bits)
        ],
    )
    summed = contribs.groupBy("doc_id").agg(
        *[F.sum(f"c_{j}").alias(f"s_{j}") for j in range(bits)]
    )
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"s_{j}") > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return summed.select("doc_id", fp.alias("simhash"))


def simhash_pairs(
    fingerprints: DataFrame, max_hamming: int, bits: int = SIMHASH_BITS
) -> DataFrame:
    """Pairs within Hamming distance ≤ d, candidate-generated by the
    block-permutation trick: split the fingerprint into d+1 blocks —
    any pair within distance d matches exactly in ≥ 1 block
    (pigeonhole), so the join is keyed, never all-pairs."""
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    blocks = F.array(
        *[
            F.struct(
                F.lit(bi).alias("block_idx"),
                F.shiftright(F.col("simhash"), bi * block_bits)
                .bitwiseAND(F.lit(mask))
                .alias("block_val"),
            )
            for bi in range(n_blocks)
        ]
    )
    ex = fingerprints.select(
        "doc_id", F.col("simhash"), F.explode(blocks).alias("b")
    ).select("doc_id", "simhash", "b.block_idx", "b.block_val")
    a = ex.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("fp_a"),
        "block_idx", "block_val",
    )
    b = ex.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("fp_b"),
        "block_idx", "block_val",
    )
    return (
        a.join(b, ["block_idx", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(
                F.col("fp_a").bitwiseXOR(F.col("fp_b"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Embedding-space near-dup: random-hyperplane LSH block producer
# ---------------------------------------------------------------------------


def rp_blocks(
    corpus: DataFrame,
    dim: int,
    n_tables: int = 4,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "vec",
    max_planes: int | None = None,
) -> DataFrame:
    """(id, table_idx, bucket) — sign-pattern buckets under ``n_tables``
    independent sets of ``n_planes`` random hyperplanes (Charikar SimHash
    for cosine). Deterministic: planes from a seeded RNG on the driver,
    broadcast; one numpy GEMM per Arrow batch.

    ``max_planes``: when set, planes are the first ``n_planes`` of a
    CANONICAL (n_tables, max_planes, dim) draw, so the plane set is a
    strict prefix as ``n_planes`` grows — an adaptive caller
    (``adaptive_n_planes``) keeps every already-assigned sign bit
    stable when the corpus doubles, and a static oracle can emit the
    one max-shape literal table and slice it by a count-derived plane
    count. Without it the draw shape is (n_tables, n_planes, dim),
    the historical layout every persisted gate index was built with."""
    import numpy as np

    rng = np.random.default_rng(seed)
    if max_planes is not None:
        if n_planes > max_planes:
            raise ValueError(
                f"n_planes={n_planes} exceeds max_planes={max_planes}"
            )
        planes = rng.normal(
            size=(n_tables, max_planes, dim)
        )[:, :n_planes, :]
    else:
        planes = rng.normal(size=(n_tables, n_planes, dim))
    spark = corpus.sparkSession
    bp = spark.sparkContext.broadcast(planes)

    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )

    def bucketize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P = bp.value
        n_t, n_p, _ = P.shape
        weights = 1 << np.arange(n_p)
        for pdf in it:
            if pdf.empty:
                continue
            V = np.vstack(pdf["vec"].to_numpy())
            out_id, out_t, out_b = [], [], []
            for t in range(n_t):
                signs = (V @ P[t].T) > 0  # (batch, n_planes)
                buckets = signs @ weights
                out_id.append(pdf["id"].to_numpy())
                out_t.append(np.full(len(pdf), t))
                out_b.append(buckets)
            yield pd.DataFrame(
                {
                    "id": np.concatenate(out_id),
                    "table_idx": np.concatenate(out_t),
                    "bucket": np.concatenate(out_b),
                }
            )

    return c.mapInPandas(
        bucketize, schema="id long, table_idx int, bucket long"
    )


# target average LSH bucket occupancy when the plane count is chosen
# adaptively: bucket count scales with the corpus so candidate volume
# stays ~linear (occupancy² per bucket × n/occupancy buckets)
LSH_TARGET_OCCUPANCY = 16

# ceiling for the canonical prefix-stable plane draw (rp_blocks
# max_planes): 2^32 buckets ≈ 69 B vectors at occupancy 16 — past any
# plausible single-index corpus; raising it re-draws every plane, so
# treat it as a format constant
LSH_MAX_PLANES = 32


def adaptive_n_planes(n_rows: int, target: int = LSH_TARGET_OCCUPANCY,
                      floor: int = 8, cap: int = LSH_MAX_PLANES) -> int:
    """Planes so that 2^planes ≈ n_rows / target. A FIXED plane count
    is quadratic at scale — 8 planes is 256 buckets whether the corpus
    has 2e3 or 2e9 vectors, so per-bucket pairs grow as (n/256)²; the
    r7 distinct-doc probe measured exponent 1.66 on exactly that.
    Growing planes with log2(n) pins bucket occupancy, making
    candidate volume ~n·target. Recall stays high for NEAR-DUP
    thresholds: at cos ≥ .99 the per-plane split probability is ~θ/π ≈
    0.03, so even 16 planes keep per-table collision ≈ .97^16 ≈ .6 and
    4 tables ≈ 0.97+ overall (exact verification removes all false
    positives regardless).

    Clamped at ``cap`` (LSH_MAX_PLANES): past ~target·2^cap rows the
    canonical prefix draw has no more bits to append, so both engine
    and the oracles' count-derived np CTEs saturate there instead of
    the engine raising in ``rp_blocks`` while the oracle silently
    truncates (ADVICE r12)."""
    import math

    if n_rows <= target:
        return min(cap, floor)
    return min(cap, max(floor, math.ceil(math.log2(n_rows / target))))


def embedding_near_dupes_lsh(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    n_tables: int = 4,
    n_planes: int | None = None,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Scale path for embedding near-dup: LSH buckets → candidate pairs
    (keyed join, never N²) → exact cosine verification. Recall misses a
    true pair only if it splits in every table: P ≈ (1−(1−θ/π)^p)^t.
    ``n_planes=None`` (default) sizes the plane count off the corpus
    row count (``adaptive_n_planes``) so bucket occupancy — and with
    it candidate volume per row — stays constant as the corpus grows."""
    if n_planes is None:
        n_planes = adaptive_n_planes(corpus.count())
    from rag_database_spark.functions.vector import (
        dot, l2_norm, to_double_array,
    )

    blocks = rp_blocks(corpus, dim, n_tables, n_planes, seed, id_col, vec_col)
    a = blocks.select(F.col("id").alias("id_a"), "table_idx", "bucket")
    b = blocks.select(F.col("id").alias("id_b"), "table_idx", "bucket")
    cands = (
        a.join(b, ["table_idx", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # per-row norms in the vector projections (r17): the per-pair
    # cosine re-folded both norms per candidate — 3 interpreted O(d)
    # aggregates per pair → 1. Same subtree, same multiply order
    # (‖a‖·‖b‖), bit-identical to cosine(vec_a, vec_b).
    va = corpus.select(
        F.col(id_col).alias("id_a"),
        to_double_array(F.col(vec_col)).alias("vec_a"),
    ).withColumn("n_a", l2_norm(F.col("vec_a")))
    vb = corpus.select(
        F.col(id_col).alias("id_b"),
        to_double_array(F.col(vec_col)).alias("vec_b"),
    ).withColumn("n_b", l2_norm(F.col("vec_b")))
    denom = F.col("n_a") * F.col("n_b")
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b",
            F.when(
                denom > 0, dot(F.col("vec_a"), F.col("vec_b")) / denom
            ).otherwise(F.lit(0.0)).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def keep_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialized deduplicated corpus: one representative per
    near-dup cluster — the component-min document
    ``dedup_clusters_star`` labels with its own id — plus the number
    of duplicates that representative absorbs. This is the step a
    training pipeline actually ships: the *filtered corpus*, not just
    the audit of pairs or cluster labels.

    Plan: one groupBy(cluster_id) for component sizes (uniform small
    keys, map-side partials), a codegen filter ``doc_id == cluster_id``
    for the representatives, and one keyed join back to the corpus row.
    At 100 TB the cluster-label table is one narrow row per document,
    so every op here is linear with a single shuffle each — no step
    touches document text except the final join's projected columns.
    """
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    reps = clusters.filter(F.col("doc_id") == F.col("cluster_id")).join(
        sizes, "cluster_id"
    )
    return (
        reps.select(
            "doc_id",
            "cluster_size",
            (F.col("cluster_size") - F.lit(1)).alias("n_dupes_removed"),
        )
        .join(
            docs.select(F.col(id_col).alias("doc_id"), "n_chars"),
            "doc_id",
        )
    )


LEAKAGE_EVAL_FRACTION = 0.1
LEAKAGE_SPLIT_SEED = 42


def leakage_safe_split(
    labels: DataFrame,
    eval_fraction: float = LEAKAGE_EVAL_FRACTION,
    seed: int = LEAKAGE_SPLIT_SEED,
) -> DataFrame:
    """Near-dup-aware train/eval split: every document lands on the
    side its whole near-dup COMPONENT is assigned to, so a held-out
    eval set can never contain a near-duplicate of a training document
    (the train/test contamination that plain per-doc random splits
    leak — the same failure mode ``decontam`` removes after the fact,
    prevented at split time instead).

    ``labels`` is the (doc_id, cluster_id) component frame
    (``dedup_clusters_star`` output or its persisted artifact); the split
    hashes the CLUSTER id, not the doc id, with the same md5-derived
    60-bit integer threshold as the deterministic samplers
    (``stratified_sample``) — a pure function of the component label,
    stable across partitioning, engines, and reruns, and exactly
    reproducible by the DuckDB twin in integer space.

    NULL keys: a NULL cluster_id is coalesced to '' before hashing so
    the Spark expression and the DuckDB twin (whose ``||`` would
    otherwise propagate NULL into a fixed 'train' fallback) assign the
    SAME side; cluster labels are non-null by construction, so the
    sentinel only guards the twin contract (an empty-string id would
    collide with it — also impossible by construction).

    Scale: one projection over the label frame — no join, no shuffle;
    the component structure was already paid for by the dedup pass
    that produced ``labels``."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit(f"split{seed}"),
                    F.coalesce(
                        F.col("cluster_id").cast("string"), F.lit("")
                    ),
                )
            ),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    thr = int(eval_fraction * (1 << 60))
    return labels.select(
        "doc_id",
        "cluster_id",
        F.when(h < F.lit(thr), F.lit("eval"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def split_leakage_audit(
    pairs: DataFrame,
    split: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Audit an EXISTING (doc_id, split) assignment against the
    near-dup pair graph: how many pairs straddle the boundary — the
    contamination count a per-doc random split silently ships, and the
    zero a cluster-atomic split (``leakage_safe_split``) guarantees.
    Returns (split_a, split_b, n_pairs) with the side labels
    normalized (least/greatest) so a pair's orientation can't fork the
    grouping; the (train, eval)-crossing row IS the leak.

    The joins are INNER: a pair whose endpoint has no row in
    ``split`` is not audited (it belongs to neither side). Callers
    auditing a partial assignment should first complete it — an
    absent doc silently shrinks the counts, it does not raise.

    Scale: two keyed joins of the pair set against the split frame
    (both sides keyed on doc id — the same partitioning) + one rollup
    on a ≤|splits|² key space. The pair set was already paid for by
    the dedup pass; nothing here touches text."""
    s1 = split.select(
        F.col("doc_id").alias(src_col), F.col("split").alias("__sa")
    )
    s2 = split.select(
        F.col("doc_id").alias(dst_col), F.col("split").alias("__sb")
    )
    return (
        pairs.join(s1, src_col)
        .join(s2, dst_col)
        .groupBy(
            F.least("__sa", "__sb").alias("split_a"),
            F.greatest("__sa", "__sb").alias("split_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def per_doc_split(
    docs: DataFrame,
    eval_fraction: float = LEAKAGE_EVAL_FRACTION,
    seed: int = LEAKAGE_SPLIT_SEED,
    id_col: str = "doc_id",
) -> DataFrame:
    """The NAIVE per-document split (same md5 threshold construction
    as ``leakage_safe_split`` but hashing the doc id): the baseline
    whose ``split_leakage_audit`` crossing count motivates the
    cluster-atomic form. (doc_id, split). NULL ids coalesce to ''
    before hashing — same twin contract as ``leakage_safe_split``."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit(f"split{seed}"),
                    F.coalesce(F.col(id_col).cast("string"), F.lit("")),
                )
            ),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    thr = int(eval_fraction * (1 << 60))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.when(h < F.lit(thr), F.lit("eval"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def soft_dedup(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Duplicate-aware DOWNWEIGHTING — the soft alternative to
    dropping: instead of keeping one representative per near-dup
    component (``keep_representatives``), every document survives
    with training weight 1/|component|, so a cluster of n duplicates
    contributes one document's worth of gradient mass in total while
    phrasing variation inside the cluster is preserved. (The
    duplicate-discounting recipe several recent pretraining pipelines
    use in place of hard removal; composes the same pair graph the
    hard-dedup family generates.)

    Returns one row per corpus document: (doc_id, cluster_id,
    group_size, weight) with ``weight = round(1/group_size, 6)`` —
    singletons get weight 1.0, so downstream samplers can consume the
    column unconditionally.

    Plan: connected components over the pair graph
    (``dedup_clusters_star`` — component-min labels, one Arrow batch
    for small graphs), then ONE count window on cluster_id — the
    labels subtree runs once, where a groupBy joined back would run it
    twice: no step beyond the pair generation itself touches document
    text."""
    cl = dedup_clusters_star(pairs, docs, id_col, src_col, dst_col)
    return cl.withColumn(
        "group_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
    ).withColumn(
        "weight", F.round(F.lit(1.0) / F.col("group_size"), 6)
    )


# fuzzy-decontamination defaults: eval slice mirrors the exact-overlap
# decontaminate() fixture (doc_id < 20); the Jaccard bar is deliberately
# lower than the 0.8 near-dup threshold — contamination checks want
# "suspiciously similar", not "almost identical"
FUZZY_CONTAM_BENCH_MAX = 20
FUZZY_CONTAM_THRESHOLD = 0.5


def fuzzy_decontam(
    docs: DataFrame,
    bench_docs: DataFrame | None = None,
    bench_max: int = FUZZY_CONTAM_BENCH_MAX,
    k: int = SHINGLE_K,
    threshold: float = FUZZY_CONTAM_THRESHOLD,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_index: DataFrame | None = None,
) -> DataFrame:
    """Fuzzy benchmark decontamination: for every training document,
    its best shingle-Jaccard match in the evaluation set — the fuzzy
    sibling of ``text_analytics.decontaminate`` (which flags exact
    n-gram overlap). NeMo-Curator-style pipelines run both: exact
    grams catch verbatim leakage, set-level Jaccard catches
    reformatted/reordered copies of eval items.

    The candidate join is EXACT (inverted index on shingles: any pair
    with Jaccard > 0 shares a shingle) — no LSH recall loss on the
    contamination decision. ``bench_docs`` is any DataFrame with
    ``id_col``/``text_col``; when None, the deterministic
    ``doc_id < bench_max`` slice stands in (the oracle's fixture) and
    those rows are excluded from the probed corpus.

    Pass a persisted ``shingle_index`` (``write_shingle_index``,
    (doc_id, s) rows) to skip tokenization entirely — in fixture mode
    BOTH sides slice the index, so the probe is two index scans, no
    regex work (measured 6.7 s → index-driven at sf0.1).

    Scale design: the eval set is tiny next to the corpus, so its
    exploded shingles and sizes are BROADCAST — the corpus never
    shuffles for candidate generation; the only wide ops are the
    (doc_id, bench_id) intersection count and the per-doc argmax
    rollup, both keyed on corpus doc_id with map-side partials. The
    argmax is a struct-max aggregate (jaccard desc, bench_id asc via
    negated id), not a window — one shuffle, no per-partition sort.

    Output: one row per probed document —
    (doc_id, bench_id | NULL, best_jaccard, is_contaminated).
    """
    fixture_mode = bench_docs is None
    if fixture_mode:
        bench_docs = docs.filter(F.col(id_col) < bench_max)
        corpus = docs.filter(F.col(id_col) >= bench_max)
    else:
        corpus = docs
    if shingle_index is not None and fixture_mode:
        # index-driven fixture mode: both sides are slices of the
        # persisted exploded index — no tokenization in the plan.
        # (Only valid when the eval set IS the doc_id < bench_max
        # slice of the indexed corpus.) Set sizes are aggregated from
        # the index (they are not a per-row column here), so this
        # branch keeps the size joins.
        c_ex = shingle_index.filter(F.col("doc_id") >= bench_max)
        c_sz = c_ex.groupBy("doc_id").agg(F.count("*").alias("n_a"))
        b_rows = shingle_index.filter(F.col("doc_id") < bench_max)
        b_ex = b_rows.select(F.col("doc_id").alias("bench_id"), "s")
        b_sz = b_ex.groupBy("bench_id").agg(F.count("*").alias("n_b"))
        inter = (
            c_ex.join(F.broadcast(b_ex), "s")
            .groupBy("doc_id", "bench_id")
            .agg(F.count("*").alias("inter"))
        )
        jac = (
            inter.join(F.broadcast(b_sz), "bench_id")
            .join(c_sz, "doc_id")
        )
    else:
        # single-pass sides (r18, r17 VERDICT item 6): each side's set
        # SIZE rides the exploded stream as a per-row column instead of
        # a second projection over the shingle subtree — the r17 shape
        # evaluated the corpus tokenize+shingle-hash projection TWICE
        # (once for c_ex, once for c_sz) and joined the sizes back on
        # doc_id. n_a/n_b are functionally determined by the ids, so
        # grouping on (id, size) pairs yields the identical result with
        # one corpus pass and zero size joins.
        c_sh = _doc_shingles(corpus, id_col, text_col, k)
        b_sh = _doc_shingles(bench_docs, id_col, text_col, k)
        c_ex = c_sh.select(
            "doc_id",
            F.size("sh").alias("n_a"),
            F.explode("sh").alias("s"),
        )
        b_ex = b_sh.select(
            F.col("doc_id").alias("bench_id"),
            F.size("sh").alias("n_b"),
            F.explode("sh").alias("s"),
        )
        jac = (
            c_ex.join(F.broadcast(b_ex), "s")
            .groupBy("doc_id", "bench_id", "n_a", "n_b")
            .agg(F.count("*").alias("inter"))
        )
    jac = jac.withColumn(
        "jaccard",
        F.round(
            F.col("inter")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")),
            6,
        ),
    )
    # argmax by (jaccard desc, bench_id asc): lexicographic struct max
    # with the id negated — rounding BEFORE ranking keeps the winner
    # identical across engines when two eval docs tie to 6dp
    best = jac.groupBy("doc_id").agg(
        F.max(
            F.struct(
                F.col("jaccard"),
                (-F.col("bench_id")).alias("neg_id"),
            )
        ).alias("b")
    ).select(
        "doc_id",
        (-F.col("b.neg_id")).alias("bench_id"),
        F.col("b.jaccard").alias("best_jaccard"),
    )
    return (
        corpus.select(F.col(id_col).alias("doc_id"))
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "bench_id",
            F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
            (
                F.coalesce("best_jaccard", F.lit(0.0)) >= F.lit(threshold)
            ).alias("is_contaminated"),
        )
    )


def _jaccard_vs_index(
    batch_docs: DataFrame,
    shingle_index: DataFrame,
    k: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(new_id, doc_id, jaccard) for every (incoming doc, indexed doc)
    pair that shares a shingle, jaccard rounded to 6dp — the probe
    behind both index gates. The incoming batch is tiny next to the
    corpus, so its exploded shingles are BROADCAST and the index never
    shuffles for candidate generation (exact: any pair with
    Jaccard > 0 shares a shingle). Corpus-side set sizes come from one
    partial-aggregated pass over the index.

    The batch side is one pass (r18, same shape as fuzzy_decontam): its
    set SIZE rides the exploded shingle stream as a per-row column
    instead of a second projection over the shingle subtree. n_b is
    functionally determined by new_id, so grouping on (new_id, n_b,
    doc_id) yields the per-pair intersection with no size join."""
    b_ex = _doc_shingles(batch_docs, id_col, text_col, k).select(
        F.col("doc_id").alias("new_id"),
        F.size("sh").alias("n_b"),
        F.explode("sh").alias("s"),
    )
    index_sizes = shingle_index.groupBy("doc_id").agg(
        F.count("*").alias("n_a")
    )
    return (
        shingle_index.join(F.broadcast(b_ex), "s")
        .groupBy("new_id", "n_b", "doc_id")
        .agg(F.count("*").alias("inter"))
        .join(index_sizes, "doc_id")
        .select(
            "new_id",
            "doc_id",
            F.round(
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )


def best_jaccard_vs_index(
    batch_docs: DataFrame,
    shingle_index: DataFrame,
    k: int = SHINGLE_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Admission-gate probe: for each INCOMING document, its best
    shingle-Jaccard match in the existing corpus (represented by its
    persisted ``(doc_id, s)`` shingle index) — an ingest pipeline calls
    this per batch to quarantine near-duplicates of already-accepted
    documents before they enter the corpus. Candidates come from
    ``_jaccard_vs_index``; the argmax is the same struct-max rollup as
    ``fuzzy_decontam``, keyed on the batch id.

    Output: one row per incoming document —
    (doc_id, match_id | NULL, best_jaccard).
    """
    jac = _jaccard_vs_index(batch_docs, shingle_index, k, id_col, text_col)
    best = jac.groupBy("new_id").agg(
        F.max(
            F.struct(
                F.col("jaccard"), (-F.col("doc_id")).alias("neg_id")
            )
        ).alias("b")
    ).select(
        "new_id",
        (-F.col("b.neg_id")).alias("match_id"),
        F.col("b.jaccard").alias("best_jaccard"),
    )
    return (
        batch_docs.select(F.col(id_col).alias("doc_id"))
        .join(best, F.col("doc_id") == F.col("new_id"), "left")
        .select(
            "doc_id",
            "match_id",
            F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
        )
    )


def pairs_vs_index(
    batch_docs: DataFrame,
    shingle_index: DataFrame,
    threshold: float,
    k: int = SHINGLE_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ALL cross pairs (existing-corpus doc, incoming doc) with
    Jaccard ≥ threshold — the set form of ``best_jaccard_vs_index``'s
    argmax, over the same ``_jaccard_vs_index`` probe. Output matches
    the pair-set schema (id_a < id_b orientation, 6dp jaccard) so it
    appends directly onto the persisted pair index."""
    return (
        _jaccard_vs_index(batch_docs, shingle_index, k, id_col, text_col)
        .select(
            F.least("doc_id", "new_id").alias("id_a"),
            F.greatest("doc_id", "new_id").alias("id_b"),
            "jaccard",
        )
        .filter(F.col("jaccard") >= threshold)
    )


def append_pair_index(
    batch_docs: DataFrame,
    pair_path: str,
    shingle_path: str,
    threshold: float,
    k: int = SHINGLE_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental pair-index maintenance — the near-dup analog of
    ``bm25.append_index``: admitting a batch appends exactly the NEW
    pairs (batch×corpus via the broadcast index probe, batch×batch via
    the self-join over the batch alone) plus the batch's shingle rows,
    and the invariant pairs(corpus ∪ batch) = pairs(corpus) ∪ appended
    holds because every new pair has at least one endpoint in the
    batch (unit-pinned). Cost ∝ delta, never ∝ corpus — the reference
    instead rebuilds full indexes on every add
    (bm25_store.py:176-188). Batch doc_ids must be new (the gate's
    admission contract)."""
    spark = batch_docs.sparkSession
    idx = read_shingle_index(spark, shingle_path)
    cross = pairs_vs_index(
        batch_docs, idx, threshold, k, id_col, text_col
    )
    within = shingle_jaccard_pairs(
        batch_docs, threshold, id_col, text_col, k
    )
    cross.unionByName(within).repartition("id_a").write.mode(
        "append"
    ).parquet(pair_path)
    _doc_shingles(batch_docs, id_col, text_col, k).select(
        "doc_id", F.explode("sh").alias("s")
    ).write.mode("append").parquet(shingle_path)


# edge-count ceiling under which dedup_clusters_star finishes the
# components in one Arrow batch on one worker instead of running
# distributed star rounds: 2^20 (u, v) long pairs ≈ 16 MiB of edges
CC_LOCAL_MAX_EDGES = 1 << 20


def _union_find_labels(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas body: connected components of the whole (u, v) edge
    set (one partition) → one (u, label) row per node, label = the
    component-min node id. Vectorized union-find: every round hooks
    each edge's higher root under its lower root (``minimum.at``), then
    pointer jumping flattens the forest to stars. Every root with a
    neighbouring root takes part in a merge, so the root count of a
    component at least halves per round: O(log n) numpy passes."""
    import numpy as np

    parts = [p for p in batches if not p.empty]
    if not parts:
        return
    u = np.concatenate([p["u"].to_numpy(np.int64) for p in parts])
    v = np.concatenate([p["v"].to_numpy(np.int64) for p in parts])
    # nodes are sorted, so the smallest index in a component is also
    # its smallest id
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[: len(u)], idx[len(u):]
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[a], parent[b]
        if np.array_equal(ra, rb):
            break
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    yield pd.DataFrame({"u": nodes, "label": nodes[parent]})


def dedup_clusters_star(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_rounds: int = 30,
) -> DataFrame:
    """Connected components, one row per corpus document, cluster_id =
    component-min doc_id; a document with no edge is its own
    cluster.

    The distinct edge set is checkpointed once, by the job that takes
    its (count, hash) signature; the checkpoint feeds only that
    signature and the star rounds. Two paths follow:

    - up to ``CC_LOCAL_MAX_EDGES`` edges (near-dup graphs are sparse:
      the sf0.01 fixture's 500 vectors give 59 semantic-duplicate
      edges), the labels come from one Arrow batch on one worker
      (``_union_find_labels``) over the LAZY edge set, not its
      checkpoint: the returned plan has no checkpointed leaf, so a
      plan cache may keep it, and each execution recomputes the edges;
    - above it, alternating large-star/small-star rounds (Kiveris et
      al. 2014, "Connected Components in MapReduce and Beyond" —
      public paper) start from the checkpoint. They converge in
      O(log n) rounds on ANY component topology, where min-label
      propagation needs O(diameter). Each round is one groupBy + one
      join per star op, with ``localCheckpoint`` truncating lineage;
      the fixpoint test compares the edge-set signature — two scans,
      no subtract join.

    The path is chosen from the checkpoint's count, not a count of the
    lazy set: above the budget that would generate the pairs twice.
    The edge count decides the plan shape, so a cached plan stays
    valid only while ``pairs``' sources are unchanged.

    Both paths end in the same left join to ``docs``: a document with
    no edge is its own cluster.
    """
    lazy_edges = pairs.select(
        F.col(src_col).cast("long").alias("u"),
        F.col(dst_col).cast("long").alias("v"),
    ).filter(F.col("u") != F.col("v")).distinct()
    # lazy: the signature job right after materializes the checkpoint,
    # so it adds no job of its own
    edges = lazy_edges.localCheckpoint(eager=False)

    def _signature(e: DataFrame) -> tuple[int, int]:
        # bit_xor is order-insensitive and cannot overflow (ANSI mode
        # raises on a long sum of hashes); edges are distinct so xor
        # cancellation cannot collide two different edge SETS silently
        # beyond ordinary 64-bit hash collision odds
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
            ).alias("h"),
        ).first()
        return int(row["n"]), int(row["h"])

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"),
                               F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # orient every edge (hi → lo), group by hi
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = o.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        joined = o.join(mins, "u")
        out = joined.select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).union(
            mins.select(F.col("u"), F.col("m").alias("v"))
        )
        return out.filter(F.col("u") != F.col("v")).distinct()

    sig = _signature(edges)
    if sig[0] <= CC_LOCAL_MAX_EDGES:
        labels = lazy_edges.coalesce(1).mapInPandas(
            _union_find_labels, schema="u long, label long"
        )
    else:
        for _ in range(max_rounds):
            # (r17 note: checkpointing between the stars was measured
            # SLOWER at sf0.1 — the duplicated _large_star subtree runs
            # as parallel stages inside one job, while an inter-star
            # materialization adds a serial job per round)
            edges = _small_star(_large_star(edges)).localCheckpoint(
                eager=False
            )
            new_sig = _signature(edges)
            if new_sig == sig:
                break
            sig = new_sig
        else:
            import warnings

            warnings.warn(
                f"dedup_clusters_star: no fixpoint within {max_rounds} "
                "rounds; labels may be unsettled",
                RuntimeWarning,
                stacklevel=2,
            )
        # at the fixpoint every node points directly at its component min
        labels = edges.groupBy("u").agg(F.min("v").alias("label"))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(
            labels.select(F.col("u").alias("doc_id"), "label"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter dedup gate (Dolma-style approximate membership)
# --------------------------------------------------------------------------

# filter geometry: m bits packed 32/row (see bloom_filter_build), k md5-derived probes. At the
# fixture scales (≤5e3 standing fingerprints) m=2^18 gives an FP rate
# of (1-e^(-kn/m))^k ≈ 1e-8; production sizing is m ≈ 1.44·k·n bits —
# a 1e10-doc corpus at k=4 wants ~2^36 bits = 1 GiB of set bits packed, which is
# why the probe auto-switches from broadcast to a keyed join above
# BLOOM_BROADCAST_MAX_BITS.
BLOOM_M_BITS = 1 << 18
BLOOM_K = 4
BLOOM_BROADCAST_MAX_BITS = 1 << 26  # 8 MiB packed — safe to broadcast


def _bloom_positions(fp_col: Column, m_bits: int, k: int) -> Column:
    """array<long> of the k probe positions for one fingerprint —
    seed-prefixed md5 60-bit hashes mod m (the same engine-portable
    hash discipline as the MinHash family, ``hash60``)."""
    return F.array(
        *[
            hash60(F.concat(F.lit(f"bloom{i}:"), fp_col)) % m_bits
            for i in range(k)
        ]
    )


def bloom_filter_build(
    docs: DataFrame,
    text_col: str = "text",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Packed Bloom bitmap over the corpus' content fingerprints:
    (word_idx, bits) with bit ``p & 31`` of word ``p >> 5`` set for
    every probe position p — the approximate-membership structure
    Dolma's deduper gates on (public: allenai/dolma, a Bloom filter
    over doc/paragraph hashes), sized m/32 rows NO MATTER how large
    the corpus is. Build is one scan + a partial-aggregated bit_or
    groupBy on ≤ m/32 keys; deterministic (md5 probes), so two builds
    over the same corpus are identical and the DuckDB oracle replays
    the exact bitmap."""
    from rag_database_spark.functions.text import doc_fingerprint

    pos = docs.select(
        F.explode(
            _bloom_positions(doc_fingerprint(F.col(text_col)), m_bits, k)
        ).alias("pos")
    )
    # 32 bits per word, not 64: DuckDB's checked left shift rejects
    # 1 << 63 (the sign bit), so the cross-engine packing stays in the
    # positive range of an int64 on both sides
    return (
        pos.select(
            F.shiftright("pos", 5).alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
            .alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


def bloom_gate(
    batch: DataFrame,
    filter_words: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Probe a batch against a packed Bloom bitmap: (id, n_hits,
    maybe_dup) with maybe_dup ⇔ all k probe bits set — the admission
    decision Dolma-style dedup makes before any exact verification
    (false positives at the documented rate, never false negatives:
    an exact duplicate of an indexed doc ALWAYS flags).

    Scale: the batch's k·|batch| probe rows join the filter on
    word_idx — broadcast when the packed filter is ≤
    BLOOM_BROADCAST_MAX_BITS (8 MiB), an ordinary keyed join above
    that (a 2^36-bit production filter is ~1 GiB: shuffling the batch
    by word_idx beats shipping the bitmap to every task). The standing
    corpus itself is never touched at probe time — that is the entire
    point of the structure.

    ``n_hits`` counts DISTINCT probe indexes that hit (not probe
    rows): an at-least-once source can deliver the same id twice in
    one batch, and a per-row sum would then reach 2k ≠ k and
    false-negative an exact duplicate — the one thing a Bloom gate
    must never do. One id carried with two DIFFERENT texts resolves
    to the union of their probe hits (deterministic)."""
    from rag_database_spark.functions.text import doc_fingerprint

    probes = batch.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            _bloom_positions(doc_fingerprint(F.col(text_col)), m_bits, k)
        ).alias("probe_idx", "pos"),
    ).select(
        "id",
        "probe_idx",
        F.shiftright("pos", 5).alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
        .alias("mask"),
    )
    fw = (
        F.broadcast(filter_words)
        if m_bits <= BLOOM_BROADCAST_MAX_BITS
        else filter_words
    )
    joined = probes.join(fw, "word_idx", "left")
    hit = F.col("bits").isNotNull() & (
        F.col("bits").bitwiseAND(F.col("mask")) != 0
    )
    return (
        joined.groupBy("id")
        .agg(
            F.countDistinct(
                F.when(hit, F.col("probe_idx"))
            ).alias("n_hits")
        )
        .select(
            "id", "n_hits", (F.col("n_hits") == F.lit(k)).alias("maybe_dup")
        )
    )


def doc_paragraphs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, para_idx, para): newline-split paragraphs that survive
    normalization (a paragraph whose token stream is empty is noise —
    it would Bloom-match every other blank line). para_idx keeps
    repeated paragraphs within one doc distinct, so per-doc dup counts
    count occurrences, not distinct texts."""
    from rag_database_spark.functions.text import raw_tokens

    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "para_idx", "para"
            ),
        )
        .filter(F.size(raw_tokens(F.col("para"))) > 0)
    )


def bloom_gate_paragraphs(
    batch: DataFrame,
    filter_words: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Paragraph-level Bloom dedup report — the second half of Dolma's
    dedup (it gates documents AND paragraphs): every normalized
    paragraph of the batch probes a filter built over the STANDING
    corpus' paragraphs, and the per-doc rollup reports
    (id, n_paras, n_dup_paras, dup_para_frac) — the signal a pipeline
    thresholds to drop boilerplate-heavy docs or route them to
    span-cutting. No false negatives per paragraph; repeated
    paragraphs count per occurrence (posexplode keeps them distinct).

    Scale: k·Σ|paragraphs| probe rows against the packed bitmap
    (broadcast ≤ 8 MiB packed, keyed join above), one rollup keyed by
    (id, para_idx) then id — the standing corpus is never rescanned.
    Build the filter with ``bloom_filter_build(doc_paragraphs(corpus),
    text_col='para')``: the builder is paragraph-agnostic, only the
    fingerprint input changes."""
    from rag_database_spark.functions.text import doc_fingerprint

    # bloom_gate's rollup is keyed by a single id; paragraphs need the
    # (id, para_idx) identity through the probe, so the probe runs
    # inline here with the composite key. Same distinct-probe-index
    # counting as bloom_gate: a replayed duplicate row must not
    # double-count probes into a false negative.
    paras = doc_paragraphs(batch, id_col, text_col)
    probes = paras.select(
        "id",
        "para_idx",
        F.posexplode(
            _bloom_positions(doc_fingerprint(F.col("para")), m_bits, k)
        ).alias("probe_idx", "pos"),
    ).select(
        "id",
        "para_idx",
        "probe_idx",
        F.shiftright("pos", 5).alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
        .alias("mask"),
    )
    fw = (
        F.broadcast(filter_words)
        if m_bits <= BLOOM_BROADCAST_MAX_BITS
        else filter_words
    )
    hit = F.col("bits").isNotNull() & (
        F.col("bits").bitwiseAND(F.col("mask")) != 0
    )
    para_verdict = (
        probes.join(fw, "word_idx", "left")
        .groupBy("id", "para_idx")
        .agg(
            (
                F.countDistinct(F.when(hit, F.col("probe_idx")))
                == F.lit(k)
            ).alias("is_dup")
        )
    )
    rollup = para_verdict.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_paras"),
    )
    return (
        batch.select(F.col(id_col).alias("id")).distinct()
        .join(rollup, "id", "left")
        .select(
            "id",
            F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
            F.coalesce("n_dup_paras", F.lit(0)).alias("n_dup_paras"),
            F.when(
                F.col("n_paras") > 0,
                F.round(F.col("n_dup_paras") / F.col("n_paras"), 6),
            ).alias("dup_para_frac"),
        )
    )
