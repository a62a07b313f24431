"""Document graph — relationship extraction, BFS traversal, result
augmentation (F19, J5-J7, J10, U5, W6, A10;
src/graph/document_graph.py).

The reference holds the graph in driver memory and walks it with a
Python queue (:352-426). The Spark form keeps edges as a DataFrame and
expands the frontier one hop per iteration — each hop is one equi-join
on the edge key plus one ``left_anti`` against the visited set (U5),
so a k-hop expansion is k keyed shuffles regardless of corpus size.
BFS order guarantees the first visit happens at minimum depth, so the
output (start, doc, min-depth) is deterministic and oracle-able with a
recursive CTE.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rag_database_spark.functions.exact import exact_avg, exact_sum
from rag_database_spark.sources.tables import local_frame

MIN_CONFIDENCE = 0.5  # document_graph.py:357 default

# F19 pattern banks (document_graph.py:86-123, IGNORECASE via (?i));
# capture group 1 = the referenced identifier. Patterns are shared
# verbatim between extraction and the unit suite.
RELATION_PATTERNS: tuple[tuple[str, str], ...] = (
    ("amends",
     r"(?i)amend(?:s|ed|ment to)?\s+(?:the\s+)?(?:original\s+)?"
     r"(?:agreement|contract)?\s*(?:dated\s+)?"
     r"([A-Z][^.]+?(?:\d{4}|agreement|contract))"),
    ("amends",
     r"(?i)(?:first|second|third|\d+(?:st|nd|rd|th))\s+amendment\s+to\s+([^.]+)"),
    ("supersedes",
     r"(?i)supersedes?\s+(?:and replaces?\s+)?(?:all\s+)?(?:prior\s+)?([^.]+)"),
    ("supersedes", r"(?i)replaces?\s+(?:in\s+its\s+entirety\s+)?([^.]+)"),
    ("exhibits_to", r"(?i)exhibit\s+([A-Z]|\d+)\s+(?:to|attached)"),
    ("exhibits_to", r"(?i)(?:see|refer to)\s+exhibit\s+([A-Z]|\d+)"),
    ("references",
     r"(?i)(?:pursuant to|in accordance with|as defined in|as set forth in)"
     r"\s+([^.]+)"),
    ("references",
     r"(?i)(?:see|refer to|reference to)\s+"
     r"([^.]+?(?:agreement|contract|document|section|article))"),
    ("cites",
     r"(?i)(?:IRC|I\.R\.C\.)\s*(?:§|Section)\s*(\d+(?:\([a-z]\))?(?:\(\d+\))?)"),
    ("cites", r"(?i)(\d+)\s*(?:U\.S\.C\.|USC)\s*(?:§|Section)?\s*\d+"),
    ("cites", r"(?i)(\d+)\s*(?:C\.F\.R\.|CFR)\s*(?:§|Section)?\s*\d+(?:\.\d+)?"),
    ("incorporates",
     r"(?i)incorporat(?:es?|ed|ing)\s+(?:herein\s+)?by\s+reference\s+([^.]+)"),
    ("incorporates", r"(?i)deemed\s+(?:to\s+be\s+)?incorporated\s+([^.]+)"),
)

HIGH_CONFIDENCE_TYPES = ("cites", "exhibits_to")  # document_graph.py:191-193


def extract_relationships(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """F19 (document_graph.py:134-213): per-pattern ``finditer`` →
    explode matches → confidence heuristic (base .7, .9 for
    cites/exhibits, −.2 long match, −.1 hedging, clamp [.3, 1]) →
    first-seen dedup on (src, target, type) (W6, :215-229).

    All regexp_extract_all + explode — the 13 patterns fuse into one
    projection over the scan."""
    t = F.col(text_col)
    per_pattern = []
    for pat_idx, (rel_type, pat) in enumerate(RELATION_PATTERNS):
        full = F.regexp_extract_all(t, F.lit(pat), 0)
        ref = F.regexp_extract_all(t, F.lit(pat), 1)
        per_pattern.append(
            F.transform(
                full,
                lambda m, i: F.struct(
                    F.lit(rel_type).alias("relation_type"),
                    F.trim(F.get(ref, i)).alias("target_ref"),
                    m.alias("matched"),
                    F.lit(pat_idx).alias("pat_idx"),
                ),
            )
        )
    matches = F.flatten(F.array(*per_pattern))
    exploded = docs.select(
        F.col(id_col).alias("source_id"), F.explode(matches).alias("m")
    ).select(
        "source_id", "m.relation_type", "m.target_ref", "m.matched",
        "m.pat_idx",
    )
    base = F.when(
        F.col("relation_type").isin(*HIGH_CONFIDENCE_TYPES), F.lit(0.9)
    ).otherwise(F.lit(0.7))
    conf = (
        base
        - F.when(F.length("matched") > 200, 0.2).otherwise(0.0)
        - F.when(
            F.lower("matched").rlike("may|might|similar"), 0.1
        ).otherwise(0.0)
    )
    out = exploded.select(
        "source_id",
        F.concat(F.lit("unresolved:"), F.col("target_ref")).alias("target_id"),
        "relation_type",
        F.greatest(F.lit(0.3), F.least(F.lit(1.0), conf)).alias("confidence"),
        "target_ref",
        "pat_idx",
        "matched",
    )
    # W6 first-seen dedup, made deterministic: the reference iterates
    # patterns in bank order and keeps the first hit; row_number over
    # (pattern order, match text) reproduces that choice exactly, where
    # dropDuplicates would pick an arbitrary survivor
    w = Window.partitionBy(
        "source_id", "target_id", "relation_type"
    ).orderBy("pat_idx", "matched")
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "source_id", "target_id", "relation_type", "confidence",
            "target_ref",
        )
    )


def resolve_references(
    edges: DataFrame, identifiers: DataFrame
) -> DataFrame:
    """J10 (document_graph.py:332-350): join unresolved target refs
    against a (identifier, doc_id) registry; matched edges get the real
    doc id, the rest stay unresolved. The registry is small → broadcast."""
    ident = F.broadcast(
        identifiers.select(
            F.lower("identifier").alias("__ident"), F.col("doc_id").alias("__resolved")
        )
    )
    joined = edges.join(
        ident, F.lower(edges["target_ref"]).contains(F.col("__ident")), "left"
    )
    # several identifiers may match one ref — keep first by identifier
    w = Window.partitionBy(
        "source_id", "target_id", "relation_type"
    ).orderBy(F.col("__ident"))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .withColumn(
            "target_id",
            F.coalesce(F.col("__resolved").cast("string"), F.col("target_id")),
        )
        .drop("__ident", "__resolved", "__rn")
    )


def undirected(edges: DataFrame) -> DataFrame:
    """Both traversal directions (the reference walks outgoing AND
    incoming relations, document_graph.py:388-425)."""
    fwd = edges.select(
        F.col("src").alias("me"), F.col("dst").alias("other"), "confidence"
    )
    rev = edges.select(
        F.col("dst").alias("me"), F.col("src").alias("other"), "confidence"
    )
    return fwd.unionByName(rev)


def build_adjacency(
    edges: DataFrame, min_confidence: float = MIN_CONFIDENCE
) -> DataFrame:
    """The traversal-ready adjacency list: undirected, confidence-
    filtered, hash-partitioned on the join key. Query-independent —
    serving callers build it once per graph (and persist it) and pass
    it to every ``bfs_expand``/``augment_results`` call, the same
    artifact discipline as the persisted BM25/IVF indexes; the
    reference likewise holds its graph structure resident across
    queries (document_graph.py:56-84) instead of re-deriving it per
    walk."""
    return (
        undirected(edges)
        .filter(F.col("confidence") >= min_confidence)
        .repartition("me")
    )


def write_adjacency(adj: DataFrame, path: str) -> None:
    """Persist the traversal-ready adjacency (me, other, confidence)
    per (graph, cutoff) — the reference keeps its graph resident
    (document_graph.py:56-84) but rebuilds on restart; the parquet
    artifact lets a fresh session serve BFS/augmentation without
    re-deriving edge extraction. ``build_adjacency`` already
    repartitioned on ``me``, so the files land key-clustered."""
    adj.write.mode("overwrite").parquet(path)


def read_adjacency(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def bfs_expand(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 2,
    min_confidence: float = MIN_CONFIDENCE,
    adj: DataFrame | None = None,
) -> DataFrame:
    """J5/U5 (document_graph.py:352-426): multi-source BFS over the
    (src, dst, confidence) edge frame, depth ≤ ``max_depth``, edges
    under ``min_confidence`` skipped, visited-set dedup per seed.

    ``seeds``: one column ``start_id``. Output: (start_id, doc_id,
    depth) with depth = minimum hops (BFS invariant), start excluded.

    Each hop: one join keyed on the frontier node + one left_anti
    against visited — max_depth keyed shuffles total; the visited set
    stays distributed (never collected).

    The adjacency list (hash-partitioned on the join key) and each
    hop's frontier are persisted: iterative plans otherwise re-derive
    the whole upstream lineage (edge extraction included) once per hop.
    Measured at depth 4 on the bench graph: 18.5s → 3.3s warm (14s
    first call, dominated by one-time edge materialization); the win
    grows with depth.

    ``adj``: a pre-built (and ideally already-persisted)
    ``build_adjacency`` frame — callers serving many walks over one
    graph pass it so the adjacency materializes once per graph, not
    once per call. When given, ``edges``/``min_confidence`` are
    ignored and its persistence is left untouched."""
    own_adj = adj is None
    if own_adj:
        # hash-partition the cached adjacency on the join key: every
        # hop's equi-join reuses that partitioning instead of
        # re-exchanging adj, and the cache holds shuffle-partition-count
        # partitions rather than the union's concatenated
        # micro-partitions
        adj = build_adjacency(edges, min_confidence).persist()
    frontier = seeds.select(
        F.col("start_id"), F.col("start_id").alias("doc_id")
    )
    visited = frontier
    results = []
    hop_caches = []
    for depth in range(1, max_depth + 1):
        neighbors = (
            frontier.join(adj, frontier["doc_id"] == adj["me"])
            .select("start_id", F.col("other").alias("doc_id"))
            .distinct()
        )
        new = neighbors.join(
            visited, ["start_id", "doc_id"], "left_anti"
        ).persist()
        hop_caches.append(new)
        results.append(new.withColumn("depth", F.lit(depth)))
        # no distinct needed: ``new`` is deduped (per-hop distinct) and
        # anti-joined against visited, so the union is disjoint — saves
        # one full shuffle per hop
        visited = visited.unionByName(new)
        frontier = new
    # materialize the (small) expansion set, then release every cached
    # partition — repeated callers in one session must not accumulate
    # adjacency + frontier caches for the session lifetime
    out = reduce(lambda a, b: a.unionByName(b), results).localCheckpoint()
    if own_adj:
        adj.unpersist()
    for cached in hop_caches:
        cached.unpersist()
    return out


def shortest_chains(
    edges: DataFrame,
    pairs: DataFrame,
    max_depth: int = 5,
    min_confidence: float = MIN_CONFIDENCE,
    adj: DataFrame | None = None,
) -> DataFrame:
    """J6 batch form (document_graph.py:469-513): shortest relation
    chain length for every (src, dst) pair, bidirectionally.

    Meet-in-the-middle: ONE ``bfs_expand`` from the distinct sources
    AND destinations together at radius ``ceil(max_depth/2)``, then a
    meet join — d(src, dst) = min over meeting nodes m of
    d(src, m) + d(m, dst) (exact on the undirected graph: the sum is
    ≥ the true distance by triangle inequality, and splitting the true
    shortest path at its midpoint attains it). Halves the SEQUENTIAL
    hop stages vs a radius-``max_depth`` walk — the BFS's per-hop
    shuffles are an inherently serial chain, so at any scale latency
    tracks radius, while the meet join is one extra keyed shuffle.
    Unreachable-within-``max_depth`` pairs keep a NULL ``chain_len``,
    the relational form of the reference's ``None`` return.

    The meet is restricted to the REQUESTED pairs before the two
    reach sides ever touch: joining fwd×bwd on the meeting node alone
    generates |reach_src(m)| × |reach_dst(m)| rows per meeting node —
    on a hub-heavy graph one high-degree hub reached by every seed
    turns that into |seeds|² rows on a single key, the classic skew
    point at 100×. Joining ``pairs → fwd`` first (reach set of each
    pair's src, keyed on src) and then ``bwd`` on the unique
    (dst, m) key bounds the intermediate at Σ_pairs |reach(src)|,
    which is linear in the request size regardless of hub degree."""
    radius = (max_depth + 1) // 2
    src_ids = pairs.select(F.col("src").alias("start_id"))
    dst_ids = pairs.select(F.col("dst").alias("start_id"))
    seeds = src_ids.unionByName(dst_ids).distinct()
    reach = bfs_expand(edges, seeds, radius, min_confidence, adj=adj)
    # include depth-0 self rows (bfs_expand excludes the start) so a
    # pair meets at src or dst itself
    reach0 = reach.unionByName(
        seeds.select(
            "start_id",
            F.col("start_id").alias("doc_id"),
            F.lit(0).alias("depth"),
        )
    )
    fwd = reach0.select(
        F.col("start_id").alias("src"),
        F.col("doc_id").alias("m"),
        F.col("depth").alias("d_src"),
    )
    bwd = reach0.select(
        F.col("start_id").alias("dst"),
        F.col("doc_id").alias("m"),
        F.col("depth").alias("d_dst"),
    )
    met = (
        pairs.select("src", "dst")
        .distinct()
        .join(fwd, "src")
        .join(bwd, ["dst", "m"])
        .groupBy("src", "dst")
        .agg(F.min(F.col("d_src") + F.col("d_dst")).alias("chain_len"))
        .filter(
            (F.col("chain_len") <= max_depth) & (F.col("chain_len") > 0)
        )
    )
    return pairs.join(met, ["src", "dst"], "left").select(
        "src", "dst", F.col("chain_len").cast("long").alias("chain_len")
    )


def augment_results(
    results: DataFrame,
    edges: DataFrame,
    top_results: int = 5,
    max_augmented: int = 3,
    min_confidence: float = MIN_CONFIDENCE,
    adj: DataFrame | None = None,
) -> DataFrame:
    """J7 (document_graph.py:542-602): expand the top-N results per
    query by 1 hop; related docs score = avg edge confidence, keep the
    best ``max_augmented`` new docs per query.

    ``adj``: optional pre-built ``build_adjacency`` frame (same
    contract as ``bfs_expand``)."""
    top = results.filter(F.col("rank") <= top_results).select(
        "query_id", F.col("id").alias("doc_id")
    )
    if adj is None:
        adj = undirected(edges).filter(F.col("confidence") >= min_confidence)
    related = (
        top.join(adj, top["doc_id"] == adj["me"])
        .groupBy("query_id", F.col("other").alias("id"))
        .agg(F.round(exact_avg("confidence", scale=6), 6).alias("graph_score"))
    )
    new = related.join(
        results.select("query_id", "id"), ["query_id", "id"], "left_anti"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("graph_score"), F.asc("id")
    )
    return (
        new.withColumn("aug_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("aug_rank") <= max_augmented)
    )


PAGERANK_DAMPING = 0.85
PAGERANK_ITERATIONS = 5


def pagerank_edges(edges: DataFrame, weighted: bool = False) -> DataFrame:
    """The PageRank-ready out-edge list: undirected, deduped, with the
    out-degree folded in — query-independent per graph, so serving
    callers build it once (and persist it) and pass it to every
    ``pagerank`` call, the same artifact discipline as
    ``build_adjacency``.

    ``weighted=True`` keeps the edge confidence (max over parallel
    edges — deterministic) as the transition weight ``w`` and replaces
    the count degree with the weight sum, ROUNDED to 6dp so both
    engines proceed from the identical double despite summation
    order. The unweighted frame carries no ``w`` column; ``pagerank``
    treats that as weight 1.0 (an exact IEEE no-op in the update)."""
    sym = undirected(edges).filter(F.col("me") != F.col("other"))
    if weighted:
        # zero-confidence edges carry no transition mass — drop them so
        # the rounded weight-sum degree can never be 0 (a node whose
        # edges all vanish simply becomes dangling, which the pagerank
        # loop already handles)
        und = (
            sym.groupBy("me", "other")
            .agg(F.max("confidence").alias("w"))
            .filter(F.col("w") > 0)
        )
        deg = und.groupBy("me").agg(F.round(exact_sum("w", scale=6), 6).alias("deg"))
    else:
        und = sym.select("me", "other").distinct()
        deg = und.groupBy("me").agg(
            F.count("*").cast("double").alias("deg")
        )
    return und.join(deg, "me").repartition("me")


def pagerank(
    nodes: DataFrame,
    edges: DataFrame | None = None,
    iterations: int = PAGERANK_ITERATIONS,
    damping: float = PAGERANK_DAMPING,
    node_col: str = "doc_id",
    seeds: DataFrame | None = None,
    out: DataFrame | None = None,
    weighted: bool = False,
) -> DataFrame:
    """Document-importance PageRank over the undirected doc graph —
    the curation signal a training pipeline uses to up-weight hub
    documents (beyond-reference LLM-pipeline op; the reference's
    graph analytics stop at degree stats, document_graph.py:515-528).
    With ``seeds``, the teleport distribution concentrates uniformly
    on the seed set instead of all nodes — personalized PageRank, the
    graph-proximity re-ranking signal for retrieval augmentation
    (random-walk-with-restart from the result set).

    Power iteration with a fixed round count so the result is
    deterministic and oracle-able as an unrolled SQL chain. Each round
    is one keyed join (ranks ⋈ out-edges on the source) plus one
    groupBy on the destination — Pregel's message-passing shape, two
    shuffles per round regardless of corpus size, with the degree
    pre-joined into the edge list once so it never re-shuffles.
    Dangling mass (docs with no out-edges) is redistributed uniformly
    each round — the scalar aggregate rides along as a broadcast
    1-row cross join, so a round is a single job (no separate driver
    collect), keeping the ranks a true probability distribution.
    ``localCheckpoint`` every second round (and the last) truncates
    the lineage (as ``dedup_clusters_star``'s rounds do) — depth-2
    lineage stays constant-bounded at half the materialization cost,
    so the plan does not grow with the iteration count.

    Returns one row per node: (``node_col``, rank) with the raw
    double rank; callers round/rank at the entry boundary.
    """
    # out-edge list with the degree folded in, partitioned on the
    # rank-join key and persisted: every round reuses one exchange.
    # Serving callers pass a prebuilt (persisted) ``pagerank_edges``
    # frame instead; it is left untouched on exit.
    own_out = out is None
    if own_out:
        out = pagerank_edges(edges, weighted=weighted).persist()
    elif weighted != ("w" in out.columns):
        # the transition weight is keyed off the prebuilt edge list's
        # schema below — a caller passing out= built with the other
        # weighted= would silently get that build's semantics, so make
        # the disagreement loud instead
        raise ValueError(
            "pagerank: weighted=%r but the prebuilt `out` was built "
            "with weighted=%r (presence of its 'w' column) — rebuild "
            "the edge artifact or drop the flag"
            % (weighted, not weighted)
        )

    def _done(result: DataFrame) -> DataFrame:
        if own_out:
            out.unpersist()
        return result

    # teleport vector e: uniform over all nodes, or over the seed set
    # (personalized). r0 = e in both cases; dangling mass follows e.
    empty = nodes.select(
        F.col(node_col).alias(node_col),
        F.lit(0.0).alias("rank"),
    ).limit(0)
    if seeds is None:
        n = nodes.count()
        if n == 0:
            return _done(empty)
        base = nodes.select(
            F.col(node_col).alias("id"), F.lit(1.0 / n).alias("e")
        )
    else:
        # dedupe and restrict to known nodes: duplicate seed rows would
        # fan out the base join, and seeds outside `nodes` would shrink
        # the teleport mass below 1 — either breaks the probability-
        # distribution invariant
        s = (
            seeds.select(F.col(node_col).alias("id"))
            .distinct()
            .join(
                nodes.select(F.col(node_col).alias("id")),
                "id",
                "left_semi",
            )
            .select("id", F.lit(True).alias("_s"))
        )
        k = s.count()
        if k == 0:
            return _done(empty)
        base = (
            nodes.select(F.col(node_col).alias("id"))
            .join(F.broadcast(s), "id", "left")
            .select(
                "id",
                F.when(F.col("_s"), F.lit(1.0 / k))
                .otherwise(F.lit(0.0))
                .alias("e"),
            )
        )
    base = base.repartition("id").persist()
    ranks = base.select("id", F.col("e").alias("r")).localCheckpoint()
    has_out = out.select(F.col("me").alias("id")).distinct()
    # dangling mass is EXACTLY zero on a graph with no isolated nodes
    # (undirected: any edge gives both endpoints out-degree), so detect
    # that once with an integer count and skip the per-round dangling
    # aggregate+broadcast job — adding a literal 0.0 is an exact no-op,
    # so the guarded fast path is bit-identical to the general one.
    n_dangling = base.join(has_out, "id", "left_anti").count()
    # transition weight: 1.0 when the edge list is unweighted — an
    # exact IEEE no-op (r*1.0/deg == r/deg bit-for-bit), so one update
    # expression serves both forms
    wcol = F.col("w") if "w" in out.columns else F.lit(1.0)
    for it in range(iterations):
        contrib = (
            ranks.join(out, ranks["id"] == out["me"])
            .groupBy(F.col("other").alias("id"))
            .agg(F.sum(F.col("r") * wcol / F.col("deg")).alias("contrib"))
        )
        if n_dangling:
            dang = (
                ranks.join(has_out, "id", "left_anti")
                .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dangling"))
            )
            mass = F.coalesce(F.col("contrib"), F.lit(0.0)) + F.col(
                "dangling"
            ) * F.col("e")
            stepped = base.join(contrib, "id", "left").crossJoin(
                F.broadcast(dang)
            )
        else:
            mass = F.coalesce(F.col("contrib"), F.lit(0.0))
            stepped = base.join(contrib, "id", "left")
        ranks = stepped.select(
            "id",
            (
                F.lit(1.0 - damping) * F.col("e") + F.lit(damping) * mass
            ).alias("r"),
        )
        # checkpoint every SECOND round (and the last): lineage depth 2
        # is still constant-bounded, and halving the materializations
        # halves the fixed per-round job cost — the numbers are
        # identical, only the plan boundary moves
        if it % 2 == 1 or it == iterations - 1:
            ranks = ranks.localCheckpoint()
    base.unpersist()
    return _done(
        ranks.select(F.col("id").alias(node_col), F.col("r").alias("rank"))
    )


def triangles(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over
    the undirected doc graph — the cohesion signal that separates
    tight near-dup/topic clusters from chains (beyond-reference graph
    analytics; the reference stops at degree stats,
    document_graph.py:515-528).

    Compact-forward enumeration: edges are ORIENTED from the
    lower-(degree, id) endpoint to the higher, so every wedge is
    generated at its minimum-rank apex and each triangle exactly once
    — the orientation bounds out-degrees by O(√m) on skewed graphs,
    which is what keeps the wedge join from exploding on hub nodes at
    corpus scale (the plain neighbor-join is quadratic in the hub
    degree). The wedge → closing-edge check is one keyed equi-join on
    the canonical (min, max) pair. All counts are integer-exact; the
    clustering ratio 2·tri / (deg·(deg−1)) is a single rounded
    division, identical cross-engine.

    Returns (node, degree, n_triangles, clustering)."""
    # Two eager localCheckpoints, kept on a measurement: und feeds the
    # degree rollup and the canonical edge list, deg is read three
    # times and o self-joins for wedges. At sf0.01 on local[4] (median
    # of 5 warm calls, build + noop write) a call took 0.82 s and 23
    # jobs without them, against 0.70-0.77 s and 7 build + 6 exec jobs.
    und = (
        undirected(edges)
        .filter(F.col("me") != F.col("other"))
        .select("me", "other")
        .distinct()
    ).localCheckpoint()
    deg = und.groupBy("me").agg(F.count("*").alias("d"))
    ce = und.filter(F.col("me") < F.col("other")).select(
        F.col("me").alias("a"), F.col("other").alias("b")
    )
    withdeg = (
        ce.join(deg.select(F.col("me").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("me").alias("b"), F.col("d").alias("db")), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = withdeg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint()
    x = o.select(F.col("u"), F.col("v").alias("v1"))
    y = o.select(F.col("u"), F.col("v").alias("v2"))
    wedges = x.join(y, "u").filter(F.col("v1") < F.col("v2"))
    tri = wedges.join(
        ce,
        (F.col("a") == F.col("v1")) & (F.col("b") == F.col("v2")),
    ).select("u", "v1", "v2")
    per_node = (
        tri.select(F.explode(F.array("u", "v1", "v2")).alias("me"))
        .groupBy("me")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.join(per_node, "me", "left")
        .select(
            F.col("me").alias("node"),
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("d") >= 2,
                    2.0
                    * F.coalesce("n_tri", F.lit(0)).cast("double")
                    / (
                        F.col("d").cast("double")
                        * (F.col("d").cast("double") - 1.0)
                    ),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering"),
        )
    )


def graph_stats(edges: DataFrame) -> DataFrame:
    """A10 (document_graph.py:515-528): per-relation-type edge counts,
    avg confidence, distinct endpoint counts."""
    return edges.groupBy("relation_type").agg(
        F.count("*").alias("n_edges"),
        F.round(exact_avg("confidence", scale=6), 6).alias("avg_confidence"),
        F.countDistinct("src").alias("n_sources"),
        F.countDistinct("dst").alias("n_targets"),
    )


# fixture corpus for the F19 oracle entry — the driver's synthetic
# documents contain no legal cross-references, so extraction runs over
# this deterministic frame (same pattern as tables_extract/domain_
# metadata fixtures). Apostrophe-free for SQL VALUES embedding; each
# pattern family fires at least once.
REL_FIXTURES: tuple[tuple[int, str], ...] = (
    (1,
     "This First Amendment to the Master Services Agreement dated "
     "March 1, 2023 revises the fee schedule. Pursuant to Section 4.2 "
     "the fees are adjusted annually. See Exhibit A to this amendment "
     "for the revised rates."),
    (2,
     "This agreement supersedes all prior agreements between the "
     "parties on the subject matter. The vendor shall process data in "
     "accordance with the Data Processing Addendum. Refer to Exhibit B "
     "for pricing details."),
    (3,
     "Under IRC Section 482 the service pricing may be adjusted by the "
     "Secretary. See also 26 U.S.C. Section 482 and 29 CFR Section "
     "1910.95 for related rules."),
    (4,
     "The vendor schedules are incorporated herein by reference into "
     "this master contract. This contract replaces the 2022 consulting "
     "contract in its entirety."),
    (5, "plain text mentioning no agreements and citing nothing at all"),
)


# J10 identifier registry fixture — known-document identifiers the
# unresolved target refs resolve against (metadata_store identifier
# lookup analog). Lowercase multi-word keys so containment matches are
# meaningful; apostrophe-free for SQL VALUES.
IDENT_REGISTRY: tuple[tuple[str, int], ...] = (
    ("master services agreement", 100),
    ("data processing addendum", 200),
    ("2022 consulting contract", 300),
)


def rel_fixtures_df(spark) -> DataFrame:
    return local_frame(spark, REL_FIXTURES, "doc_id long, text string")


def ident_registry_df(spark) -> DataFrame:
    return local_frame(spark, IDENT_REGISTRY, "identifier string, doc_id long")


def ident_registry_values_sql() -> str:
    rows = ", ".join(f"('{i}', {d})" for i, d in IDENT_REGISTRY)
    return f"(SELECT * FROM (VALUES {rows}) AS v(identifier, doc_id))"


def rel_fixtures_values_sql() -> str:
    rows = ", ".join(f"({i}, '{t}')" for i, t in REL_FIXTURES)
    return f"(SELECT * FROM (VALUES {rows}) AS v(doc_id, text))"


def related_ids(edges: DataFrame, ids: DataFrame) -> DataFrame:
    """U3 (metadata_store.py:1219-1225): docs related to an id set —
    union of the source and target sides, distinct, the seed ids
    themselves excluded."""
    seed = ids.select(F.col(ids.columns[0]).alias("doc_id"))
    out = edges.join(
        seed, edges["src"] == seed["doc_id"]
    ).select(F.col("dst").alias("related_id"))
    inc = edges.join(
        seed, edges["dst"] == seed["doc_id"]
    ).select(F.col("src").alias("related_id"))
    return (
        out.unionByName(inc)
        .distinct()
        .join(
            seed.select(F.col("doc_id").alias("related_id")),
            ["related_id"],
            "left_anti",
        )
    )
