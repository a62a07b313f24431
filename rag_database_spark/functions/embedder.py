"""Model-free deterministic text embedder — the engine's M1-lite
(reference M1: BGE dense embedding, src/embeddings/dense_embedder.py;
models are not available in this environment, so the engine ships a
hash-projection embedder with the SAME shape contract: text →
array<double>[dim], L2-normalizable, deterministic).

Each dimension is an independent md5-keyed projection of the token
stream — pure JVM column expressions, reproducible bit-for-bit by the
DuckDB oracle (same md5 → hex-parse trick the MinHash family uses). A
real model replaces this with a Pandas UDF of identical signature
(SNIPPETS.md[1] pattern); every downstream operator (cosine top-k,
near-dup, hybrid legs) is agnostic to which produced the vectors.

Construction: vec[i] = mean over tokens t of u(md5(i|t)) where u maps
the first 15 hex chars to [-1, 1). Token-frequency weighted, order-
insensitive — a bag-of-words random projection, so texts sharing tokens
land near each other (enough structure for rank-based tests)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rag_database_spark.functions.text import tokenize

EMBED_DIM = 8

# M1 real-model default (dense_embedder.py:27-35)
DEFAULT_MODEL = "BAAI/bge-small-en-v1.5"

DIMS_PER_DIGEST = 8  # 32 hex chars / 4 per dimension


def hash_embed(text_col: Column, dim: int = EMBED_DIM) -> Column:
    """array<double>[dim]; empty token stream → zero vector.

    Hash family: each md5 digest (128 bits) is sliced into eight
    INDEPENDENT 16-bit pieces, one per dimension, mapped to [-1, 1);
    dimensions beyond 8 draw from additional salted digests. Unlike a
    Kirsch-Mitzenmacher affine family (fine for MinHash minima, wrong
    here — affine-in-i dimensions collapse a random projection onto a
    2-D subspace), the slices stay independent. The digests are
    materialized into an array ONCE per token via transform before the
    aggregate consumes them — the earlier one-aggregate-per-dimension
    form re-tokenized and re-hashed every token ``dim`` times, since
    higher-order lambdas defeat subexpression elimination. Measured
    ~5.6s → ~4s warm on the text_embed_topk bench at sf0.1 (the md5s
    drop 8×, conv/substring slicing is the remaining cost); 16-bit
    quantization is invisible under the 6-dp score rounding."""
    toks = tokenize(text_col)
    n = F.size(toks)
    zeros = F.array_repeat(F.lit(0.0), dim)
    n_digests = -(-dim // DIMS_PER_DIGEST)  # ceil

    # one array entry per token: the concatenated salted digests
    hexes = F.transform(
        toks,
        lambda t: F.concat(
            *[F.md5(F.concat(F.lit(f"{k}|"), t)) for k in range(n_digests)]
        ),
    )

    def step(acc: Column, h: Column) -> Column:
        contrib = F.array(
            *[
                F.conv(F.substring(h, 1 + 4 * i, 4), 16, 10).cast("double")
                / 32768.0
                - 1.0
                for i in range(dim)
            ]
        )
        return F.zip_with(acc, contrib, lambda a, b: a + b)

    sums = F.aggregate(hexes, zeros, step)
    return F.when(
        n > 0, F.transform(sums, lambda s: s / n)
    ).otherwise(zeros)


def model_embed(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "embedding",
    model_name: str = DEFAULT_MODEL,
    batch_size: int = 64,
    normalize: bool = True,
    prefix: str = "",
) -> DataFrame:
    """M1 real-model path (dense_embedder.py:27-78): sentence-
    transformers through an Arrow-batched mapInPandas — the model loads
    once per Python worker (lazy module-level singleton inside the
    closure), encodes each Arrow batch as one GPU/CPU forward pass, and
    only the float vectors cross back to the JVM.

    ``normalize`` forwards sentence-transformers'
    ``normalize_embeddings`` — the reference always L2-normalizes so
    dot product == cosine (dense_embedder.py:60-63); ``prefix`` is
    prepended to every text, the BGE query-side convention (BGE
    models want an instruction prefix on queries, not documents,
    dense_embedder.py:46-50).

    Raises ImportError when sentence-transformers is absent. Recorded-fixture
    tests pin the encode contract (batch_size forwarding, normalize
    flag, prefix application, input order) without the real weights
    (tests/test_seams.py)."""
    from rag_database_spark.seams import optional_import

    st_mod = optional_import("sentence_transformers")
    if st_mod is None:
        raise ImportError(
            "sentence_transformers not installed — hash_embed is the "
            "deterministic fallback embedder"
        )
    # captured at driver time: a real installed class pickles by
    # reference (worker re-imports it), while the smoke test's fake
    # class ships by value — either way the worker gets the model
    model_cls = st_mod.SentenceTransformer

    from collections.abc import Iterator

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = model_cls(model_name)  # once per partition
        for pdf in it:
            if pdf.empty:
                continue
            vecs = model.encode(
                [prefix + t for t in pdf[text_col].tolist()],
                batch_size=batch_size,
                normalize_embeddings=normalize,
            )
            pdf = pdf.copy()
            pdf[out_col] = [[float(x) for x in v] for v in vecs]
            yield pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    return df.mapInPandas(batches, schema=f"{schema}, {out_col} array<double>")


