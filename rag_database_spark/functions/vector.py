"""Vector column functions — dot product, norms, cosine similarity.

Pure column expressions over ``array<float|double>`` columns; they stay
JVM-side (no Arrow hop) and are exact, unlike the reference's HNSW
approximate path (src/storage/vector_store.py:136-145). The reference
L2-normalizes embeddings at encode time (src/embeddings/dense_embedder.py:59-65),
so cosine == dot there; we provide both.

Summation is left-to-right over the array (``F.aggregate``), matching a
sequential loop — the DuckDB oracle's list functions reduce in the same
order, which keeps float results comparable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(col: Column, f) -> Column:
    """Let-binding for column expressions: evaluate ``col`` ONCE per
    row and pass the result to ``f`` as a bound lambda variable.

    The Python DSL splices a sub-expression's whole tree into every
    use site, so an O(d) array aggregate referenced inside a
    per-element ``transform`` lambda becomes O(d²) per row (each
    element re-scans the array). Wrapping the value in a one-element
    array and binding it through ``transform``'s lambda variable makes
    Catalyst evaluate the sub-tree once per row: a ``NamedLambdaVariable``
    is a cached value reference, never a re-evaluated expression.
    Same float ops in the same order — results are bit-identical."""
    return F.element_at(F.transform(F.array(col), f), 1)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def to_double_array(a: Column) -> Column:
    """Cast array<float> → array<double> so accumulation happens in f64;
    the oracle casts to DOUBLE[] identically."""
    return a.cast("array<double>")
