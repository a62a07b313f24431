"""The index-write layer, measured at the end of a traced run.

Builds persisted indexes of the program's operator modules into a
scratch directory with the modules' public ``write_*`` functions, from
90 % of the corpus (the seed picks the other 10 %), then adds the other
10 % with the matching ``append_*`` function. The traced ``corpus`` run
builds the document-side indexes: BM25 postings (``bm25``), the shingle
inverted index and the near-duplicate pair set (``dedup``;
``append_pair_index`` appends to both). The traced ``search`` run builds
the IVF lists (``similarity``). The PQ and IVF-PQ indexes (``pq``) are
left out: their ``pq_fit`` took 57 s on 4 cores with the benchmark's
C1-only driver JVM, which took the traced ``search`` run to 165 s of
the 180 s a run may take.

Afterwards, untimed, each index is read back and checked: BM25 postings
and the shingle index against a rebuild from the whole corpus (append
promises the identical index), the pair set against the
``near_dup_pairs`` oracle, and the IVF lists for one row per vector.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

SPLIT = 10  # one document or vector in SPLIT is appended

INDEXES = {"corpus": ("bm25", "shingle", "pairs"), "search": ("ivf",)}
# the (index, phase) steps, in order; pairs' append also appends the
# shingle rows
STEPS = {
    "corpus": [("bm25", "build"), ("shingle", "build"), ("pairs", "build"),
               ("bm25", "append"), ("pairs", "append")],
    "search": [("ivf", "build"), ("ivf", "append")],
}


def layer_names() -> list[str]:
    return [f"index.{i}.{phase}_s" for steps in STEPS.values() for i, phase in steps] + [
        "index.bytes_written", "index.files_written"]


def _split(df, id_col: str, seed: int):
    from pyspark.sql import functions as F

    appended = F.pmod(F.hash(F.col(id_col), F.lit(seed)), F.lit(SPLIT)) == 0
    return df.filter(~appended), df.filter(appended)


def _rows(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def build_and_check(spark, workload: str, cdir: Path, out: Path, seed: int,
                    pair_check) -> tuple[dict, list]:
    """Time the workload's writes and appends into ``out``; returns the
    ``index.*`` metrics and a list of (index, reason) failures.
    ``pair_check(columns, rows)`` checks the pair set against its
    oracle and returns None or a reason."""
    import __spark_entry__ as entrymod
    from check import fingerprint
    from pyspark.sql import functions as F
    from rag_database_spark.operators import bm25, dedup, similarity

    shutil.rmtree(out, ignore_errors=True)
    docs = spark.read.parquet(str(cdir / "documents.parquet"))
    vecs = spark.read.parquet(str(cdir / "embeddings.parquet"))
    d_base, d_new = _split(docs, "doc_id", seed)
    v_base, v_new = _split(vecs, "vec_id", seed)
    thr = entrymod.JACCARD_THRESHOLD
    vec = {"id_col": "vec_id", "vec_col": "embedding"}
    p = {i: str(out / i) for i in INDEXES[workload]}
    steps = {
        ("bm25", "build"): lambda: bm25.write_index(d_base, p["bm25"]),
        ("shingle", "build"): lambda: dedup.write_shingle_index(d_base, p["shingle"]),
        ("pairs", "build"): lambda: dedup.write_pair_index(
            dedup.shingle_jaccard_pairs(d_base, thr), p["pairs"]),
        ("ivf", "build"): lambda: similarity.write_ivf_index(v_base, p["ivf"], **vec),
        ("bm25", "append"): lambda: bm25.append_index(d_new, p["bm25"]),
        ("pairs", "append"): lambda: dedup.append_pair_index(
            d_new, p["pairs"], p["shingle"], thr),
        ("ivf", "append"): lambda: similarity.append_ivf_index(v_new, p["ivf"], **vec),
    }
    metrics = {}
    for index, phase in STEPS[workload]:
        t0 = time.perf_counter()
        steps[index, phase]()
        metrics[f"index.{index}.{phase}_s"] = time.perf_counter() - t0
    files = [f for f in out.rglob("*") if f.is_file()]
    metrics["index.bytes_written"] = float(sum(f.stat().st_size for f in files))
    metrics["index.files_written"] = float(len(files))

    failures = []

    def same(index: str, got, want) -> None:
        if fingerprint(*_rows(got)) != fingerprint(*_rows(want)):
            failures.append((index, "appended index differs from a full rebuild"))

    if workload == "corpus":
        postings, doclens = bm25.read_index(spark, p["bm25"])
        same("bm25", postings, bm25.build_postings(docs))
        same("bm25", doclens, bm25.build_doclens(docs))
        full = str(out / "check-shingle")
        dedup.write_shingle_index(docs, full)
        same("shingle", dedup.read_shingle_index(spark, p["shingle"]),
             dedup.read_shingle_index(spark, full))
        reason = pair_check(*_rows(dedup.read_pair_index(spark, p["pairs"])))
        if reason:
            failures.append(("pairs", reason))
    else:
        n_vecs = vecs.count()
        table = similarity.read_ivf_index(spark, p["ivf"])[1]
        n, distinct = table.agg(F.count("*"), F.countDistinct("id")).first()
        if not n == distinct == n_vecs:
            failures.append(("ivf", f"{n} rows, {distinct} ids for {n_vecs} vectors"))
    return metrics, failures
