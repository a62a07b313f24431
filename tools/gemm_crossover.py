"""Measure the exact-GEMM vs LSH crossover for embedding near-dup and
record it in SCALING.json — so ``similarity.GEMM_MAX_CELLS`` /
``GEMM_MAX_COMPARE`` are justified by a measurement on THIS hardware
instead of a guess (VERDICT r11/r12 stretch item).

Method: prefixes of the distinct-doc sf1 probe corpus
(tools/make_scale_probe.py --distinct, 10x rows with per-replica
letter rotation so replicas are NOT near-dups) give a size ladder at
constant dim=64 and realistic pair density. At each n both paths run
the SAME query (all pairs cosine >= COSINE_DUP_THRESHOLD):

- exact: ``similarity._near_dupes_gemm`` — one numpy GEMM per
  Arrow batch against the broadcast normalized matrix; compute is
  n²·d multiply-adds by construction.
- approximate: ``dedup.embedding_near_dupes_lsh`` with adaptive
  planes — candidate pairs from hyperplane buckets + exact cosine
  verification; compute tracks candidate volume (~n·occupancy).

Each point is the min of two runs after a warm-up pass (same
discipline as tools/scale_probe.py). The crossover is the first n
where the LSH path beats the exact path; its n²·d is the measured
compute budget the static ``GEMM_MAX_COMPARE`` approximates.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.make_scale_probe import build  # noqa: E402

from rag_database_spark.session import get_spark  # noqa: E402

DIM = 64
THRESHOLD = 0.4  # __spark_entry__.COSINE_DUP_THRESHOLD
SIZES = (2_000, 4_000, 8_000, 16_000, 20_000)
RUNS_PER_POINT = 2


def _time(df) -> float:
    best = float("inf")
    for _ in range(RUNS_PER_POINT):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> dict:
    from rag_database_spark.operators import dedup, similarity

    sf1_dir = build(distinct=True)
    spark = get_spark("gemm_crossover")
    emb_all = (
        spark.read.parquet(str(Path(sf1_dir) / "embeddings.parquet"))
        .orderBy("vec_id")
    )
    points = []
    crossover_n = None
    for n in SIZES:
        emb = emb_all.limit(n).persist()
        emb.count()  # materialize once so both paths read the same cache
        gemm = similarity._near_dupes_gemm(
            emb, THRESHOLD, "vec_id", "embedding"
        )
        lsh = dedup.embedding_near_dupes_lsh(
            emb, THRESHOLD, dim=DIM, id_col="vec_id", vec_col="embedding",
        )
        _time(gemm)  # warm (plan compile, JIT, page cache)
        t_gemm = _time(gemm)
        _time(lsh)
        t_lsh = _time(lsh)
        emb.unpersist()
        flops = n * n * DIM
        points.append(
            {
                "n": n,
                "n2d_flops": flops,
                "t_gemm_s": t_gemm,
                "t_lsh_s": t_lsh,
            }
        )
        if crossover_n is None and t_lsh < t_gemm:
            crossover_n = n
        print(f"n={n}: gemm={t_gemm}s lsh={t_lsh}s ({flops:.1e} flops)")

    budget = similarity.GEMM_MAX_COMPARE
    # no in-range crossover: extrapolate with the asymptotic shapes —
    # GEMM wall-clock ~ a·n² through the largest point, LSH ~ b·n
    # through the largest point (its fixed Spark overhead makes this
    # an overestimate of the slope, i.e. the extrapolated crossover
    # is a LOWER bound on the true one)
    extrapolated = None
    if crossover_n is None and points:
        last = points[-1]
        a = last["t_gemm_s"] / (last["n"] ** 2)
        b = last["t_lsh_s"] / last["n"]
        extrapolated = int(b / a)
    blob_entry = {
        "probe": "distinct-doc corpus prefixes, dim=64, threshold "
        f"{THRESHOLD}; exact broadcast-GEMM vs adaptive-plane LSH on "
        "the identical near-dup query; min of 2 runs after warm-up",
        "points": points,
        "crossover_n": crossover_n,
        "crossover_n2d_flops": (
            crossover_n * crossover_n * DIM if crossover_n else None
        ),
        "crossover_n_extrapolated": extrapolated,
        "crossover_flops_extrapolated": (
            extrapolated * extrapolated * DIM if extrapolated else None
        ),
        "budget_GEMM_MAX_COMPARE": budget,
    }
    path = REPO / "SCALING.json"
    blob = json.loads(path.read_text()) if path.exists() else {}
    blob["gemm_crossover"] = blob_entry
    path.write_text(json.dumps(blob, indent=1) + "\n")
    print(json.dumps({"crossover_n": crossover_n, "budget": budget}))
    return blob


if __name__ == "__main__":
    main()
