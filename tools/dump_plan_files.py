"""Dump .explain('formatted') for the given entries into per-query
files under plans/<round>/<entry>_<suffix>.txt (judge-auditable
evidence of plan-shape claims in the round's OPTIMIZATION report).
No warm-up: each entry builds the ``.cache`` artifacts it reads on first
use, so the plans are the ones a warmed session shows.

Usage: python tools/dump_plan_files.py <suffix> [entry ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_PLAN_ROUND (default r18).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from rag_database_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROUND = os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r18")
OUT = REPO / "plans" / ROUND


def main(argv: list[str]) -> int:
    suffix = argv[0]
    names = argv[1:]
    spark = get_spark("dump_plan_files")
    qs = entrymod.queries()
    OUT.mkdir(parents=True, exist_ok=True)
    for n in names:
        df = qs[n](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (OUT / f"{n}_{suffix}.txt").write_text(txt)
        print(f"wrote plans/{ROUND}/{n}_{suffix}.txt ({len(txt)} chars)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
