#!/usr/bin/env python3
"""Survey every registered entry on the benchmark corpus: its warm
seconds and the program modules its builder calls. Writes
``perfbench/entries.json``, from which ``workloads.py`` derives each
workload's timed and coverage sets.

    python3 perfbench/survey.py

Run it from the root of a checkout, on an otherwise idle machine. A new
table can change the timed sets, and with them every figure the
benchmark reports, so rerun it only as a deliberate change of the
benchmark (for example when entries are added).
"""

from __future__ import annotations

import json
import os
import time

from common import BENCH, stop_spark
from run import ensure_warm, pin_environment


def main() -> int:
    pin_environment()
    cdir = ensure_warm()
    import __spark_entry__ as entrymod
    from rag_database_spark.session import get_spark
    from tracing import Tracer

    spark = get_spark("perfbench-survey")
    try:
        qs = entrymod.queries()

        def run(name: str) -> float:
            t0 = time.perf_counter()
            qs[name](spark, str(cdir)).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        # the first call of each entry builds it from scratch, so it is
        # the one traced for the modules it calls (a plan-cache hit
        # would call none); the second is the warm figure a timed pass
        # would see
        tracer = Tracer(spark, "survey")
        tracer.install([entrymod])
        try:
            for name in qs:
                with tracer.operation(name):
                    run(name)
        finally:
            tracer.uninstall()
        seconds = {name: run(name) for name in qs}
    finally:
        stop_spark(spark)
    table = {
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "entries": {
            n: {"seconds": round(seconds[n], 3), "modules": sorted(tracer.op_modules[n])}
            for n in sorted(qs)
        },
    }
    (BENCH / "entries.json").write_text(json.dumps(table, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
