#!/usr/bin/env python3
"""Layered benchmark for the engine: ``search`` and ``corpus`` workloads.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Every failing operation is named on a line before it.
The details of a run (every sample, load averages and stolen CPU time,
the pinned environment, per-entry layer numbers) go to
``perfbench/.work/trace-<workload>-<seed>-<trace>.json``.

The first run of a program version in a checkout generates the corpus
and warms the program's on-disk artifact cache in a child process,
outside every timed interval. ``perfbench/README.md`` describes the workloads and the
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

from common import (ROOT, WORK, closed_loop, corpus_dir, descendants, error_line, log,
                    slowest, stop_spark, tree_cpu_s)

WORKLOADS = ("search", "corpus")
MIN_PASSES = 3
UNITS = {"setup_s": "s", "pass_cpu_s": "s", "entry_cpu_p50_s": "s", "entry_cpu_tail_s": "s",
         "index_bytes_per_input_byte": "ratio", "peak_rss_mb": "MB"}


def program_present() -> bool:
    return (ROOT / "__spark_entry__.py").is_file() and (
        ROOT / "rag_database_spark" / "session.py"
    ).is_file()


def pin_environment() -> dict:
    """Every core, a driver heap sized to the machine, Spark scratch
    inside the checkout, and two driver JVM flags; returned for the run
    record.

    ``-XX:TieredStopAtLevel=1`` compiles with C1 only. With the default
    tiered C2, the compiler threads took 40 % of a run's CPU and passes
    kept getting faster for ten passes and more (corpus: 4.3 s down to
    2.9 s on 4 cores), longer than a run can warm up, so a run's figures
    depended on how far the compile queue had got. With C1 only, passes
    are flat after one warm-up pass.

    ``-XX:+UseSerialGC``: G1 grows the heap when collection takes a
    large share of wall time, so the driver's resident memory followed
    the host's load (1.16-1.35 GB in three runs of the same code); the
    serial collector sizes the heap from live data (0.76-0.81 GB)."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    local = WORK / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, min(4096, total_kb // 4096))}m",
        "SPARK_LOCAL_DIRS": str(local),
        "PYSPARK_SUBMIT_ARGS":
            '--driver-java-options "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC" pyspark-shell',
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    sys.path.insert(0, str(ROOT))
    return env


def host_load() -> dict:
    """Load averages and the CPU time stolen by the hypervisor so far:
    recorded at a run's start and end, so that a run slowed by other
    tenants can be picked out afterwards."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        steal_ticks = int(f.readline().split()[8])
    return {"loadavg": load, "steal_s": steal_ticks / os.sysconf("SC_CLK_TCK")}


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss(threading.Thread):
    """Samples the resident memory of this process and all of its
    descendants (driver JVM, Python workers) five times a second, from
    the start of set-up to the end of the timed passes: the untimed
    checks run seed-chosen entries whose Python workers would make the
    peak depend on the seed."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self.halt.wait(0.2):
            total = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)

    def stop(self) -> float:
        if not self.halt.is_set():
            self.halt.set()
            self.join()
        return self.peak_kb / 1024.0


# -- one-time preparation ---------------------------------------------------
def warm() -> int:
    """Child process: generate the corpus and build every artifact
    ``prepare()`` needs, so no timed run pays for index construction.
    It runs on the default JVM flags: the artifacts are the same, and the
    index builds' k-means folds took about three times as long on C1
    alone (``pq_fit``: 57 s against about 20 s on 4 cores)."""
    import corpus

    cdir = corpus.write_base(corpus_dir())
    import __spark_entry__ as entrymod
    from rag_database_spark.session import get_spark

    os.environ.pop("PYSPARK_SUBMIT_ARGS")
    spark = get_spark("perfbench-warm")
    try:
        entrymod.prepare(spark, str(cdir))
    finally:
        stop_spark(spark)
    (cdir / "_WARM").write_text("ok")
    return 0


def ensure_warm() -> Path:
    """The corpus directory of this program version, warmed."""
    cdir = corpus_dir()
    if (cdir / "_WARM").exists():
        return cdir
    log("first run in this checkout: generating the corpus and warming artifacts")
    t0 = time.time()
    subprocess.run([sys.executable, str(Path(__file__).resolve()), "--warm"],
                   check=True, cwd=ROOT)
    log(f"warm step took {time.time() - t0:.1f}s")
    return cdir


# -- entry workloads (search, corpus) ---------------------------------------
def artifact_ratio(corpus_dir: Path) -> float:
    """Bytes of the program's persisted artifacts for this corpus
    (what ``prepare()`` keeps under ``.cache``) per byte of the corpus's
    parquet input. Artifact keys start with the corpus directory's name,
    which is per program version (``common.corpus_dir``), so artifacts
    another version left in this checkout do not count."""
    prefix = corpus_dir.name + "-"
    art = sum(
        f.stat().st_size
        for d in (ROOT / ".cache").glob("*/*")
        if d.name.startswith(prefix)
        for f in ([d] if d.is_file() else d.rglob("*"))
        if f.is_file()
    )
    return art / sum(p.stat().st_size for p in corpus_dir.glob("*.parquet"))


class Run:
    """Counts, failures and the detail record of one benchmark run."""

    def __init__(self, workload: str, seed: int, traced: bool, rss: PeakRss):
        self.rss = rss
        self.workload = workload
        self.seed = seed
        self.traced = traced
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.detail: dict = {"workload": workload, "seed": seed, "trace": traced}

    def fail(self, op: str, reason: str) -> None:
        self.failures.append((op, reason))
        print(f"perfbench: FAILED {self.workload}:{op}: {reason}", flush=True)


def run_entries(run: Run, seconds: float, cdir: Path) -> dict:
    import workloads
    from check import Oracle, check_result

    t_setup, cpu_setup = time.perf_counter(), tree_cpu_s()
    import __spark_entry__ as entrymod
    from rag_database_spark.session import get_spark

    spark = get_spark("perfbench")
    t_spark = time.perf_counter()
    tracer = None
    try:
        qs = entrymod.queries()
        sqls = entrymod.oracle_sql()
        if run.traced:
            from tracing import Tracer

            tracer = Tracer(spark, run.workload)
            tracer.install([entrymod])
        timed = list(workloads.TIMED[run.workload])
        rng = random.Random(run.seed)
        ops = {n: {"lat": [], "cpu": [], "build": [], "exec": [], "layers": []} for n in timed}
        prev_df: dict[str, object] = {}
        cache = [0, 0]  # plan-cache hits, successive builds
        # the traced run's extra planning, wall and CPU seconds: not in a pass
        replan = [0.0, 0.0]

        def execute(name: str, rec: dict | None) -> bool:
            """Build one entry and run it to the ``noop`` sink; record
            the sample unless ``rec`` is None (the warm-up pass)."""
            run.attempted += 1
            try:
                if tracer:
                    with tracer.operation(name) as layer:
                        c0, t0 = tree_cpu_s(), time.perf_counter()
                        df = qs[name](spark, str(cdir))
                        t1, c1 = time.perf_counter(), tree_cpu_s()
                        layer["build_jobs"] = tracer.jobs_so_far()
                        df.select("*")._jdf.queryExecution().executedPlan()
                        t2, c2 = time.perf_counter(), tree_cpu_s()
                        df.write.format("noop").mode("overwrite").save()
                        t3, c3 = time.perf_counter(), tree_cpu_s()
                    layer["plan_s"] = t2 - t1
                    replan[0] += t2 - t1
                    replan[1] += c2 - c1
                    build, ex, cpu = t1 - t0, t3 - t2, c3 - c0 - (c2 - c1)
                else:
                    c0, t0 = tree_cpu_s(), time.perf_counter()
                    df = qs[name](spark, str(cdir))
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    build, ex = t1 - t0, time.perf_counter() - t1
                    cpu = tree_cpu_s() - c0
            except Exception as e:  # an entry that raises is a failed operation
                run.fail(name, error_line(e))
                return False
            if rec is not None:
                if name in prev_df:
                    cache[1] += 1
                    cache[0] += prev_df[name] is df
                rec["lat"].append(build + ex)
                rec["cpu"].append(cpu)
                rec["build"].append(build)
                rec["exec"].append(ex)
                if tracer:
                    rec["layers"].append(layer)
            prev_df[name] = df
            return True

        # one untimed warm-up pass, as bench.py makes: codegen, JIT and the
        # plan cache fill here, not in the timed passes. With the driver
        # JVM on C1 (``pin_environment``), a second one took no longer
        # than the timed passes after it
        order = timed[:]
        rng.shuffle(order)
        ok = [n for n in order if execute(n, None)]
        if not ok:
            raise RuntimeError(f"every timed {run.workload} entry failed its warm-up run")
        setup_wall = time.perf_counter() - t_setup
        setup_s = tree_cpu_s() - cpu_setup
        run.detail["setup_wall_s"] = {"session": t_spark - t_setup,
                                      "warmup": setup_wall - (t_spark - t_setup)}
        ratio = artifact_ratio(cdir)
        if tracer:
            tracer.reset()

        pass_cpu: list[float] = []
        pass_steal: list[float] = []  # CPU seconds the host stole, all cores

        def one_pass(_: int) -> float:
            order = ok[:]
            rng.shuffle(order)
            tp, cp, replan0 = time.perf_counter(), tree_cpu_s(), replan[:]
            steal0 = host_load()["steal_s"]
            for name in order:
                execute(name, ops[name])
            pass_cpu.append(tree_cpu_s() - cp - (replan[1] - replan0[1]))
            pass_steal.append(host_load()["steal_s"] - steal0)
            return time.perf_counter() - tp - (replan[0] - replan0[0])

        t_start = time.perf_counter()
        pass_s = closed_loop(one_pass, seconds, MIN_PASSES)
        run.detail["measured_s"] = time.perf_counter() - t_start
        run.rss.stop()
        oracle = Oracle(cdir, WORK / "oracle-cache.json")
        layers = None
        if tracer:
            layers = trace_layers(run, tracer, ops, pass_s, pass_cpu, tuple(cache), execute,
                                  spark, cdir, oracle, sqls)

        # untimed output checks: the DataFrame each timed entry returned
        # in the last timed pass, and a rotation over the rest of the class
        rotated = workloads.rotation(run.workload, run.seed)
        for name in ok + rotated:
            run.attempted += 1
            try:
                df = prev_df[name] if name in ok else qs[name](spark, str(cdir))
                rows = [tuple(r) for r in df.collect()]
            except Exception as e:  # an entry that raises is a failed operation
                run.fail(name, error_line(e))
                continue
            reason = check_result(df.columns, rows, sqls.get(name), oracle)
            if reason:
                run.fail(name, reason)
        oracle.close()
    finally:
        if tracer:
            tracer.uninstall()
        stop_spark(spark)

    cpus = [x for r in ops.values() for x in r["cpu"]]
    run.detail.update({
        "timed_entries": timed, "rotated_entries": rotated,
        "passes_wall_s": pass_s, "passes_cpu_s": pass_cpu, "passes_steal_s": pass_steal,
        "timed_share": workloads.time_share(run.workload, timed),
        "samples": len(cpus),
        "per_entry": {n: {k: r[k] for k in ("lat", "cpu", "build", "exec")}
                      for n, r in ops.items()},
    })
    e2e = {
        "setup_s": setup_s,
        "pass_cpu_s": statistics.median(pass_cpu),
        "entry_cpu_p50_s": statistics.median(cpus),
        "entry_cpu_tail_s": slowest({n: r["cpu"] for n, r in ops.items()}),
        "index_bytes_per_input_byte": ratio,
    }
    return {"e2e": e2e, "layers": layers}


def trace_layers(run: Run, tracer, ops: dict, pass_s: list[float], pass_cpu: list[float],
                 cache: tuple[int, int], execute, spark, cdir: Path, oracle,
                 sqls: dict) -> dict:
    """The traced run after its timed passes: one traced pass over the
    class's coverage entries, then the workload's part of the
    index-write layer; returns every per-layer metric."""
    import indexes
    import workloads
    from check import check_result
    from tracing import layer_metrics

    timed_spans = (dict(tracer.self_s), dict(tracer.calls))
    tracer.reset()
    cover = {n: {"lat": [], "cpu": [], "build": [], "exec": [], "layers": []}
             for n in workloads.COVERAGE[run.workload]}
    for name in cover:
        execute(name, cover[name])
    tracer.uninstall()
    layers = layer_metrics(tracer, ops, pass_s, pass_cpu, cache, timed_spans, cover)
    run.detail["module_tags"] = {n: sorted(tracer.op_modules[n]) for n in [*ops, *cover]}
    run.detail["layers_per_entry"] = {
        n: [{**lay, "job_modules": dict(lay["job_modules"])} for lay in r["layers"]]
        for n, r in {**ops, **cover}.items()
    }

    def pair_check(columns, rows):
        return check_result(columns, rows, sqls["near_dup_pairs"], oracle)

    run.attempted += len(indexes.INDEXES[run.workload])
    try:
        index_metrics, failures = indexes.build_and_check(
            spark, run.workload, cdir, WORK / "index-layer", run.seed, pair_check)
    except Exception as e:  # a write that raises fails the layer
        index_metrics, failures = {}, [("layer", error_line(e))]
    layers.update(index_metrics)
    for index, reason in failures:
        run.fail(f"index.{index}", reason)
    return layers


# -- main -------------------------------------------------------------------
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warm", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not program_present():
        log(f"no program to benchmark under {ROOT} "
            "(expected __spark_entry__.py and rag_database_spark/)")
        return 2
    env = pin_environment()
    if args.warm:
        return warm()
    if args.workload is None:
        ap.error("--workload is required")
    load_start = host_load()
    cdir = ensure_warm()
    rss = PeakRss()
    rss.start()
    run = Run(args.workload, args.seed, bool(args.trace), rss)
    try:
        res = run_entries(run, args.seconds, cdir)
    finally:
        peak_mb = rss.stop()
    res["e2e"]["peak_rss_mb"] = peak_mb
    run.detail.update({
        "env": env, "host_start": load_start, "host_end": host_load(),
        "end_to_end": res["e2e"], "per_layer": res["layers"], "failures": run.failures,
    })
    trace_file = WORK / f"trace-{args.workload}-{args.seed}-{args.trace}.json"
    trace_file.write_text(json.dumps(run.detail, indent=1, default=str))
    end = run.detail["host_end"]
    log(f"loadavg {load_start['loadavg']} -> {end['loadavg']}, "
        f"{end['steal_s'] - load_start['steal_s']:.1f}s stolen; detail in {trace_file}")
    if args.trace:
        from tracing import layer_unit

        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in res["e2e"].items()}
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
