"""Per-layer tracing for the traced benchmark run.

Everything here sits in the benchmark's own files: the program is
traced from outside, by wrapping the public functions of its modules
and by reading Spark's own status stores after each operation.

- ``Tracer.install`` replaces every public function of the operator,
  function, source and streaming modules (and every module global that
  imported one by name) with a wrapper that records a span: self time
  per function, and the Spark jobs launched inside the call, found by
  the job description the wrapper sets (``<workload>:<op>:<module.fn>``).
- ``Tracer.operation`` runs one benchmark operation under its own job
  group and afterwards reads the jobs' stage metrics from the
  application status store and the executed plans' operator metrics
  from the SQL status store.

A wrapper pickled into a Python worker (a UDF body that names a wrapped
function) finds no active tracer there and calls straight through.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import re
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

_MODNAME = __name__
_ACTIVE = None  # the installed Tracer, read by the wrappers

# module -> layer name; operators keep their bare names
MODULES = {
    **{f"rag_database_spark.operators.{m}": m for m in (
        "bm25", "bpe", "chunking", "classifier", "clustering", "dedup",
        "diversify", "domain_metadata", "evaluation", "filters", "fusion",
        "graph", "hybrid", "lifecycle", "multimodal", "packing", "pq",
        "query_analysis", "redaction", "relational", "similarity", "skew",
        "tables_extract", "text_analytics",
    )},
    **{f"rag_database_spark.functions.{m}": f"functions.{m}" for m in (
        "embedder", "exact", "quality", "text", "vector",
    )},
    "rag_database_spark.streaming.events": "streaming.events",
    "rag_database_spark.sources.tables": "sources",
}
MODULE_LAYERS = sorted(v for v in MODULES.values() if v != "sources")

EXEC_KEYS = ("exec_s", "jobs", "stages", "tasks", "task_cpu_s",
             "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes")
OP_KEYS = ("exchange.count", "exchange.bytes", "python_udf.count",
           "python_udf.rows", "scan.rows", "join.count", "window.count")

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """Parse a formatted SQL metric: ``1,234``, ``12.0 KiB`` or the
    multi-line ``total (min, med, max ...)\\n12.0 KiB (...)`` form."""
    lines = text.strip().splitlines()
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _traced(fn, layer: str, name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        tracer = getattr(sys.modules.get(_MODNAME), "_ACTIVE", None)
        if tracer is None:
            return fn(*args, **kwargs)
        return tracer.call(layer, name, fn, args, kwargs)

    return traced


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.last_execution = self._newest_execution()
        self.op: str | None = None
        self.stack: list[list] = []  # [start, child_seconds]
        self.counter = 0
        self.restore: list[tuple[object, str, object]] = []
        self.desc_module: dict[str, str] = {}  # job description -> module
        # per ``module.fn`` totals; the caller clears them between phases
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.op_modules: dict[str, set[str]] = defaultdict(set)

    def reset(self) -> None:
        self.self_s.clear()
        self.calls.clear()

    # -- wrapping ---------------------------------------------------------
    def install(self, extra_namespaces=()) -> None:
        global _ACTIVE
        wrappers: dict[int, object] = {}
        for modname, layer in MODULES.items():
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(obj)
                    or obj.__module__ != modname
                    or hasattr(obj, "evalType")  # a pandas UDF
                ):
                    continue
                wrappers[id(obj)] = _traced(obj, layer, name)
                self._rebind(vars(mod), name, wrappers[id(obj)])
        # rebind names imported with ``from module import fn``
        spaces = [vars(m) for n, m in list(sys.modules.items())
                  if n.startswith("rag_database_spark") and m is not None]
        for space in spaces + [vars(ns) for ns in extra_namespaces]:
            for name, obj in list(space.items()):
                if id(obj) in wrappers:
                    self._rebind(space, name, wrappers[id(obj)])
        _ACTIVE = self

    def _rebind(self, space: dict, name: str, value) -> None:
        self.restore.append((space, name, space[name]))
        space[name] = value

    def uninstall(self) -> None:
        global _ACTIVE
        _ACTIVE = None
        for space, name, old in reversed(self.restore):
            space[name] = old
        self.restore.clear()

    def call(self, layer: str, name: str, fn, args, kwargs):
        label = f"{layer}.{name}"
        if self.op is not None:
            self.op_modules[self.op].add(layer)
        desc = f"{self.workload}:{self.op}:{label}"
        self.desc_module[desc] = layer
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(desc)
        frame = [time.perf_counter(), 0.0]
        self.stack.append(frame)
        try:
            return fn(*args, **kwargs)
        finally:
            self.stack.pop()
            dt = time.perf_counter() - frame[0]
            self.self_s[label] += dt - frame[1]
            self.calls[label] += 1
            if self.stack:
                self.stack[-1][1] += dt
            self.sc.setJobDescription(prev_desc)

    # -- per-operation status readout --------------------------------------
    @contextmanager
    def operation(self, name: str):
        """Run one benchmark operation under its own job group; yields a
        dict that holds the job and operator metrics on exit."""
        self.counter += 1
        group = f"perfbench-{self.counter}"
        self.op = name
        self.sc.setJobGroup(group, f"{self.workload}:{name}")
        out: dict = {}
        try:
            yield out
        finally:
            self.op = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setJobDescription(None)
            out.update(self._jobs(group))
            out["op"] = self._operators()

    def jobs_so_far(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{self.counter}"))

    def _jobs(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        res = dict.fromkeys(EXEC_KEYS[1:], 0)
        res["job_modules"] = defaultdict(int)
        seen: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            res["jobs"] += 1
            desc = self.store.job(job_id).description()
            module = self.desc_module.get(desc.get() if desc.isDefined() else "")
            if module:
                res["job_modules"][module] += 1
            info = tracker.getJobInfo(job_id)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # evicted from the store: no metrics left
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                res["stages"] += 1
                res["tasks"] += sd.numTasks()
                res["task_cpu_s"] += sd.executorCpuTime() / 1e9
                res["input_bytes"] += sd.inputBytes()
                res["shuffle_read_bytes"] += sd.shuffleReadBytes()
                res["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                res["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return res

    def _newest_execution(self) -> int:
        execs = self.sql_store.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def _operators(self) -> dict:
        """Operator counts and metrics of the SQL executions since the
        previous call, newest first until an already seen one."""
        ops = dict.fromkeys(OP_KEYS, 0.0)
        execs = self.sql_store.executionsList()
        newest = self.last_execution
        for i in range(execs.size() - 1, -1, -1):
            eid = execs.apply(i).executionId()
            if eid <= self.last_execution:
                break
            newest = max(newest, eid)
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                metrics = {}
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = metric_value(v.get())
                _count_node(node.name(), metrics, ops)
        self.last_execution = newest
        return ops


def _count_node(name: str, metrics: dict, ops: dict) -> None:
    rows = metrics.get("number of output rows", 0.0)
    if name.endswith("Exchange"):
        ops["exchange.count"] += 1
        # shuffle bytes only: a broadcast's "data size" is the size of
        # the built relation's allocation, not bytes moved
        ops["exchange.bytes"] += metrics.get("shuffle bytes written", 0.0)
    if "Python" in name or "Pandas" in name or "InArrow" in name:
        ops["python_udf.count"] += 1
        ops["python_udf.rows"] += rows
    if name.startswith("Scan") or name.endswith("TableScan"):
        ops["scan.rows"] += rows
    if "Join" in name or name == "CartesianProduct":
        ops["join.count"] += 1
    if name.startswith("Window"):
        ops["window.count"] += 1


# -- per-layer metric names and their values from a traced run -------------
def layer_names() -> list[str]:
    from indexes import layer_names as index_names

    names = ["entry.build_s", "entry.build_jobs", "entry.plan_cache_hit_frac",
             "sources.load_table_calls", "sources.load_table_s", "planner.plan_s"]
    names += [f"exec.{k}" for k in EXEC_KEYS] + ["exec.cpu_util"]
    names += [f"op.{k}" for k in OP_KEYS]
    for m in MODULE_LAYERS:
        names += [f"{m}.entry_s", f"{m}.build_s", f"{m}.eager_jobs"]
    return names + index_names() + ["trace.pass_s", "trace.pass_cpu_s"]


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("_frac", "cpu_util")):
        return "ratio"
    return "count"


def layer_metrics(tracer: Tracer, ops: dict[str, dict], pass_s: list[float],
                  pass_cpu: list[float], cache: tuple[int, int],
                  timed_spans: tuple[dict, dict], cover: dict[str, dict]) -> dict:
    """Per-layer values of a traced run.

    ``ops`` maps each timed entry to its samples: ``lat``, ``build`` and
    ``exec`` seconds and ``layers`` (the dicts ``Tracer.operation``
    filled, plus ``build_jobs`` and ``plan_s``); ``cover`` holds the same
    for the one pass over the coverage entries. ``cache`` is (plan-cache
    hits, successive builds); ``timed_spans`` the tracer's (self seconds,
    calls) per function over the timed passes, while the tracer itself
    holds those of the coverage pass.

    The entry, sources, planner, exec and op layers are per timed pass.
    The module layers are per traced pass: a timed pass plus the
    coverage pass, so that every module the class reaches shows."""
    npass = len(pass_s)
    cores = tracer.sc.defaultParallelism
    out = dict.fromkeys(layer_names(), 0.0)
    samples = [lay for r in ops.values() for lay in r["layers"]]
    cover_samples = [lay for r in cover.values() for lay in r["layers"]]
    self_s, calls = timed_spans

    def per_pass(values) -> float:
        return sum(values) / npass

    def module_self_s(spans: dict, module: str) -> float:
        return sum(v for k, v in spans.items() if k.rsplit(".", 1)[0] == module)

    out["entry.build_s"] = per_pass(x for r in ops.values() for x in r["build"])
    out["entry.build_jobs"] = per_pass(lay["build_jobs"] for lay in samples)
    hits, tries = cache
    out["entry.plan_cache_hit_frac"] = hits / tries if tries else 0.0
    out["sources.load_table_calls"] = calls.get("sources.load_table", 0) / npass
    out["sources.load_table_s"] = self_s.get("sources.load_table", 0.0) / npass
    out["planner.plan_s"] = per_pass(lay["plan_s"] for lay in samples)
    out["exec.exec_s"] = per_pass(x for r in ops.values() for x in r["exec"])
    for k in EXEC_KEYS[1:]:
        out[f"exec.{k}"] = per_pass(lay[k] for lay in samples)
    out["exec.jobs"] -= out["entry.build_jobs"]
    out["exec.cpu_util"] = out["exec.task_cpu_s"] / (statistics.mean(pass_s) * cores)
    for k in OP_KEYS:
        out[f"op.{k}"] = per_pass(lay["op"][k] for lay in samples)
    for m in MODULE_LAYERS:
        out[f"{m}.entry_s"] = sum(
            statistics.median(r["lat"]) for name, r in {**ops, **cover}.items()
            if r["lat"] and m in tracer.op_modules.get(name, ())
        )
        out[f"{m}.build_s"] = (module_self_s(self_s, m) / npass
                               + module_self_s(tracer.self_s, m))
        out[f"{m}.eager_jobs"] = (per_pass(lay["job_modules"].get(m, 0) for lay in samples)
                                  + sum(lay["job_modules"].get(m, 0) for lay in cover_samples))
    out["trace.pass_s"] = statistics.median(pass_s)
    out["trace.pass_cpu_s"] = statistics.median(pass_cpu)
    return out
