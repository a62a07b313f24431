"""Paths and process helpers shared by the benchmark's modules."""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"


def corpus_dir() -> Path:
    """The corpus directory of this program version. The program keys
    its ``.cache`` artifacts on the corpus directory's name, so a name
    per version (a hash of every program source file, and the corpus
    generator's version) keeps apart the artifacts that different
    versions warmed in one checkout."""
    import corpus

    h = hashlib.sha256()
    for p in [ROOT / "__spark_entry__.py", *sorted((ROOT / "rag_database_spark").rglob("*.py"))]:
        h.update(p.read_bytes())
    return WORK / f"perfbench-corpus-{h.hexdigest()[:16]}-c{corpus.VERSION}"


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds, user and system, that this process and every live
    descendant (driver JVM, Python workers) have used, with the children
    each has reaped. The kernel leaves the time the hypervisor steals out
    of these counters, so they measure the work done, however busy the
    host."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session and its gateway JVM, and wait until every
    process this one started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # anything left (a Python worker the JVM did not take down) gets
    # 20 s, then SIGKILL and 5 s more
    deadline = time.monotonic() + 20
    while (left := descendants(os.getpid())) and time.monotonic() < deadline + 5:
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
        time.sleep(0.1)


def closed_loop(one_pass, seconds: float, min_passes: int) -> list[float]:
    """Run ``one_pass(i)`` back to back (a closed loop: the next pass
    starts when the previous one ends) until another pass would overrun
    ``seconds``, and at least ``min_passes`` times. Returns each pass's
    seconds as ``one_pass`` reports them."""
    pass_s: list[float] = []
    t_start = time.perf_counter()
    while True:
        pass_s.append(one_pass(len(pass_s)))
        elapsed = time.perf_counter() - t_start
        if len(pass_s) >= min_passes and elapsed + statistics.median(pass_s) > seconds:
            return pass_s


def slowest(per_op: dict[str, list[float]]) -> float:
    """The tail latency: the slowest operation's median. A run holds
    9 to 16 samples, too few for any percentile above the median to
    have ten samples beyond it."""
    return max(statistics.median(v) for v in per_op.values() if v)


def error_line(e: Exception) -> str:
    first = (str(e).splitlines() or [""])[0][:200]
    return f"raised {type(e).__name__}: {first}"
