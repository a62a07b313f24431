"""The benchmark's own checks; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent
sys.path[:0] = [str(BENCH), str(BENCH.parent)]

import __spark_entry__ as entrymod  # noqa: E402
import corpus  # noqa: E402
import workloads  # noqa: E402
from common import slowest  # noqa: E402
from tracing import layer_names, layer_unit, metric_value  # noqa: E402


def test_every_entry_belongs_to_exactly_one_workload():
    names = set(entrymod.queries())
    search, corpus_cls = set(workloads.SEARCH), set(workloads.CORPUS)
    assert not search & corpus_cls, f"in both: {sorted(search & corpus_cls)}"
    assert not names - search - corpus_cls, f"unassigned: {sorted(names - search - corpus_cls)}"
    assert not (search | corpus_cls) - names, f"not registered: {sorted((search | corpus_cls) - names)}"
    assert len(workloads.SEARCH) == len(search) and len(workloads.CORPUS) == len(corpus_cls)


def test_survey_lists_every_registered_entry():
    assert set(workloads.SECONDS) == set(entrymod.queries())


def test_timed_sets_follow_the_survey():
    for w, timed in workloads.TIMED.items():
        assert set(timed) <= set(workloads.CLASSES[w])
        assert timed[: len(workloads.ANCHORS[w])] == workloads.ANCHORS[w]
        assert sum(workloads.SECONDS[n] for n in timed) <= workloads.PASS_BUDGET_S
        # greedy from the heaviest down: nothing left out would still fit
        spare = workloads.PASS_BUDGET_S - sum(workloads.SECONDS[n] for n in timed)
        assert all(workloads.SECONDS[n] > spare
                   for n in workloads.CLASSES[w] if n not in timed)


def test_traced_pass_reaches_every_module_of_the_class():
    for w, cls in workloads.CLASSES.items():
        reached = set().union(*(workloads.MODULES[n] for n in cls))
        traced = workloads.TIMED[w] + workloads.COVERAGE[w]
        assert not set(workloads.TIMED[w]) & set(workloads.COVERAGE[w])
        assert set().union(*(workloads.MODULES[n] for n in traced)) == reached


def test_consecutive_seeds_rotate_through_the_whole_class():
    for w, cls in workloads.CLASSES.items():
        rest = set(cls) - set(workloads.TIMED[w])
        k = workloads.ROTATION[w]
        seen = set()
        for seed in range(-(-len(rest) // k)):
            seen.update(workloads.rotation(w, seed))
        assert seen == rest


def test_layer_metric_names_fit_the_benchmark_file():
    names = layer_names()
    assert len(names) == len(set(names)) <= 128
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
        assert layer_unit(n) in {"s", "bytes", "ratio", "count"}
    declared = json.loads((BENCH.parent / "BENCHMARK.json").read_text())["per_layer"]
    assert [(m["name"], m["unit"]) for m in declared] == [(n, layer_unit(n)) for n in names]


def test_sql_metric_strings_parse():
    assert metric_value("10,841") == 10841
    assert metric_value("5.6 KiB") == 5.6 * 1024
    assert metric_value(
        "total (min, med, max (stageId: taskId))\n1256.0 B (229.0 B, 349.0 B, 379.0 B)"
    ) == 1256.0
    assert metric_value("total (min, med, max)\n2.5 s (1.0 s, 1.2 s, 1.3 s)") == 2.5


def test_slowest_is_the_worst_operation_median():
    assert slowest({"a": [1.0, 9.0, 2.0], "b": [3.0, 3.5], "c": []}) == 3.25


def test_corpus_is_deterministic(tmp_path):
    a = corpus.write_base(tmp_path / "a")
    b = corpus.write_base(tmp_path / "b")
    for t in ("documents", "embeddings", "events", "lineitem"):
        assert pq.read_table(a / f"{t}.parquet").equals(pq.read_table(b / f"{t}.parquet"))
