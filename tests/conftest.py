"""Shared Spark fixture for the unit suite.

One session for the whole run (JVM startup dominates otherwise). Small
parallelism: the unit tests work on hand-built frames of < 100 rows, so
local[4] / 4 shuffle partitions keeps the suite fast while still
exercising multi-partition code paths (partial top-k, map-side combine).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
# The suite's hand-built frames need little heap, and get_spark's
# default (half the host's memory) leaves less room for the Python
# workers beside it. 4g is perfbench's ceiling too (perfbench/run.py).
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from rag_database_spark.session import get_spark

    s = get_spark("unit-tests", shuffle_partitions=4)
    yield s
