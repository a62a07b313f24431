"""SparkSession factory.

Local test mode runs ``local[$SPARK_GRAFT_CPUS]`` in one JVM; on a real
cluster the same configs apply per-executor. Scale-relevant choices:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) —
  at 100 TB the static ``spark.sql.shuffle.partitions`` is only a ceiling;
  AQE right-sizes each exchange from observed map output.
- Arrow on — every Pandas-UDF boundary (embedding, MaxSim, chunkers)
  transfers columnar batches, not pickled rows.
- UTC session timezone — parquet timestamps compare bit-identically with
  the DuckDB oracle.
- Python workers fork from ``pyworker`` (``spark.python.daemon.module``):
  PySpark invalidates import caches on every task, and before CPython
  3.13 that re-parses ``pyspark.zip``'s directory once per importer, about
  0.15-0.2 s of worker CPU per Arrow task. Its guard is exact for
  archives that change: a zip whose mtime or size moved is re-read. The
  checkout root goes on the executors' PYTHONPATH so the daemon (and the
  UDF modules, pickled by reference) resolve from any working directory.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

from rag_database_spark import pyworker

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
MAX_DRIVER_MEM_MB = 48 * 1024


def default_driver_memory() -> str:
    """Half the host's physical memory, at most 48g: a heap larger
    than the machine is never collected before the kernel kills the
    JVM. ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(MAX_DRIVER_MEM_MB, phys_mb // 2)}m"


def get_spark(
    app_name: str = "rag_database_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    On a cluster, drop the ``master`` override and submit with
    ``spark-submit --master yarn|k8s`` — everything else carries over.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    root = Path(__file__).resolve().parent.parent
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata writes TIMESTAMP(NANOS) parquet; read as long
        # and convert at the source (sources.tables.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # The generated-class cache defaults to 100 entries; a workload
        # running 60+ distinct queries interleaved (bench, a real query
        # server) evicts constantly and pays seconds of Janino
        # recompilation PER QUERY PER PASS — measured 2-5× inflation of
        # steady-state times at sf0.1. Static conf: must be set here.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # the catalog's default-database directory lands here instead of
        # the working directory; static conf, so it must be set before
        # the session exists
        .config(
            "spark.sql.warehouse.dir",
            str(root / ".cache" / "warehouse"),
        )
        .config("spark.python.daemon.module", pyworker.__name__)
        .config("spark.executorEnv.PYTHONPATH", str(root))
        .config("spark.ui.enabled", "false")
        # files.maxPartitionBytes default 128m is right for the 100 TB target;
        # local sf tables are single files and AQE coalesces the tail.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
