"""SparkSession factory tuned for this engine.

Defaults target the driver harness (single JVM, ``local[$SPARK_GRAFT_CPUS]``)
but every knob is chosen to also be the right call on a real cluster:

- AQE on (runtime coalesce, broadcast conversion, skew-join splitting) —
  at 100 TB the static plan is always wrong somewhere; AQE repairs it.
- two shuffle widths, one per kind of plan. Batch plans run with AQE,
  whose exchanges start at ``coalescePartitions.initialPartitionNum`` =
  ``max(cpus, 8)`` and are coalesced at runtime. Streams run without
  AQE (Spark disables it for stateful queries) and read
  ``spark.sql.shuffle.partitions`` = ``cpus``, which the first batch
  freezes into the checkpoint as the number of state partitions. Each
  state partition pays a fixed cost per micro-batch (load the store,
  write and commit a delta file), so one wave of cores is the cheapest
  width locally. A restarted stream keeps the count its checkpoint
  recorded.
- Arrow on for any pandas_udf / toPandas hop.
- session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (and are deployment-independent).
- driver heap a quarter of physical memory (host RAM or the cgroup
  limit, whichever is lower), capped at 16g, so the one local JVM cannot
  outgrow its machine (``SPARK_GRAFT_DRIVER_MEM`` overrides).
- the package's parent directory on the Python workers' ``PYTHONPATH``,
  so engine code shipped into UDFs imports from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "bigdataamazon-spark"


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


def physical_memory_bytes() -> int:
    """Host RAM, or this process's cgroup memory limit if that is lower."""
    limits = [os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")]
    for path in _CGROUP_LIMITS:
        try:
            with open(path) as f:
                limits.append(int(f.read()))
        except (OSError, ValueError):  # absent, unreadable, or "max"
            pass
    return min(limits)


def default_driver_memory() -> str:
    """A quarter of physical memory, capped at 16g."""
    return f"{min(physical_memory_bytes() // 4, 16 << 30) >> 20}m"


def _export_package_path() -> None:
    """Python workers inherit the JVM's environment, not ``sys.path``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])


def get_spark(app_name: str = DEFAULT_APP_NAME, *, ui: bool = False) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = cpu_count()
    _export_package_path()  # before getOrCreate launches the JVM
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(cpus, 8)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode = driver IS the executor: every task thread shares
        # this heap, and persisted blocks live in it too. 8g showed
        # GC-driven timing outliers under memory-heavy text queries on a
        # 128 GB box; a fixed 16g got the JVM OOM-killed on a 16 GB one.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "true" if ui else "false")
        # testdata parquet files are single small files; keep splits sane
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
