"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: every CPU
of the machine) with a driver heap of ``$SPARK_GRAFT_DRIVER_MEM``
(default: half its physical memory); the other configs are what we would
set on a real cluster:

* AQE on (runtime re-planning, skew-join handling, partition coalescing)
* Arrow on (vectorized pandas-UDF exchange)
* shuffle partitions sized to the parallelism (local) — on a 1000-executor
  cluster this would instead be ~2-3x total cores or left to AQE's
  coalescing with a high initial value.
* UTC session timezone so timestamps compare exactly against the DuckDB
  oracle (duckdb timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def _half_of_ram() -> str:
    """Half the machine's physical memory, in whole GiB (at least 1)."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 2**31)}g"


def get_spark(app_name: str = "datafusion-monoid-spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    return (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode = one JVM doing driver AND executor work: size the
        # heap to the box, leaving the rest to Python workers and the OS;
        # on a real cluster this is spark.executor.memory
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _half_of_ram())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        .getOrCreate()
    )
