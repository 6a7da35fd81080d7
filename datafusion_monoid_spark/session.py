"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: every CPU
this process may run on, as ``nproc`` counts them) with a driver heap
of ``$SPARK_GRAFT_DRIVER_MEM`` (default: half the machine's physical
memory); the other configs are what we would set on a real cluster:

* AQE on (runtime re-planning, skew-join handling, partition coalescing)
* Arrow on (vectorized pandas-UDF exchange)
* shuffle partitions sized to the parallelism (local) — on a 1000-executor
  cluster this would instead be ~2-3x total cores or left to AQE's
  coalescing with a high initial value.
* UTC session timezone so timestamps compare exactly against the DuckDB
  oracle (duckdb timestamps are UTC-naive).

The master and the driver heap are fixed when the JVM starts: called
while a session runs, ``get_spark`` returns that session and warns when
either differs from what it would have set.
"""

from __future__ import annotations

import os
import warnings

from pyspark import SparkContext
from pyspark.sql import SparkSession


def _usable_cpus() -> int:
    """The CPUs this process may run on: its affinity mask where the
    platform has one (a container or ``taskset`` narrows it), else every
    CPU of the machine."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or _usable_cpus())


def _half_of_ram() -> str:
    """Half the machine's physical memory, in whole GiB (at least 1)."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 2**31)}g"


def _warn_on_kept_static_confs(static: dict[str, str]) -> None:
    """Warn for each of ``static`` that the running context, which
    ``getOrCreate`` will return, has set otherwise."""
    sc = SparkContext._active_spark_context
    if sc is None:
        return
    running = sc.getConf()
    for key, want in static.items():
        have = running.get(key)
        if have != want:
            warnings.warn(
                f"get_spark: a Spark session is already running, so {key} "
                f"stays {have!r}, not the requested {want!r}; stop the "
                f"session first to apply it", stacklevel=3)


def get_spark(app_name: str = "datafusion-monoid-spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    master = f"local[{cpus}]"
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _half_of_ram()
    _warn_on_kept_static_confs({"spark.master": master,
                                "spark.driver.memory": driver_memory})
    return (
        SparkSession.builder
        .master(master)
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
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        .getOrCreate()
    )
