"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (posexplode monoid reduce over real
parquet); ``queries()`` / ``oracle_sql()`` — the monoid catalog's entries
and their DuckDB oracles (see ``datafusion_monoid_spark/queries.py``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from datafusion_monoid_spark import queries as _q
from datafusion_monoid_spark.operators.array_reduce import register_all


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: element-wise monoid sum of per-row lineitem vectors per
    returnflag — the reference's centerpiece UDAF (src/monoid.rs:226-332)
    in its 100 TB-scalable posexplode form, on sf0.001 parquet."""
    register_all(spark)
    fn, _ = _q.catalog()["monoid_sum_double"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _q.catalog().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _q.catalog().items() if sql is not None}
