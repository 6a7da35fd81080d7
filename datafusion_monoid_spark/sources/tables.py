"""Loaders for the driver-generated parquet star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}``.

Parquet scans get predicate pushdown + column pruning from Catalyst for
free; at cluster scale these would be partitioned/bucketed datasets, and
the loaders stay the same (``spark.read.parquet`` on a directory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view (the reference's
    ``register_table``, ``src/monoid.rs:565-566``)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
