"""Source/sink round-trips: every supported format preserves values;
schema-carrying formats preserve types; lake formats gate cleanly."""

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.sources.io import read_table, write_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def sample(spark):
    return (spark.read.parquet(f"{SF}/orders.parquet")
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
            .orderBy("o_orderkey").limit(200))


def _rows(df):
    return sorted(tuple(r) for r in
                  df.select("o_orderkey", "o_custkey", "o_orderstatus",
                            F.round("o_totalprice", 2).alias("p")).collect())


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_round_trip(spark, sample, tmp_path, fmt):
    path = str(tmp_path / fmt)
    write_table(sample, path, fmt)
    schema = None if fmt in ("parquet", "orc") else sample.schema
    back = read_table(spark, path, fmt, schema=schema)
    assert back.schema == sample.schema
    assert _rows(back) == _rows(sample)


def test_partitioned_write_prunes(spark, sample, tmp_path):
    path = str(tmp_path / "part")
    write_table(sample, path, "parquet", partition_by=["o_orderstatus"])
    back = read_table(spark, path, "parquet").where(F.col("o_orderstatus") == "O")
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted")
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan  # partition pruning hits
    assert back.count() == sample.where("o_orderstatus = 'O'").count()


def test_lake_formats_gate(spark, sample, tmp_path):
    with pytest.raises(NotImplementedError, match="delta"):
        write_table(sample, str(tmp_path / "d"), "delta")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitioned layout: a filter on the partition column
    must prune at PLANNING time (PartitionFilters in the scan, only the
    matching directory read) — the difference between scanning 100 TB
    and scanning one partition."""
    from datafusion_monoid_spark.sources.io import read_table, write_table

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet") \
        .withColumn("status", F.col("o_orderstatus"))
    path = str(tmp_path / "orders_by_status")
    write_table(orders, path, partition_by=["status"])

    back = read_table(spark, path).where(F.col("status") == "F")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(status" in plan

    # pruned read returns exactly the partition's rows
    want = orders.where(F.col("o_orderstatus") == "F").count()
    assert back.count() == want


def test_lake_format_gate_is_honest(spark, tmp_path):
    """The lake-format gate, verified end to end.
    (a) every lake format is gated on BOTH surfaces with an actionable
    message; (b) the gate's CLAIM is true in this environment — going
    around it, Spark itself cannot resolve the DataSource (so the gate
    replaces an obscure classpath error with an actionable one, rather
    than hiding a working path)."""
    from datafusion_monoid_spark.sources.io import (
        LAKE_FORMATS, read_table, write_table)

    sample = spark.range(3).toDF("id")
    for fmt in LAKE_FORMATS:
        with pytest.raises(NotImplementedError, match=f"{fmt}.*classpath"):
            write_table(sample, str(tmp_path / fmt), fmt)
        with pytest.raises(NotImplementedError, match=fmt):
            read_table(spark, str(tmp_path / fmt), fmt)

    # (b) the underlying truth the gate documents
    err = None
    try:
        spark.read.format("delta").load(str(tmp_path / "raw_delta"))
    except Exception as e:  # Py4J-wrapped AnalysisException
        err = str(e)
    assert err is not None and (
        "DATA_SOURCE_NOT_FOUND" in err or "Failed to find" in err), err
