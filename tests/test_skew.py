"""Runtime skew handling: AQE splits a hot join partition, on a
synthetic join and on the ``skew_aqe_join_deviation`` catalog entry."""

import pytest
from pyspark.sql import functions as F


SF = "/root/testdata/sf0.001"


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The engine's third skew weapon (beside salting and bucketing):
    AQE re-plans the shuffle at RUNTIME, splitting the hot partition
    (SortMergeJoin(skew=true) + AQEShuffleRead 'coalesced and skewed')
    with no query rewrite at all — the zero-effort path at 100 TB."""
    restore = {k: spark.conf.get(k, None) for k in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold")}
    try:
        for k, v in {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }.items():
            spark.conf.set(k, v)
        skewed = spark.range(300_000).select(
            F.when(F.col("id") < 290_000, F.lit(0)).otherwise(F.col("id"))
             .alias("k"),
            F.col("id").alias("v"))
        dim = spark.range(2_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = skewed.join(dim, "k")
        j.foreach(lambda r: None)      # execute THIS plan so AQE finalizes it
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "AQEShuffleRead" in plan
    finally:
        for k, v in restore.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_skew_catalog_entry_splits_and_matches_salted(spark):
    """The CATALOG hot-key join (skew_aqe_join_
    deviation) must show the skew split on the SMJ node in the FINAL
    adaptive plan and return exactly the plain-join results.  The entry
    is self-contained: it runs in its own newSession() with thresholds
    sized to the corpus (no conf juggling here, no leakage to other
    entries) — this test just executes it and inspects the plan."""
    from datafusion_monoid_spark import pipeline_queries as qcat

    cat = qcat.catalog()
    # sf0.01: the hot partition must clear the corpus-scaled threshold
    df = cat["skew_aqe_join_deviation"][0](spark, "/root/testdata/sf0.01")
    aqe_rows = {tuple(r) for r in df.collect()}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
    assert "skewed" in plan        # AQEShuffleRead 'coalesced and skewed'
    # the split must not leak its conf into the parent session
    assert spark.conf.get(
        "spark.sql.adaptive.forceOptimizeSkewedJoin") == "false"
    # plain-SQL ground truth via the shared oracle, computed in DuckDB
    import duckdb
    con = duckdb.connect()
    con.sql("CREATE VIEW events AS FROM "
            "'/root/testdata/sf0.01/events.parquet'")
    plain = {tuple(r) for r in
             con.sql(cat["skew_aqe_join_deviation"][1]).fetchall()}
    con.close()
    assert aqe_rows == plain
