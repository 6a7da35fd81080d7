"""Skew/layout helpers: salted agg correctness, bucketed exchange-free join."""

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators import skew

SF = "/root/testdata/sf0.001"


def test_salted_aggregate_matches_plain(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plain = {r["l_returnflag"]: (round(r["s"], 2), r["c"]) for r in
             li.groupBy("l_returnflag")
             .agg(F.sum("l_quantity").alias("s"), F.count("l_quantity").alias("c"))
             .collect()}
    salted = {r["l_returnflag"]: (round(r["l_quantity_sum"], 2), r["l_quantity_count"]) for r in
              skew.salted_aggregate(li, ["l_returnflag"],
                                    {"l_quantity": "sum"}, n_salts=8)
              .join(
                  skew.salted_aggregate(li, ["l_returnflag"],
                                        {"l_quantity": "count"}, n_salts=8),
                  "l_returnflag")
              .collect()}
    assert salted == plain


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force the issue
    try:
        o = spark.read.parquet(f"{SF}/orders.parquet")
        c = spark.read.parquet(f"{SF}/customer.parquet") \
            .withColumnRenamed("c_custkey", "o_custkey")
        skew.write_bucketed(o, "b_orders", "o_custkey", 4)
        skew.write_bucketed(c, "b_customer", "o_custkey", 4)
        j = skew.bucketed_join(spark, "b_orders", "b_customer", "o_custkey")
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "simple")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan      # co-located: no shuffle at all
        # and it still returns the right rows
        assert j.count() == o.join(c, "o_custkey").count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


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


def test_salted_join_matches_plain_and_spreads_hot_keys(spark):
    """salted_join == plain join row-for-row, AND the physical join keys
    include the salt — so a key owning 97% of the fact spreads over
    n_salts reducers instead of one (the no-single-partition-reducer
    contract)."""
    fact = spark.range(100_000).select(
        F.when(F.col("id") < 97_000, F.lit(0)).otherwise(F.col("id") % 7)
         .alias("k"),
        F.col("id").alias("v"))
    dim = spark.range(7).select(F.col("id").alias("k"),
                                (F.col("id") * 10).alias("w"))

    j = skew.salted_join(fact, dim, "k", n_salts=8, salt_src=F.col("v"))
    plain = fact.join(dim, "k")
    assert j.count() == plain.count() == 100_000
    got = j.groupBy("k").agg(F.sum("w").alias("sw")).collect()
    want = plain.groupBy("k").agg(F.sum("w").alias("sw")).collect()
    assert {(r["k"], r["sw"]) for r in got} == \
        {(r["k"], r["sw"]) for r in want}

    plan = j._jdf.queryExecution().executedPlan().toString()
    # the join operates on (k, __salt): the salt must be a join key and
    # the chosen strategy must not be broadcast (broadcast would erase
    # the demo) — ShuffledHashJoin per the hint
    assert "__salt" in plan
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_salted_join_catalog_plan(spark):
    """The catalog entry's executed plan joins on (event_type, salt) via
    ShuffledHashJoin — every hot event_type spreads over 16 reducers."""
    from datafusion_monoid_spark import pipeline_queries as qcat
    df = qcat.catalog()["skew_salted_join_deviation"][0](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan and "ShuffledHashJoin" in plan


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
