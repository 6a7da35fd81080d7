"""Builders only build.

Constructing any monoid-reduce entry point -- the expression form, the
posexplode form for every aggregate shape, the routed SQL form and the
stream -- must run no Spark job, persist nothing and leave the session
conf as it was.  All of that waits for the caller's own action.
"""

from __future__ import annotations

import uuid
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators.array_reduce import (
    array_reduce,
    array_reduce_exploded,
)
from datafusion_monoid_spark.sql_route import route_monoid_sql
from datafusion_monoid_spark.streaming.monoid_stream import (
    streaming_monoid_reduce,
)


@pytest.fixture(scope="module")
def src(spark):
    rows = [("a", [1, 2, 3], [Decimal(2), Decimal(3)]),
            ("a", [4, None], [Decimal(5), None]),
            ("b", None, []),
            ("b", [7], [Decimal(2**40)])]
    df = spark.createDataFrame(
        rows, "g string, arr array<bigint>, uarr array<decimal(20,0)>")
    df.createOrReplaceTempView("__lazy_src")
    return df


@pytest.fixture(scope="module")
def events(spark):
    return spark.createDataFrame(
        [("2024-01-01 00:10:00", "click", 1.5),
         ("2024-01-01 00:20:00", "view", 2.0)],
        "ts string, event_type string, value double",
    ).select(F.col("ts").cast("timestamp").alias("event_time"),
             "event_type", "value")


BUILDERS = {
    "array_reduce": lambda spark, df, ev: df.groupBy("g").agg(
        array_reduce("arr", "sum", "bigint").alias("r")),
    **{f"exploded_{op}": (lambda op: lambda spark, df, ev:
                          array_reduce_exploded(df, ["g"], "arr", op,
                                                "bigint"))(op)
       for op in ("sum", "max", "min", "product")},
    "exploded_uint64_product": lambda spark, df, ev: array_reduce_exploded(
        df, ["g"], "uarr", "product", "uint64"),
    "route_monoid_sql": lambda spark, df, ev: route_monoid_sql(
        spark, "SELECT g, array_reduce_product(arr) AS r "
               "FROM __lazy_src GROUP BY g", "bigint"),
    "streaming_monoid_reduce": lambda spark, df, ev:
        streaming_monoid_reduce(ev, "sum"),
}


@pytest.mark.parametrize("name", list(BUILDERS))
def test_builder_runs_no_job_and_touches_no_state(spark, src, events, name):
    sc = spark.sparkContext
    jsc = sc._jsc
    group = f"lazy-build-{uuid.uuid4()}"
    conf = dict(spark.conf.getAll)
    persisted = jsc.getPersistentRDDs().size()
    sc.setJobGroup(group, name)
    try:
        out = BUILDERS[name](spark, src, events)
    finally:
        jsc.clearJobGroup()
    jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert jsc.getPersistentRDDs().size() == persisted
    assert dict(spark.conf.getAll) == conf
    assert out.columns                # it did build a DataFrame
