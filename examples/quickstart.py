"""Quickstart: what a user of the reference engine runs after switching.

    python examples/quickstart.py [sf_dir]

Walks the engine surface end to end: the reference's own SQL entry
point, the routed form of the same SQL text, and the expression and
posexplode array_reduce forms on real data.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from datafusion_monoid_spark import (
    array_reduce,
    array_reduce_exploded,
    get_spark,
    register_all,
)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark("quickstart")
    register_all(spark)

    # 1. The reference's verbatim entry point (src/monoid.rs:568-571)
    spark.createDataFrame([([1, 2, 3],), ([4, 5, 6],)], "arrays array<int>") \
        .createOrReplaceTempView("test")
    print("reference query:")
    spark.sql("SELECT array_reduce_sum(arrays) AS result FROM test").show()

    # 1b. The same SQL on an UNBOUNDED group: route it (the registered
    # name is a Complete-mode Arrow UDAF that folds each whole group in
    # one Python worker, guarded past 1M rows per group; the router
    # executes the identical statement as a partial-agg plan)
    from datafusion_monoid_spark.sql_route import route_monoid_sql
    print("routed form (same SQL text, partial-agg plan):")
    route_monoid_sql(
        spark, "SELECT array_reduce_sum(arrays) AS result FROM test").show()

    # 2. Expression form on real data: per-returnflag vector sums
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    vecs = li.select("l_returnflag",
                     F.array("l_quantity", "l_extendedprice").alias("v"))
    print("expression form (grouped):")
    vecs.groupBy("l_returnflag") \
        .agg(array_reduce("v", "sum", "double").alias("result")) \
        .orderBy("l_returnflag").show(truncate=False)

    # 3. The 100 TB form: posexplode two-phase
    print("posexplode form (same result):")
    array_reduce_exploded(vecs, ["l_returnflag"], "v", "sum", "double") \
        .orderBy("l_returnflag").show(truncate=False)

    spark.stop()


if __name__ == "__main__":
    main()
