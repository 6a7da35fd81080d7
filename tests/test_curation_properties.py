"""Randomized property tests for the curation and sketch
primitives, in the repo's one-job style: generate hundreds of seeded
random cases, run ONE Spark job, compare against a pure-Python spec."""

import random

from pyspark.sql import functions as F

from datafusion_monoid_spark.operators import curation as cu
from datafusion_monoid_spark.operators.sketch import hist_bin

RNG = random.Random(0xC0FFEE)


def test_micro_ratio_equals_integer_spec(spark):
    cases = [(RNG.randint(0, 10**6), RNG.randint(1, 10**6)) for _ in range(500)]
    df = spark.createDataFrame(cases, "a long, b long")
    got = [r.m for r in
           df.select(cu.micro_ratio(F.col("a"), F.col("b")).alias("m"))
             .collect()]
    # exact floor division of the rational a*1e6/b, always
    assert got == [a * 1_000_000 // b for a, b in cases]


def test_hist_bin_clamp_spec(spark):
    lo, hi, bins = -50.0, 150.0, 32
    vals = [RNG.uniform(-200, 300) for _ in range(400)] + [lo, hi, -1e9, 1e9]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r.b for r in
           df.select(hist_bin(F.col("v"), lo, hi, bins).alias("b")).collect()]
    import math
    want = [min(max(math.floor((v - lo) * bins / (hi - lo)), 0), bins - 1)
            for v in vals]
    assert got == want
