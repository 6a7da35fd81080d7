"""Edge cases of the SQL text every form renders from.

Group columns whose names need quoting (a keyword, a space, a dot),
crossed with ragged input: arrays of lengths 3 and 5 in either order, a
single array, an array of only NULL elements and only length-1 arrays,
grouped and global.  The expression, posexplode, pandas and routed SQL
forms must return the same rows.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators.array_reduce import (
    array_reduce,
    array_reduce_exploded,
    array_reduce_pandas,
    quote,
)
from datafusion_monoid_spark.sql_route import route_monoid_sql

CASES = {
    "len3_then_5": [[1, -2, 3], [4, 5, -6, 7, 8]],
    "len5_then_3": [[4, 5, -6, 7, 8], [1, -2, 3]],
    "single": [[9, -9, 3]],
    "null_elems": [[None, None]],
    "len1": [[2], [-3], [5]],
}
OPS = ("sum", "product", "max", "min")


def _forms(spark, df, groups, op):
    """{form: {group key: result}} for the four entry points."""
    df.createOrReplaceTempView("__edges")
    sel = "".join(f"{quote(g)}, " for g in groups)
    gb = f" GROUP BY {', '.join(map(quote, groups))}" if groups else ""
    sql = (f"SELECT {sel}array_reduce_{op}_bigint(arr) AS result "
           f"FROM __edges{gb}")
    outs = {
        "expr": df.groupBy(*map(quote, groups)).agg(
            array_reduce("arr", op, "bigint").alias("result")),
        "exploded": array_reduce_exploded(df, groups, "arr", op, "bigint"),
        "pandas": array_reduce_pandas(df, groups, "arr", op, "bigint"),
        "routed": route_monoid_sql(spark, sql),
    }
    res = {}
    for form, out in outs.items():
        assert out.columns == [*groups, "result"], (form, out.columns)
        res[form] = {tuple(r[g] for g in groups): r["result"]
                     for r in out.collect()}
    spark.catalog.dropTempView("__edges")
    return res


@pytest.mark.parametrize("op", OPS)
@pytest.mark.parametrize("gcol", ["group", "a b", "x.y"])
def test_quoted_group_columns_all_forms_agree(spark, gcol, op):
    rows = [(case, arr) for case, arrs in CASES.items() for arr in arrs]
    df = spark.createDataFrame(rows, f"{quote(gcol)} string, "
                                     "arr array<bigint>")
    res = _forms(spark, df, [gcol], op)
    assert set(res["expr"]) == {(c,) for c in CASES}
    for form in ("exploded", "pandas", "routed"):
        assert res[form] == res["expr"], form


@pytest.mark.parametrize("op", OPS)
@pytest.mark.parametrize("case", list(CASES))
def test_global_form_all_forms_agree(spark, case, op):
    df = spark.createDataFrame([(a,) for a in CASES[case]],
                               "arr array<bigint>")
    res = _forms(spark, df, [], op)
    assert len(res["expr"]) == 1
    for form in ("exploded", "pandas", "routed"):
        assert res[form] == res["expr"], form


def test_global_exploded_with_no_valid_array_is_one_null_row(spark):
    """Zero qualifying arrays reduce to NULL (src/monoid.rs:387-393) in
    the global posexplode form too, as in the expression form."""
    df = spark.createDataFrame([(None,), ([],)], "arr array<bigint>")
    assert [r["result"] for r in
            array_reduce_exploded(df, [], "arr", "sum", "bigint").collect()
            ] == [None]


def test_bigint_sum_exact_at_the_extremes(spark):
    """The integer sum adds exact limbs, then clamps once: values at and
    around the int64 and 2^32 limb boundaries, mixed signs, every
    Spark form and the NumPy oracle."""
    lo, hi = -(2**63), 2**63 - 1
    vals = [lo, lo + 1, -(2**32), -1, 0, 1, 2**32 - 1, 2**32, hi - 1, hi]
    rng = random.Random(7)
    groups = {g: [[rng.choice(vals) for _ in range(3)]
                  for _ in range(rng.randint(1, 6))] for g in range(40)}
    want = {g: [max(lo, min(hi, sum(col))) for col in zip(*arrs)]
            for g, arrs in groups.items()}
    df = spark.createDataFrame(
        [(g, a) for g, arrs in groups.items() for a in arrs],
        "g int, arr array<bigint>").repartition(4)
    outs = [df.groupBy("g").agg(array_reduce(col, "sum", "bigint")
                                .alias("result"))
            for col in ("arr", F.col("arr"))]
    outs += [array_reduce_exploded(df, ["g"], "arr", "sum", "bigint"),
             array_reduce_pandas(df, ["g"], "arr", "sum", "bigint")]
    for out in outs:
        assert {r["g"]: r["result"] for r in out.collect()} == want
