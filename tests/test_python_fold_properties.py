"""Property test for the Python fold behind the registered
``array_reduce_*`` SQL names and ``array_reduce_pandas``.

The oracle is a row-by-row pure-Python fold written here, independent of
the package.  Every example runs all 4 ops of one element type through
the registered names and ``array_reduce_pandas``, grouped and global, on
ragged lists, NULL rows, empty lists and all-NULL-element lists, with
integer values at the type's bounds (so sums and products cross them).
``spark.sql.execution.arrow.maxRecordsPerBatch`` is lowered so that
group 0, which always has at least three rows, reaches the fold split
over several Arrow batches.

Row order inside a group is the engine's choice, so the inputs keep the
order-sensitive folds order-free: float values are small dyadic numbers
(their sums and products are exact in float64), and integers exclude -1
(with no factor -1, per-pair saturation of an integer product gives the
same answer in every order).
"""

from __future__ import annotations

import struct
from decimal import Decimal
from functools import reduce

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators.array_reduce import (
    array_reduce_pandas, register_all)

OPS = ("sum", "product", "max", "min")

#: element type -> (Spark carrier, integer range; None for floats)
TYPES = {
    "tinyint": ("tinyint", (-2**7, 2**7 - 1)),
    "smallint": ("smallint", (-2**15, 2**15 - 1)),
    "int": ("int", (-2**31, 2**31 - 1)),
    "bigint": ("bigint", (-2**63, 2**63 - 1)),
    "uint8": ("smallint", (0, 2**8 - 1)),
    "uint16": ("int", (0, 2**16 - 1)),
    "uint32": ("bigint", (0, 2**32 - 1)),
    "uint64": ("decimal(20,0)", (0, 2**64 - 1)),
    "float": ("float", None),
    "double": ("double", None),
}

_BATCH_ROWS = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _f32(x: float) -> float:
    return struct.unpack("f", struct.pack("f", x))[0]


def reference_fold(arrays, op: str, elem: str):
    """Skip NULL and empty rows, truncate to the shortest remaining row,
    read NULL elements as the identity, fold row by row; integer sums
    clamp once at the end, integer products after every pair."""
    bounds = TYPES[elem][1]
    rows = [a for a in arrays if a]
    if not rows:
        return None
    n = min(len(a) for a in rows)
    lo, hi = bounds or (float("-inf"), float("inf"))
    identity = {"sum": 0, "product": 1, "max": lo, "min": hi}[op]
    clamp = (lambda v: min(max(v, lo), hi)) if bounds else (lambda v: v)
    acc = None
    for a in rows:
        vals = [identity if x is None else x for x in a[:n]]
        if acc is None:
            acc = vals
        elif op == "sum":
            acc = [x + y for x, y in zip(acc, vals)]
        elif op == "product":
            acc = [clamp(x * y) for x, y in zip(acc, vals)]
        else:
            acc = [(max if op == "max" else min)(x, y)
                   for x, y in zip(acc, vals)]
    acc = [clamp(v) for v in acc]
    if elem == "float":
        acc = [_f32(v) for v in acc]
    return acc


def _values(elem: str):
    bounds = TYPES[elem][1]
    if bounds is None:
        return st.sampled_from([-2.0, -0.5, 0.0, 0.5, 1.0, 2.0, 3.0])
    lo, hi = bounds
    v = st.one_of(st.sampled_from([lo, lo + 1, hi - 1, hi, 0, 1, 2]),
                  st.integers(lo, hi)).filter(lambda x: x != -1)
    return v.map(Decimal) if elem == "uint64" else v


def _table(elem: str):
    v = _values(elem)
    row = st.one_of(
        st.none(),
        st.just([]),
        st.lists(st.none(), min_size=1, max_size=3),
        st.lists(st.one_of(st.none(), v), min_size=1, max_size=5),
    )
    return st.tuples(
        st.lists(row, min_size=3, max_size=10),
        st.lists(st.tuples(st.integers(1, 5), row), max_size=16),
    ).map(lambda t: [(0, r) for r in t[0]] + list(t[1]))


@pytest.fixture(scope="module")
def fold_spark(spark):
    register_all(spark, default_elem="int", suffix_types=tuple(TYPES))
    # tiny Arrow batches; two reducers are plenty for a dozen rows
    confs = {_BATCH_ROWS: "2", "spark.sql.shuffle.partitions": "2"}
    before = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield spark
    for k, v in before.items():
        spark.conf.set(k, v)


def _check(spark, elem: str, rows) -> None:
    df = spark.createDataFrame(rows, f"g int, arr array<{TYPES[elem][0]}>")
    view = f"__fold_{elem}"
    df.createOrReplaceTempView(view)
    groups: dict = {}
    for g, a in rows:
        groups.setdefault(g, []).append(a)
    want = {}
    for op in OPS:
        for g, arrays in [*groups.items(), (None, [a for _, a in rows])]:
            want[("sql", op, g)] = want[("pandas", op, g)] = \
                reference_fold(arrays, op, elem)

    # every form, op and grouping in one job
    parts = []
    for op in OPS:
        call = f"array_reduce_{op}_{elem}(arr) AS result"
        for form, part in [
            ("sql", spark.sql(f"SELECT g, {call} FROM {view} GROUP BY g")),
            ("sql", spark.sql(f"SELECT NULL AS g, {call} FROM {view}")),
            ("pandas", array_reduce_pandas(df, ["g"], "arr", op, elem)),
            ("pandas", array_reduce_pandas(df, [], "arr", op, elem)
             .withColumn("g", F.lit(None))),
        ]:
            parts.append(part.select(F.lit(form).alias("form"),
                                     F.lit(op).alias("op"),
                                     F.col("g").cast("int").alias("g"),
                                     "result"))
    got = {(r["form"], r["op"], r["g"]): r["result"]
           for r in reduce(DataFrame.unionByName, parts).collect()}
    assert got == want


@pytest.mark.parametrize("elem", list(TYPES))
def test_python_fold_matches_reference(fold_spark, elem):
    @settings(max_examples=4, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(rows=_table(elem))
    def run(rows):
        _check(fold_spark, elem, rows)

    run()


def test_reference_fold_pins():
    """The oracle itself, on hand-computed cases."""
    assert reference_fold([None, [], [1, 2, 3], [4, None, 6, 7]],
                          "sum", "int") == [5, 2, 9]
    assert reference_fold([[None], [None]], "max", "tinyint") == [-128]
    assert reference_fold([[2**62], [4]], "product", "bigint") == [2**63 - 1]
    assert reference_fold([[2**63 - 1], [2**63 - 1], [-(2**63)]],
                          "sum", "bigint") == [2**63 - 2]
    assert reference_fold([[None, 5]], "min", "uint64") == [2**64 - 1, 5]
    assert reference_fold([None, []], "sum", "double") is None
