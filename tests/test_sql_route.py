"""route_monoid_sql — the scale-safe route for the registered SQL
names.

Three contracts:

1. **Semantics**: the routed form returns exactly what the registered
   Complete-mode UDAF returns on the same SQL text (saturation, ragged
   min-length, null/empty policy), for grouped and ungrouped shapes.
2. **Guard**: past ``max_group_rows`` the registered UDAF raises an
   actionable error instead of materializing the group.
3. **Scale**: the routed plan is partial+final aggregation — pinned by
   plan string here and proven on a real out-of-gate group (6M arrays,
   one group) against ``scale/sf1`` when that tier is present.
"""

from __future__ import annotations

import os
import re
import time

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators.array_reduce import (
    array_reduce_exploded, make_pandas_udaf, register_all)
from datafusion_monoid_spark.monoid import get_monoid
from datafusion_monoid_spark.sql_route import parse_monoid_sql, route_monoid_sql

SF1 = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "scale", "sf1")


def _explain(df, mode="simple"):
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(),
                                                    mode)


# ---------------------------------------------------------------------------
# 1. parser grammar
# ---------------------------------------------------------------------------

def test_parse_ungrouped_no_alias():
    p = parse_monoid_sql("SELECT array_reduce_sum(arr) FROM t")
    assert p == {"op": "sum", "elem": None, "arg": "arr", "alias": "result",
                 "group_cols": [], "from_sql": "t"}


def test_parse_grouped_suffixed_aliased_where():
    p = parse_monoid_sql(
        "SELECT grp, array_reduce_max_double(transform(a, x -> x * 2)) AS m "
        "FROM tbl WHERE x > 3 GROUP BY grp")
    assert p["op"] == "max" and p["elem"] == "double"
    assert p["arg"] == "transform(a, x -> x * 2)"
    assert p["alias"] == "m" and p["group_cols"] == ["grp"]
    assert p["from_sql"] == "tbl WHERE x > 3"


def test_parse_subquery_from_tail_passthrough():
    p = parse_monoid_sql(
        "SELECT array_reduce_min(arr) FROM (SELECT arr FROM u GROUP BY arr) s")
    # the GROUP BY inside the parenthesized subquery must NOT be split on
    assert p["from_sql"] == "(SELECT arr FROM u GROUP BY arr) s"
    assert p["group_cols"] == []


def test_parse_lexes_strings_comments_and_backticks():
    p = parse_monoid_sql(
        "SELECT `group`, `a b`, array_reduce_sum(arr) AS r FROM t "
        "WHERE s = 'x) group by y' -- group by z\n"
        "GROUP BY `a b`, /* ) */ `group`")
    assert p["group_cols"] == ["group", "a b"]
    assert p["from_sql"] == "t WHERE s = 'x) group by y'"


@pytest.mark.parametrize("bad, msg", [
    ("SELECT a, b FROM t", "no array_reduce"),
    ("SELECT array_reduce_sum(a), array_reduce_sum(b) FROM t", "exactly one"),
    ("SELECT a + 1, array_reduce_sum(b) FROM t GROUP BY a", "neither"),
    ("SELECT g, array_reduce_sum(b) FROM t GROUP BY h", "must match"),
    ("SELECT array_reduce_sum_quux(a) FROM t", "unknown element type"),
    ("SELECT array_reduce_sum(a) + 1 FROM t", "trailing text"),
    ("SELECT array_reduce_sum(a)", "no top-level FROM"),
])
def test_parse_rejects_outside_grammar(bad, msg):
    with pytest.raises(ValueError, match=msg):
        parse_monoid_sql(bad)


# ---------------------------------------------------------------------------
# 2. routed == registered UDAF (the two entry points must agree)
# ---------------------------------------------------------------------------

def _ragged_view(spark):
    rows = [
        ("a", [1, 2, 3]),
        ("a", [4, 5]),          # ragged: min-length truncation to 2
        ("a", None),            # null row skipped
        ("a", []),              # empty skipped
        ("b", [2**31 - 1, 7]),
        ("b", [10, 7]),         # int32 saturating sum in group b
    ]
    spark.createDataFrame(rows, "grp string, arr array<int>") \
        .createOrReplaceTempView("__route_t")


@pytest.mark.parametrize("op", ["sum", "product", "max", "min"])
def test_routed_equals_udaf_grouped(spark, op):
    _ragged_view(spark)
    sql = (f"SELECT grp, array_reduce_{op}(arr) AS result "
           f"FROM __route_t GROUP BY grp")
    routed = {r["grp"]: r["result"]
              for r in route_monoid_sql(spark, sql).collect()}
    udaf = {r["grp"]: r["result"] for r in spark.sql(sql).collect()}
    assert routed == udaf


def test_routed_equals_udaf_ungrouped_with_where(spark):
    _ragged_view(spark)
    sql = ("SELECT array_reduce_sum(arr) AS result FROM __route_t "
           "WHERE grp = 'a'")
    assert (route_monoid_sql(spark, sql).collect()
            == spark.sql(sql).collect())


def test_routed_plan_is_partial_agg(spark):
    _ragged_view(spark)
    df = route_monoid_sql(
        spark, "SELECT grp, array_reduce_sum(arr) AS result "
               "FROM __route_t GROUP BY grp")
    p = _explain(df)
    assert "partial_sum" in p                # map-side combine
    assert "ArrowAggregatePython" not in p   # NOT the Complete-mode path
    assert p.count("Exchange hashpartitioning") == 2


def test_registered_name_plan_is_the_arrow_udaf(spark):
    """The registered name runs as one Arrow GROUPED_AGG UDAF (eval type
    252), the Complete-mode node the routed plan must not contain."""
    _ragged_view(spark)
    p = _explain(spark.sql("SELECT grp, array_reduce_sum(arr) AS result "
                           "FROM __route_t GROUP BY grp"))
    [node] = [ln for ln in p.splitlines() if "ArrowAggregatePython" in ln]
    assert node.rstrip().endswith(", 252")


def test_exploded_sum_plan_is_one_pass(spark):
    """The DataFrame twin builds one partial-aggregation plan: two hash
    exchanges, truncation inside the rebuild aggregate (no window) and
    nothing cached."""
    _ragged_view(spark)
    df = array_reduce_exploded(spark.table("__route_t"), ["grp"], "arr", "sum")
    p = _explain(df, "extended")
    assert "partial_sum" in p
    assert p.count("Exchange hashpartitioning") == 2
    assert "Window" not in p
    assert "InMemoryRelation" not in p and "InMemoryTableScan" not in p


# ---------------------------------------------------------------------------
# 3. the Complete-mode guard
# ---------------------------------------------------------------------------

def test_udaf_guard_raises_past_cap(spark):
    guarded = make_pandas_udaf(get_monoid("sum", "int"), max_group_rows=10)
    spark.udf.register("array_reduce_sum_guard10", guarded)
    spark.range(11).select(F.array(F.col("id").cast("int")).alias("arr")) \
        .createOrReplaceTempView("__guard_t")
    with pytest.raises(Exception, match="exceeds the Complete-mode cap"):
        spark.sql("SELECT array_reduce_sum_guard10(arr) AS r "
                  "FROM __guard_t").collect()


def test_udaf_under_cap_still_works(spark):
    guarded = make_pandas_udaf(get_monoid("sum", "int"), max_group_rows=10)
    spark.udf.register("array_reduce_sum_guard10b", guarded)
    spark.range(10).select(F.array(F.col("id").cast("int")).alias("arr")) \
        .createOrReplaceTempView("__guard_t2")
    [row] = spark.sql("SELECT array_reduce_sum_guard10b(arr) AS r "
                      "FROM __guard_t2").collect()
    assert row["r"] == [45]


# ---------------------------------------------------------------------------
# 4. the out-of-gate group: 6M arrays, ONE group, at scale/sf1
# ---------------------------------------------------------------------------

@pytest.mark.skipif(not os.path.isdir(SF1),
                    reason="scale/sf1 tier not generated")
def test_routed_hugegroup_at_sf1(spark):
    """The SQL entry point on a >=10^6-array single group: partial-agg
    plan, completing in bounded time.  6,001,210 arrays in one group at
    sf1 — the shape that OOMs or stalls the Complete-mode UDAF by
    construction."""
    from datafusion_monoid_spark import queries as qcat

    fn, _ = qcat.catalog()["monoid_sql_routed_hugegroup"]
    df = fn(spark, SF1)
    p = _explain(df)
    assert "partial_sum" in p and "ArrowAggregatePython" not in p
    t0 = time.perf_counter()
    rows = {r["pos"]: r["val"] for r in df.collect()}
    wall = time.perf_counter() - t0
    assert set(rows) == {0, 1, 2} and all(v > 0 for v in rows.values())
    # ~6M rows x 3 elems through a 3-cell partial agg: generous ceiling,
    # fails only on a genuine plan regression (e.g. losing the partial)
    assert wall < 60, f"huge-group routed reduce took {wall:.1f}s"


# ---------------------------------------------------------------------------
# 5. property fuzz of the parser (pure Python — no Spark session)
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings, strategies as st

    _idents = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True) \
        .filter(lambda s: s.lower() not in
                {"select", "from", "group", "by", "as", "where"})
    _ops = st.sampled_from(["sum", "product", "max", "min"])
    _elems = st.sampled_from([None, "int", "bigint", "double", "uint8"])

    @given(op=_ops, elem=_elems, arg=_idents, alias=st.one_of(st.none(), _idents),
           groups=st.lists(_idents, max_size=3, unique_by=str.lower),
           table=_idents, where=st.booleans())
    @settings(max_examples=300, deadline=None)
    def test_parser_roundtrips_generated_statements(op, elem, arg, alias,
                                                    groups, table, where):
        """Any statement BUILT from the documented grammar must parse
        back to its components — the parser accepts its whole language,
        not just the handwritten examples."""
        suffix = f"_{elem}" if elem else ""
        call = f"array_reduce_{op}{suffix}({arg})"
        if alias:
            call += f" AS {alias}"
        sel = ", ".join([*groups, call])
        sql = f"SELECT {sel} FROM {table}"
        if where:
            sql += f" WHERE {arg} IS NOT NULL"
        if groups:
            sql += " GROUP BY " + ", ".join(groups)
        p = parse_monoid_sql(sql)
        assert p["op"] == op
        assert p["elem"] == elem
        assert p["arg"] == arg
        assert p["alias"] == (alias or "result")
        assert p["group_cols"] == groups
        assert p["from_sql"].startswith(table)
except ImportError:  # pragma: no cover - hypothesis is baked in here
    pass
