"""The op mix of each workload.

An op is one call a user makes: build a result through one of the
package's public entry points, then force it with ``collect``.  Every op
reads a source DataFrame of its own (see ``run.fresh_source``), so no
op's plan matches an earlier op's plan and no CacheManager entry left by
an earlier op can serve it.

Entry points (the ``entry`` of an op):

* ``sql_udaf``    -- the registered ``array_reduce_*`` SQL name;
* ``sql_routed``  -- the same SQL text through ``route_monoid_sql``;
* ``df_exploded`` -- ``array_reduce_exploded`` on a DataFrame;
* ``df_expr``     -- the ``array_reduce`` aggregate expression.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import datafusion_monoid_spark as dms

from perfbench import oracle
from perfbench.inputs import NarrowInput

@dataclass
class Op:
    name: str
    entry: str
    #: (spark, source DataFrame, name of a view over the source) -> result
    build: Callable
    expected: dict
    elements: int       # input array elements the op reduces


def rows_to_result(rows) -> dict:
    """Collected ``(g, result)`` rows -> oracle map."""
    return {r["g"]: None if r["result"] is None else list(r["result"])
            for r in rows}


def _exploded(col: str, op: str, elem: str):
    return lambda spark, df, view: dms.array_reduce_exploded(
        df, ["g"], col, op, elem)


def _expr(col: str, op: str, elem: str):
    return lambda spark, df, view: df.groupBy("g").agg(
        dms.array_reduce(col, op, elem).alias("result"))


#: the reference's literal query shape
NARROW_SQL = "SELECT g, array_reduce_sum(arr) AS result FROM {view} GROUP BY g"


def narrow_ops(inp: NarrowInput) -> list[Op]:
    """Many groups, short ragged arrays: one grouped bigint sum through
    each of the four entry points, and a grouped bigint product."""
    want, n = oracle.narrow_expected(inp), inp.elements
    return [
        Op("sql_udaf", "sql_udaf",
           lambda spark, df, view: spark.sql(NARROW_SQL.format(view=view)),
           want, n),
        Op("sql_routed", "sql_routed",
           lambda spark, df, view: dms.route_monoid_sql(
               spark, NARROW_SQL.format(view=view), "bigint"),
           want, n),
        Op("df_exploded", "df_exploded", _exploded("arr", "sum", "bigint"),
           want, n),
        Op("df_expr", "df_expr", _expr("arr", "sum", "bigint"), want, n),
        # the bigint product runs an eager gray-zone probe job inside the
        # build call and leaves a persisted per-cell stats table behind
        Op("df_exploded_product", "df_exploded",
           _exploded("parr", "product", "bigint"),
           oracle.narrow_expected(inp, "product"), n),
    ]
