"""Query catalog — the monoid-reduce entries, as (Spark callable, DuckDB
oracle SQL) pairs consumed by ``__spark_entry__``.

Every entry runs one of the engine's entry points on the parquet test
tables: the posexplode form ``array_reduce_exploded``, the registered
``array_reduce_*`` SQL names, ``route_monoid_sql`` and the windowed
``streaming_monoid_reduce``.  Each oracle states the same reduction in
DuckDB SQL.

Conventions for oracle stability (the entries are hash-compared with
their oracles after sorting columns by name):

* outputs are **scalar columns** — array results are posexploded to
  ``(group, pos, val)`` rows, because list-value serialization differs
  between engines;
* every computed column is aliased identically in Spark and SQL;
* aggregated doubles are ``round(x, 2)`` on both sides (different
  summation orders perturb the last float bits);
* positions are 0-based ints on both sides; counts are bigint on both.
"""

from __future__ import annotations

import glob
import os
import tempfile
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_monoid_spark.monoid import get_monoid
from datafusion_monoid_spark.operators.array_reduce import (
    array_reduce_exploded,
    make_pandas_udaf,
)
from datafusion_monoid_spark.sql_route import route_monoid_sql
from datafusion_monoid_spark.streaming.monoid_stream import (
    _EVENTS_SCHEMA_TMPL,
    _start_query,
    _ts_dtype,
    event_time_col,
    streaming_monoid_reduce,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

#: the parquet tables (``<sf_dir>/<name>.parquet``) the entries and
#: their oracles read
TABLES = ("lineitem", "events", "embeddings")

#: name -> (spark_fn, oracle_sql | None)
_CATALOG: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _CATALOG[name] = (fn, oracle)
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _row_groups(path: str) -> int | None:
    """Total parquet row groups under ``path`` (file or directory),
    read from footers on the driver — the effective upper bound on
    scan parallelism (Spark assigns each row group to the one byte
    split containing its midpoint).  ``None`` when the path is not
    local / not statable — callers treat that as "plenty of splits"."""
    try:
        files = ([path] if os.path.isfile(path)
                 else glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            return None
        return sum(pq.ParquetFile(f).metadata.num_row_groups
                   for f in files)
    except (OSError, ValueError):  # unreadable or not parquet
        return None


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table, repartitioned up to full parallelism when
    the scan cannot yield enough splits: parquet parallelizes by row
    group, and the MB-scale test file is a single row group (one core
    otherwise).  At production scale the file has far more row groups
    than cores and the shuffle never fires."""
    e = _t(spark, sf_dir, "embeddings")
    par = spark.sparkContext.defaultParallelism
    rg = _row_groups(f"{sf_dir}/embeddings.parquet")
    if rg is not None and rg < par:
        e = e.repartition(par)
    return e


def _explode_result(df: DataFrame, groups: list[str], round_to: int | None = 2,
                    cast: str | None = None) -> DataFrame:
    """(groups, result array) -> (groups, pos, val) scalar rows."""
    out = df.select(*groups, F.posexplode("result").alias("pos", "val"))
    v = F.col("val")
    if round_to is not None:
        v = F.round(v, round_to)
    if cast:
        v = v.cast(cast)
    return out.withColumn("val", v)


# ---------------------------------------------------------------------------
# The posexplode form (reference src/monoid.rs:226-332) on real tables.
# ---------------------------------------------------------------------------

_MONOID_FIXED_ORACLE = """
SELECT l_returnflag, pos, round({agg}(elem), 2) AS val FROM (
  SELECT l_returnflag,
         unnest([l_quantity, l_extendedprice, l_discount]) AS elem,
         unnest([0, 1, 2]) AS pos
  FROM lineitem
) GROUP BY l_returnflag, pos
"""


def _monoid_fixed(op: str) -> QueryFn:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        # length-3 double vector per lineitem row, reduced per returnflag.
        # posexplode form: partial+final agg, no per-group materialization.
        li = _t(spark, sf_dir, "lineitem").select(
            "l_returnflag",
            F.array("l_quantity", "l_extendedprice", "l_discount").alias("arr"),
        )
        red = array_reduce_exploded(li, ["l_returnflag"], "arr", op, "double")
        return _explode_result(red, ["l_returnflag"])
    return fn


for _op in ("sum", "min", "max"):
    register(f"monoid_{_op}_double", _MONOID_FIXED_ORACLE.format(agg=_op))(_monoid_fixed(_op))


@register("monoid_product_double", """
SELECT l_orderkey, pos, round(product(elem), 2) AS val FROM (
  SELECT l_orderkey,
         unnest([1.0 + l_discount, 1.0 + l_tax]) AS elem,
         unnest([0, 1]) AS pos
  FROM lineitem
) GROUP BY l_orderkey, pos
""")
def monoid_product_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise product per order over [1+discount, 1+tax] factors —
    bounded group size keeps the product in range."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.array(F.lit(1.0) + F.col("l_discount"), F.lit(1.0) + F.col("l_tax")).alias("arr"),
    )
    red = array_reduce_exploded(li, ["l_orderkey"], "arr", "product", "double")
    return _explode_result(red, ["l_orderkey"])


@register("monoid_embedding_sum", """
WITH q AS (
  SELECT vec_id % 8 AS grp,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * 1000000) AS BIGINT)) AS arr
  FROM embeddings
),
ex AS (SELECT grp, unnest(arr) AS elem, unnest(range(0, len(arr))) AS pos FROM q)
SELECT CAST(grp AS BIGINT) AS grp, CAST(pos AS INTEGER) AS pos,
       CAST(sum(elem) AS BIGINT) AS val
FROM ex GROUP BY grp, pos
""")
def monoid_embedding_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise sum of 64-dim embeddings per group (a centroid
    numerator) through the posexplode form.  Elements are quantized to
    exact integer micro-units first, so the distributed sum is
    order-independent and hash-matches any engine — the float-centroid
    variant would differ in the last ulp by partitioning."""
    e = _emb(spark, sf_dir).select(
        (F.col("vec_id") % 8).cast("bigint").alias("grp"),
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: F.round(x * 1000000).cast("bigint")).alias("arr"))
    red = array_reduce_exploded(e, ["grp"], "arr", "sum", "bigint")
    return _explode_result(red, ["grp"], round_to=None, cast="bigint")


@register("monoid_sum_ragged_int", """
WITH arrs AS (
  SELECT l_orderkey,
         list(CAST(l_quantity AS INTEGER) ORDER BY l_linenumber, l_quantity) AS arr
  FROM lineitem GROUP BY l_orderkey
),
g AS (SELECT CAST(least(len(arr), 3) AS INTEGER) AS grp, arr FROM arrs),
ml AS (SELECT grp, min(len(arr)) AS n FROM g GROUP BY grp),
ex AS (SELECT grp, unnest(arr) AS elem, unnest(range(0, len(arr))) AS pos FROM g)
SELECT ex.grp, CAST(ex.pos AS INTEGER) AS pos, CAST(sum(ex.elem) AS INTEGER) AS val
FROM ex JOIN ml USING (grp) WHERE ex.pos < ml.n
GROUP BY ex.grp, ex.pos
""")
def monoid_sum_ragged_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ragged arrays (1-13 items per order) bucketed by capped length —
    exercises the min-length truncation semantics under GROUP BY.
    Array order is pinned by (l_linenumber, l_quantity) because
    l_linenumber alone is not unique in the synthetic data."""
    li = _t(spark, sf_dir, "lineitem")
    arrs = li.groupBy("l_orderkey").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("l_linenumber", "l_quantity"))),
            lambda s: s["l_quantity"].cast("int"),
        ).alias("arr")
    ).select(F.least(F.size("arr"), F.lit(3)).cast("int").alias("grp"), "arr")
    red = array_reduce_exploded(arrs, ["grp"], "arr", "sum", "int")
    return _explode_result(red, ["grp"], round_to=None)


@register("monoid_sum_nullelems_double", """
SELECT l_returnflag, pos, round(sum(coalesce(elem, 0.0)), 2) AS val FROM (
  SELECT l_returnflag,
         unnest([CASE WHEN l_linenumber % 3 = 0 THEN NULL ELSE l_quantity END,
                 l_extendedprice]) AS elem,
         unnest([0, 1]) AS pos
  FROM lineitem
) GROUP BY l_returnflag, pos
""")
def monoid_sum_nullelems_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL elements contribute the identity (src/monoid.rs:371-373)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.array(
            F.when(F.col("l_linenumber") % 3 != 0, F.col("l_quantity")),
            F.col("l_extendedprice"),
        ).alias("arr"),
    )
    red = array_reduce_exploded(li, ["l_returnflag"], "arr", "sum", "double")
    return _explode_result(red, ["l_returnflag"])


# ---------------------------------------------------------------------------
# The SQL entry points: the registered names and route_monoid_sql.
# ---------------------------------------------------------------------------

# same semantics as monoid_sum_ragged_int, but executed through the
# registered SQL aggregate (the reference's literal entry point,
# src/monoid.rs:568-571) -> shares its oracle
_RAGGED_ORACLE = _CATALOG["monoid_sum_ragged_int"][1]


@register("monoid_sql_udaf", _RAGGED_ORACLE)
def monoid_sql_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`SELECT grp, array_reduce_sum(arr) ... GROUP BY grp` through the
    registered Arrow-UDAF SQL path — the verbatim reference entry point,
    oracle-checked against the same DuckDB reduction as the posexplode
    form (the two forms must agree end-to-end).

    GROUP-SIZE CONTRACT: a GROUPED_AGG UDAF folds each group on one
    executor, so this path is the SQL-compatibility surface for groups
    that fit an executor (here: <= 4 groups over order-sized arrays).
    Unbounded groups take the identical-semantics posexplode form
    (`array_reduce_exploded`, the monoid_sum_* entries) — same results,
    partial-agg plan.  A Spark-registerable SQL function cannot carry
    the two-phase rewrite, so the routing happens one level up: the
    registered names enforce a hard group-size guard (loud error, not
    an executor OOM) and ``sql_route.route_monoid_sql`` executes the
    SAME SQL text through the partial-agg form — exercised on an
    unbounded group by the ``monoid_sql_routed_hugegroup`` entry below.

    ``array_reduce_sum`` is registered (as ``register_all`` would) only
    when the session has no function of that name; a caller's own
    registration is used as it is."""
    if not spark.catalog.functionExists("array_reduce_sum"):
        spark.udf.register("array_reduce_sum",
                           make_pandas_udaf(get_monoid("sum", "int")))
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__li_udaf")
    try:
        df = spark.sql("""
            WITH arrs AS (
              SELECT l_orderkey,
                     transform(array_sort(collect_list(struct(l_linenumber, l_quantity))),
                               s -> CAST(s.l_quantity AS INT)) AS arr
              FROM __li_udaf GROUP BY l_orderkey
            ),
            g AS (SELECT CAST(least(size(arr), 3) AS INT) AS grp, arr FROM arrs)
            SELECT grp, array_reduce_sum(arr) AS result FROM g GROUP BY grp
        """)
    finally:
        # the query is analyzed: its plan no longer needs the view
        spark.catalog.dropTempView("__li_udaf")
    return df.select("grp", F.posexplode("result").alias("pos", "val"))


#: the reference-dialect SQL the routed entry executes — ONE group over
#: every lineitem row (60k arrays at sf0.01, 6M at sf1, 60M at sf10):
#: exactly the group shape the one-executor UDAF cannot survive.
_ROUTED_HUGEGROUP_SQL = """
SELECT array_reduce_sum_bigint(array(
         CAST(l_quantity AS BIGINT),
         CAST(round(l_extendedprice * 100) AS BIGINT),
         CAST(round(l_discount * 100) AS BIGINT))) AS result
FROM __li_routed
"""


@register("monoid_sql_routed_hugegroup", """
SELECT CAST(pos AS INTEGER) AS pos, CAST(sum(elem) AS BIGINT) AS val FROM (
  SELECT unnest([CAST(l_quantity AS BIGINT),
                 CAST(round(l_extendedprice * 100) AS BIGINT),
                 CAST(round(l_discount * 100) AS BIGINT)]) AS elem,
         unnest([0, 1, 2]) AS pos
  FROM lineitem
) GROUP BY pos
""")
def monoid_sql_routed_hugegroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's SQL entry point on a deliberately UNBOUNDED group
    — every lineitem row's length-3 bigint vector reduced into ONE
    result array — executed through ``route_monoid_sql``, the scale-safe
    routing for the registered SQL names.

    The identical SQL text through the registered ``array_reduce_sum_*``
    UDAF would materialize the whole table on one executor (it raises
    past ``DEFAULT_MAX_GROUP_ROWS``); the routed plan is posexplode →
    HashAggregate(partial) → 3-row exchange → HashAggregate(final):
    per-task state is 3 (pos) cells regardless of group size, so the
    same query is O(1) memory per task at 60M rows (plan and wall time
    checked at scale/sf1 in ``tests/test_sql_route.py``)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__li_routed")
    try:
        red = route_monoid_sql(spark, _ROUTED_HUGEGROUP_SQL)
    finally:
        spark.catalog.dropTempView("__li_routed")
    return red.select(F.posexplode("result").alias("pos", "val"))


# ---------------------------------------------------------------------------
# The streaming form: a real Structured Streaming query (file source ->
# watermarked windowed monoid state -> memory sink), drained and checked
# against the batch reduction of the same rows — stream == batch on
# finite input is the merge-safety contract (src/monoid.rs:13-21).
# ---------------------------------------------------------------------------

#: Shuffle (and so state-store) partitions for the drained streams.
#: Streaming has no AQE partition coalescing: the count is pinned into
#: the checkpoint at query start, and every stateful partition pays
#: state-store commits per micro-batch.  Measured on a stream-stream
#: interval join at sf0.01: 32 partitions -> 9.9 s engine time,
#: 8 -> 3.0 s, 4 -> 2.0 s, identical results — the batch session's
#: default (sized for CPU-bound shuffles) is 3-5x overhead here.
STREAM_SHUFFLE = 8


#: RAM-backed root for stream checkpoints when the host has one.
_TMPFS = "/dev/shm" if os.path.isdir("/dev/shm") else None


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the sf_dir events table (pathGlobFilter
    selects the one file out of the shared table directory)."""
    dt = _ts_dtype(spark, f"{sf_dir}/events.parquet")
    raw = (spark.readStream
           .schema(_EVENTS_SCHEMA_TMPL.format(ts=dt.simpleString()))
           .option("pathGlobFilter", "events.parquet")
           .parquet(sf_dir))
    return raw.withColumn("event_time", event_time_col(dt))


def _drain_to_df(agg: DataFrame, name: str) -> DataFrame:
    """Run the streaming query over all available input into a memory
    sink and return the sink's table as a batch DataFrame over a copy
    of its rows (the sink already holds them on the driver), so it
    outlives the query and persists no RDD.

    The query starts through the stream module's shared start helper,
    with ``STREAM_SHUFFLE`` shuffle partitions and, its checkpoint being
    local, the checkpoint manager whose renames fork no process; that,
    not the checkpoint's place on tmpfs, is what saves most of the
    checkpoint time.  Leaves the session as it found it: both confs are
    set only around ``start()``, the temporary checkpoint directory (on
    tmpfs when there is one) is removed afterwards and the sink's temp
    view is dropped."""
    spark = agg.sparkSession
    with tempfile.TemporaryDirectory(prefix=f"{name}_", dir=_TMPFS,
                                     ignore_cleanup_errors=True) as ckpt:
        w = (agg.writeStream.outputMode("complete").format("memory")
             .queryName(name))
        q = _start_query(spark, w, ckpt,
                         {"spark.sql.shuffle.partitions": str(STREAM_SHUFFLE)})
        try:
            q.processAllAvailable()
            sink = spark.table(name)
            return spark.createDataFrame(sink.toArrow(), sink.schema)
        finally:
            q.stop()
            spark.catalog.dropTempView(name)


@register("streaming_windowed_monoid", """
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS ws_sec, event_type,
       CAST(pos AS INTEGER) AS pos, CAST(sum(elem) AS BIGINT) AS val
FROM (SELECT ts, event_type,
             unnest([mv, mv * mv, 1::BIGINT]) AS elem,
             unnest([0, 1, 2]) AS pos
      FROM (SELECT ts, event_type,
                   CAST(round(value * 1000) AS BIGINT) AS mv FROM events))
GROUP BY ws_sec, event_type, pos
""")
def streaming_windowed_monoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly windowed element-wise monoid sum of per-event vectors
    [mv, mv^2, 1] (mv = value in exact integer milli-units, so the
    streamed sums are bit-identical to any engine's) per event_type —
    single-pass streamed vector stats; windowed state is the monoid
    accumulator."""
    mv = F.round(F.col("value") * 1000).cast("bigint")
    vec = F.array(mv, mv * mv, F.lit(1).cast("bigint"))
    agg = streaming_monoid_reduce(_events_stream(spark, sf_dir), "sum",
                                  elem="bigint", window="1 hour", vec=vec)
    out = _drain_to_df(agg, "streaming_windowed_monoid")
    return out.select(
        F.unix_timestamp("window_start").cast("bigint").alias("ws_sec"),
        "event_type", F.col("pos").cast("int").alias("pos"),
        F.col("val").cast("bigint").alias("val"))


def catalog() -> dict[str, tuple[QueryFn, str | None]]:
    """Registered queries in registration order (``monoid_sum_double``,
    the flagship, first)."""
    return dict(_CATALOG)
