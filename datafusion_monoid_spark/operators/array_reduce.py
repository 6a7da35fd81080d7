"""array_reduce — element-wise monoid reduction of an array column.

The reference's centerpiece UDAF ``ArrayMonoidReduce`` (``src/monoid.rs:
226-332``): aggregate a column of ``ARRAY<T>`` rows into one ``ARRAY<T>``
by position-wise monoid combine, e.g. ``[1,2,3] (+) [4,5,6] = [5,7,9]``
(doc comment ``src/monoid.rs:223-225``).

Pinned semantics (SURVEY.md §2.1 decision — deterministic superset of the
reference's asserted behavior):

* rows whose array is NULL are skipped        (``src/monoid.rs:431-434``)
* rows whose array is empty ``[]`` are skipped (``src/monoid.rs:361-363``)
* result length = **min** length over remaining arrays — the reference
  truncates to the *first* array's length, which is partition-order-
  dependent for ragged input (``src/monoid.rs:361-369``); min-length is
  deterministic and matches every asserted reference output
  (``src/monoid.rs:589-639``: ``[1,2,3] (+) [4,5,6,7] = [5,7,9]``)
* NULL elements contribute the identity       (``src/monoid.rs:371-373``)
* zero qualifying rows => result is NULL, not ``[]`` (``src/monoid.rs:387-393``)

Three execution forms (all must agree; cross-checked in tests).  The two
Spark forms render the monoid's SQL text (``monoid.py``) and only build:
no job, ``persist`` or session-conf change before the caller's action.

1. :func:`array_reduce` — **pure Catalyst expression**: one ``F.expr``
   folding each position of the group's ``collect_list`` of arrays.  No
   Python workers.  ``collect_list`` materializes each group's arrays on
   one executor, so use for moderate group cardinality.
2. :func:`array_reduce_exploded` — **the scale form** (SURVEY.md §2.1a):
   posexplode -> per-(group, pos) built-in aggregate (Catalyst does
   partial+final map-side combine, the Spark analogue of the reference's
   ``state``/``merge_batch`` split, ``src/monoid.rs:387-403, 445-465``) ->
   truncate + rebuild array.  Handles unbounded group sizes; this is what
   you run on 100 TB.
3. :func:`array_reduce_pandas` — **oracle form**: per-group NumPy fold via
   ``applyInPandas``.  Complete-mode only (no partial agg); used to
   cross-validate the other two.

Partial-aggregation safety is exactly the monoid argument the reference is
named for (``src/monoid.rs:13-21``): identity + associativity (+ here
commutativity, since shuffles reorder rows) make any partitioning of the
fold produce the same result.
"""

from __future__ import annotations

import os
from decimal import Decimal
from typing import Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_monoid_spark.monoid import Monoid, get_monoid

__all__ = [
    "array_reduce",
    "array_reduce_exploded",
    "array_reduce_pandas",
    "make_pandas_udaf",
    "register_all",
]


# ---------------------------------------------------------------------------
# Form 1: pure Catalyst expression
# ---------------------------------------------------------------------------

def quote(name: str) -> str:
    """``name`` as a backticked SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def array_reduce(col: Column | str, monoid: Monoid | str,
                 elem: str = "int") -> Column:
    """Aggregate ``Column`` expression: monoid-reduce an array column.

    Usage::

        df.groupBy("g").agg(array_reduce("arrays", "sum").alias("result"))

    One ``F.expr`` over the monoid's SQL text: collect the group's valid
    arrays, then per position below their minimum length
    ``aggregate(arrays, lift(identity), combine, finish)``.  Built-in
    higher-order functions only; no Python worker involved.
    """
    m = monoid if isinstance(monoid, Monoid) else get_monoid(monoid, elem)
    c = quote(col) if isinstance(col, str) else col._jc.node().sql()

    ident = m.identity_sql
    valid = (f"collect_list(IF(size({c}) > 0, "
             f"CAST({c} AS array<{m.carrier}>), NULL))")
    step = m.combine.format(
        a="s", b=m.lift.format(x=f"coalesce(a[i], {ident})"))
    finish = "" if m.finish == "{x}" else f", s -> {m.finish.format(x='s')}"
    # per position i below the minimum length, fold that element of every
    # collected array into the lifted identity.  collect_list drops the
    # NULL (skipped) rows; with none left array_min is NULL, and so is
    # the result (src/monoid.rs:387-393)
    fold = (f"transform(sequence(0, array_min(transform({valid}, "
            f"a -> size(a))) - 1), i -> aggregate({valid}, "
            f"{m.lift.format(x=ident)}, (s, a) -> {step}{finish}))")
    return F.expr(fold)


# ---------------------------------------------------------------------------
# Form 2: posexplode two-phase (the 100 TB form)
# ---------------------------------------------------------------------------

def _with_exact_magnitudes(base: DataFrame, cells: DataFrame,
                           keys: list[str], m: Monoid, e: str) -> DataFrame:
    """Add ``__mag``, the exact |product| of each ``m.gray`` cell, to
    ``cells`` (NULL elsewhere): 64-bit products in (2^52.5,
    2^(bits+0.5)] that the double product cannot carry exactly
    (reference exact saturating mul, ``src/monoid.rs:105-138``).

    A gray cell has at most ~bits+1 factors of magnitude >= 2, so a
    bounded ``collect_list`` of just those factors, folded in
    DECIMAL(38,0) (max ~2^65 << 10^38), gives the exact magnitude; the
    ``cell`` text then clamps once -- exact in-range values AND the
    exact saturation boundary (-2^63 stays -2^63).

    Scan accounting: nothing runs before the caller's action -- no probe
    job, no ``persist``.  The plan reads the exploded rows for ``cells``,
    again for the gray-cell test (the same aggregate, pruned to the
    columns ``m.gray`` reads; both run in the first wave of stages), and
    a third time for the left-semi join, which AQE drops when no cell is
    gray -- the common case.
    """
    mag = f"abs(CAST({e} AS decimal(38,0)))"
    mags = (
        base.join(cells.where(m.gray), keys, "left_semi")
        .groupBy(*map(quote, keys))
        .agg(F.expr(f"aggregate(collect_list(IF({mag} >= 2, {mag}, NULL)), "
                    "CAST(1 AS decimal(38,0)), (a, b) -> a * b) AS `__mag`"))
    )
    return cells.join(mags, keys, "left")


def array_reduce_exploded(df: DataFrame, group_cols: Sequence[str],
                          array_col: str, monoid: Monoid | str,
                          elem: str = "int",
                          result_col: str = "result") -> DataFrame:
    """Scalable two-phase monoid reduce (SURVEY.md §2.1a).

    Plan shape::

        scan -> posexplode                 # NULL and [] arrays emit no rows
             -> HashAggregate(group, pos)  # partial+final, map-side combine
             -> HashAggregate(group)       # truncate + rebuild, sorted by pos

    Three DataFrame steps, each a ``selectExpr``/``F.expr`` over the
    monoid's SQL text; building runs no job.  The (group, pos)
    aggregation carries the monoid across partitions the same way the
    reference's ``merge_batch`` does (``src/monoid.rs:445-465``) --
    associativity makes the shuffle-split safe.  Min-length truncation
    happens inside the rebuild aggregate: every valid array covers
    position 0, so the number of arrays in a group is ``max(cnt)``, and a
    position belongs to the result iff **all** arrays cover it
    (``cnt == max(cnt)``).  Two hash exchanges, no window.  64-bit integer
    products add the exact pass of :func:`_with_exact_magnitudes`.

    With no ``group_cols`` the result is one row, NULL when no array
    qualifies -- like :func:`array_reduce`.
    """
    m = monoid if isinstance(monoid, Monoid) else get_monoid(monoid, elem)
    groups = [quote(g) for g in group_cols]
    base = df.selectExpr(
        *groups, f"posexplode(CAST({quote(array_col)} AS array<{m.carrier}>))"
                 " AS (`__pos`, `__e`)")
    e = f"coalesce(`__e`, {m.identity_sql})"
    cells = base.groupBy(*groups, "`__pos`").agg(
        *m.agg_columns(e), F.expr("count(1) AS `__cnt`"))
    if m.gray:
        cells = _with_exact_magnitudes(base, cells, [*group_cols, "__pos"],
                                       m, e)
    rebuilt = ("transform(filter(array_sort(collect_list(struct(`__pos`, "
               f"`__cnt`, {m.cell} AS `__v`))), "
               "s -> s.`__cnt` = max(`__cnt`)), s -> s.`__v`)")
    if not groups:
        rebuilt = f"IF(count(1) = 0, NULL, {rebuilt})"
    return cells.groupBy(*groups).agg(
        F.expr(f"{rebuilt} AS {quote(result_col)}"))


# ---------------------------------------------------------------------------
# Form 3: pandas / NumPy oracle
# ---------------------------------------------------------------------------

def _np_fold(arrays: Iterable, m: Monoid):
    """NumPy mirror of the accumulator fold (``src/monoid.rs:360-378``).

    Vectorized over the group (optimization round r14, guide §4.2):
    the per-row ``isna``/``where`` masking is hoisted into ONE pass
    over a (rows, n) matrix, and ops whose combine is exact and
    associative (integer sum — exact object ints; min/max — exact in
    every dtype) fold via a C-level ``ufunc.reduce`` instead of a
    Python row loop.  Order-SENSITIVE combines keep the left fold with
    ``np_combine`` unchanged: float sum/product round per step, and
    the integer product saturates per pair — for those only the
    masking moved, so every op stays bit-identical to the r13 form
    (pinned by the 4-op x 10-type golden matrix)."""
    vals = [a for a in arrays if a is not None and len(a) > 0]
    if not vals:
        return None
    n = min(len(a) for a in vals)
    mat = np.empty((len(vals), n), dtype=object)
    for i, a in enumerate(vals):
        mat[i, :] = np.asarray(a[:n], dtype=object)
    mask = pd.isna(mat)
    if mask.any():
        mat = np.where(mask, m.identity, mat)
    if m.elem in ("float", "double"):
        mat = mat.astype(np.float64)
        if m.op in ("max", "min"):
            # exact in floats too (no rounding), NaNs already masked
            acc = (np.maximum if m.op == "max"
                   else np.minimum).reduce(mat, axis=0)
        else:
            # per-step f64 rounding: keep the sequential left fold
            acc = mat[0]
            for i in range(1, mat.shape[0]):
                acc = m.np_combine(acc, mat[i])
    elif m.op in ("max", "min"):
        acc = (np.maximum if m.op == "max"
               else np.minimum).reduce(mat, axis=0)
    elif m.op == "sum":
        # exact object ints: associative, clamped once in np_finish
        acc = np.add.reduce(mat, axis=0)
    else:
        # integer product saturates PER PAIR (np_combine clamps):
        # order-sensitive, keep the left fold
        acc = mat[0]
        for i in range(1, mat.shape[0]):
            acc = m.np_combine(acc, mat[i])
    if m.np_finish is not None:
        acc = m.np_finish(np.asarray(acc, dtype=object))
    if isinstance(m.spark_type, T.DecimalType):
        # Arrow needs decimal.Decimal objects for a DecimalType column
        return [None if x is None else Decimal(int(x)) for x in acc]
    return [x for x in acc]


def array_reduce_pandas(df: DataFrame, group_cols: Sequence[str],
                        array_col: str, monoid: Monoid | str,
                        elem: str = "int",
                        result_col: str = "result") -> DataFrame:
    """Per-group NumPy fold via ``applyInPandas`` — the oracle form.

    Complete-mode (whole group on one executor through Arrow); the
    reference's semantics in ~15 lines of NumPy.  Not for unbounded
    groups — that's :func:`array_reduce_exploded`.
    """
    m = monoid if isinstance(monoid, Monoid) else get_monoid(monoid, elem)
    # positional key names: applyInPandas resolves column names as paths,
    # so a dotted group column name would not survive it
    keys = ([f"{quote(g)} AS `__k{i}`" for i, g in enumerate(group_cols)]
            or ["1 AS `__k0`"])
    src = df.selectExpr(*keys, f"{quote(array_col)} AS `__arr`")
    kfields = src.schema.fields[:-1]
    schema = T.StructType(
        [*kfields, T.StructField("__r", T.ArrayType(m.spark_type, True), True)])

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        row = {f.name: [pdf[f.name].iloc[0]] for f in kfields}
        row["__r"] = [_np_fold(pdf["__arr"], m)]
        return pd.DataFrame(row)

    out = src.groupBy(*(f.name for f in kfields)).applyInPandas(fold, schema)
    return out.selectExpr(
        *(f"`__k{i}` AS {quote(g)}" for i, g in enumerate(group_cols)),
        f"`__r` AS {quote(result_col)}")


# ---------------------------------------------------------------------------
# SQL registration (reference entry point: ctx.register_udaf,
# src/monoid.rs:542 + factories src/monoid.rs:472-526)
# ---------------------------------------------------------------------------

#: default per-group row cap for the Complete-mode SQL UDAF — past this
#: the group's arrays no longer plausibly fit one executor's Arrow batch
#: budget, and the registered name raises instead of OOMing mid-job.
#: Override per-registration (``register_all(max_group_rows=...)``) or
#: globally via ``SPARK_GRAFT_UDAF_MAX_GROUP_ROWS``.
DEFAULT_MAX_GROUP_ROWS = int(
    os.environ.get("SPARK_GRAFT_UDAF_MAX_GROUP_ROWS", "1000000"))


def make_pandas_udaf(monoid: Monoid,
                     max_group_rows: int | None = None):
    """GROUPED_AGG pandas UDAF for ``SELECT array_reduce_sum(arrays)``.

    GROUPED_AGG is Complete-mode: Spark hands the WHOLE group to this
    function (no partial/final split), so memory is O(group size).  The
    ``max_group_rows`` guard (default :data:`DEFAULT_MAX_GROUP_ROWS`)
    turns the silent scale cliff into a loud, actionable error naming
    the partial-agg routes — ``route_monoid_sql`` for SQL text,
    ``array_reduce_exploded`` for DataFrames (VERDICT r4 item 1)."""
    m = monoid
    cap = DEFAULT_MAX_GROUP_ROWS if max_group_rows is None else max_group_rows

    @F.pandas_udf(T.ArrayType(m.spark_type, True))
    def udaf(s: pd.Series) -> list:
        if cap is not None and len(s) > cap:
            raise ValueError(
                f"array_reduce_{m.op}: group of {len(s)} arrays exceeds the "
                f"Complete-mode cap of {cap} rows.  This registered SQL UDAF "
                f"materializes each group on one executor; for unbounded "
                f"groups use datafusion_monoid_spark.sql_route."
                f"route_monoid_sql(spark, <same SQL>) or the DataFrame API "
                f"array_reduce_exploded — identical semantics, "
                f"partial-aggregation plan.")
        return _np_fold(s, m)

    return udaf


def register_all(spark: SparkSession, default_elem: str = "int",
                 suffix_types: Sequence[str] = (),
                 max_group_rows: int | None = None) -> None:
    """Register the UDAF family into the session SQL registry.

    ``array_reduce_{sum,product,max,min}`` bind to ONE element type
    (Int32 by default) like the reference's backward-compat factories
    (``src/monoid.rs:472-489``); type-suffixed names
    (``array_reduce_sum_double``) mirror the generic factories
    (``src/monoid.rs:491-526``).  A single ``default_elem`` (rather than a
    list) keeps the unsuffixed registration unambiguous.

    Every registered name carries the Complete-mode group-size guard
    (see :func:`make_pandas_udaf`); the scale path for the same SQL text
    is :func:`datafusion_monoid_spark.sql_route.route_monoid_sql`.
    """
    for op in ("sum", "product", "max", "min"):
        spark.udf.register(
            f"array_reduce_{op}",
            make_pandas_udaf(get_monoid(op, default_elem), max_group_rows))
        for elem in suffix_types:
            spark.udf.register(
                f"array_reduce_{op}_{elem}",
                make_pandas_udaf(get_monoid(op, elem), max_group_rows))
