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

Three execution forms (all must agree; cross-checked in tests).  Each
builder only builds: no job, ``persist`` or session-conf change before
the caller's action.  The two Spark forms render the monoid's SQL text
(``monoid.py``).

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
3. The registered SQL names (:func:`register_all`, the reference's
   ``SELECT array_reduce_sum(arr) ... GROUP BY g``) and
   :func:`array_reduce_pandas` — **one Python fold**: an Arrow
   GROUPED_AGG UDAF that folds each group's ``pa.ListArray`` from its
   offsets, validity and values buffers with NumPy.  Complete-mode only
   (no partial agg, group-size cap); also cross-validates the other two.

Partial-aggregation safety is exactly the monoid argument the reference is
named for (``src/monoid.rs:13-21``): identity + associativity (+ here
commutativity, since shuffles reorder rows) make any partitioning of the
fold produce the same result.
"""

from __future__ import annotations

from decimal import Decimal
from typing import Sequence

import numpy as np
# at module level: pyspark resolves the UDAF's ``pa.Array -> pa.Scalar``
# hints against this module's globals
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_monoid_spark.monoid import INT_BOUNDS, Monoid, get_monoid

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
# Form 3: the Python fold (registered SQL names + array_reduce_pandas)
# ---------------------------------------------------------------------------

def _elements(values: pa.Array, m: Monoid) -> np.ndarray:
    """The list values as one NumPy array in the fold's precision, NULL
    elements (and float NaNs) read as the identity."""
    if m.elem == "uint64":
        # DECIMAL(20,0) carrier: exact Python ints
        return np.array([m.identity if v is None else int(v)
                         for v in values.to_pylist()], dtype=object)
    if m.elem in ("float", "double"):
        v = values.cast(pa.float64()).to_numpy(zero_copy_only=False)
        return np.where(np.isnan(v), m.identity, v)
    return values.cast(pa.int64()).fill_null(m.identity).to_numpy(
        zero_copy_only=False)


def _fold(arr: pa.Array | pa.ChunkedArray, m: Monoid) -> list | None:
    """Fold one group's ``list`` column straight from its Arrow buffers
    (accumulator fold, ``src/monoid.rs:360-378``): skip NULL and empty
    lists, gather the first ``n`` = minimum-length elements of the rest
    as one (rows, n) matrix, and reduce it along the rows.

    max/min and integer sums are order-free, so they reduce in C; an
    integer sum is exact (``int64`` while ``rows * max|x| < 2^63``,
    Python ints past that) and clamped once.  Float sum/product round
    per step in float64 and the integer product saturates per pair, so
    those keep the sequential left fold."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    # offsets index ``values`` whatever the slice offset; ``values`` does not
    off = arr.offsets.to_numpy()
    lens = np.diff(off)
    keep = lens > 0
    if arr.null_count:
        keep &= arr.is_valid().to_numpy(zero_copy_only=False)
    if not keep.any():
        return None
    mat = _elements(arr.values, m)[
        off[:-1][keep][:, None] + np.arange(lens[keep].min())]
    if m.op in ("max", "min"):
        acc = (np.maximum if m.op == "max" else np.minimum).reduce(mat, axis=0)
    elif m.elem in ("float", "double"):
        # accumulate is the sequential left fold, one row at a time
        acc = (np.add if m.op == "sum" else np.multiply).accumulate(
            mat, axis=0)[-1]
    else:
        lo, hi = INT_BOUNDS[m.elem]
        if m.op == "sum":
            # bound with max/min: abs(INT64_MIN) overflows int64
            if len(mat) * max(int(mat.max()), -int(mat.min())) >= 2**63:
                mat = mat.astype(object)
            acc = np.clip(mat.sum(axis=0), lo, hi)
        else:
            acc = mat[0].astype(object)
            for row in mat[1:]:
                acc = np.clip(acc * row, lo, hi)
    if m.elem == "uint64":
        # Arrow needs decimal.Decimal objects for a DecimalType column
        return [Decimal(int(x)) for x in acc]
    return acc.tolist()


#: default per-group row cap for the Complete-mode Python fold -- past
#: this the group's arrays no longer plausibly fit one executor's Arrow
#: batch budget, and the fold raises instead of OOMing mid-job.
#: The registered names and :func:`array_reduce_pandas` use it;
#: :func:`make_pandas_udaf` takes another ``max_group_rows``.
DEFAULT_MAX_GROUP_ROWS = 1_000_000


def make_pandas_udaf(monoid: Monoid,
                     max_group_rows: int | None = None):
    """Arrow GROUPED_AGG UDAF for ``SELECT array_reduce_sum(arrays)``.

    Spark hands the function each group's array column as one
    ``pa.ListArray`` and :func:`_fold` reduces it from the Arrow
    buffers, with no pandas conversion.  GROUPED_AGG is Complete-mode:
    the WHOLE group arrives at once (no partial/final split), so memory
    is O(group size).  The ``max_group_rows`` guard (default
    :data:`DEFAULT_MAX_GROUP_ROWS`) turns the silent scale cliff into a
    loud, actionable error naming the partial-agg routes --
    ``route_monoid_sql`` for SQL text, ``array_reduce_exploded`` for
    DataFrames.  Despite the name, no pandas is involved."""
    m = monoid
    cap = DEFAULT_MAX_GROUP_ROWS if max_group_rows is None else max_group_rows

    @F.arrow_udf(T.ArrayType(m.spark_type, True))
    def udaf(arr: pa.Array) -> pa.Scalar:
        if len(arr) > cap:
            raise ValueError(
                f"array_reduce_{m.op}: group of {len(arr)} arrays exceeds the "
                f"Complete-mode cap of {cap} rows.  This registered SQL UDAF "
                f"materializes each group on one executor; for unbounded "
                f"groups use datafusion_monoid_spark.sql_route."
                f"route_monoid_sql(spark, <same SQL>) or the DataFrame API "
                f"array_reduce_exploded — identical semantics, "
                f"partial-aggregation plan.")
        return _fold(arr, m)

    return udaf


def array_reduce_pandas(df: DataFrame, group_cols: Sequence[str],
                        array_col: str, monoid: Monoid | str,
                        elem: str = "int",
                        result_col: str = "result") -> DataFrame:
    """The DataFrame face of the registered SQL names: the same Arrow
    UDAF (:func:`make_pandas_udaf`) in ``groupBy(...).agg(...)``.

    Complete-mode (whole group on one executor) and capped like the
    registered names; not for unbounded groups -- that's
    :func:`array_reduce_exploded`.  With no ``group_cols`` an empty
    input gives no row (a GROUPED_AGG UDAF quirk), not a NULL row.
    """
    m = monoid if isinstance(monoid, Monoid) else get_monoid(monoid, elem)
    return df.groupBy(*(F.col(quote(g)) for g in group_cols)).agg(
        make_pandas_udaf(m)(F.col(quote(array_col))).alias(result_col))


def register_all(spark: SparkSession, default_elem: str = "int",
                 suffix_types: Sequence[str] = ()) -> None:
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
            make_pandas_udaf(get_monoid(op, default_elem)))
        for elem in suffix_types:
            spark.udf.register(
                f"array_reduce_{op}_{elem}",
                make_pandas_udaf(get_monoid(op, elem)))
