"""Data-layout operators: Z-order (Morton) multi-dimensional
clustering and zone-map statistics.

At 100 TB the scan you avoid is worth more than the scan you
optimize: multi-dimensional range queries (customer x date, id x
time) prune files only if rows that are close in BOTH dimensions land
in the same file.  Sorting by Morton code interleaves the key bits so
one linear sort order preserves 2-D locality — per-file (zone-map)
min/max ranges stay tight in every dimension, and the planner can
skip files on either predicate.

The Morton spread is the classic magic-mask bit dance — pure integer
ops (shift/and/or), so any engine reproduces the code bit-for-bit
(the DuckDB oracle in queries.py is a literal twin).  No reference
analogue (the reference is a monoid UDAF crate); the layout tier is
pipeline-scale infrastructure in the same spirit as the bucketed-join
helpers in operators/skew.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# magic masks spreading a 16-bit value over 32 bits (one zero bit
# between every data bit); all arithmetic stays far below 2^63.
_SPREAD_STEPS: tuple[tuple[int, int], ...] = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)

def spread_bits(x: Column) -> Column:
    """Interleave zeros between the low 16 bits of ``x`` (BIGINT)."""
    v = x.cast("bigint").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD_STEPS:
        v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(mask))
    return v


def morton_code(x: Column, y: Column) -> Column:
    """64-bit Morton (Z-order) code of two 16-bit coordinates: x in
    the even bits, y in the odd bits."""
    return spread_bits(x).bitwiseOR(F.shiftleft(spread_bits(y), 1))


def zorder_repartition(df: DataFrame, x: Column, y: Column,
                       n_files: int) -> DataFrame:
    """Cluster ``df`` for a 2-D-prunable layout: range-partition by
    Morton code into ``n_files`` shards and sort within each — the
    write-side half of Z-ordering (``df.write.parquet`` after this
    yields one tight zone-map per file).  Range partitioning samples
    the code distribution, so skewed key densities still yield
    balanced files."""
    coded = df.withColumn("__z", morton_code(x, y))
    return (coded.repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z"))


def zone_map_stats(df: DataFrame, code: Column, x: Column, y: Column,
                   bucket_shift: int) -> DataFrame:
    """Per-bucket (file-surrogate) zone maps: min/max of both source
    dimensions for each ``code >> bucket_shift`` bucket.  The tightness
    of these ranges IS the pruning win — compare against a
    row-order layout to quantify it."""
    return (df.select(F.shiftright(code, bucket_shift).alias("bucket"),
                      x.alias("__x"), y.alias("__y"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("__x").cast("bigint").alias("x_min"),
                 F.max("__x").cast("bigint").alias("x_max"),
                 F.min("__y").cast("bigint").alias("y_min"),
                 F.max("__y").cast("bigint").alias("y_max")))
