"""2D skyline (Pareto frontier) — dominance pruning at scale.

A point dominates another if it is <= in both coordinates and < in at
least one; the skyline is the set nobody dominates.  The declarative
statement is a quadratic NOT EXISTS anti-join — the DuckDB oracle runs
it directly; Spark would give a broadcast nested loop.  The scalable
shape exploits that "take the skyline" is an idempotent, order-free
reduction (skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B))), the
same local/global decomposition as a partial aggregate:

* phase 1 — each partition prunes to its LOCAL skyline map-side
  (sort by x, running strict min over y), Arrow-batched, ZERO
  shuffle; on random-ordered data a partition's skyline is ~O(log n)
  points, so almost the whole relation dies before the wire;
* phase 2 — survivors reduce per distinct x (min y dominates the
  rest of the column) and one ordered window takes the global
  running-min filter over that small relation.

Both coordinates are minimized; to maximize one, negate it going in
and back coming out (the catalog's part frontier does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def skyline_2d(pts: DataFrame, x: str, y: str) -> DataFrame:
    """Pareto frontier of ``pts`` minimizing both ``x`` and ``y``."""
    import pandas as pd

    fields = pts.select(x, y).schema
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in fields)

    def prune_one(pdf):
        pdf = pdf.sort_values([x, y], kind="mergesort")
        keep_x, keep_y, best = [], [], None
        for xv, yv in zip(pdf[x], pdf[y]):
            if best is None or yv < best:
                keep_x.append(xv)
                keep_y.append(yv)
                best = yv
        return pd.DataFrame({x: keep_x, y: keep_y})

    def local_prune(batches):
        # prune each Arrow batch to its OWN skyline first — the reduce
        # is idempotent (skyline(A∪B) = skyline(skyline(A)∪skyline(B))),
        # so peak memory is one batch + the accumulated ~O(log n)-point
        # batch skylines, not the whole partition (a whole-
        # partition concat broke the bounded map-side contract)
        chunks = [prune_one(pdf[[x, y]]) for pdf in batches]
        chunks = [c for c in chunks if len(c)]
        if not chunks:
            return
        yield prune_one(pd.concat(chunks))

    local = pts.select(x, y).mapInPandas(local_prune, schema=schema)
    g = local.groupBy(x).agg(F.min(y).alias(y))
    w = Window.orderBy(x).rowsBetween(Window.unboundedPreceding, -1)
    return (g.withColumn("__run", F.min(y).over(w))
            .where(F.col("__run").isNull() | (F.col(y) < F.col("__run")))
            .drop("__run"))
