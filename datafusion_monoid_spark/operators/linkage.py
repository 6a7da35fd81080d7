"""Entity resolution / record linkage: fuzzy matching at scale via
deletion-neighborhood blocking (the SymSpell family).

The naive fuzzy join is all-pairs Levenshtein — O(n^2), dead at any
scale.  Positional blocking (split the string, join on equal
segments) pigeonholes correctly but inherits the key distribution:
a low-entropy segment (think a shared prefix) becomes one giant
bucket and the within-bucket join is quadratic again — exactly the
hot-band failure mode of LSH.

Deletion neighborhoods sidestep both: every string generates its
len+1 one-character-deletion variants; two strings within edit
distance 1 ALWAYS share at least one variant (delete the edited
position from both sides), so joining on the md5 of the variant is a
complete candidate generator for k=1.  The variant keys carry the
whole string's entropy — no hot buckets — and the blow-up is a
linear x(len+1) explode, not a product.  Exact Levenshtein then
verifies candidates only.  (For k=2, generate depth-2 deletions —
same shape, x(len^2) rows; the verify step is unchanged.)

No reference analogue; same discipline as operators/dedup.py: hash
keys engine-reproducible (md5-derived), candidate generation bucketed
never all-pairs, exact verification on candidates only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators.dedup import md5_long


def _deletions_of(u: Column) -> Column:
    """One-character-deletion variants of a (possibly lambda-bound)
    string column; empty-safe (Spark's sequence DESCENDS for an empty
    upper bound, which would fabricate junk variants)."""
    return F.when(
        F.length(u) >= 1,
        F.transform(F.sequence(F.lit(1), F.length(u)),
                    lambda i: F.concat(u.substr(F.lit(1), i - 1),
                                       u.substr(i + 1, F.length(u)))),
    ).otherwise(F.array().cast("array<string>"))


def deletion_neighborhood(s: Column, depth: int = 1) -> Column:
    """Distinct deletion variants of ``s`` up to ``depth`` removed
    characters, the string itself included.  The SymSpell pigeonhole
    generalizes: two strings within edit distance k ALWAYS share a
    member of their depth-k neighborhoods, so the variant join stays a
    complete candidate generator for any k — at a x(len^k / k!)
    generation cost, which is why k<=2 is the practical range (k=1:
    len+1 variants; k=2: ~len^2/2)."""
    levels = [F.array(s)]
    for _ in range(depth):
        levels.append(F.array_distinct(
            F.flatten(F.transform(levels[-1], _deletions_of))))
    return F.array_distinct(F.concat(*levels))


def variant_keys(df: DataFrame, id_col: str, text_col: str,
                 depth: int = 1) -> DataFrame:
    """(id, vkey BIGINT): one row per deletion-neighborhood variant,
    hashed — the 8-byte join key that shuffles instead of the
    strings."""
    return (df.select(F.col(id_col),
                      F.explode(deletion_neighborhood(F.col(text_col), depth))
                       .alias("__v"))
            .select(id_col, md5_long("__v").alias("vkey")))


def fuzzy_pairs(df: DataFrame, id_col: str, text_col: str,
                max_dist: int = 1, ckpt=None) -> DataFrame:
    """(id_a, id_b, dist) for distinct pairs within ``max_dist`` edits
    (id_a < id_b).  Candidates via the depth-``max_dist``
    deletion-neighborhood bucket join (complete by the SymSpell
    pigeonhole); exact ``levenshtein`` verification on candidates only.
    Both sides of the candidate join are the same slim (id, vkey)
    relation — one co-partitioned shuffle, group sizes bounded by
    variant-key multiplicity, never all-pairs.

    ``ckpt`` (optional, DataFrame -> DataFrame, e.g. a tracked
    ``localCheckpoint``): materializes the variant-key relation once.
    Left lazy it is evaluated on BOTH sides of the self-join, and the
    deletion-neighborhood generator is an interpreted HOF transform —
    the one expensive expression of this operator runs twice over the
    corpus for nothing (optimization round r13; same lesson as the
    containment verify's shingle relation)."""
    vk = variant_keys(df, id_col, text_col, depth=max_dist)
    if ckpt is not None:
        vk = ckpt(vk)
    a = vk.alias("a")
    b = vk.alias("b")
    cand = (a.join(b, (F.col("a.vkey") == F.col("b.vkey"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())
    txt = df.select(F.col(id_col), F.col(text_col).alias("__t"))
    return (cand
            .join(txt.select(F.col(id_col).alias("id_a"),
                             F.col("__t").alias("__ta")), "id_a")
            .join(txt.select(F.col(id_col).alias("id_b"),
                             F.col("__t").alias("__tb")), "id_b")
            .select("id_a", "id_b",
                    F.levenshtein("__ta", "__tb").cast("int").alias("dist"))
            .where((F.col("dist") <= max_dist) & (F.col("dist") > 0)))
