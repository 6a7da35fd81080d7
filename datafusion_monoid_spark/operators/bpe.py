"""Byte-pair-encoding tokenizer training and serving — the missing
half of the tokenizer story (``bpe_top_merges`` computes one round of
merge CANDIDATES; this module runs the actual multi-round trainer and
applies the learned merges).

Semantics contract, shared bit-for-bit with the DuckDB oracle
(Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units" — the standard subword trainer):

* Training operates on the WEIGHTED TOKEN VOCABULARY, not the raw
  corpus: one corpus pass builds ``(token, count)``, and every
  subsequent round touches only the vocabulary relation — model-sized
  work per round regardless of corpus size, which is the property that
  makes BPE trainable at 100 TB (the corpus contributes one shuffle,
  ever).
* Each round merges the single most frequent adjacent symbol pair
  (count-weighted; ties broken by ascending symbol order — binary
  comparison on normalized text is identical across engines).
* Merge application is ONE ``replace()`` pass per round over the
  doubled-delimiter segmentation (below) — leftmost, non-overlapping,
  scanning resumes after each replacement; identical in Spark and
  DuckDB, and equal to greedy left-to-right BPE application because
  doubling makes adjacent occurrences share no delimiter.

The doubled-delimiter representation: a token's segmentation is kept
as ``" a  b  c "`` — ONE outer space each side, TWO spaces between
symbols.  A pair ``(x, y)`` then matches ``" x  y "``: the match
consumes one space from each flanking double, and the replacement
``" xy "`` restores one on each side, so the invariant survives every
replacement and consecutive merge sites (``x y x y``) each keep their
own delimiters — a single-space encoding would let the first
replacement eat the delimiter the next occurrence needs, silently
skipping every other site.

No reference analogue (the reference has no text functions); same
discipline as operators/dedup.py: engine-reproducible string ops only,
iteration checkpointed per round like similarity.kmeans_lloyd_quantized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_monoid_spark.plans.inspect import release_local_checkpoint

#: trainer rounds for the catalog entries — enough to produce
#: multi-symbol merges (round k can merge the output of round j < k)
#: while keeping the unrolled oracle CTE chain readable.
BPE_ROUNDS = 6


def padded_seg(tok: Column) -> Column:
    """Initial character segmentation of a (whitespace-free) token in
    doubled-delimiter form: ``"abc"`` -> ``" a  b  c "``."""
    return F.concat(F.lit(" "),
                    F.rtrim(F.regexp_replace(tok, "(.)", "$1  ")),
                    F.lit(" "))


#: DuckDB twin of :func:`padded_seg` (``{tok}`` is the token expr).
PADDED_SEG_SQL = ("' ' || rtrim(regexp_replace({tok}, '(.)', '\\1  ', "
                  "'g')) || ' '")


def seg_symbols(seg: Column) -> Column:
    """Symbol array of a doubled-delimiter segmentation."""
    return F.split(F.trim(seg), "  ")


def pair_counts(vocab: DataFrame) -> DataFrame:
    """(x, y, c): count-weighted adjacent symbol pair frequencies over
    a ``(tok, cnt, seg)`` vocabulary relation."""
    syms = seg_symbols(F.col("seg"))
    pairs = F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(F.element_at(syms, i).alias("x"),
                               F.element_at(syms, i + 1).alias("y"))),
    ).otherwise(F.array().cast("array<struct<x:string,y:string>>"))
    return (vocab.select(F.explode(pairs).alias("p"), "cnt")
            .groupBy("p.x", "p.y").agg(F.sum("cnt").alias("c")))


def train(vocab: DataFrame,
          rounds: int = BPE_ROUNDS) -> tuple[DataFrame, DataFrame]:
    """Run ``rounds`` BPE merge rounds over a ``(tok, cnt, seg)``
    vocabulary (``seg`` in doubled-delimiter form).

    Returns ``(merges, final_vocab)``: merges is
    ``(rk, left_sym, right_sym, pair_cnt)`` in learned order, and
    final_vocab is ``(tok, cnt, seg)`` after all merges — the model a
    serve job broadcasts.

    Each round is one vocabulary-sized aggregation (pair counts), a
    top-1 (TakeOrdered, never a global sort — the single winning row
    comes to the driver, which is also what lets the replace run with
    LITERAL symbols instead of a crossJoin), and a map-only replace;
    the round result is checkpointed (vocabulary-sized — the same
    per-iteration materialization discipline as the k-means fit;
    without it each round's two references to the previous round
    double the lineage) and the PREVIOUS round's checkpoint blocks are
    released immediately (at 100 TB each leaked
    round is a vocabulary-scale block set, and a bench sweep holds
    them all until the ContextCleaner gets around to it).  Training
    stops early once no adjacent pair remains (every token is a single
    symbol): the vocabulary is at its fixed point, and the merge table
    simply ends — the previous form's crossJoin against an EMPTY top-1
    silently wiped the vocabulary instead."""
    spark = vocab.sparkSession
    merge_rows: list[tuple[int, str, str, int]] = []
    cur = vocab.localCheckpoint(eager=True)
    for r in range(rounds):
        top1 = (pair_counts(cur)
                .orderBy(F.desc("c"), F.asc("x"), F.asc("y")).limit(1)
                .first())
        if top1 is None:
            break  # pairs exhausted: fixed point, vocab unchanged
        x, y = top1["x"], top1["y"]
        merge_rows.append((r + 1, x, y, int(top1["c"])))
        nxt = (cur.select("tok", "cnt",
                          F.replace(F.col("seg"),
                                    F.lit(f" {x}  {y} "),
                                    F.lit(f" {x}{y} ")).alias("seg"))
               .localCheckpoint(eager=True))
        release_local_checkpoint(cur)
        cur = nxt
    merges = spark.createDataFrame(
        merge_rows,
        "rk int, left_sym string, right_sym string, pair_cnt bigint")
    return merges, cur
