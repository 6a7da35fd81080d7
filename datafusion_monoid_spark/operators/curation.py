"""Corpus-curation operators for LLM training-data pipelines:
benchmark decontamination, repetition-based quality filters (the
Gopher/C4 family), TF-IDF term scoring, and vocabulary coverage.

Like the rest of the pipeline tier these have no reference analogue
(the reference is a monoid-reduce UDAF crate, src/monoid.rs); they
follow the same algebraic discipline — every aggregation is an
associative+commutative reduction, so Spark's partial aggregation is
safe by construction — and every ratio that feeds a threshold or an
ordering is computed in EXACT integer arithmetic (micro-units via
integer division), never floats, so any engine reproduces the
decision bit-for-bit.

Scale notes (100 TB posture):

* decontamination joins the TRAINING corpus against the EVAL n-gram
  set semi-join-style; the eval set is tiny (benchmarks are MBs, the
  corpus is TBs) so the hash set broadcasts and the corpus is never
  shuffled — a map-only scan at any scale;
* repetition features need per-(doc, token) counts: one explode +
  one hash shuffle keyed by (doc_id, token), group sizes bounded by
  document length — linear, no skew beyond the longest document;
* TF-IDF / coverage aggregate by (source, token) resp. token; heavy
  tokens are exactly what AQE's skew-join splitting handles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators.dedup import (
    md5_long,
    shingles_from_tokens,
    tokens,
    word_shingles,
)

MICRO = 1_000_000


def micro_ratio(num: Column, den: Column) -> Column:
    """Exact ``num * 1e6 div den`` as BIGINT — the cross-engine-stable
    carrier for a ratio (float division differs in the last ulp between
    engines; integer division cannot).

    Implemented with the identity ``(a - a % b) / b``: the numerator is
    exactly divisible, the quotient is an exact integer < 2**53, and
    double division of exactly-divisible integers below 2**53 is exact
    in IEEE-754.  (``F.expr("a DIV b")`` is the SQL-level equivalent;
    the identity form works on arbitrary Column expressions without
    name plumbing.)  DuckDB twin: ``(num * 1000000) // den``.
    """
    a = num.cast("bigint") * MICRO
    return ((a - a % den) / den).cast("bigint")


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def ngram_hashes(df: DataFrame, id_col: str, text_col: str,
                 n: int = 4) -> DataFrame:
    """(id, gram_hash) — one row per DISTINCT word n-gram per document,
    hashed to a BIGINT (md5-derived, engine-reproducible).  Hashing
    first means the join key is 8 bytes instead of an n-word string —
    the difference between shuffling grams and shuffling documents'
    worth of text at 100 TB."""
    return df.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("__g"),
    ).select(id_col, md5_long("__g").alias("gram_hash"))


def multi_ngram_hashes(df: DataFrame, id_col: str, text_col: str,
                       ns: tuple[int, ...],
                       keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """(id, *keep, n, gram_hash) — DISTINCT word n-gram hashes for ALL
    requested n values from ONE tokenization/scan: the grams for each n
    derive from the same token array and stack into one explode, so a
    pass that decontaminates at both the benchmark 4-gram and the
    GPT-3/PaLM-class production 13-gram setting costs exactly one
    corpus read (the :func:`ngram_hashes` scale story, times |ns| for
    free)."""
    toks = tokens(text_col)

    # closure factory, NOT a default-arg lambda: a two-parameter lambda
    # is F.transform's (element, index) form, which would bind n to the
    # array position instead of the captured gram size
    def _tag(nv: int):
        return lambda g: F.struct(F.lit(nv).alias("n"),
                                  md5_long(g).alias("gram_hash"))

    arr = F.concat(*[F.transform(shingles_from_tokens(toks, n), _tag(n))
                     for n in ns])
    return (df.select(F.col(id_col), *keep_cols, F.explode(arr).alias("__g"))
            .select(id_col, *keep_cols, F.col("__g.n").alias("n"),
                    F.col("__g.gram_hash").alias("gram_hash")))


def contaminated_ids(train_grams: DataFrame, eval_grams: DataFrame,
                     id_col: str) -> DataFrame:
    """Distinct train ids sharing >= 1 n-gram hash with the eval set.

    The eval side is deduplicated then BROADCAST: benchmark suites are
    MB-scale while the corpus is TB-scale, so the corpus side stays a
    map-only scan — no shuffle of training data at any scale.  (If the
    eval set ever outgrew broadcast, drop the hint and this becomes a
    plain shuffled semi-join — same semantics.)"""
    ev = F.broadcast(eval_grams.select("gram_hash").distinct())
    return (train_grams.join(ev, "gram_hash", "left_semi")
            .select(id_col).distinct())


# ---------------------------------------------------------------------------
# repetition / diversity quality features (Gopher-style)
# ---------------------------------------------------------------------------

def repetition_features(df: DataFrame, id_col: str, text_col: str,
                        keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-document repetition signals, all in exact integer micro-units:

    * ``top_token_micro``   — most-frequent-token fraction of tokens
    * ``distinct_micro``    — distinct-token fraction (lexical diversity)
    * ``top_bigram_micro``  — most-frequent-BIGRAM fraction (catches
      phrase-level boilerplate loops that unigrams miss)

    Single-pass shape: ONE tokenization, unigrams and bigrams tagged
    into one (doc, kind, term) explode, then count -> conditional
    per-doc aggregation.  Two shuffles total, no joins (a
    per-term-kind branch-and-join plan tokenizes the corpus once per
    branch and re-shuffles per join — measured 5x slower).  Both
    aggregations are partial-agg friendly; group sizes are bounded by
    document length, so there is no skew beyond the longest document.
    A per-doc sentinel row keeps empty documents in the output."""
    toks = tokens(text_col)
    tagged = F.concat(
        # sentinel: guarantees one group per document even at 0 tokens
        F.array(F.struct(F.lit("d").alias("kind"), F.lit("").alias("term"))),
        F.transform(toks, lambda t: F.struct(F.lit("u").alias("kind"),
                                             t.alias("term"))),
        # zip_with over shifted slices, not transform(sequence, slice):
        # the latter re-tokenizes per bigram position (interpreted HOF
        # lambdas don't CSE the toks subtree — optimization round r13)
        F.when(
            F.size(toks) >= 2,
            F.zip_with(F.slice(toks, 1, F.size(toks) - 1),
                       F.slice(toks, 2, F.size(toks) - 1),
                       lambda a, b: F.struct(
                           F.lit("b").alias("kind"),
                           F.concat_ws(" ", a, b).alias("term"))),
        ).otherwise(F.array().cast("array<struct<kind:string,term:string>>")),
    )
    terms = (df.select(F.col(id_col), *keep_cols,
                       F.explode(tagged).alias("__kt"))
             .select(id_col, *keep_cols, F.col("__kt.kind").alias("__kind"),
                     F.col("__kt.term").alias("__term")))
    counts = (terms.groupBy(id_col, *keep_cols, "__kind", "__term")
              .agg(F.count(F.lit(1)).alias("__c")))

    def agg_kind(kind: str, expr):
        return expr(F.when(F.col("__kind") == kind, F.col("__c")))

    stats = counts.groupBy(id_col, *keep_cols).agg(
        agg_kind("u", F.max).alias("tok_top"),
        agg_kind("u", F.sum).alias("tok_n"),
        F.sum(F.when(F.col("__kind") == "u", 1).otherwise(0))
         .alias("tok_distinct"),
        agg_kind("b", F.max).alias("bg_top"),
        agg_kind("b", F.sum).alias("bg_n"),
    )
    safe_n = F.greatest(F.coalesce(F.col("tok_n"), F.lit(0)), F.lit(1))
    safe_bn = F.greatest(F.coalesce(F.col("bg_n"), F.lit(0)), F.lit(1))
    return stats.select(
        id_col, *keep_cols,
        F.coalesce(F.col("tok_n"), F.lit(0)).cast("bigint").alias("n_tokens"),
        micro_ratio(F.coalesce(F.col("tok_top"), F.lit(0)), safe_n)
         .alias("top_token_micro"),
        micro_ratio(F.coalesce(F.col("tok_distinct"), F.lit(0)), safe_n)
         .alias("distinct_micro"),
        micro_ratio(F.coalesce(F.col("bg_top"), F.lit(0)), safe_bn)
         .alias("top_bigram_micro"),
    )


# thresholds: flag if the top token exceeds 12% of the document, the
# top bigram exceeds 6%, or fewer than half the tokens are distinct.
TOP_TOKEN_FLAG_MICRO = 120_000
TOP_BIGRAM_FLAG_MICRO = 60_000
LOW_DIVERSITY_FLAG_MICRO = 500_000


# ---------------------------------------------------------------------------
# TF-IDF term scoring (exact-integer idf variant)
# ---------------------------------------------------------------------------

def tfidf_terms(df: DataFrame, group_col: str, text_col: str,
                n_groups: int) -> DataFrame:
    """(group, token, tf, df, score): tf = token count within the
    group, df = number of groups containing the token, score =
    ``tf * (n_groups * 1e6 div df)``.

    The idf factor is the exact rational ``N/df`` in micro-units
    rather than ``log(N/df)`` — monotonic in the same direction, but
    reproducible bit-for-bit in any engine (``ln`` is not correctly
    rounded identically across libm implementations, which would flake
    a hash-compare on ranking ties).  Two shuffles: (group, token)
    counts, then token -> df; both partial-agg friendly."""
    tf = (df.select(F.col(group_col).alias("grp"),
                    F.explode(tokens(text_col)).alias("token"))
          .groupBy("grp", "token").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = (tf.groupBy("token")
             .agg(F.count(F.lit(1)).cast("bigint").alias("df")))
    idf = micro_ratio(F.lit(n_groups).cast("bigint"), F.col("df"))
    return (tf.join(dfreq, "token")
            .select("grp", "token", F.col("tf").cast("bigint").alias("tf"),
                    "df", (F.col("tf") * idf).cast("bigint").alias("score")))


# ---------------------------------------------------------------------------
# vocabulary coverage
# ---------------------------------------------------------------------------

def vocab_coverage(df: DataFrame, text_col: str, k: int = 50) -> DataFrame:
    """Top-k tokens by corpus frequency with cumulative-coverage
    micro-fractions: (rank, token, cnt, cum_cover_micro).

    The top-k is ``orderBy(...).limit(k)`` => TakeOrderedAndProject
    (per-partition top-k + merge — never a global sort), and the
    cumulative window runs on the k surviving rows only.  The corpus
    total rides along via a scalar cross-join (1-row broadcast)."""
    from pyspark.sql import Window

    counts = (df.select(F.explode(tokens(text_col)).alias("token"))
              .groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))
    total = counts.agg(F.sum("cnt").cast("bigint").alias("__total"))
    top = (counts.orderBy(F.desc("cnt"), F.asc("token")).limit(k)
           .crossJoin(F.broadcast(total)))
    w = (Window.orderBy(F.desc("cnt"), F.asc("token"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return top.select(
        F.row_number().over(
            Window.orderBy(F.desc("cnt"), F.asc("token"))).cast("int")
         .alias("rk"),
        "token", F.col("cnt").cast("bigint").alias("cnt"),
        micro_ratio(F.sum("cnt").over(w), F.col("__total"))
         .alias("cum_cover_micro"),
    )
