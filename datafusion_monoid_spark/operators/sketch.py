"""Count-Min Sketch — a sketch that IS a monoid.

The CMS of a multiset is a depth x width count matrix; the CMS of a
union of multisets is the ELEMENT-WISE SUM of their matrices — identity
(zero matrix) + associative/commutative combine, i.e. exactly the
algebra of this engine's array monoid-reduce core
(reference src/monoid.rs:13-21).  That makes it partial-aggregation and
streaming safe by construction: per-partition sketches merge with the
same operation as per-row updates.

Construction is pure Catalyst: explode keys -> (depth, bucket) via the
deterministic cross-engine md5 hash family -> count.  The sketch table
(depth, bucket, cnt) is exactly reproducible in any engine, so the
DuckDB oracle verifies the sketch itself, and tests verify the
estimation guarantees (over-estimate only; error <= n/width w.h.p.).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators.dedup import md5_long, md5_long_sql

CMS_P = 4294967311  # same prime family as MinHash


def _cms_hash(key: Column, depth_i: int, width: int) -> Column:
    """h_i(key) = ((a_i * md5_64(key) + b_i) mod p) mod width."""
    a, b = 2 * depth_i + 1, (depth_i * 0x9E3779B9) % CMS_P
    h = md5_long(key) % F.lit(2**32)
    return ((F.lit(a) * h + F.lit(b)) % F.lit(CMS_P)) % F.lit(width)


def cms_hash_sql(expr: str, depth_i: int, width: int) -> str:
    """DuckDB twin of :func:`_cms_hash`."""
    a, b = 2 * depth_i + 1, (depth_i * 0x9E3779B9) % CMS_P
    return (f"((({md5_long_sql(expr)} % 4294967296) * {a} + {b}) "
            f"% {CMS_P}) % {width}")


def cms_build(df: DataFrame, key_col: str, depth: int = 4,
              width: int = 256) -> DataFrame:
    """(depth, bucket, cnt): the sketch matrix in long form.

    One explode (x depth) + one hash-partitioned count — linear, one
    shuffle, map-side combine.  Sketches built on any partitioning of
    the data merge by summing cnt per (depth, bucket)."""
    rows = df.select(F.col(key_col).alias("__k"))
    per_depth = rows.select(
        F.posexplode(F.array(*[
            _cms_hash(F.col("__k"), i, width) for i in range(depth)
        ])).alias("depth", "bucket"))
    return (per_depth.groupBy("depth", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_estimate(sketch: DataFrame, keys: DataFrame, key_col: str,
                 depth: int = 4, width: int = 256) -> DataFrame:
    """Point estimate per key: min over depths of the key's bucket count
    (classic CMS query — always >= the true count)."""
    probes = keys.select(
        F.col(key_col),
        F.posexplode(F.array(*[
            _cms_hash(F.col(key_col), i, width) for i in range(depth)
        ])).alias("depth", "bucket"))
    return (
        probes.join(sketch, ["depth", "bucket"], "left")
        .fillna(0, subset=["cnt"])
        .groupBy(key_col)
        .agg(F.min("cnt").alias("estimate"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog-style distinct sketch — also a monoid (element-wise MAX)
# ---------------------------------------------------------------------------

HLL_M = 256            # registers (2^8); std error ~ 1.04/sqrt(m) = 6.5%
HLL_IDX_BITS = 8
HLL_W_BITS = 52        # md5_long gives 60 bits; 8 go to the register index
#: alpha_m * m^2 * 2^53, inlined as ONE Python double literal on both the
#: Spark and DuckDB side so the final division is bit-identical
HLL_NUMER = 0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M * 2.0 ** 53


def _hll_idx_rho(key: Column) -> tuple[Column, Column]:
    """(register index, rank) from the deterministic md5 hash.

    rank = trailing zeros of the 52 remaining hash bits + 1 (same
    geometric distribution as classic HLL's leading-zero rank), computed
    as ``log2(w & -w)`` — exact in doubles because ``w & -w`` is a power
    of two.  All-integer bit ops (no float division on the 60-bit hash,
    which would round above 2^53)."""
    h = md5_long(key)
    idx = h.bitwiseAND(F.lit(HLL_M - 1)).cast("int")
    w = F.shiftright(h, HLL_IDX_BITS)
    rho = F.when(w == 0, F.lit(HLL_W_BITS + 1)) \
           .otherwise(F.log2(w.bitwiseAND(-w)).cast("int") + F.lit(1))
    return idx, rho


def hll_build(df: DataFrame, key_col: str) -> DataFrame:
    """(idx, rho): the register table — groupBy idx, MAX rank.

    MAX is the monoid: registers built on any partitioning of the data
    (or any stream prefix) merge by element-wise max, so the build is
    partial-aggregation and streaming safe by construction.  Duplicates
    need no pre-distinct (max absorbs them)."""
    idx, rho = _hll_idx_rho(F.col(key_col))
    return (df.select(idx.alias("idx"), rho.alias("rho"))
            .groupBy("idx").agg(F.max("rho").alias("rho")))


def hll_estimate(registers: DataFrame) -> DataFrame:
    """One row ``(nonzero_regs, hll_estimate)`` from a register table.

    The harmonic sum is computed EXACTLY in integers: sum of
    ``2^(53 - rho)`` over present registers plus ``2^53`` per empty
    register (every term <= 2^53, 256 terms => < 2^62, fits BIGINT), so
    the only float op is one literal/int division — bit-identical in any
    IEEE engine, which is what lets DuckDB oracle the estimate.  No
    small-range ln() correction (cross-engine libm last-ulp risk);
    ``nonzero_regs`` is emitted so callers can apply one driver-side."""
    s = registers.agg(
        F.count(F.lit(1)).alias("nreg"),
        F.sum(F.pow(F.lit(2.0), F.lit(HLL_W_BITS + 1) - F.col("rho"))
              .cast("bigint")).alias("s_present"))
    s_int = (F.col("s_present")
             + (F.lit(HLL_M) - F.col("nreg")) * F.lit(2 ** (HLL_W_BITS + 1)))
    return s.select(
        F.col("nreg").cast("bigint").alias("nonzero_regs"),
        F.floor(F.lit(HLL_NUMER) / s_int.cast("double"))
         .cast("bigint").alias("hll_estimate"))


# ---------------------------------------------------------------------------
# Bloom filter — the set-union monoid
# ---------------------------------------------------------------------------

BLOOM_K = 4          # hash functions
BLOOM_M = 1024       # bits


def bloom_build(df: DataFrame, key_col: str, k: int = BLOOM_K,
                m_bits: int = BLOOM_M) -> DataFrame:
    """(bit): the set bits of a Bloom filter over the key multiset.

    The sketch is the SET-UNION monoid (bit-OR): filters built on any
    partitioning of the data merge by unioning their bit sets — the
    ``distinct`` IS the merge, one partial-agg shuffle bounded by
    ``m_bits`` rows regardless of input size.  Same deterministic md5
    hash family as the CMS, so any engine rebuilds the identical bits."""
    rows = df.select(F.col(key_col).alias("__k"))
    return (rows.select(F.explode(F.array(*[
        _cms_hash(F.col("__k"), i, m_bits) for i in range(k)
    ])).alias("bit")).distinct())


def bloom_probe(bloom: DataFrame, keys: DataFrame, key_col: str,
                k: int = BLOOM_K, m_bits: int = BLOOM_M) -> DataFrame:
    """(key, maybe_present): classic membership — present iff ALL k bits
    are set.  No false negatives; false positives at the documented
    ~(1 - e^{-kn/m})^k rate, deterministically (same keys => same
    answer), which is what lets an oracle replay the probe."""
    probes = keys.select(
        F.col(key_col),
        F.explode(F.array(*[
            _cms_hash(F.col(key_col), i, m_bits) for i in range(k)
        ])).alias("bit"))
    hits = bloom.withColumn("__hit", F.lit(1))
    return (probes.join(hits, "bit", "left")
            .groupBy(key_col)
            .agg((F.count("__hit") == k).alias("maybe_present")))


def hll_corrected(nonzero_regs: int, raw_estimate: int) -> float:
    """Driver-side small-range correction (linear counting): the raw
    harmonic estimator overshoots when most registers are empty; for
    E <= 2.5m with empty registers, ``m * ln(m / zeros)`` is the
    standard replacement.  Kept OUT of the oracle-checked query (libm
    ``ln`` differs across engines in the last ulp); apply to the one
    collected row."""
    import math
    zeros = HLL_M - nonzero_regs
    if raw_estimate <= 2.5 * HLL_M and zeros > 0:
        return HLL_M * math.log(HLL_M / zeros)
    return float(raw_estimate)


# ---------------------------------------------------------------------------
# Fixed-bin histogram quantiles — the deterministic mergeable quantile
# sketch.  (t-digest/KLL give tighter error for the same space but their
# merge is order-sensitive, so two engines — or two partitionings — can
# disagree in the last centroid; a fixed-bin histogram is a pure count
# vector, i.e. the same monoid as CMS: identity = zeros, merge = +.)
# ---------------------------------------------------------------------------

def hist_build(df: DataFrame, val_col: str, lo: float, hi: float,
               bins: int) -> DataFrame:
    """(bin, cnt): fixed-width histogram of ``val_col`` over [lo, hi).

    Bin index is ``floor((v - lo) * bins / (hi - lo))`` clamped into
    [0, bins-1] — one identical IEEE-754 expression tree per engine,
    floor not round (no half-tie semantics).  One hash shuffle of at
    most ``bins`` groups; partial-agg (map-side combine) does almost
    all the work, so the reduce side is O(bins) regardless of row
    count — the 100 TB quantile plan."""
    v = F.col(val_col).cast("double")
    return (df.where(v.isNotNull())
            .groupBy(hist_bin(v, lo, hi, bins).alias("bin"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def hist_bin(v: Column, lo: float, hi: float, bins: int) -> Column:
    """The clamped fixed-width bin index (shared by the batch and
    streaming builders)."""
    b = F.floor((v.cast("double") - F.lit(lo)) * bins / F.lit(hi - lo))
    return F.least(F.greatest(b, F.lit(0)), F.lit(bins - 1)).cast("bigint")


def hist_quantiles(hist: DataFrame, q_micros: list[int], lo: float,
                   hi: float, bins: int) -> DataFrame:
    """(q_micro, bin, upper_edge) — the first bin whose cumulative
    count reaches ``q`` of the total, for each quantile (q in exact
    integer micro-units; the target rank is ``(total * q) div 1e6`` —
    no float comparison anywhere).

    The cumulative window runs over at most ``bins`` rows (the sketch,
    not the data), so the unpartitioned window is O(bins) — already
    reduced, never a data-scale sort."""
    from pyspark.sql import Window

    w = (Window.orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (hist
           .crossJoin(F.broadcast(
               hist.agg(F.sum("cnt").cast("bigint").alias("__total"))))
           .select("bin", F.sum("cnt").over(w).cast("bigint").alias("cum"),
                   "__total"))
    qs = F.explode(F.array(*[F.lit(q).cast("bigint")
                             for q in q_micros])).alias("q_micro")
    ranked = cum.select("bin", "cum", "__total", qs)
    rank = ((F.col("__total") * F.col("q_micro")
             - (F.col("__total") * F.col("q_micro")) % 1_000_000)
            / 1_000_000).cast("bigint")
    return (ranked.where(F.col("cum") >= F.greatest(rank, F.lit(1)))
            .groupBy("q_micro").agg(F.min("bin").alias("bin"))
            .select("q_micro", "bin",
                    F.round(F.lit(lo) + (F.col("bin") + 1)
                            * F.lit((hi - lo)) / F.lit(bins), 2)
                     .alias("upper_edge")))


def hist_build_grouped(df: DataFrame, group_col: str, val_col: str,
                       lo: float, hi: float, bins: int) -> DataFrame:
    """(group, bin, cnt): one fixed-bin histogram per group — same
    count-vector monoid, keyed; reduce state is O(groups x bins)."""
    v = F.col(val_col).cast("double")
    return (df.where(v.isNotNull())
            .groupBy(F.col(group_col).alias("grp"),
                     hist_bin(v, lo, hi, bins).alias("bin"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def hist_quantiles_grouped(hist: DataFrame, q_micros: list[int], lo: float,
                           hi: float, bins: int) -> DataFrame:
    """(grp, q_micro, bin, upper_edge) — :func:`hist_quantiles` per
    group: the cumulative window PARTITIONS by group (O(bins) rows per
    partition, never a global sort) and target ranks stay exact
    integer arithmetic."""
    from pyspark.sql import Window

    w = (Window.partitionBy("grp").orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    totals = hist.groupBy("grp").agg(F.sum("cnt").cast("bigint")
                                     .alias("__total"))
    cum = (hist.join(totals, "grp")
           .select("grp", "bin",
                   F.sum("cnt").over(w).cast("bigint").alias("cum"),
                   "__total"))
    qs = F.explode(F.array(*[F.lit(q).cast("bigint")
                             for q in q_micros])).alias("q_micro")
    ranked = cum.select("grp", "bin", "cum", "__total", qs)
    rank = ((F.col("__total") * F.col("q_micro")
             - (F.col("__total") * F.col("q_micro")) % 1_000_000)
            / 1_000_000).cast("bigint")
    return (ranked.where(F.col("cum") >= F.greatest(rank, F.lit(1)))
            .groupBy("grp", "q_micro").agg(F.min("bin").alias("bin"))
            .select("grp", "q_micro", "bin",
                    F.round(F.lit(lo) + (F.col("bin") + 1)
                            * F.lit((hi - lo)) / F.lit(bins), 2)
                     .alias("upper_edge")))


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch
# ---------------------------------------------------------------------------

#: Hash universe for KMV: md5-derived values folded into 2^40.  Wide
#: enough that collisions are negligible below ~10^9 distinct elements
#: (birthday bound), narrow enough that every estimator product
#: ((k-1) * SPACE, overlap * estimate) stays well inside BIGINT and the
#: engine-portable truncated division stays exact (< 2^53).
KMV_SPACE = 1 << 40


def _trunc_div(a: Column, b: Column) -> Column:
    """Engine-portable truncated integer division (non-negative here)."""
    return ((a - a % b) / b).cast("bigint")


def _k_smallest_distinct(col: str, k: int) -> Column:
    """Aggregate expression: the k smallest DISTINCT values of ``col``.

    ``collect_list``'s partial state is the group's full value list, so
    this is only ever applied to PRE-REDUCED relations (<= k values per
    group per Arrow batch after :func:`kmv_sketch`'s local pass) —
    never to a raw corpus-sized group, where the partial lists would
    push the whole relation through the shuffle."""
    return F.slice(F.array_distinct(F.array_sort(F.collect_list(col))), 1, k)


def kmv_sketch(df: DataFrame, group_col: str, elem_col: str,
               k: int = 128) -> DataFrame:
    """Per-group KMV sketch: the k smallest distinct 40-bit hashes of
    ``elem_col`` — (group, sketch ARRAY<BIGINT>).

    The sketch is a mergeable monoid (identity = empty array, combine =
    k-smallest-distinct of the union — associative, commutative,
    idempotent), so the build is the engine's partial/final shape with
    NO exact-distinct shuffle anywhere: hashing stays JVM-side, then an
    Arrow-batched local pass (the same per-partition-top-k discipline
    as ``similarity.brute_force_topk_np``) reduces every batch to <= k
    distinct values per group BEFORE anything shuffles — a plain
    ``groupBy(g, partition_id)`` would NOT do this, because
    ``collect_list``'s partial state is the full value list, so the
    entire corpus would cross the wire as map-side lists.  The merge
    pass then combines <= batches x k values per group."""
    el = df.select(F.col(group_col).alias("g"),
                   (md5_long(elem_col) % F.lit(KMV_SPACE)).alias("h"))
    g_type = el.schema["g"].dataType.simpleString()

    def local(batches):
        for pdf in batches:
            if len(pdf):
                yield (pdf.drop_duplicates()
                       .sort_values(["g", "h"])
                       .groupby("g", sort=False).head(k))

    loc = el.mapInPandas(local, schema=f"g {g_type}, h bigint")
    return (loc.groupBy("g")
            .agg(_k_smallest_distinct("h", k).alias("sketch"))
            .select(F.col("g").alias(group_col), "sketch"))


def kmv_merge(a: Column, b: Column, k: int = 128) -> Column:
    """Union of two KMV sketches: k smallest distinct of the merged
    arrays — the monoid combine, usable as an expression."""
    return F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, k)


def kmv_estimate(sketch: Column, k: int = 128) -> Column:
    """Distinct-count estimate from a KMV sketch: exact when the
    sketch is unsaturated (n < k), else the classic (k-1) * SPACE /
    h_k (Bar-Yossef et al. 2002) in exact truncated-integer form.
    h_k >= k - 1 whenever the sketch is saturated (k distinct values),
    so the division is never by zero."""
    n = F.size(sketch)
    hk = F.element_at(sketch, -1)
    return (F.when(n < k, n.cast("bigint"))
            .otherwise(_trunc_div(F.lit((k - 1) * KMV_SPACE), hk)))


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (the deterministic counter-based frequent-items
# summary; Misra & Gries 1982, merge analysis Agarwal et al. 2012)
# ---------------------------------------------------------------------------

def mg_partition_candidates(docs: DataFrame, arr_col: str,
                            k: int) -> DataFrame:
    """Per-partition Misra-Gries candidate keys over a token-array
    column: each partition streams its arrays through k counters
    (hit -> +1; room -> insert; full -> decrement ALL, drop zeros) and
    emits its surviving keys — at most ``k`` rows per partition.

    Guarantee (the reason two phases give an EXACT distributed
    algorithm): any key whose share within a partition exceeds
    1/(k+1) ends with a positive counter, and a key whose GLOBAL
    share exceeds 1/(k+1) must exceed it in at least one partition
    (weighted-average argument) — so the union of per-partition
    candidates is a superset of the true heavy hitters no matter how
    rows are partitioned.  Candidates depend on the partitioning;
    the exact verify pass makes the final answer invariant to it.

    Scale: the candidate relation is <= k x num_partitions rows
    (broadcastable at any corpus size); the full vocabulary never
    shuffles.  Python-side by necessity (a data-dependent counter
    eviction no Catalyst expression expresses), Arrow-batched via
    ``mapInPandas``.

    BATCH FORM (optimization round r14, guide §4.2): instead of
    streaming token-at-a-time through a Python dict, each Arrow batch
    is counted EXACTLY with one vectorized ``value_counts`` (an MG
    summary with zero error), then merged into the running summary by
    the mergeable-summaries combine (Agarwal et al. 2012): add
    weights, subtract the (k+1)-th largest, drop non-positives.  The
    per-partition superset guarantee is the merge theorem's: total
    undercount <= n_partition/(k+1), so any key whose share in the
    partition exceeds 1/(k+1) ends with positive weight; at most k
    keys can strictly exceed the (k+1)-th largest weight, so the
    <= k-per-partition bound holds.  The candidate SET can differ
    from the token-at-a-time form's (both are valid supersets;
    candidates were always partitioning-dependent) — the exact verify
    pass in :func:`mg_heavy_hitters` makes the final answer invariant
    to that, pinned in tests/test_pipeline_r6.py.
    """
    import numpy as np
    import pandas as pd

    def gen(batches):
        summ: pd.Series | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            arrs = [np.asarray(a) for a in pdf[arr_col]
                    if a is not None and len(a)]
            if not arrs:
                continue
            vc = pd.Series(np.concatenate(arrs)).value_counts()
            summ = vc if summ is None else summ.add(vc, fill_value=0)
            if len(summ) > k:
                thresh = summ.nlargest(k + 1).iloc[-1]
                summ = summ - thresh
                summ = summ[summ > 0]
        yield pd.DataFrame(
            {"tok": [] if summ is None else list(summ.index)})

    return docs.select(F.col(arr_col).alias(arr_col)) \
        .mapInPandas(gen, schema="tok string")


def mg_heavy_hitters(docs: DataFrame, arr_col: str, k: int) -> DataFrame:
    """Exact heavy hitters (share > 1/(k+1)) in two passes: MG
    candidates, then exact counts of ONLY the candidate keys.

    The exact pass filters the exploded stream against the broadcast
    candidate set BEFORE its aggregation, so the count shuffle carries
    <= k x num_partitions distinct keys instead of the vocabulary;
    the total-token denominator is a map-side sum of array sizes (no
    explode, 1-row broadcast).  Output: (tok, cnt, share_ppm) with
    ``cnt * (k+1) > total`` — exact integers, engine-independent.
    """
    cand = mg_partition_candidates(docs, arr_col, k).distinct()
    tot = docs.select(F.sum(F.size(arr_col)).cast("bigint").alias("n"))
    occ = docs.select(F.explode(arr_col).alias("tok"))
    return (occ.join(F.broadcast(cand), "tok")
            .groupBy("tok").agg(F.count(F.lit(1)).cast("bigint")
                                .alias("cnt"))
            .crossJoin(F.broadcast(tot))
            .where(F.col("cnt") * (k + 1) > F.col("n"))
            .select("tok", "cnt",
                    F.expr("cnt * 1000000 DIV n").cast("bigint")
                    .alias("share_ppm")))
