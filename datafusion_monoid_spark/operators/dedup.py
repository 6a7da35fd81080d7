"""Deduplication operators for large-scale training-data pipelines.

All hot paths are pure Catalyst column expressions (no Python UDFs):
deterministic md5-derived hashing (reproducible in any engine, which is
what makes the DuckDB oracles possible), explode + hash-partitioned
aggregation, and bucket-join candidate generation — the shapes that
survive 100 TB:

* exact dedup           — one shuffle on the content hash
* MinHash + LSH         — shingle -> 64 minhashes (one explode + one
                          partial-agg shuffle) -> banded bucket join;
                          never an all-pairs product
* SimHash + pigeonhole  — 64-bit simhash; Hamming<=7 candidates via
                          16-bit chunk buckets + Hamming-1 multiprobe
                          (pigeonhole over 4 chunks: some chunk differs
                          in <= floor(7/4)=1 bits => complete recall at
                          k<=7 with 2^16 buckets per chunk index),
                          exact Hamming filter after
* n-gram Jaccard        — exact verification primitive, used on
                          LSH/sampled candidates, not all pairs
* embedding cosine      — expression-level cosine on candidate pairs

The reference has no dedup surface; these follow the same algebraic
discipline as its monoid core (src/monoid.rs:13-21): every aggregation
used (min over shingle hashes, bit-vote sums) is an associative+
commutative reduction, so partial aggregation is safe by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# MinHash parameters — shared with the DuckDB oracle generators.
MINHASH_P = 4294967311          # prime > 2^32
MINHASH_NUM = 64
MINHASH_BANDS = 16              # 16 bands x 4 rows
MINHASH_ROWS = MINHASH_NUM // MINHASH_BANDS
GOLDEN32 = 0x9E3779B9


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# deterministic cross-engine hashing
# ---------------------------------------------------------------------------

def md5_long(col: Column | str) -> Column:
    """First 15 hex digits of md5 as a positive BIGINT (< 2^60).

    DuckDB twin: ``CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)`` —
    verified bit-identical.
    """
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("bigint")


def md5_long_sql(expr: str) -> str:
    """DuckDB SQL twin of :func:`md5_long`."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def normalize_text(col: Column | str) -> Column:
    """lower + trim + collapse runs of whitespace (oracle-reproducible)."""
    return F.regexp_replace(F.trim(F.lower(_c(col))), r"\s+", " ")


NORMALIZE_SQL = "regexp_replace(trim(lower({expr})), '\\s+', ' ', 'g')"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of normalized text, empties removed."""
    return F.filter(F.split(normalize_text(col), " "), lambda t: t != "")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an already-tokenized array —
    lets several n values share ONE tokenization (the 4-gram + 13-gram
    decontamination pass tokenizes the corpus once).

    Shape: ``arrays_zip`` of the n shifted slices, gram = concat of the
    zipped struct's fields.  The earlier ``transform(sequence(...),
    i -> concat_ws(slice(toks, i+1, n)))`` form re-evaluated the WHOLE
    ``toks`` expression per sequence element (higher-order-function
    lambdas are interpreted and their non-lambda-variable subtrees are
    not CSE'd), which for ``toks`` = the tokenize chain is O(len) regex
    passes per row — O(len^2) total; the zip form evaluates ``toks``
    once per slice (n+1 times per row, constant in document length).

    Guarded for texts shorter than n tokens (empty result, matching
    DuckDB's ``range``)."""
    m = F.size(toks) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, m).alias(f"t{i}")
                            for i in range(n)])
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                zipped,
                lambda s: F.concat_ws(" ", *[s[f"t{i}"] for i in range(n)]),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column."""
    return shingles_from_tokens(tokens(col), n)


def shingles_sql(expr: str, n: int = 3) -> str:
    """DuckDB twin of :func:`word_shingles` (over normalized text)."""
    norm = NORMALIZE_SQL.format(expr=expr)
    toks = f"list_filter(string_split({norm}, ' '), t -> t != '')"
    return (
        f"list_distinct(list_transform(range(0, len({toks}) - {n} + 1), "
        f"i -> array_to_string({toks}[i + 1 : i + {n}], ' ')))"
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_keys(df: DataFrame, text_col: str) -> DataFrame:
    """Attach the exact-dup group key: md5 of normalized text.

    Downstream: ``groupBy("dup_key")`` + keep min-id representative —
    one hash shuffle, fully scalable."""
    return df.withColumn("dup_key", F.md5(normalize_text(text_col)))


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------

def _minhash_params(i: int) -> tuple[int, int]:
    """(a_i, b_i) for h_i(x) = (a_i * x + b_i) mod p over x < 2^32."""
    return 2 * i + 1, (i * GOLDEN32) % MINHASH_P


def minhash_from_shingles(df: DataFrame, id_col: str, shingle_arr: Column,
                          num_hashes: int = MINHASH_NUM) -> DataFrame:
    """(id, sig ARRAY<BIGINT>[num_hashes]) over an ARBITRARY shingle
    array expression — the tier's signature kernel, shared verbatim by
    word shingles (:func:`minhash_signatures`) and the multimodal
    tier's BYTE shingles of a binary column (round 8): everything
    downstream of the shingle expression — hashing, the 64
    min-aggregates, banding, the bucket join — is modality-blind.

    One shuffle, map-side combine on every min() — group sizes are
    bounded by per-row shingle counts, so this scales linearly, and
    only (id, hash) pairs ever shuffle (never the underlying
    text/bytes)."""
    sh = df.select(
        _c(id_col).alias("__id"),
        F.explode(shingle_arr).alias("__s"),
    ).withColumn("__h", md5_long("__s") % F.lit(2**32))
    aggs = []
    for i in range(num_hashes):
        a, b = _minhash_params(i)
        aggs.append(F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MINHASH_P))
                    .alias(f"mh{i}"))
    wide = sh.groupBy("__id").agg(*aggs)
    return wide.select(
        F.col("__id").alias(id_col),
        F.array(*[f"mh{i}" for i in range(num_hashes)]).alias("sig"),
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = MINHASH_NUM,
                       shingle_n: int = 3) -> DataFrame:
    """(id, sig): word-shingle MinHash — the text instantiation of
    :func:`minhash_from_shingles`."""
    return minhash_from_shingles(df, id_col,
                                 word_shingles(text_col, shingle_n),
                                 num_hashes)


def minhash_band_buckets(sigs: DataFrame, id_col: str,
                         bands: int = MINHASH_BANDS,
                         rows: int = MINHASH_ROWS) -> DataFrame:
    """(id, band_idx, band_hash): the banded-LSH bucket relation —
    the join keys of :func:`lsh_candidate_pairs`, exposed so
    bucket-occupancy telemetry (:func:`bucket_occupancy_stats`)
    measures exactly the buckets the candidate join uses."""
    return sigs.select(
        id_col,
        F.posexplode(
            F.array(*[
                F.md5(F.concat_ws(",", *[
                    F.col("sig")[j * rows + r].cast("string") for r in range(rows)
                ])).alias(f"b{j}")
                for j in range(bands)
            ])
        ).alias("band_idx", "band_hash"),
    )


#: Floor and p99-multiplier for the occupancy-derived hot-bucket cap
#: of the banded-LSH candidate join (``dedup_lsh_occupancy_capped``).
#: Within-bucket pair work is quadratic in occupancy, so the cap is
#: set FROM the join's own telemetry — max over bands of the exact
#: p99 occupancy (``bucket_occupancy_stats``), times 8, floored at 16.
#: Driver tiers measure p99 = 2 / max_occ <= 5 at every sf, so the
#: derived cap (16) never bites there and capped == uncapped holds
#: hash-for-hash; a boilerplate corpus — ONE hot near-identical family
#: while the occupancy body stays thin — is exactly the regime where
#: max_occ detaches from p99 and the cap bounds the blow-up.  Uniform
#: cloning (every doc x c copies) lifts p99 WITH max, so the cap
#: deliberately does not fire there: that regime's cure is the
#: exact-dedup-first cascade (``pipeline_dedup_cascade``), not a
#: recall-trading bucket drop.
LSH_CAP_FLOOR = 16
LSH_CAP_MULT = 8


def lsh_candidate_pairs(sigs: DataFrame, id_col: str,
                        bands: int = MINHASH_BANDS,
                        rows: int = MINHASH_ROWS,
                        max_bucket: int | None = None,
                        max_bucket_rel: DataFrame | None = None
                        ) -> DataFrame:
    """Banded LSH: equal band-hash => candidate pair (id_a < id_b).

    Bucket join on (band_idx, band_hash) — candidates only, never the
    full cross product.  The banded relation carries ONLY
    (id, band_idx, band_hash): exploding the 64-element signature 16×
    through the self-join shuffle doubles-to-quadruples shuffle bytes for
    nothing — signatures re-attach to the deduplicated pairs afterwards
    (two narrow hash joins on id) and are CONSUMED IN PLACE: the output
    is the narrow (id_a, id_b, n_agree) relation, n_agree = count of
    agreeing minhash components.  Every downstream decision is a
    threshold or rounding of n_agree/MINHASH_NUM, so the 64-long arrays
    never persist or shuffle past this projection — persisting them
    with 25M sf10 candidate pairs measured ~25 GB columnar (heap OOM at
    32 g); the narrow form is ~600 MB.

    ``max_bucket`` (optional): drop (band_idx, band_hash) buckets
    larger than this from BOTH sides of the self-join — the hot-bucket
    guard ``simhash_hamming_pairs`` already carries, wired here for the
    banded join.  A pair found ONLY through
    dropped buckets is lost (documented recall trade, accounted by
    ``dedup_lsh_occupancy_capped``).  The broadcast side is the DROP
    list, anti-joined — hot buckets are few by definition (rows/cap at
    most), whereas the keep list is the whole bucket population; the
    occupancy agg itself shuffles on the same keys the candidate join
    was about to, so the guard adds one partial agg, not a new
    exchange pattern.

    ``max_bucket_rel`` (optional, r14): the cap as a ONE-ROW
    ``(cap BIGINT)`` relation instead of a driver scalar — the capped
    entry derives its cap from occupancy telemetry, and passing it
    relationally keeps the whole derive-cap -> drop -> join chain in
    ONE job with no driver collect on the path."""
    banded = minhash_band_buckets(sigs, id_col, bands, rows)
    if max_bucket is not None or max_bucket_rel is not None:
        sizes = banded.groupBy("band_idx", "band_hash").count()
        if max_bucket_rel is not None:
            drop = (sizes.crossJoin(F.broadcast(max_bucket_rel))
                    .where(F.col("count") > F.col("cap"))
                    .select("band_idx", "band_hash"))
        else:
            drop = sizes.where(F.col("count") > max_bucket) \
                        .select("band_idx", "band_hash")
        banded = banded.join(F.broadcast(drop),
                             ["band_idx", "band_hash"], "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    eq = F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int"))
    return (pairs.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b",
                    F.aggregate(eq, F.lit(0), lambda acc, v: acc + v)
                    .alias("n_agree")))


def estimated_jaccard(sig_a: Column | str, sig_b: Column | str,
                      num_hashes: int = MINHASH_NUM) -> Column:
    """Fraction of agreeing minhash components."""
    eq = F.zip_with(_c(sig_a), _c(sig_b), lambda x, y: (x == y).cast("int"))
    return F.aggregate(eq, F.lit(0), lambda acc, v: acc + v) / F.lit(float(num_hashes))


def estimated_jaccard_count(n_agree: Column | str,
                            num_hashes: int = MINHASH_NUM) -> Column:
    """Fraction of agreeing components from the precomputed ``n_agree``
    carried by :func:`lsh_candidate_pairs` — the identical int/num
    double division as :func:`estimated_jaccard`, so thresholds and
    ``round(est, 3)`` outputs replay bit-for-bit."""
    return _c(n_agree) / F.lit(float(num_hashes))


# ---------------------------------------------------------------------------
# one-sided MinHash probes (containment-oriented candidate index)
# ---------------------------------------------------------------------------

#: probes per document for the containment index.  A probe hit has
#: probability C (the pair's directional containment), INDEPENDENT of
#: the pair's Jaccard — the quantity banded MinHash tunes for, and the
#: reason the Jaccard-banded index structurally misses
#: short-quoted-in-long pairs.
CONTAIN_PROBES = 16

#: minimum probe hits (summed over BOTH directions) for a pair to reach
#: exact verification.  The hit count is a binomial containment
#: estimate: requiring >= 5 of 16 single-direction probes misses a
#: boundary pair (C = 0.6) with probability P(Binom(16,0.6) < 5) =
#: 4.9e-3 — an OVERSTATEMENT, since the other direction's probes add
#: to the count — while pruning the sub-threshold candidate tail ~1000x
#: (measured at sf0.1: 461 612 raw pairs -> 391 at min_hits=5, because
#: C ~ 0.2-0.4 pairs keep only 20-80% of a far smaller per-pair hit
#: mass).  Without it the exact verify pays array intersections for
#: every weakly-overlapping pair — 11.6 s vs ~4 s at sf0.1.
CONTAIN_MIN_HITS = 5


#: Pre-agg candidate-row budget for the capped containment probe —
#: the structural bound on the duplication pre-probe.  The probe
#: join's pre-aggregation candidate mass is >= n_docs x CONTAIN_PROBES
#: x (per-probe fan-out), and the corpus's exact-duplication factor is
#: a LOWER BOUND on every probe's fan-out (each of a doc's c exact
#: clones holds the identical shingle set, so any shingle's posting
#: list repeats c times).  At the measured sf10 x100-clone failure
#: (500k docs, measured dup factor 98) the estimate is 500k x 16 x 98
#: = 7.9e8 rows — and the estimate is a LOWER bound: the true
#: exchange spilled past the host's free disk ("No space left on
#: device", BASELINE.md round 12).  The sf1 x10-clone tier (50k docs,
#: dup factor 10 -> est 8e6) completes in 8.4 s.  1e8 splits the
#: measured regimes with ~an order of magnitude on each side; at 16
#: bytes/row it corresponds to ~1.6 GB of pre-agg (id_a, id_b)
#: exchange lower bound — what a probe join should be allowed to cost
#: before the exact-dedup-first cascade is strictly better.
CONTAIN_CAND_BUDGET = 100_000_000


def containment_candidate_guard(n_docs: int, dup_factor: float,
                                budget: int | None = None,
                                n_probes: int = CONTAIN_PROBES,
                                entry: str =
                                "dedup_containment_lsh_capped") -> int:
    """Duplication pre-probe for the capped containment entry: bound
    the probe join's candidate mass BEFORE paying for it.  Returns the
    estimated pre-agg candidate rows ``n_docs * n_probes * dup_factor``
    (the clone-rate lower bound on fan-out) and raises an actionable
    error naming the in-catalog cure when the estimate exceeds the
    budget — a clone-heavy corpus must be EXACT-DEDUPED before the
    probe join (the ``pipeline_containment_screen`` cascade, measured
    57.2 s at the same sf10 tier where the unrouted probe exhausted
    disk), because no df cap can help when every shingle's document
    frequency is inflated by the clone factor itself.

    The dup factor is one cheap agg (count / approx distinct content
    keys); at 100 TB it is free — the ingest-time exact-key index
    (``exactkey_postings_*``) already materializes the distinct-key
    count next to the corpus count."""
    if budget is None:
        budget = CONTAIN_CAND_BUDGET
    est = int(n_docs * n_probes * max(dup_factor, 1.0))
    if est > budget:
        raise RuntimeError(
            f"{entry}: refusing the probe join — "
            f"estimated pre-agg candidate mass {est:,} rows "
            f"(n_docs={n_docs:,} x {n_probes} probes x exact-dup "
            f"factor {dup_factor:.1f}) exceeds the "
            f"{budget:,}-row budget.  A corpus this clone-heavy "
            f"inflates every shingle's document frequency by the clone "
            f"factor, so the df cap cannot bound the fan-out (measured: "
            f"disk exhaustion at sf10 x100-clone, BASELINE.md r12).  "
            f"Run the exact-dedup-first cascade instead: "
            f"pipeline_containment_screen (collapses exact clones to "
            f"representatives before probing; 57.2 s at the same sf10 "
            f"tier) or pipeline_dedup_cascade."
        )
    return est


def shingle_hashes(df: DataFrame, id_col: str,
                   shingle_arr: Column) -> DataFrame:
    """(id, h): base 32-bit shingle hashes — the containment index's
    inverted relation AND its probe source.  Narrow (two ints per
    shingle occurrence); the text itself never flows downstream."""
    return (df.select(_c(id_col).alias(id_col),
                      F.explode(shingle_arr).alias("__s"))
            .select(id_col, (md5_long("__s") % F.lit(2**32)).alias("h")))


def probe_argmins_long(hashed: DataFrame, id_col: str,
                       n_probes: int = CONTAIN_PROBES) -> DataFrame:
    """(id, h): each document's DISTINCT one-sided MinHash probe
    hashes in join-ready long form — probe_i is the shingle hash
    achieving ``min h_i`` over the document's set (tie-free, see
    :func:`containment_probe_candidates`).  One partial agg (the 16
    ``min_by``s combine map-side) + one bounded explode: <= n_probes
    rows per document.  Shared by the in-session candidate index and
    the PERSISTED containment-index artifact (the argmin over a
    multiset equals the argmin over its support, so occurrence-level
    and distinct inputs produce identical probes)."""
    aggs = []
    for i in range(n_probes):
        a, b = _minhash_params(i)
        aggs.append(F.min_by(
            "h", (F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)
        ).alias(f"p{i}"))
    probes = hashed.groupBy(id_col).agg(*aggs)
    return probes.select(
        id_col,
        F.explode(F.array_distinct(F.array(
            *[f"p{i}" for i in range(n_probes)]))).alias("h"))


def containment_probe_candidates(hashed: DataFrame, id_col: str,
                                 n_probes: int = CONTAIN_PROBES,
                                 min_hits: int = CONTAIN_MIN_HITS,
                                 max_df: int | None = None
                                 ) -> DataFrame:
    """Candidate pairs (id_a < id_b) from ONE-SIDED MinHash probes —
    the containment-LSH construction (Broder 1997 resemblance-vs-
    containment; the size-partitioned sibling is LSH-Ensemble, Zhu et
    al. VLDB 2016): for each document A and each hash function h_i,
    A's probe is the shingle achieving ``min h_i`` over A's set.  That
    argmin shingle is a uniform random member of A, so
    ``P(probe_i(A) ∈ B) = |A ∩ B| / |A|`` — CONTAINMENT exactly, not
    Jaccard — and a pair survives when at least ``min_hits`` probes
    (summed over both directions) land in the other side's shingle
    set.  The hit count is a binomial estimate of the pair's
    containment, so the threshold is a cheap integer pre-filter that
    prunes the weak-overlap candidate tail before the expensive exact
    set arithmetic (see :data:`CONTAIN_MIN_HITS` for the measured
    1000x reduction and the bounded recall cost).

    Determinism: h_i(x) = (a_i·x + b_i) mod p is a bijection on Z_p
    and base hashes are distinct residues < 2^32 < p, so per-document
    argmins are tie-free — ``min_by`` here and ``arg_min`` in the SQL
    oracle replay bit-identically.  The probe is reported as the BASE
    hash (h_i is injective over it), so the index side stays the raw
    (id, h) relation — never exploded per hash function.

    Scale: the probe side is ≤ n_probes rows per document; the index
    side joins on the shingle hash, so a probe's fan-out is that
    shingle's document frequency — ``max_df`` caps it by dropping
    index-side postings of shingle hashes whose document frequency
    exceeds the cap BEFORE the candidate join (the 100 TB stop-shingle
    guard: one ubiquitous boilerplate shingle otherwise fans every
    probe that lands on it out to its full posting list).  The recall
    argument for why the cap is safe at a containment threshold like
    0.6: dropping a capped hash removes at most ONE of a probing doc's
    ≤ n_probes hit opportunities per occurrence, so pairs whose
    overlap is substantial keep nearly all their binomial hit mass,
    while pairs whose overlap is ONLY ubiquitous shingles — the pairs
    the cap silences — have true containment ≈ (few shared
    stop-shingles)/|A|, far below any useful threshold (asserted
    exactly against the all-pairs criterion in
    tests/test_pipeline_r11.py).  The df relation is one partial agg
    on the same key the join shuffles on; in production it is
    precomputed at ingest next to the postings.  One partial agg
    (probes) + one hash join + one distinct; never all-pairs."""
    plong = (probe_argmins_long(hashed, id_col, n_probes)
             .withColumnRenamed(id_col, "__qid"))
    idx = hashed.select(F.col(id_col).alias("__tid"), "h")
    if max_df is not None:
        # df is DOCUMENT frequency — count distinct docs per hash, so
        # the cap means the same thing whether the caller passes the
        # occurrence-level relation (as here) or a distinct set (as
        # the persisted-index build does): intra-doc repeats and
        # non-distinct inputs no longer inflate the count
        keep = (hashed.groupBy("h")
                .agg(F.countDistinct(id_col).alias("__df"))
                .where(F.col("__df") <= max_df)
                .select("h"))
        idx = idx.join(keep, "h", "left_semi")
    return (plong.join(idx, "h")
            .where(F.col("__qid") != F.col("__tid"))
            .select(F.least("__qid", "__tid").alias("id_a"),
                    F.greatest("__qid", "__tid").alias("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("__nh"))
            .where(F.col("__nh") >= min_hits)
            .select("id_a", "id_b"))


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (verification primitive)
# ---------------------------------------------------------------------------

def jaccard(sh_a: Column | str, sh_b: Column | str) -> Column:
    """|A ∩ B| / |A ∪ B| over shingle arrays (distinct)."""
    inter = F.size(F.array_intersect(_c(sh_a), _c(sh_b)))
    union = F.size(F.array_union(_c(sh_a), _c(sh_b)))
    return inter.cast("double") / union.cast("double")


# ---------------------------------------------------------------------------
# SimHash + Hamming pigeonhole
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash as two 32-bit halves (hi, lo) — avoids sign traps.

    Per-token 64-bit hash from two md5 windows; each bit votes +w/-w by
    token count w; bit = 1 if the vote sum is positive.  All built-in
    sums: partial-agg safe."""
    tok = df.select(
        _c(id_col).alias("__id"),
        F.explode(tokens(text_col)).alias("__t"),
    ).groupBy("__id", "__t").agg(F.count(F.lit(1)).alias("__w"))
    h_hi = (F.conv(F.substring(F.md5("__t"), 1, 8), 16, 10)).cast("bigint")
    h_lo = (F.conv(F.substring(F.md5("__t"), 9, 8), 16, 10)).cast("bigint")
    tok = tok.withColumn("__hi", h_hi).withColumn("__lo", h_lo)

    # vote sums and bit assembly as parsed SQL strings: 128 Column
    # constructions through py4j cost ~2 s of driver time PER RUN
    # (measured); two parser calls cost ~0.1 s.  Identical expressions.
    def votes(src: str, nbits: int, prefix: str) -> list[Column]:
        return [
            F.expr(f"sum(CASE WHEN (shiftright({src}, {i}) & 1) = 1 "
                   f"THEN __w ELSE -__w END)").alias(f"{prefix}{i}")
            for i in range(nbits)
        ]

    wide = tok.groupBy("__id").agg(*votes("__hi", 32, "vh"),
                                   *votes("__lo", 32, "vl"))

    def assemble(prefix: str) -> Column:
        terms = " + ".join(
            f"(CASE WHEN {prefix}{i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(32))
        return F.expr(f"cast(({terms}) as bigint)")

    return wide.select(F.col("__id").alias(id_col),
                       assemble("vh").alias("sim_hi"),
                       assemble("vl").alias("sim_lo"))


def simhash_chunk_buckets(sh: DataFrame, id_col: str) -> DataFrame:
    """(id, sim_hi, sim_lo, chunk_idx, chunk): the 4 x 16-bit pigeonhole
    chunk buckets of each SimHash — the build-side relation of
    :func:`simhash_hamming_pairs`, exposed so bucket-occupancy telemetry
    measures EXACTLY the buckets the join uses."""
    chunks = F.array(*[
        F.shiftright(half, 16 * k).bitwiseAND(F.lit(0xFFFF))
        for half in (F.col("sim_hi"), F.col("sim_lo"))
        for k in range(2)
    ])
    return sh.select(id_col, "sim_hi", "sim_lo",
                     F.posexplode(chunks).alias("chunk_idx", "chunk"))


def bucket_occupancy_stats(buckets: DataFrame,
                           idx_col: str = "chunk_idx",
                           key_col: str = "chunk") -> DataFrame:
    """Per-index bucket-occupancy telemetry: (idx, n_buckets, max_occ,
    p99_occ, n_rows).

    The operational dial for every bucketed candidate generator in this
    module: at 100 TB the question is not "is the join bucketed" but
    "how hot is the hottest bucket" — within-bucket work is quadratic in
    occupancy, so the ``max_bucket`` cap should be set from p99/max, not
    guessed.  ``p99_occ`` is the exact discrete percentile (occupancy at
    sorted position ceil(0.99 * n_buckets), ties broken by bucket key) —
    deterministic, hash-matchable on any engine.

    Plan: one partial-agg shuffle over (idx, bucket) — the same keys the
    candidate join shuffles on — then window + final agg over the
    bounded bucket-count relation (<= 4 x 2^16 rows here)."""
    sizes = buckets.groupBy(idx_col, key_col).agg(
        F.count(F.lit(1)).alias("occ"))
    w = Window.partitionBy(idx_col).orderBy("occ", key_col)
    ranked = (sizes
              .withColumn("rn", F.row_number().over(w))
              .withColumn("nb", F.count(F.lit(1)).over(
                  Window.partitionBy(idx_col))))
    return (ranked.groupBy(idx_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("occ").cast("bigint").alias("max_occ"),
        F.max(F.when(F.col("rn") == F.ceil(F.lit(0.99) * F.col("nb")),
                     F.col("occ"))).cast("bigint").alias("p99_occ"),
        F.sum("occ").cast("bigint").alias("n_rows"),
    ))


def simhash_hamming_pairs(sh: DataFrame, id_col: str,
                          max_hamming: int = 7,
                          max_bucket: int | None = None) -> DataFrame:
    """Candidate pairs via 16-bit-chunk buckets + Hamming-1 multiprobe,
    then exact Hamming (bit_count of xor) filter.

    Pigeonhole over 4 chunks of 16 bits: a pair with Hamming <= 7 has
    SOME chunk differing in at most floor(7/4) = 1 bit, so probing every
    single-bit flip of each probe-side chunk (17 keys/chunk; build side
    keeps the 4 exact chunks) gives **complete recall** for
    max_hamming <= 7 — same output as plain 8-bit pigeonhole chunks, but
    with 2^16 buckets per chunk index instead of 2^8: per-bucket
    population (and the quadratic within-bucket self-join that killed
    the 8-bit scheme at corpus scale) drops ~256x for ~8.5x more probe
    rows.  Raising max_hamming above 7 silently drops recall; widen the
    probe radius or add chunks instead.

    ``max_bucket`` (optional): drop buckets larger than this on BOTH
    sides — a hot-bucket guard for adversarial/boilerplate corpora.
    Pairs found ONLY through a dropped bucket are lost (documented
    recall trade: a pair survives iff SOME chunk index has their chunks
    within Hamming 1 and both buckets kept — asserted exactly in
    tests/test_dedup.py); at 100 TB set it from measured occupancy
    (:func:`bucket_occupancy_stats`), e.g. a small
    multiple of p99."""
    build = simhash_chunk_buckets(sh, id_col)
    if max_bucket is not None:
        sizes = build.groupBy("chunk_idx", "chunk").count()
        keep = sizes.where(F.col("count") <= max_bucket) \
                    .select("chunk_idx", "chunk")
        build = build.join(F.broadcast(keep), ["chunk_idx", "chunk"])
    probe = build.select(
        id_col, "sim_hi", "sim_lo", "chunk_idx",
        F.explode(F.array(
            F.col("chunk"),
            *[F.col("chunk").bitwiseXOR(F.lit(1 << bit)) for bit in range(16)]
        )).alias("chunk"),
    )
    l, r = probe.alias("l"), build.alias("r")
    ham = (
        F.bit_count(F.col("l.sim_hi").bitwiseXOR(F.col("r.sim_hi")))
        + F.bit_count(F.col("l.sim_lo").bitwiseXOR(F.col("r.sim_lo")))
    )
    return (
        l.join(r, (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
               & (F.col("l.chunk") == F.col("r.chunk"))
               & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
                ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
