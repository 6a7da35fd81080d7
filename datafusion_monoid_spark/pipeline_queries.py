"""Pipeline catalog — the training-data pipeline and host-engine entries
(TPC-H, dedup, similarity search, sketches, text, curation), as (Spark
callable, DuckDB oracle SQL) pairs.

This tier sits outside the driver's catalog: ``__spark_entry__`` and
``bench.py`` serve only the monoid entries of ``queries.py``, and
nothing in ``queries.py`` or the core imports this module.
:func:`catalog` returns those monoid entries first, then the entries
registered here, so the pipeline tests address one catalog.

Conventions for oracle stability (the entries are hash-compared with
their oracles after sorting columns by name):

* outputs are **scalar columns** — array results are posexploded to
  ``(group, pos, val)`` rows, because list-value serialization differs
  between engines;
* every computed column is aliased identically in Spark and SQL;
* aggregated doubles are ``round(x, 2)`` on both sides (different
  summation orders perturb the last float bits);
* positions are 0-based ints on both sides; counts are bigint on both.

Scale notes are in each query's docstring: the shapes here are the ones
that survive 100 TB — broadcast of dimension tables, partial
aggregation, pushdown-friendly filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType as T_LongType

from datafusion_monoid_spark import queries as _core
from datafusion_monoid_spark.queries import QueryFn, _emb, _row_groups, _t
from datafusion_monoid_spark.streaming.monoid_stream import _ts_dtype

#: every table the pipeline entries read, one parquet file each under
#: the scale-factor directory (TESTDATA.md); ``queries.TABLES`` holds
#: the monoid entries' three
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: name -> (spark_fn, oracle_sql | None); the monoid entries first
_CATALOG: dict[str, tuple[QueryFn, str | None]] = _core.catalog()


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _CATALOG[name] = (fn, oracle)
        return fn
    return deco


#: localCheckpoint-ed DataFrames created while BUILDING catalog entries
#: (bm25's tokenized base, the AQE demo's persisted dim).  Their storage
#: blocks outlive the entry's action and are otherwise reclaimed only
#: when the ContextCleaner GCs the plan — long-lived
#: sessions (bench loops) call :func:`release_pending_checkpoints`
#: between queries.
_PENDING_CHECKPOINTS: list[DataFrame] = []


def _track_ckpt(df: DataFrame) -> DataFrame:
    _PENDING_CHECKPOINTS.append(df)
    return df


def _ckpt(df: DataFrame) -> DataFrame:
    """Tracked eager localCheckpoint — the one-liner catalog entries
    pass as the ``ckpt`` hook of iterative operators (pq_fit, the
    IVFADC residual chain): materialize an index artifact once, let
    :func:`release_pending_checkpoints` reclaim it between sweep
    entries."""
    return _track_ckpt(df.localCheckpoint(eager=True))


def release_pending_checkpoints() -> int:
    """Free blocks of every tracked checkpoint; call only when prior
    catalog DataFrames are fully consumed.  Returns the release count."""
    from datafusion_monoid_spark.plans.inspect import release_local_checkpoint
    n = 0
    while _PENDING_CHECKPOINTS:
        if release_local_checkpoint(_PENDING_CHECKPOINTS.pop()):
            n += 1
    return n


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table, repartitioned up to full parallelism when
    the scan cannot yield enough splits.

    Parquet parallelizes by ROW GROUP: the MB-scale test corpus is one
    row group, so every tokenize-heavy expression stage would otherwise
    run on a single core (measured 2-5x slowdowns).  The split count
    comes from a driver-side footer read (:func:`_row_groups`) — no
    DataFrame->RDD conversion in the catalog build path.  The guard is
    a no-op at production scale: a TB corpus has orders of magnitude
    more row groups than cores, so the shuffle never fires; here it
    moves a few MB once."""
    d = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    rg = _row_groups(f"{sf_dir}/documents.parquet")
    if rg is not None and rg < par:
        d = d.repartition(par)
    return d


# ---------------------------------------------------------------------------
# Host-engine surface (SURVEY.md §2.2-2.3): scans, filters, joins, aggs,
# windows, rollup, set ops, sort/limit — all Catalyst built-ins; these
# queries pin that the surface works and stays optimized (pushdown,
# broadcast, partial agg).
# ---------------------------------------------------------------------------

@register("tpch_q1", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                    AS sum_qty,
       round(sum(l_extendedprice), 2)                               AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 2)                                    AS avg_qty,
       round(avg(l_extendedprice), 2)                               AS avg_price,
       round(avg(l_discount), 4)                                    AS avg_disc,
       count(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: the filter reaches the parquet scan (PushedFilters) and
    the 8 aggregates partial-aggregate map-side."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register("join_revenue_by_nation", """
SELECT r_name, n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""")
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way dimension join: customer/nation/region are broadcast so the
    fact table never shuffles for the join (only for the final agg)."""
    o = _t(spark, sf_dir, "orders")
    c = F.broadcast(_t(spark, sf_dir, "customer"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
    )


@register("sort_limit_top_orders", """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
""")
def sort_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-K: Spark plans TakeOrderedAndProject (per-partition
    top-K + merge), never a full sort."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with a ``sec`` epoch-seconds column.

    Some layouts store ``ts`` as TIMESTAMP(NANOS), which Spark reads
    only as LONG under ``nanosAsLong``; the streaming reader's probe
    refuses such a layout unless the caller has set that conf, and the
    raw int64 nanoseconds are normalized here to whole seconds — matching
    DuckDB's ``floor(epoch(ts))``.
    """
    ts = _ts_dtype(spark, f"{sf_dir}/events.parquet")
    e = _t(spark, sf_dir, "events")
    if isinstance(ts, T_LongType):
        sec = F.floor(F.col("ts") / F.lit(1_000_000_000)).cast("bigint")
    else:
        sec = F.unix_timestamp("ts").cast("bigint")
    return e.withColumn("sec", sec)


# ---------------------------------------------------------------------------
# Deduplication (training-data pipeline operators; no reference analogue —
# designed with the same partial-agg-safe discipline, SURVEY.md §7 phase 5)
# ---------------------------------------------------------------------------

from datafusion_monoid_spark.operators import dedup as dd
from datafusion_monoid_spark.functions.vector import cosine_similarity


#: (applicationId, sf_dir) -> (persisted signatures, persisted candidates).
#: Three catalog queries (minhash pairs, ngram-jaccard verify, clusters)
#: consume the SAME signature/candidate stage; computing it once and
#: persisting is what a real pipeline does and removes ~2/3 of the
#: shingle+hash scan work from a catalog run.
_MINHASH_SHARED: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def _minhash_shared(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _MINHASH_SHARED:
        docs = _docs(spark, sf_dir)
        sigs = dd.minhash_signatures(docs, "doc_id", "text").persist()
        cand = dd.lsh_candidate_pairs(sigs, "doc_id").persist()
        _MINHASH_SHARED[key] = (sigs, cand)
    return _MINHASH_SHARED[key]


def _lsh_sql_exprs() -> tuple[str, str, str, str]:
    """(mins, sig, bands, band_list) SQL expression fragments of the
    MinHash signature + banding replay — shared by the candidate CTE
    chain and the LSH index-lifecycle oracles."""
    mins = ",\n         ".join(
        f"min((h * {dd._minhash_params(i)[0]} + {dd._minhash_params(i)[1]}) "
        f"% {dd.MINHASH_P}) AS mh{i}"
        for i in range(dd.MINHASH_NUM))
    sig = "[" + ", ".join(f"mh{i}" for i in range(dd.MINHASH_NUM)) + "]"
    bands = ", ".join(
        "md5(" + " || ',' || ".join(
            f"CAST(sig[{j * dd.MINHASH_ROWS + r + 1}] AS VARCHAR)"
            for r in range(dd.MINHASH_ROWS)) + f") AS b{j}"
        for j in range(dd.MINHASH_BANDS))
    band_list = "[" + ", ".join(f"b{j}"
                                for j in range(dd.MINHASH_BANDS)) + "]"
    return mins, sig, bands, band_list


def _minhash_candidates_cte(src: str = "documents") -> str:
    """Shared DuckDB CTE chain: shingles -> minhash sigs -> bands ->
    candidate pairs (named ``cand``), over the ``src`` relation."""
    mins, sig, bands, band_list = _lsh_sql_exprs()
    return f"""
WITH msh AS (
  SELECT doc_id, unnest({dd.shingles_sql('text')}) AS s FROM {src}
),
hashed AS (SELECT doc_id, {dd.md5_long_sql('s')} % 4294967296 AS h FROM msh),
sigs AS (
  SELECT doc_id, {sig} AS sig FROM (
    SELECT doc_id, {mins} FROM hashed GROUP BY doc_id)
),
banded AS (
  SELECT doc_id, sig, unnest({band_list}) AS band_hash,
         unnest(range(0, {dd.MINHASH_BANDS})) AS band_idx
  FROM (SELECT doc_id, sig, {bands} FROM sigs)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)"""


#: Exact-containment verify tail over a ``cand (id_a, id_b)`` CTE —
#: shared verbatim by the Jaccard-banded and probe-indexed oracles.
_CONTAINMENT_VERIFY_TAIL: str = f"""
sh AS (SELECT doc_id, list_distinct({dd.shingles_sql('text')}) AS shg
       FROM documents),
c AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(a.shg, b.shg)) AS inter,
         len(a.shg) AS n_a, len(b.shg) AS n_b
  FROM cand c JOIN sh a ON c.id_a = a.doc_id
              JOIN sh b ON c.id_b = b.doc_id
  WHERE len(a.shg) > 0 AND len(b.shg) > 0
)
SELECT id_a, id_b,
       CAST(inter AS BIGINT) AS n_common,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST((inter * 1000000) // n_a AS BIGINT) AS cont_a_in_b_micro,
       CAST((inter * 1000000) // n_b AS BIGINT) AS cont_b_in_a_micro
FROM c
WHERE greatest((inter * 1000000) // n_a,
               (inter * 1000000) // n_b) >= 600000
"""


def _containment_oracle_sql() -> str:
    cand_sql = _minhash_candidates_cte()
    return f"""
{cand_sql},{_CONTAINMENT_VERIFY_TAIL}"""


def _containment_exact_verify(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact micro-integer containment verify over a candidate pair
    relation — the verification kernel shared by BOTH containment
    entries (Jaccard-banded candidates and the probe index): shingle
    stage semi-join-pruned to docs appearing in some pair, distinct-
    shingle counts and floor division only, both directions reported,
    pairs kept when either direction >= 0.6."""
    cand_ids = (cand.select(F.col("id_a").alias("doc_id"))
                .unionByName(cand.select(F.col("id_b").alias("doc_id")))
                .distinct())
    # MATERIALIZE the pruned shingle relation (candidate-bounded by
    # construction — docs appearing in some pair — so checkpointing it
    # is cheap at any scale).  Left lazy, the relation is referenced
    # from BOTH join sides and Catalyst's projection collapse inlines
    # the interpreted shingle transform into every downstream column
    # reference (84 transform() nodes in the executed plan; measured
    # 5.5 s for a 284-pair verify at sf0.1 vs 0.7 s materialized —
    # optimization round r13).
    sh = _track_ckpt(
        docs.join(cand_ids, "doc_id", "left_semi")
        .select("doc_id",
                F.array_distinct(dd.word_shingles("text")).alias("shg"))
        .localCheckpoint(eager=True))
    inter = F.size(F.array_intersect(F.col("a.shg"), F.col("b.shg"))) \
        .cast("bigint")
    n_a = F.size(F.col("a.shg")).cast("bigint")
    n_b = F.size(F.col("b.shg")).cast("bigint")
    j = (cand.join(sh.alias("a"), F.col("id_a") == F.col("a.doc_id"))
         .join(sh.alias("b"), F.col("id_b") == F.col("b.doc_id"))
         .where((n_a > 0) & (n_b > 0))
         .select("id_a", "id_b", inter.alias("n_common"),
                 n_a.alias("n_a"), n_b.alias("n_b"),
                 _idiv(inter * 1_000_000, n_a).alias("cont_a_in_b_micro"),
                 _idiv(inter * 1_000_000, n_b).alias("cont_b_in_a_micro")))
    return j.where(F.greatest("cont_a_in_b_micro",
                              "cont_b_in_a_micro") >= 600_000)


@register("dedup_containment_pairs", _containment_oracle_sql())
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle CONTAINMENT over the MinHash-LSH candidates — the
    ASYMMETRIC companion of the Jaccard verify (Broder 1997 separates
    resemblance from containment): ``C(A,B) = |A ∩ B| / |A|`` flags
    subset/quote relations that symmetric Jaccard structurally misses
    when lengths differ (a 100-shingle doc fully embedded in a
    2000-shingle doc has containment 1.0 but Jaccard ~0.05 — invisible
    to the resemblance tier, yet exactly the "document B quotes all of
    A" case a dedup policy must decide on).  Exact micro-integers
    (distinct-shingle counts, floor division), both directions
    reported, pairs kept when either direction >= 0.6.

    Scale: the candidate stage is the SHARED persisted MinHash/LSH build
    (subquadratic banded buckets, computed once per session for the
    whole dedup family), and the exact set arithmetic touches
    candidates only, with the shingle stage semi-join-pruned to docs
    that appear in some pair.  NOTE the recall caveat a production
    deployment must own: banded MinHash targets high JACCARD, so
    low-Jaccard/high-containment pairs can miss bucket collisions —
    closed in round 10 by the probe-indexed sibling
    ``dedup_containment_lsh``, whose one-sided-minhash candidate
    recall is a function of CONTAINMENT itself; this entry remains
    the zero-extra-index variant for pipelines already paying for the
    shared Jaccard LSH build."""
    docs = _docs(spark, sf_dir)
    _, cand_full = _minhash_shared(spark, sf_dir)
    return _containment_exact_verify(docs,
                                     cand_full.select("id_a", "id_b"))


def _containment_lsh_oracle_sql(max_df: int | None = None) -> str:
    n = dd.CONTAIN_PROBES
    probe_cols = ", ".join(
        f"arg_min(h, (h * {dd._minhash_params(i)[0]} + "
        f"{dd._minhash_params(i)[1]}) % {dd.MINHASH_P}) AS p{i}"
        for i in range(n))
    plist = "[" + ", ".join(f"p{i}" for i in range(n)) + "]"
    # the cap applies to the INDEX side of the candidate join only —
    # probes stay each document's own argmins (dd twin semantics);
    # df is count(DISTINCT doc_id) — document frequency, the dd twin's
    # definition — and the cap itself scales with the corpus:
    # max(floor, n_docs // 100), so the "~1% of the corpus" rationale
    # holds at every tier instead of only at sf0.01
    idx = ("(SELECT * FROM hashed WHERE h IN (SELECT h FROM hashed "
           "GROUP BY h HAVING count(DISTINCT doc_id) <= "
           f"greatest({max_df}, (SELECT count(*) FROM documents) // 100)))"
           if max_df is not None else "hashed")
    return f"""
WITH hashed AS (
  SELECT doc_id, {dd.md5_long_sql('s')} % 4294967296 AS h
  FROM (SELECT doc_id, unnest({dd.shingles_sql('text')}) AS s FROM documents)
),
probes AS (SELECT doc_id, {probe_cols} FROM hashed GROUP BY doc_id),
plong AS (SELECT DISTINCT doc_id, h
          FROM (SELECT doc_id, unnest({plist}) AS h FROM probes)),
cand AS (
  SELECT id_a, id_b FROM (
    SELECT least(q.doc_id, t.doc_id) AS id_a,
           greatest(q.doc_id, t.doc_id) AS id_b
    FROM plong q JOIN {idx} t USING (h)
    WHERE q.doc_id != t.doc_id)
  GROUP BY id_a, id_b
  HAVING count(*) >= {dd.CONTAIN_MIN_HITS}
),{_CONTAINMENT_VERIFY_TAIL}"""


@register("dedup_containment_lsh", _containment_lsh_oracle_sql())
def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup with a CONTAINMENT-ORIENTED candidate index —
    closes the recall caveat `dedup_containment_pairs` documents:
    banded MinHash collides on high JACCARD, so a
    100-shingle doc fully quoted inside a 2000-shingle doc (containment
    1.0, Jaccard ~0.05) can miss every bucket.  Here candidates come
    from ONE-SIDED MinHash probes (Broder 1997's resemblance/
    containment split; the size-partitioned generalization is
    LSH-Ensemble, Zhu et al. VLDB 2016): each doc's probe_i is its
    argmin shingle under hash h_i, a uniform random member of the
    SHORTER side wherever it lands, so ``P(probe_i(A) ∈ B) = |A∩B|/|A|``
    — the probe-hit count is a BINOMIAL ESTIMATE of the pair's
    containment C itself, independent of Jaccard.  Pairs reach exact
    verification at >= 5 hits (both directions summed): a boundary
    pair (C = 0.6) is missed with probability <= P(Binom(16,0.6) < 5)
    = 4.9e-3 (overstated — the reverse direction adds hits), while the
    weak-overlap candidate tail prunes ~1000x (sf0.1: 461 612 raw
    pairs -> 391 verified; without the pre-filter the exact set
    arithmetic dominated at 11.6 s vs ~4 s).  Verification is the SAME
    exact micro-integer kernel as the banded entry, candidates-only;
    the recall floor vs the exact all-pairs criterion (and the
    quoted-pair construction the banded index provably misses) is
    pinned in tests/test_pipeline_r10.py.

    Scale: the index relation is narrow (doc_id, shingle-hash) ints —
    text never shuffles; probes are one partial agg (16 tie-free
    ``min_by``s, map-side combined); the candidate join fans out per
    probe by that shingle's document frequency (cap df on the index
    side at 100 TB — see ``dd.containment_probe_candidates``); the
    exact verify is semi-join-pruned to candidate docs.  Never
    all-pairs anywhere."""
    docs = _docs(spark, sf_dir)
    hashed = _probe_hashes_shared(spark, sf_dir)
    cand = dd.containment_probe_candidates(hashed, "doc_id")
    return _containment_exact_verify(docs, cand)


#: df-cap FLOOR for the capped catalog entry.  The effective cap is
#: ``max(_CONTAIN_MAX_DF, n_docs // 100)`` — derived from corpus size
#: in BOTH engines so the "~1% of the corpus" recall rationale holds
#: at every tier (a fixed 64 meant ~1% at sf0.01 but
#: ~0.01% at sf10, a far more aggressive cut than validated; and the
#: sf10 x100-clone tier would empty a fixed df=64 index outright —
#: its clones alone push every shingle's docfreq past 64).  The floor
#: keeps tiny corpora from degenerating to cap < typical topical df.
_CONTAIN_MAX_DF = 64


@register("dedup_containment_lsh_capped",
          _containment_lsh_oracle_sql(max_df=_CONTAIN_MAX_DF))
def dedup_containment_lsh_capped(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The probe-indexed containment entry WITH the document-frequency
    cap engaged — the 100 TB stop-shingle guard as a driver-gated
    entry, capped identically in both engines so the cap SEMANTICS are
    hash-checked, not just unit-tested: index-side postings of shingle
    hashes whose DOCUMENT frequency (count of distinct docs — the one
    df definition shared with the persisted-index build)
    exceeds ``max(64, n_docs // 100)`` drop before the candidate join;
    probes stay each document's own argmins.  The cap scales with the
    corpus so the ~1%-of-corpus recall rationale holds at every tier:
    sf0.01 (5 000 docs) caps at the 64 floor, sf1 (500 000) at 5 000.
    Pairs whose candidate mass rode only on ubiquitous shingles lose
    it (their true containment is far below 0.6 — the recall argument
    at ``dd.containment_probe_candidates``); everything else verifies
    through the same exact micro-integer kernel.

    Scale: identical posture to ``dedup_containment_lsh`` plus one
    partial agg on the join key; at 100 TB the df relation is
    precomputed at ingest next to the postings and the cap is what
    bounds the hottest posting list.

    DUPLICATION PRE-PROBE: before paying for the
    probe join, one agg estimates the corpus's exact-duplication
    factor (count / approx-distinct content keys) — a LOWER BOUND on
    every probe's fan-out, since a doc's c exact clones repeat every
    posting c times.  When the implied candidate mass exceeds
    ``dd.CONTAIN_CAND_BUDGET`` the entry REFUSES with an error naming
    the exact-dedup-first cascade (``pipeline_containment_screen``) —
    the measured cure for the sf10 x100-clone tier where the unrouted
    join exhausted disk ("No space left on device", BASELINE.md r12);
    no df cap helps when clone mass inflates every shingle's df.  On
    clone-light corpora (every driver tier) the guard passes and the
    plan is byte-identical; the driver-side scalars stay model-sized
    (two counts)."""
    docs = _docs(spark, sf_dir)
    row = (dd.exact_dedup_keys(docs, "text")
           .agg(F.count(F.lit(1)).alias("n"),
                F.approx_count_distinct("dup_key").alias("k"))
           .collect()[0])
    n_docs = row["n"]
    dd.containment_candidate_guard(n_docs, n_docs / max(row["k"], 1))
    cap = max(_CONTAIN_MAX_DF, n_docs // 100)
    hashed = _probe_hashes_shared(spark, sf_dir)
    cand = dd.containment_probe_candidates(hashed, "doc_id",
                                           max_df=cap)
    return _containment_exact_verify(docs, cand)


#: (appId, sf_dir) -> persisted (doc_id, h) shingle-hash relation —
#: the containment-probe INDEX, built once per session like the
#: Jaccard family's _MINHASH_SHARED build: the relation feeds both the
#: probe agg and the candidate join's index side (two consumers in one
#: entry), and any other containment-oriented entry in the same run.
#: persist()+count(), not a tracked localCheckpoint: the bench loop's
#: release_pending_checkpoints() would free a tracked checkpoint's
#: blocks between entries and break a later same-session call.
_PROBE_HASH_SHARED: dict[tuple[str, str], DataFrame] = {}


def _probe_hashes_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PROBE_HASH_SHARED:
        docs = _docs(spark, sf_dir)
        h = dd.shingle_hashes(docs, "doc_id",
                              dd.word_shingles("text")).persist()
        h.count()  # materialize NOW: a lazy persist inside the single
        # downstream action would still evaluate the tokenize lineage
        # once per consumer (the bm25 eager-checkpoint finding)
        _PROBE_HASH_SHARED[key] = h
    return _PROBE_HASH_SHARED[key]


# -- containment-index pair (build / screen):
# the probe index as a PERSISTED ingest-time artifact plus the
# incremental new-batch screen — the containment analogue of
# ``dedup_incremental_newbatch``'s Jaccard screen, completing the
# round's headline operator into the catalog's fit/serve discipline
# (the LM / BPE / quality-classifier pattern).  New batch =
# doc_id % 11 == 0 (the incremental-screen convention); the index
# covers everything else.

#: DuckDB fragments shared by the three oracles: DISTINCT per-doc
#: shingle-hash sets for the index (old) and new sides.  DISTINCT is
#: deliberate — containment is over shingle SETS, the probe-hit count
#: becomes properly binomial (a probe landing on a twice-repeated
#: shingle counts once), and the persisted artifact shrinks.
_CIDX_OLD = ("SELECT DISTINCT doc_id, {mdl} % 4294967296 AS h FROM "
             "(SELECT doc_id, unnest({shg}) AS s FROM documents "
             "WHERE doc_id % 11 <> 0)")
_CIDX_NEW = ("SELECT DISTINCT doc_id, {mdl} % 4294967296 AS h FROM "
             "(SELECT doc_id, unnest({shg}) AS s FROM documents "
             "WHERE doc_id % 11 = 0)")


def _cidx_set_sql(which: str) -> str:
    t = _CIDX_OLD if which == "old" else _CIDX_NEW
    return t.format(mdl=dd.md5_long_sql("s"), shg=dd.shingles_sql("text"))


def _cidx_probes_sql(src_cte: str) -> str:
    """arg_min probe CTE pair over a (doc_id, h) CTE: wide argmins,
    then the distinct long form — the SQL twin of
    ``dd.probe_argmins_long``."""
    n = dd.CONTAIN_PROBES
    cols = ", ".join(
        f"arg_min(h, (h * {dd._minhash_params(i)[0]} + "
        f"{dd._minhash_params(i)[1]}) % {dd.MINHASH_P}) AS p{i}"
        for i in range(n))
    plist = "[" + ", ".join(f"p{i}" for i in range(n)) + "]"
    return (f"(SELECT DISTINCT doc_id, h FROM (SELECT doc_id, "
            f"unnest({plist}) AS h FROM (SELECT doc_id, {cols} "
            f"FROM {src_cte} GROUP BY doc_id)))")


def _contain_index_oracle_sql() -> str:
    return f"""
WITH idx AS ({_cidx_set_sql('old')}),
ip AS (SELECT doc_id, count(*) AS np
       FROM {_cidx_probes_sql('idx')} GROUP BY doc_id)
SELECT idx.doc_id,
       CAST(count(*) AS BIGINT) AS n_hashes,
       CAST(min(h) AS BIGINT) AS min_h,
       CAST(max(h) AS BIGINT) AS max_h,
       CAST(sum(h) AS BIGINT) AS sum_h,
       CAST(any_value(np) AS BIGINT) AS n_probes
FROM idx JOIN ip USING (doc_id)
GROUP BY idx.doc_id
"""


def _contain_screen_chain_sql(newh_sql: str) -> str:
    """CTE chain ``newh -> ... -> screen`` over a GIVEN new-side
    (doc_id, h) DISTINCT-set subquery — the screen's per-pair relation,
    shared by the incremental screen and the cascade-composed pipeline (which feeds exact-dedup SURVIVORS as the
    new side)."""
    return f"""newh AS ({newh_sql}),
idx AS ({_cidx_set_sql('old')}),
d1 AS (SELECT q.doc_id AS new_id, t.doc_id AS old_id
       FROM {_cidx_probes_sql('newh')} q JOIN idx t USING (h)),
d2 AS (SELECT t.doc_id AS new_id, p.doc_id AS old_id
       FROM {_cidx_probes_sql('idx')} p JOIN newh t USING (h)),
cand AS (SELECT new_id, old_id
         FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
         GROUP BY new_id, old_id
         HAVING count(*) >= {dd.CONTAIN_MIN_HITS}),
inter AS (SELECT c.new_id, c.old_id, count(*) AS n_common
          FROM cand c JOIN newh a ON c.new_id = a.doc_id
                      JOIN idx b ON c.old_id = b.doc_id AND a.h = b.h
          GROUP BY c.new_id, c.old_id),
nn AS (SELECT doc_id, count(*) AS n FROM newh GROUP BY doc_id),
no AS (SELECT doc_id, count(*) AS n FROM idx GROUP BY doc_id),
screen AS (
  SELECT new_id, old_id,
         CAST(n_common AS BIGINT) AS n_common,
         CAST(nn.n AS BIGINT) AS n_new,
         CAST(no.n AS BIGINT) AS n_old,
         CAST((n_common * 1000000) // nn.n AS BIGINT)
           AS cont_new_in_old_micro,
         CAST((n_common * 1000000) // no.n AS BIGINT)
           AS cont_old_in_new_micro
  FROM inter JOIN nn ON inter.new_id = nn.doc_id
             JOIN no ON inter.old_id = no.doc_id
  WHERE greatest((n_common * 1000000) // nn.n,
                 (n_common * 1000000) // no.n) >= 600000)"""


def _contain_screen_pairs_sql() -> str:
    """The screen's per-pair relation (per-doc independent: a pair's
    hits and verify depend only on the new doc's own hashes plus the
    static index)."""
    return f"""
WITH {_contain_screen_chain_sql(_cidx_set_sql('new'))}
SELECT new_id, old_id, n_common, n_new, n_old,
       cont_new_in_old_micro, cont_old_in_new_micro
FROM screen
"""


def _build_containment_index(spark: SparkSession, sf_dir: str,
                             overwrite: bool) -> tuple[str, str]:
    """Persist the containment probe index over the EXISTING corpus
    (doc_id % 11 != 0) as two parquet artifacts: the DISTINCT
    (doc_id, h) shingle-hash set relation — the index side of every
    future screen — and the <= 16-rows-per-doc probe relation
    (``dd.probe_argmins_long``), precomputed at INGEST time so the
    reverse direction (indexed-doc-quoted-inside-new-doc) never
    re-aggregates the corpus per screen — the rotated-corpus lesson
    applied to dedup.  The persisted index is UNCAPPED — df capping
    (the 100 TB stop-shingle guard) belongs to the PROBE side
    (``dd.containment_probe_candidates``), where the df relation can
    be recomputed per screen policy; a capped artifact served to an
    uncapped consumer through the freshness gate would silently
    diverge from its oracle (which led to dropping the
    never-called build-time ``max_df`` parameter).  Freshness requires
    BOTH _SUCCESS markers newer than the source, so a crash between
    the two writes re-runs the build rather than serving a
    mixed-generation index."""
    ipath = _artifact_path(sf_dir, "contain_index")
    ppath = _artifact_path(sf_dir, "contain_probes")
    src = f"{sf_dir}/documents.parquet"
    if (not overwrite and _artifact_fresh(ipath, src)
            and _artifact_fresh(ppath, src)):
        return ipath, ppath
    old = _docs(spark, sf_dir).where(F.col("doc_id") % 11 != 0)
    hashed = dd.shingle_hashes(old, "doc_id", dd.word_shingles("text"))
    # materialize the occurrence relation once: it feeds the distinct
    # write AND the probe agg (two jobs below)
    hashed = _track_ckpt(hashed.localCheckpoint(eager=True))
    idx = hashed.distinct()
    idx.write.mode("overwrite").parquet(ipath)
    (dd.probe_argmins_long(hashed, "doc_id")
     .write.mode("overwrite").parquet(ppath))
    return ipath, ppath


@register("containment_index_build", _contain_index_oracle_sql())
def containment_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILD the persisted containment probe index (see
    :func:`_build_containment_index`) and return the per-document
    digest of the ON-DISK state — (n_hashes, min/max/sum of hashes,
    probe count) per indexed doc — so the oracle verifies exactly what
    later screens will serve (sum_h stays < 2^42: <= ~1e3 distinct
    shingles/doc x 2^32).

    Scale: the build is one tokenize+explode over the corpus, one
    distinct, one 16-argmin partial agg — all map-side-combinable; the
    artifacts are narrow int relations (text never persists), written
    once per ingest and bucketed by h in a production deployment."""
    ipath, ppath = _build_containment_index(spark, sf_dir, overwrite=True)
    return _cidx_digest(spark, ipath, ppath)


def _cidx_digest(spark: SparkSession, ipath: str, ppath: str,
                 generation: str | None = None) -> DataFrame:
    """Per-document digest of an ON-DISK containment-index generation
    (postings + probes artifact pair): (n_hashes, min/max/sum of
    hashes, probe count) per doc — what every index-lifecycle entry
    returns so its oracle verifies exactly the state later screens
    will serve.  ``generation`` labels the rows when digests of
    several generations union into one report."""
    idx = spark.read.parquet(ipath)
    np_ = (spark.read.parquet(ppath).groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_probes")))
    d = (idx.groupBy("doc_id")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_hashes"),
              F.min("h").cast("bigint").alias("min_h"),
              F.max("h").cast("bigint").alias("max_h"),
              F.sum("h").cast("bigint").alias("sum_h"))
         .join(np_, "doc_id"))
    if generation is not None:
        d = d.select(F.lit(generation).alias("generation"), "*")
    return d


def _containment_screen_kernel(new_docs: DataFrame, idx: DataFrame,
                               iprobes: DataFrame) -> DataFrame:
    """Screen a batch of NEW documents against the persisted
    containment index: probe hits in BOTH directions (new-side probes
    vs the index sets, precomputed index-side probes vs the new sets)
    sum into the binomial hit count; pairs with >= CONTAIN_MIN_HITS
    reach the exact distinct-set verify, computed candidates-only and
    INDEX-NATIVE — the intersection is a relational join on (old_id,
    h) against the index slice semi-joined to candidate docs, so no
    shingle arrays are ever rebuilt for the corpus side.

    Scale: per-ingest work is O(|batch| x shingle-df) for candidates
    plus O(candidates x overlap) for the verify; the index relation is
    only ever hash-joined (bucketed by h / old_id in production) and
    the corpus text is never touched."""
    nh = _track_ckpt(
        dd.shingle_hashes(new_docs, "doc_id", dd.word_shingles("text"))
        .distinct().localCheckpoint(eager=True))
    return _containment_screen_from_hashes(nh, idx, iprobes)


def _containment_screen_from_hashes(nh: DataFrame, idx: DataFrame,
                                    iprobes: DataFrame) -> DataFrame:
    """The screen kernel over a PRECOMPUTED (doc_id, h) distinct-set
    relation for the new side — split out so the append path can
    tokenize the batch once and reuse the same relation for the screen
    AND the admitted postings (``nh`` must already be materialized;
    both entry points checkpoint it)."""
    d1 = (dd.probe_argmins_long(nh, "doc_id")
          .withColumnRenamed("doc_id", "new_id")
          .join(idx.withColumnRenamed("doc_id", "old_id"), "h")
          .select("new_id", "old_id"))
    d2 = (iprobes.withColumnRenamed("doc_id", "old_id")
          .join(nh.withColumnRenamed("doc_id", "new_id"), "h")
          .select("new_id", "old_id"))
    cand = (d1.unionByName(d2).groupBy("new_id", "old_id")
            .agg(F.count(F.lit(1)).alias("__nh"))
            .where(F.col("__nh") >= dd.CONTAIN_MIN_HITS)
            .select("new_id", "old_id"))
    # verify candidates-only: slice the index to candidate old docs
    # BEFORE any per-pair join, so the corpus-sized relation never
    # shuffles on a pair key
    idx_c = (idx.withColumnRenamed("doc_id", "old_id")
             .join(cand.select("old_id").distinct(), "old_id",
                   "left_semi"))
    inter = (cand.join(nh.withColumnRenamed("doc_id", "new_id"), "new_id")
             .join(idx_c, ["old_id", "h"])
             .groupBy("new_id", "old_id")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_common")))
    nn = nh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new"))
    no = idx_c.groupBy("old_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_old"))
    j = (inter.join(nn.withColumnRenamed("doc_id", "new_id"), "new_id")
         .join(no, "old_id")
         .select("new_id", "old_id", "n_common", "n_new", "n_old",
                 _idiv(F.col("n_common") * 1_000_000, F.col("n_new"))
                 .alias("cont_new_in_old_micro"),
                 _idiv(F.col("n_common") * 1_000_000, F.col("n_old"))
                 .alias("cont_old_in_new_micro")))
    return j.where(F.greatest("cont_new_in_old_micro",
                              "cont_old_in_new_micro") >= 600_000)


@register("dedup_containment_screen", _contain_screen_pairs_sql())
def dedup_containment_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental containment screen: today's batch (doc_id % 11 = 0,
    the ``dedup_incremental_newbatch`` convention) against the
    PERSISTED containment index (build-if-absent) — the daily-ingest
    operation the Jaccard screen cannot do: a new doc that quotes an
    indexed doc wholesale (or is itself quoted inside one) is caught
    regardless of the pair's Jaccard, because probe hits estimate
    CONTAINMENT in each direction (new-side probes for new-in-old,
    the artifact's precomputed index-side probes for old-in-new).
    Exact distinct-set verify on candidates only; both directions
    reported in exact micro-integers, kept when either >= 0.6."""
    ipath, ppath = _build_containment_index(spark, sf_dir,
                                            overwrite=False)
    new = _docs(spark, sf_dir).where(F.col("doc_id") % 11 == 0)
    return _containment_screen_kernel(
        new, spark.read.parquet(ipath), spark.read.parquet(ppath))


def _pipeline_containment_screen_sql() -> str:
    norm = dd.NORMALIZE_SQL.format(expr="text")
    surv_newh = ("SELECT DISTINCT doc_id, {mdl} % 4294967296 AS h FROM "
                 "(SELECT doc_id, unnest({shg}) AS s FROM surv)").format(
        mdl=dd.md5_long_sql("s"), shg=dd.shingles_sql("text"))
    return f"""
WITH nb AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 = 0),
reps AS (SELECT min(doc_id) AS doc_id FROM nb GROUP BY md5({norm})),
surv AS (SELECT nb.doc_id, nb.text FROM nb JOIN reps USING (doc_id)),
{_contain_screen_chain_sql(surv_newh)}
SELECT (SELECT count(*) FROM nb) AS n_batch,
       (SELECT count(*) FROM reps) AS n_exact_unique,
       (SELECT count(*) FROM screen) AS n_flagged_pairs,
       (SELECT count(DISTINCT new_id) FROM screen) AS n_flagged_docs,
       (SELECT count(*) FROM reps)
         - (SELECT count(DISTINCT new_id) FROM screen) AS n_clean_docs
"""


@register("pipeline_containment_screen", _pipeline_containment_screen_sql())
def pipeline_containment_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-DEDUP-FIRST containment screen — the cascade composed into
    the ingest gate: the arriving batch
    (doc_id % 11 == 0) is exact-deduped to min-id representatives
    (one content-hash shuffle), and only the SURVIVORS probe the
    persisted containment index.  This is the production cure for the
    clone-heavy-corpus quadratic the direct screen's sf10 adjudication
    documents: a doc with c exact copies in the batch otherwise sends
    all c through the probe join and every (copy, indexed-near-dup)
    pair through the exact verify — c x the candidate mass for zero
    information, since copies screen identically.  Reports the
    per-stage survivor counts (batch -> exact-unique -> flagged/clean)
    so the reduction is visible, the cascade-entry convention.

    Scale: stage 1 is one partial-agg hash shuffle over the batch;
    stage 2 is the standard screen kernel over the (possibly far
    smaller) survivor set — per-ingest work drops from
    O(|batch| x df) to O(|unique batch| x df) and the verify's
    candidate mass by the clone factor squared.  Oracle replays
    dedup, probes both directions, and the exact verify in one
    chain."""
    ipath, ppath = _build_containment_index(spark, sf_dir,
                                            overwrite=False)
    nb = _docs(spark, sf_dir).where(F.col("doc_id") % 11 == 0)
    keyed = dd.exact_dedup_keys(nb, "text")
    reps = keyed.groupBy("dup_key").agg(F.min("doc_id").alias("doc_id"))
    surv = nb.join(reps.select("doc_id"), "doc_id", "left_semi")
    flagged = _containment_screen_kernel(
        surv, spark.read.parquet(ipath), spark.read.parquet(ppath))
    fstats = flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_flagged_pairs"),
        F.countDistinct("new_id").cast("bigint").alias("n_flagged_docs"))
    nstats = nb.agg(F.count(F.lit(1)).cast("bigint").alias("n_batch"))
    rstats = reps.agg(F.count(F.lit(1)).cast("bigint")
                      .alias("n_exact_unique"))
    # three 1-row aggregates compose broadcast (the cascade-entry shape)
    return (nstats.crossJoin(rstats).crossJoin(fstats)
            .select("n_batch", "n_exact_unique", "n_flagged_pairs",
                    "n_flagged_docs",
                    (F.col("n_exact_unique") - F.col("n_flagged_docs"))
                    .cast("bigint").alias("n_clean_docs")))


# -- containment-index lifecycle (append / compact): the maintenance
# pair that completes the production ingest loop the screen started
# — screen the arriving batch, ADMIT its clean
# survivors' postings as an O(batch) generation, periodically COMPACT
# generations back into the base layout.  Mirrors the IVF postings
# build/append/compact discipline; the hash identity compaction ==
# build-from-scratch holds because both halves of the artifact are
# per-doc-independent (a doc's distinct hash set and its 16 probe
# argmins depend only on its own text), so union-of-generations IS the
# from-scratch relation over the union corpus.


def _contain_clean_chain_sql() -> str:
    """CTE chain ``nb -> reps -> surv -> screen -> cleanh``: the
    arriving batch exact-deduped to min-id representatives, screened
    against the base index (the pipeline entry's chain), and reduced
    to its CLEAN survivors' DISTINCT (doc_id, h) postings — the
    relation the append admits.  Shared by the append and compact
    oracles."""
    norm = dd.NORMALIZE_SQL.format(expr="text")
    surv_newh = ("SELECT DISTINCT doc_id, {mdl} % 4294967296 AS h FROM "
                 "(SELECT doc_id, unnest({shg}) AS s FROM surv)").format(
        mdl=dd.md5_long_sql("s"), shg=dd.shingles_sql("text"))
    return f"""nb AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 = 0),
reps AS (SELECT min(doc_id) AS doc_id FROM nb GROUP BY md5({norm})),
surv AS (SELECT nb.doc_id, nb.text FROM nb JOIN reps USING (doc_id)),
{_contain_screen_chain_sql(surv_newh)},
cleanh AS (SELECT doc_id, h FROM newh WHERE doc_id NOT IN
           (SELECT DISTINCT new_id FROM screen))"""


def _cidx_digest_sql(src: str, probes_np: str,
                     generation: str | None = None) -> str:
    gcol = (f"'{generation}' AS generation, "
            if generation is not None else "")
    return (f"SELECT {gcol}{src}.doc_id, "
            "CAST(count(*) AS BIGINT) AS n_hashes, "
            "CAST(min(h) AS BIGINT) AS min_h, "
            "CAST(max(h) AS BIGINT) AS max_h, "
            "CAST(sum(h) AS BIGINT) AS sum_h, "
            "CAST(any_value(np) AS BIGINT) AS n_probes "
            f"FROM {src} JOIN {probes_np} USING (doc_id) "
            f"GROUP BY {src}.doc_id")


def _contain_append_oracle_sql() -> str:
    return f"""
WITH {_contain_clean_chain_sql()},
bnp AS (SELECT doc_id, count(*) AS np
        FROM {_cidx_probes_sql('idx')} GROUP BY doc_id),
anp AS (SELECT doc_id, count(*) AS np
        FROM {_cidx_probes_sql('cleanh')} GROUP BY doc_id)
{_cidx_digest_sql('idx', 'bnp', 'base')}
UNION ALL
{_cidx_digest_sql('cleanh', 'anp', 'appended')}
"""


def _contain_compact_oracle_sql() -> str:
    return f"""
WITH {_contain_clean_chain_sql()},
allh AS (SELECT doc_id, h FROM idx UNION ALL
         SELECT doc_id, h FROM cleanh),
np AS (SELECT doc_id, count(*) AS np
       FROM {_cidx_probes_sql('allh')} GROUP BY doc_id)
{_cidx_digest_sql('allh', 'np')}
"""


def _build_exact_key_index(spark: SparkSession, sf_dir: str,
                           overwrite: bool = False) -> str:
    """Persist the EXISTING corpus's (doc_id % 11 != 0) distinct
    exact-dup keys (md5 of normalized text) — the exact-dedup stage's
    screen-side artifact, built once at ingest like the containment
    index so an always-on pipeline never re-hashes the corpus per
    batch.  Narrow one-column relation; in production bucketed by key
    so the screen's anti-join is co-located."""
    path = _artifact_path(sf_dir, "exact_key_index")
    src = f"{sf_dir}/documents.parquet"
    if not overwrite and _artifact_fresh(path, src):
        return path
    old = _docs(spark, sf_dir).where(F.col("doc_id") % 11 != 0)
    (dd.exact_dedup_keys(old, "text").select("dup_key").distinct()
     .write.mode("overwrite").parquet(path))
    return path


def _append_containment_postings(spark: SparkSession,
                                 sf_dir: str) -> tuple[str, str]:
    """ADMIT the screened batch's clean survivors into the containment
    index: exact-dedup the arriving batch (doc_id % 11 == 0), screen
    the survivors against the base index, and write the CLEAN docs'
    postings + probe argmins as an appended artifact generation.  The
    batch tokenizes ONCE — the checkpointed (doc_id, h) relation feeds
    the screen, the postings write, and the probe agg.  Idempotent
    overwrite: re-running an ingest replaces, never duplicates.
    Shared by the append entry and the compaction entry."""
    ipath, ppath = _build_containment_index(spark, sf_dir,
                                            overwrite=False)
    inew = _artifact_path(sf_dir, "contain_index_new")
    pnew = _artifact_path(sf_dir, "contain_probes_new")
    nb = _docs(spark, sf_dir).where(F.col("doc_id") % 11 == 0)
    keyed = dd.exact_dedup_keys(nb, "text")
    reps = keyed.groupBy("dup_key").agg(F.min("doc_id").alias("doc_id"))
    surv = nb.join(reps.select("doc_id"), "doc_id", "left_semi")
    nh = _track_ckpt(
        dd.shingle_hashes(surv, "doc_id", dd.word_shingles("text"))
        .distinct().localCheckpoint(eager=True))
    flagged = _containment_screen_from_hashes(
        nh, spark.read.parquet(ipath), spark.read.parquet(ppath))
    # the postings write IS the materialization of the clean relation
    # (previously a localCheckpoint job AND a write); the probe agg
    # derives from the just-written parquet (optimization round r13)
    (nh.join(flagged.select(F.col("new_id").alias("doc_id"))
             .distinct(), "doc_id", "left_anti")
     .write.mode("overwrite").parquet(inew))
    cleanh = spark.read.parquet(inew)
    (dd.probe_argmins_long(cleanh, "doc_id")
     .write.mode("overwrite").parquet(pnew))
    return inew, pnew


@register("containment_postings_append", _contain_append_oracle_sql())
def containment_postings_append(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """APPEND to the containment index without a rebuild — the
    index-maintenance operation every ingest runs after the screen:
    the batch's CLEAN survivors (exact-dedup reps the screen did not
    flag against the base index) land as their own postings + probes
    artifact generation, so tomorrow's screens see today's admissions
    without ever re-tokenizing the corpus.  Returns the per-document
    digest of the combined ON-DISK index, labeled by generation — the
    occupancy report that tells an operator when accumulated
    generations warrant a compaction.

    Scale: per-ingest work is O(|batch|) — one tokenize over the
    survivors (checkpointed once, feeding screen + both writes), the
    screen's candidate join, and two narrow int writes; the base
    artifacts are only ever READ.  The oracle replays batch -> dedup
    -> screen -> clean postings and digests both generations."""
    inew, pnew = _append_containment_postings(spark, sf_dir)
    ipath, ppath = _build_containment_index(spark, sf_dir,
                                            overwrite=False)
    return (_cidx_digest(spark, ipath, ppath, "base")
            .unionByName(_cidx_digest(spark, inew, pnew, "appended")))


@register("containment_postings_compact", _contain_compact_oracle_sql())
def containment_postings_compact(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """COMPACT the containment index: fold the appended postings
    generation back into the base layout, rewriting ONE artifact pair
    hash-clustered by the join key ``h`` (repartition + within-file
    sort — the bucketed-by-h layout a production screen's candidate
    join wants: each probe touches one h-cluster, and parquet min/max
    on h prunes row groups).  Because both halves are per-doc-
    independent, compact(base ∪ appended) is ROW-IDENTICAL to a
    from-scratch build over (old corpus ∪ clean survivors) — this
    entry's oracle IS that from-scratch digest, and the Spark-side
    identity is pinned hash-for-hash in tests/test_pipeline_r12.py
    (the ivf_postings_compact pattern).

    Scale: O(index), never O(corpus) — inputs are the narrow postings
    relations; one hash exchange on h each, then cell-local writes.
    Corpus text is touched only if a missing generation must first be
    built, which is the build/append entries' job."""
    ipath, ppath = _build_containment_index(spark, sf_dir,
                                            overwrite=False)
    inew, pnew = _append_containment_postings(spark, sf_dir)
    icomp = _artifact_path(sf_dir, "contain_index_compacted")
    pcomp = _artifact_path(sf_dir, "contain_probes_compacted")
    # the two compacted-layout writes are independent — run them as
    # concurrent driver threads (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    def _fold(src: str, gen: str, dst: str) -> None:
        (spark.read.parquet(src).unionByName(spark.read.parquet(gen))
         .repartition("h").sortWithinPartitions("h")
         .write.mode("overwrite").parquet(dst))

    with ThreadPoolExecutor(max_workers=2) as pool:
        fi = pool.submit(_fold, ipath, inew, icomp)
        fp = pool.submit(_fold, ppath, pnew, pcomp)
        fi.result(), fp.result()
    return _cidx_digest(spark, icomp, pcomp)


def _contain_admit_clean_ctes() -> str:
    """CTE chain ``oldk -> nb -> screen -> cleanh``: the admitted
    per-doc generation relation (exact-key screen, then containment
    screen vs the base index) that the compact-cascade oracle
    self-screens."""
    norm = dd.NORMALIZE_SQL.format(expr="text")
    nb_newh = ("SELECT DISTINCT doc_id, {mdl} % 4294967296 AS h FROM "
               "(SELECT doc_id, unnest({shg}) AS s FROM nb)").format(
        mdl=dd.md5_long_sql("s"), shg=dd.shingles_sql("text"))
    return f"""oldk AS (SELECT DISTINCT md5({norm}) AS k FROM documents
              WHERE doc_id % 11 <> 0),
nb AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 = 0
       AND md5({norm}) NOT IN (SELECT k FROM oldk)),
{_contain_screen_chain_sql(nb_newh)},
cleanh AS (SELECT doc_id, h FROM newh WHERE doc_id NOT IN
           (SELECT DISTINCT new_id FROM screen))"""


def _compact_cascade_oracle_sql() -> str:
    return f"""
WITH {_contain_admit_clean_ctes()},
scand AS (
  SELECT id_a, id_b FROM (
    SELECT least(q.doc_id, t.doc_id) AS id_a,
           greatest(q.doc_id, t.doc_id) AS id_b
    FROM {_cidx_probes_sql('cleanh')} q JOIN cleanh t USING (h)
    WHERE q.doc_id != t.doc_id)
  GROUP BY id_a, id_b HAVING count(*) >= {dd.CONTAIN_MIN_HITS}),
ssz AS (SELECT doc_id, count(*) AS n FROM cleanh GROUP BY doc_id),
sinter AS (SELECT c.id_a, c.id_b, count(*) AS n_common
           FROM scand c JOIN cleanh a ON a.doc_id = c.id_a
                        JOIN cleanh b ON b.doc_id = c.id_b
                                     AND a.h = b.h
           GROUP BY c.id_a, c.id_b),
sdrop AS (SELECT DISTINCT id_b AS doc_id
          FROM sinter JOIN ssz sa ON sinter.id_a = sa.doc_id
                      JOIN ssz sb ON sinter.id_b = sb.doc_id
          WHERE greatest((n_common * 1000000) // sa.n,
                         (n_common * 1000000) // sb.n) >= 600000),
keep AS (SELECT doc_id, h FROM cleanh WHERE doc_id NOT IN
         (SELECT doc_id FROM sdrop)),
allh AS (SELECT doc_id, h FROM idx UNION ALL
         SELECT doc_id, h FROM keep),
np AS (SELECT doc_id, count(*) AS np
       FROM {_cidx_probes_sql('allh')} GROUP BY doc_id)
{_cidx_digest_sql('allh', 'np')}
"""


def _containment_self_screen_drop(hashed: DataFrame) -> DataFrame:
    """(doc_id) — the GREATER id of every >= 0.6-containment pair
    among the given distinct (doc_id, h) relation (keep-min).  Probe
    candidates from the one-sided-MinHash construction; exact
    micro-integer verify is the intersection count via an equi-join on
    h between the two docs' hash sets — candidates only, index-native
    (no shingle arrays rebuilt).  ``hashed`` must be materialized."""
    cand = dd.containment_probe_candidates(hashed, "doc_id")
    sz = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    inter = (cand.join(hashed.select(F.col("doc_id").alias("id_a"), "h"),
                       "id_a")
             .join(hashed.select(F.col("doc_id").alias("id_b"),
                                 F.col("h").alias("__hb")),
                   "id_b")
             .where(F.col("h") == F.col("__hb"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_common")))
    j = (inter.join(sz.withColumnRenamed("doc_id", "id_a")
                    .withColumnRenamed("n", "n_a"), "id_a")
         .join(sz.withColumnRenamed("doc_id", "id_b")
               .withColumnRenamed("n", "n_b"), "id_b"))
    return (j.where(F.greatest(
        _idiv(F.col("n_common") * 1_000_000, F.col("n_a")),
        _idiv(F.col("n_common") * 1_000_000, F.col("n_b")))
        >= 600_000)
        .select(F.col("id_b").alias("doc_id")).distinct())


@register("containment_compact_cascade", _compact_cascade_oracle_sql())
def containment_compact_cascade(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """COMPACT-TIME CASCADE: the admitted generation (its per-doc
    screens are against STATIC artifacts, so two novel near-identical
    docs of the same generation are BOTH admitted) is self-screened at
    compaction — probe candidates among the admitted docs only, exact
    micro-integer containment verify, drop the greater id of every
    >= 0.6 pair (keep-min, the family convention) — and only then
    folded into the base layout, so duplicate admissions survive at
    most one compaction cadence.

    Scale: the self-screen is O(generation), never O(index) — probes,
    candidate join, and verify all run over the admitted relation
    (batch-bounded x cadence); the fold is the standard compact
    (union + one h exchange).  Returns the per-doc digest of the
    cascaded compacted artifact pair; the oracle replays admit ->
    self-screen -> fold in one chain."""
    ipath, ppath = _build_containment_index(spark, sf_dir,
                                            overwrite=False)
    # the admitted generation, recomputed per call (idempotent)
    old_keys = spark.read.parquet(_build_exact_key_index(spark, sf_dir))
    nb = (_docs(spark, sf_dir).where(F.col("doc_id") % 11 == 0)
          .select("doc_id", "text"))
    keep_docs = (dd.exact_dedup_keys(nb, "text")
                 .join(old_keys, "dup_key", "left_anti")
                 .select("doc_id", "text"))
    nh = _track_ckpt(
        dd.shingle_hashes(keep_docs, "doc_id", dd.word_shingles("text"))
        .distinct().localCheckpoint(eager=True))
    flagged = _containment_screen_from_hashes(
        nh, spark.read.parquet(ipath), spark.read.parquet(ppath))
    cleanh = _track_ckpt(
        nh.join(flagged.select(F.col("new_id").alias("doc_id"))
                .distinct(), "doc_id", "left_anti")
        .localCheckpoint(eager=True))
    drop = _containment_self_screen_drop(cleanh)
    kept = _track_ckpt(cleanh.join(drop, "doc_id", "left_anti")
                       .localCheckpoint(eager=True))
    icomp = _artifact_path(sf_dir, "contain_index_cascaded")
    pcomp = _artifact_path(sf_dir, "contain_probes_cascaded")
    # kept is checkpointed — the two cascaded-layout writes are
    # independent and run as concurrent driver threads (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    def _wr(df, dst: str) -> None:
        (df.repartition("h").sortWithinPartitions("h")
         .write.mode("overwrite").parquet(dst))

    with ThreadPoolExecutor(max_workers=2) as pool:
        fi = pool.submit(_wr, spark.read.parquet(ipath).unionByName(kept),
                         icomp)
        fp = pool.submit(_wr, spark.read.parquet(ppath).unionByName(
            dd.probe_argmins_long(kept, "doc_id")), pcomp)
        fi.result(), fp.result()
    return _cidx_digest(spark, icomp, pcomp)


# -- exact-key index lifecycle: the FOURTH index
# family to get the build / append / compact discipline — without an
# append, the exact-dup key index (``_build_exact_key_index``) cannot
# see a doc admitted in batch N at batch N+1's exact-key gate.  Keys are
# per-doc deterministic (md5 of normalized text), so the family's
# identity is the strongest of the four: compact(base ∪ generations)
# == DISTINCT keys over the union corpus, row-for-row.


_EXACTKEY_K64_SQL = "CAST(concat('0x', substr(k, 1, 8)) AS BIGINT)"


def _exactkey_digest(spark: SparkSession, path: str,
                     layer: str) -> DataFrame:
    """One-row digest of an on-disk key layer: count + lexicographic
    min/max + 32-bit numeric sum (first 8 hex chars of each key —
    32 bits keeps sum(k32) under INT64 even summed in DuckDB's INT128
    up to ~2^31 keys; a 60-bit carrier overflowed the oracle's final
    BIGINT cast at sf0.001 already) — enough to pin the layer's exact
    content against the oracle without shipping the keys themselves."""
    k64 = F.conv(F.substring(F.col("dup_key"), 1, 8), 16, 10) \
        .cast("bigint")
    return (spark.read.parquet(path)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                 F.min("dup_key").alias("min_key"),
                 F.max("dup_key").alias("max_key"),
                 F.sum(k64).cast("bigint").alias("sum_k64"))
            .select(F.lit(layer).alias("layer"), "n_keys",
                    "min_key", "max_key", "sum_k64"))


def _exactkey_digest_sql(cte: str, layer: str) -> str:
    return (f"SELECT '{layer}' AS layer, "
            f"CAST(count(*) AS BIGINT) AS n_keys, "
            f"min(k) AS min_key, max(k) AS max_key, "
            f"CAST(sum({_EXACTKEY_K64_SQL}) AS BIGINT) AS sum_k64 "
            f"FROM {cte}")


def _append_exactkey_postings(spark: SparkSession, sf_dir: str) -> str:
    """ADMIT the arriving batch's NOVEL exact-dup keys as an O(batch)
    artifact generation: distinct batch keys anti-joined against the
    base index, written idempotently (re-running an ingest replaces,
    never duplicates).  Shared by the append and compact entries."""
    base = _build_exact_key_index(spark, sf_dir, overwrite=False)
    gen = _artifact_path(sf_dir, "exact_keys_new")
    nb = _docs(spark, sf_dir).where(F.col("doc_id") % 11 == 0)
    (dd.exact_dedup_keys(nb, "text").select("dup_key").distinct()
     .join(spark.read.parquet(base), "dup_key", "left_anti")
     .write.mode("overwrite").parquet(gen))
    return gen


def _exactkey_append_oracle_sql() -> str:
    norm = dd.NORMALIZE_SQL.format(expr="text")
    return f"""
WITH oldk AS (SELECT DISTINCT md5({norm}) AS k FROM documents
              WHERE doc_id % 11 <> 0),
gen AS (SELECT DISTINCT md5({norm}) AS k FROM documents
        WHERE doc_id % 11 = 0
        AND md5({norm}) NOT IN (SELECT k FROM oldk))
{_exactkey_digest_sql('oldk', 'base')}
UNION ALL
{_exactkey_digest_sql('gen', 'appended')}
"""


@register("exactkey_postings_append", _exactkey_append_oracle_sql())
def exactkey_postings_append(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """APPEND to the exact-key index without a rebuild — the cheapest
    index-maintenance operation in the catalog, and the one every
    always-on ingest runs most often: the arriving batch's NOVEL keys
    (distinct md5-of-normalized-text not already in the base index)
    land as their own one-column artifact generation, so tomorrow's
    exact-key gates see today's admissions without re-hashing the
    corpus.  Returns the per-layer digest of the combined on-disk
    index — the occupancy report that tells an operator when
    accumulated generations warrant a compaction.

    Scale: per-ingest work is O(|batch|) — one md5 projection over
    the batch, one distinct, one anti-join against the base keys
    (broadcast-able: the BATCH side is small; in production the base
    is bucketed by key so the anti-join is co-located) and one narrow
    write.  The base index is only ever READ."""
    base = _build_exact_key_index(spark, sf_dir, overwrite=False)
    gen = _append_exactkey_postings(spark, sf_dir)
    return (_exactkey_digest(spark, base, "base")
            .unionByName(_exactkey_digest(spark, gen, "appended")))


def _exactkey_compact_oracle_sql() -> str:
    norm = dd.NORMALIZE_SQL.format(expr="text")
    return f"""
WITH allk AS (SELECT DISTINCT md5({norm}) AS k FROM documents)
{_exactkey_digest_sql('allk', 'compacted')}
"""


@register("exactkey_postings_compact", _exactkey_compact_oracle_sql())
def exactkey_postings_compact(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """COMPACT the exact-key index: fold the appended generation back
    into ONE artifact, rewritten hash-clustered by key (repartition +
    within-file sort — parquet min/max on the key prunes row groups,
    and a bucketed production layout makes the screen's anti-join
    co-located).  Keys are per-doc deterministic and the append admits
    exactly the batch's novel keys, so compact(base ∪ generation) is
    ROW-IDENTICAL to DISTINCT keys over the WHOLE corpus — this
    entry's oracle IS that from-scratch digest, and the Spark-side
    identity is pinned row-for-row in tests/test_pipeline_r13.py
    (the ivf/containment/lsh compact pattern).

    Scale: O(index) — inputs are one-column key relations; one hash
    exchange, then cell-local writes.  Corpus text is touched only if
    a missing generation must first be built (the append's job)."""
    base = _build_exact_key_index(spark, sf_dir, overwrite=False)
    gen = _append_exactkey_postings(spark, sf_dir)
    comp = _artifact_path(sf_dir, "exact_keys_compacted")
    (spark.read.parquet(base)
     .unionByName(spark.read.parquet(gen))
     .repartition("dup_key").sortWithinPartitions("dup_key")
     .write.mode("overwrite").parquet(comp))
    return _exactkey_digest(spark, comp, "compacted")


# -- banded-LSH (Jaccard) index lifecycle: the third index family to
# get the build / append / compact discipline (after IVF postings and
# the containment probe index) — the persisted signature + band-bucket
# artifacts `dedup_incremental_newbatch`'s docstring promises ("in
# production a persisted, bucketed index table") made real.  Per-doc
# independence (a doc's signature and band hashes depend only on its
# own shingles) gives the same compact == build-from-scratch identity.


def _lsh_index_ctes(prefix: str, pred: str) -> str:
    """CTE fragments ``{p}sigs (doc_id, sig)`` and ``{p}banded
    (doc_id, band_idx, band_hash)`` over ``documents WHERE pred`` —
    the SQL replay of the persisted LSH index artifacts, prefixed so
    old- and new-side chains coexist in one oracle."""
    mins, sig, bands, band_list = _lsh_sql_exprs()
    p = prefix
    return f"""{p}msh AS (SELECT doc_id, unnest({dd.shingles_sql('text')}) AS s
        FROM documents WHERE {pred}),
{p}hashed AS (SELECT doc_id, {dd.md5_long_sql('s')} % 4294967296 AS h
              FROM {p}msh),
{p}sigs AS (SELECT doc_id, {sig} AS sig FROM (
    SELECT doc_id, {mins} FROM {p}hashed GROUP BY doc_id)),
{p}banded AS (
  SELECT doc_id, band_hash, band_idx FROM (
    SELECT doc_id, unnest({band_list}) AS band_hash,
           unnest(range(0, {dd.MINHASH_BANDS})) AS band_idx
    FROM (SELECT doc_id, {bands} FROM {p}sigs)))"""


def _lsh_digest_sql(sigs: str, banded: str,
                    generation: str | None = None) -> str:
    gcol = (f"'{generation}' AS generation, "
            if generation is not None else "")
    return f"""SELECT {gcol}s.doc_id,
       CAST(list_aggregate(sig, 'sum') AS BIGINT) AS sig_sum,
       CAST(list_aggregate(sig, 'min') AS BIGINT) AS sig_min,
       CAST(list_aggregate(sig, 'max') AS BIGINT) AS sig_max,
       bd.n_bands, bd.n_buckets, bd.min_band, bd.max_band
FROM {sigs} s JOIN (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bands,
         CAST(count(DISTINCT band_hash) AS BIGINT) AS n_buckets,
         min(band_hash) AS min_band, max(band_hash) AS max_band
  FROM {banded} GROUP BY doc_id) bd USING (doc_id)"""


#: est-Jaccard admission threshold of the incremental screen — the
#: `dedup_incremental_newbatch` convention, shared by the lifecycle
_LSH_SCREEN_EST = 0.35


def _lsh_clean_ctes() -> str:
    """Old-side index + new-batch chains + the screen: ``cleansigs`` /
    ``cleanbanded`` are the batch docs NO old doc matches at
    est-Jaccard >= 0.35 through the band-bucket join — the relation
    the append admits.  Exact agree-count arithmetic: k/64 compares
    exactly against the threshold in both engines (64 = 2^6)."""
    agree = (f"len(list_filter(range(1, {dd.MINHASH_NUM + 1}), "
             f"i -> a.sig[i] = b.sig[i]))::DOUBLE / {dd.MINHASH_NUM}")
    return f"""{_lsh_index_ctes('o', 'doc_id % 11 <> 0')},
{_lsh_index_ctes('n', 'doc_id % 11 = 0')},
lcand AS (SELECT DISTINCT x.doc_id AS nid, y.doc_id AS oid
          FROM nbanded x JOIN obanded y
          ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash),
flagged AS (
  SELECT DISTINCT nid AS doc_id FROM lcand
  JOIN nsigs a ON a.doc_id = nid JOIN osigs b ON b.doc_id = oid
  WHERE {agree} >= {_LSH_SCREEN_EST}),
cleansigs AS (SELECT * FROM nsigs
              WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
cleanbanded AS (SELECT * FROM nbanded
                WHERE doc_id NOT IN (SELECT doc_id FROM flagged))"""


def _build_lsh_index(spark: SparkSession, sf_dir: str,
                     overwrite: bool = False) -> tuple[str, str]:
    """Persist the EXISTING corpus's (doc_id % 11 != 0) MinHash
    signatures and band-bucket postings — the LSH index as an
    ingest-time artifact pair, so the daily screen never recomputes
    the corpus's signatures.  The signature relation slices off the
    session-shared build (per-doc independence: the slice equals a
    fresh build over the old side).  In production the band relation
    is bucketed by (band_idx, band_hash) — the candidate join's key —
    and the signature relation by doc_id (the verify's point-lookup
    key)."""
    spath = _artifact_path(sf_dir, "lsh_sigs")
    bpath = _artifact_path(sf_dir, "lsh_bands")
    src = f"{sf_dir}/documents.parquet"
    if (not overwrite and _artifact_fresh(spath, src)
            and _artifact_fresh(bpath, src)):
        return spath, bpath
    sigs, _ = _minhash_shared(spark, sf_dir)
    # the signature write IS the materialization; bands derive from
    # the written parquet — one job fewer than ckpt+write+write (the
    # containment-append lesson, optimization round r13)
    (sigs.where(F.col("doc_id") % 11 != 0)
     .write.mode("overwrite").parquet(spath))
    (dd.minhash_band_buckets(spark.read.parquet(spath), "doc_id")
     .write.mode("overwrite").parquet(bpath))
    return spath, bpath


def _append_lsh_postings(spark: SparkSession,
                         sf_dir: str) -> tuple[str, str]:
    """ADMIT the screened batch's clean survivors into the LSH index:
    the arriving batch's signatures screen against the persisted
    artifacts (the `dedup_incremental_newbatch` shape — batch bands
    broadcast into the bucket join, est-Jaccard >= 0.35 verify on
    candidates only), and the UNFLAGGED docs' signatures + band
    postings land as an appended generation.  Idempotent overwrite."""
    spath, bpath = _build_lsh_index(spark, sf_dir)
    snew = _artifact_path(sf_dir, "lsh_sigs_new")
    bnew = _artifact_path(sf_dir, "lsh_bands_new")
    sigs, _ = _minhash_shared(spark, sf_dir)
    sig_new = _track_ckpt(sigs.where(F.col("doc_id") % 11 == 0)
                          .localCheckpoint(eager=True))
    b_new = dd.minhash_band_buckets(sig_new, "doc_id") \
        .withColumnRenamed("doc_id", "new_id")
    b_old = (spark.read.parquet(bpath)
             .withColumnRenamed("doc_id", "old_id"))
    pairs = (F.broadcast(b_new).join(b_old, ["band_idx", "band_hash"])
             .select("new_id", "old_id").dropDuplicates())
    sa = sig_new.select(F.col("doc_id").alias("new_id"),
                        F.col("sig").alias("sig_a"))
    sb = spark.read.parquet(spath).select(
        F.col("doc_id").alias("old_id"), F.col("sig").alias("sig_b"))
    flagged = (pairs.join(F.broadcast(sa), "new_id").join(sb, "old_id")
               .where(dd.estimated_jaccard("sig_a", "sig_b")
                      >= _LSH_SCREEN_EST)
               .select(F.col("new_id").alias("doc_id")).distinct())
    # the generation write IS the clean relation's materialization;
    # bands derive from the written parquet (one job fewer — the
    # containment-append lesson, optimization round r13)
    (sig_new.join(flagged, "doc_id", "left_anti")
     .write.mode("overwrite").parquet(snew))
    (dd.minhash_band_buckets(spark.read.parquet(snew), "doc_id")
     .write.mode("overwrite").parquet(bnew))
    return snew, bnew


def _lsh_digest(spark: SparkSession, spath: str, bpath: str,
                generation: str | None = None) -> DataFrame:
    """Per-document digest of an ON-DISK LSH index generation:
    signature checksums (sum/min/max of the 64 components — each
    < 2^32, the sum < 2^38) + band accounting (count, distinct
    buckets, lexicographic min/max of the md5 band hashes)."""
    sigs = spark.read.parquet(spath)
    acc = F.lit(0).cast("bigint")
    sd = sigs.select(
        "doc_id",
        F.aggregate("sig", acc, lambda a, x: a + x).alias("sig_sum"),
        F.array_min("sig").cast("bigint").alias("sig_min"),
        F.array_max("sig").cast("bigint").alias("sig_max"))
    bd = (spark.read.parquet(bpath).groupBy("doc_id")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands"),
               F.countDistinct("band_hash").cast("bigint")
               .alias("n_buckets"),
               F.min("band_hash").alias("min_band"),
               F.max("band_hash").alias("max_band")))
    d = sd.join(bd, "doc_id")
    if generation is not None:
        d = d.select(F.lit(generation).alias("generation"), "*")
    return d


@register("lsh_postings_append", f"""
WITH {_lsh_clean_ctes()}
{_lsh_digest_sql('osigs', 'obanded', 'base')}
UNION ALL
{_lsh_digest_sql('cleansigs', 'cleanbanded', 'appended')}
""")
def lsh_postings_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND to the LSH index without a rebuild: screen the arriving
    batch against the persisted artifacts (batch bands BROADCAST into
    the bucket join — the corpus-side postings never shuffle;
    est-Jaccard >= 0.35 verify on candidates only) and admit the clean
    survivors' signatures + band postings as their own generation.
    Returns the combined per-doc digest labeled by generation.

    Scale: per-ingest work is O(|batch| x bucket-occupancy) for the
    screen + O(|batch|) for the writes; the base artifacts are only
    ever READ.  The oracle replays sign -> band -> screen -> admit."""
    snew, bnew = _append_lsh_postings(spark, sf_dir)
    spath, bpath = _build_lsh_index(spark, sf_dir)
    return (_lsh_digest(spark, spath, bpath, "base")
            .unionByName(_lsh_digest(spark, snew, bnew, "appended")))


@register("lsh_postings_compact", f"""
WITH {_lsh_clean_ctes()},
allsigs AS (SELECT * FROM osigs UNION ALL SELECT * FROM cleansigs),
allbanded AS (SELECT * FROM obanded UNION ALL
              SELECT * FROM cleanbanded)
{_lsh_digest_sql('allsigs', 'allbanded')}
""")
def lsh_postings_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACT the LSH index: fold the appended generation into the
    base layout — band postings rewritten hash-clustered by the
    candidate join's key (band_hash), signatures by the verify's
    point-lookup key (doc_id).  Per-doc independence makes
    compact(base ∪ appended) row-identical to a from-scratch build
    over (old corpus ∪ admitted docs) — this entry's oracle IS that
    from-scratch digest, and the Spark-side identity is pinned in
    tests/test_pipeline_r12.py.

    Scale: O(index) — two narrow unions, one exchange each, cell-local
    writes; corpus text untouched."""
    spath, bpath = _build_lsh_index(spark, sf_dir)
    snew, bnew = _append_lsh_postings(spark, sf_dir)
    scomp = _artifact_path(sf_dir, "lsh_sigs_compacted")
    bcomp = _artifact_path(sf_dir, "lsh_bands_compacted")
    # the two compacted-layout writes are independent — run them as
    # concurrent driver threads (guide §2.6, the containment-compact
    # pattern; optimization round r13).  NOT safe to run concurrently
    # with a streaming entry: the folds read the session-global
    # spark.sql.shuffle.partitions, which a drained stream sets
    # to STREAM_SHUFFLE for their own duration — the
    # bench and the catalog run entries sequentially, which is the
    # assumption documented here.
    from concurrent.futures import ThreadPoolExecutor

    def _fold(base: str, gen: str, key: str, dst: str) -> None:
        (spark.read.parquet(base).unionByName(spark.read.parquet(gen))
         .repartition(key).sortWithinPartitions(key)
         .write.mode("overwrite").parquet(dst))

    with ThreadPoolExecutor(max_workers=2) as pool:
        fs = pool.submit(_fold, spath, snew, "doc_id", scomp)
        fb = pool.submit(_fold, bpath, bnew, "band_hash", bcomp)
        # surface BOTH folds' failures, not just the first future's
        # — wait on each, then raise the first error with
        # the other (if any) attached as context
        errs = []
        for f in (fs, fb):
            try:
                f.result()
            except Exception as e:  # noqa: BLE001 — re-raised below
                errs.append(e)
        if errs:
            if len(errs) == 2:
                raise errs[0] from errs[1]
            raise errs[0]
    return _lsh_digest(spark, scomp, bcomp)


@register("dedup_lsh_occupancy_capped", f"""
{_minhash_candidates_cte()},
sizes AS (SELECT band_idx, band_hash, count(*) AS occ
          FROM banded GROUP BY band_idx, band_hash),
ranked AS (
  SELECT band_idx, band_hash, occ,
         row_number() OVER (PARTITION BY band_idx
                            ORDER BY occ, band_hash) AS rn,
         count(*) OVER (PARTITION BY band_idx) AS nb
  FROM sizes),
p99 AS (SELECT band_idx,
               max(CASE WHEN rn = CAST(ceil(0.99 * nb) AS BIGINT)
                        THEN occ END) AS p99_occ
        FROM ranked GROUP BY band_idx),
capv AS (SELECT greatest({dd.LSH_CAP_FLOOR},
                         {dd.LSH_CAP_MULT} * max(p99_occ)) AS cap
         FROM p99),
kept AS (SELECT banded.doc_id, banded.band_idx, banded.band_hash
         FROM banded JOIN sizes USING (band_idx, band_hash)
              CROSS JOIN capv
         WHERE occ <= cap),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM kept a JOIN kept b
            ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id),
np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs)
SELECT CAST(s.band_idx AS INT) AS band_idx,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN occ > cap THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped_buckets,
       CAST(sum(CASE WHEN occ > cap THEN occ ELSE 0 END) AS BIGINT)
         AS n_dropped_rows,
       CAST(any_value(cap) AS BIGINT) AS cap,
       any_value(np.n_pairs) AS n_pairs
FROM sizes s CROSS JOIN capv CROSS JOIN np
GROUP BY s.band_idx
""")
def dedup_lsh_occupancy_capped(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TELEMETRY -> ACTION for the banded-LSH candidate join: bucket
    occupancy telemetry alone measures hot buckets without acting on
    them.  This entry derives the
    hot-bucket cap FROM the join's own occupancy telemetry — cap =
    max(floor 16, 8 x the exact p99 occupancy, max over bands) — and
    runs the candidate join with buckets above the cap dropped from
    both sides (``lsh_candidate_pairs(max_bucket=...)``, broadcast
    anti-join on the small DROP list).  Output is the per-band
    accounting an operator audits the recall trade with: bucket count,
    dropped buckets/rows, the derived cap, and the surviving candidate
    pair count.

    On every driver tier p99 = 2 and max_occ <= 5, so the derived cap
    (16) drops NOTHING and capped == uncapped holds pair-for-pair
    (pinned in tests/test_pipeline_r13.py).  The cap exists for the
    BOILERPLATE regime — one near-identical family heats a few buckets
    quadratically while the occupancy body stays thin, so p99 stays
    small and the cap bites exactly the hot family.  Uniform cloning
    lifts p99 with max and deliberately does NOT trip the cap: that
    regime's cure is the exact-dedup-first cascade
    (``pipeline_dedup_cascade``), the same adjudication as the
    containment probe's duplication pre-probe.

    Scale: the occupancy agg shuffles on exactly the keys the
    candidate join shuffles on (one added partial agg, no new exchange
    pattern); the drop list is bounded above by rows/cap; the p99
    derivation windows over the bounded bucket-size relation.  The
    derived cap is the entry's one driver-side scalar (the
    model-constant discipline).

    DUPLICATION PRE-PROBE: because uniform cloning lifts p99 with max,
    the cap deliberately cannot bound a clone-heavy corpus — so this
    entry carries the same fail-fast guard as the capped containment
    probe (one cheap agg, `containment_candidate_guard` with the 16
    bands as the probe count): a corpus whose exact-dup factor implies
    a candidate mass past the budget refuses with the error naming the
    exact-dedup-first cascade instead of dying in the bucket
    self-join."""
    docs_row = (dd.exact_dedup_keys(_docs(spark, sf_dir), "text")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.approx_count_distinct("dup_key").alias("k"))
                .collect()[0])
    dd.containment_candidate_guard(
        docs_row["n"], docs_row["n"] / max(docs_row["k"], 1),
        n_probes=dd.MINHASH_BANDS, entry="dedup_lsh_occupancy_capped")
    sigs, _ = _minhash_shared(spark, sf_dir)
    banded = dd.minhash_band_buckets(sigs, "doc_id")
    # the cap stays RELATIONAL (one-row capv crossJoined everywhere
    # the scalar was a literal, exactly the oracle's shape): the r13
    # form collected p99 to the driver before it could even PLAN the
    # accounting and the capped join, serialising a driver round-trip
    # into the path — now the guard collect is
    # the entry's only driver action before the final job, and the
    # p99 derivation / accounting / capped join all evaluate inside
    # that one job.
    capv = (dd.bucket_occupancy_stats(banded, "band_idx", "band_hash")
            .agg(F.max("p99_occ").alias("p"))
            .select(F.greatest(
                F.lit(dd.LSH_CAP_FLOOR).cast("bigint"),
                (F.lit(dd.LSH_CAP_MULT) * F.col("p")).cast("bigint"))
                .alias("cap")))
    sizes = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("occ"))
    acct = (sizes.crossJoin(F.broadcast(capv))
            .groupBy("band_idx").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
                F.sum((F.col("occ") > F.col("cap")).cast("int"))
                .cast("bigint").alias("n_dropped_buckets"),
                F.sum(F.when(F.col("occ") > F.col("cap"), F.col("occ"))
                      .otherwise(0)).cast("bigint")
                .alias("n_dropped_rows"),
                F.first("cap").alias("cap")))
    np_ = (dd.lsh_candidate_pairs(sigs, "doc_id", max_bucket_rel=capv)
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs")))
    return (acct.select(F.col("band_idx").cast("int").alias("band_idx"),
                        "n_buckets", "n_dropped_buckets",
                        "n_dropped_rows", "cap")
            .crossJoin(F.broadcast(np_)))


_CASCADE_EST = f"""len(list_filter(range(1, {dd.MINHASH_NUM + 1}),
                   i -> sig_a[i] = sig_b[i]))::DOUBLE / {dd.MINHASH_NUM}"""


@register("pipeline_dedup_cascade", f"""
WITH reps AS (
  SELECT min(doc_id) AS doc_id
  FROM documents GROUP BY md5({dd.NORMALIZE_SQL.format(expr='text')})
),
survivors AS (
  SELECT d.* FROM documents d JOIN reps USING (doc_id)
),{_minhash_candidates_cte('survivors').replace('WITH msh AS', 'msh AS', 1)},
near AS (SELECT id_a, id_b FROM cand WHERE {_CASCADE_EST} >= 0.35)
SELECT (SELECT count(*) FROM documents) AS n_docs,
       (SELECT count(*) FROM reps) AS n_exact_unique,
       (SELECT count(*) FROM cand) AS n_candidate_pairs,
       (SELECT count(*) FROM near) AS n_near_pairs
""")
def pipeline_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup-FIRST near-dup cascade — the composition that makes
    the near-dup tier survive a duplication-heavy corpus at 100 TB.

    Candidate-pair volume is quadratic in per-bucket occupancy, and
    EXACT duplicates are the worst offender: a doc with c exact copies
    puts all c in every one of its LSH buckets (c(c-1)/2 guaranteed
    pairs that exact dedup would have removed for one cheap hash
    shuffle).  Measured at the x100 tier (every doc has 100 copies by
    construction): the direct near-dup entry materializes ~25M
    signature-carrying pairs — it OOMed an 8 GB heap — while this
    cascade's candidate stage sees only the ~1/100 exact-unique
    survivors.  Order of operations IS the scale story: hash dedup
    (one shuffle) -> MinHash banding over survivors -> est-Jaccard
    filter, reporting per-stage counts so the reduction is visible.

    Plan: min-id representative per content hash (partial agg), a
    LEFT SEMI join to keep survivor rows, then the standard banded-LSH
    candidate join — every stage partial-agg or bucketed, nothing
    quadratic in the raw corpus."""
    docs = _docs(spark, sf_dir)
    keyed = dd.exact_dedup_keys(docs, "text")
    reps = keyed.groupBy("dup_key").agg(F.min("doc_id").alias("doc_id"))
    survivors = docs.join(reps.select("doc_id"), "doc_id", "left_semi")
    sigs = dd.minhash_signatures(survivors, "doc_id", "text")
    cand = dd.lsh_candidate_pairs(sigs, "doc_id")
    # ONE aggregate over the candidate stage: the near count is a
    # conditional sum, not a second count plan.  (Wall-clock parity with
    # the two-agg crossJoin at sf0.1 — AQE's ReuseExchange already
    # deduplicated the shared subtree — but one scan is the honest plan
    # and doesn't depend on the reuse optimization firing.)
    est = dd.estimated_jaccard_count("n_agree")
    cand_stats = cand.agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.sum(F.when(est >= 0.35, 1).otherwise(0)).cast("bigint")
         .alias("n_near_pairs"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    n_uniq = reps.agg(F.count(F.lit(1)).alias("n_exact_unique"))
    return n_docs.crossJoin(n_uniq).crossJoin(cand_stats)


from datafusion_monoid_spark.operators import similarity as sim


def _lsh_proj_sql(vexpr: str, weights: list[float]) -> str:
    """DuckDB twin of similarity._projection_sql: the SAME literal plane
    weights (python-computed md5 constants) folded in the SAME sequential
    order as the Spark F.aggregate, so bucket bits are bit-identical."""
    w = "[" + ", ".join(repr(x) for x in weights) + "]"
    return (f"list_reduce(list_prepend(0.0, list_transform(range(1, {len(weights) + 1}), "
            f"i -> {vexpr}[i] * ({w})[i])), (acc, t) -> acc + t)")


def _lsh_bucket_list_sql(n_tables: int = 8, planes_per_table: int = 4,
                         dim: int = 64) -> str:
    """List expression [b0, ..., b{n_tables-1}] of banded LSH buckets for
    a relation exposing vector column ``v`` — mirror of
    similarity.lsh_band_buckets."""
    per_table = []
    for t in range(n_tables):
        ws = sim.plane_weights(planes_per_table, dim, seed=f"t{t}|")
        bits = " + ".join(
            f"(CASE WHEN {_lsh_proj_sql('v', ws[p])} >= 0 THEN {1 << p} ELSE 0 END)"
            for p in range(planes_per_table))
        per_table.append(f"({bits})")
    return "[" + ", ".join(per_table) + "]"


def _lsh_banded_cte(source_filter: str = "",
                    n_tables: int = 8, planes_per_table: int = 4) -> str:
    """CTE chain ``e`` (vectors) + ``banded`` (vec_id, table_idx, bucket)."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings{source_filter}),
banded AS (
  SELECT vec_id, unnest({_lsh_bucket_list_sql(n_tables, planes_per_table)}) AS bucket,
         unnest(range(0, {n_tables})) AS table_idx
  FROM e
)"""


_COS_SQL = ("list_inner_product({a}, {b}) / (sqrt(list_inner_product({a}, {a})) "
            "* sqrt(list_inner_product({b}, {b})))")


def _neardup_oracle_sql() -> str:
    # same banded-LSH candidate generation as the Spark side (identical
    # literal planes), exact cosine on candidates, round-then-threshold
    cte = _lsh_banded_cte(source_filter=" WHERE vec_id % 4 = 0")
    return f"""{cte},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b USING (table_idx, bucket)
  WHERE a.vec_id < b.vec_id
),
p AS (
  SELECT id_a, id_b,
         round({_COS_SQL.format(a='x.v', b='y.v')}, 3) AS sim
  FROM cand JOIN e x ON cand.id_a = x.vec_id
            JOIN e y ON cand.id_b = y.vec_id
)
SELECT id_a, id_b, sim FROM p WHERE sim >= 0.35
"""


@register("dedup_embedding_neardup", _neardup_oracle_sql())
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dups on a 1/4 id-sample via banded-LSH
    candidate generation (8 tables x 4 hyperplanes): candidates share a
    bucket in >= 1 table (equi-join, subquadratic — NO all-pairs
    cartesian), exact cosine only on candidates, rounded BEFORE the
    threshold so both engines filter identical quantized values.
    The DuckDB oracle replays the identical literal planes."""
    from datafusion_monoid_spark.operators.similarity import lsh_candidate_pairs
    e = _emb(spark, sf_dir).where(F.col("vec_id") % 4 == 0)
    cand = lsh_candidate_pairs(e, n_tables=8, planes_per_table=4)
    s = F.round(cosine_similarity(F.col("vec_a"), F.col("vec_b")), 3)
    return (
        cand.select("id_a", "id_b", s.alias("sim"))
        .where(F.col("sim") >= 0.35)
    )


# ---------------------------------------------------------------------------
# Similarity search over the embeddings table
# ---------------------------------------------------------------------------

_BRUTE_TOPK_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
           FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cvec FROM embeddings),
p AS (SELECT query_id, cand_id,
             list_inner_product(qvec, cvec)
             / (sqrt(list_inner_product(qvec, qvec))
                * sqrt(list_inner_product(cvec, cvec))) AS sim
      FROM q JOIN c ON query_id != cand_id),
r AS (SELECT query_id, cand_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, cand_id) AS rk
      FROM p)
SELECT query_id, CAST(rk AS INTEGER) AS rank, cand_id, round(sim, 3) AS sim
FROM r WHERE rk <= 5
"""


# ---------------------------------------------------------------------------
# Text analysis over the documents table
# ---------------------------------------------------------------------------

from datafusion_monoid_spark.operators import joins as jn
from datafusion_monoid_spark.operators import text as tx

_NORM = dd.NORMALIZE_SQL.format(expr="text")
_TOKS = f"list_filter(string_split({_NORM}, ' '), t -> t != '')"


# ---------------------------------------------------------------------------
# Host-surface depth: multi-way join + top-k, semi/anti joins, cube,
# pivot, multi-granularity grouping-sets rollup
# ---------------------------------------------------------------------------


@register("q5_local_supplier_volume", """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
GROUP BY n_name
""")
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with a same-nation constraint between
    customer and supplier.  The date filter prunes orders before the big
    fact shuffle; supplier/nation/region broadcast (no sort-merge on any
    dimension); only orders><lineitem><customer shuffle on their keys."""
    o = (_t(spark, sf_dir, "orders")
         .where((F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01"))
         .select("o_orderkey", "o_custkey"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = F.broadcast(_t(spark, sf_dir, "supplier")
                    .select("s_suppkey", "s_nationkey"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region")
                    .where(F.col("r_name") == "ASIA"))
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(s, (F.col("s_suppkey") == F.col("l_suppkey"))
              & (F.col("s_nationkey") == F.col("c_nationkey")))
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(r, F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register("q10_returned_items", """
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_cents DESC, c_custkey LIMIT 20
""")
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue ranking.  Revenue is
    summed in EXACT integer cents (per-item round, then integer sum) so
    the top-20 ORDER is deterministic cross-engine — a float-sum
    ordering can swap adjacent ranks on a last-ulp difference.  Top-k
    via orderBy+limit => TakeOrderedAndProject."""
    o = (_t(spark, sf_dir, "orders")
         .where((F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1996-04-01"))
         .select("o_orderkey", "o_custkey"))
    li = (_t(spark, sf_dir, "lineitem")
          .where(F.col("l_returnflag") == "R")
          .select("l_orderkey",
                  F.round(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 100)
                   .cast("bigint").alias("cents")))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum("cents").cast("bigint").alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch (a sketch that IS a monoid), window breadth,
# correlated subquery
# ---------------------------------------------------------------------------

from datafusion_monoid_spark.operators import sketch as sk


def _cms_hh_oracle_sql(depth: int = 4, width: int = 256, k: int = 25) -> str:
    hashes = ", ".join(
        f"{sk.cms_hash_sql('t', i, width)} AS h{i}" for i in range(depth))
    unn_h = "[" + ", ".join(f"h{i}" for i in range(depth)) + "]"
    unn_d = "[" + ", ".join(str(i) for i in range(depth)) + "]"
    probe_h = ", ".join(
        f"{sk.cms_hash_sql('tok', i, width)} AS h{i}" for i in range(depth))
    return f"""
WITH tokstream AS (SELECT unnest({_TOKS}) AS t FROM documents),
hashed AS (SELECT {hashes} FROM tokstream),
ex AS (SELECT unnest({unn_h}) AS bucket, unnest({unn_d}) AS depth FROM hashed),
cms AS (SELECT depth, bucket, count(*) AS cnt FROM ex GROUP BY depth, bucket),
keys AS (SELECT DISTINCT t AS tok FROM tokstream),
probes AS (
  SELECT tok, unnest([{", ".join(f"h{i}" for i in range(depth))}]) AS bucket,
         unnest({unn_d}) AS depth
  FROM (SELECT tok, {probe_h} FROM keys)
),
est AS (
  SELECT tok, min(coalesce(cms.cnt, 0)) AS estimate
  FROM probes LEFT JOIN cms USING (depth, bucket) GROUP BY tok
),
ranked AS (
  SELECT tok, estimate,
         row_number() OVER (ORDER BY estimate DESC, tok) AS rk
  FROM est
)
SELECT tok, CAST(estimate AS BIGINT) AS estimate, CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= {k}
"""


@register("cms_heavy_hitters", _cms_hh_oracle_sql())
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters from the CMS: estimate every distinct token against
    the sketch, take the top-25 — the compose-sketch-then-query pattern
    (at 100 TB the distinct-key probe side would itself be sampled or
    maintained as a candidate list)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(dd.tokens("text")).alias("tok"))
    cms = sk.cms_build(toks, "tok", depth=4, width=256)
    est = sk.cms_estimate(cms, toks.distinct(), "tok", depth=4, width=256)
    # top-k via orderBy+limit -> TakeOrderedAndProject (per-partition
    # top-k, merged on the driver) — NOT an unpartitioned window, which
    # would sort every distinct token on one reducer at 100 TB.  The rank
    # window then runs on only the k surviving rows.
    top = est.orderBy(F.col("estimate").desc(), F.col("tok")).limit(25)
    w = Window.orderBy(F.col("estimate").desc(), F.col("tok"))
    return (top.withColumn("rk", F.row_number().over(w))
            .select("tok", F.col("estimate").cast("bigint").alias("estimate"), "rk"))


# ---------------------------------------------------------------------------
# Dedup clusters: connected components over the near-dup pair graph
# ---------------------------------------------------------------------------

from datafusion_monoid_spark.operators.graph import connected_components


@register("dedup_clusters", f"""
{_minhash_candidates_cte()},
strong AS (
  SELECT id_a, id_b FROM cand
  WHERE len(list_filter(range(1, {dd.MINHASH_NUM + 1}),
                        i -> sig_a[i] = sig_b[i]))::DOUBLE / {dd.MINHASH_NUM} >= 0.5
),
bidir AS (SELECT id_a AS u, id_b AS v FROM strong
          UNION SELECT id_b, id_a FROM strong),
nodes AS (SELECT DISTINCT u AS node FROM bidir),
reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT u, v FROM bidir
    UNION
    SELECT r.src, b.v FROM r JOIN bidir b ON r.dst = b.u
  ) SELECT * FROM r
)
SELECT n.node AS doc_id,
       least(n.node, min(coalesce(r.dst, n.node))) AS component
FROM nodes n LEFT JOIN reach r ON r.src = n.node
GROUP BY n.node
""")
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS -> dedup CLUSTERS: connected components (pointer-
    jumping min-label propagation) over strong MinHash candidates
    (signature agreement >= 0.5).  component = min doc_id = the kept
    representative.  Oracle: recursive-CTE transitive closure."""
    _, cand = _minhash_shared(spark, sf_dir)
    strong = cand.where(dd.estimated_jaccard_count("n_agree") >= 0.5) \
                 .select("id_a", "id_b")
    cc = connected_components(strong, track=_track_ckpt)
    return cc.select(F.col("node").alias("doc_id"), "component")


@register("dedup_cluster_keep_best", f"""
{_minhash_candidates_cte()},
strong AS (
  SELECT id_a, id_b FROM cand
  WHERE len(list_filter(range(1, {dd.MINHASH_NUM + 1}),
                        i -> sig_a[i] = sig_b[i]))::DOUBLE / {dd.MINHASH_NUM} >= 0.5
),
bidir AS (SELECT id_a AS u, id_b AS v FROM strong
          UNION SELECT id_b, id_a FROM strong),
nodes AS (SELECT DISTINCT u AS node FROM bidir),
reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT u, v FROM bidir
    UNION
    SELECT r.src, b.v FROM r JOIN bidir b ON r.dst = b.u
  ) SELECT * FROM r
),
comp AS (
  SELECT n.node AS doc_id,
         least(n.node, min(coalesce(r.dst, n.node))) AS component
  FROM nodes n LEFT JOIN reach r ON r.src = n.node
  GROUP BY n.node
),
qt AS (SELECT doc_id, text, {_NORM} AS norm, {_TOKS} AS toks FROM documents),
qf AS (
  SELECT doc_id, len(toks) AS n_tokens,
         length(regexp_replace(norm, '[a-z0-9 ]', '', 'g'))
           / greatest(length(text), 1)::DOUBLE AS punct_ratio,
         len(list_filter(toks, t -> list_contains(
             ['the','and','of','to','a','in','is','that'], t)))::DOUBLE
           / greatest(len(toks), 1) AS stopword_ratio,
         length(regexp_replace(norm, ' ', '', 'g'))
           / greatest(len(toks), 1)::DOUBLE AS mean_token_len
  FROM qt
),
qs AS (
  SELECT doc_id,
         CAST(round((0.4 * (CASE WHEN n_tokens BETWEEN 5 AND 1000
                                 THEN 1.0 ELSE 0.3 END)
                   + 0.3 * (CASE WHEN mean_token_len BETWEEN 2 AND 12
                                 THEN 1.0 ELSE 0.4 END)
                   + 0.2 * least(stopword_ratio * 4, 1.0)
                   + 0.1 * (1.0 - least(punct_ratio * 5, 1.0)))
                   * 1000000) AS BIGINT) AS score_micro
  FROM qf
),
ranked AS (
  SELECT comp.component, comp.doc_id, qs.score_micro,
         row_number() OVER (PARTITION BY comp.component
                            ORDER BY qs.score_micro DESC, comp.doc_id) AS rn,
         count(*) OVER (PARTITION BY comp.component) AS n_members
  FROM comp JOIN qs USING (doc_id)
)
SELECT CAST(component AS BIGINT) AS component,
       CAST(doc_id AS BIGINT) AS kept_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(score_micro AS BIGINT) AS kept_score_micro
FROM ranked WHERE rn = 1
""")
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative SELECTION POLICY over near-dup clusters: instead
    of the min-id convention, each cluster keeps its highest-QUALITY
    member (integer micro-unit quality score, ties to the lowest
    doc_id) — what a curation pipeline actually wants: when 30 scraped
    copies of a page survive near-dup detection, keep the cleanest one,
    not the one with the smallest crawl id.

    Plan: connected components over strong MinHash candidates (the
    dedup_clusters machinery), broadcast-joined to per-doc quality,
    then per-cluster argmax via ``max_by`` over a (score, -id) struct —
    a partial-aggregation-capable reduction, no window shuffle+sort.
    The oracle replays the closure recursively plus the identical
    quantized score."""
    _, cand = _minhash_shared(spark, sf_dir)
    strong = cand.where(dd.estimated_jaccard_count("n_agree") >= 0.5) \
                 .select("id_a", "id_b")
    cc = connected_components(strong, track=_track_ckpt)
    score = _docs(spark, sf_dir).select(
        "doc_id",
        F.round(tx.quality_score("text") * 1_000_000).cast("bigint")
         .alias("score_micro"))
    j = cc.join(score, cc.node == score.doc_id)
    best = F.max_by(
        F.struct(F.col("doc_id").alias("kept_id"),
                 F.col("score_micro").alias("kept_score_micro")),
        F.struct(F.col("score_micro"), (-F.col("doc_id")).alias("neg")))
    return (j.groupBy("component")
            .agg(best.alias("__b"),
                 F.count(F.lit(1)).cast("bigint").alias("n_members"))
            .select(F.col("component").cast("bigint").alias("component"),
                    F.col("__b.kept_id").cast("bigint").alias("kept_id"),
                    "n_members",
                    F.col("__b.kept_score_micro").cast("bigint")
                     .alias("kept_score_micro")))


# ---------------------------------------------------------------------------
# Training-shard export
# ---------------------------------------------------------------------------

#: shard count for the training-shard export entry
_EXPORT_SHARDS = 16


@register("export_training_shards", f"""
WITH sized AS (
  SELECT doc_id, text, len({_TOKS}) AS n_toks,
         {dd.md5_long_sql("CAST(doc_id AS VARCHAR)")} AS skey
  FROM documents)
SELECT CAST(skey % {_EXPORT_SHARDS} AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS shard_tokens,
       CAST(min(skey) AS BIGINT) AS min_key,
       CAST(max(skey) AS BIGINT) AS max_key
FROM sized GROUP BY shard
""")
def export_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPORT the corpus as deterministically-shuffled training shards
    — the last mile of a curation pipeline: every trainer reads shards
    whose membership AND within-shard order are pure functions of the
    data (md5 of the doc id), so the "global shuffle" is reproducible
    on any engine, any partitioning, any run, with no RNG state to
    ship.  Shard = hash mod {_EXPORT_SHARDS} (uniform by construction);
    rows land hash-ordered within their shard file (pinned in
    tests/test_pipeline_r11.py), which is what breaks source/time
    locality for training.  The artifact is a shard-partitioned
    parquet directory (one dir per shard — trainers read their shard
    with partition pruning); the entry returns the per-shard digest of
    the ON-DISK state, so the oracle verifies exactly what a trainer
    would consume.

    Scale: shard assignment is a map-only hash; the write is one
    exchange on the shard key + a within-partition sort — the classic
    repartition + sortWithinPartitions export, no global sort, no
    driver involvement.  The sort prefix (shard) satisfies the
    writer's required partition ordering, so no second sort is
    inserted."""
    docs = _docs(spark, sf_dir)
    sized = docs.select(
        "doc_id", "text",
        tx.token_counts("text")["ws_tokens"].alias("n_toks"),
        dd.md5_long(F.col("doc_id").cast("string")).alias("skey"))
    out = _artifact_path(sf_dir, "training_shards")
    (sized.withColumn("shard",
                      (F.col("skey") % _EXPORT_SHARDS).cast("bigint"))
     .repartition(_EXPORT_SHARDS, "shard")
     .sortWithinPartitions("shard", "skey", "doc_id")
     .write.mode("overwrite").partitionBy("shard").parquet(out))
    p = spark.read.parquet(out)  # shard read back as partition column
    return (p.groupBy(F.col("shard").cast("bigint").alias("shard"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_toks").cast("bigint").alias("shard_tokens"),
                 F.min("skey").cast("bigint").alias("min_key"),
                 F.max("skey").cast("bigint").alias("max_key")))


#: micro-shard count for the token-balanced export — the fine-grained
#: hash level whose per-micro token digest (<= this many rows) is the
#: only thing the balancer ever sorts
_EXPORT_MICRO = 1024


@register("export_training_shards_balanced", f"""
WITH sized AS (
  SELECT doc_id, len({_TOKS}) AS n_toks,
         {dd.md5_long_sql("CAST(doc_id AS VARCHAR)")} AS skey,
         ({dd.md5_long_sql("CAST(doc_id AS VARCHAR)")}) % {_EXPORT_MICRO}
           AS micro
  FROM documents),
md AS (SELECT micro, CAST(sum(n_toks) AS BIGINT) AS mtoks
       FROM sized GROUP BY micro),
rk AS (SELECT micro,
              row_number() OVER (ORDER BY mtoks DESC, micro) - 1 AS rn
       FROM md),
asg AS (SELECT micro,
               CASE WHEN rn % {2 * _EXPORT_SHARDS} < {_EXPORT_SHARDS}
                    THEN rn % {2 * _EXPORT_SHARDS}
                    ELSE {2 * _EXPORT_SHARDS - 1}
                         - (rn % {2 * _EXPORT_SHARDS}) END AS shard
        FROM rk)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS shard_tokens,
       CAST(count(DISTINCT sized.micro) AS BIGINT) AS n_micro
FROM sized JOIN asg USING (micro)
GROUP BY shard
""")
def export_training_shards_balanced(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """TOKEN-BALANCED training-shard export:
    shards carry near-equal TOKEN budgets — what a trainer's step time
    actually depends on — while membership stays a pure function of
    the data, no RNG state.  Two-level composition of the plain
    export's hash sharding with a token-balancing deal at shard
    granularity:

    1. every doc hashes into one of {_EXPORT_MICRO} MICRO-shards
       (map-only, the plain export's skey);
    2. the per-micro token digest (<= {_EXPORT_MICRO} rows — model-
       sized, the centroid-collect shape) is ranked by token mass and
       dealt to the {_EXPORT_SHARDS} shards SERPENTINE (snake order:
       0..15,15..0,...), the deterministic balanced-partitioning deal
       that pairs heavy micro-shards with light ones;
    3. the micro→shard map broadcasts back and the write is the plain
       export's repartition + sortWithinPartitions + partitionBy —
       one exchange, partition-local sort, no global sort anywhere
       (the digest's rank is a window over a bounded relation, not
       the corpus).

    Within-shard order stays hash-of-doc (skey), so the export remains
    a reproducible global shuffle; only the shard BOUNDARIES move to
    equalize token mass.  Balance is pinned in tests (max/min shard
    token ratio) alongside read-side partition pruning on ``shard=``.

    Scale: the corpus pays one map (hash + token count), one partial
    agg to the micro digest, one broadcast join, one exchange — the
    balancer itself never sees a corpus-sized relation, and the
    snake deal is a pure rank function so both engines replay it
    bit-identically."""
    docs = _docs(spark, sf_dir)
    sized = docs.select(
        "doc_id", "text",
        tx.token_counts("text")["ws_tokens"].alias("n_toks"),
        dd.md5_long(F.col("doc_id").cast("string")).alias("skey"))
    sized = sized.withColumn(
        "micro", (F.col("skey") % _EXPORT_MICRO).cast("bigint"))
    md = sized.groupBy("micro").agg(
        F.sum("n_toks").cast("bigint").alias("mtoks"))
    # window over the bounded micro digest (no partitionBy: <= 1024
    # rows by construction — this is the model-sized exception)
    rn = (F.row_number().over(Window.orderBy(F.desc("mtoks"), "micro"))
          - 1)
    r = rn % (2 * _EXPORT_SHARDS)
    asg = md.select(
        "micro",
        F.when(r < _EXPORT_SHARDS, r)
        .otherwise(2 * _EXPORT_SHARDS - 1 - r)
        .cast("bigint").alias("shard"))
    out = _artifact_path(sf_dir, "training_shards_balanced")
    (sized.join(F.broadcast(asg), "micro")
     .repartition(_EXPORT_SHARDS, "shard")
     .sortWithinPartitions("shard", "skey", "doc_id")
     .write.mode("overwrite").partitionBy("shard").parquet(out))
    p = spark.read.parquet(out)  # shard read back as partition column
    return (p.groupBy(F.col("shard").cast("bigint").alias("shard"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_toks").cast("bigint").alias("shard_tokens"),
                 F.countDistinct("micro").cast("bigint").alias("n_micro")))


# ---------------------------------------------------------------------------
# Corpus curation: decontamination, repetition filters, TF-IDF, vocabulary
# coverage (operators/curation.py).  All decision ratios are exact integer
# micro-units — engine-reproducible by construction.
# ---------------------------------------------------------------------------

from datafusion_monoid_spark.operators import curation as cu

_SH4 = dd.shingles_sql("text", 4)
_GH = dd.md5_long_sql("g")


_SH13 = dd.shingles_sql("text", 13)


@register("decontam_prod_13gram", f"""
WITH ev AS (SELECT DISTINCT n, gram_hash FROM (
        SELECT 4 AS n, {_GH} AS gram_hash
        FROM (SELECT unnest({_SH4}) AS g FROM documents
              WHERE doc_id % 97 = 0)
        UNION ALL
        SELECT 13, {_GH}
        FROM (SELECT unnest({_SH13}) AS g FROM documents
              WHERE doc_id % 97 = 0))),
trg AS (SELECT doc_id, n, gram_hash FROM (
        SELECT doc_id, 4 AS n, {_GH} AS gram_hash
        FROM (SELECT doc_id, unnest({_SH4}) AS g FROM documents
              WHERE doc_id % 97 <> 0)
        UNION ALL
        SELECT doc_id, 13, {_GH}
        FROM (SELECT doc_id, unnest({_SH13}) AS g FROM documents
              WHERE doc_id % 97 <> 0))),
hit AS (SELECT DISTINCT doc_id, n FROM trg JOIN ev USING (n, gram_hash)),
tr AS (SELECT doc_id, source FROM documents WHERE doc_id % 97 <> 0)
SELECT tr.source AS source, CAST(count(*) AS BIGINT) AS n_train,
       CAST(coalesce(sum(CASE WHEN h4.doc_id IS NOT NULL
                               THEN 1 END), 0) AS BIGINT)
         AS n_contaminated_4,
       CAST(coalesce(sum(CASE WHEN h13.doc_id IS NOT NULL
                               THEN 1 END), 0) AS BIGINT)
         AS n_contaminated_13
FROM tr
LEFT JOIN (SELECT doc_id FROM hit WHERE n = 4) h4 ON tr.doc_id = h4.doc_id
LEFT JOIN (SELECT doc_id FROM hit WHERE n = 13) h13 ON tr.doc_id = h13.doc_id
GROUP BY tr.source
""")
def decontam_prod_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-n decontamination: the 13-gram
    overlap setting GPT-3/PaLM-class evals use (Brown et al. 2020,
    appendix C, report 13-gram dedup/decontamination) reported SIDE BY
    SIDE with the benchmark 4-gram tier, per source.  Both n values
    share ONE tokenization and one corpus scan
    (``cu.multi_ngram_hashes``): grams for n=4 and n=13 derive from the
    same token array and stack into a single explode, so the
    production tier costs nothing beyond the pass the 4-gram entry
    already pays.  The stricter n=13 criterion flags the long verbatim
    overlaps that actually leak benchmark answers, while n=4 counts
    topical overlap — the gap between the two columns is the
    false-positive budget a pipeline saves by using production n.  The
    eval-side hash set stays MB-scale and BROADCASTS; the corpus side
    remains a map-only scan + broadcast semi-join — zero corpus shuffle
    at 100 TB."""
    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 97 == 0)
    tr = docs.where(F.col("doc_id") % 97 != 0)
    evg = F.broadcast(cu.multi_ngram_hashes(ev, "doc_id", "text", (4, 13))
                      .select("n", "gram_hash").distinct())
    hits = (cu.multi_ngram_hashes(tr, "doc_id", "text", (4, 13))
            .join(evg, ["n", "gram_hash"], "left_semi")
            .select("doc_id", "n").distinct())
    per_doc = (tr.select("doc_id", "source")
               .join(hits, "doc_id", "left")
               .groupBy("source")
               .agg(F.count_distinct("doc_id").alias("n_train"),
                    F.count_distinct(F.when(F.col("n") == 4,
                                            F.col("doc_id")))
                    .alias("n_contaminated_4"),
                    F.count_distinct(F.when(F.col("n") == 13,
                                            F.col("doc_id")))
                    .alias("n_contaminated_13")))
    return per_doc.select(
        "source", F.col("n_train").cast("bigint").alias("n_train"),
        F.col("n_contaminated_4").cast("bigint").alias("n_contaminated_4"),
        F.col("n_contaminated_13").cast("bigint")
        .alias("n_contaminated_13"))


@register("dedup_incremental_newbatch", f"""
{_minhash_candidates_cte()},
est AS (
  SELECT id_a, id_b,
         len(list_filter(range(1, {dd.MINHASH_NUM + 1}),
             i -> sig_a[i] = sig_b[i]))::DOUBLE / {dd.MINHASH_NUM} AS ej
  FROM cand
)
SELECT CASE WHEN id_a % 11 = 0 THEN id_a ELSE id_b END AS new_id,
       CASE WHEN id_a % 11 = 0 THEN id_b ELSE id_a END AS old_id,
       round(ej, 3) AS est_jacc
FROM est
WHERE (id_a % 11 = 0) <> (id_b % 11 = 0) AND ej >= 0.35
""")
def dedup_incremental_newbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest near-dup check: a NEW batch of documents
    (doc_id % 11 = 0 stands in for today's crawl) is screened against
    the EXISTING corpus — the operation a 100 TB pipeline actually runs
    daily, where re-deduplicating the whole corpus per ingest is not an
    option.

    The scale shape: the corpus side appears ONLY as its banded-LSH
    bucket relation (in production a persisted, bucketed index table —
    the MinHash analogue of the IVF centroid artifact), and the small
    new-batch bucket relation is BROADCAST into the candidate join, so
    the corpus is never shuffled; per-ingest work is O(|batch| x
    bucket-occupancy).  Signature verification (est-Jaccard >= 0.35)
    re-attaches signatures by id on the candidates only.  Output is
    the reject/link list (new_id, old_id, est_jacc).  New-vs-new dups
    are the FULL dedup pass's job (pipeline_dedup_cascade); this
    entry's contract is strictly batch-vs-corpus."""
    # a document's signature is independent of every other document,
    # so the split happens ON THE SIGNATURE RELATION — the shared
    # persisted sigs stand in for the production signature index, and
    # the shingle->minhash pass is never run twice over the corpus
    # (was: two minhash_signatures() calls over complementary splits —
    # measured 9.3 s -> ~4 s at sf0.1 cold)
    sigs, _ = _minhash_shared(spark, sf_dir)
    sig_new = sigs.where(F.col("doc_id") % 11 == 0)
    sig_old = sigs.where(F.col("doc_id") % 11 != 0)
    b_new = dd.minhash_band_buckets(sig_new, "doc_id") \
        .withColumnRenamed("doc_id", "new_id")
    b_old = dd.minhash_band_buckets(sig_old, "doc_id") \
        .withColumnRenamed("doc_id", "old_id")
    pairs = (F.broadcast(b_new).join(b_old, ["band_idx", "band_hash"])
             .select("new_id", "old_id").dropDuplicates())
    sa = sig_new.select(F.col("doc_id").alias("new_id"),
                        F.col("sig").alias("sig_a"))
    sb = sig_old.select(F.col("doc_id").alias("old_id"),
                        F.col("sig").alias("sig_b"))
    est = dd.estimated_jaccard("sig_a", "sig_b")
    return (pairs.join(F.broadcast(sa), "new_id").join(sb, "old_id")
            .where(est >= 0.35)
            .select("new_id", "old_id", F.round(est, 3).alias("est_jacc")))


@register("tfidf_top_terms", f"""
WITH t AS (SELECT source, unnest({_TOKS}) AS token FROM documents),
tf AS (SELECT source, token, count(*) AS tf FROM t GROUP BY source, token),
dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
sc AS (SELECT source, token, CAST(tf AS BIGINT) AS tf,
              CAST(df AS BIGINT) AS df,
              CAST(tf * ((20 * 1000000) // df) AS BIGINT) AS score
       FROM tf JOIN dfq USING (token)),
r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
                    ORDER BY score DESC, token) AS INTEGER) AS rk
      FROM sc)
SELECT source, token, tf, df, score, rk FROM r WHERE rk <= 5
""")
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per source by TF-IDF with an
    exact-rational idf (``N/df`` in micro-units instead of ``log`` —
    same ranking direction, but ``ln`` is not identically rounded
    across libm implementations, which would flake hash-compares on
    rank ties).  N=20 sources is a property of the synthetic corpus,
    pinned on both sides.  Window is PARTITIONED by source — per-group
    top-k, never a global sort."""
    docs = _docs(spark, sf_dir)
    sc = cu.tfidf_terms(docs, "source", "text", n_groups=20)
    w = Window.partitionBy("grp").orderBy(F.desc("score"), F.asc("token"))
    return (sc.withColumn("rk", F.row_number().over(w).cast("int"))
            .where(F.col("rk") <= 5)
            .select(F.col("grp").alias("source"), "token", "tf", "df",
                    "score", "rk"))


@register("vocab_topk_coverage", f"""
WITH t AS (SELECT unnest({_TOKS}) AS token FROM documents),
c AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 50),
w AS (SELECT token, CAST(cnt AS BIGINT) AS cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, token)
                  AS INTEGER) AS rk,
             CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM top)
SELECT rk, token, cnt,
       CAST((cum * 1000000) // (SELECT total FROM tot) AS BIGINT)
         AS cum_cover_micro
FROM w
""")
def vocab_topk_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 vocabulary with cumulative corpus coverage: the top-k is
    TakeOrderedAndProject (per-partition heads + merge), and the
    cumulative window only ever sees the 50 surviving rows."""
    docs = _docs(spark, sf_dir)
    return cu.vocab_coverage(docs, "text", k=50)


# ---------------------------------------------------------------------------
# TPC-H breadth: Q6 / Q14 / Q18 / Q19 shapes over the available columns.
# ---------------------------------------------------------------------------


@register("q18_large_volume_customer", """
WITH big AS (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
             FROM lineitem GROUP BY l_orderkey
             HAVING sum(l_quantity) > 300)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
       total_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY totalprice_cents DESC, o_orderkey LIMIT 20
""")
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (sum qty > 300).  The
    HAVING survivor set is tiny (~0.8% of orders), so it broadcasts
    into orders and the joined result broadcasts into customer — the
    big fact shuffles once (for its own groupBy), the dimensions never
    sort-merge.  Quantities are integral-valued doubles: the sum is
    exact, so the BIGINT cast and the >300 cut are deterministic.
    Top-20 via orderBy+limit => TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("__q"))
           .where(F.col("__q") > 300)
           .select("l_orderkey", F.col("__q").cast("bigint").alias("total_qty")))
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name", "o_orderkey",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                F.round(F.col("o_totalprice") * 100).cast("bigint")
                 .alias("totalprice_cents"),
                "total_qty")
        .orderBy(F.col("totalprice_cents").desc(), F.col("o_orderkey"))
        .limit(20))


@register("bpe_top_merges", f"""
WITH t AS (SELECT unnest({_TOKS}) AS tok FROM documents),
p AS (SELECT unnest(list_transform(range(1, len(tok)),
                                   i -> substr(tok, i, 2))) AS pair
      FROM t),
c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY pair),
top AS (SELECT pair, cnt FROM c ORDER BY cnt DESC, pair LIMIT 20)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INTEGER) AS rk,
       pair, CAST(cnt AS BIGINT) AS cnt
FROM top
""")
def bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE iteration: most frequent adjacent character pairs
    within tokens — the merge-candidate table a tokenizer trainer
    computes each round.  Generator expressions ride the scan (explode
    of per-token pair lists), one count shuffle, top-k via
    TakeOrderedAndProject; the ranking window touches 20 rows."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(F.explode(dd.tokens("text")).alias("tok"))
    pairs = tok.select(F.explode(F.when(
        F.length("tok") >= 2,
        F.transform(F.sequence(F.lit(1), F.length("tok") - 1),
                    lambda i: F.col("tok").substr(i, F.lit(2))),
    ).otherwise(F.array().cast("array<string>"))).alias("pair"))
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("pair")).limit(20)
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return top.select(F.row_number().over(w).cast("int").alias("rk"),
                      "pair", F.col("cnt").cast("bigint").alias("cnt"))


# ---------------------------------------------------------------------------
# Event analytics: ordered funnels and retention cohorts.
# ---------------------------------------------------------------------------


@register("funnel_view_click_purchase", """
WITH e AS (SELECT user_id, event_type,
                  CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
v AS (SELECT user_id, min(sec) AS t1 FROM e
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(sec) AS t2 FROM e JOIN v USING (user_id)
      WHERE event_type = 'click' AND sec >= t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, min(sec) AS t3 FROM e JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND sec >= t2 GROUP BY e.user_id)
SELECT (SELECT count(*) FROM v) AS users_viewed,
       (SELECT count(*) FROM c) AS users_clicked_after_view,
       (SELECT count(*) FROM p) AS users_purchased_after_click
""")
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): each
    stage is users whose first qualifying event follows their previous
    stage's first event.  Three groupBy-user aggregations + two joins,
    all keyed on user_id — co-partitioned shuffles, no windows over the
    raw stream, no per-user state beyond one timestamp.  The classic
    product-analytics query a user of the host engine runs daily."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "sec")
    v = (e.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("sec").alias("t1")))
    c = (e.where(F.col("event_type") == "click")
         .join(v, "user_id")
         .where(F.col("sec") >= F.col("t1"))
         .groupBy("user_id").agg(F.min("sec").alias("t2")))
    p = (e.where(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .where(F.col("sec") >= F.col("t2"))
         .groupBy("user_id").agg(F.min("sec").alias("t3")))
    return (v.agg(F.count(F.lit(1)).alias("users_viewed"))
            .crossJoin(c.agg(F.count(F.lit(1))
                             .alias("users_clicked_after_view")))
            .crossJoin(p.agg(F.count(F.lit(1))
                             .alias("users_purchased_after_click"))))


@register("pipeline_curation_full", f"""
WITH t AS (SELECT doc_id, source, text, {_TOKS} AS toks FROM documents),
uc AS (SELECT doc_id, term, count(*) AS c
       FROM (SELECT doc_id, unnest(toks) AS term FROM t)
       GROUP BY doc_id, term),
us AS (SELECT doc_id, max(c) AS top, sum(c) AS n FROM uc GROUP BY doc_id),
q AS (SELECT us.doc_id FROM us
      WHERE n >= 10 AND (top * 1000000) // n < {cu.TOP_TOKEN_FLAG_MICRO}),
tr AS (SELECT t.* FROM t JOIN q USING (doc_id) WHERE doc_id % 97 <> 0),
evg AS (SELECT DISTINCT {_GH} AS gram_hash
        FROM (SELECT unnest({_SH4}) AS g FROM documents
              WHERE doc_id % 97 = 0)),
trg AS (SELECT doc_id, {_GH} AS gram_hash
        FROM (SELECT doc_id, unnest({dd.shingles_sql("text", 4)}) AS g
              FROM tr)),
hit AS (SELECT DISTINCT doc_id FROM trg JOIN evg USING (gram_hash)),
clean AS (SELECT tr.* FROM tr LEFT JOIN hit ON tr.doc_id = hit.doc_id
          WHERE hit.doc_id IS NULL),
keyed AS (SELECT doc_id, source, md5({_NORM}) AS k,
                 len(toks) AS n_toks
          FROM clean),
rep AS (SELECT k, min(doc_id) AS doc_id FROM keyed GROUP BY k),
fin AS (SELECT keyed.* FROM keyed
        JOIN rep ON keyed.k = rep.k AND keyed.doc_id = rep.doc_id)
SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS total_tokens
FROM fin GROUP BY source
""")
def pipeline_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE declarative plan: repetition
    quality gate -> eval-slice decontamination -> exact dedup (min-id
    representative) -> per-source corpus accounting.  Catalyst fuses
    the stages: the quality and decontamination filters are semi/anti
    joins on doc_id (co-keyed), the eval n-gram set broadcasts, and the
    dedup representative pick is one groupBy on the content hash —
    nothing in the chain materializes an intermediate corpus copy,
    which is exactly how the stages should compose at 100 TB."""
    docs = _docs(spark, sf_dir)
    feats = cu.repetition_features(docs, "doc_id", "text")
    q = feats.where((F.col("n_tokens") >= 10)
                    & (F.col("top_token_micro") < cu.TOP_TOKEN_FLAG_MICRO)) \
             .select("doc_id")
    tr = (docs.where(F.col("doc_id") % 97 != 0)
          .join(q, "doc_id", "left_semi"))
    ev = docs.where(F.col("doc_id") % 97 == 0)
    hit = cu.contaminated_ids(cu.ngram_hashes(tr, "doc_id", "text", 4),
                              cu.ngram_hashes(ev, "doc_id", "text", 4),
                              "doc_id")
    clean = tr.join(hit, "doc_id", "left_anti")
    keyed = dd.exact_dedup_keys(clean, "text").select(
        "doc_id", "source", "dup_key",
        tx.token_counts("text")["ws_tokens"].alias("n_toks"))
    rep = keyed.groupBy("dup_key").agg(F.min("doc_id").alias("doc_id"))
    fin = keyed.join(rep, ["dup_key", "doc_id"], "left_semi")
    return fin.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"))


@register("skew_aqe_join_deviation", """
WITH fact AS (
  SELECT event_type,
         CASE WHEN value < 250 THEN 0 ELSE event_id END AS hot_key,
         CAST(round(value * 1000) AS BIGINT) AS mv
  FROM events
),
dim AS (
  SELECT hot_key,
         CAST(sum(mv) // count(*) AS BIGINT) AS avg_milli
  FROM fact GROUP BY hot_key
)
SELECT f.event_type, count(*) AS n,
       CAST(sum(abs(f.mv - d.avg_milli)) AS BIGINT) AS abs_dev_milli
FROM fact f JOIN dim d USING (hot_key)
GROUP BY f.event_type
""")
def skew_aqe_join_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE-skew-join demonstration, on the classic
    PRODUCTION skew shape: default-value key collapse — ~92% of events
    land on sentinel key 0 (the "null foreign key" / "anonymous user"
    pattern), the rest stay unique — then a per-key-mean dim joins back
    to the fact.  No salt: at scale Spark's AQE skew-join is the
    default cure — the runtime observes the oversized shuffle partition
    and splits it across reducers (``skew=true`` on the SMJ node),
    replicating the matching dim rows, which is what a manual salted
    join (the dim replicated once per salt) does statically.
    ``tests/test_skew.py`` executes THIS entry with byte thresholds
    scaled to the test corpus (plus ``forceOptimizeSkewedJoin`` — the
    downstream aggregation otherwise makes AQE decline the split to
    avoid the extra exchange) and asserts the split in the final
    adaptive plan.

    Four deliberate plan shapes, each a finding about WHEN the AQE
    cure applies: (a) the ``merge`` hint pins SMJ — a broadcast would
    dodge the skew question (though at real scale a per-key dim over a
    10^9-key fact may genuinely not broadcast); (b) the dim is
    ``localCheckpoint``-ed (the persisted-dim pattern) because
    OptimizeSkewedJoin can only REPLICATE a side whose sort reads a
    bare shuffle — with the dim's aggregation still between its shuffle
    and the join, replication would double-count partials, so AQE
    (correctly) declines; (c) the fact is round-robin repartitioned to
    full parallelism first, because AQE splits a skewed reduce
    partition by MAPPER RANGES — the single-row-group test parquet
    yields ONE map task, leaving nothing to split (a test-scale
    artifact: a 100 TB scan has thousands of mappers, making both this
    repartition a no-op and the split always available); (d) the entry
    runs in its OWN ``spark.newSession()`` with the skew thresholds
    sized to the corpus (~1/24 of the fact file per split target, the
    same proportionality an operator applies to executor memory at
    production scale) plus ``forceOptimizeSkewedJoin`` for the
    downstream agg — SQLConf is per-session, so the tuning cannot leak
    into other catalog entries, and without it Spark's 256 MB default
    threshold never fires at local test sizes: measured 40.8 s at sf10
    (one reducer sorts the 99 % partition) vs 4.5 s with the split.
    Results equal the plain join either way — hence the plain-SQL
    oracle."""
    s2 = spark.newSession()
    fact_bytes = _os_mod.path.getsize(f"{sf_dir}/events.parquet")
    target = str(max(65536, fact_bytes // 24))
    for k, v in {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": target,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": target,
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }.items():
        s2.conf.set(k, v)
    e = _events(s2, sf_dir).select("event_id", "event_type", "value")
    fact = e.repartition(s2.sparkContext.defaultParallelism).select(
        "event_type",
        F.when(F.col("value") < 250, F.lit(0).cast("bigint"))
         .otherwise(F.col("event_id")).alias("hot_key"),
        F.round(F.col("value") * 1000).cast("bigint").alias("mv"))
    dim = _track_ckpt(fact.groupBy("hot_key")
                      .agg(F.expr("CAST(sum(mv) AS BIGINT) DIV count(*)")
                           .alias("avg_milli"))
                      .localCheckpoint(eager=True))
    joined = fact.join(dim.hint("merge"), "hot_key")
    return (joined.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.abs(F.col("mv") - F.col("avg_milli")))
                  .cast("bigint").alias("abs_dev_milli")))


@register("q7_volume_shipping", """
SELECT supp_nation, cust_nation, ship_year,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS ship_year,
         l_extendedprice, l_discount
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    AND l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
)
GROUP BY supp_nation, cust_nation, ship_year
""")
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year.  Both nation joins broadcast; the cross-side nation-pair
    disjunction evaluates post-join; the fact tables shuffle only on
    their own keys.  Revenue in exact integer cents."""
    li = (_t(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= "1996-01-01")
                 & (F.col("l_shipdate") < "1998-01-01"))
          .select("l_orderkey", "l_suppkey",
                  F.year("l_shipdate").cast("bigint").alias("ship_year"),
                  F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                          * 100).cast("bigint").alias("cents")))
    s = F.broadcast(_t(spark, sf_dir, "supplier")
                    .select("s_suppkey", "s_nationkey"))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("nk1"),
                              F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("nk2"),
                              F.col("n_name").alias("cust_nation")))
    j = (li.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
         .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
         .join(c, F.col("c_custkey") == F.col("o_custkey"))
         .join(n1, F.col("nk1") == F.col("s_nationkey"))
         .join(n2, F.col("nk2") == F.col("c_nationkey"))
         .where(((F.col("supp_nation") == "NATION_3")
                 & (F.col("cust_nation") == "NATION_7"))
                | ((F.col("supp_nation") == "NATION_7")
                   & (F.col("cust_nation") == "NATION_3"))))
    return (j.groupBy("supp_nation", "cust_nation", "ship_year")
            .agg(F.sum("cents").cast("bigint").alias("revenue_cents")))


@register("q8_market_share", """
WITH all_orders AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           AS cents,
         n2.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
    AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
)
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN cents ELSE 0 END)
            AS BIGINT) AS nation7_cents,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST((sum(CASE WHEN supp_nation = 'NATION_7' THEN cents ELSE 0 END)
             * 1000000) // sum(cents) AS BIGINT) AS share_micro
FROM all_orders GROUP BY o_year
""")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a product segment's
    revenue in a region, by order year.  Five dimension joins
    broadcast (part is filtered to one p_type first); the share is
    exact integer micro-units of exact cent sums."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_suppkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
         .cast("bigint").alias("cents"))
    p = F.broadcast(_t(spark, sf_dir, "part")
                    .where(F.col("p_type") == "ECONOMY")
                    .select("p_partkey"))
    o = (_t(spark, sf_dir, "orders")
         .where((F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1998-01-01"))
         .select("o_orderkey", "o_custkey",
                 F.year("o_orderdate").cast("bigint").alias("o_year")))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("nk1"),
                              "n_regionkey"))
    r = F.broadcast(_t(spark, sf_dir, "region")
                    .where(F.col("r_name") == "EUROPE"))
    s = F.broadcast(_t(spark, sf_dir, "supplier")
                    .select("s_suppkey", "s_nationkey"))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("nk2"),
                              F.col("n_name").alias("supp_nation")))
    j = (li.join(p, F.col("p_partkey") == F.col("l_partkey"))
         .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
         .join(c, F.col("c_custkey") == F.col("o_custkey"))
         .join(n1, F.col("nk1") == F.col("c_nationkey"))
         .join(r, F.col("r_regionkey") == F.col("n_regionkey"))
         .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
         .join(n2, F.col("nk2") == F.col("s_nationkey")))
    nation7 = F.sum(F.when(F.col("supp_nation") == "NATION_7",
                           F.col("cents")).otherwise(F.lit(0)))
    total = F.sum("cents")
    return j.groupBy("o_year").agg(
        nation7.cast("bigint").alias("nation7_cents"),
        total.cast("bigint").alias("total_cents"),
        cu.micro_ratio(nation7, total).alias("share_micro"))


def _kmeans_ctes(k: int = 8, iters: int = 3, dim: int = 64,
                 vecs_cte: str | None = None) -> str:
    """Unrolled Lloyd iterations as chained CTEs (no WITH keyword, no
    final SELECT) — exact integer math start to finish, so the SQL
    replay is bit-identical; composable into larger oracles.
    ``vecs_cte`` overrides the source CTE chain ending in
    ``vecs(vec_id, v)`` (the OPQ tier passes its rotated form)."""
    vecs = vecs_cte if vecs_cte is not None else f"""vecs AS (
              SELECT vec_id, list_transform(embedding::DOUBLE[],
                x -> CAST(round(x * 1000000) AS BIGINT)) AS v
              FROM embeddings)"""
    parts = [f"""{vecs},
cents0 AS (SELECT vec_id AS cid, v AS cv FROM vecs
           WHERE vec_id IN (SELECT vec_id FROM vecs
                            ORDER BY vec_id LIMIT {k}))"""]
    for i in range(iters):
        parts.append(f""",
d{i} AS (SELECT vec_id, v, cid,
         list_sum(list_transform(range(1, {dim + 1}),
                  j -> (v[j] - cv[j]) * (v[j] - cv[j]))) AS d
         FROM vecs CROSS JOIN cents{i}),
a{i} AS (SELECT vec_id, v, cid FROM (
           SELECT vec_id, v, cid,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d, cid) AS rn
           FROM d{i}) WHERE rn = 1),
s{i} AS (SELECT cid, pos, sum(x) AS s, count(*) AS n FROM (
           SELECT cid, unnest(v) AS x,
                  unnest(range(0, len(v))) AS pos
           FROM a{i}) GROUP BY cid, pos),
m{i} AS (SELECT cid, pos,
                CAST((s - s % n) // n AS BIGINT) AS val FROM s{i}),
cents{i + 1} AS (SELECT c.cid, coalesce(n.cv, c.cv) AS cv
                 FROM cents{i} c
                 LEFT JOIN (SELECT cid, list(val ORDER BY pos) AS cv
                            FROM m{i} GROUP BY cid) n
                 ON c.cid = n.cid)""")
    return "".join(parts)


def _kmeans_oracle_sql(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    return f"""
WITH {_kmeans_ctes(k, iters, dim)}
SELECT CAST(cid AS BIGINT) AS cid, CAST(pos AS INTEGER) AS pos,
       CAST(val AS BIGINT) AS val
FROM (SELECT cid, unnest(cv) AS val, unnest(range(0, len(cv))) AS pos
      FROM cents{iters})"""


def _ivf_kmeans_oracle_sql(k_cent: int = 8, iters: int = 3,
                           nprobe: int = 7, k: int = 5,
                           query_pred: str = "q.vec_id < 20") -> str:
    csim_cand = _COS_SQL.format(a="c.v", b="ct.cent")
    csim_query = _COS_SQL.format(a="q.v", b="ct.cent")
    return f"""
WITH {_kmeans_ctes(k_cent, iters)},
cent AS (SELECT cid AS cent_id,
                list_transform(cv, x -> x / 1000000.0) AS cent
         FROM cents{iters}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
asg AS (
  SELECT cand_id, cent_id FROM (
    SELECT c.vec_id AS cand_id, ct.cent_id,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {csim_cand} DESC, ct.cent_id) AS rn
    FROM e c CROSS JOIN cent ct)
  WHERE rn = 1
),
probes AS (
  SELECT query_id, cent_id FROM (
    SELECT q.vec_id AS query_id, ct.cent_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {csim_query} DESC, ct.cent_id) AS rn
    FROM e q CROSS JOIN cent ct WHERE {query_pred})
  WHERE rn <= {nprobe}
),
cand AS (
  SELECT DISTINCT probes.query_id, asg.cand_id
  FROM probes JOIN asg USING (cent_id)
  WHERE probes.query_id != asg.cand_id
),
p AS (
  SELECT query_id, cand_id, {_COS_SQL.format(a='q.v', b='c.v')} AS sim
  FROM cand JOIN e q ON cand.query_id = q.vec_id
            JOIN e c ON cand.cand_id = c.vec_id
),
r AS (SELECT query_id, cand_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, cand_id) AS rk
      FROM p)
SELECT query_id, CAST(rk AS INTEGER) AS rank, cand_id, round(sim, 3) AS sim
FROM r WHERE rk <= {k}
"""


@register("sim_topk_ivf_kmeans", _ivf_kmeans_oracle_sql())
def sim_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over LEARNED partitions: the deterministic quantized
    k-means centroids (8, de-quantized to doubles) replace the
    lowest-id seeds; nprobe=7 of 8 partitions searched (4 -> 6 -> 7
    across rounds as BENCH measured recall@5 = 0.8 -> 0.93 -> 0.97 —
    the synthetic near-random vectors have no cluster structure, so
    neighbors spread almost uniformly over partitions and the probe
    set must be wide to hit the r5 floor of 0.95; real embedding
    corpora cluster, and the nprobe/k_cent ratio drops accordingly.
    The recall floor is pinned in tests/test_similarity.py).  The whole
    composition — 3 Lloyd rounds AND the probing search — replays in
    the SQL oracle, because every clustering step is exact integer
    math.  The search plan: assignment via partial-agg argmax against
    broadcast centroids, candidates only.

    The learned centroids are MATERIALIZED driver-side (one bounded
    collect of k x dim = 512 integers — the persisted-centroids
    production pattern) and inlined as LITERALS, so the search half is
    the same map-only-assignment plan as the pretrained serve entry
    (`sim.ivf_topk_pretrained` — no crossJoin, no assignment shuffle;
    bit-identical tie-breaks and cosine arithmetic, hence the unchanged
    oracle).  r4 measured 5.3 -> 1.4 s for materializing the Lloyd
    lineage once; the r5 literal-centroid search removes the remaining
    assignment shuffle (wall-clock is fit-dominated at sf0.1 — ~4 s of
    the ~4.5 s total is the 3-round Lloyd fit, which is what the
    fit/serve split entries exist to separate)."""
    e = _emb(spark, sf_dir)
    cents = sim.kmeans_lloyd_quantized(e, k=8, iters=3, ckpt=_ckpt)
    by_cid: dict[int, list[tuple[int, int]]] = {}
    for r in cents.collect():   # k x dim rows — bounded by construction
        by_cid.setdefault(r["cid"], []).append((r["pos"], r["val"]))
    cent_list = [(int(cid), [v / 1e6 for _, v in sorted(pv)])
                 for cid, pv in sorted(by_cid.items())]
    return sim.ivf_topk_pretrained(e, e.where(F.col("vec_id") < 20),
                                   cent_list, k=5, nprobe=7)


# -- fit/serve split: at 100 TB the index is FIT once
# (scheduled job, centroids persisted) and SERVED many times (per-query
# search against the persisted artifact).  Folding the fit into every
# search — what sim_topk_ivf_kmeans does to stay self-contained — hides
# the serve cost, which is the number that matters for a deployed index.
# The split makes each measurable alone, and the quantized fit is
# deterministic, so persisted == refit and both entries share the
# existing exact-replay oracles.

import os as _os_mod

_REPO_ROOT = _os_mod.path.dirname(
    _os_mod.path.dirname(_os_mod.path.abspath(__file__)))


def _artifact_fresh(path: str, src: str, *upstreams: str,
                    marker: str = "_SUCCESS") -> bool:
    """True when the artifact's completion marker exists AND is newer
    than the source it was derived from — regenerating a testdata tier
    invalidates derived artifacts instead of serving stale copies
    (which would surface as a baffling oracle mismatch).

    ``upstreams`` are artifact DIRECTORIES this artifact was derived
    from (e.g. the postings' centroids, the threshold cut's model
    counts): a derived artifact is stale when any upstream's marker is
    missing or newer than its own (gating rebuilds only on
    the raw-source mtime silently served assignments from a superseded
    model after an upstream re-fit)."""
    m = _os_mod.path.join(path, marker)
    if not _os_mod.path.isfile(m):
        return False
    try:
        mt = _os_mod.path.getmtime(m)
        if mt < _os_mod.path.getmtime(src):
            return False
        for up in upstreams:
            um = _os_mod.path.join(up, marker)
            if not _os_mod.path.isfile(um) or mt < _os_mod.path.getmtime(um):
                return False
        return True
    except OSError:
        return False


def _artifact_path(sf_dir: str, name: str) -> str:
    """Deterministic per-sf-tier artifact location under the repo's
    (gitignored) ``.artifacts/`` — the stand-in for the object-store
    prefix a production fit job would publish to."""
    import re as _re
    tag = _re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    return f"{_REPO_ROOT}/.artifacts/{name}_{tag}"


def _fit_centroids_persisted(spark: SparkSession, sf_dir: str,
                             overwrite: bool) -> str:
    """Fit the quantized k-means (k=8, 3 Lloyd rounds) and persist the
    (cid, pos, val) centroid table as parquet; returns the path.  A
    512-row write — the artifact is always broadcast-sized by
    construction (k x dim)."""
    path = _artifact_path(sf_dir, "ivf_centroids")
    if not overwrite and _artifact_fresh(
            path, f"{sf_dir}/embeddings.parquet"):
        return path
    e = _emb(spark, sf_dir)
    cents = sim.kmeans_lloyd_quantized(e, k=8, iters=3, ckpt=_ckpt)
    cents.coalesce(1).write.mode("overwrite").parquet(path)
    return path


@register("sim_ivf_fit_centroids", _kmeans_oracle_sql())
def sim_ivf_fit_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FIT half of the split: run the deterministic quantized
    k-means and persist the centroids parquet.  The returned DataFrame
    is the READ-BACK of the persisted artifact (not the in-memory
    lineage), so the oracle hash-check verifies the on-disk state a
    serve job would actually consume — the oracle replays the fit,
    because the fit is exact."""
    path = _fit_centroids_persisted(spark, sf_dir, overwrite=True)
    return spark.read.parquet(path).select(
        F.col("cid").cast("bigint").alias("cid"),
        F.col("pos").cast("int").alias("pos"),
        F.col("val").cast("bigint").alias("val"))


@register("sim_topk_ivf_pretrained", _ivf_kmeans_oracle_sql())
def sim_topk_ivf_pretrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVE half: IVF search against the PERSISTED centroids —
    the 100 TB deployment shape, where the index artifact is read, not
    re-learned, per query batch.  Fit-if-absent keeps the entry
    self-contained (first touch pays the fit once; the determinism of
    the quantized fit makes persisted == refit, which is why the
    sim_topk_ivf_kmeans oracle replays this entry bit-for-bit).  The
    512-row artifact is collected driver-side and inlined as LITERAL
    centroids, which buys the serve plan its shape: nearest-centroid
    assignment becomes a map-only projection (no crossJoin, no
    assignment shuffle — see ``sim.ivf_topk_pretrained``), leaving the
    per-query top-k window as the only exchange.  Measured 2.0 → <1 s
    at sf0.1 vs routing the artifact through the DataFrame-centroid
    path; identical results (tie-breaks replayed exactly), so it shares
    the fused entry's oracle."""
    path = _fit_centroids_persisted(spark, sf_dir, overwrite=False)
    e = _emb(spark, sf_dir)
    cent_list = _load_centroids_cached(spark, path)
    return sim.ivf_topk_pretrained(e, e.where(F.col("vec_id") < 20),
                                   cent_list, k=5, nprobe=7)


#: "path[#micro]" -> (_SUCCESS mtime, centroid list) — a serving process
#: loads the index artifact once, not per query batch; the stored mtime
#: invalidates on re-fit, and keying by path (not (path, mtime)) evicts
#: the superseded generation instead of accumulating it (the
#: _PQ_CODEBOOK_CACHE discipline)
_CENTROID_CACHE: dict[str, tuple[float, list]] = {}


def _load_centroids_cached(spark: SparkSession, path: str,
                           micro: bool = False) -> list:
    """Load the persisted (cid, pos, val) centroid artifact once per
    path generation: de-quantized doubles by default (the IVF serve
    path), or the RAW micro-unit BIGINTs with ``micro=True`` (the
    SemDeDup serve path, whose assignment is exact integer squared-L2
    and must replay the artifact's ints)."""
    key = path + ("#micro" if micro else "")
    mtime = _os_mod.path.getmtime(_os_mod.path.join(path, "_SUCCESS"))
    hit = _CENTROID_CACHE.get(key)
    if hit is None or hit[0] != mtime:
        by_cid: dict[int, list[tuple[int, int]]] = {}
        for r in spark.read.parquet(path).collect():   # k x dim rows
            by_cid.setdefault(r["cid"], []).append((r["pos"], r["val"]))
        conv = (lambda v: int(v)) if micro else (lambda v: v / 1e6)
        _CENTROID_CACHE[key] = (mtime, [
            (int(cid), [conv(v) for _, v in sorted(pv)])
            for cid, pv in sorted(by_cid.items())])
    return _CENTROID_CACHE[key][1]


# ---------------------------------------------------------------------------
# TPC-H completion: the 9 remaining shapes (Q2, Q9, Q11, Q13, Q15, Q16,
# Q20, Q21, Q22), adapted to the available star schema.  The synthetic
# data has no partsupp table and no commit/receipt dates, so:
#   * part-supplier facts derive from lineitem (GROUP BY partkey, suppkey)
#     with the min unit price in exact integer cents as the supply-cost
#     stand-in — identical derivation on both engines;
#   * "late" = shipped > 60/90 days after o_orderdate (the Q21 receipt-
#     after-commit stand-in, same convention as q12_late_shipments).
# All money flows in exact integer cents and every threshold compare is
# integer-only (value * n > total instead of value > total/n), so the
# oracle hash never rides a float.
# ---------------------------------------------------------------------------

#: derived part-supplier relation: min unit cost (exact cents, floor-div
#: by the integral quantity) per (partkey, suppkey) — the partsupp
#: stand-in, shared by the Q2/Q9 oracles.  The Spark sides compute the
#: same minima as window functions over pre-filtered lineitem — one
#: shuffle, no derived-relation re-join (see each query's docstring).
_PS_COST_SQL = """
ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         min(CAST(round(l_extendedprice * 100) AS BIGINT)
             // CAST(l_quantity AS BIGINT)) AS ps_cost_cents
  FROM lineitem GROUP BY l_partkey, l_suppkey
)"""


@register("q2_min_cost_supplier", f"""
WITH {_PS_COST_SQL.strip()},
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
cost AS (
  SELECT ps_partkey, ps_cost_cents, s_name, s_acctbal, n_name
  FROM ps JOIN eu ON ps_suppkey = s_suppkey
),
mn AS (SELECT ps_partkey, min(ps_cost_cents) AS min_cents
       FROM cost GROUP BY ps_partkey)
SELECT p_partkey, p_name, s_name, n_name,
       CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents,
       ps_cost_cents AS cost_cents
FROM part
JOIN cost ON p_partkey = cost.ps_partkey
JOIN mn ON mn.ps_partkey = cost.ps_partkey AND ps_cost_cents = min_cents
WHERE p_size = 15 AND p_type LIKE '%ONOMY'
ORDER BY acctbal_cents DESC, p_partkey, s_name LIMIT 50
""")
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the EUROPE supplier(s)
    achieving the minimum derived supply cost — the correlated-min
    subquery decorrelated into a per-part min + equality join (the plan
    every engine rewrites Q2 into).  Suppliers/nation/region broadcast;
    the derived ps relation aggregates lineitem once.

    Two shuffle economies over the naive decorrelation: (a) lineitem
    is semi-filtered to EUROPE suppliers (broadcast) BEFORE the
    (partkey, suppkey) aggregation, so the agg shuffle carries only
    the qualifying region's fraction of the fact — the supplier filter
    is per-suppkey, so per-group minima are unchanged; (b) the
    per-part minimum is a WINDOW over the aggregated cost relation
    (one shuffle on ps_partkey) instead of a groupBy + equality
    re-join (two)."""
    eu = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(_t(spark, sf_dir, "region")
                          .where(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    li = _t(spark, sf_dir, "lineitem")
    unit_cents = F.expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT)"
        " DIV CAST(l_quantity AS BIGINT)")
    ps = (li.join(F.broadcast(eu.select("s_suppkey")),
                  F.col("l_suppkey") == F.col("s_suppkey"), "leftsemi")
          .select(F.col("l_partkey").alias("ps_partkey"),
                  F.col("l_suppkey").alias("ps_suppkey"),
                  unit_cents.alias("__unit"))
          .groupBy("ps_partkey", "ps_suppkey")
          .agg(F.min("__unit").alias("ps_cost_cents")))
    cost = ps.join(eu, F.col("ps_suppkey") == F.col("s_suppkey"))
    p = F.broadcast(
        _t(spark, sf_dir, "part")
        .where((F.col("p_size") == 15) & F.col("p_type").like("%ONOMY")))
    mn_w = Window.partitionBy("ps_partkey")
    return (
        cost.withColumn("min_cents", F.min("ps_cost_cents").over(mn_w))
        .where(F.col("ps_cost_cents") == F.col("min_cents"))
        .join(p, F.col("p_partkey") == F.col("ps_partkey"))
        .select("p_partkey", "p_name", "s_name", "n_name",
                F.round(F.col("s_acctbal") * 100).cast("bigint")
                 .alias("acctbal_cents"),
                F.col("ps_cost_cents").alias("cost_cents"))
        .orderBy(F.col("acctbal_cents").desc(), "p_partkey", "s_name")
        .limit(50)
    )


@register("q9_product_profit", f"""
WITH {_PS_COST_SQL.strip()}
SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                - ps_cost_cents * CAST(l_quantity AS BIGINT)) AS BIGINT)
         AS profit_cents
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN ps       ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
""")
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus derived supply cost) per
    supplier nation per order year, for parts matching a name pattern.
    The part filter prunes lineitem BEFORE anything else (broadcast
    part/supplier/nation); the derived per-(partkey, suppkey) supply
    cost is a WINDOW min over the filtered fact rows — correct because
    the part filter keeps or drops every row of a (partkey, suppkey)
    group together — so lineitem is scanned ONCE and shuffled once on
    the group key, instead of a second full scan + aggregate + a
    composite-key shuffle join of fact against derived (that form
    measured 2.1 s vs 1.2 s at sf0.1).  The orders join stays a real
    shuffle join: at 100 TB orders is a fact table, never a
    broadcast."""
    p = F.broadcast(_t(spark, sf_dir, "part")
                    .where(F.col("p_name").like("%red%"))
                    .select("p_partkey"))
    s = F.broadcast(_t(spark, sf_dir, "supplier")
                    .select("s_suppkey", "s_nationkey"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    unit_cents = F.expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT)"
        " DIV CAST(l_quantity AS BIGINT)")
    w = Window.partitionBy("l_partkey", "l_suppkey")
    amount = (F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                      * 100).cast("bigint")
              - F.col("ps_cost_cents")
              * F.col("l_quantity").cast("bigint"))
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .withColumn("ps_cost_cents", F.min(unit_cents).over(w))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.sum(amount).cast("bigint").alias("profit_cents"))
    )


@register("q13_customer_distribution", """
WITH co AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1-%'
  GROUP BY c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count, count(*) AS custdist
FROM co GROUP BY c_count
""")
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the orders-per-customer distribution — LEFT
    join with an ON-clause filter (urgent orders excluded, the
    o_comment stand-in) so customers with zero qualifying orders count
    at c_count = 0, then the histogram of counts.  Two aggregations,
    one join; the second agg runs on customer-cardinality data."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                           "o_orderpriority")
    co = (
        c.join(o, (F.col("c_custkey") == F.col("o_custkey"))
               & ~F.col("o_orderpriority").like("1-%"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (co.groupBy(F.col("c_count").cast("bigint").alias("c_count"))
            .agg(F.count(F.lit(1)).alias("custdist")))


@register("q21_waiting_suppliers", """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         date_diff('day', o_orderdate, l_shipdate) AS lag_days
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
),
l1 AS (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE lag_days > 60),
others AS (SELECT DISTINCT l_orderkey, l_suppkey FROM li),
cand AS (
  SELECT l1.l_orderkey, l1.l_suppkey FROM l1
  WHERE EXISTS (SELECT 1 FROM others o
                WHERE o.l_orderkey = l1.l_orderkey
                  AND o.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM l1 x
                    WHERE x.l_orderkey = l1.l_orderkey
                      AND x.l_suppkey <> l1.l_suppkey)
)
SELECT s_name, count(*) AS numwait
FROM cand JOIN supplier ON s_suppkey = l_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name LIMIT 20
""")
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    finished multi-supplier orders — the EXISTS / NOT-EXISTS stack as a
    left-semi then left-anti join on (orderkey, different-supplier)
    conditions.  "Late" = shipped > 60 days after order date (the
    receipt-after-commit stand-in).  The distinct (order, supplier)
    projections keep the self-joins on pre-deduplicated keys."""
    o = (_t(spark, sf_dir, "orders")
         .where(F.col("o_orderstatus") == "F")
         .select("o_orderkey", "o_orderdate"))
    li = (_t(spark, sf_dir, "lineitem")
          .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
          .select("l_orderkey", "l_suppkey",
                  F.datediff("l_shipdate", "o_orderdate").alias("lag_days")))
    late = (li.where(F.col("lag_days") > 60)
            .select("l_orderkey", "l_suppkey").distinct())
    others = li.select("l_orderkey", "l_suppkey").distinct()
    cand = (
        late.alias("l1")
        .join(others.alias("o"),
              (F.col("l1.l_orderkey") == F.col("o.l_orderkey"))
              & (F.col("l1.l_suppkey") != F.col("o.l_suppkey")),
              "left_semi")
        .join(late.alias("x"),
              (F.col("l1.l_orderkey") == F.col("x.l_orderkey"))
              & (F.col("l1.l_suppkey") != F.col("x.l_suppkey")),
              "left_anti")
    )
    s = F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (cand.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
            .groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.col("numwait").desc(), "s_name").limit(20))


@register("q22_global_sales_opportunity", """
WITH act AS (
  SELECT c_custkey, c_nationkey % 10 AS cntrycode,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)
),
avgbal AS (
  SELECT CAST(sum(bal_cents) AS BIGINT) AS s, count(*) AS n
  FROM act WHERE bal_cents > 0
),
noord AS (
  SELECT act.* FROM act
  WHERE NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = act.c_custkey
                      AND o_orderdate >= '1999-01-01')
)
SELECT CAST(cntrycode AS INTEGER) AS cntrycode, count(*) AS numcust,
       CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
FROM noord, avgbal
WHERE bal_cents * n > s
GROUP BY cntrycode
""")
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers from selected country codes (nation
    key mod 10 — the phone-prefix stand-in) with above-average balance
    and NO recent orders (none since 1999 — every synthetic customer
    has SOME order, so the pure no-orders predicate is vacuous here):
    scalar avg as an exact integer cross-compare (bal * n > sum), the
    NOT EXISTS as a shuffle anti join against the filtered order
    custkeys.  Output per country code in exact cents."""
    c = _t(spark, sf_dir, "customer")
    act = (c.where((F.col("c_nationkey") % 10).isin(1, 3, 5, 7, 9))
           .select("c_custkey",
                   (F.col("c_nationkey") % 10).alias("cntrycode"),
                   F.round(F.col("c_acctbal") * 100).cast("bigint")
                    .alias("bal_cents")))
    avgbal = (act.where(F.col("bal_cents") > 0)
              .agg(F.sum("bal_cents").cast("bigint").alias("s"),
                   F.count(F.lit(1)).alias("n")))
    o = (_t(spark, sf_dir, "orders")
         .where(F.col("o_orderdate") >= "1999-01-01").select("o_custkey"))
    noord = act.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    return (noord.crossJoin(F.broadcast(avgbal))
            .where(F.col("bal_cents") * F.col("n") > F.col("s"))
            .groupBy(F.col("cntrycode").cast("int").alias("cntrycode"))
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.sum("bal_cents").cast("bigint").alias("totacctbal_cents")))


# ---------------------------------------------------------------------------
# Round-4 pipeline additions: PII scan/redaction, BM25 ranking, SemDeDup
# ---------------------------------------------------------------------------

def _pii_inject_sql() -> str:
    """DuckDB twin of the deterministic PII injection below."""
    return ("""text
  || CASE WHEN doc_id % 7 = 0
          THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
          ELSE '' END
  || CASE WHEN doc_id % 11 = 0
          THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
               || '.' || CAST(doc_id % 100 AS VARCHAR)
          ELSE '' END
  || CASE WHEN doc_id % 13 = 0
          THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          ELSE '' END""")


def _pii_oracle_sql() -> str:
    from datafusion_monoid_spark.operators.text import PII_PATTERNS
    em, ip, ph = (PII_PATTERNS[k] for k in ("email", "ipv4", "phone"))
    red = f"""regexp_replace(regexp_replace(regexp_replace(t2,
            '{em}', '<EMAIL>', 'g'),
            '{ip}', '<IPV4>', 'g'),
            '{ph}', '<PHONE>', 'g')"""
    return f"""
WITH inj AS (SELECT doc_id, source, {_pii_inject_sql()} AS t2 FROM documents),
c AS (SELECT source,
             len(regexp_extract_all(t2, '{em}')) AS n_em,
             len(regexp_extract_all(t2, '{ip}')) AS n_ip,
             len(regexp_extract_all(t2, '{ph}')) AS n_ph,
             length({red}) AS red_len
      FROM inj)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN n_em > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_email,
       CAST(sum(n_em) AS BIGINT) AS n_emails,
       CAST(sum(CASE WHEN n_ip > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_ipv4,
       CAST(sum(n_ip) AS BIGINT) AS n_ipv4,
       CAST(sum(CASE WHEN n_ph > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_phone,
       CAST(sum(n_ph) AS BIGINT) AS n_phones,
       CAST(sum(red_len) AS BIGINT) AS sum_redacted_len
FROM c GROUP BY source
"""


@register("text_pii_scan", _pii_oracle_sql())
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction audit per source: match counts for
    email / IPv4 / phone patterns and the total post-redaction length
    (a deterministic integer checksum that the redaction actually
    rewrote the spans).  The synthetic corpus carries no PII, so both
    engines INJECT identical fake PII keyed on doc_id — the detector
    and redactor run on real text either way.

    Scale: one ``regexp_count`` per pattern inside whole-stage codegen,
    then a single groupBy(source) with map-side partial aggregation —
    the same linear scan shape a Common-Crawl PII pass runs; patterns
    are RE2-safe (no lookaround/backrefs) so the identical strings run
    on any engine."""
    d = _docs(spark, sf_dir)
    t2 = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" contact u"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0,
               F.concat(F.lit(" from 10.0."),
                        (F.col("doc_id") % 256).cast("string"), F.lit("."),
                        (F.col("doc_id") % 100).cast("string")))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0,
               F.concat(F.lit(" call 555-"),
                        F.lpad((F.col("doc_id") % 10000).cast("string"),
                               4, "0"))).otherwise(F.lit("")),
    )
    inj = d.select("source", t2.alias("t2"))
    cnt = tx.pii_counts(F.col("t2"))
    feats = inj.select(
        "source", cnt["email"].alias("n_em"), cnt["ipv4"].alias("n_ip"),
        cnt["phone"].alias("n_ph"),
        F.length(tx.pii_redact(F.col("t2"))).alias("red_len"))
    flag = lambda c: F.sum((c > 0).cast("int")).cast("bigint")
    return feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        flag(F.col("n_em")).alias("n_docs_email"),
        F.sum("n_em").cast("bigint").alias("n_emails"),
        flag(F.col("n_ip")).alias("n_docs_ipv4"),
        F.sum("n_ip").cast("bigint").alias("n_ipv4"),
        flag(F.col("n_ph")).alias("n_docs_phone"),
        F.sum("n_ph").cast("bigint").alias("n_phones"),
        F.sum("red_len").cast("bigint").alias("sum_redacted_len"),
    )


#: BM25 query terms — mid-frequency tokens of the synthetic corpus.
_BM25_TERMS = ("hash", "join", "stream", "vector")


def _idiv(a, b):
    """Exact floor division of non-negative bigint columns.  The
    ``(a - a%b)/b`` form keeps every intermediate an exact integer;
    all BM25 quantities stay < 2^53 by construction (documented at the
    call sites), so the final double division is exact too."""
    return ((a - a % b) / b).cast("bigint")


def _bm25_oracle_sql(topn: int = 10) -> str:
    """The BM25 ranking CTE chain, parameterized on depth — registered
    at 10 for ``bm25_rank_topk`` and composed at ``_RRF_DEPTH`` into
    the hybrid-fusion oracle."""
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
base AS (SELECT doc_id, len(toks) AS dl,
                list_filter(toks, x -> list_contains(
                  [{", ".join(f"'{w}'" for w in _BM25_TERMS)}], x)) AS qt
         FROM t),
tot AS (SELECT CAST(sum(dl) AS BIGINT) AS total_dl,
               CAST(count(*) AS BIGINT) AS n FROM base),
tf AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
       FROM (SELECT doc_id, dl, unnest(qt) AS token FROM base)
       GROUP BY doc_id, dl, token),
dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
sc AS (SELECT doc_id,
              (((2*n - 2*df + 1) * 1000000) // (2*df + 1))
              * ((tf * 22 * total_dl * 10000)
                 // (10*tf*total_dl + 3*total_dl + 9*dl*n)) // 10000
                AS s
       FROM tf JOIN dfq USING (token) CROSS JOIN tot),
agg AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS score_micro
        FROM sc GROUP BY doc_id),
r AS (SELECT doc_id, score_micro,
             row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rk
      FROM agg)
SELECT CAST(rk AS INTEGER) AS rank, doc_id, score_micro FROM r WHERE rk <= {topn}
"""


def _bm25_score_from_tf(tf: DataFrame, tot: DataFrame) -> DataFrame:
    """(doc_id, score_micro) from a (doc_id, dl, token, tf) relation +
    a broadcast 1-row (total_dl, n) corpus-stat relation — the
    exact-integer BM25 formula shared by the from-scratch scorer and
    the postings-index serve path (identical arithmetic is what lets
    both share ``_bm25_oracle_sql``)."""
    dfq = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"))
    sc = (tf.join(F.broadcast(dfq), "token").crossJoin(F.broadcast(tot))
          .select("doc_id",
                  (_idiv((2*F.col("n") - 2*F.col("df") + 1) * 1000000,
                         2*F.col("df") + 1)
                   * _idiv(F.col("tf") * 22 * F.col("total_dl") * 10000,
                           10*F.col("tf")*F.col("total_dl")
                           + 3*F.col("total_dl")
                           + 9*F.col("dl")*F.col("n"))).alias("num")))
    return (sc.groupBy("doc_id")
            .agg(F.sum(_idiv(F.col("num"), F.lit(10000)))
                 .cast("bigint").alias("score_micro")))


def _bm25_topk(agg: DataFrame, topn: int = 10) -> DataFrame:
    top = agg.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(topn)
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w).cast("int"))
            .select("rank", "doc_id", "score_micro"))


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score_micro): the exact-integer BM25 scoring relation —
    the shared core of ``bm25_rank_topk`` and the lexical leg of
    ``hybrid_rrf_fusion`` (only docs containing >= 1 query term)."""
    docs = _docs(spark, sf_dir).select("doc_id", dd.tokens("text").alias("toks"))
    # Materialize the post-tokenize projection once: (dl, qt) is tiny
    # (a count + the query-term hits) but feeds BOTH the corpus-stats
    # aggregate and the tf explode — left inline, each consumer re-runs
    # the tokenizer over the corpus.  Eager: a lazy checkpoint inside a
    # single action does not split the DAG, so both consumers would
    # still compile the full tokenize lineage.
    base = _track_ckpt(docs.select(
        "doc_id", F.size("toks").cast("bigint").alias("dl"),
        F.filter("toks", lambda x: x.isin(*_BM25_TERMS)).alias("qt")
    ).localCheckpoint(eager=True))
    tot = base.agg(F.sum("dl").cast("bigint").alias("total_dl"),
                   F.count(F.lit(1)).cast("bigint").alias("n"))
    tf = (base.select("doc_id", "dl", F.explode("qt").alias("token"))
          .groupBy("doc_id", "dl", "token")
          .agg(F.count(F.lit(1)).cast("bigint").alias("tf")))
    return _bm25_score_from_tf(tf, tot)


@register("bm25_rank_topk", _bm25_oracle_sql())
def bm25_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking (k1=1.2, b=0.75) for a fixed term set, in
    EXACT integer arithmetic so the score hash-matches any engine: the
    idf uses the rational ((2N-2df+1)/(2df+1)) instead of its log (same
    ordering, no libm), and the tf saturation is scaled by 10*total_dl
    to clear the fractions — idf_micro <= ~4e10, part <= 22000, and
    every numerator < 2^53 even at sf10, so :func:`_idiv` is exact.

    Scale: the token explode is filtered to the query terms BEFORE the
    shuffle (per-doc tf state is O(|terms|)); df is a |terms|-row
    aggregate joined back by broadcast; the corpus-wide (N, total_dl)
    is a 1-row cross join; the final top-10 is TakeOrderedAndProject
    (per-partition heads), never a global sort."""
    return _bm25_topk(_bm25_scores(spark, sf_dir))


# -- BM25 term-postings lifecycle (the FIFTH index family to get the
# build / append / compact discipline, after IVF, containment, LSH and
# exact-key): the retrieval tier scored from a from-scratch tokenize
# every call, which a deployed search path never does — it maintains a
# token-clustered inverted index ((token, doc_id, tf) postings + a
# (doc_id, dl) length relation) and serves from it.  Postings are
# per-doc deterministic, so the family carries the strong identity:
# compact(base ∪ generation) == from-scratch postings over the union
# corpus, row-for-row — and the serve entry proves the artifact by
# reproducing ``bm25_rank_topk``'s oracle bit-for-bit from the index.


_BM25_POSTHASH = (f"({dd.md5_long_sql('token')} % 4294967296 "
                  "+ doc_id * 31 + tf)")


def _bm25_layer(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """((token, doc_id, tf) postings, (doc_id, dl) doclens) for a doc
    relation.  Two tokenize passes rather than one checkpointed one:
    the full-vocabulary token array is corpus-sized (nothing like the
    query-term slice ``_bm25_scores`` checkpoints), so materializing
    it would cost more memory than the second scan costs time — and
    index builds are the scheduled-job path, not the serve path."""
    postings = (docs.select("doc_id",
                            F.explode(dd.tokens("text")).alias("token"))
                .groupBy("token", "doc_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("tf")))
    doclens = docs.select(
        "doc_id", F.size(dd.tokens("text")).cast("bigint").alias("dl"))
    return postings, doclens


def _build_bm25_index(spark: SparkSession, sf_dir: str,
                      overwrite: bool = False) -> tuple[str, str]:
    """Persist the OLD corpus's (doc_id % 11 != 0) inverted index:
    postings token-clustered (repartition + within-file sort — a serve
    query's term filter prunes row groups on parquet token min/max)
    plus the narrow doclens relation."""
    ppath = _artifact_path(sf_dir, "bm25_postings")
    lpath = _artifact_path(sf_dir, "bm25_doclens")
    src = f"{sf_dir}/documents.parquet"
    if not overwrite and _artifact_fresh(ppath, src) \
            and _artifact_fresh(lpath, src):
        return ppath, lpath
    old = _docs(spark, sf_dir).where(F.col("doc_id") % 11 != 0)
    postings, doclens = _bm25_layer(old)
    (postings.repartition("token").sortWithinPartitions("token", "doc_id")
     .write.mode("overwrite").parquet(ppath))
    doclens.write.mode("overwrite").parquet(lpath)
    return ppath, lpath


def _append_bm25_postings(spark: SparkSession, sf_dir: str,
                          overwrite: bool = False) -> tuple[str, str]:
    """The arriving batch's (doc_id % 11 == 0) postings + doclens as
    their own O(batch) artifact generation — written idempotently; the
    base index is only ever READ.  Freshness-gated when not
    overwriting (the generation is deterministic), so a downstream
    compaction/serve does not re-ingest — and, crucially, does not
    bump the generation mtime and force its own refold every call."""
    _build_bm25_index(spark, sf_dir, overwrite=False)
    pnew = _artifact_path(sf_dir, "bm25_postings_new")
    lnew = _artifact_path(sf_dir, "bm25_doclens_new")
    src = f"{sf_dir}/documents.parquet"
    if not overwrite and _artifact_fresh(pnew, src) \
            and _artifact_fresh(lnew, src):
        return pnew, lnew
    nb = _docs(spark, sf_dir).where(F.col("doc_id") % 11 == 0)
    postings, doclens = _bm25_layer(nb)
    postings.write.mode("overwrite").parquet(pnew)
    doclens.write.mode("overwrite").parquet(lnew)
    return pnew, lnew


def _compact_bm25_index(spark: SparkSession,
                        sf_dir: str) -> tuple[str, str]:
    """Fold the appended generation into ONE token-clustered artifact
    pair; freshness-gated on both upstream layers so the serve entry
    pays the fold once, not per query batch."""
    ppath, lpath = _build_bm25_index(spark, sf_dir, overwrite=False)
    pnew, lnew = _append_bm25_postings(spark, sf_dir)
    pc = _artifact_path(sf_dir, "bm25_postings_compacted")
    lc = _artifact_path(sf_dir, "bm25_doclens_compacted")
    src = f"{sf_dir}/documents.parquet"
    if not (_artifact_fresh(pc, src, ppath, pnew)
            and _artifact_fresh(lc, src, lpath, lnew)):
        (spark.read.parquet(ppath)
         .unionByName(spark.read.parquet(pnew))
         .repartition("token").sortWithinPartitions("token", "doc_id")
         .write.mode("overwrite").parquet(pc))
        (spark.read.parquet(lpath)
         .unionByName(spark.read.parquet(lnew))
         .write.mode("overwrite").parquet(lc))
    return pc, lc


def _bm25_digest(spark: SparkSession, ppath: str, lpath: str,
                 layer: str) -> DataFrame:
    """One-row digest of an on-disk index layer: postings count,
    distinct terms, doc count, tf mass, token mass, and an
    order-insensitive content hash — enough to pin the layer's exact
    rows against the oracle without shipping the vocabulary."""
    h = (dd.md5_long("token") % F.lit(4294967296)
         + F.col("doc_id") * 31 + F.col("tf"))
    p = spark.read.parquet(ppath).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_postings"),
        F.countDistinct("token").cast("bigint").alias("n_terms"),
        F.sum("tf").cast("bigint").alias("sum_tf"),
        F.sum(h).cast("bigint").alias("sum_hash"))
    l = spark.read.parquet(lpath).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_dl"))
    return (p.crossJoin(F.broadcast(l))
            .select(F.lit(layer).alias("layer"), "n_postings",
                    "n_terms", "n_docs", "sum_tf", "total_dl",
                    "sum_hash"))


def _bm25_digest_sql(p_cte: str, t_cte: str, layer: str) -> str:
    return (f"SELECT '{layer}' AS layer, "
            f"CAST(count(*) AS BIGINT) AS n_postings, "
            f"CAST(count(DISTINCT token) AS BIGINT) AS n_terms, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM {t_cte}) AS n_docs, "
            f"CAST(sum(tf) AS BIGINT) AS sum_tf, "
            f"(SELECT CAST(sum(len(toks)) AS BIGINT) FROM {t_cte}) "
            f"AS total_dl, "
            f"CAST(sum({_BM25_POSTHASH}) AS BIGINT) AS sum_hash "
            f"FROM {p_cte}")


def _bm25_postings_cte(t_cte: str, p_cte: str) -> str:
    return (f"{p_cte} AS (SELECT token, doc_id, "
            f"CAST(count(*) AS BIGINT) AS tf FROM "
            f"(SELECT doc_id, unnest(toks) AS token FROM {t_cte}) "
            f"GROUP BY token, doc_id)")


def _bm25_compact_oracle_sql() -> str:
    return f"""
WITH ta AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
{_bm25_postings_cte('ta', 'pa')}
{_bm25_digest_sql('pa', 'ta', 'compacted')}
"""


@register("bm25_postings_compact", _bm25_compact_oracle_sql())
def bm25_postings_compact(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """COMPACT the BM25 index: fold the appended generation into ONE
    token-clustered artifact pair (repartition + within-file sort on
    token — the layout that makes a serve query's term filter prune
    parquet row groups).  Postings are per-doc deterministic, so
    compact(base ∪ generation) is ROW-IDENTICAL to from-scratch
    postings over the WHOLE corpus — this entry's oracle IS that
    from-scratch digest, and the row-level identity is pinned in
    tests/test_pipeline_r13.py.

    Scale: O(index) — narrow postings relations through one hash
    exchange on token; corpus text is touched only if a missing
    generation must first be built (the build/append entries' job)."""
    pc, lc = _compact_bm25_index(spark, sf_dir)
    return _bm25_digest(spark, pc, lc, "compacted")


@register("bm25_serve_from_postings", _bm25_oracle_sql())
def bm25_serve_from_postings(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """SERVE BM25 from the MAINTAINED index — the deployment shape:
    rank the fixed query terms by reading the compacted postings
    (term filter pushed to the token-clustered parquet scan: row
    groups outside the terms' token range never decompress) + the
    doclens relation, with zero corpus tokenization on the query path.
    Shares ``bm25_rank_topk``'s oracle verbatim: serving from the
    lifecycle artifact reproduces the from-scratch ranking
    BIT-FOR-BIT, which is the proof the index is complete and the
    maintenance loop is safe to trust.

    Scale: the serve reads |terms| posting lists (pruned scan) + the
    narrow doclens; df/N/total_dl are term-count/1-row broadcast
    aggregates; top-10 is TakeOrderedAndProject.  A query batch never
    touches document text."""
    pc, lc = _compact_bm25_index(spark, sf_dir)
    post = (spark.read.parquet(pc)
            .where(F.col("token").isin(*_BM25_TERMS)))
    dl = spark.read.parquet(lc)
    tot = dl.agg(F.sum("dl").cast("bigint").alias("total_dl"),
                 F.count(F.lit(1)).cast("bigint").alias("n"))
    tf = post.join(dl, "doc_id").select("doc_id", "dl", "token", "tf")
    return _bm25_topk(_bm25_score_from_tf(tf, tot))


# -- hybrid retrieval fusion: the serving
# composition one step past the two ranking tiers — fuse the LEXICAL
# ranking (exact-integer BM25 over the fixed term set) with a SEMANTIC
# ranking served from the persisted IVF index, by reciprocal-rank
# fusion (Cormack, Clarke & Buettcher, SIGIR 2009: score(d) =
# sum over lists of 1/(k + rank_d), fixed k = 60).

_RRF_KCONST = 60           # the SIGIR 2009 paper's fixed constant
_RRF_DEPTH = 50            # fusion depth per ranked list
_RRF_QUERY_VEC = 0         # the semantic leg's query vector id
_RRF_SCALE = 1_000_000_000_000  # pico-scale: 1e12//(60+r) keeps 8+ digits


def _rrf_oracle_sql() -> str:
    lex_sql = _bm25_oracle_sql(_RRF_DEPTH)
    sem_sql = _ivf_kmeans_oracle_sql(
        k=_RRF_DEPTH, query_pred=f"q.vec_id = {_RRF_QUERY_VEC}")
    return f"""
WITH lex AS (SELECT doc_id, rank AS rank_lex FROM ({lex_sql})),
sem AS (SELECT cand_id AS doc_id, rank AS rank_sem FROM ({sem_sql})),
u AS (
  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         coalesce(rank_lex, 0) AS rank_lex,
         coalesce(rank_sem, 0) AS rank_sem,
         (CASE WHEN rank_lex IS NULL THEN 0
               ELSE {_RRF_SCALE} // ({_RRF_KCONST} + rank_lex) END)
         + (CASE WHEN rank_sem IS NULL THEN 0
                 ELSE {_RRF_SCALE} // ({_RRF_KCONST} + rank_sem) END)
           AS rrf_pico
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
SELECT CAST(rk AS INTEGER) AS rank, doc_id,
       CAST(rrf_pico AS BIGINT) AS rrf_pico,
       CAST(rank_lex AS INTEGER) AS rank_lex,
       CAST(rank_sem AS INTEGER) AS rank_sem
FROM (SELECT *, row_number() OVER (ORDER BY rrf_pico DESC, doc_id) AS rk
      FROM u)
WHERE rk <= 10
"""


@register("hybrid_rrf_fusion", _rrf_oracle_sql())
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al.
    SIGIR 2009): fuse the catalog's LEXICAL ranking (``_bm25_scores``,
    exact-integer BM25 over the fixed term set, depth 50) with a
    SEMANTIC ranking SERVED from the persisted IVF centroid artifact
    (``sim.ivf_topk_pretrained``, one fixed query vector, depth 50).
    RRF score = sum over lists of 1/(60 + rank) — computed here as the
    exact floor division 1e12 // (60 + rank) so both engines replay the
    fusion bit-for-bit; a doc absent from a list contributes 0 (its
    reported per-list rank is 0 = "absent").  Top-10 by fused score,
    ties by doc_id.  On the synthetic corpus the text table and the
    embedding table share the 0..N id space but no semantic link, so
    the entry's value is the SERVING PLAN: the production composition
    is identical, with real query text/vector pairs.

    Scale: both legs keep their own 100 TB posture (BM25: query-term
    filter before the shuffle, broadcast df/totals; IVF serve: literal
    centroids, map-only assignment, per-query window the only
    exchange); the fusion itself touches <= 2 x depth rows — a UNION +
    map-side-combined partial agg (join-free: Spark cannot broadcast
    FullOuter, so the join form would sort-merge) and the final top-10
    is TakeOrderedAndProject.  Neither leg re-shuffles the corpus for
    the other."""
    # lexical leg: depth-50 head of the BM25 relation
    wl = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    lexr = (_bm25_scores(spark, sf_dir)
            .orderBy(F.desc("score_micro"), F.asc("doc_id"))
            .limit(_RRF_DEPTH)
            .withColumn("rank_lex", F.row_number().over(wl).cast("int"))
            .select("doc_id", "rank_lex"))
    # semantic leg: the pretrained-IVF serve path, one query vector
    path = _fit_centroids_persisted(spark, sf_dir, overwrite=False)
    cent_list = _load_centroids_cached(spark, path)
    e = _emb(spark, sf_dir)
    sem = sim.ivf_topk_pretrained(
        e, e.where(F.col("vec_id") == _RRF_QUERY_VEC), cent_list,
        k=_RRF_DEPTH, nprobe=7)
    semr = sem.select(F.col("cand_id").alias("doc_id"),
                      F.col("rank").alias("rank_sem"))

    # fuse by UNION + one partial agg instead of a full-outer join:
    # Spark cannot broadcast FullOuter, so the join form sort-merges
    # even two 50-row legs — the union aggregates map-side and plans
    # join-free (absent-from-list = the leg contributes no row, its
    # max(rank) stays at the 0 sentinel)
    def contrib(c) -> Column:
        return _idiv(F.lit(_RRF_SCALE), F.lit(_RRF_KCONST) + c)

    parts = (lexr.select("doc_id",
                         contrib(F.col("rank_lex")).alias("rrf_pico"),
                         "rank_lex", F.lit(0).cast("int").alias("rank_sem"))
             .unionByName(
                 semr.select("doc_id",
                             contrib(F.col("rank_sem")).alias("rrf_pico"),
                             F.lit(0).cast("int").alias("rank_lex"),
                             "rank_sem")))
    u = parts.groupBy("doc_id").agg(
        F.sum("rrf_pico").cast("bigint").alias("rrf_pico"),
        F.max("rank_lex").alias("rank_lex"),
        F.max("rank_sem").alias("rank_sem"))
    top = u.orderBy(F.desc("rrf_pico"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("rrf_pico"), F.asc("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w).cast("int"))
            .select("rank", "doc_id",
                    F.col("rrf_pico").cast("bigint").alias("rrf_pico"),
                    "rank_lex", "rank_sem"))


def _semdedup_prune_pandas(pdf):
    """Per-cluster prune tally: exact int64 NumPy matmul over the int8
    quantized vectors.  A vector is pruned when ANY smaller-id
    cluster-mate clears  dot>0 AND dot^2*1e4 >= 7225*na2*nb2  (integer
    cos >= 0.85).  Row-blocked so peak memory is B x c, not c x c.

    All arithmetic stays in int64 with headroom: |q_i| <= ~2^9 means
    dot <= 2^24, dot^2*1e4 <= 2^62."""
    import numpy as np
    import pandas as pd
    ids = pdf["vec_id"].to_numpy(np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    q = np.stack([np.asarray(a, dtype=np.int64)
                  for a in pdf["q"].iloc[order]])
    n2 = (q * q).sum(axis=1)
    n = len(ids)
    pruned = np.zeros(n, dtype=bool)
    B = 2048
    for i0 in range(0, n, B):
        hi = min(i0 + B, n)
        blk = q[i0:hi] @ q.T
        cond = (blk > 0) & (blk * blk * 10000
                            >= 7225 * np.outer(n2[i0:hi], n2))
        # strict upper triangle in GLOBAL (id-sorted) indices: i < j
        cond &= np.arange(i0, hi)[:, None] < np.arange(n)[None, :]
        pruned |= cond.any(axis=0)
    k = int(pruned.sum())
    return pd.DataFrame({
        "cid": [int(pdf["cid"].iloc[0])], "n_vecs": [n],
        "n_pruned": [k], "n_kept": [n - k],
        "sum_pruned_ids": [int(ids[pruned].sum())],
    })


def _semdedup_oracle_sql(k: int = 8, iters: int = 3, t2_pct: int = 7225) -> str:
    return f"""
WITH {_kmeans_ctes(k, iters)},
d AS (SELECT vec_id, cid,
             list_sum(list_transform(range(1, 65),
                      j -> (v[j] - cv[j]) * (v[j] - cv[j]))) AS d
      FROM vecs CROSS JOIN cents{iters}),
asg AS (SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM d) WHERE rn = 1),
q8 AS (SELECT vec_id,
              list_transform(embedding::DOUBLE[],
                             x -> CAST(round(x * 127) AS BIGINT)) AS q
       FROM embeddings),
qn AS (SELECT vec_id, q,
              list_sum(list_transform(q, x -> x * x)) AS n2 FROM q8),
pairs AS (SELECT b.vec_id AS bid,
                 list_sum(list_transform(range(1, 65),
                          j -> qa.q[j] * qb.q[j])) AS dot,
                 qa.n2 AS na2, qb.n2 AS nb2
          FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
          JOIN qn qa ON qa.vec_id = a.vec_id
          JOIN qn qb ON qb.vec_id = b.vec_id),
pr AS (SELECT DISTINCT bid AS vec_id FROM pairs
       WHERE dot > 0 AND dot * dot * 10000 >= {t2_pct} * na2 * nb2)
SELECT CAST(asg.cid AS BIGINT) AS cid, count(*) AS n_vecs,
       CAST(sum(CASE WHEN pr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pruned,
       CAST(count(*) - sum(CASE WHEN pr.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(coalesce(sum(CASE WHEN pr.vec_id IS NOT NULL
                               THEN asg.vec_id END), 0) AS BIGINT)
         AS sum_pruned_ids
FROM asg LEFT JOIN pr ON asg.vec_id = pr.vec_id
GROUP BY asg.cid
"""


@register("semdedup_prune", _semdedup_oracle_sql())
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (cluster-then-prune, after
    Abbas et al. 2023): k-means partitions the embedding space, then
    ONLY within-cluster pairs are tested for cosine similarity, and a
    vector is pruned when a smaller-id cluster-mate sits above the
    threshold.  Per-cluster keep/prune tallies come back (plus the
    pruned-id checksum), the whole composition in exact integer math:
    the deterministic quantized k-means (cents replayed by the oracle's
    unrolled CTEs), int8-ish quantization round(x*127), and the cosine
    test  dot>0 AND dot^2*10000 >= 7225*|a|^2*|b|^2  — i.e. cos >= 0.85
    decided without a single float (dot^2*1e4 <= 1.1e16 < 2^63).

    Scale: this is the textbook SemDeDup shape — the O(c^2) pairwise
    test runs per CLUSTER as one Arrow-batched exact-int64 NumPy matmul
    (applyInPandas, row-blocked), so k is chosen ~N/target_cluster_size
    to bound each cluster (at 100 TB: k in the tens of thousands,
    cluster assignment still a broadcast of k x dim ints, pruning still
    a single shuffle on cid).  Learned centroids are materialized
    driver-side once (bounded k x dim collect — the persisted-centroids
    pattern, same as sim_topk_ivf_kmeans)."""
    e = _emb(spark, sf_dir)
    cents = sim.kmeans_lloyd_quantized(e, k=8, iters=3, ckpt=_ckpt)
    by_cid: dict[int, list[tuple[int, int]]] = {}
    for r in cents.collect():   # k x dim rows — bounded by construction
        by_cid.setdefault(r["cid"], []).append((r["pos"], r["val"]))
    cv = spark.createDataFrame(
        [(int(cid), [v for _, v in sorted(pv)]) for cid, pv in
         sorted(by_cid.items())],
        "cid bigint, cv array<bigint>")
    v = e.select(
        "vec_id", sim.quantize_micro("embedding").alias("v"),
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: F.round(x * 127).cast("bigint")).alias("q"))
    asg = (v.crossJoin(F.broadcast(cv))
           .select("vec_id", "cid", "q",
                   F.aggregate(F.zip_with(F.col("v"), F.col("cv"),
                                          lambda x, y: (x - y) * (x - y)),
                               F.lit(0).cast("bigint"),
                               lambda a, x: a + x).alias("d"))
           .groupBy("vec_id")
           .agg(F.min(F.struct("d", "cid", "q")).alias("m"))
           .select("vec_id", F.col("m.cid").alias("cid"),
                   F.col("m.q").alias("q")))
    # The within-cluster all-pairs test runs as ONE Arrow-batched
    # NumPy matmul per cluster (applyInPandas) instead of a c^2-row
    # Catalyst self-join: at sf1 (20k vectors, 10x-duplicated corpus)
    # the expression self-join spent 84 s on ~25M pair rows of
    # 64-element array lambdas; the exact int64 matmul does the same
    # arithmetic in <2 s.  Same one-shuffle shape (groupBy cid).
    return asg.groupBy("cid").applyInPandas(
        _semdedup_prune_pandas,
        schema=("cid bigint, n_vecs bigint, n_pruned bigint, "
                "n_kept bigint, sum_pruned_ids bigint"))


def _semdedup_assign_sql(cent_list: list) -> str:
    """Map-only nearest-centroid assignment against LITERAL micro-int
    centroids, as one parsed SQL string (the ``_projection_sql``
    economics — the 8 x 64-literal fold trees cost ~0.1 s parsed vs
    seconds through the py4j Column API).  ``array_sort`` over
    (d, cid) structs replays ``F.min(F.struct(d, cid))`` exactly: min
    squared distance, ties to the lowest cid — all BIGINT, no floats."""
    structs = ", ".join(
        "struct(aggregate(zip_with(__v, array("
        + ", ".join(f"{int(x)}L" for x in vec)
        + "), (x, y) -> (x - y) * (x - y)), 0L, (a, t) -> a + t) AS d, "
        + f"{int(cid)}L AS cid)"
        for cid, vec in cent_list)
    return f"element_at(array_sort(array({structs})), 1).cid"


@register("semdedup_prune_pretrained", _semdedup_oracle_sql())
def semdedup_prune_pretrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVE half of SemDeDup (fit/serve split, same artifact as
    the IVF pair): cluster assignment against the PERSISTED centroids
    parquet instead of re-running the 3-round Lloyd fit per invocation.
    The fused entry (``semdedup_prune``) is fit-dominated — ~4 of its
    ~4.5 s at sf0.1 is the k-means lineage; a deployed pipeline fits
    the clustering once on a sample and prunes many corpus partitions
    against it, so the serve cost is the number that matters.

    Plan shape: the k x dim artifact is collected once (bounded by
    construction) and inlined as LITERAL micro-int arrays, so
    nearest-centroid assignment is a map-only projection — scan →
    project → ONE shuffle on cid → per-cluster Arrow matmul
    (FlatMapGroupsInPandas).  The fused entry's crossJoin + per-vector
    argmin aggregation (an extra full-corpus exchange) disappears.
    Exact same integer arithmetic and (d, cid) tie-break as the fused
    entry, and the quantized fit is deterministic, so persisted ==
    refit and this entry shares ``semdedup_prune``'s oracle
    bit-for-bit."""
    path = _fit_centroids_persisted(spark, sf_dir, overwrite=False)
    cent_list = _load_centroids_cached(spark, path, micro=True)
    e = _emb(spark, sf_dir)
    base = e.select(
        "vec_id", sim.quantize_micro("embedding").alias("__v"),
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: F.round(x * 127).cast("bigint")).alias("q"))
    asg = base.select(
        "vec_id", "q",
        F.expr(_semdedup_assign_sql(cent_list)).alias("cid"))
    return asg.groupBy("cid").applyInPandas(
        _semdedup_prune_pandas,
        schema=("cid bigint, n_vecs bigint, n_pruned bigint, "
                "n_kept bigint, sum_pruned_ids bigint"))


_DQ_ORACLE = """
WITH fk AS (
  SELECT 'fk_orders_customer' AS check_name,
         CAST(count(*) AS BIGINT) AS n_checked,
         CAST(sum(CASE WHEN k.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations
  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) k
    ON o.o_custkey = k.c_custkey
  UNION ALL
  SELECT 'fk_lineitem_orders', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN k.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) k
    ON l.l_orderkey = k.o_orderkey
  UNION ALL
  SELECT 'fk_lineitem_part', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN k.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) k
    ON l.l_partkey = k.p_partkey
  UNION ALL
  SELECT 'fk_lineitem_supplier', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN k.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) k
    ON l.l_suppkey = k.s_suppkey
),
pk AS (
  SELECT 'pk_orders_orderkey' AS check_name,
         CAST(count(*) AS BIGINT) AS n_checked,
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
  FROM orders
  UNION ALL
  SELECT 'pk_customer_custkey', CAST(count(*) AS BIGINT),
         CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
  FROM customer
),
dom AS (
  SELECT 'dom_lineitem_quantity' AS check_name,
         CAST(count(*) AS BIGINT) AS n_checked,
         CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
  FROM lineitem
  UNION ALL
  SELECT 'dom_lineitem_discount', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'dom_orders_totalprice', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'null_events_value', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN value IS NULL OR isnan(value)
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'doc_nchars_matches_text', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN n_chars IS DISTINCT FROM length(text)
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM documents
)
SELECT * FROM fk UNION ALL SELECT * FROM pk UNION ALL SELECT * FROM dom
"""


@register("dq_integrity_report", _DQ_ORACLE)
def dq_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations report — the admission gate a training
    pipeline runs before a corpus snapshot is allowed downstream: one
    row per check, ``(check_name, n_checked, n_violations)``.  Checks:
    referential integrity (4 FK edges of the star schema), primary-key
    uniqueness, domain ranges (quantity/discount/price), NaN/null audit
    on the metric column, and derived-column consistency (``n_chars``
    must equal the text's character length).

    Scale shapes, per check family:

    * **FK orphans** — the fact side is pre-aggregated to
      ``(key, cnt)`` per DISTINCT key before any join (partial agg, the
      shuffle carries |distinct keys| rows, not the fact table), then
      left-joined against the dimension's distinct-key relation and
      orphan multiplicities summed.  At 100 TB the distinct-key
      relation is orders of magnitude smaller than the fact table and
      frequently broadcast-able where the raw join is not.
    * **PK uniqueness** — same per-key partial agg;
      violations = sum(cnt) - n_keys, no distinct-count shuffle of raw
      rows.
    * **Domain / null / consistency** — single linear scans with
      conditional partial aggregation; no joins, pushdown-friendly.

    EVERY fact table is scanned exactly ONCE regardless of how many
    checks it carries: each row fans out to (check, key, bad) branch
    rows, partial-aggregates per (check, key), and FK branches
    left-join one tagged union of the dimensions' distinct keys — the
    audit is scan-bound at 100 TB, and this fusion is what keeps it
    one pass per table (lineitem: 3 FK + 2 domain in one scan;
    orders: FK + PK + domain in one scan)."""

    def _one(name: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(name).alias("check_name"),
                         F.col("n_checked").cast("long").alias("n_checked"),
                         F.col("n_violations").cast("long")
                         .alias("n_violations"))

    def _pk(name: str, df: DataFrame, key: str) -> DataFrame:
        per_key = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        agg = per_key.agg(
            F.sum("cnt").alias("n_checked"),
            (F.sum("cnt") - F.count(F.lit(1))).alias("n_violations"))
        return _one(name, agg)

    def _scan(name: str, df: DataFrame, bad: F.Column) -> DataFrame:
        agg = df.agg(F.count(F.lit(1)).alias("n_checked"),
                     F.sum(F.when(bad, 1).otherwise(0))
                     .alias("n_violations"))
        return _one(name, agg)

    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    customer = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    events = _t(spark, sf_dir, "events")
    docs = _t(spark, sf_dir, "documents")

    # One-scan-per-fact-table fusion: each row fans out to a
    # (check, key, bad) branch row; partial agg per (check, key); FK
    # branches left-join ONE tagged union of dimension distinct keys.
    # PK violations fall out of the same per-key relation
    # (sum(cnt) - n_keys); domain branches collapse to a single key
    # per check (map-side combine absorbs the skew).
    def _b(ct: str, k, bad) -> F.Column:
        return F.struct(F.lit(ct).alias("ct"),
                        k.cast("long").alias("k"),
                        bad.cast("int").alias("bad"))

    def _dim(ct: str, dim: DataFrame, dkey: str) -> DataFrame:
        return dim.select(F.lit(ct).alias("ct"),
                          F.col(dkey).cast("long").alias("k"))

    def _fused(branches: DataFrame,
               dim_keys: DataFrame | None) -> DataFrame:
        per_key = branches.groupBy("ct", "k").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("bad").alias("bad_cnt"))
        if dim_keys is not None:
            per_key = per_key.join(
                dim_keys.distinct().withColumn("__hit", F.lit(1)),
                ["ct", "k"], "left")
        else:
            per_key = per_key.withColumn("__hit", F.lit(1))
        return (per_key.groupBy("ct")
                .agg(F.sum("cnt").alias("n_checked"),
                     F.sum(F.when(F.col("__hit").isNull(),
                                  F.col("cnt")).otherwise(F.lit(0)))
                     .alias("fk_viol"),
                     (F.sum("cnt") - F.count(F.lit(1)))
                     .alias("pk_viol"),
                     F.sum("bad_cnt").alias("dom_viol"))
                .select(F.col("ct").alias("check_name"),
                        F.col("n_checked").cast("long")
                        .alias("n_checked"),
                        F.when(F.col("ct").startswith("fk_"),
                               F.col("fk_viol"))
                        .when(F.col("ct").startswith("pk_"),
                              F.col("pk_viol"))
                        .otherwise(F.col("dom_viol")).cast("long")
                        .alias("n_violations")))

    li_checks = _fused(
        lineitem.select(F.explode(F.array(
            _b("fk_lineitem_orders", F.col("l_orderkey"), F.lit(0)),
            _b("fk_lineitem_part", F.col("l_partkey"), F.lit(0)),
            _b("fk_lineitem_supplier", F.col("l_suppkey"), F.lit(0)),
            _b("dom_lineitem_quantity", F.lit(0),
               (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)),
            _b("dom_lineitem_discount", F.lit(0),
               (F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
        )).alias("x")).select("x.ct", "x.k", "x.bad"),
        _dim("fk_lineitem_orders", orders, "o_orderkey")
        .unionByName(_dim("fk_lineitem_part", part, "p_partkey"))
        .unionByName(_dim("fk_lineitem_supplier", supplier,
                          "s_suppkey")))

    o_checks = _fused(
        orders.select(F.explode(F.array(
            _b("fk_orders_customer", F.col("o_custkey"), F.lit(0)),
            _b("pk_orders_orderkey", F.col("o_orderkey"), F.lit(0)),
            _b("dom_orders_totalprice", F.lit(0),
               F.col("o_totalprice") <= 0),
        )).alias("x")).select("x.ct", "x.k", "x.bad"),
        _dim("fk_orders_customer", customer, "c_custkey"))

    checks = [
        o_checks,
        li_checks,
        _pk("pk_customer_custkey", customer, "c_custkey"),
        _scan("null_events_value", events,
              F.col("value").isNull() | F.isnan("value")),
        _scan("doc_nchars_matches_text", docs,
              ~F.col("n_chars").eqNullSafe(F.length("text"))),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


_GAPFILL_ORACLE = """
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hb,
         count(*) AS n,
         CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY event_type, hb),
bounds AS (
  SELECT CAST(min(floor(epoch(ts) / 3600)) AS BIGINT) AS lo,
         CAST(max(floor(epoch(ts) / 3600)) AS BIGINT) AS hi
  FROM events),
grid AS (
  SELECT t.event_type, g.hb
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS hb FROM bounds) g)
SELECT g.event_type, g.hb AS hour_bucket,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_events,
       CAST(CASE WHEN h.n IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap,
       CAST(coalesce(last_value(h.v IGNORE NULLS) OVER (
              PARTITION BY g.event_type ORDER BY g.hb
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
            AS BIGINT) AS v_filled_milli
FROM grid g LEFT JOIN hourly h ON g.event_type = h.event_type
                              AND g.hb = h.hb
"""


@register("events_gapfill_ffill", _GAPFILL_ORACLE)
def events_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill + forward-fill (resample-to-hourly): every
    (event_type, hour) cell of the dense grid between the corpus's
    first and last hour, with missing hours materialized as
    ``is_gap=1`` rows carrying the LAST OBSERVED value forward
    (``-1`` before the first observation).  The per-hour metric is the
    exact milli-unit integer sum, so fill values replay bit-for-bit in
    any engine.

    Scale: the raw table is aggregated FIRST (partial agg on
    (type, hour) — the only pass over the data); the dense grid is
    ``distinct types x sequence(lo, hi)`` — SCHEMA-bounded, not
    data-bounded (a year is 8.8k hours regardless of corpus size), so
    the grid join and the per-type ordered forward-fill window run on a
    relation whose size is independent of the 100 TB input.  For
    grids that DO grow with data (per-user series), the same shape
    range-partitions on (series, time-chunk) and carries fill state
    across chunk boundaries with a second tiny boundary pass."""
    e = _events(spark, sf_dir)
    # the one pass over the data is the SAME hourly monoid partial
    # aggregation the incremental-rollup entry persists
    hourly = (_hourly_partials(e)
              .withColumnRenamed("hour_bucket", "hb")
              .withColumnRenamed("v_milli", "v"))
    bounds = e.agg(
        F.floor(F.min("sec") / 3600).cast("bigint").alias("lo"),
        F.floor(F.max("sec") / 3600).cast("bigint").alias("hi"))
    grid = (e.select("event_type").distinct()
            .crossJoin(F.broadcast(bounds))
            .select("event_type",
                    F.explode(F.sequence("lo", "hi")).alias("hb")))
    joined = grid.join(hourly, ["event_type", "hb"], "left")
    w = (Window.partitionBy("event_type").orderBy("hb")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return joined.select(
        "event_type", F.col("hb").alias("hour_bucket"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        F.when(F.col("n").isNull(), 1).otherwise(0).cast("int")
        .alias("is_gap"),
        F.coalesce(F.last("v", ignorenulls=True).over(w), F.lit(-1))
        .cast("bigint").alias("v_filled_milli"))


_SCD2_ORACLE = """
WITH latest AS (
  SELECT o_custkey AS k,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS change_day,
         CAST(round(o_totalprice * 1000) AS BIGINT) AS new_bal_milli
  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders)
  WHERE rn = 1)
SELECT c.c_custkey, CAST(1 AS INT) AS version,
       CAST(0 AS BIGINT) AS valid_from_day,
       ch.change_day AS valid_to_day,
       CAST(round(c.c_acctbal * 1000) AS BIGINT) AS acctbal_milli,
       c.c_mktsegment AS segment, CAST(0 AS INT) AS is_current
FROM customer c JOIN latest ch ON c.c_custkey = ch.k
UNION ALL
SELECT c.c_custkey, CAST(2 AS INT), ch.change_day,
       CAST(9999999 AS BIGINT), ch.new_bal_milli, c.c_mktsegment,
       CAST(1 AS INT)
FROM customer c JOIN latest ch ON c.c_custkey = ch.k
UNION ALL
SELECT c.c_custkey, CAST(1 AS INT), CAST(0 AS BIGINT),
       CAST(9999999 AS BIGINT), CAST(round(c.c_acctbal * 1000) AS BIGINT),
       c.c_mktsegment, CAST(1 AS INT)
FROM customer c LEFT JOIN latest ch ON c.c_custkey = ch.k
WHERE ch.k IS NULL
UNION ALL
SELECT ch.k + (SELECT 1 + max(c_custkey) FROM customer),
       CAST(1 AS INT), ch.change_day,
       CAST(9999999 AS BIGINT), ch.new_bal_milli, 'UNKNOWN',
       CAST(1 AS INT)
FROM latest ch WHERE ch.k % 50 = 0
"""


@register("cdc_scd2_customer", _SCD2_ORACLE)
def cdc_scd2_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC -> SCD2 merge: apply a change batch to the customer
    dimension with type-2 effective dating.  The change batch is
    derived deterministically from the fact table (each customer's
    LATEST order, ties broken on orderkey, sets a new balance effective
    that order's day); customers with a change emit a CLOSED v1 row
    (valid_to = change day) plus an open v2 row, untouched customers
    keep their open v1 row, and change-batch keys with no dimension
    match (simulated here as every 50th key, re-keyed +1e6) take the
    late-arriving-member INSERT path.  Balances travel as exact
    milli-unit integers; the open-ended validity is the 9999999
    sentinel day.

    Scale: the change batch is reduced to one row per key BEFORE
    touching the dimension (``max_by`` partial agg over the facts —
    the classic CDC compaction), then ONE left join against the
    dimension; both version rows of an updated key are emitted from
    that single joined row via ``explode`` (no second join, no union
    re-scan of the dimension).  At 100 TB the compacted daily batch is
    the small side and broadcasts; the dimension is never shuffled
    twice.  Inserts come from the batch alone (no scan).  This is the
    MERGE INTO shape lake formats run, expressed engine-neutrally."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    day = F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("bigint")
    bal = F.round(F.col("o_totalprice") * 1000).cast("bigint")
    ch = (orders.groupBy(F.col("o_custkey").alias("k"))
          .agg(F.max_by(F.struct(day.alias("change_day"),
                                 bal.alias("new_bal_milli")),
                        F.struct("o_orderdate", "o_orderkey")).alias("m"))
          .select("k", "m.change_day", "m.new_bal_milli"))
    j = customer.join(ch, customer.c_custkey == ch.k, "left")
    old_bal = F.round(F.col("c_acctbal") * 1000).cast("bigint")
    v_open1 = F.struct(
        F.lit(1).alias("version"), F.lit(0).cast("bigint")
        .alias("valid_from_day"),
        F.lit(9999999).cast("bigint").alias("valid_to_day"),
        old_bal.alias("acctbal_milli"), F.lit(1).alias("is_current"))
    v_closed1 = F.struct(
        F.lit(1).alias("version"), F.lit(0).cast("bigint")
        .alias("valid_from_day"),
        F.col("change_day").alias("valid_to_day"),
        old_bal.alias("acctbal_milli"), F.lit(0).alias("is_current"))
    v_open2 = F.struct(
        F.lit(2).alias("version"), F.col("change_day")
        .alias("valid_from_day"),
        F.lit(9999999).cast("bigint").alias("valid_to_day"),
        F.col("new_bal_milli").alias("acctbal_milli"),
        F.lit(1).alias("is_current"))
    versions = (j.select(
        "c_custkey", "c_mktsegment",
        F.explode(F.when(F.col("k").isNull(), F.array(v_open1))
                  .otherwise(F.array(v_closed1, v_open2))).alias("v"))
        .select("c_custkey", F.col("v.version").alias("version"),
                F.col("v.valid_from_day").alias("valid_from_day"),
                F.col("v.valid_to_day").alias("valid_to_day"),
                F.col("v.acctbal_milli").alias("acctbal_milli"),
                F.col("c_mktsegment").alias("segment"),
                F.col("v.is_current").alias("is_current")))
    # the re-key offset comes from the DATA (1 + max dimension key), so
    # simulated late-arriving keys can never collide with a real
    # customer at any scale tier (a constant offset breaks the
    # one-open-row-per-key invariant once the dimension outgrows it)
    off = customer.agg((F.max("c_custkey") + 1).alias("off"))
    inserts = (ch.where(F.col("k") % 50 == 0)
               .crossJoin(F.broadcast(off))
               .select((F.col("k") + F.col("off")).alias("c_custkey"),
                       F.lit(1).alias("version"),
                       F.col("change_day").alias("valid_from_day"),
                       F.lit(9999999).cast("bigint").alias("valid_to_day"),
                       F.col("new_bal_milli").alias("acctbal_milli"),
                       F.lit("UNKNOWN").alias("segment"),
                       F.lit(1).alias("is_current")))
    return versions.unionByName(inserts)


_MAD_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS vm
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
med AS (
  SELECT event_type, quantile_cont(vm, 0.5) AS med
  FROM v GROUP BY event_type),
d AS (
  SELECT v.event_type, vm, med, abs(vm - med) AS dev
  FROM v JOIN med USING (event_type)),
mad AS (
  SELECT event_type, quantile_cont(dev, 0.5) AS mad
  FROM d GROUP BY event_type)
SELECT d.event_type, count(*) AS n,
       CAST(sum(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       max(d.med) AS med_milli, max(mad.mad) AS mad_milli
FROM d JOIN mad USING (event_type)
GROUP BY d.event_type
"""


@register("events_anomaly_mad", _MAD_ORACLE)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type: median / MAD (median
    absolute deviation) outlier counts — the robust twin of z-scoring,
    immune to the outliers it is hunting.  Values are milli-unit
    integers, and the interpolated median of integers is exact in
    doubles (midpoint of two int64s), so both engines compute
    bit-identical medians, deviations, and the ``dev > 3*MAD`` verdict.

    Scale: two grouped EXACT percentiles + two broadcast joins of the
    per-type stats (the type keyspace is schema-bounded).  Exact
    percentile buffers each group's values, which is the documented
    trade for oracle replay at test scale; the 100 TB path swaps both
    ``percentile`` calls for ``approx_percentile`` (t-digest — a
    mergeable sketch, partial-agg safe) with the identical plan shape,
    changing only the quantile estimator."""
    e = _events(spark, sf_dir)
    v = (e.where(F.col("value").isNotNull() & ~F.isnan("value"))
         .select("event_type",
                 F.round(F.col("value") * 1000).cast("bigint").alias("vm")))
    med = v.groupBy("event_type").agg(
        F.expr("percentile(vm, 0.5)").alias("med"))
    d = (v.join(F.broadcast(med), "event_type")
         .withColumn("dev", F.abs(F.col("vm") - F.col("med"))))
    mad = d.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5)").alias("mad"))
    return (d.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.col("dev") > 3 * F.col("mad"), 1)
                       .otherwise(0)).cast("bigint").alias("n_outliers"),
                 F.max("med").alias("med_milli"),
                 F.max("mad").alias("mad_milli")))


_GDPR_ORACLE = """
WITH victims AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
o_del AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM victims)),
l_del AS (
  SELECT l_orderkey, l_linenumber FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM o_del))
SELECT 'customer' AS table_name,
       (SELECT count(*) FROM victims) AS n_deleted,
       (SELECT count(*) FROM customer) - (SELECT count(*) FROM victims)
         AS n_remaining,
       (SELECT CAST(coalesce(sum(c_custkey), 0) AS BIGINT) FROM victims)
         AS key_checksum
UNION ALL
SELECT 'orders', (SELECT count(*) FROM o_del),
       (SELECT count(*) FROM orders) - (SELECT count(*) FROM o_del),
       (SELECT CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) FROM o_del)
UNION ALL
SELECT 'lineitem', (SELECT count(*) FROM l_del),
       (SELECT count(*) FROM lineitem) - (SELECT count(*) FROM l_del),
       (SELECT CAST(coalesce(sum(l_orderkey * 10 + l_linenumber), 0)
               AS BIGINT) FROM l_del)
"""


@register("gdpr_delete_cascade", _GDPR_ORACLE)
def gdpr_delete_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure cascade audit: given a deterministic victim set
    (every 97th customer key — the stand-in for a deletion-request
    batch), count the rows each table must drop when the delete
    propagates along the FK chain customer -> orders -> lineitem, plus
    a deleted-key checksum per table so the actual delete job can be
    verified against this audit.

    Scale: the victim set is always tiny relative to the corpus, so
    every hop is a BROADCAST semi-join — the victim keys broadcast
    into orders, and the matched order keys (still small: per-victim
    fan-out) broadcast into lineitem; no fact table is ever shuffled.
    The same two-hop semi-join chain, with ``_del`` frames written as
    anti-join survivors, IS the delete job."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    victims = customer.where(F.col("c_custkey") % 97 == 0) \
                      .select("c_custkey")
    o_del = orders.join(F.broadcast(victims),
                        orders.o_custkey == victims.c_custkey, "semi") \
                  .select("o_orderkey")
    l_del = lineitem.join(F.broadcast(o_del),
                          lineitem.l_orderkey == o_del.o_orderkey,
                          "semi") \
                    .select("l_orderkey", "l_linenumber")

    def _audit(name: str, deleted: DataFrame, key: F.Column,
               total: DataFrame) -> DataFrame:
        d = deleted.agg(F.count(F.lit(1)).alias("nd"),
                        F.coalesce(F.sum(key), F.lit(0)).cast("bigint")
                        .alias("ck"))
        t = total.agg(F.count(F.lit(1)).alias("nt"))
        return d.crossJoin(t).select(
            F.lit(name).alias("table_name"),
            F.col("nd").alias("n_deleted"),
            (F.col("nt") - F.col("nd")).alias("n_remaining"),
            F.col("ck").alias("key_checksum"))

    return (_audit("customer", victims, F.col("c_custkey"), customer)
            .unionByName(_audit("orders", o_del, F.col("o_orderkey"),
                                orders))
            .unionByName(_audit(
                "lineitem", l_del,
                F.col("l_orderkey") * 10 + F.col("l_linenumber"),
                lineitem)))


_PAGERANK_SCALE = 10 ** 12
_PAGERANK_ITERS = 3


def _pagerank_oracle_sql(src: str = "documents") -> str:
    jacc = (f"len(list_filter(range(1, {dd.MINHASH_NUM + 1}), "
            f"i -> sig_a[i] = sig_b[i]))::DOUBLE / {dd.MINHASH_NUM}")
    prev = "pr0"
    iters = ""
    for t in range(1, _PAGERANK_ITERS + 1):
        iters += f""",
pr{t} AS (
  SELECT e.dst AS id,
         (SELECT t FROM tele) + (85 * sum(p.pr // e.deg)) // 100 AS pr
  FROM ewd e JOIN {prev} p ON e.src = p.id
  GROUP BY e.dst)"""
        prev = f"pr{t}"
    if src == "documents":
        head = _minhash_candidates_cte()
    else:
        # exact-dedup survivors first (the cascade composition)
        head = f"""
WITH reps AS (
  SELECT min(doc_id) AS doc_id
  FROM documents GROUP BY md5({dd.NORMALIZE_SQL.format(expr='text')})
),
survivors AS (
  SELECT d.* FROM documents d JOIN reps USING (doc_id)
),{_minhash_candidates_cte('survivors').replace('WITH msh AS',
                                                'msh AS', 1)}"""
    return f"""
{head},
pairs AS (SELECT id_a, id_b FROM cand WHERE {jacc} >= 0.35),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM deg),
tele AS (SELECT (15 * ({_PAGERANK_SCALE} // n)) // 100 AS t FROM nn),
ewd AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d
        ON e.src = d.src),
pr0 AS (SELECT src AS id, (SELECT {_PAGERANK_SCALE} // n FROM nn) AS pr
        FROM deg){iters}
SELECT p.id AS doc_id, d.deg AS degree, CAST(p.pr AS BIGINT) AS pr_scaled
FROM {prev} p JOIN deg d ON p.id = d.src
"""


@register("pagerank_neardup_graph", _pagerank_oracle_sql())
def pagerank_neardup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-duplicate graph (MinHash-LSH candidate
    pairs at est-Jaccard >= 0.35, undirected): three fixed power
    iterations with damping 0.85 — the centrality signal that
    ranks duplicate-cluster "hubs" (documents near-dup to many others)
    for curation triage.  EVERY step is exact integer math at the
    1e-12 rank scale — per-edge contribution is ``pr div deg`` (exact
    floor division), the in-neighbor sum is an order-independent BIGINT
    sum, and the damped update is ``tele + (85 * s) div 100`` — so an
    engine unrolling the same iterations reproduces ranks bit-for-bit
    (the quantized-Lloyd reproducibility trade; float PageRank is
    sum-order-dependent).

    Scale: the iteration state is ``(node, rank)`` — the corpus itself
    leaves the loop after candidate generation (banded LSH, never
    all-pairs).  Degrees are attached to the edge relation ONCE before
    the loop, so each iteration is a single equi-join of edges with
    the current ranks on ``src`` + one partial-agg sum on ``dst``; at
    cluster scale edges and ranks hash-partition on the same key, and
    every iteration is checkpointable (the connected-components
    release pattern).  Node count (one scalar) is the only driver
    value.  No dangling mass: the graph is undirected, so every node
    has out-degree >= 1."""
    _, cand = _minhash_shared(spark, sf_dir)
    est = dd.estimated_jaccard_count("n_agree")
    pairs = cand.where(est >= 0.35).select("id_a", "id_b")
    return _pagerank_from_pairs(spark, pairs)


def _pagerank_from_pairs(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Shared integer power-iteration loop over an (id_a, id_b)
    undirected pair relation — see :func:`pagerank_neardup_graph` for
    the arithmetic and scale contract."""
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .unionAll(pairs.select(F.col("id_b").alias("src"),
                                    F.col("id_a").alias("dst"))))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()   # ONE scalar (graph node count) — bounded
    if n == 0:
        return spark.createDataFrame(
            [], "doc_id bigint, degree bigint, pr_scaled bigint")
    tele = (15 * (_PAGERANK_SCALE // n)) // 100
    ewd = edges.join(deg, "src")
    pr = deg.select(F.col("src").alias("id"),
                    F.lit(_PAGERANK_SCALE // n).cast("bigint").alias("pr"))
    for _ in range(_PAGERANK_ITERS):
        contrib = (ewd.join(pr, ewd.src == pr.id)
                   .select("dst", F.expr("pr div deg").alias("c")))
        pr = (contrib.groupBy("dst").agg(F.sum("c").alias("s"))
              .select(F.col("dst").alias("id"),
                      (F.lit(tele) + F.expr("(85 * s) div 100"))
                      .cast("bigint").alias("pr")))
    return (pr.join(deg, pr.id == deg.src)
            .select(F.col("id").alias("doc_id"),
                    F.col("deg").cast("bigint").alias("degree"),
                    F.col("pr").alias("pr_scaled")))


_INCR_ROLLUP_ORACLE = """
SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
       count(*) AS n,
       CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS v_milli
FROM events GROUP BY event_type, hour_bucket
"""


def _hourly_partials(e: DataFrame) -> DataFrame:
    return (e.groupBy("event_type",
                      F.floor(F.col("sec") / 3600).cast("bigint")
                      .alias("hour_bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("value") * 1000).cast("bigint"))
                 .alias("v_milli")))


@register("incremental_rollup_merge", _INCR_ROLLUP_ORACLE)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance — the monoid story at
    pipeline granularity: the hourly rollup of the HISTORICAL 80% of
    the stream is a persisted parquet artifact of PARTIAL aggregates
    (count + exact milli-int sum, both monoids), and each run
    aggregates only the new tail and MERGES (union -> re-agg) instead
    of recomputing history.  The oracle is the full recompute over all
    events — merge == recompute precisely because the aggregation
    state is associative, the property the reference's `Monoid`
    abstraction (`/root/reference/src/monoid.rs:126`) exists to
    guarantee.

    Scale: this is the daily-ETL shape at 100 TB — history partials
    are O(groups), not O(rows), so the serve run scans the small
    artifact plus only the new partition of the fact table (the tail
    filter lands on the raw timestamp column, so parquet min/max
    pruning skips historical files entirely); a straddling bucket gets
    partial rows from both sides and the monoid merge resolves it.
    The artifact refresh appends the tail partials back — the same
    associativity makes compaction order-free."""
    e = _events(spark, sf_dir)
    path = _artifact_path(sf_dir, "hourly_rollup")
    split_marker = _os_mod.path.join(path, "_split_sec.txt")

    # The split is FROZEN with the artifact: recomputing it from live
    # min/max would silently drop rows landing between the frozen and
    # recomputed split once the table grows (the exact scenario an
    # incremental rollup exists for).  The bounds job (one full-scan
    # min/max) runs ONLY on first build; serve runs read the persisted
    # split and touch just the artifact + the tail partition.
    if _os_mod.path.isfile(split_marker) and _os_mod.path.isfile(
            _os_mod.path.join(path, "_SUCCESS")):
        with open(split_marker) as fh:
            split = int(fh.read().strip())
        build = False
    else:
        row = e.agg(F.min("sec").alias("lo"),
                    F.max("sec").alias("hi")).first()
        lo, hi = int(row["lo"]), int(row["hi"])
        split = lo + ((hi - lo) * 4) // 5
        build = True

    # the split filter goes on the RAW column so it reaches the scan
    # (parquet min/max pruning) — `sec` is a derived expression
    if isinstance(e.schema["ts"].dataType, T_LongType):
        hist_f = F.col("ts") < F.lit(split * 1_000_000_000)
        tail_f = F.col("ts") >= F.lit(split * 1_000_000_000)
    else:
        cut = F.timestamp_seconds(F.lit(split)) \
               .cast(e.schema["ts"].dataType)
        hist_f = F.col("ts") < cut
        tail_f = F.col("ts") >= cut

    if build:
        _hourly_partials(e.where(hist_f)).write.mode("overwrite") \
            .parquet(path)
        with open(split_marker, "w") as fh:   # after the data: a kill
            fh.write(str(split))              # in between -> rebuild
    hist = spark.read.parquet(path)
    tail = _hourly_partials(e.where(tail_f))
    return (hist.unionByName(tail)
            .groupBy("event_type", "hour_bucket")
            .agg(F.sum("n").cast("bigint").alias("n"),
                 F.sum("v_milli").cast("bigint").alias("v_milli")))


_BASKET_ORACLE = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey),
n_b AS (SELECT count(DISTINCT ok) AS n FROM baskets),
item_n AS (SELECT item, count(*) AS cnt FROM baskets GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS pair_cnt
  FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.item < b.item
  GROUP BY a.item, b.item),
scored AS (
  SELECT item_a, item_b, pair_cnt,
         (pair_cnt * 1000000) // (SELECT n FROM n_b) AS support_micro,
         (pair_cnt * (SELECT n FROM n_b) * 1000000)
           // (ia.cnt * ib.cnt) AS lift_micro
  FROM pairs JOIN item_n ia ON ia.item = pairs.item_a
             JOIN item_n ib ON ib.item = pairs.item_b)
SELECT item_a, item_b, CAST(pair_cnt AS BIGINT) AS pair_cnt,
       CAST(support_micro AS BIGINT) AS support_micro,
       CAST(lift_micro AS BIGINT) AS lift_micro
FROM scored WHERE pair_cnt >= 20
"""


@register("basket_pair_lift", _BASKET_ORACLE)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair affinity: support and lift for brand pairs
    co-occurring in an order, in exact micro-unit integer arithmetic
    (``lift = P(a,b) / (P(a)P(b))`` computed as one integer floor
    division — both engines replay it bit-for-bit), reported above a
    minimum pair support.

    Scale: the classic a-priori first pass, in ONE shuffle of the fact:
    each order's distinct item set is assembled with a single
    ``groupBy(order).collect_set`` (the dedup IS the set), and pairs
    are generated MAP-SIDE by exploding the in-array i<j combinations
    of the sorted list — quadratic only in per-basket item count
    (bounded by order size, ~7 here), never in corpus size, and never
    a self-join.  The basket-list relation feeds the pair explode,
    the per-item counts, and the basket total from ONE exchange —
    Catalyst's ReusedExchange shares the collect_set shuffle across
    all three consumers (plan-verified; an eager checkpoint here only
    serialized an extra materialization job for the same reuse).
    Local cost matches the previous distinct + self-equi-join form
    (~2 s at sf0.1 — the collect_set pays ObjectHashAggregate's
    sort-based fallback, the join form pays the re-key), but at scale
    this form shuffles the fact ONCE, where the join form re-keys the
    dedup'd relation onto the order key for both join sides.  Per-item
    counts and the total join broadcast.  The support filter is the
    a-priori prune that keeps the pair relation sparse at 100 TB."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    lists = (
        lineitem.join(F.broadcast(part),
                      lineitem.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"),
                F.col("p_brand").alias("item"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("item")).alias("its")))
    n_b = lists.agg(F.count(F.lit(1)).alias("n"))
    item_n = (lists.select(F.explode("its").alias("item"))
              .groupBy("item").agg(F.count(F.lit(1)).alias("cnt")))
    combos = F.flatten(F.transform(
        F.col("its"),
        lambda x, i: F.transform(
            F.slice(F.col("its"), i + 2,
                    F.greatest(F.size(F.col("its")) - i - 1, F.lit(0))),
            lambda y: F.struct(x.alias("item_a"), y.alias("item_b")))))
    pairs = (lists.select(F.explode(combos).alias("p"))
             .select("p.item_a", "p.item_b")
             .groupBy("item_a", "item_b")
             .agg(F.count(F.lit(1)).alias("pair_cnt")))
    ia = item_n.select(F.col("item").alias("item_a"),
                       F.col("cnt").alias("cnt_a"))
    ib = item_n.select(F.col("item").alias("item_b"),
                       F.col("cnt").alias("cnt_b"))
    return (pairs.where(F.col("pair_cnt") >= 20)
            .join(F.broadcast(ia), "item_a")
            .join(F.broadcast(ib), "item_b")
            .crossJoin(F.broadcast(n_b))
            .select("item_a", "item_b",
                    F.col("pair_cnt").cast("bigint").alias("pair_cnt"),
                    F.expr("(pair_cnt * 1000000) div n").cast("bigint")
                    .alias("support_micro"),
                    F.expr("(pair_cnt * n * 1000000) div (cnt_a * cnt_b)")
                    .cast("bigint").alias("lift_micro")))


_TRANSITION_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY floor(epoch(ts)), event_id) AS prev
  FROM events),
trans AS (
  SELECT prev, event_type AS next, count(*) AS cnt
  FROM seq WHERE prev IS NOT NULL GROUP BY prev, next),
outdeg AS (SELECT prev, sum(cnt) AS total FROM trans GROUP BY prev)
SELECT t.prev, t.next, CAST(t.cnt AS BIGINT) AS cnt,
       CAST((t.cnt * 1000000) // o.total AS BIGINT) AS p_micro
FROM trans t JOIN outdeg o ON t.prev = o.prev
"""


@register("events_transition_matrix", _TRANSITION_ORACLE)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: ``P(next | prev)`` in exact micro-units, ties in the
    ordering broken on event_id so the lag is deterministic.  The
    behavioral-model counterpart of the funnel entry — transition
    probabilities feed session simulation and anomaly scoring.

    Scale: ONE shuffle partitions users, the ``lag`` window is linear
    per user (no self-join on adjacent rows), and the transition
    relation that leaves the window is (|types|^2)-bounded —
    schema-sized, so the normalizing join is broadcast.  This is the
    sequence-model shape: the corpus reduces to a transition sketch in
    a single pass."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    seq = e.select("user_id", "event_type",
                   F.lag("event_type").over(w).alias("prev"))
    trans = (seq.where(F.col("prev").isNotNull())
             .groupBy("prev", F.col("event_type").alias("next"))
             .agg(F.count(F.lit(1)).alias("cnt")))
    outdeg = trans.groupBy("prev").agg(F.sum("cnt").alias("total"))
    return (trans.join(F.broadcast(outdeg), "prev")
            .select("prev", "next", F.col("cnt").cast("bigint")
                    .alias("cnt"),
                    F.expr("(cnt * 1000000) div total").cast("bigint")
                    .alias("p_micro")))


_DRIFT_ORACLE = """
WITH q AS (
  SELECT vec_id, label,
         CASE WHEN vec_id % 2 = 0 THEN 'old' ELSE 'new' END AS half,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * 1000000) AS BIGINT)) AS v
  FROM embeddings),
s AS (SELECT label, half, pos, sum(x) AS s, count(*) AS n FROM (
        SELECT label, half, unnest(v) AS x,
               unnest(range(0, len(v))) AS pos FROM q)
      GROUP BY label, half, pos),
m AS (SELECT label, half, pos,
             CAST((s - s % n) // n AS BIGINT) AS val FROM s),
d AS (SELECT o.label,
             sum((o.val - n.val) * (o.val - n.val)) AS drift_sq
      FROM m o JOIN m n ON o.label = n.label AND o.pos = n.pos
                       AND o.half = 'old' AND n.half = 'new'
      GROUP BY o.label),
c AS (SELECT label,
             CAST(sum(CASE WHEN half = 'old' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_old,
             CAST(sum(CASE WHEN half = 'new' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new
      FROM q GROUP BY label)
SELECT CAST(c.label AS INT) AS label, n_old, n_new,
       CAST(d.drift_sq AS BIGINT) AS drift_sq
FROM c JOIN d ON c.label = d.label
"""


@register("embedding_drift_by_label", _DRIFT_ORACLE)
def embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitoring: per label, the exact squared L2
    distance between the centroid of the OLD corpus half and the NEW
    half (vec_id parity stands in for the generation split) — the
    signal a pipeline watches to decide when downstream indexes and
    models need refitting.  Micro-unit quantization + the kmeans-tier
    exact-divisible mean ``(s - s%n)/n`` keep every step in BIGINT, so
    both engines produce identical drift values.

    Scale: ONE posexplode partial-agg pass computes both halves'
    per-(label, pos) sums as conditional aggregates (the monoid
    two-phase shape — the shuffle carries labels x dims rows, not
    vectors), so there is no per-half re-scan and no centroid
    self-join; the per-label vector counts fall out of the same
    relation (every vector contributes to every pos, so the pos-level
    count IS the label's vector count).  At 100 TB the halves are
    separate partitions/snapshots and the centroid relations are
    broadcast-sized by construction."""
    return _drift_by_label(spark, sf_dir)


def _drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n_old, n_new, drift_sq) — the drift-monitoring kernel,
    shared by the standalone report and the refit-trigger entry."""
    e = _emb(spark, sf_dir)
    is_old = F.col("vec_id") % 2 == 0
    q = e.select(
        F.col("label").cast("int").alias("label"),
        is_old.alias("old"),
        F.posexplode(sim.quantize_micro("embedding")).alias("pos", "x"))
    s = q.groupBy("label", "pos").agg(
        F.sum(F.when(F.col("old"), F.col("x")).otherwise(0)).alias("s_o"),
        F.sum(F.when(F.col("old"), 1).otherwise(0)).alias("n_o"),
        F.sum(F.when(~F.col("old"), F.col("x")).otherwise(0)).alias("s_n"),
        F.sum(F.when(~F.col("old"), 1).otherwise(0)).alias("n_n"))

    def _mean(sc: str, nc: str) -> F.Column:
        return ((F.col(sc) - F.col(sc) % F.col(nc)) / F.col(nc)) \
            .cast("bigint")

    # a label with vectors in only ONE half has no drift to report —
    # the oracle's old/new inner join drops it; without this filter
    # the conditional-aggregate form would divide by the empty half's
    # zero count instead (NULL drift under non-ANSI,
    # exception under ANSI, either way an oracle mismatch)
    m = (s.where((F.col("n_o") > 0) & (F.col("n_n") > 0))
         .select("label", "n_o", "n_n",
                 _mean("s_o", "n_o").alias("vo"),
                 _mean("s_n", "n_n").alias("vn")))
    return (m.groupBy("label")
            .agg(F.max("n_o").cast("bigint").alias("n_old"),
                 F.max("n_n").cast("bigint").alias("n_new"),
                 F.sum((F.col("vo") - F.col("vn"))
                       * (F.col("vo") - F.col("vn")))
                 .cast("bigint").alias("drift_sq"))
            .select("label", "n_old", "n_new", "drift_sq"))


#: Per-label drift_sq (micro-units squared, summed over dims) above
#: which the monitoring loop orders an index refit.  1e10 over 64 dims
#: is an RMS per-dimension centroid shift of ~1.25e4 micro = 0.0125 in
#: raw embedding units — measured driver tiers sit at 1.4e10-1.2e11
#: (every label drifts: vec_id parity halves the SAME distribution, so
#: the half-vs-half sampling noise alone crosses this at these corpus
#: sizes — the driver tiers therefore exercise the REFIT branch, and
#: the constructed zero-drift corpus in tests/test_pipeline_r13.py
#: exercises the HOLD branch).
DRIFT_REFIT_THRESHOLD = 10_000_000_000


def _refit_oracle_sql() -> str:
    th = DRIFT_REFIT_THRESHOLD
    return f"""
WITH sig AS (
  SELECT CAST(count(*) AS BIGINT) AS n_labels,
         CAST(sum(CASE WHEN drift_sq >= {th} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_drifted,
         CAST(max(drift_sq) AS BIGINT) AS max_drift_sq
  FROM ({_DRIFT_ORACLE})),
ex AS (SELECT query_id, cand_id FROM ({_BRUTE_TOPK_ORACLE})),
ap AS (SELECT query_id, cand_id FROM ({_ivf_kmeans_oracle_sql()})),
eval AS (SELECT CAST(count(*) AS BIGINT) AS hits
         FROM ex JOIN ap USING (query_id, cand_id))
SELECT n_labels, n_drifted, max_drift_sq,
       CASE WHEN n_drifted >= 1 THEN 'refit' ELSE 'hold' END AS decision,
       CASE WHEN n_drifted >= 1 THEN (SELECT hits FROM eval)
            ELSE NULL END AS recall_hits
FROM sig
"""


@register("ivf_refit_on_drift", _refit_oracle_sql())
def ivf_refit_on_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MONITORING -> MAINTENANCE loop composed: the drift signal
    (``embedding_drift_by_label``'s kernel) and the index refit
    (``sim_ivf_fit_centroids``'s fit) were standing entries with nothing
    consuming one to trigger the other.  This entry closes the loop:
    when any label's old-vs-new centroid
    drift_sq crosses ``DRIFT_REFIT_THRESHOLD``, the quantized k-means
    REFITS into its own artifact generation (``ivf_centroids_refit``,
    always overwritten — a real refit, not fit-if-absent) and the
    refit index is verified against brute-force ground truth (recall@5
    hits over the standard 20-query set, the ``ann_eval_recall_mrr``
    acceptance gate); otherwise the loop holds and touches nothing.
    Output is the one-row decision record an operator's audit log
    keeps: (n_labels, n_drifted, max_drift_sq, decision, recall_hits —
    NULL on hold).

    The oracle replays signal, decision, and the refit verification
    (the deterministic fit makes refit == replayed-fit bit-for-bit).
    The decision itself is the entry's one driver-side scalar (a
    3-column row — the model-constant discipline): maintenance loops
    branch on driver logic by nature.

    Scale: the signal is one posexplode partial-agg pass (labels x
    dims shuffle rows); the refit is the bounded Lloyd fit (k x dim
    driver literals, one job per round); verification touches
    2 x |queries| x k rows.  At 100 TB the signal pass rides the
    ingest's existing statistics job and the refit runs as the
    scheduled maintenance task this entry's decision record gates."""
    sig = (_drift_by_label(spark, sf_dir)
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_labels"),
                F.sum((F.col("drift_sq") >= DRIFT_REFIT_THRESHOLD)
                      .cast("int")).cast("bigint").alias("n_drifted"),
                F.max("drift_sq").cast("bigint").alias("max_drift_sq"))
           .collect()[0])
    lits = [F.lit(sig["n_labels"]).cast("bigint").alias("n_labels"),
            F.lit(sig["n_drifted"]).cast("bigint").alias("n_drifted"),
            F.lit(sig["max_drift_sq"]).cast("bigint")
            .alias("max_drift_sq")]
    # a corpus whose labels all live in ONE half has no drift signal
    # at all (the kernel's inner-join semantics): sum/max aggregate to
    # NULL — which the oracle's CASE also routes to 'hold'
    if (sig["n_drifted"] or 0) >= 1:
        path = _artifact_path(sf_dir, "ivf_centroids_refit")
        e = _emb(spark, sf_dir)
        cents = sim.kmeans_lloyd_quantized(e, k=8, iters=3, ckpt=_ckpt)
        cents.coalesce(1).write.mode("overwrite").parquet(path)
        cent_list = _load_centroids_cached(spark, path)
        q = e.where(F.col("vec_id") < 20)
        ex = (sim.brute_force_topk(e, q, k=5)
              .select("query_id", "cand_id"))
        ap = (sim.ivf_topk_pretrained(e, q, cent_list, k=5, nprobe=7)
              .select("query_id", "cand_id"))
        return (ex.join(ap, ["query_id", "cand_id"])
                .agg(F.count(F.lit(1)).cast("bigint")
                     .alias("recall_hits"))
                .select(*lits, F.lit("refit").alias("decision"),
                        "recall_hits"))
    return (spark.range(1)
            .select(*lits, F.lit("hold").alias("decision"),
                    F.lit(None).cast("bigint").alias("recall_hits")))


_DPP_ORACLE = """
WITH months AS (
  SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS m
  FROM lineitem WHERE l_quantity > 49.5)
SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders JOIN months ON strftime(o_orderdate, '%Y-%m') = months.m
GROUP BY o_month
"""


@register("dpp_partition_pruning", _DPP_ORACLE)
def dpp_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a month-partitioned fact table:
    the orders table is laid out Hive-style (``o_month=yyyy-MM/``, the
    standard time-partitioned warehouse layout, built once per tier as
    an artifact), and a selective dimension — months containing a
    near-max-quantity shipment — joins on the partition column.  At
    plan time the qualifying months are unknown; DPP broadcasts the
    dim-side values at RUNTIME and prunes fact partitions before they
    are scanned, so the fact read is proportional to the qualifying
    months, not the table.  At 100 TB this is the difference between
    scanning 84 months and scanning 9.

    The plan carries ``dynamicpruningexpression`` in the fact scan's
    PartitionFilters (pinned in tests/test_plans.py); results replay
    exactly in the oracle's month-recomputed join because partition
    values are derived deterministically from ``o_orderdate``."""
    path = _artifact_path(sf_dir, "orders_by_month")
    if not _artifact_fresh(path, f"{sf_dir}/orders.parquet"):
        orders = _t(spark, sf_dir, "orders")
        (orders.withColumn("o_month",
                           F.date_format("o_orderdate", "yyyy-MM"))
         .write.mode("overwrite").partitionBy("o_month").parquet(path))
    fact = spark.read.parquet(path)
    lineitem = _t(spark, sf_dir, "lineitem")
    months = (lineitem.where(F.col("l_quantity") > 49.5)
              .select(F.date_format("l_shipdate", "yyyy-MM").alias("m"))
              .distinct())
    return (fact.join(months, fact.o_month == months.m)
            .groupBy("o_month")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100)
                       .cast("bigint")).alias("revenue_cents")))


# ---------------------------------------------------------------------------
# Round 6: substring-level duplicate spans (Lee et al. 2022 shape)
# ---------------------------------------------------------------------------

_SPAN_N = 8  # token n-gram width for duplicate-span detection
#: coarse-tier minimum span length in tokens — Lee et al. 2022's
#: production setting for substring dedup; a duplicated substring of
#: >= 50 tokens is an island of >= 43 consecutive duplicated 8-gram
#: positions, so the coarse tier is a FILTER over the fine tier's
#: span relation (shared hash relation, no second scan)
_SPAN_COARSE_TOKENS = 50


def _dup_span_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, grp, n_grams, span_tokens): maximal per-doc
    spans of corpus-duplicated token ``_SPAN_N``-grams — the SHARED
    relation both span-dedup entries aggregate (see
    `dedup_substring_spans` for semantics and the scale argument)."""
    n = _SPAN_N
    docs = _docs(spark, sf_dir)
    toks = dd.tokens("text")
    # arrays_zip of the n shifted slices (order-preserving, NOT
    # distinct — positions matter here): evaluates the tokenize chain
    # n+1 times per row instead of once per gram position (the
    # shingles_from_tokens lesson, optimization round r13)
    m = F.size(toks) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, m).alias(f"t{i}")
                            for i in range(n)])
    gram_arr = F.when(
        F.size(toks) >= n,
        F.transform(zipped,
                    lambda s: F.concat_ws(" ", *[s[f"t{i}"]
                                                 for i in range(n)])),
    ).otherwise(F.array().cast("array<string>"))
    grams = (docs.select("doc_id", "source",
                         F.posexplode(gram_arr).alias("pos", "gram"))
             .select("doc_id", "source", "pos",
                     dd.md5_long("gram").alias("h")))
    counts = (grams.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
              .where(F.col("cnt") > 1))
    dup = grams.join(counts, "h").select("doc_id", "source", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (dup.withColumn("grp", F.col("pos") - F.row_number().over(w))
            .groupBy("doc_id", "source", "grp")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 (F.max("pos") - F.min("pos") + n).cast("bigint")
                 .alias("span_tokens")))


def _span_ctes() -> str:
    """The shared duplicated-span CTE chain (ends at ``s`` — the span
    relation both span-dedup oracles aggregate); no WITH keyword."""
    n = _SPAN_N
    return f"""t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, source,
             unnest(range(0, greatest(len(toks) - {n - 1}, 0))) AS pos,
             unnest(list_transform(range(0, greatest(len(toks) - {n - 1}, 0)),
                    i -> array_to_string(toks[i + 1 : i + {n}], ' '))) AS gram
      FROM t),
h AS (SELECT doc_id, source, pos, {dd.md5_long_sql('gram')} AS h FROM g),
c AS (SELECT h, count(*) AS cnt FROM h GROUP BY h),
d AS (SELECT doc_id, source, pos FROM h JOIN c USING (h) WHERE cnt > 1),
i AS (SELECT doc_id, source, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM d),
s AS (SELECT doc_id, source, grp, count(*) AS n_grams,
             max(pos) - min(pos) + {n} AS span_tokens
      FROM i GROUP BY doc_id, source, grp)"""


def _span_oracle_sql() -> str:
    return f"""
WITH {_span_ctes()}
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_dup,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(n_grams) AS BIGINT) AS dup_grams,
       CAST(sum(span_tokens) AS BIGINT) AS span_tokens_sum,
       CAST(max(span_tokens) AS BIGINT) AS span_tokens_max
FROM s GROUP BY source
"""


@register("dedup_substring_spans", _span_oracle_sql())
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact-duplicate SPAN detection — the
    "Deduplicating Training Data Makes Language Models Better"
    (Lee et al. 2022) operation, re-expressed for a distributed
    engine: instead of a corpus-wide suffix array (inherently
    single-machine), slide a token 8-gram window over every
    document, hash each gram, and call a position duplicated when its
    gram occurs more than once ANYWHERE in the corpus (including
    within the same document — self-repetition is still duplicated
    training text).  Adjacent duplicated positions then merge into
    maximal spans per document (gaps-and-islands: ``pos -
    row_number()``), and the report aggregates per source: documents
    touched, span count, total/max span length in tokens.

    Scale shape: the only corpus-sized relations through the shuffles
    are the narrow ``(doc_id, pos, h)`` gram table (one partial-agg
    count on ``h``, one equi-join back on ``h``) — text itself never
    shuffles.  The islands window partitions per document, bounded by
    document length.  At 100 TB the gram-count relation is the big
    side of the join; both sides hash-partition on ``h``, so AQE can
    split any hot gram (the empty-string pathology is pre-filtered by
    tokenization).  The suffix-array alternative finds arbitrary-length
    duplicates but cannot shard; the n-gram window trades span
    RESOLUTION (multiples of one token, minimum ``_SPAN_N`` = 8) for
    linear distributed scaling — the standard production trade.
    """
    spans = _dup_span_relation(spark, sf_dir)
    return (spans.groupBy("source")
            .agg(F.countDistinct("doc_id").alias("n_docs_dup"),
                 F.count(F.lit(1)).alias("n_spans"),
                 F.sum("n_grams").cast("bigint").alias("dup_grams"),
                 F.sum("span_tokens").cast("bigint").alias("span_tokens_sum"),
                 F.max("span_tokens").cast("bigint").alias("span_tokens_max")))


def _span_multires_oracle_sql() -> str:
    c = _SPAN_COARSE_TOKENS
    return f"""
WITH {_span_ctes()}
SELECT source,
       CAST(count(*) AS BIGINT) AS fine_n_spans,
       CAST(sum(span_tokens) AS BIGINT) AS fine_dup_tokens,
       CAST(sum(CASE WHEN span_tokens >= {c} THEN 1 ELSE 0 END)
            AS BIGINT) AS coarse_n_spans,
       CAST(count(DISTINCT CASE WHEN span_tokens >= {c} THEN doc_id END)
            AS BIGINT) AS coarse_n_docs,
       CAST(coalesce(sum(CASE WHEN span_tokens >= {c}
                              THEN span_tokens END), 0)
            AS BIGINT) AS coarse_dup_tokens,
       CAST(coalesce(max(CASE WHEN span_tokens >= {c}
                              THEN span_tokens END), 0)
            AS BIGINT) AS coarse_span_max
FROM s GROUP BY source
"""


@register("dedup_substring_multires", _span_multires_oracle_sql())
def dedup_substring_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution duplicate-span report: the fine tier (every
    duplicated span at the token-8-gram resolution, minimum 8 tokens)
    and Lee et al. 2022's PRODUCTION setting — duplicated regions of
    at least 50 tokens, the length at which removal is near-lossless
    — side by side, per source.  ``coarse_dup_tokens`` is what a
    cut-the-span pass would delete per source at the production
    threshold; comparing it to ``fine_dup_tokens`` shows how much of
    the duplication lives in long template runs vs short phrase echo.

    The coarse tier is a PREDICATE over the fine tier's span relation
    — a >= 50-token duplicated substring is exactly an island of
    >= 43 consecutive duplicated 8-gram positions (span_tokens =
    n_grams + 7 on consecutive islands), so recall vs Lee et al.'s
    50-token exact-match criterion is 1 by construction and the entry
    costs ONE pass: both tiers are conditional aggregates over the
    SHARED ``_dup_span_relation`` — the gram-hash shuffle and count
    join are paid once, exactly the fine entry's plan (pinned in
    tests/test_plans.py: 2 scans / 1 join, what a tier-per-pass
    formulation would double); the 100 TB sharing story for running
    every resolution a curation team wants from one hash pass."""
    c = _SPAN_COARSE_TOKENS
    spans = _dup_span_relation(spark, sf_dir)
    coarse = F.col("span_tokens") >= c
    return (spans.groupBy("source")
            .agg(F.count(F.lit(1)).alias("fine_n_spans"),
                 F.sum("span_tokens").cast("bigint")
                 .alias("fine_dup_tokens"),
                 F.sum(F.when(coarse, 1).otherwise(0)).cast("bigint")
                 .alias("coarse_n_spans"),
                 F.countDistinct(F.when(coarse, F.col("doc_id")))
                 .cast("bigint").alias("coarse_n_docs"),
                 F.coalesce(F.sum(F.when(coarse, F.col("span_tokens"))),
                            F.lit(0)).cast("bigint")
                 .alias("coarse_dup_tokens"),
                 F.coalesce(F.max(F.when(coarse, F.col("span_tokens"))),
                            F.lit(0)).cast("bigint")
                 .alias("coarse_span_max")))


_LM_LOW_QUALITY_MICRO = 50_000  # docs whose mean bigram prob < 5% flagged


def _lm_bigram_oracle_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
b AS (SELECT doc_id, source,
             unnest(list_transform(range(0, greatest(len(toks) - 1, 0)),
                    i -> toks[i + 1])) AS w1,
             unnest(list_transform(range(0, greatest(len(toks) - 1, 0)),
                    i -> toks[i + 1] || ' ' || toks[i + 2])) AS bg
      FROM t),
bgc AS (SELECT bg, count(*) AS c_bg FROM b GROUP BY bg),
ctx AS (SELECT w1, count(*) AS c_ctx FROM b GROUP BY w1),
p AS (SELECT doc_id, source,
             (c_bg * 1000000) // c_ctx AS p_micro
      FROM b JOIN bgc USING (bg) JOIN ctx USING (w1)),
d AS (SELECT doc_id, source,
             CAST(sum(p_micro) // count(*) AS BIGINT) AS score_micro
      FROM p GROUP BY doc_id, source)
SELECT source, count(*) AS n_docs_scored,
       CAST(sum(score_micro) // count(*) AS BIGINT) AS avg_score_micro,
       CAST(min(score_micro) AS BIGINT) AS min_score_micro,
       CAST(sum(CASE WHEN score_micro < {_LM_LOW_QUALITY_MICRO}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality
FROM d GROUP BY source
"""


def _lm_doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, source, w1, bg): one row per bigram occurrence.

    ``zip_with`` over the two shifted token slices: the lambda touches
    only its bound variables, so the tokenize chain evaluates 3x per
    ROW.  The earlier ``transform(sequence, i -> element_at(toks, ...))``
    form re-tokenized the document per bigram POSITION (interpreted HOF
    lambdas don't CSE non-lambda subtrees) — O(len^2) regex work that
    dominated every LM-scoring entry (optimization round r13)."""
    toks = dd.tokens("text")
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(
                a.alias("w1"),
                F.concat_ws(" ", a, b).alias("bg"))),
    ).otherwise(F.array().cast("array<struct<w1:string,bg:string>>"))
    return (docs.select("doc_id", "source", F.explode(pairs).alias("p"))
            .select("doc_id", "source", F.col("p.w1").alias("w1"),
                    F.col("p.bg").alias("bg")))


def _lm_score_docs(b: DataFrame, bgc: DataFrame, ctx: DataFrame
                   ) -> DataFrame:
    """(doc_id, source, n_bigrams, score_micro): mean conditional
    bigram probability per document in exact micro-units, against the
    given (broadcast-able, model-sized) count relations."""
    p = (b.join(F.broadcast(bgc), "bg").join(F.broadcast(ctx), "w1")
         .select("doc_id", "source",
                 cu.micro_ratio(F.col("c_bg"), F.col("c_ctx"))
                 .alias("p_micro")))
    return (p.groupBy("doc_id", "source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                 _idiv(F.sum("p_micro"), F.count(F.lit(1)))
                 .alias("score_micro")))


def _fit_lm_persisted(spark: SparkSession, sf_dir: str,
                      overwrite: bool) -> tuple[str, str]:
    """Train the corpus bigram LM and persist the two count relations
    (bigram counts, context counts) as parquet artifacts; returns
    their paths.  Model-sized output — bounded by observed vocab and
    bigrams, not corpus rows — so a serve job broadcasts it."""
    bg_path = _artifact_path(sf_dir, "lm_bigram_counts")
    ctx_path = _artifact_path(sf_dir, "lm_context_counts")
    src = f"{sf_dir}/documents.parquet"
    if (not overwrite and _artifact_fresh(bg_path, src)
            and _artifact_fresh(ctx_path, src)):
        return bg_path, ctx_path
    # checkpoint the occurrence relation: the two artifact writes are
    # separate jobs and would each re-run the tokenize-heavy explode
    # (the lm_bigram_score discipline — measured ~2x fit cost at sf1
    # without)
    b = _track_ckpt(_lm_doc_bigrams(_docs(spark, sf_dir))
                    .localCheckpoint(eager=True))
    (b.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
     .coalesce(1).write.mode("overwrite").parquet(bg_path))
    (b.groupBy("w1").agg(F.count(F.lit(1)).alias("c_ctx"))
     .coalesce(1).write.mode("overwrite").parquet(ctx_path))
    return bg_path, ctx_path


def _lm_doc_oracle_sql() -> str:
    """Per-document LM scores (the ``d`` stage of the per-source
    roll-up oracle)."""
    return f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
b AS (SELECT doc_id, source,
             unnest(list_transform(range(0, greatest(len(toks) - 1, 0)),
                    i -> toks[i + 1])) AS w1,
             unnest(list_transform(range(0, greatest(len(toks) - 1, 0)),
                    i -> toks[i + 1] || ' ' || toks[i + 2])) AS bg
      FROM t),
bgc AS (SELECT bg, count(*) AS c_bg FROM b GROUP BY bg),
ctx AS (SELECT w1, count(*) AS c_ctx FROM b GROUP BY w1),
p AS (SELECT doc_id, source,
             (c_bg * 1000000) // c_ctx AS p_micro
      FROM b JOIN bgc USING (bg) JOIN ctx USING (w1))
SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(p_micro) // count(*) AS BIGINT) AS score_micro
FROM p GROUP BY doc_id, source
"""


@register("lm_bigram_score", _lm_bigram_oracle_sql())
def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model quality scoring — the
    CCNet/KenLM perplexity-filter shape with the LM trained on the
    corpus itself.  Train: one partial-agg pass counts every bigram
    ``C(w1 w2)`` and every context ``C(w1)`` (occurrences of ``w1`` as
    a bigram head).  Score: each document's mean conditional
    probability ``mean_i C(w_i w_i+1)/C(w_i)`` in exact integer
    micro-units (floor division, so verdicts are bit-identical across
    engines — a log-prob would drag libm rounding into the gate; mean
    raw probability ranks documents the same direction for filtering).
    Report per source: scored docs, mean/min score, and how many fall
    under the low-quality threshold.

    Scale: the two count relations are MODEL-sized (bounded by vocab
    and observed bigrams, not corpus rows) — at 100 TB they are the
    broadcast-able small sides; here they flow through ordinary
    hash-joins on ``bg`` / ``w1``.  The corpus-sized occurrence
    relation is narrow ``(doc_id, w1, bg)``; text never shuffles.
    Documents with fewer than two tokens have no bigrams and are
    excluded from scoring (inner-join semantics, documented).  On a
    production pipeline the train and score halves split exactly like
    the IVF fit/serve pair: counts persist as the model artifact, and
    scoring new batches is two broadcast joins — no retrain."""
    docs = _docs(spark, sf_dir)
    # the occurrence relation feeds both models AND the scoring join:
    # checkpoint it once instead of re-tokenizing three times
    # (measured 18 s at sf1 without)
    b = _track_ckpt(_lm_doc_bigrams(docs).localCheckpoint(eager=True))
    bgc = b.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = b.groupBy("w1").agg(F.count(F.lit(1)).alias("c_ctx"))
    d = _lm_score_docs(b, bgc, ctx).select("doc_id", "source",
                                           "score_micro")
    return (d.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs_scored"),
                 _idiv(F.sum("score_micro"), F.count(F.lit(1)))
                 .alias("avg_score_micro"),
                 F.min("score_micro").cast("bigint").alias("min_score_micro"),
                 F.sum((F.col("score_micro") < _LM_LOW_QUALITY_MICRO)
                       .cast("int")).cast("bigint").alias("n_low_quality")))


# -- quality-classifier fit/serve tier: the
# GPT-3-style curated-vs-raw document quality filter (Brown et al. 2020
# appendix A trains LR on WebText-vs-CommonCrawl features; fastText's
# supervised mode is the same linear-over-token-weights shape) as
# EXACT-INTEGER arithmetic so fit and serve replay bit-for-bit in SQL.
# Model: per-token rational likelihood ratios over two labeled strata;
# a document's score is the MEAN token ratio in micro-units — the same
# log-free monotone surrogate the LM tier uses (true NB multiplies
# likelihoods, i.e. sums logs; the mean ratio ranks in the same
# direction for a filter and keeps every intermediate an exact BIGINT).

#: labeled strata: sources curated into the positive class vs the raw
#: negative tail; the REST of the corpus is unlabeled and only ever
#: scored (the Brown et al. split: train on WebText-vs-CC, apply to CC)
_QC_POS_SOURCES = ("src0", "src1", "src2", "src3", "src4")
_QC_NEG_SOURCES = ("src15", "src16", "src17", "src18", "src19")


def _qc_src_list(srcs: tuple[str, ...]) -> str:
    return ", ".join(f"'{s}'" for s in srcs)


def _qc_model_cte() -> str:
    """CTE chain ``lab -> qtok -> m`` producing the labeled-strata
    token-count model (token, c_pos, c_neg)."""
    return f"""lab AS (
  SELECT CASE WHEN source IN ({_qc_src_list(_QC_POS_SOURCES)})
              THEN 1 ELSE 0 END AS is_pos, text
  FROM documents
  WHERE source IN ({_qc_src_list(_QC_POS_SOURCES)})
     OR source IN ({_qc_src_list(_QC_NEG_SOURCES)})),
qtok AS (SELECT is_pos, unnest({_TOKS}) AS token FROM lab),
m AS (SELECT token,
             CAST(sum(is_pos) AS BIGINT) AS c_pos,
             CAST(sum(1 - is_pos) AS BIGINT) AS c_neg
      FROM qtok GROUP BY token)"""


def _qc_doc_scores_ctes() -> str:
    """Extends the model CTEs with ``stats`` (the neutral decision
    constant), the corpus token stream, and the per-doc score relation
    ``d`` for the roll-up oracle."""
    return f"""{_qc_model_cte()},
model AS (SELECT token,
                 ((c_pos + 1) * 1000000) // (c_neg + 1) AS w_micro
          FROM m),
stats AS (SELECT ((sum(c_pos) + count(*)) * 1000000)
                 // (sum(c_neg) + count(*)) AS k_micro FROM m),
dt AS (SELECT doc_id, source, unnest({_TOKS}) AS token FROM documents),
scq AS (SELECT doc_id, source, coalesce(w_micro, 1000000) AS w
        FROM dt LEFT JOIN model USING (token)),
d AS (SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(w) // count(*) AS BIGINT) AS score_micro
      FROM scq GROUP BY doc_id, source)"""


def _qc_score_oracle_sql() -> str:
    return f"""
WITH {_qc_doc_scores_ctes()}
SELECT source, CAST(count(*) AS BIGINT) AS n_docs_scored,
       CAST(sum(score_micro) // count(*) AS BIGINT) AS avg_score_micro,
       CAST(min(score_micro) AS BIGINT) AS min_score_micro,
       CAST(sum(CASE WHEN score_micro >= k_micro THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pos_class
FROM d CROSS JOIN stats GROUP BY source
"""


def _qc_model_df(docs: DataFrame) -> DataFrame:
    """(token, c_pos, c_neg, w_micro): the classifier model from the
    labeled strata — ONE tokenize+explode over labeled docs only, one
    partial agg; vocabulary-bounded output."""
    both = _QC_POS_SOURCES + _QC_NEG_SOURCES
    lab = (docs.where(F.col("source").isin(*both))
           .select(F.when(F.col("source").isin(*_QC_POS_SOURCES), 1)
                   .otherwise(0).alias("is_pos"),
                   F.explode(dd.tokens("text")).alias("token")))
    m = lab.groupBy("token").agg(
        F.sum("is_pos").cast("bigint").alias("c_pos"),
        F.sum(F.lit(1) - F.col("is_pos")).cast("bigint").alias("c_neg"))
    return m.select(
        "token", "c_pos", "c_neg",
        _idiv((F.col("c_pos") + 1) * 1_000_000,
              F.col("c_neg") + 1).alias("w_micro"))


def _fit_qc_persisted(spark: SparkSession, sf_dir: str,
                      overwrite: bool) -> str:
    """Train the quality classifier and persist the model relation as
    a parquet artifact; returns the path.  Vocabulary-bounded — the
    broadcastable small side of every serve."""
    path = _artifact_path(sf_dir, "quality_clf_model")
    src = f"{sf_dir}/documents.parquet"
    if not overwrite and _artifact_fresh(path, src):
        return path
    (_qc_model_df(_docs(spark, sf_dir))
     .coalesce(1).write.mode("overwrite").parquet(path))
    return path


def _qc_score_docs(docs: DataFrame, model: DataFrame) -> DataFrame:
    """(doc_id, source, n_tokens, score_micro): mean token likelihood
    ratio per document against the given (model-sized, broadcast)
    relation; unseen tokens coalesce to the smoothing-neutral 1e6.
    Explode preserves row locality, so the per-doc partial agg
    combines map-side and only one narrow row per document shuffles —
    the corpus text itself never does."""
    dt = docs.select("doc_id", "source",
                     F.explode(dd.tokens("text")).alias("token"))
    scq = (dt.join(F.broadcast(model.select("token", "w_micro")),
                   "token", "left")
           .select("doc_id", "source",
                   F.coalesce("w_micro", F.lit(1_000_000)).alias("w")))
    return (scq.groupBy("doc_id", "source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 _idiv(F.sum("w"), F.count(F.lit(1)))
                 .alias("score_micro")))


@register("quality_clf_score", _qc_score_oracle_sql())
def quality_clf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE the persisted quality classifier over the WHOLE corpus
    (fit-if-absent): each document's score is the mean per-token
    likelihood ratio in exact micro-units — the log-free monotone
    surrogate for NB (the LM tier's mean-probability trade, documented
    there); classification compares against the neutral constant
    ``k_micro = (N_pos+V)·1e6 // (N_neg+V)`` (the value a token with
    LR = 1 contributes), which is exactly where the global constant
    the fit folded into ``w`` lands for a balanced document.  Reports
    per source: docs scored, mean/min score, and how many classify as
    curated-like.  Documents with zero tokens have no token rows and
    are excluded from scoring (inner explode semantics, as in the LM
    tier).

    Scale: serve is a map-only broadcast-left-join over the exploded
    token stream + one per-doc partial agg (map-side combined; one
    narrow row per doc shuffles) + the per-source roll-up; the 1-row
    ``stats`` constant cross-joins broadcast.  The corpus text never
    shuffles; the model never re-fits."""
    path = _fit_qc_persisted(spark, sf_dir, overwrite=False)
    model = spark.read.parquet(path)
    stats = model.agg(
        _idiv((F.sum("c_pos") + F.count(F.lit(1))) * 1_000_000,
              F.sum("c_neg") + F.count(F.lit(1))).alias("k_micro"))
    d = _qc_score_docs(_docs(spark, sf_dir), model)
    return (d.crossJoin(F.broadcast(stats))
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs_scored"),
                 _idiv(F.sum("score_micro"), F.count(F.lit(1)))
                 .alias("avg_score_micro"),
                 F.min("score_micro").cast("bigint")
                 .alias("min_score_micro"),
                 F.sum((F.col("score_micro") >= F.col("k_micro"))
                       .cast("int")).cast("bigint").alias("n_pos_class")))


_BLOOM_JOIN_BRAND = "Brand#12"


def _bloom_join_oracle_sql() -> str:
    import datafusion_monoid_spark.operators.sketch as sk
    key = "CAST(p_partkey AS VARCHAR)"
    fkey = "CAST(l_partkey AS VARCHAR)"
    bits_sel = " UNION ".join(
        f"SELECT {sk.cms_hash_sql(key, i, sk.BLOOM_M)} AS bit FROM dim"
        for i in range(sk.BLOOM_K))
    pre = " AND ".join(
        f"({sk.cms_hash_sql(fkey, i, sk.BLOOM_M)} IN (SELECT bit FROM bits))"
        for i in range(sk.BLOOM_K))
    return f"""
WITH dim AS (SELECT p_partkey FROM part WHERE p_brand = '{_BLOOM_JOIN_BRAND}'),
bits AS ({bits_sel}),
f AS (SELECT l_partkey,
             CASE WHEN {pre} THEN 1 ELSE 0 END AS pre,
             CASE WHEN l_partkey IN (SELECT p_partkey FROM dim)
                  THEN 1 ELSE 0 END AS exact
      FROM lineitem)
SELECT CAST(count(*) AS BIGINT) AS n_fact_rows,
       CAST(sum(pre) AS BIGINT) AS n_prefiltered,
       CAST(sum(exact) AS BIGINT) AS n_exact,
       CAST(sum(pre) - sum(exact) AS BIGINT) AS n_false_pos,
       CAST((SELECT count(*) FROM bits) AS BIGINT) AS n_bits_set
FROM f
"""


@register("bloom_join_prefilter", _bloom_join_oracle_sql())
def bloom_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning, materialized so its
    economics are measurable: the selective dim side (parts of one
    brand) builds a 1024-bit Bloom filter (set-union monoid, one
    partial-agg pass bounded by ``m_bits`` rows); the bits inline into
    the FACT scan as a literal array, so the membership test — all
    ``k`` deterministic md5-family hashes present — is a MAP-ONLY
    expression evaluated before any join or shuffle.  The entry counts
    fact rows, Bloom survivors, exact matches (broadcast join against
    the dim), and the false positives the bit budget admits — the
    number a capacity plan needs to size ``m`` against the dim
    cardinality.

    Scale: this is the explicit form of Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` row-level
    runtime filter (and of DPP's sibling for non-partition columns).
    At 100 TB the payoff is that non-matching fact rows die at the
    scan — they never reach the join shuffle; the filter itself is
    O(m_bits) to build, merge (bit-OR), and broadcast regardless of
    data size.  The driver-side ``collect()`` is bounded at
    ``m_bits`` = 1024 ints by construction.  No false negatives
    (asserted: prefiltered >= exact, and the exact join runs on the
    bloom SURVIVORS, giving identical results to joining the raw
    fact)."""
    import datafusion_monoid_spark.operators.sketch as sk

    part = _t(spark, sf_dir, "part")
    dim = (part.where(F.col("p_brand") == _BLOOM_JOIN_BRAND)
           .select(F.col("p_partkey").cast("string").alias("k"),
                   F.col("p_partkey")))
    bits = sorted(r.bit for r in
                  sk.bloom_build(dim, "k").collect())
    # O(1) probes: pack the 1024 bits into 16 bigint words inlined as
    # a literal array; each hash tests one word against a power-of-two
    # mask.  array_contains over the set-bit list is O(bits_set) per
    # probe, runs k times per fact row, and measured ~4x slower at
    # sf0.1 — the probe constant IS this query.
    words = [0] * (sk.BLOOM_M // 64)
    for b in bits:
        words[int(b) // 64] |= 1 << (int(b) % 64)

    def _signed64(w: int) -> int:
        return w - (1 << 64) if w >= (1 << 63) else w

    word_arr = F.array(*[F.lit(_signed64(w)).cast("bigint")
                         for w in words])
    pow2_arr = F.array(*[F.lit(_signed64(1 << j)).cast("bigint")
                         for j in range(64)])
    fkey = F.col("l_partkey").cast("string")
    pre = None
    for i in range(sk.BLOOM_K):
        h = sk._cms_hash(fkey, i, sk.BLOOM_M).cast("int")
        word = F.element_at(word_arr, F.shiftright(h, 6) + F.lit(1))
        mask = F.element_at(pow2_arr, h.bitwiseAND(F.lit(63)) + F.lit(1))
        c = word.bitwiseAND(mask) != F.lit(0)
        pre = c if pre is None else (pre & c)
    li = _t(spark, sf_dir, "lineitem")
    flagged = (li.select("l_partkey", pre.cast("int").alias("pre"))
               .join(F.broadcast(dim.select("p_partkey")
                                 .withColumn("__m", F.lit(1))),
                     F.col("l_partkey") == F.col("p_partkey"), "left")
               .select("pre", F.coalesce(F.col("__m"), F.lit(0))
                       .alias("exact")))
    return flagged.agg(
        F.count(F.lit(1)).alias("n_fact_rows"),
        F.sum("pre").cast("bigint").alias("n_prefiltered"),
        F.sum("exact").cast("bigint").alias("n_exact"),
        (F.sum("pre") - F.sum("exact")).cast("bigint").alias("n_false_pos"),
        F.lit(len(bits)).cast("bigint").alias("n_bits_set"))


# ---------------------------------------------------------------------------
# Round 6: product quantization — compressed-domain ANN (Jegou et al. 2011)
# ---------------------------------------------------------------------------

from datafusion_monoid_spark.operators import pq as pqm


def _pq_ctes(m: int = pqm.PQ_M, subdim: int = pqm.PQ_SUBDIM,
             k: int = pqm.PQ_K, iters: int = pqm.PQ_ITERS) -> str:
    """Unrolled grouped Lloyd (subspace id as a group column) as
    chained CTEs — the per-subspace twin of :func:`_kmeans_ctes`.
    Ends at ``pcents{iters}``; composable."""
    parts = [f"""pvecs AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
                 x -> CAST(round(x * 1000000) AS BIGINT)) AS v
               FROM embeddings),
psub AS (SELECT vec_id, unnest(range(0, {m})) AS s,
                unnest(list_transform(range(0, {m}),
                       i -> v[i * {subdim} + 1 : i * {subdim} + {subdim}]))
                  AS sv
         FROM pvecs),
pcents0 AS (SELECT s, vec_id AS cid, sv AS cv FROM psub
            WHERE vec_id IN (SELECT DISTINCT vec_id FROM psub
                             ORDER BY vec_id LIMIT {k}))"""]
    parts.append(_pq_lloyd_ctes("p", subdim, iters))
    return "".join(parts)


def _pq_lloyd_ctes(p: str, subdim: int, iters: int) -> str:
    """The unrolled per-subspace Lloyd rounds, prefix-parameterized so
    the raw-vector chain (prefix ``p``, over ``psub``/``pcents0``) and
    the residual chain (prefix ``r``, over ``rsub``/``rcents0``) share
    one generator.  Requires ``{p}sub (vec_id, s, sv)`` and
    ``{p}cents0 (s, cid, cv)``; ends at ``{p}cents{iters}``."""
    dist = (f"list_sum(list_transform(range(1, {subdim + 1}), "
            f"j -> (sv[j] - cv[j]) * (sv[j] - cv[j])))")
    parts = []
    for i in range(iters):
        parts.append(f""",
{p}d{i} AS (SELECT vec_id, s, sv, cid, {dist} AS d
          FROM {p}sub JOIN {p}cents{i} USING (s)),
{p}a{i} AS (SELECT vec_id, s, sv, cid FROM (
            SELECT vec_id, s, sv, cid,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d, cid) AS rn
            FROM {p}d{i}) WHERE rn = 1),
{p}s{i} AS (SELECT s, cid, pos, sum(x) AS sm, count(*) AS n FROM (
            SELECT s, cid, unnest(sv) AS x,
                   unnest(range(0, len(sv))) AS pos
            FROM {p}a{i}) GROUP BY s, cid, pos),
{p}m{i} AS (SELECT s, cid, pos,
                 CAST((sm - sm % n) // n AS BIGINT) AS val FROM {p}s{i}),
{p}cents{i + 1} AS (SELECT c.s, c.cid, coalesce(n.cv, c.cv) AS cv
                  FROM {p}cents{i} c
                  LEFT JOIN (SELECT s, cid, list(val ORDER BY pos) AS cv
                             FROM {p}m{i} GROUP BY s, cid) n
                  ON c.s = n.s AND c.cid = n.cid)""")
    return "".join(parts)


def _pq_adc_oracle_sql(k: int = 5) -> str:
    it = pqm.PQ_ITERS
    subdim = pqm.PQ_SUBDIM
    short = pqm.PQ_SHORTLIST
    dim = pqm.PQ_M * subdim
    dist = (f"list_sum(list_transform(range(1, {subdim + 1}), "
            f"j -> (sv[j] - cv[j]) * (sv[j] - cv[j])))")
    return f"""
WITH {_pq_ctes()},
pcodes AS (SELECT vec_id, s, cid FROM (
             SELECT vec_id, s, cid,
                    row_number() OVER (PARTITION BY vec_id, s
                                       ORDER BY d, cid) AS rn
             FROM (SELECT vec_id, s, cid, {dist} AS d
                   FROM psub JOIN pcents{it} USING (s))) WHERE rn = 1),
pdt AS (SELECT q.vec_id AS q_id, q.s, c.cid,
               list_sum(list_transform(range(1, {subdim + 1}),
                 j -> (q.sv[j] - c.cv[j]) * (q.sv[j] - c.cv[j]))) AS d
        FROM (SELECT * FROM psub WHERE vec_id < 20) q
        JOIN pcents{it} c ON q.s = c.s),
padc AS (SELECT q_id, vec_id, CAST(sum(d) AS BIGINT) AS adc_d
         FROM pcodes JOIN pdt USING (s, cid)
         GROUP BY q_id, vec_id),
pshort AS (SELECT q_id, vec_id FROM (
             SELECT q_id, vec_id,
                    row_number() OVER (PARTITION BY q_id
                                       ORDER BY adc_d, vec_id) AS srk
             FROM padc) WHERE srk <= {short}),
prr AS (SELECT sh.q_id, sh.vec_id,
               CAST(list_sum(list_transform(range(1, {dim + 1}),
                 j -> (v.v[j] - qv.v[j]) * (v.v[j] - qv.v[j])))
                 AS BIGINT) AS exact_d
        FROM (SELECT * FROM pshort WHERE vec_id != q_id) sh
        JOIN pvecs v ON sh.vec_id = v.vec_id
        JOIN pvecs qv ON sh.q_id = qv.vec_id)
SELECT q_id, vec_id, exact_d, CAST(rk AS INTEGER) AS rk FROM (
  SELECT q_id, vec_id, exact_d,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY exact_d, vec_id) AS rk
  FROM prr) WHERE rk <= {k}
"""


def _fit_pq_persisted(spark: SparkSession, sf_dir: str,
                      overwrite: bool) -> str:
    """Fit the PQ codebooks and persist the exploded (s, cid, pos,
    val) relation as parquet; returns the path.  1024 rows — always
    broadcast/collect-sized by construction (m x k x subdim)."""
    path = _artifact_path(sf_dir, "pq_codebooks")
    if not overwrite and _artifact_fresh(
            path, f"{sf_dir}/embeddings.parquet"):
        return path
    e = _emb(spark, sf_dir)
    cents = pqm.pq_fit(pqm.subvectors(e), ckpt=_ckpt)
    (cents.select("s", "cid", F.posexplode("cv").alias("pos", "val"))
     .coalesce(1).write.mode("overwrite").parquet(path))
    return path


#: path -> (_SUCCESS mtime, {s: [(cid, [subdim ints])]}) — load the
#: codebook artifact once per serve process, invalidated on re-fit.
#: Keyed by PATH with the mtime stored alongside: keying
#: on (path, mtime) never evicted superseded generations, so a
#: long-lived serve process that re-fits the codebooks
#: accumulated stale entries indefinitely.
_PQ_CODEBOOK_CACHE: dict[str, tuple[float, dict]] = {}


def _load_pq_codebooks_cached(spark: SparkSession, path: str) -> dict:
    mtime = _os_mod.path.getmtime(_os_mod.path.join(path, "_SUCCESS"))
    hit = _PQ_CODEBOOK_CACHE.get(path)
    if hit is None or hit[0] != mtime:
        by_sc: dict[tuple[int, int], list[tuple[int, int]]] = {}
        for r in spark.read.parquet(path).collect():  # m x k x subdim rows
            by_sc.setdefault((r["s"], r["cid"]), []).append(
                (r["pos"], r["val"]))
        books: dict[int, list[tuple[int, list[int]]]] = {}
        for (s, cid), pv in sorted(by_sc.items()):
            books.setdefault(int(s), []).append(
                (int(cid), [int(v) for _, v in sorted(pv)]))
        _PQ_CODEBOOK_CACHE[path] = (mtime, books)
    return _PQ_CODEBOOK_CACHE[path][1]


@register("pq_adc_topk", _pq_adc_oracle_sql())
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over the COMPRESSED corpus: asymmetric distance computation
    with exact re-rank (ADC+R).  Encode: every vector's nearest
    codebook entry per subspace (map-side broadcast join — the corpus
    never shuffles to be encoded; its PQ code relation is the narrow
    (vec_id, s, cid)).  Search stage 1: each query builds a k x m
    distance TABLE (queries x 256 rows, bounded by the query batch)
    and every coded vector scores by table lookup + sum — one
    partial-agg shuffle on (query, vector), shortlist of 200 per query (sized from the measured recall-vs-corpus curve; see pq.PQ_SHORTLIST).
    Stage 2: only the shortlist's real vectors are fetched (equi-join
    on vec_id) and re-ranked by exact micro-int squared-L2.
    Deterministic end to end, so the DuckDB oracle replays fit,
    encode, both search stages, and the tie-breaks exactly.

    Scale: ADC is why PQ wins at 100 TB — the SCANNED corpus is codes
    (8 B/vector), not floats (256 B/vector), so the scan is 32x
    lighter and the distance arithmetic is lookups; full-precision
    vectors are only point-looked-up for 50 rows per query.  This
    entry scores the full code relation (the honest recall baseline);
    production composes the same codes with the existing IVF probe
    pruning (IVFADC).  Measured recall@5 vs the exact float top-k is
    pinned in tests/test_similarity.py — the 4-bit codes alone rank
    near-uniform synthetic vectors coarsely (~0.2 recall), which is
    exactly why the re-rank stage is the shipped shape.

    The codebook comes from the SHARED persisted artifact
    (fit-if-absent — only an explicit re-fit overwrites it), not an
    in-plan refit: the quantized fit is deterministic so the result is
    bit-identical, and the refit's Lloyd-round jobs were pure exposure
    to ambient load (22.2 s in the r8 driver sweep
    vs 5.6 s quiet-host for identical plans).  What still distinguishes
    this entry from ``pq_adc_pretrained`` is the ENCODE shape: here the
    codebook is a RELATION and encoding is a broadcast-join argmin (the
    plan a fresh corpus batch runs); the pretrained entry inlines the
    codebook as literal expressions (the map-only serve plan)."""
    path = _fit_pq_persisted(spark, sf_dir, overwrite=False)
    books = _load_pq_codebooks_cached(spark, path)
    cents = spark.createDataFrame(
        [(s, cid, cv) for s, entries in sorted(books.items())
         for cid, cv in entries],
        "s int, cid bigint, cv array<bigint>")
    e = _emb(spark, sf_dir)
    sub = pqm.subvectors(e)
    queries = e.where(F.col("vec_id") < 20)
    return pqm.pq_adc_rerank_topk(e, sub, cents, queries, k=5)


@register("pq_adc_pretrained", _pq_adc_oracle_sql())
def pq_adc_pretrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVE half of the PQ split: ADC+R against the PERSISTED
    codebook artifact (fit-if-absent, like the IVF pair).  The 1024-int
    artifact collects once per process and inlines as LITERAL argmin
    expressions, so ENCODING the corpus is a map-only projection — no
    fit stages, no assignment shuffle; the serve plan is scan ->
    project codes -> broadcast distance-table join -> one partial-agg
    shuffle -> shortlist window -> point-lookup re-rank.  The
    quantized fit is deterministic, so persisted == refit and this
    entry shares the fused ``pq_adc_topk`` oracle bit-for-bit.

    At 100 TB this is the deployment shape: codebooks are a published
    artifact; encoding new corpus batches and answering query batches
    are both stateless map-side jobs against it (the PQ analogues of
    ``ivf_assign_pretrained`` / ``ivf_search_pretrained``)."""
    path = _fit_pq_persisted(spark, sf_dir, overwrite=False)
    books = _load_pq_codebooks_cached(spark, path)
    e = _emb(spark, sf_dir)
    queries = e.where(F.col("vec_id") < 20)
    # materialize the code relation (one map-only job) — the codes ARE
    # the index; inlining the literal argmin into the search plan
    # instead multiplies the m x k expression through every optimizer
    # pass (measured: minutes of driver-side plan churn).  The helper
    # skips the doomed >64 KB whole-stage compile for this one job.
    codes = _track_ckpt(pqm.materialize_codes(
        pqm.pq_encode_pretrained(e, books)))
    return pqm.pq_adc_search(codes, e, queries, books, k=5)


# ---------------------------------------------------------------------------
# Round 6: triangle census of the near-dup candidate graph
# ---------------------------------------------------------------------------

from datafusion_monoid_spark.operators import graph as gr


def _cascade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (a < b, distinct) near-dup candidate edges over
    exact-dedup survivors — the edge set `graph_kcore_sizes` peels.

    Persisted as a per-corpus artifact (the fit/serve pattern — same
    contract as the IVF centroids): the dedup -> minhash -> banding
    cascade is the shared upstream of every graph analysis, so the
    first caller builds and publishes it and every later analysis
    reads it back, exactly as a production pipeline runs the cascade
    once per snapshot and fans analyses out from its output.  The
    build is deterministic, so persisted == rebuilt and the entries'
    from-scratch oracles still replay bit-for-bit."""
    path = _artifact_path(sf_dir, "cascade_edges")
    src = f"{sf_dir}/documents.parquet"
    if not _artifact_fresh(path, src):
        docs = _docs(spark, sf_dir)
        keyed = dd.exact_dedup_keys(docs, "text")
        reps = keyed.groupBy("dup_key").agg(
            F.min("doc_id").alias("doc_id"))
        survivors = docs.join(reps.select("doc_id"), "doc_id",
                              "left_semi")
        sigs = dd.minhash_signatures(survivors, "doc_id", "text")
        cand = dd.lsh_candidate_pairs(sigs, "doc_id")
        est = dd.estimated_jaccard_count("n_agree")
        (cand.where(est >= 0.35)
         .select(F.least("id_a", "id_b").alias("a"),
                 F.greatest("id_a", "id_b").alias("b"))
         .distinct()
         .coalesce(1).write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def _kcore_oracle_sql(ks: tuple[int, ...] = (2, 3),
                      rounds: int = 2) -> str:
    parts = [f"""
WITH reps AS (
  SELECT min(doc_id) AS doc_id
  FROM documents GROUP BY md5({dd.NORMALIZE_SQL.format(expr='text')})
),
survivors AS (
  SELECT d.* FROM documents d JOIN reps USING (doc_id)
),{_minhash_candidates_cte('survivors').replace('WITH msh AS', 'msh AS', 1)},
e AS MATERIALIZED (
      SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
      FROM cand WHERE {_CASCADE_EST} >= 0.35)"""]
    # every peel CTE is referenced 3x by the next round (degree count +
    # two joins); without MATERIALIZED DuckDB inlines each reference
    # and the chain re-evaluates 3^rounds times — minutes at sf0.01
    sels = []
    base = "e"
    for k in ks:
        p = f"c{k}"
        # core nesting: each k peels FROM the previous k's core
        parts.append(f",\n{p}e0 AS MATERIALIZED (SELECT a, b FROM {base})")
        base = f"{p}e{rounds}"
        for r in range(rounds):
            parts.append(f""",
{p}d{r} AS MATERIALIZED (SELECT v, count(*) AS c FROM (
    SELECT a AS v FROM {p}e{r} UNION ALL SELECT b AS v FROM {p}e{r})
  GROUP BY v),
{p}k{r} AS MATERIALIZED (SELECT v FROM {p}d{r} WHERE c >= {k}),
{p}e{r + 1} AS MATERIALIZED (SELECT ee.a, ee.b FROM {p}e{r} ee
                JOIN {p}k{r} ka ON ee.a = ka.v
                JOIN {p}k{r} kb ON ee.b = kb.v)""")
        sels.append(f"""
SELECT CAST({k} AS BIGINT) AS k,
       (SELECT count(DISTINCT v) FROM (
          SELECT a AS v FROM {p}e{rounds}
          UNION ALL SELECT b AS v FROM {p}e{rounds})) AS n_core_nodes,
       (SELECT count(*) FROM {p}e{rounds}) AS n_core_edges""")
    return "".join(parts) + "\nUNION ALL".join(sels)


@register("graph_kcore_sizes", _kcore_oracle_sql())
def graph_kcore_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core sizes (k = 2, 3) of the near-dup candidate graph — the
    density census that complements the triangle tier: the 2-core
    strips pendant chains (mostly borderline false positives at the
    Jaccard threshold), and the 3-core isolates the cliquey kernels
    (template families, mirror runs) that survive any single edge
    being wrong — the subgraphs an operator can bulk-prune with
    highest confidence.

    Iterative peeling, 2 rounds per k with the 3-core peeled FROM the
    2-core (the nesting identity — fixpoint on this graph after 1
    round; the fixed count is what the unrolled-CTE oracle replays,
    and a pytest re-peels to TRUE fixpoint driver-side at every
    shipped SF to prove 2 is enough).  Each round costs one degree
    partial-agg and two semi-joins over the SHRINKING edge relation —
    candidate-graph sized, never corpus sized; one materialization per
    k, not per round (the first cut's 8 eager checkpoints were pure
    scheduling overhead: 7.3 s -> ~3 s at sf0.1); see
    ``graph.kcore_stats``."""
    return gr.kcore_stats(_cascade_edges(spark, sf_dir), ks=(2, 3),
                          rounds=2)


def _pq_ivfadc_oracle_sql(k: int = 5, nprobe: int = 7) -> str:
    it = pqm.PQ_ITERS
    subdim = pqm.PQ_SUBDIM
    short = pqm.PQ_SHORTLIST
    dim = pqm.PQ_M * subdim
    coarse_d = (f"list_sum(list_transform(range(1, {dim + 1}), "
                f"j -> (v.v[j] - c.cv[j]) * (v.v[j] - c.cv[j])))")
    sub_d = (f"list_sum(list_transform(range(1, {subdim + 1}), "
             f"j -> (sv[j] - cv[j]) * (sv[j] - cv[j])))")
    return f"""
WITH {_kmeans_ctes()},
{_pq_ctes()},
coarse AS (SELECT vec_id, cid AS ccid FROM (
             SELECT v.vec_id, c.cid, {coarse_d} AS d,
                    row_number() OVER (PARTITION BY v.vec_id
                                       ORDER BY {coarse_d}, c.cid) AS rn
             FROM vecs v CROSS JOIN cents{it} c) WHERE rn = 1),
qprobe AS (SELECT vec_id AS q_id, cid AS ccid FROM (
             SELECT v.vec_id, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                                       ORDER BY {coarse_d}, c.cid) AS rn
             FROM (SELECT * FROM vecs WHERE vec_id < 20) v
             CROSS JOIN cents{it} c) WHERE rn <= {nprobe}),
cands AS (SELECT q_id, vec_id FROM qprobe JOIN coarse USING (ccid)),
icodes AS (SELECT vec_id, s, cid FROM (
             SELECT vec_id, s, cid,
                    row_number() OVER (PARTITION BY vec_id, s
                                       ORDER BY d, cid) AS rn
             FROM (SELECT vec_id, s, cid, {sub_d} AS d
                   FROM psub JOIN pcents{it} USING (s))) WHERE rn = 1),
idt AS (SELECT q.vec_id AS q_id, q.s, c.cid,
               list_sum(list_transform(range(1, {subdim + 1}),
                 j -> (q.sv[j] - c.cv[j]) * (q.sv[j] - c.cv[j]))) AS d
        FROM (SELECT * FROM psub WHERE vec_id < 20) q
        JOIN pcents{it} c ON q.s = c.s),
iadc AS (SELECT ca.q_id, ca.vec_id, CAST(sum(d) AS BIGINT) AS adc_d
         FROM cands ca
         JOIN icodes USING (vec_id)
         JOIN idt ON idt.q_id = ca.q_id AND idt.s = icodes.s
                     AND idt.cid = icodes.cid
         GROUP BY ca.q_id, ca.vec_id),
ishort AS (SELECT q_id, vec_id FROM (
             SELECT q_id, vec_id,
                    row_number() OVER (PARTITION BY q_id
                                       ORDER BY adc_d, vec_id) AS srk
             FROM iadc) WHERE srk <= {short}),
irr AS (SELECT sh.q_id, sh.vec_id,
               CAST(list_sum(list_transform(range(1, {dim + 1}),
                 j -> (v.v[j] - qv.v[j]) * (v.v[j] - qv.v[j])))
                 AS BIGINT) AS exact_d
        FROM (SELECT * FROM ishort WHERE vec_id != q_id) sh
        JOIN pvecs v ON sh.vec_id = v.vec_id
        JOIN pvecs qv ON sh.q_id = qv.vec_id)
SELECT q_id, vec_id, exact_d, CAST(rk AS INTEGER) AS rk FROM (
  SELECT q_id, vec_id, exact_d,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY exact_d, vec_id) AS rk
  FROM irr) WHERE rk <= {k}
"""


def _ccr_from_exploded(cents: DataFrame) -> DataFrame:
    """(s=0, cid, cv): the whole-vector coarse-centroid relation the
    IVFADC operators consume, from the exploded (cid, pos, val) form
    the k-means tier emits and `sim_ivf_fit_centroids` persists."""
    return (cents.groupBy("cid")
            .agg(F.transform(F.array_sort(F.collect_list(
                F.struct("pos", "val"))), lambda t: t["val"]).alias("cv"))
            .select(F.lit(0).alias("s"), "cid", "cv"))


@register("pq_ivfadc_topk", _pq_ivfadc_oracle_sql())
def pq_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the billion-scale production ANN composition (FAISS
    IndexIVFPQ shape): the learned coarse quantizer (the catalog's
    quantized-Lloyd k-means, k=8) prunes WHICH vectors are scored
    (each query probes its 7 nearest cells), and the product quantizer
    scores ONLY those candidates in the compressed domain, shortlist
    re-rank exact.  Raw-vector codes — kept as the measured baseline
    the residual-encoded twin (`pq_ivfadc_residual_topk`, the FAISS
    default) is compared against: at EQUAL nprobe 6 raw codes measure
    recall@5 0.90 vs residual 0.93 at sf0.1 (the coding-gain
    comparison the docstrings cite).  This entry ships nprobe 7:
    on these structureless near-uniform vectors
    the extra probe lifts raw-code recall 0.90 -> 0.95 at sf0.1 for a
    ~17% larger scored candidate set and no measurable wall change
    (1.7 -> 1.8 s quiet) — the knob was probe coverage, not code
    resolution.  The oracle composes the k-means CTE chain, the
    grouped-Lloyd PQ chain, probe/assign, ADC, and both rank stages
    bit-for-bit at the same nprobe.

    Scale: this entry is WHY the catalog has both halves.  Flat ADC
    scans every code (32x lighter than floats but still O(corpus));
    the coarse probe makes the scored set cells-proportional
    (nprobe/k_coarse of the corpus on average), and both index
    artifacts — centroids AND codes — persist ahead of time in the
    serve deployment (`sim_ivf_fit_centroids`, `pq_adc_pretrained`
    demonstrate the split halves).  Recall@5 vs exact is pinned in
    tests/test_similarity.py with the probe-coverage rationale."""
    e = _emb(spark, sf_dir)
    # both fits run as DRIVER-LITERAL Lloyd (one job per round; see
    # pq_ivfadc_residual_topk) — bit-identical to the chained form;
    # the raw tier fits pq_fit_literal on the QUANTIZED vectors
    # themselves instead of residuals.  Codes materialize once (the
    # published index artifact of the serve deployment).  The two fits
    # are INDEPENDENT in the raw tier (the PQ trains on the quantized
    # vectors, not on residuals), so they run as two concurrent driver
    # threads — each round's tail tasks back-fill with the other fit's
    # work (guide §2.6) — and the coarse assignment runs as the
    # Arrow->NumPy kernel against the literal centroids.
    from concurrent.futures import ThreadPoolExecutor

    raw = e.select("vec_id", sim.quantize_micro("embedding").alias("rv"))
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cl = pool.submit(pqm.kmeans_fit_literal, e, 8, 3)
        f_books = pool.submit(pqm.pq_fit_literal, raw)
        cl, books = f_cl.result(), f_books.result()
    ccr = spark.createDataFrame(
        [(0, cid, cv) for cid, cv in cl],
        "s int, cid bigint, cv array<bigint>")
    cents = spark.createDataFrame(
        [(s, cid, cv) for s, entries in sorted(books.items())
         for cid, cv in entries],
        "s int, cid bigint, cv array<bigint>")
    codes = _ckpt(pqm.pq_codes_literal(raw, books))
    queries = e.where(F.col("vec_id") < 20)
    return pqm.pq_ivfadc_topk(e, None, cents, ccr, queries, k=5,
                              nprobe=7, codes=codes, coarse_list=cl)


def _pq_ivfadc_residual_oracle_sql(k: int = 5, nprobe: int = 6,
                                   vecs_cte: str | None = None) -> str:
    it = pqm.PQ_ITERS
    m = pqm.PQ_M
    subdim = pqm.PQ_SUBDIM
    kq = pqm.PQ_K
    short = pqm.PQ_SHORTLIST
    dim = m * subdim
    coarse_d = (f"list_sum(list_transform(range(1, {dim + 1}), "
                f"j -> (v.v[j] - c.cv[j]) * (v.v[j] - c.cv[j])))")
    sub_d = (f"list_sum(list_transform(range(1, {subdim + 1}), "
             f"j -> (sv[j] - cv[j]) * (sv[j] - cv[j])))")
    slices = (f"unnest(range(0, {m})) AS s, "
              f"unnest(list_transform(range(0, {m}), "
              f"i -> rv[i * {subdim} + 1 : i * {subdim} + {subdim}])) AS sv")
    return f"""
WITH {_kmeans_ctes(vecs_cte=vecs_cte)},
rcoarse AS MATERIALIZED (SELECT vec_id, cid AS ccid FROM (
             SELECT v.vec_id, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                                       ORDER BY {coarse_d}, c.cid) AS rn
             FROM vecs v CROSS JOIN cents{it} c) WHERE rn = 1),
rres AS MATERIALIZED (
         SELECT v.vec_id, rc.ccid,
                list_transform(range(1, {dim + 1}),
                               j -> v.v[j] - c.cv[j]) AS rv
         FROM vecs v JOIN rcoarse rc USING (vec_id)
         JOIN cents{it} c ON rc.ccid = c.cid),
rsub AS MATERIALIZED (SELECT vec_id, {slices} FROM rres),
rcents0 AS (SELECT s, vec_id AS cid, sv AS cv FROM rsub
            WHERE vec_id IN (SELECT DISTINCT vec_id FROM rsub
                             ORDER BY vec_id LIMIT {kq}))
{_pq_lloyd_ctes("r", subdim, it)},
rcodes AS MATERIALIZED (SELECT vec_id, s, cid FROM (
             SELECT vec_id, s, cid,
                    row_number() OVER (PARTITION BY vec_id, s
                                       ORDER BY d, cid) AS rn
             FROM (SELECT vec_id, s, cid, {sub_d} AS d
                   FROM rsub JOIN rcents{it} USING (s))) WHERE rn = 1),
rqprobe AS (SELECT vec_id AS q_id, cid AS ccid FROM (
             SELECT v.vec_id, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                                       ORDER BY {coarse_d}, c.cid) AS rn
             FROM (SELECT * FROM vecs WHERE vec_id < 20) v
             CROSS JOIN cents{it} c) WHERE rn <= {nprobe}),
rqres AS (SELECT p.q_id, p.ccid,
                 list_transform(range(1, {dim + 1}),
                                j -> v.v[j] - c.cv[j]) AS rv
          FROM rqprobe p JOIN vecs v ON p.q_id = v.vec_id
          JOIN cents{it} c ON p.ccid = c.cid),
rqsub AS (SELECT q_id, ccid, {slices} FROM rqres),
rdt AS (SELECT q_id, ccid, s, cid, {sub_d} AS d
        FROM rqsub JOIN rcents{it} USING (s)),
rcands AS (SELECT p.q_id, p.ccid, a.vec_id
           FROM rqprobe p
           JOIN (SELECT vec_id, ccid FROM rres) a USING (ccid)),
radc AS (SELECT ca.q_id, ca.vec_id, CAST(sum(d) AS BIGINT) AS adc_d
         FROM rcands ca
         JOIN rcodes co USING (vec_id)
         JOIN rdt ON rdt.q_id = ca.q_id AND rdt.ccid = ca.ccid
                     AND rdt.s = co.s AND rdt.cid = co.cid
         GROUP BY ca.q_id, ca.vec_id),
rshort AS (SELECT q_id, vec_id FROM (
             SELECT q_id, vec_id,
                    row_number() OVER (PARTITION BY q_id
                                       ORDER BY adc_d, vec_id) AS srk
             FROM radc) WHERE srk <= {short}),
rrr AS (SELECT sh.q_id, sh.vec_id,
               CAST(list_sum(list_transform(range(1, {dim + 1}),
                 j -> (v.v[j] - qv.v[j]) * (v.v[j] - qv.v[j])))
                 AS BIGINT) AS exact_d
        FROM (SELECT * FROM rshort WHERE vec_id != q_id) sh
        JOIN vecs v ON sh.vec_id = v.vec_id
        JOIN vecs qv ON sh.q_id = qv.vec_id)
SELECT q_id, vec_id, exact_d, CAST(rk AS INTEGER) AS rk FROM (
  SELECT q_id, vec_id, exact_d,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY exact_d, vec_id) AS rk
  FROM rrr) WHERE rk <= {k}
"""


@register("pq_ivfadc_residual_topk", _pq_ivfadc_residual_oracle_sql())
def pq_ivfadc_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with RESIDUAL encoding — the FAISS IndexIVFPQ default
    (Jegou et al. 2011 §IV.B), lifting `pq_ivfadc_topk`'s raw-vector
    simplification: the product quantizer trains on and codes
    ``x - coarse_centroid(x)``.  Residual energy is the WITHIN-CELL
    spread, not the absolute position, so the same 16 x 4-bit code
    budget resolves much finer distances — measured recall@5 at
    nprobe 6 rises accordingly (floor pinned in
    tests/test_similarity.py; raw codes at the SAME nprobe 6 measure
    0.90 — the raw entry now ships nprobe 7 to buy its recall back
    through probe coverage instead).

    The query-side distance table is built per PROBED CELL from the
    query's residual against that cell's centroid — keyed
    (q_id, ccid, s, cid), |queries| x nprobe x m x k rows, broadcast —
    and candidates come only from probed cells, so the compressed code
    relation never shuffles (codes stay map-side against the broadcast
    candidate + table relations).  Everything is exact micro-int
    arithmetic (residuals are differences of micro-ints), so the
    oracle replays coarse fit, residuals, the grouped-Lloyd residual
    PQ fit, codes, probes, per-cell tables, ADC, and both rank stages
    bit-for-bit.

    Both fits run as DRIVER-LITERAL Lloyd (``pqm.kmeans_fit_literal`` /
    ``pq_fit_literal`` — the MLlib shape: one job per round, centroids
    as k x dim driver integers), bit-identical to the chained form but
    without its per-round checkpoint-job constants; round 7's
    checkpoint-per-round fused plan spent ~16 s of its 19 s in fit
    scheduling at sf0.1.  Residuals and codes materialize once (they
    ARE the published index artifacts in the serve deployment) and the
    search runs against those relations plus the literal codebooks."""
    e = _emb(spark, sf_dir)
    cl = pqm.kmeans_fit_literal(e, k=8, iters=3)
    ccr = spark.createDataFrame(
        [(0, cid, cv) for cid, cv in cl],
        "s int, cid bigint, cv array<bigint>")
    resid = _ckpt(pqm.residual_vectors_literal(e, cl))
    books = pqm.pq_fit_literal(resid)
    cents = spark.createDataFrame(
        [(s, cid, cv) for s, entries in sorted(books.items())
         for cid, cv in entries],
        "s int, cid bigint, cv array<bigint>")
    codes = _ckpt(pqm.pq_codes_literal(resid, books))
    cells = resid.select("vec_id", "ccid")
    queries = e.where(F.col("vec_id") < 20)
    return pqm.ivfadc_residual_search(e, ccr, cents, codes, cells,
                                      queries, k=5, nprobe=6)


_OPQ_DIM = 64


def _opq_rot_signs() -> list[list[int]]:
    """The OPQ pre-rotation R = H * D as a +/-1 literal matrix:
    H is the order-64 Walsh-Hadamard matrix (H[i][j] =
    (-1)^popcount(i AND j), exactly orthogonal up to the uniform
    scale sqrt(64)) and D an md5-derived +/-1 diagonal — the
    randomized-Hadamard structured rotation (Ailon & Chazelle 2006)
    that OPQ implementations use as the non-parametric baseline
    ("random rotation", Ge et al. CVPR 2013 §4).  A CONSTANT of the
    query, like the JL sign matrix."""
    import hashlib
    d = [1 if hashlib.md5(f"opq{j}".encode()).digest()[0] % 2 == 0 else -1
         for j in range(_OPQ_DIM)]
    return [[(-1 if bin(i & j).count("1") % 2 else 1) * d[j]
             for j in range(_OPQ_DIM)] for i in range(_OPQ_DIM)]


def _opq_rotated(e: DataFrame) -> DataFrame:
    """(vec_id, embedding): the micro-quantized vectors ROTATED by the
    literal +/-1 matrix — exact integer math (y_i = sum of signed
    micro-ints, |y_i| <= 64 * 2e6 so squared distances stay inside
    BIGINT), map-only with zero joins (the JL projection pattern).
    Distances transform exactly: ||Rx - Rc||^2 = 64 * ||x - c||^2, so
    every argmin/ranking in rotated space replays bit-for-bit in any
    engine applying the same literals.

    The 64 signed folds run as ONE int64 NumPy matmul per Arrow batch
    (``npkernels.rotate_signs_np``, guide §4.2) instead of 64
    interpreted ``aggregate(zip_with(...))`` expressions per row —
    the leg that kept this tier's wall time flat.
    Quantization stays the Spark expression (round-half-up exactly
    Spark's); integer addition is associative, so the matmul is
    bit-identical to the expression fold (pinned in
    tests/test_similarity.py::test_opq_rotation_kernel_matches_expression)."""
    from datafusion_monoid_spark.operators import npkernels as npk

    base = e.select("vec_id", sim.quantize_micro("embedding").alias("__q"))
    return npk.rotate_signs_np(base, _opq_rot_signs())


def _opq_rotated_expr(e: DataFrame) -> DataFrame:
    """The r13 expression form of :func:`_opq_rotated` — kept as the
    parity reference for the kernel-equivalence pin (the kernel must
    stay bit-identical to this fold)."""
    signs = _opq_rot_signs()
    base = e.select("vec_id", sim.quantize_micro("embedding").alias("__q"))
    ys = []
    for row in signs:
        arr = "array(" + ",".join(f"{s}L" for s in row) + ")"
        ys.append(F.expr(f"aggregate(zip_with(__q, {arr}, "
                         f"(x, s) -> x * s), 0L, (acc, v) -> acc + v)"))
    return base.select("vec_id", F.array(*ys).alias("embedding"))


def _opq_vecs_cte() -> str:
    """DuckDB twin of :func:`_opq_rotated` as a ``vecs(vec_id, v)`` CTE
    chain — the literal matrix replayed through a 4096-row VALUES
    relation (the JL oracle shape)."""
    signs = _opq_rot_signs()
    rows = ", ".join(f"({i}, {j}, {signs[i][j]})"
                     for i in range(_OPQ_DIM) for j in range(_OPQ_DIM))
    return f"""qi AS (
  SELECT vec_id,
         CAST(round(unnest(embedding::DOUBLE[]) * 1000000) AS BIGINT) AS q,
         unnest(range(0, {_OPQ_DIM})) AS jj
  FROM embeddings),
rot(ii, jj, s) AS (VALUES {rows}),
vecs AS (SELECT vec_id, list(y ORDER BY ii) AS v FROM (
           SELECT vec_id, ii, CAST(sum(s * q) AS BIGINT) AS y
           FROM qi JOIN rot USING (jj) GROUP BY vec_id, ii)
         GROUP BY vec_id)"""


@register("pq_opq_ivfadc_topk",
          _pq_ivfadc_residual_oracle_sql(vecs_cte=_opq_vecs_cte()))
def pq_opq_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-rotated residual IVFADC (Ge et al., "Optimized Product
    Quantization", CVPR 2013): a fixed orthogonal pre-rotation —
    randomized Walsh-Hadamard, the non-parametric "random rotation"
    baseline of §4 — applied as a LITERAL +/-1 matrix before the
    coarse/residual/PQ chain, the standard recall-per-bit lever once
    residual coding is in.  The rotation
    decorrelates and balances per-subspace energy, which is where
    parametric OPQ gains on anisotropic real embeddings; on this
    synthetic isotropic corpus its measured recall@5 matches the
    unrotated residual tier (floor pinned in tests/test_similarity.py)
    — the point here is the exact-integer rotation plumbing: Hadamard
    over micro-ints is integer math, ||Rx - Rc||^2 = 64 * ||x - c||^2
    exactly, so fit, codes, probes, ADC and both rank stages replay
    bit-for-bit through the SAME residual-IVFADC oracle with only the
    ``vecs`` CTE swapped for the rotated form.

    Scale: the rotation is map-only (64 zip_with folds per row, zero
    joins — the JL pattern), materialized once alongside the residual
    and code artifacts; everything downstream is the literal-Lloyd
    one-job-per-round fit and the broadcast-candidate serve plan of
    the residual tier."""
    e = _emb(spark, sf_dir)
    ident = pqm.micro_identity
    rot = _ckpt(_opq_rotated(e))
    cl = pqm.kmeans_fit_literal(rot, k=8, iters=3, micro=ident)
    ccr = spark.createDataFrame(
        [(0, cid, cv) for cid, cv in cl],
        "s int, cid bigint, cv array<bigint>")
    resid = _ckpt(pqm.residual_vectors_literal(rot, cl, micro=ident))
    books = pqm.pq_fit_literal(resid)
    cents = spark.createDataFrame(
        [(s, cid, cv) for s, entries in sorted(books.items())
         for cid, cv in entries],
        "s int, cid bigint, cv array<bigint>")
    codes = _ckpt(pqm.pq_codes_literal(resid, books))
    cells = resid.select("vec_id", "ccid")
    queries = rot.where(F.col("vec_id") < 20)
    return pqm.ivfadc_residual_search(rot, ccr, cents, codes, cells,
                                      queries, k=5, nprobe=6, micro=ident)


#: the OPQ index's published relations — freshness checks ALL of them
#: (a mid-fit crash leaves a partial index that must force a refit;
#: a codes-only check would rest on an undocumented written-last
#: ordering invariant)
_OPQ_ARTIFACTS = ("ccr", "cents", "cells", "codes", "rvecs")


def _opq_rot_sig() -> str:
    """Version stamp of the rotation CONSTANT: persisting the rotated
    corpus (r9) removed the by-construction guarantee that corpus and
    query rotations come from the same code — a matrix/seed edit with
    a warm ``.artifacts/`` would rotate queries with the NEW matrix
    while re-ranking against OLD-rotation rvecs/codes/centroids,
    silently garbage.  The fit stamps this signature next to the
    artifacts; the freshness check requires it to match the running
    code."""
    import hashlib
    return hashlib.md5(repr(_opq_rot_signs()).encode()).hexdigest()


def _opq_sig_fresh(path: str) -> bool:
    try:
        with open(f"{path}/ROTSIG") as f:
            return f.read().strip() == _opq_rot_sig()
    except OSError:
        return False


def _fit_opq_persisted(spark: SparkSession, sf_dir: str,
                       overwrite: bool) -> str:
    """Fit the OPQ-rotated residual IVFADC index (driver-literal Lloyd
    in rotated space) and persist its published relations: rotated
    coarse centroids (``ccr/``), rotated-residual PQ codebooks
    (``cents/``), compressed codes (``codes/``), inverted lists
    (``cells/``) and the ROTATED CORPUS itself (``rvecs/`` — the sf10
    finding, BASELINE.md round 8: applying the 64-lambda interpreted
    rotation to corpus rows at serve time dominated the serve plan at
    200k rows, so the rotation is ingest-time work published with the
    index and serve-side rotation is query-batch-only).  The rotation
    matrix itself is a code CONSTANT (md5-seeded), so it needs no
    artifact.  Returns the index path."""
    path = _artifact_path(sf_dir, "opq_ivfadc")
    src = f"{sf_dir}/embeddings.parquet"
    if (not overwrite and _opq_sig_fresh(path)
            and all(_artifact_fresh(f"{path}/{a}", src)
                    for a in _OPQ_ARTIFACTS)):
        return path
    # invalidate-then-rebuild: drop the signature BEFORE
    # touching any artifact, so a crash between completed overwrites
    # (source/rotation unchanged, all _SUCCESS markers fresh) can never
    # leave the OLD ROTSIG vouching for a mixed-generation index — the
    # freshness invariant must not lean on fit determinism
    try:
        _os_mod.remove(f"{path}/ROTSIG")
    except OSError:
        pass
    e = _emb(spark, sf_dir)
    ident = pqm.micro_identity
    rot = _ckpt(_opq_rotated(e))
    rot.write.mode("overwrite").parquet(f"{path}/rvecs")
    cl = pqm.kmeans_fit_literal(rot, k=8, iters=3, micro=ident)
    (spark.createDataFrame([(0, cid, cv) for cid, cv in cl],
                           "s int, cid bigint, cv array<bigint>")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/ccr"))
    resid = _ckpt(pqm.residual_vectors_literal(rot, cl, micro=ident))
    books = pqm.pq_fit_literal(resid)
    (spark.createDataFrame(
        [(s, cid, cv) for s, entries in sorted(books.items())
         for cid, cv in entries],
        "s int, cid bigint, cv array<bigint>")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/cents"))
    (resid.select("vec_id", "ccid")
     .write.mode("overwrite").parquet(f"{path}/cells"))
    (pqm.pq_codes_literal(resid, books)
     .write.mode("overwrite").parquet(f"{path}/codes"))
    # the rotation-version stamp seals the index LAST: a crash above
    # leaves a stale/absent signature, which forces the refit
    with open(f"{path}/ROTSIG", "w") as f:
        f.write(_opq_rot_sig())
    return path


@register("pq_opq_ivfadc_pretrained",
          _pq_ivfadc_residual_oracle_sql(vecs_cte=_opq_vecs_cte()))
def pq_opq_ivfadc_pretrained(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """The SERVE half of the OPQ split (fit-if-absent — keeping the
    fit/serve discipline complete for EVERY index in the catalog):
    probe + per-cell distance tables + ADC + exact re-rank against the
    PERSISTED rotated-index relations, INCLUDING the rotated corpus
    (``rvecs/``) — so the only rotation in the serve plan is the
    map-only literal projection over the incoming query batch (<= 20
    rows here; no artifact needed for the matrix itself, it is
    md5-seeded code).  Before r9 the re-rank's point-lookups fetched
    UNROTATED corpus rows through the in-plan rotation projection,
    which Catalyst evaluates below the join — the full corpus paid the
    64-lambda interpreted rotation per serve call, 11.9x super-linear
    at sf10.  The literal fit is deterministic, so
    persisted == refit and this entry shares the fused
    `pq_opq_ivfadc_topk` oracle bit-for-bit."""
    path = _fit_opq_persisted(spark, sf_dir, overwrite=False)
    ccr = spark.read.parquet(f"{path}/ccr")
    cents = spark.read.parquet(f"{path}/cents")
    codes = spark.read.parquet(f"{path}/codes")
    cells = spark.read.parquet(f"{path}/cells")
    rot = spark.read.parquet(f"{path}/rvecs")
    queries = _opq_rotated(_emb(spark, sf_dir).where(F.col("vec_id") < 20))
    return pqm.ivfadc_residual_search(rot, ccr, cents, codes, cells,
                                      queries, k=5, nprobe=6,
                                      micro=pqm.micro_identity)


def _fit_ivfadc_residual_persisted(spark: SparkSession, sf_dir: str,
                                   overwrite: bool) -> tuple[str, str]:
    """Fit the residual IVFADC index and persist its published
    relations: the residual PQ codebooks (``cents/``, m x k x subdim
    rows), the compressed corpus (``codes/``, (vec_id, s, cid)) and
    the inverted lists (``cells/``, (vec_id, ccid)).  The coarse
    quantizer REUSES the `sim_ivf_fit_centroids` artifact — the same
    deterministic k-means both fused IVFADC entries fit in-plan —
    so one coarse fit serves the whole ANN artifact family.  Returns
    (coarse_path, index_path)."""
    cpath = _fit_centroids_persisted(spark, sf_dir, overwrite=False)
    path = _artifact_path(sf_dir, "ivfadc_residual")
    if not overwrite and _artifact_fresh(
            f"{path}/codes", f"{sf_dir}/embeddings.parquet"):
        return cpath, path
    e = _emb(spark, sf_dir)
    ccr = _ckpt(_ccr_from_exploded(spark.read.parquet(cpath)))
    resid = _ckpt(pqm.residual_vectors(e, ccr))
    cents = pqm.pq_fit(pqm.residual_subvectors(resid), ckpt=_ckpt)
    (cents.select("s", "cid", F.posexplode("cv").alias("pos", "val"))
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/cents"))
    (resid.select("vec_id", "ccid")
     .write.mode("overwrite").parquet(f"{path}/cells"))
    (pqm.pq_codes(pqm.residual_subvectors(resid), cents)
     .write.mode("overwrite").parquet(f"{path}/codes"))
    return cpath, path


@register("pq_ivfadc_residual_pretrained", _pq_ivfadc_residual_oracle_sql())
def pq_ivfadc_residual_pretrained(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The SERVE half of the residual-IVFADC split (fit-if-absent,
    completing the catalog's fit/serve discipline for the last index
    that lacked it): probe + per-cell distance tables + ADC + exact
    re-rank against the PERSISTED index relations — coarse centroids
    (shared with the IVF family), residual PQ codebooks, compressed
    codes, inverted lists.  No fit stages anywhere in the serve plan:
    the corpus-sized relations are read back as parquet and only ever
    meet broadcast probe/table relations, so the serve job is scan ->
    broadcast joins -> one partial-agg shuffle -> shortlist window ->
    point-lookup re-rank.  The quantized fit is deterministic, so
    persisted == refit and this entry shares the fused
    `pq_ivfadc_residual_topk` oracle bit-for-bit.

    At 100 TB this is the deployment: the index artifacts are
    published once (the fit half), and query batches are stateless
    map-mostly jobs against them — the residual-encoding analogue of
    `pq_adc_pretrained` / `sim_topk_ivf_pretrained`."""
    cpath, rpath = _fit_ivfadc_residual_persisted(spark, sf_dir,
                                                  overwrite=False)
    ccr = _ckpt(_ccr_from_exploded(spark.read.parquet(cpath)))
    cents = (spark.read.parquet(f"{rpath}/cents")
             .groupBy("s", "cid")
             .agg(F.transform(F.array_sort(F.collect_list(
                 F.struct("pos", "val"))), lambda t: t["val"])
                  .alias("cv")))
    codes = spark.read.parquet(f"{rpath}/codes")
    cells = spark.read.parquet(f"{rpath}/cells")
    e = _emb(spark, sf_dir)
    queries = e.where(F.col("vec_id") < 20)
    return pqm.ivfadc_residual_search(e, ccr, cents, codes, cells,
                                      queries, k=5, nprobe=6)


# ---------------------------------------------------------------------------
# Round 6: dominant principal direction via exact-integer power iteration
# ---------------------------------------------------------------------------

_PCA_DIM = 64
_PCA_ITERS = 3


def _pca_trunc_div_sql(a: str, b: str) -> str:
    """Truncated integer division identical in Spark and DuckDB:
    both engines' ``%`` truncates toward zero, so ``(a - a % b) / b``
    is exact truncation in either (negative-safe — plain ``//``
    FLOORS in DuckDB, which differs on negatives)."""
    return f"CAST((({a}) - ({a}) % ({b})) / ({b}) AS BIGINT)"


def _power_iter_sql_ctes(iters: int) -> str:
    """CTE chain for ``iters`` power-iteration rounds over a Gram CTE
    named ``g`` (i, j, gv) seeded from a CTE ``b0`` (i, bv); leaves the
    result in ``b{iters}``.  Shared by the raw-moment and centered
    (ABTT) principal-direction oracles."""
    parts = []
    for t in range(iters):
        parts.append(f""",
m{t} AS (SELECT g.i, CAST(sum(gv * bv) AS BIGINT) AS mv
         FROM g JOIN b{t} ON g.j = b{t}.i GROUP BY g.i),
n{t} AS (SELECT max(abs(mv)) AS mx FROM m{t}),
b{t + 1} AS (SELECT i, {_pca_trunc_div_sql('mv * 1000000',
                                           '(SELECT mx FROM n' + str(t) + ')')}
                      AS bv
             FROM m{t})""")
    return "".join(parts)


def _power_iteration(spark: SparkSession, g: DataFrame,
                     iters: int) -> DataFrame:
    """Power iteration over a dim-bounded Gram relation (i, j, gv):
    ``iters`` rounds from the all-ones micro seed, renormalized each
    round to max |component| = 1e6.  Every multiply is a broadcast-
    scale join on <= dim^2 rows.  Returns (i, bv) in micro-units.
    Shared by the raw-moment and centered (ABTT) entries — the Gram is
    the only part that differs."""

    def trunc_div(a, d):
        return ((a - a % d) / d).cast("bigint")

    b = spark.range(_PCA_DIM).select(
        F.col("id").cast("int").alias("i"),
        F.lit(1_000_000).cast("bigint").alias("bv"))
    for _ in range(iters):
        m = (g.join(F.broadcast(b.select(F.col("i").alias("j"),
                                         "bv")), "j")
             .groupBy("i")
             .agg(F.sum(F.col("gv") * F.col("bv")).cast("bigint")
                  .alias("mv")))
        mx = m.agg(F.max(F.abs(F.col("mv"))).alias("mx"))
        b = (m.crossJoin(F.broadcast(mx))
             .select("i", trunc_div(F.col("mv") * 1_000_000,
                                    F.col("mx")).alias("bv")))
    return b


# ---------------------------------------------------------------------------
# Round 6: bucketed tables — the shuffle-free co-located join
# ---------------------------------------------------------------------------

_BUCKETS = 8


def _bucketed_table(spark: SparkSession, sf_dir: str, src: str,
                    key: str, cols: list[str]) -> str:
    """Materialize ``src`` as an external BUCKETED table (hash-bucketed
    and sorted on ``key``, one file per bucket) and return its
    session-catalog name.  Reuses the on-disk artifact when fresh AND
    already registered; the one-time layout cost is the price of every
    subsequent join on ``key`` running shuffle-free."""
    import re as _re
    tag = _re.sub(r"[^A-Za-z0-9]+", "_", sf_dir.strip("/"))
    name = f"bkt_{src}_{tag}"
    loc = _artifact_path(sf_dir, f"bucketed_{src}")
    if (spark.catalog.tableExists(name)
            and _artifact_fresh(loc, f"{sf_dir}/{src}.parquet")):
        return name
    df = _t(spark, sf_dir, src).select(*cols)
    # numPartitions == numBuckets with the same hash -> each write task
    # holds exactly one bucket: one file per bucket, sorted, so the
    # join needs neither exchange nor (ideally) sort
    (df.repartition(_BUCKETS, F.col(key))
     .write.bucketBy(_BUCKETS, key).sortBy(key)
     .option("path", loc).mode("overwrite").format("parquet")
     .saveAsTable(name))
    return name


@register("bucketed_join_zero_shuffle", """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""")
def bucketed_join_zero_shuffle(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """The co-located fact-fact join: both sides live as BUCKETED
    tables (hash-bucketed + sorted on the join key, equal bucket
    counts), so the SortMergeJoin consumes the on-disk distribution
    directly — ZERO exchanges under the join (plan-pinned), and with
    one sorted file per bucket the sort nodes are satisfied by the
    layout too.  The ``merge`` hint keeps the demo honest at test
    scale (Catalyst would otherwise broadcast the 15k-row orders side
    and never exercise the bucketed path; at 100 TB neither side
    broadcasts and bucketing IS the plan).

    This is the warehouse layout decision the z-order tier's cousin:
    pay one layout shuffle at WRITE time, then every repeated join /
    aggregation on the bucket key — the daily fact-to-fact
    reconciliation, the incremental merge — runs shuffle-free.  The
    bucketed artifacts re-materialize only when stale (mtime vs
    source), mirroring a production table that is bucketed once at
    ingest."""
    lt = _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey",
                         ["l_orderkey", "l_extendedprice"])
    ot = _bucketed_table(spark, sf_dir, "orders", "o_orderkey",
                         ["o_orderkey", "o_orderpriority"])
    li = spark.table(lt)
    orders = spark.table(ot).hint("merge")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum(F.round(F.col("l_extendedprice") * 100)
                       .cast("bigint")).cast("bigint")
                 .alias("price_cents")))


# ---------------------------------------------------------------------------
# Round 6: hard-negative mining for contrastive retrieval training
# ---------------------------------------------------------------------------


_HARDNEG_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS qlab, v AS qv
      FROM e WHERE vec_id < 20),
p AS (SELECT query_id, qlab, vec_id AS cand_id, label AS neg_label,
             list_inner_product(qv, v)
             / (sqrt(list_inner_product(qv, qv))
                * sqrt(list_inner_product(v, v))) AS sim
      FROM q JOIN e ON query_id != vec_id),
pos AS (SELECT query_id, max(sim) AS pos_sim
        FROM p WHERE qlab = neg_label GROUP BY query_id),
neg AS (SELECT p.query_id, cand_id, neg_label, sim
        FROM p JOIN pos USING (query_id)
        WHERE qlab != neg_label AND sim < 0.95::DOUBLE * pos_sim),
r AS (SELECT query_id, cand_id, neg_label, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, cand_id) AS rk
      FROM neg)
SELECT query_id, CAST(rk AS INTEGER) AS rank, cand_id, neg_label,
       round(sim, 3) AS sim
FROM r WHERE rk <= 5
"""


@register("hardneg_mining_topk", _HARDNEG_ORACLE)
def hardneg_mining_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the training-batch construction step for
    contrastive retrieval models (DPR / SimCSE shape): for each of the
    20 labeled anchors, the 5 most-similar DIFFERENT-label vectors,
    with the standard denoising margin — candidates scoring >= 95% of
    the anchor's best same-label similarity are excluded as probable
    false negatives rather than served as training signal.  On this
    corpus the margin is live, not decorative: it drops ~2% of the
    cross-label candidates (192 of 9019 pairs at sf0.01).

    Scale: anchors broadcast; the corpus is scanned twice (a pos_sim
    reduction and the filtered ranking pass) and never shuffled — see
    ``similarity.hard_negative_topk``.  Thresholding on raw-double
    sims follows the established `dedup_embedding_neardup` pattern:
    both engines evaluate the identical left-to-right dot-product,
    so the comparison is replay-stable."""
    e = _emb(spark, sf_dir)
    return sim.hard_negative_topk(e, e.where(F.col("vec_id") < 20), k=5,
                                  margin=0.95)


@register("hardneg_mining_topk_np", _HARDNEG_ORACLE)  # exact: shared oracle
def hardneg_mining_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throughput tier of `hardneg_mining_topk` (shared oracle): the
    margin ceiling broadcasts with the anchor matrix, each Arrow batch
    mines its LOCAL top-k with one NumPy matmul + mask, and the global
    window ranks batches x anchors x k rows — the filtered pair
    relation never shuffles.  See ``similarity.hard_negative_topk_np``."""
    e = _emb(spark, sf_dir)
    return sim.hard_negative_topk_np(e, e.where(F.col("vec_id") < 20), k=5,
                                     margin=0.95)


# ---------------------------------------------------------------------------
# Round 6: KMV distinct sketch — mergeable set-cardinality + overlap
# ---------------------------------------------------------------------------

_KMV_K = 128
_KMV_KS = (_KMV_K - 1) * (1 << 40)  # (k-1) * SPACE, the estimator numerator


def _kmv_pairs_prologue() -> str:
    """Shared CTE prologue of the KMV pairwise reports (overlap and
    A-not-B): per-source sketches (``skt``), per-source saturation
    stats and estimates (``agg``/``est``), the source pairs, and the
    merged union-window sketch (``msk``).  ONE definition so the two
    oracles can never drift on the sketch/merge derivation (r9 review
    finding); an entry that doesn't reference ``est`` simply drops it
    (unreferenced plain CTEs aren't computed)."""
    k, ks = _KMV_K, _KMV_KS
    td = _pca_trunc_div_sql
    return f"""s AS (SELECT source, unnest({dd.shingles_sql('text')}) AS sh
           FROM documents),
h AS (SELECT DISTINCT source,
             {dd.md5_long_sql('sh')} % {1 << 40} AS h FROM s),
r AS (SELECT source, h, row_number() OVER (PARTITION BY source
                                           ORDER BY h) AS rk FROM h),
skt AS (SELECT source, h FROM r WHERE rk <= {k}),
agg AS (SELECT source, count(*) AS n_k, max(h) AS h_k
        FROM skt GROUP BY source),
est AS (SELECT source, CASE WHEN n_k < {k} THEN n_k
                            ELSE {td(str(ks), 'h_k')} END AS est_d
        FROM agg),
pairs AS (SELECT a.source AS sa, b.source AS sb
          FROM agg a JOIN agg b ON a.source < b.source),
m AS (SELECT DISTINCT sa, sb, h
      FROM pairs p JOIN skt ON skt.source = p.sa OR skt.source = p.sb),
mr AS (SELECT sa, sb, h, row_number() OVER (PARTITION BY sa, sb
                                            ORDER BY h) AS rk FROM m),
msk AS (SELECT sa, sb, h FROM mr WHERE rk <= {k})"""


def _kmv_pair_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, sk_a, sk_b, u, ku): per-source KMV
    sketches (built in ONE corpus aggregation, checkpointed — ~20
    rows) self-paired with the merged union-window sketch — the shared
    Spark prologue of the overlap and A-not-B reports, twin of
    :func:`_kmv_pairs_prologue` (one definition so the two entries can
    never drift on the sketch/merge derivation)."""
    docs = _docs(spark, sf_dir)
    el = docs.select("source",
                     F.explode(dd.word_shingles("text")).alias("sh"))
    skd = _track_ckpt(sk.kmv_sketch(el, "source", "sh", k=_KMV_K)
                      .localCheckpoint(eager=True))  # ~20 rows
    a = skd.select(F.col("source").alias("source_a"),
                   F.col("sketch").alias("sk_a"))
    b = skd.select(F.col("source").alias("source_b"),
                   F.col("sketch").alias("sk_b"))
    return (a.join(b, F.col("source_a") < F.col("source_b"))
            .withColumn("u", sk.kmv_merge(F.col("sk_a"), F.col("sk_b"),
                                          k=_KMV_K))
            .withColumn("ku", F.size("u").cast("bigint")))


# ---------------------------------------------------------------------------
# Round 6: ABTT embedding post-processing (all-but-the-top)
# ---------------------------------------------------------------------------


def _abtt_oracle_sql() -> str:
    dim, iters = _PCA_DIM, _PCA_ITERS
    td = _pca_trunc_div_sql
    return f"""
WITH v AS (SELECT vec_id, label,
                  list_transform(embedding::DOUBLE[],
                    x -> CAST(round(x * 1000) AS BIGINT)) AS v
           FROM embeddings),
el AS (SELECT vec_id, label, unnest(v) AS x,
              unnest(range(0, len(v))) AS i FROM v),
st AS (SELECT i, CAST(sum(x) AS BIGINT) AS s, count(*) AS n
       FROM el GROUP BY i),
mu AS (SELECT i, {td('s', 'n')} AS m FROM st),
ce AS (SELECT vec_id, label, el.i AS i, x - m AS c
       FROM el JOIN mu USING (i)),
graw AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.c * b.c) AS BIGINT) AS gs
         FROM ce a JOIN ce b USING (vec_id) GROUP BY a.i, b.i),
g AS (SELECT i, j, {td('gs', '1000')} AS gv FROM graw),
b0 AS (SELECT i, CAST(1000000 AS BIGINT) AS bv
       FROM (SELECT unnest(range(0, {dim})) AS i) t)\
{_power_iter_sql_ctes(iters)},
den AS (SELECT CAST(sum(bv * bv) AS BIGINT) AS d FROM b{iters}),
pr AS (SELECT vec_id, CAST(sum(c * bv) AS BIGINT) AS num,
              CAST(sum(c * c) AS BIGINT) AS sqb
       FROM ce JOIN b{iters} bb ON ce.i = bb.i GROUP BY vec_id),
cp AS (SELECT ce.vec_id AS vec_id, ce.label AS label,
              c - {td(td('num', '1000') + ' * bv', td('d', '1000'))} AS c2,
              num, sqb, d
       FROM ce JOIN b{iters} bb ON ce.i = bb.i
               JOIN pr ON ce.vec_id = pr.vec_id
               CROSS JOIN den),
rowr AS (SELECT vec_id, label, CAST(sum(c2 * c2) AS BIGINT) AS sqa,
                max(sqb) AS sqb,
                {td('max(num)', td('max(d)', '1000000'))} AS proj_micro
         FROM cp GROUP BY vec_id, label)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       {td('sum(sqb)', 'count(*)')} AS avg_sq_before_milli2,
       {td('sum(sqa)', 'count(*)')} AS avg_sq_after_milli2,
       {td('sum(abs(proj_micro))', 'count(*)')} AS avg_abs_proj_micro
FROM rowr GROUP BY label
"""


@register("embedding_abtt_whiten", _abtt_oracle_sql())
def embedding_abtt_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABTT post-processing (Mu & Viswanath 2018, "All-but-the-Top"):
    mean-center the embedding corpus, find the dominant principal
    direction of the CENTERED data (power iteration on the centered
    Gram — the covariance direction, not the raw second moment),
    remove each vector's projection onto it, and
    report the per-label anisotropy reduction: mean squared norm
    before/after removal and the mean |projection| — the standard fix
    for the "one dominant direction eats the cosine" pathology of
    learned embeddings.

    Scale shape — three corpus passes, all partial-agg or map-only:
    (1) per-position sum/count -> the 64-row truncated-milli mean;
    (2) the centered Gram (posexplode outer product, dim^2 groups
    through the shuffle regardless of corpus size) feeding the
    dim-bounded power iteration; (3) ONE map-only pass computing
    projection, removal, and both norms per row as array expressions
    against the broadcast (mean, direction, norm) artifacts — no
    driver-side collect; the 64-element mean and direction ride a
    1-row crossJoin broadcast.  Exact integers throughout: milli
    centering (truncation error below the embedding quantization
    itself), kilo-unit Gram (documented ~1e11-vector BIGINT bound),
    and the engine-portable truncated division for every normalize /
    removal step, so the oracle replays all three passes and the
    iteration bit-for-bit."""
    e = _emb(spark, sf_dir)

    def trunc_div(a, d):
        return ((a - a % d) / d).cast("bigint")

    v = e.select(
        "vec_id", "label",
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: F.round(x * 1000).cast("bigint")).alias("v"))
    el = v.select("vec_id", F.posexplode("v").alias("i", "x"))
    mu = (el.groupBy("i")
          .agg(F.sum("x").cast("bigint").alias("s"),
               F.count(F.lit(1)).alias("n"))
          .select("i", trunc_div(F.col("s"), F.col("n")).alias("m")))
    mu_arr = mu.agg(F.transform(
        F.array_sort(F.collect_list(F.struct("i", "m"))),
        lambda t: t["m"]).alias("mu"))
    c = (v.crossJoin(F.broadcast(mu_arr))
         .select("vec_id", "label",
                 F.zip_with("v", "mu", lambda x, m: x - m).alias("c")))
    # materialize the centered corpus ONCE: it feeds the Gram pass AND
    # the removal pass, and both the quantize transform and the
    # centering zip_with are interpreted HOFs — left lazy they replay
    # per reference (optimization round r13; the containment-verify
    # lesson).  At scale this is the persist-vs-recompute call of
    # guide §5: two downstream passes over an expression-heavy
    # projection earn the materialization.
    c = _track_ckpt(c.localCheckpoint(eager=True))
    cel = c.select("vec_id", F.posexplode("c").alias("i", "cx"))
    g = (cel.alias("a").join(cel.alias("b"), "vec_id")
         .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
         .agg(F.sum(F.col("a.cx") * F.col("b.cx")).cast("bigint")
              .alias("gs"))
         .select("i", "j", trunc_div(F.col("gs"), F.lit(1000))
                 .alias("gv")))
    g = _track_ckpt(g.localCheckpoint(eager=True))  # dim^2 = 4096 rows
    b = _power_iteration(spark, g, _PCA_ITERS)
    bd = b.agg(
        F.transform(F.array_sort(F.collect_list(F.struct("i", "bv"))),
                    lambda t: t["bv"]).alias("b"),
        F.sum(F.col("bv") * F.col("bv")).cast("bigint").alias("d"))
    zero = F.lit(0).cast("bigint")
    w = (c.crossJoin(F.broadcast(bd))
         .select("label", "c", "b", "d",
                 F.aggregate(F.zip_with("c", "b", lambda ci, bi: ci * bi),
                             zero, lambda acc, t: acc + t).alias("num"),
                 F.aggregate(F.transform("c", lambda ci: ci * ci),
                             zero, lambda acc, t: acc + t).alias("sqb")))
    c2 = F.zip_with(
        "c", "b",
        lambda ci, bi: ci - trunc_div(
            trunc_div(F.col("num"), F.lit(1000)) * bi,
            trunc_div(F.col("d"), F.lit(1000))))
    r = w.select(
        "label", "sqb",
        # coefficient in micro-units (removal_i = coeff * b_i / 1e6):
        # num/(d/1e6) rather than num*1e6/d, which would overflow BIGINT;
        # d >= 1e12 (the renormalized max component alone), so d/1e6 >= 1e6
        trunc_div(F.col("num"),
                  trunc_div(F.col("d"), F.lit(1_000_000)))
        .alias("proj_micro"),
        F.aggregate(F.transform(c2, lambda t: t * t), zero,
                    lambda acc, t: acc + t).alias("sqa"))
    n = F.count(F.lit(1))
    return (r.groupBy("label")
            .agg(n.alias("n_vecs"),
                 trunc_div(F.sum("sqb"), n).alias("avg_sq_before_milli2"),
                 trunc_div(F.sum("sqa"), n).alias("avg_sq_after_milli2"),
                 trunc_div(F.sum(F.abs(F.col("proj_micro"))), n)
                 .alias("avg_abs_proj_micro")))


# ---------------------------------------------------------------------------
# Round 6: BPE tokenizer — multi-round trainer + encode serve
# ---------------------------------------------------------------------------

from datafusion_monoid_spark.operators import bpe as bpem


#: the arriving-batch split of the incremental encode entry: documents
#: with doc_id % MOD == 0 are "today's batch" (the
#: dedup_incremental_newbatch convention — 11 is coprime with the
#: source-blocked id layout, so the batch spans every source); the
#: model trains on the rest (the standing corpus)
_BPE_NEWBATCH_MOD = 11


def _bpe_vocab(spark: SparkSession, sf_dir: str,
               holdout: bool = False) -> DataFrame:
    """(tok, cnt, seg): the weighted token vocabulary with initial
    character segmentation — the ONE corpus-sized pass of BPE
    training; every trainer round after this touches only this
    model-sized relation.  ``holdout`` trains on the standing corpus
    only (the arriving batch excluded)."""
    docs = _docs(spark, sf_dir)
    if holdout:
        docs = docs.where(F.col("doc_id") % _BPE_NEWBATCH_MOD != 0)
    return (docs.select(F.explode(dd.tokens("text")).alias("tok"))
            .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
            .select("tok", "cnt",
                    bpem.padded_seg(F.col("tok")).alias("seg")))


def _fit_bpe_persisted(spark: SparkSession, sf_dir: str,
                       overwrite: bool = False,
                       holdout: bool = False) -> tuple[str, str]:
    """Train the BPE merges and persist BOTH model artifacts — the
    merge table and the final vocabulary segmentation (token ->
    symbols) — as parquet; returns their paths.  Vocabulary-bounded
    output, so a serve job broadcasts it (same contract as the LM and
    IVF fits)."""
    tag = "_hold" if holdout else ""
    mpath = _artifact_path(sf_dir, f"bpe_merges{tag}")
    vpath = _artifact_path(sf_dir, f"bpe_vocab_seg{tag}")
    src = f"{sf_dir}/documents.parquet"
    if (not overwrite and _artifact_fresh(mpath, src)
            and _artifact_fresh(vpath, src)):
        return mpath, vpath
    merges, fin = bpem.train(_bpe_vocab(spark, sf_dir, holdout=holdout))
    merges.coalesce(1).write.mode("overwrite").parquet(mpath)
    fin.coalesce(1).write.mode("overwrite").parquet(vpath)
    # both model artifacts are on disk — the final round's checkpoint
    # blocks are dead (serves read the parquet back, never this frame)
    from datafusion_monoid_spark.plans.inspect import \
        release_local_checkpoint
    release_local_checkpoint(fin)
    return mpath, vpath


def _bpe_ctes(rounds: int = bpem.BPE_ROUNDS, where: str = "") -> str:
    """Unrolled BPE trainer rounds as chained CTEs — the tokenizer
    twin of ``_kmeans_ctes``.  Ends at ``bv{rounds}`` (the final
    vocabulary segmentation) with each round's winning merge in
    ``bm{r}``; composable.  MATERIALIZED on the per-round vocabulary
    (referenced by both the next round and the pair count) and on the
    1-row merge — the same inline-re-evaluation economics as the
    k-core oracle."""
    seg0 = bpem.PADDED_SEG_SQL.format(tok="tok")
    parts = [f"""bv0 AS MATERIALIZED (
  SELECT tok, cnt, {seg0} AS seg FROM (
    SELECT t AS tok, count(*) AS cnt FROM (
      SELECT unnest({_TOKS}) AS t FROM documents {where}) GROUP BY t))"""]
    for r in range(rounds):
        parts.append(f""",
bp{r} AS (SELECT x, y, sum(cnt) AS c FROM (
    SELECT cnt,
           unnest(list_transform(range(1, len(s)), i -> s[i])) AS x,
           unnest(list_transform(range(1, len(s)), i -> s[i + 1])) AS y
    FROM (SELECT cnt, string_split(trim(seg), '  ') AS s FROM bv{r}))
  GROUP BY x, y),
bm{r} AS MATERIALIZED (SELECT x, y, c FROM bp{r}
                       ORDER BY c DESC, x, y LIMIT 1),
bv{r + 1} AS MATERIALIZED (
  SELECT tok, cnt,
         CASE WHEN m.x IS NULL THEN seg
              ELSE replace(seg, ' ' || m.x || '  ' || m.y || ' ',
                           ' ' || m.x || m.y || ' ') END AS seg
  FROM bv{r} LEFT JOIN bm{r} m ON TRUE)""")
    return "".join(parts)


def _bpe_train_oracle_sql(rounds: int = bpem.BPE_ROUNDS) -> str:
    sels = [f"""SELECT CAST({r + 1} AS INTEGER) AS rk,
       x AS left_sym, y AS right_sym, CAST(c AS BIGINT) AS pair_cnt
FROM bm{r}""" for r in range(rounds)]
    return f"WITH {_bpe_ctes(rounds)}\n" + "\nUNION ALL ".join(sels)


@register("bpe_train_merges", _bpe_train_oracle_sql())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE TRAINER (Sennrich et al. 2016) — the multi-round
    companion of `bpe_top_merges` (which computes one round of
    candidates): learn the 6 highest-value merges, where each round
    re-counts adjacent symbol pairs over the merged vocabulary, so
    later rounds merge the OUTPUTS of earlier ones (subword units
    grow).  Returns the ordered merge table — the tokenizer model.

    Scale: the corpus contributes exactly ONE shuffle (the token
    vocabulary build); every round is vocabulary-sized — a pair-count
    partial agg, a top-1 TakeOrdered, and a map-only replace against
    the 1-row merge broadcast (see ``operators/bpe.py`` for the
    doubled-delimiter representation that makes one replace() pass
    equal greedy BPE application in both engines).  Both model
    artifacts persist for the serve half (`bpe_encode_stats`)."""
    mpath, _ = _fit_bpe_persisted(spark, sf_dir)
    return (spark.read.parquet(mpath)
            .select("rk", "left_sym", "right_sym", "pair_cnt"))


def _bpe_encode_oracle_sql(rounds: int = bpem.BPE_ROUNDS) -> str:
    return f"""
WITH {_bpe_ctes(rounds)},
model AS (SELECT tok, len(string_split(trim(seg), '  ')) AS n_sym
          FROM bv{rounds}),
corpus AS (SELECT source, unnest({_TOKS}) AS tok FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(n_sym) AS BIGINT) AS n_symbols,
       CAST((sum(n_sym) * 1000000 - (sum(n_sym) * 1000000) % count(*))
            / count(*) AS BIGINT) AS avg_symbols_micro
FROM corpus JOIN model USING (tok) GROUP BY source
"""


@register("bpe_encode_stats", _bpe_encode_oracle_sql())
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE SERVE half: encode the corpus under the trained merges
    and report per-source token/symbol totals and mean symbols per
    token (micro-units) — the sequence-length accounting a packing or
    cost model runs before training (fewer symbols per token = the
    vocabulary compressing that source better).

    Scale: the model is the persisted (token -> symbol count) table —
    vocabulary-bounded, BROADCAST to the corpus token stream; encoding
    is one map-side join + one partial agg, no shuffle of text.  A new
    corpus batch would left-join with a character-count fallback for
    OOV tokens; here corpus == training corpus, so the join is
    complete by construction."""
    _, vpath = _fit_bpe_persisted(spark, sf_dir)
    model = (spark.read.parquet(vpath)
             .select("tok", F.size(bpem.seg_symbols(F.col("seg")))
                     .alias("n_sym")))
    corpus = _docs(spark, sf_dir).select(
        "source", F.explode(dd.tokens("text")).alias("tok"))
    n = F.count(F.lit(1))
    return (corpus.join(F.broadcast(model), "tok")
            .groupBy("source")
            .agg(n.cast("bigint").alias("n_tokens"),
                 F.sum("n_sym").cast("bigint").alias("n_symbols"),
                 _idiv(F.sum("n_sym") * 1_000_000, n)
                 .alias("avg_symbols_micro")))


def _bpe_newbatch_oracle_sql(rounds: int = bpem.BPE_ROUNDS) -> str:
    mod = _BPE_NEWBATCH_MOD
    seg0 = bpem.PADDED_SEG_SQL.format(tok="tok")
    nvs = "".join(f""",
nv{r + 1} AS MATERIALIZED (
  SELECT tok, replace(seg, ' ' || x || '  ' || y || ' ',
                      ' ' || x || y || ' ') AS seg
  FROM nv{r} CROSS JOIN bm{r})""" for r in range(rounds))
    return f"""
WITH {_bpe_ctes(rounds, where=f"WHERE doc_id % {mod} <> 0")},
nb AS (SELECT source, unnest({_TOKS}) AS tok FROM documents
       WHERE doc_id % {mod} = 0),
nv0 AS (SELECT tok, {seg0} AS seg FROM (SELECT DISTINCT tok FROM nb)){nvs},
model AS (SELECT nv.tok, len(string_split(trim(nv.seg), '  ')) AS n_sym,
                 CASE WHEN ov.tok IS NULL THEN 1 ELSE 0 END AS oov
          FROM nv{rounds} nv
          LEFT JOIN (SELECT DISTINCT tok FROM bv0) ov ON nv.tok = ov.tok)
SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS n_oov_tokens,
       CAST(sum(n_sym) AS BIGINT) AS n_symbols,
       CAST((sum(n_sym) * 1000000 - (sum(n_sym) * 1000000) % count(*))
            / count(*) AS BIGINT) AS avg_symbols_micro
FROM nb JOIN model USING (tok) GROUP BY source
"""


@register("bpe_encode_newbatch", _bpe_newbatch_oracle_sql())
def bpe_encode_newbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental BPE serve — encode an ARRIVING batch (doc_id %
    11 == 0, the daily-ingest stand-in) under merges trained on the
    STANDING corpus only, without retraining: the learned merge table
    fully determines any token's segmentation (including
    out-of-vocabulary tokens — they char-segment and take whatever
    merges apply), so serving is a FOLD of the 6 persisted merges over
    the batch's distinct tokens.  Reports per-source token/OOV/symbol
    accounting — the coverage signal that tells an operator when the
    tokenizer needs refitting (rising OOV share = vocabulary drift).

    Scale: the merge artifact is 6 rows (crossJoin broadcast); the
    fold runs over the batch's DISTINCT tokens (vocabulary-sized, one
    dedup shuffle of the batch — never the corpus), the OOV check is a
    broadcast left join against the persisted trained vocabulary, and
    the batch token stream joins the resulting per-token model
    broadcast — one partial agg, no retrain, no corpus access at all
    (mirrors `dedup_incremental_newbatch`: ingest work is
    batch-sized)."""
    mpath, vpath = _fit_bpe_persisted(spark, sf_dir, holdout=True)
    marr = (spark.read.parquet(mpath)
            .agg(F.array_sort(F.collect_list(
                F.struct("rk", "left_sym", "right_sym"))).alias("ms")))
    nb = (_docs(spark, sf_dir)
          .where(F.col("doc_id") % _BPE_NEWBATCH_MOD == 0)
          .select("source", F.explode(dd.tokens("text")).alias("tok")))
    seg = F.aggregate(
        F.col("ms"), bpem.padded_seg(F.col("tok")),
        lambda acc, m: F.replace(
            acc,
            F.concat(F.lit(" "), m["left_sym"], F.lit("  "),
                     m["right_sym"], F.lit(" ")),
            F.concat(F.lit(" "), m["left_sym"], m["right_sym"],
                     F.lit(" "))))
    old_vocab = spark.read.parquet(vpath).select("tok")
    model = (nb.select("tok").distinct()
             .crossJoin(F.broadcast(marr))
             .select("tok",
                     F.size(bpem.seg_symbols(seg)).alias("n_sym"))
             .join(F.broadcast(old_vocab.withColumn("__in", F.lit(1))),
                   "tok", "left")
             .select("tok", "n_sym",
                     F.when(F.col("__in").isNull(), 1).otherwise(0)
                     .alias("oov")))
    n = F.count(F.lit(1))
    return (nb.join(F.broadcast(model), "tok")
            .groupBy("source")
            .agg(n.cast("bigint").alias("n_tokens"),
                 F.sum("oov").cast("bigint").alias("n_oov_tokens"),
                 F.sum("n_sym").cast("bigint").alias("n_symbols"),
                 _idiv(F.sum("n_sym") * 1_000_000, n)
                 .alias("avg_symbols_micro")))


from datafusion_monoid_spark.operators import unigram as ugm


def _unigram_seg_ctes(prefix: str, pieces_cte: str) -> str:
    """One greedy longest-match segmentation pass as chained CTEs —
    ``ugm.MAX_TOK`` unrolled steps over the ``uvoc`` vocabulary against
    the ``pieces_cte`` table; ends with ``{prefix}ch`` (the (tok, cnt,
    piece, p_micro) choice relation).  The SQL twin of
    ``unigram.greedy_segment``."""
    w, maxp = ugm.MAX_TOK, ugm.MAXP
    parts = [f"""
{prefix}g0 AS (SELECT tok, cnt, 0 AS pos FROM uvoc)"""]
    for k in range(1, w + 1):
        parts.append(f""",
{prefix}s{k} AS MATERIALIZED (
  SELECT tok, cnt, pos, l, piece, p_micro FROM (
    SELECT c.tok, c.cnt, c.pos, c.l, p.piece, p.p_micro,
           row_number() OVER (PARTITION BY c.tok
                              ORDER BY c.l DESC, p.piece) AS rn
    FROM (SELECT tok, cnt, pos, l,
                 substr(tok, CAST(pos + 1 AS INTEGER),
                        CAST(l AS INTEGER)) AS cand
          FROM (SELECT tok, cnt, pos,
                       CAST(unnest(range(1, {maxp} + 1)) AS INTEGER) AS l
                FROM {prefix}g{k - 1} WHERE pos < length(tok))
          WHERE pos + l <= length(tok)) c
    JOIN {pieces_cte} p ON c.cand = p.piece) WHERE rn = 1),
{prefix}g{k} AS (SELECT tok, cnt, pos + l AS pos FROM {prefix}s{k})""")
    ch = "\nUNION ALL ".join(
        f"SELECT tok, cnt, piece, p_micro FROM {prefix}s{k}"
        for k in range(1, w + 1))
    parts.append(f""",
{prefix}ch AS MATERIALIZED ({ch})""")
    return "".join(parts)


def _unigram_ctes(rounds: int = ugm.ROUNDS) -> str:
    """Unrolled unigram-LM trainer (Kudo 2018, hard-EM with exact
    micro-integer likelihoods) as chained CTEs — ends at
    ``up{rounds}`` (the trained piece table (piece, cnt, p_micro));
    composable, the tokenizer twin of ``_bpe_ctes``."""
    maxp, vmax = ugm.MAXP, ugm.VMAX
    parts = [f"""uvoc AS MATERIALIZED (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest({_TOKS}) AS tok FROM documents) GROUP BY tok),
ucand AS MATERIALIZED (
  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
    SELECT substr(tok, CAST(st AS INTEGER), CAST(l AS INTEGER)) AS piece,
           cnt
    FROM (SELECT tok, cnt, st,
                 CAST(unnest(range(1, {maxp} + 1)) AS INTEGER) AS l
          FROM (SELECT tok, cnt,
                       CAST(unnest(range(1, length(tok) + 1)) AS INTEGER)
                         AS st
                FROM uvoc))
    WHERE st + l - 1 <= length(tok)) GROUP BY piece),
uchars AS (SELECT piece, cnt FROM ucand WHERE length(piece) = 1),
up0c AS (SELECT piece, cnt FROM (
           SELECT piece, cnt FROM ucand WHERE length(piece) > 1
           ORDER BY cnt DESC, piece LIMIT {vmax})
         UNION ALL SELECT piece, cnt FROM uchars),
up0 AS MATERIALIZED (
  SELECT piece, cnt,
         (cnt * 1000000) // (SELECT sum(cnt) FROM up0c) AS p_micro
  FROM up0c)"""]
    for r in range(rounds):
        parts.append("," + _unigram_seg_ctes(f"u{r}", f"up{r}"))
        parts.append(f""",
uu{r} AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt
          FROM u{r}ch GROUP BY piece),
up{r + 1}c AS (
  SELECT c.piece, greatest(coalesce(u.cnt, 0), 1) AS cnt
  FROM uchars c LEFT JOIN uu{r} u USING (piece)
  UNION ALL
  SELECT piece, cnt FROM uu{r} WHERE length(piece) > 1),
up{r + 1} AS MATERIALIZED (
  SELECT piece, cnt,
         (cnt * 1000000) // (SELECT sum(cnt) FROM up{r + 1}c) AS p_micro
  FROM up{r + 1}c)""")
    return "".join(parts)


def _unigram_fit_oracle_sql(rounds: int = ugm.ROUNDS) -> str:
    return f"""
WITH {_unigram_ctes(rounds)}
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS INTEGER)
         AS rk,
       piece, CAST(cnt AS BIGINT) AS cnt, CAST(p_micro AS BIGINT)
         AS p_micro
FROM up{rounds}
"""


def _unigram_encode_oracle_sql(rounds: int = ugm.ROUNDS) -> str:
    return f"""
WITH {_unigram_ctes(rounds)},{_unigram_seg_ctes("uf", f"up{rounds}")},
uts AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_pieces,
               CAST(sum(p_micro) AS BIGINT) AS sum_p_micro
        FROM ufch GROUP BY tok),
uocc AS (SELECT source, unnest({_TOKS}) AS tok FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
       CAST((sum(n_pieces) * 1000000) // count(*) AS BIGINT)
         AS pieces_per_token_micro,
       CAST(sum(sum_p_micro) // sum(n_pieces) AS BIGINT)
         AS avg_piece_p_micro
FROM uocc JOIN uts USING (tok) GROUP BY source
"""


def _fit_unigram_persisted(spark: SparkSession, sf_dir: str,
                           overwrite: bool) -> str:
    """Train the unigram-LM piece table and persist it as the model
    artifact ((piece, cnt, p_micro) parquet, vocabulary-bounded);
    returns the path.  The serve entry reads this back — no refit."""
    path = _artifact_path(sf_dir, "unigram_pieces")
    src = f"{sf_dir}/documents.parquet"
    if not overwrite and _artifact_fresh(path, src):
        return path
    table = ugm.train_literal(ugm.token_vocab(_docs(spark, sf_dir)),
                              ckpt=_ckpt)
    (spark.createDataFrame(table, "piece string, cnt bigint, p_micro bigint")
     .coalesce(1).write.mode("overwrite").parquet(path))
    return path


@register("unigram_train_pieces", _unigram_fit_oracle_sql())
def unigram_train_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM subword tokenizer TRAINER (SentencePiece; Kudo 2018)
    — the BPE tier's companion, completing the two dominant tokenizer
    families a pipeline chooses between.  Hard-EM
    over the weighted token vocabulary with EXACT-INTEGER likelihoods
    (``p_micro = cnt * 1e6 DIV total`` — no log, so both engines
    replay fit bit-for-bit): candidates are all length<=4 substrings
    of vocabulary tokens (top-48 by count plus every character — the
    coverage guarantee); each round's E-step segments every vocabulary
    token greedy-longest-match-first against the current table (the
    WordPiece inference rule, the documented log-free stand-in for
    Kudo's Viterbi — longer matches dominate a unigram likelihood) as
    a fixed-depth unrolled join DAG, and the M-step re-counts pieces,
    prunes unused multi-char candidates and keeps characters with
    count>=1 smoothing.  Returns the ranked piece table; persisting
    the artifact is the serve entry's concern (below).

    Scale: the corpus contributes ONE shuffle (the vocabulary build);
    the model lives on the driver between rounds (<= 48 + alphabet
    rows — the ``bpe.train`` top-1 / literal-Lloyd economics), so each
    EM round is one job: a map-only literal-map segmentation fold over
    the vocabulary, a piece re-count partial agg, and a model-sized
    collect.  Persisting the artifact is the SERVE entry's concern
    (``_fit_unigram_persisted`` — the ``bpe_train_merges`` /
    ``_fit_bpe_persisted`` split): a parquet commit costs seconds of
    fsync on this box and re-training per bench rep would pay it
    thrice."""
    table = ugm.train_literal(ugm.token_vocab(_docs(spark, sf_dir)),
                              ckpt=_ckpt)
    # train_literal returns the model sorted (cnt desc, piece asc) —
    # the oracle's row_number order; rank in Python
    return spark.createDataFrame(
        [(i + 1, p, c, pm) for i, (p, c, pm) in enumerate(table)],
        "rk int, piece string, cnt bigint, p_micro bigint")


@register("unigram_encode_stats", _unigram_encode_oracle_sql())
def unigram_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM SERVE: encode the corpus under the persisted piece
    table (no refit in the serve path — the fit/serve split the ANN
    and BPE tiers follow).  The trained table segments the DISTINCT
    token vocabulary once (model-sized work); the corpus token stream
    then broadcast-joins the per-token stats — per source: tokens,
    pieces, pieces-per-token and mean piece likelihood, all exact
    micro-integers.  The compression ratio (pieces per token) and the
    likelihood level are the two signals that tell an operator the
    tokenizer fits the corpus — a rising ratio on new data is
    vocabulary drift, the refit trigger.

    Scale: corpus cost is one token explode + one broadcast join +
    one partial-agg shuffle; the segmentation chain never sees the
    corpus (it runs on the distinct-token vocabulary)."""
    path = _fit_unigram_persisted(spark, sf_dir, overwrite=False)
    table = [(r["piece"], int(r["cnt"]), int(r["p_micro"]))
             for r in spark.read.parquet(path).collect()]  # model-sized
    docs = _docs(spark, sf_dir)
    stats = ugm.encode_token_stats(ugm.token_vocab(docs), table)
    occ = docs.select("source", F.explode(dd.tokens("text")).alias("tok"))
    n = F.count(F.lit(1))
    return (occ.join(F.broadcast(stats), "tok")
            .groupBy("source")
            .agg(n.cast("bigint").alias("n_tokens"),
                 F.sum("n_pieces").cast("bigint").alias("n_pieces"),
                 _idiv(F.sum("n_pieces") * 1_000_000, n)
                 .alias("pieces_per_token_micro"),
                 _idiv(F.sum("sum_p_micro"), F.sum("n_pieces"))
                 .alias("avg_piece_p_micro")))


# ---------------------------------------------------------------------------
# Round 6: curation filter funnel + vocabulary drift
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = f"""
WITH t AS (
  SELECT source, lang, text, {_NORM} AS norm, {_TOKS} AS toks
  FROM documents
),
f AS (
  SELECT source, toks,
         (lang = 'en') AS s1,
         (length(text) BETWEEN 120 AND 20000) AS s2,
         (len(toks) >= 20) AS s3,
         (length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) * 20
            <= greatest(length(text), 1)) AS s4,
         (len(list_filter(toks, t -> list_contains(
             ['the','and','of','to','a','in','is','that'], t))) * 25
            >= greatest(len(toks), 1)) AS s5
  FROM t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       CAST(sum(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
       CAST(sum(CASE WHEN s1 AND s2 AND s3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tok,
       CAST(sum(CASE WHEN s1 AND s2 AND s3 AND s4 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_punct,
       CAST(sum(CASE WHEN s1 AND s2 AND s3 AND s4 AND s5 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clean,
       CAST(sum(CASE WHEN s1 AND s2 AND s3 AND s4 AND s5
                     THEN len(toks) ELSE 0 END) AS BIGINT)
         AS clean_tokens
FROM f GROUP BY source
"""


@register("curation_filter_funnel", _FUNNEL_ORACLE)
def curation_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter FUNNEL report — the acceptance accounting a curation
    pipeline publishes per ingest: for each source, how many documents
    survive each cumulative filter stage (language -> length -> token
    floor -> punctuation soup -> stopword presence), plus the
    surviving token budget.  Which stage eats a source's documents is
    the FIRST operational question when a mix target is missed; the
    cumulative (not independent) counts are what an operator needs to
    re-order or re-tune stages.

    Scale: every stage is a scalar expression on the row — the whole
    funnel is ONE map-only scan and ONE partial aggregation on source;
    thresholds compare in cross-multiplied exact integers (punct * 20
    <= chars, stopwords * 25 >= tokens), so no float ratio sits in the
    gate and both engines agree bit-for-bit."""
    d = _docs(spark, sf_dir)
    norm = dd.normalize_text("text")
    toks = dd.tokens("text")
    en = tx.LANG_MARKERS["en"]
    s1 = F.col("lang") == "en"
    s2 = F.length("text").between(120, 20000)
    s3 = F.size(toks) >= 20
    s4 = (F.length(F.regexp_replace(norm, r"[a-z0-9 ]", "")) * 20
          <= F.greatest(F.length("text"), F.lit(1)))
    s5 = (F.size(F.filter(toks, lambda t: t.isin(*en))) * 25
          >= F.greatest(F.size(toks), F.lit(1)))
    stages = [s1, s1 & s2, s1 & s2 & s3, s1 & s2 & s3 & s4,
              s1 & s2 & s3 & s4 & s5]
    names = ["n_lang", "n_len", "n_tok", "n_punct", "n_clean"]
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_docs")]
    aggs += [F.sum(c.cast("int")).cast("bigint").alias(n)
             for c, n in zip(stages, names)]
    aggs.append(F.sum(F.when(stages[-1], F.size(toks)).otherwise(0))
                .cast("bigint").alias("clean_tokens"))
    return d.groupBy("source").agg(*aggs)


_VOCAB_DRIFT_K = 20

_VOCAB_DRIFT_ORACLE = f"""
WITH occ AS (
  SELECT unnest({_TOKS}) AS tok, doc_id % {_BPE_NEWBATCH_MOD} = 0 AS is_new
  FROM documents
),
c AS (SELECT tok,
             CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS c_old,
             CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS c_new
      FROM occ GROUP BY tok),
tot AS (SELECT sum(c_old) AS n_old, sum(c_new) AS n_new FROM c)
SELECT tok, c_old, c_new,
       CAST(abs(c_new * n_old - c_old * n_new) AS BIGINT) AS drift_x
FROM c CROSS JOIN tot
ORDER BY drift_x DESC, tok LIMIT {_VOCAB_DRIFT_K}
"""


@register("vocab_drift_topk", _VOCAB_DRIFT_ORACLE)
def vocab_drift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between the standing corpus and the arriving
    batch (the `bpe_encode_newbatch` split): the tokens whose relative
    frequency moved most, ranked by the cross-multiplied exact-integer
    divergence ``|c_new * N_old - c_old * N_new|`` — zero iff the
    token's share is identical in both slices, no float division in
    the ranking.  The companion signal to the OOV share: OOV says the
    tokenizer is missing words; drift says the MIX changed (topic or
    source composition shift) even where coverage holds.

    Scale: one corpus scan -> one (token) partial agg with both
    slices as conditional sums; the totals aggregate the SAME grouped
    relation (ReusedExchange shares the shuffle) and ride a 1-row
    broadcast; ranking is TakeOrderedAndProject — per-partition top-k,
    never a global sort."""
    occ = _docs(spark, sf_dir).select(
        F.explode(dd.tokens("text")).alias("tok"),
        (F.col("doc_id") % _BPE_NEWBATCH_MOD == 0).alias("is_new"))
    c = occ.groupBy("tok").agg(
        F.sum(F.when(F.col("is_new"), 0).otherwise(1)).cast("bigint")
        .alias("c_old"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).cast("bigint")
        .alias("c_new"))
    tot = c.agg(F.sum("c_old").alias("n_old"),
                F.sum("c_new").alias("n_new"))
    return (c.crossJoin(F.broadcast(tot))
            .select("tok", "c_old", "c_new",
                    F.abs(F.col("c_new") * F.col("n_old")
                          - F.col("c_old") * F.col("n_new"))
                    .cast("bigint").alias("drift_x"))
            .orderBy(F.desc("drift_x"), "tok").limit(_VOCAB_DRIFT_K))


# ---------------------------------------------------------------------------
# Round 6: interval-overlap join (session concurrency)
# ---------------------------------------------------------------------------

_SESS_CTES = """
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
                   > 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
sess0 AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM flagged
),
sess AS (
  SELECT user_id, sid, min(sec) AS s_start, max(sec) AS s_end
  FROM sess0 GROUP BY user_id, sid
)"""

_SESS_OVERLAP_ORACLE = f"""
WITH {_SESS_CTES}
SELECT a.user_id AS u_lo, b.user_id AS u_hi,
       CAST(count(*) AS BIGINT) AS n_overlaps,
       CAST(sum(least(a.s_end, b.s_end) - greatest(a.s_start, b.s_start))
            AS BIGINT) AS overlap_s
FROM sess a JOIN sess b
  ON a.user_id < b.user_id AND a.s_start <= b.s_end AND b.s_start <= a.s_end
GROUP BY u_lo, u_hi
ORDER BY overlap_s DESC, n_overlaps DESC, u_lo, u_hi
LIMIT 20
"""


def _sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based (30 min) sessions as closed [s_start, s_end] epoch-second
    intervals — the shared input of the interval-overlap tier.  A lag +
    running-sum sessionization; the groupBy key
    (user_id, sid) is a superset of the window's partition key, so
    Catalyst satisfies it with the SAME hash distribution — one
    shuffle for sessionize + interval build."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("sec").over(w)
    new_s = F.when(prev.isNull() | ((F.col("sec") - prev) > 1800), 1) \
        .otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (e.select("user_id", "ts", "event_id", "sec",
                     new_s.alias("new_s"))
            .select("user_id",
                    F.sum("new_s").over(wsum).cast("bigint").alias("sid"),
                    "sec")
            .groupBy("user_id", "sid")
            .agg(F.min("sec").alias("s_start"), F.max("sec").alias("s_end")))


@register("session_overlap_topk", _SESS_OVERLAP_ORACLE)
def session_overlap_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session analysis: for every pair of users whose
    sessions overlap in time, the number of overlapping session pairs
    and the total overlapped seconds — top 20 pairs.  The interval x
    interval OVERLAP join is the relation Spark has no native operator
    for (as-of and range joins cover point-vs-interval only); the
    oracle states it as the declarative inequality join DuckDB's
    IEJoin executes directly.

    Scale: `jn.interval_overlap_join` buckets time into 600 s cells
    (~ the mean session length, so per-interval fan-out ~1), equi-joins
    on the cell — co-temporal candidates only, never all-pairs — and
    dedups pair multiplicity with the first-shared-bucket rule instead
    of a distinct, so the pair relation shuffles ONCE into the final
    aggregation.  Worst-case per-bucket cost is concurrency^2: at
    higher density shrink the width (more, smaller cells) — the knob
    trades fan-out rows for candidate precision, exactly like the
    range join's granularity."""
    s = _sessions(spark, sf_dir)
    pairs = jn.interval_overlap_join(s, s, "s_start", "s_end", width=600)
    return (pairs.where(F.col("user_id") < F.col("r_user_id"))
            .groupBy(F.col("user_id").alias("u_lo"),
                     F.col("r_user_id").alias("u_hi"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlaps"),
                 F.sum(F.least("s_end", F.col("r_s_end"))
                       - F.greatest("s_start", F.col("r_s_start")))
                 .cast("bigint").alias("overlap_s"))
            .orderBy(F.desc("overlap_s"), F.desc("n_overlaps"),
                     "u_lo", "u_hi")
            .limit(20))


# ---------------------------------------------------------------------------
# Round 6: Misra-Gries exact heavy hitters
# ---------------------------------------------------------------------------

_MG_K = 30

_MG_ORACLE = f"""
WITH occ AS (SELECT unnest({_TOKS}) AS tok FROM documents),
tot AS (SELECT CAST(sum(len({_TOKS})) AS BIGINT) AS n FROM documents),
c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM occ GROUP BY tok)
SELECT tok, cnt, CAST(cnt * 1000000 // n AS BIGINT) AS share_ppm
FROM c CROSS JOIN tot WHERE cnt * {_MG_K + 1} > n
"""


@register("mg_heavy_hitter_tokens", _MG_ORACLE)
def mg_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (tokens with share > 1/(k+1), k=30)
    by the two-pass Misra-Gries pattern: per-partition k-counter
    summaries nominate candidates, an exact count pass over ONLY the
    candidates decides — the distributed-exactness construction the
    one-pass sketch alone cannot give.  The oracle is the exact
    definition; the MG phase is invisible in the answer (partitioning
    changes WHICH extra candidates are checked, never the output —
    pinned in pytest).

    Scale: this is how you take exact heavy hitters at 100 TB without
    shuffling the vocabulary — the candidate relation is <= k x
    num_partitions rows (broadcast), the verify shuffle carries only
    candidate keys, and the denominator is a map-side sum of array
    sizes.  On this corpus (31-token vocabulary, near-uniform ~3.3%
    shares) k=30 < |vocab| forces real counter evictions while ~half
    the vocabulary clears the 1/31 threshold."""
    d = _docs(spark, sf_dir).select(dd.tokens("text").alias("toks"))
    return sk.mg_heavy_hitters(d, "toks", _MG_K)


# ---------------------------------------------------------------------------
# Round 6: exact order statistics without a global sort
# ---------------------------------------------------------------------------

_PCTL_QS = (500000, 900000, 990000)
_PCTL_B = 256

_PCTL_ORACLE = f"""
WITH v AS (SELECT l_extendedprice AS val FROM lineitem),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
r AS (SELECT val, row_number() OVER (ORDER BY val) AS rn FROM v),
qs AS (SELECT CAST(q_ppm AS BIGINT) AS q_ppm
       FROM (VALUES {', '.join(f'({q})' for q in _PCTL_QS)}) t(q_ppm))
SELECT q_ppm, val
FROM qs CROSS JOIN n JOIN r
  ON r.rn = greatest(1, (n.n * qs.q_ppm + 999999) // 1000000)
ORDER BY q_ppm
"""


def exact_percentiles_2pass(v: DataFrame, spark: SparkSession,
                            q_ppms: tuple[int, ...] = _PCTL_QS,
                            buckets: int = _PCTL_B) -> DataFrame:
    """EXACT nearest-rank percentiles of ``v.val`` (k-th smallest,
    k = max(1, ceil(n*q))) in two passes and NO global sort — the
    selection-algorithm answer to "exact p99 over 100 TB":

    * pass 1 buckets values into ``buckets`` equi-width cells (min/max
      ride a 1-row broadcast) and takes cumulative cell counts — a
      map-side partial agg; the 256-row running sum is driver-scale;
    * each quantile resolves to (cell, offset-within-cell); pass 2
      ranks ONLY the rows of the target cells — ~n/buckets rows per
      quantile shuffle into the rank window instead of n into a
      global sort.

    The bucketing floats never touch the answer: they only choose
    which cell is ranked exactly, so the k-th VALUE is returned
    arithmetic-untouched (hash-comparable across engines).  Ties need
    no tie-break — the k-th order statistic of a multiset is
    well-defined whatever order equal values rank in."""
    stats = v.agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                  F.min("val").alias("mn"), F.max("val").alias("mx"))
    # cell width derives from the CALLER's bucket count — a width tied
    # to the module default while indices clamp to ``buckets`` would
    # silently funnel the tail into the last cell at buckets != 256,
    # degrading the prune (answers stay exact either way)
    width = (F.col("mx") - F.col("mn")) / buckets
    cell = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(F.lit(buckets - 1),
                F.floor((F.col("val") - F.col("mn")) / width))) \
        .cast("bigint").alias("b")
    vb = v.crossJoin(F.broadcast(stats)).select("val", "n", cell)
    hist = vb.groupBy("b").agg(F.count(F.lit(1)).cast("bigint")
                               .alias("cnt"),
                               F.first("n").alias("n"))
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
    hist = hist.withColumn("cum", F.sum("cnt").over(wcum))
    qdf = spark.createDataFrame([(int(q),) for q in q_ppms],
                                "q_ppm long")
    k = F.greatest(F.lit(1).cast("bigint"),
                   F.expr("(n * q_ppm + 999999) DIV 1000000"))
    wfirst = Window.partitionBy("q_ppm").orderBy("b")
    targets = (qdf.crossJoin(F.broadcast(hist))
               .withColumn("k", k)
               .where(F.col("cum") >= F.col("k"))
               .withColumn("rn", F.row_number().over(wfirst))
               .where(F.col("rn") == 1)
               .select("q_ppm", "b",
                       (F.col("k") - (F.col("cum") - F.col("cnt")))
                       .alias("off")))
    wrank = Window.partitionBy("q_ppm").orderBy("val")
    return (vb.join(F.broadcast(targets), "b")
            .withColumn("rnk", F.row_number().over(wrank))
            .where(F.col("rnk") == F.col("off"))
            .select("q_ppm", "val")
            .orderBy("q_ppm"))


@register("exact_percentiles_price", _PCTL_ORACLE)
def exact_percentiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of lineitem extended price by histogram-prune
    selection (see :func:`exact_percentiles_2pass`); the oracle states
    the definition directly as a global row_number."""
    v = _t(spark, sf_dir, "lineitem") \
        .select(F.col("l_extendedprice").alias("val"))
    return exact_percentiles_2pass(v, spark)


# ---------------------------------------------------------------------------
# Round 6: OLS trend as a sufficient-statistics aggregation
# ---------------------------------------------------------------------------

_TREND_ORACLE = """
WITH m AS (
  SELECT n_name,
         CAST((year(o_orderdate)-1992)*12 + month(o_orderdate)-1 AS BIGINT)
           AS x,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name, x),
s AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x*y) AS BIGINT) AS sxy,
             CAST(sum(x*x) AS BIGINT) AS sxx
      FROM m GROUP BY n_name)
SELECT n_name, n AS n_months, sy AS revenue_cents,
       CAST(n*sxy - sx*sy AS BIGINT) AS slope_num,
       CAST(n*sxx - sx*sx AS BIGINT) AS slope_den
FROM s
"""


@register("trend_monthly_revenue", _TREND_ORACLE)
def trend_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue TREND: the OLS slope of monthly revenue over
    the month index, reported as the exact integer pair
    (slope_num, slope_den) = (nΣxy − ΣxΣy, nΣx² − (Σx)²) — the
    closed-form numerator/denominator, undivided so no float or
    engine-specific integer-division rule touches the hash (floor vs
    truncate differ on negative slopes).

    The point for THIS engine: regression is an AGGREGATION — the
    sufficient statistics (n, Σx, Σy, Σxy, Σx²) form a monoid (zero
    identity, componentwise sum), so the fit partial-aggregates
    map-side, merges associatively, and would stream/backfill exactly
    like every other monoid here.  One broadcast-dim join, one fact
    partial agg to (nation, month), one tiny second agg."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        ((F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1)
        .cast("bigint").alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"))
    c = F.broadcast(_t(spark, sf_dir, "customer")
                    .select("c_custkey", "c_nationkey"))
    n = F.broadcast(_t(spark, sf_dir, "nation")
                    .select("n_nationkey", "n_name"))
    m = (o.join(c, o.o_custkey == c.c_custkey)
         .join(n, c.c_nationkey == n.n_nationkey)
         .groupBy("n_name", "x")
         .agg(F.sum("cents").cast("bigint").alias("y")))
    s = m.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"))
    return s.select(
        "n_name", F.col("n").alias("n_months"),
        F.col("sy").alias("revenue_cents"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint").alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint").alias("slope_den"))


# ---------------------------------------------------------------------------
# Round 6: Johnson-Lindenstrauss projection distortion audit
# ---------------------------------------------------------------------------

_JL_K, _JL_D = 16, 64


def _jl_signs() -> list[list[int]]:
    """The deterministic +/-1 projection matrix (k x d), derived from
    md5 so both engines inline the SAME literals — the matrix is a
    CONSTANT of the query, not data."""
    import hashlib
    return [[1 if hashlib.md5(f"jl{j}_{i}".encode()).digest()[0] % 2 == 0
             else -1 for i in range(_JL_D)] for j in range(_JL_K)]


def _jl_oracle_sql() -> str:
    signs = _jl_signs()
    rows = ", ".join(f"({j}, {i}, {signs[j][i]})"
                     for j in range(_JL_K) for i in range(_JL_D))
    return f"""
WITH qi AS (
  SELECT vec_id, label,
         CAST(floor(unnest(embedding::DOUBLE[]) * 1000) AS BIGINT) AS q,
         unnest(range(0, len(embedding))) AS i
  FROM embeddings),
signs(j, i, s) AS (VALUES {rows}),
p AS (SELECT vec_id, label, j, CAST(sum(s * q) AS BIGINT) AS pj
      FROM qi JOIN signs USING (i) GROUP BY vec_id, label, j),
pn AS (SELECT vec_id, label, CAST(sum(pj * pj) AS BIGINT) AS pn
       FROM p GROUP BY vec_id, label),
qn AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS qn
       FROM qi GROUP BY vec_id),
r AS (SELECT label,
             CAST(pn * 1000000 // ({_JL_K} * qn) AS BIGINT) AS ratio_ppm
      FROM pn JOIN qn USING (vec_id))
SELECT CAST(label AS INTEGER) AS label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(ratio_ppm) AS BIGINT) AS sum_ratio_ppm,
       CAST(min(ratio_ppm) AS BIGINT) AS min_ratio_ppm,
       CAST(max(ratio_ppm) AS BIGINT) AS max_ratio_ppm
FROM r GROUP BY label
"""


@register("embedding_jl_distortion", _jl_oracle_sql())
def embedding_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction (64 -> 16 via a
    deterministic +/-1 sign matrix) with its honesty check: the
    per-vector norm-distortion ratio ||Pq||^2 / (k*||q||^2) in ppm
    (expectation exactly 1e6 for +/-1 projections), rolled up per
    label as n/sum/min/max.  Vectors quantize to exact milli-integers
    first, so every product is integer math both engines agree on
    bit-for-bit; magnitudes are overflow-checked for int64
    (|q|<=~5e3, |p_j|<=3.2e5, pn*1e6<=~2e18).

    Scale: the projection is the PQ-serve literal-expression pattern —
    the k x d matrix inlines as constant arrays, each output
    coordinate is one zip_with+aggregate over the vector, MAP-ONLY
    with zero joins and zero shuffles on the corpus; only the
    label-level rollup aggregates.  The oracle replays the identical
    matrix through a 1024-row VALUES relation."""
    signs = _jl_signs()
    emb = _emb(spark, sf_dir)
    q = F.expr("transform(cast(embedding as array<double>), "
               "x -> cast(floor(x * 1000) as bigint))")
    d = emb.select("vec_id", F.col("label").cast("int").alias("label"),
                   q.alias("q"))
    pj_cols = []
    for j in range(_JL_K):
        arr = "array(" + ",".join(f"{s}L" for s in signs[j]) + ")"
        pj_cols.append(F.expr(
            f"aggregate(zip_with(q, {arr}, (x, s) -> x * s), "
            f"0L, (acc, v) -> acc + v)").alias(f"p{j}"))
    qn = F.expr("aggregate(q, 0L, (acc, x) -> acc + x * x)").alias("qn")
    proj = d.select("vec_id", "label", qn, *pj_cols)
    pn = sum((F.col(f"p{j}") * F.col(f"p{j}") for j in range(1, _JL_K)),
             F.col("p0") * F.col("p0"))
    # integer DIV, not `/`: pn*1e6 exceeds 2^53, a double round-trip
    # would silently lose exactness
    ratio = (proj.withColumn("pn", pn)
             .select("label",
                     F.expr(f"pn * 1000000L DIV ({_JL_K} * qn)")
                     .cast("bigint").alias("ratio_ppm")))
    return ratio.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("ratio_ppm").cast("bigint").alias("sum_ratio_ppm"),
        F.min("ratio_ppm").cast("bigint").alias("min_ratio_ppm"),
        F.max("ratio_ppm").cast("bigint").alias("max_ratio_ppm"))


# ---------------------------------------------------------------------------
# Round 9: sketch set-difference, corpus novelty curve, tokenizer agreement
# ---------------------------------------------------------------------------


def _kmv_anotb_oracle_sql() -> str:
    k, ks = _KMV_K, _KMV_KS
    td = _pca_trunc_div_sql
    return f"""
WITH {_kmv_pairs_prologue()},
flags AS (SELECT msk.sa, msk.sb, msk.h,
                 pa.h IS NOT NULL AS in_a, pb.h IS NOT NULL AS in_b
          FROM msk
          LEFT JOIN skt pa ON pa.source = msk.sa AND pa.h = msk.h
          LEFT JOIN skt pb ON pb.source = msk.sb AND pb.h = msk.h),
cnt AS (SELECT sa, sb, count(*) AS ku, max(h) AS h_ku,
               sum(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END)
                 AS anotb_k,
               sum(CASE WHEN in_b AND NOT in_a THEN 1 ELSE 0 END)
                 AS bnota_k,
               sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS ka_u,
               sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS kb_u
        FROM flags GROUP BY sa, sb),
e AS (SELECT sa, sb, anotb_k, bnota_k, ka_u, kb_u, ku,
             CASE WHEN ku < {k} THEN ku
                  ELSE {td(str(ks), 'h_ku')} END AS est_u
      FROM cnt)
SELECT sa AS source_a, sb AS source_b,
       CAST(anotb_k AS BIGINT) AS anotb_k,
       CAST(bnota_k AS BIGINT) AS bnota_k,
       {td('anotb_k * est_u', 'ku')} AS est_a_not_b,
       {td('bnota_k * est_u', 'ku')} AS est_b_not_a,
       CASE WHEN ka_u = 0 THEN 0
            ELSE {td('anotb_k * 1000000', 'ka_u')} END
         AS novelty_a_micro,
       CASE WHEN kb_u = 0 THEN 0
            ELSE {td('bnota_k * 1000000', 'kb_u')} END
         AS novelty_b_micro
FROM e
"""


@register("kmv_anotb_novelty", _kmv_anotb_oracle_sql())
def kmv_anotb_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET DIFFERENCE across sources — the theta-sketch A-not-B
    operation (the DataSketches companion of union/intersection):
    per source pair, how much of A's distinct-shingle space B does NOT
    cover, and vice versa.  Method: within the merged sketch's window
    (the union's k smallest hashes — every union entry that belongs to
    A is necessarily in A's own sketch, the theta-sketch soundness
    property), count entries in A but not B; scale by est_union/ku for
    the set-difference estimate; normalize by A's in-window entries
    for the novelty share.  This is the question a curation planner
    actually asks — "does adding crawl B contribute anything source A
    doesn't already have?" — priced at sketch cost, not a distinct
    join.

    Scale: identical posture to the overlap entry — the corpus pays
    ONE sketch-build aggregation (map-side dedup, <= k values per
    group cross the wire); all pairwise set algebra runs on the
    checkpointed ~20-row sketch relation with array expressions."""
    p = (_kmv_pair_sketches(spark, sf_dir)
         # union entries owned by each side (sound: a union-sketch
         # entry from A is within A's own k smallest)
         .withColumn("ua", F.array_intersect("u", "sk_a"))
         .withColumn("ub", F.array_intersect("u", "sk_b"))
         .withColumn("anotb_k",
                     F.size(F.array_except("ua", "sk_b")).cast("bigint"))
         .withColumn("bnota_k",
                     F.size(F.array_except("ub", "sk_a")).cast("bigint"))
         .withColumn("ka_u", F.size("ua").cast("bigint"))
         .withColumn("kb_u", F.size("ub").cast("bigint"))
         .withColumn("est_union", sk.kmv_estimate(F.col("u"), k=_KMV_K)))
    zero = F.lit(0).cast("bigint")
    return p.select(
        "source_a", "source_b", "anotb_k", "bnota_k",
        sk._trunc_div(F.col("anotb_k") * F.col("est_union"),
                      F.col("ku")).alias("est_a_not_b"),
        sk._trunc_div(F.col("bnota_k") * F.col("est_union"),
                      F.col("ku")).alias("est_b_not_a"),
        F.when(F.col("ka_u") == 0, zero)
        .otherwise(sk._trunc_div(F.col("anotb_k") * 1_000_000,
                                 F.col("ka_u")))
        .alias("novelty_a_micro"),
        F.when(F.col("kb_u") == 0, zero)
        .otherwise(sk._trunc_div(F.col("bnota_k") * 1_000_000,
                                 F.col("kb_u")))
        .alias("novelty_b_micro"))


_NOVELTY_BUCKETS = 10


def _ngram_novelty_oracle_sql() -> str:
    nb = _NOVELTY_BUCKETS
    return f"""
WITH o AS (SELECT doc_id, unnest({dd.shingles_sql('text')}) AS sh
           FROM documents),
mx AS (SELECT max(doc_id) AS mx FROM documents),
ob AS (SELECT sh, CAST((doc_id * {nb}) // (mx + 1) AS INTEGER)
                AS bucket FROM o, mx),
b1 AS (SELECT sh, bucket, count(*) AS n_occ
       FROM ob GROUP BY sh, bucket),
b2 AS (SELECT sh, bucket, n_occ,
              min(bucket) OVER (PARTITION BY sh) AS first_b FROM b1)
SELECT bucket, CAST(sum(n_occ) AS BIGINT) AS n_occurrences,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(CASE WHEN first_b = bucket THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new,
       CAST((sum(CASE WHEN first_b = bucket THEN 1 ELSE 0 END)
             * 1000000) // count(*) AS BIGINT) AS novelty_micro
FROM b2 GROUP BY bucket
"""


@register("ngram_novelty_curve", _ngram_novelty_oracle_sql())
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus NOVELTY CURVE: split the corpus into 10 ingest-order
    buckets (doc_id is the arrival order) and report, per bucket, how
    many of its distinct 3-gram shingles are globally NEW (first seen
    in that bucket) vs repeats of earlier content — the saturation
    diagnostic behind "more crawl stops adding content" decisions
    (duplicate growth is superlinear in corpus size; Lee et al. 2021).
    A falling novelty_micro curve tells the curation planner the
    marginal crawl buys repetition, BEFORE spending a dedup pass on
    it.

    Scale: ONE corpus tokenize+explode, then a (shingle, bucket)
    partial agg; everything after runs on that distinct-pair relation
    — the per-bucket rollup directly (10 rows), and first-seen as a
    second PARTIAL agg (min bucket per shingle, <= 10 input rows per
    group) rolled up to n_new per bucket.  No window (a window min
    here sorts the whole distinct relation: measured 28 s vs ~7 s at
    sf1), no join back on the shingle, nothing corpus-sized crosses
    the wire twice; the two 10-row bucket relations broadcast-join at
    the end."""
    docs = _docs(spark, sf_dir)
    mx = docs.agg(F.max("doc_id").alias("mx"))
    occ = (docs.crossJoin(F.broadcast(mx))
           .select(_idiv(F.col("doc_id") * _NOVELTY_BUCKETS,
                         F.col("mx") + 1).cast("int").alias("bucket"),
                   F.explode(dd.word_shingles("text")).alias("sh")))
    # the distinct-pair relation feeds BOTH rollups — materialize once
    # (the lm_bigram_score discipline) or the tokenize+explode runs
    # twice; a 100 TB deployment would land it as a parquet stage
    b1 = _track_ckpt(occ.groupBy("sh", "bucket")
                     .agg(F.count(F.lit(1)).alias("n_occ"))
                     .localCheckpoint(eager=True))
    per_bucket = (b1.groupBy("bucket")
                  .agg(F.sum("n_occ").cast("bigint")
                       .alias("n_occurrences"),
                       F.count(F.lit(1)).cast("bigint")
                       .alias("n_distinct")))
    news = (b1.groupBy("sh").agg(F.min("bucket").alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_new")))
    return (per_bucket
            .join(F.broadcast(news), "bucket", "left")
            .select("bucket", "n_occurrences", "n_distinct",
                    F.coalesce(F.col("n_new"), F.lit(0).cast("bigint"))
                    .alias("n_new"),
                    _idiv(F.coalesce(F.col("n_new"),
                                     F.lit(0).cast("bigint")) * 1_000_000,
                          F.col("n_distinct")).alias("novelty_micro")))


def _tokenizer_agreement_oracle_sql() -> str:
    """Composes the BPE and unigram-LM trainer CTE chains (disjoint
    CTE namespaces: bv*/bp*/bm* vs uvoc/ucand/up*/u{r}*) plus one
    greedy segmentation pass, then rolls the two per-token fertilities
    up per source over the corpus occurrence stream."""
    br, ur = bpem.BPE_ROUNDS, ugm.ROUNDS
    return f"""
WITH {_bpe_ctes(br)},
{_unigram_ctes(ur)},{_unigram_seg_ctes("uf", f"up{ur}")},
bstat AS (SELECT tok,
                 CAST(len(string_split(trim(seg), '  ')) AS BIGINT)
                   AS bpe_n
          FROM bv{br}),
ustat AS (SELECT tok, CAST(count(*) AS BIGINT) AS uni_n
          FROM ufch GROUP BY tok),
stat AS (SELECT tok, bpe_n, uni_n
         FROM bstat JOIN ustat USING (tok)),
uocc AS (SELECT source, unnest({_TOKS}) AS tok FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST((sum(bpe_n) * 1000000) // count(*) AS BIGINT)
         AS bpe_fertility_micro,
       CAST((sum(uni_n) * 1000000) // count(*) AS BIGINT)
         AS uni_fertility_micro,
       CAST((sum(CASE WHEN bpe_n = uni_n THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS agree_micro
FROM uocc JOIN stat USING (tok) GROUP BY source
"""


@register("tokenizer_agreement", _tokenizer_agreement_oracle_sql())
def tokenizer_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER A/B REPORT: the two trained tokenizer families this
    engine ships (BPE, Sennrich 2016; unigram-LM, Kudo 2018) compared
    on the same corpus — per source, occurrence-weighted fertility
    (pieces per token, micro-units) under each model and the share of
    token occurrences both segment into the SAME number of pieces.
    This is the side-by-side a pipeline owner looks at before pinning
    a tokenizer for a training run: fertility drives token budget and
    context-window economics; low agreement flags corpus regions where
    the two families disagree structurally.  Both models come from
    their PERSISTED artifacts (fit-if-absent) — this entry is a pure
    composition of two serve paths, no refits.

    Scale: both models are vocabulary-bounded broadcasts; the corpus
    pays one token explode + one broadcast join + one partial-agg
    shuffle (the unigram serve shape, with the BPE stat riding the
    same broadcast row)."""
    _, vpath = _fit_bpe_persisted(spark, sf_dir)
    upath = _fit_unigram_persisted(spark, sf_dir, overwrite=False)
    utable = [(r["piece"], int(r["cnt"]), int(r["p_micro"]))
              for r in spark.read.parquet(upath).collect()]  # model-sized
    bstat = (spark.read.parquet(vpath)
             .select("tok", F.size(bpem.seg_symbols(F.col("seg")))
                     .cast("bigint").alias("bpe_n")))
    docs = _docs(spark, sf_dir)
    # model-sized, but deriving it tokenizes the corpus — checkpoint so
    # the assert job and the stat build share one pass
    vocab = _track_ckpt(ugm.token_vocab(docs)
                        .localCheckpoint(eager=True))
    ugm._assert_encodable(vocab, utable)
    stat = (vocab.select("tok", F.size(ugm.segment_expr(utable))
                         .cast("bigint").alias("uni_n"))
            .join(bstat, "tok"))
    occ = docs.select("source", F.explode(dd.tokens("text")).alias("tok"))
    n = F.count(F.lit(1))
    agree = (F.col("bpe_n") == F.col("uni_n")).cast("int")
    return (occ.join(F.broadcast(stat), "tok")
            .groupBy("source")
            .agg(n.cast("bigint").alias("n_tokens"),
                 _idiv(F.sum("bpe_n") * 1_000_000, n)
                 .alias("bpe_fertility_micro"),
                 _idiv(F.sum("uni_n") * 1_000_000, n)
                 .alias("uni_fertility_micro"),
                 _idiv(F.sum(agree) * 1_000_000, n)
                 .alias("agree_micro")))


# ---------------------------------------------------------------------------
# Curation tail: retrieval quality evaluation, perplexity-bucket
# curation.  Each is pinned against its DuckDB oracle at sf0.01
# with the oracle checker's hash protocol
# (tests/test_pipeline_r10b.py).
# ---------------------------------------------------------------------------


def _ann_eval_oracle_sql() -> str:
    return f"""
WITH ex AS (SELECT query_id, cand_id FROM ({_BRUTE_TOPK_ORACLE})),
ap AS (SELECT query_id, cand_id, rank
       FROM ({_ivf_kmeans_oracle_sql()})),
j AS (SELECT ex.query_id, ap.rank
      FROM ex LEFT JOIN ap USING (query_id, cand_id))
SELECT query_id, CAST(count(rank) AS BIGINT) AS n_hits,
       CAST(coalesce(max(1000000 // rank), 0) AS BIGINT) AS rr_micro
FROM j GROUP BY query_id
"""


@register("ann_eval_recall_mrr", _ann_eval_oracle_sql())
def ann_eval_recall_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL EVALUATION of the approximate index against exact
    ground truth — the acceptance gate a pipeline runs before trusting
    an ANN serve path: per query, ``n_hits`` = |IVF top-5 ∩ exact
    top-5| (the recall@5 numerator) and ``rr_micro`` = 1e6 // (best
    IVF rank that is exact-relevant) — the reciprocal-rank summand of
    MRR, exact in integers so both engines replay it bit-for-bit.
    Ground truth = brute-force cosine top-5; system = the PERSISTED
    IVF-kmeans serve (fit-if-absent, literal centroids).  The catalog's
    pinned recall floors assert a threshold; this entry publishes the
    full per-query table those floors summarize.

    Scale: the exact leg is the designated brute-force tier (query
    batch broadcast, corpus never shuffled — at 100 TB ground truth is
    computed once for a SAMPLED query set, exactly this shape); the
    approximate leg is the map-only pretrained serve; the eval join
    touches 2 x |queries| x k rows — driver-trivial at any corpus
    size."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 20)
    ex = sim.brute_force_topk(e, q, k=5).select("query_id", "cand_id")
    path = _fit_centroids_persisted(spark, sf_dir, overwrite=False)
    cent_list = _load_centroids_cached(spark, path)
    ap = (sim.ivf_topk_pretrained(e, q, cent_list, k=5, nprobe=7)
          .select("query_id", "cand_id", "rank"))
    j = ex.join(ap, ["query_id", "cand_id"], "left")
    return (j.groupBy("query_id")
            .agg(F.count("rank").cast("bigint").alias("n_hits"),
                 F.coalesce(F.max(_idiv(F.lit(1_000_000).cast("bigint"),
                                        F.col("rank").cast("bigint"))),
                            F.lit(0)).cast("bigint").alias("rr_micro")))


def _lm_buckets_oracle_sql() -> str:
    return f"""
WITH d AS ({_lm_doc_oracle_sql()}),
hist AS (SELECT score_micro, count(*) AS cnt,
                CAST(sum(n_bigrams) AS BIGINT) AS nb
         FROM d GROUP BY score_micro),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS w FROM hist),
cb AS (SELECT score_micro, cnt, nb,
              coalesce(sum(cnt) OVER (ORDER BY score_micro
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cum_before
       FROM hist),
bk AS (SELECT score_micro, cnt, nb,
              CAST(1 + (3 * cum_before) // w AS BIGINT) AS bucket
       FROM cb CROSS JOIN tot)
SELECT bucket, CAST(sum(cnt) AS BIGINT) AS n_docs,
       CAST(sum(nb) AS BIGINT) AS n_bigrams,
       CAST(min(score_micro) AS BIGINT) AS min_score_micro,
       CAST(max(score_micro) AS BIGINT) AS max_score_micro
FROM bk GROUP BY bucket
"""


@register("lm_perplexity_buckets", _lm_buckets_oracle_sql())
def lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-STYLE PERPLEXITY BUCKETING (Wenzek et al. 2020): split the
    corpus into head/middle/tail TERTILES of the corpus-trained bigram
    LM score (``lm_bigram_score``'s per-doc relation) and report each
    bucket's doc count, bigram mass, and score range — the relation a
    curation planner samples from ("keep head, downsample tail").

    The tertile thresholds are EXACT, not approximated, yet never sort
    the corpus: ``score_micro`` lives in [0, 1e6] by construction (a
    mean of micro-unit probabilities), so the per-score histogram is
    bounded at ~1e6 rows NO MATTER the corpus size — the cumulative
    window runs over that compressed relation (the same
    window-over-histogram discipline as the novelty curve's
    restatement), and docs re-join their bucket through the broadcast
    threshold table.  Equal scores share a bucket (cum count BEFORE the
    score decides), so the cut is deterministic on every engine.  Docs
    with <2 tokens have no bigrams and are excluded (inner-join
    semantics, as in ``lm_bigram_score``)."""
    docs = _docs(spark, sf_dir)
    b = _track_ckpt(_lm_doc_bigrams(docs).localCheckpoint(eager=True))
    bgc = b.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = b.groupBy("w1").agg(F.count(F.lit(1)).alias("c_ctx"))
    d = _lm_score_docs(b, bgc, ctx)
    hist = (d.groupBy("score_micro")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"),
                 F.sum("n_bigrams").cast("bigint").alias("nb")))
    tot = hist.agg(F.sum("cnt").cast("bigint").alias("w"))
    wcum = Window.orderBy("score_micro") \
                 .rowsBetween(Window.unboundedPreceding, -1)
    cb = hist.select(
        "score_micro", "cnt", "nb",
        F.coalesce(F.sum("cnt").over(wcum), F.lit(0).cast("bigint"))
         .alias("cum_before"))
    bk = cb.crossJoin(F.broadcast(tot)).select(
        "score_micro", "cnt", "nb",
        (F.lit(1) + _idiv(3 * F.col("cum_before"), F.col("w")))
        .cast("bigint").alias("bucket"))
    return (bk.groupBy("bucket")
            .agg(F.sum("cnt").cast("bigint").alias("n_docs"),
                 F.sum("nb").cast("bigint").alias("n_bigrams"),
                 F.min("score_micro").cast("bigint").alias("min_score_micro"),
                 F.max("score_micro").cast("bigint").alias("max_score_micro")))


#: empty-tertile sentinel: score_micro <= 1e6 by construction, so this
#: cut is unreachable — a CASE against it assigns nothing to the bucket
_LM_CUT_SENTINEL = 1_000_001


def _lm_doc_scores_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_bigrams, score_micro) computed FROM the
    persisted bigram-model artifacts (fit-if-absent): the two count
    relations fold into one model-sized (bg, p_micro) table, then one
    broadcast join over the corpus
    bigram stream + a per-doc partial agg.  The serve-side twin of
    ``lm_bigram_score``'s in-plan fit."""
    bg_path, ctx_path = _fit_lm_persisted(spark, sf_dir, overwrite=False)
    scores = (spark.read.parquet(bg_path)
              .withColumn("w1", F.substring_index("bg", " ", 1))
              .join(spark.read.parquet(ctx_path), "w1")
              .select("bg", cu.micro_ratio(F.col("c_bg"), F.col("c_ctx"))
                      .alias("p_micro")))
    b = _lm_doc_bigrams(_docs(spark, sf_dir))
    return (b.join(F.broadcast(scores), "bg")
            .groupBy("doc_id", "source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                 _idiv(F.sum("p_micro"), F.count(F.lit(1)))
                 .alias("score_micro")))


def _lm_thresholds_df(d: DataFrame) -> DataFrame:
    """1-row (cut2_micro, cut3_micro, n_docs): the tertile cut scores
    of the per-doc score relation — min score landing in buckets 2 and
    3 under the cum-count-before rule, sentineled when a tie group
    swallows a tertile."""
    hist = d.groupBy("score_micro").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = hist.agg(F.sum("cnt").cast("bigint").alias("w"))
    wcum = Window.orderBy("score_micro") \
                 .rowsBetween(Window.unboundedPreceding, -1)
    bk = (hist.select("score_micro", "cnt",
                      F.coalesce(F.sum("cnt").over(wcum),
                                 F.lit(0).cast("bigint")).alias("cb"))
          .crossJoin(F.broadcast(tot))
          .select("score_micro", "w",
                  (F.lit(1) + _idiv(3 * F.col("cb"), F.col("w")))
                  .alias("bucket")))
    cut = lambda k: F.coalesce(
        F.min(F.when(F.col("bucket") >= k, F.col("score_micro"))),
        F.lit(_LM_CUT_SENTINEL)).cast("bigint")
    # coalesce(0): a degenerate corpus (no doc with >= 2 tokens) has an
    # empty bk — the cuts already sentinel, and n_docs must be a defined
    # 0, not NULL, in the persisted 1-row artifact
    return bk.agg(cut(2).alias("cut2_micro"), cut(3).alias("cut3_micro"),
                  F.coalesce(F.max("w"), F.lit(0)).cast("bigint")
                  .alias("n_docs"))


def _fit_lm_thresholds_persisted(spark: SparkSession, sf_dir: str,
                                 overwrite: bool) -> str:
    """Compute the corpus tertile cuts from the SERVED score relation
    and persist the 1-row artifact; returns the path."""
    path = _artifact_path(sf_dir, "lm_bucket_thresholds")
    src = f"{sf_dir}/documents.parquet"
    # derived artifact: the cuts score against the persisted bigram
    # model, so a model re-fit invalidates them
    bg_path, ctx_path = _fit_lm_persisted(spark, sf_dir, overwrite=False)
    if not overwrite and _artifact_fresh(path, src, bg_path, ctx_path):
        return path
    (_lm_thresholds_df(_lm_doc_scores_served(spark, sf_dir))
     .coalesce(1).write.mode("overwrite").parquet(path))
    return path


def _lm_thresholds_oracle_ctes() -> str:
    """CTE chain ending in ``cuts(cut2_micro, cut3_micro, n_docs)`` —
    the SQL replay of the persisted threshold artifact."""
    return f"""d AS ({_lm_doc_oracle_sql()}),
hist AS (SELECT score_micro, CAST(count(*) AS BIGINT) AS cnt
         FROM d GROUP BY score_micro),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS w FROM hist),
bk AS (SELECT score_micro, w,
              1 + (3 * coalesce(sum(cnt) OVER (ORDER BY score_micro
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0)) // w AS bucket
       FROM hist CROSS JOIN tot),
cuts AS (SELECT
  CAST(coalesce(min(CASE WHEN bucket >= 2 THEN score_micro END),
                {_LM_CUT_SENTINEL}) AS BIGINT) AS cut2_micro,
  CAST(coalesce(min(CASE WHEN bucket >= 3 THEN score_micro END),
                {_LM_CUT_SENTINEL}) AS BIGINT) AS cut3_micro,
  CAST(coalesce(max(w), 0) AS BIGINT) AS n_docs
  FROM bk)"""


@register("lm_bucket_thresholds", f"""
WITH {_lm_thresholds_oracle_ctes()}
SELECT cut2_micro, cut3_micro, n_docs FROM cuts
""")
def lm_bucket_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIT the perplexity-bucket THRESHOLD artifact: the two tertile
    cut scores of the corpus LM-score distribution, computed from the
    persisted bigram model (no refit) and persisted as a 1-row
    relation — the quantile-model half of the CCNet filter, split out
    the way every index here splits fit from serve: downstream screens
    bucket NEW batches against these literal cuts without touching the
    corpus again.  Returns the READ-BACK of the on-disk artifact.
    Empty tertiles (a tie group swallowing a cut) persist the
    unreachable sentinel 1_000_001 (scores cap at 1e6) — tested.

    Scale: one broadcast model join over the corpus bigram stream, one
    per-doc partial agg, then the cumulative window over the
    SCORE-HISTOGRAM (bounded at ~1e6 rows whatever the corpus size);
    the artifact is 1 row."""
    path = _fit_lm_thresholds_persisted(spark, sf_dir, overwrite=True)
    return spark.read.parquet(path).select(
        F.col("cut2_micro").cast("bigint").alias("cut2_micro"),
        F.col("cut3_micro").cast("bigint").alias("cut3_micro"),
        F.col("n_docs").cast("bigint").alias("n_docs"))


@register("lm_bucket_screen_newbatch", f"""
WITH {_lm_thresholds_oracle_ctes()}
SELECT CASE WHEN score_micro >= cut3_micro THEN 3
            WHEN score_micro >= cut2_micro THEN 2 ELSE 1 END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
       CAST(min(score_micro) AS BIGINT) AS min_score_micro,
       CAST(max(score_micro) AS BIGINT) AS max_score_micro
FROM d CROSS JOIN cuts
WHERE doc_id % 11 = 0
GROUP BY bucket
""")
def lm_bucket_screen_newbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE the perplexity buckets over an ARRIVING batch (the
    held-out ``doc_id % 11 == 0`` slice, the screen convention of the
    containment tier): score each new document against the PERSISTED
    bigram model, assign its tertile against the PERSISTED threshold
    cuts (a 1-row artifact collected driver-side and compared as
    literals — the bucket CASE is a map-only projection), and report
    the arriving batch's quality mix.  This is the ingest-time router
    of a CCNet-style pipeline: head goes to training, tail to review —
    with NO corpus re-histogram per batch.

    Scale: per-batch work is one broadcast model join over the batch's
    bigrams + one per-doc partial agg + a literal CASE; both artifacts
    are fit once per corpus generation.  Oracle replays model,
    thresholds, and screen in one chain."""
    tpath = _fit_lm_thresholds_persisted(spark, sf_dir, overwrite=False)
    cuts = spark.read.parquet(tpath).collect()[0]  # 1-row artifact
    bg_path, ctx_path = _fit_lm_persisted(spark, sf_dir, overwrite=False)
    scores = (spark.read.parquet(bg_path)
              .withColumn("w1", F.substring_index("bg", " ", 1))
              .join(spark.read.parquet(ctx_path), "w1")
              .select("bg", cu.micro_ratio(F.col("c_bg"), F.col("c_ctx"))
                      .alias("p_micro")))
    batch = _docs(spark, sf_dir).where(F.col("doc_id") % 11 == 0)
    d = (_lm_doc_bigrams(batch)
         .join(F.broadcast(scores), "bg")
         .groupBy("doc_id")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
              _idiv(F.sum("p_micro"), F.count(F.lit(1)))
              .alias("score_micro")))
    bucket = (F.when(F.col("score_micro") >= int(cuts["cut3_micro"]), 3)
              .when(F.col("score_micro") >= int(cuts["cut2_micro"]), 2)
              .otherwise(1)).cast("int").alias("bucket")
    return (d.select(bucket, "n_bigrams", "score_micro")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
                 F.min("score_micro").cast("bigint").alias("min_score_micro"),
                 F.max("score_micro").cast("bigint").alias("max_score_micro")))


def _ivf_assign_oracle_ctes(pred: str = "TRUE") -> str:
    """CTE chain ending in ``asg(cand_id, cent_id)`` — the learned-
    centroid assignment replay (cosine argmax, ties to the lowest
    centroid id), filterable by ``pred`` over ``c``."""
    csim_cand = _COS_SQL.format(a="c.v", b="ct.cent")
    return f"""{_kmeans_ctes(8, 3)},
cent AS (SELECT cid AS cent_id,
                list_transform(cv, x -> x / 1000000.0) AS cent
         FROM cents3),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
asg AS (
  SELECT cand_id, cent_id FROM (
    SELECT c.vec_id AS cand_id, ct.cent_id,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {csim_cand} DESC, ct.cent_id) AS rn
    FROM e c CROSS JOIN cent ct WHERE {pred})
  WHERE rn = 1)"""


def _build_ivf_postings(spark: SparkSession, sf_dir: str,
                        overwrite: bool) -> str:
    """Persist the (cand_id, cent_id) postings of the EXISTING corpus
    (vec_id % 11 != 0) against the persisted centroids — the
    inverted-list half of the IVF index materialized at INGEST time,
    so maintenance jobs (appends, rebalance reports) never re-assign
    the corpus."""
    path = _artifact_path(sf_dir, "ivf_postings_old")
    src = f"{sf_dir}/embeddings.parquet"
    # derived artifact: freshness is gated on the centroid artifact it
    # assigns against, not just the raw source (a centroid
    # re-fit must invalidate postings that carry the old assignments)
    cpath = _fit_centroids_persisted(spark, sf_dir, overwrite=False)
    if not overwrite and _artifact_fresh(path, src, cpath):
        return path
    cent_list = _load_centroids_cached(spark, cpath)
    old = _emb(spark, sf_dir).where(F.col("vec_id") % 11 != 0)
    (sim.ivf_assign_pretrained(old, cent_list)
     .select("cand_id", F.col("cent_id").cast("bigint").alias("cent_id"))
     .write.mode("overwrite").parquet(path))
    return path


@register("ivf_postings_build", f"""
WITH {_ivf_assign_oracle_ctes("c.vec_id % 11 != 0")}
SELECT CAST(cent_id AS BIGINT) AS cent_id,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(cand_id) AS BIGINT) AS min_vec_id,
       CAST(max(cand_id) AS BIGINT) AS max_vec_id,
       CAST(sum(cand_id) AS BIGINT) AS sum_vec_id
FROM asg GROUP BY cent_id
""")
def ivf_postings_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILD the persisted IVF postings (inverted lists): assign every
    EXISTING corpus vector (vec_id % 11 != 0) to its nearest persisted
    centroid via the map-only literal projection and persist the
    narrow (cand_id, cent_id) relation — in production, bucketed by
    cent_id so a probe scans only its lists.  Returns the per-centroid
    digest of the ON-DISK state (count + min/max/sum of member ids,
    all < 2^53), so the oracle verifies exactly what maintenance jobs
    will serve.

    Scale: assignment is scan -> literal argmax projection -> write;
    no shuffle at all (the digest's partial agg is the only exchange,
    and only in this verification entry)."""
    path = _build_ivf_postings(spark, sf_dir, overwrite=True)
    p = spark.read.parquet(path)
    return (p.groupBy("cent_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                 F.min("cand_id").cast("bigint").alias("min_vec_id"),
                 F.max("cand_id").cast("bigint").alias("max_vec_id"),
                 F.sum("cand_id").cast("bigint").alias("sum_vec_id")))


def _append_ivf_postings(spark: SparkSession, sf_dir: str) -> str:
    """Assign the arriving batch (vec_id % 11 == 0, the screen
    convention) to the persisted centroids and write the appended
    postings generation; idempotent overwrite — re-running an ingest
    replaces, never duplicates.  Shared by the append entry and the
    compaction entry."""
    new_path = _artifact_path(sf_dir, "ivf_postings_new")
    cpath = _fit_centroids_persisted(spark, sf_dir, overwrite=False)
    cent_list = _load_centroids_cached(spark, cpath)
    batch = _emb(spark, sf_dir).where(F.col("vec_id") % 11 == 0)
    (sim.ivf_assign_pretrained(batch, cent_list)
     .select("cand_id", F.col("cent_id").cast("bigint").alias("cent_id"))
     .write.mode("overwrite").parquet(new_path))
    return new_path


@register("ivf_postings_append", f"""
WITH {_ivf_assign_oracle_ctes()}
SELECT CAST(cent_id AS BIGINT) AS cent_id,
       CAST(sum(CASE WHEN cand_id % 11 != 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_old,
       CAST(sum(CASE WHEN cand_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(count(*) AS BIGINT) AS n_total
FROM asg GROUP BY cent_id
""")
def ivf_postings_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND to the IVF index without a refit — the index-MAINTENANCE
    operation a 100 TB deployment runs on every ingest: the arriving
    batch (vec_id % 11 == 0, the screen convention) is assigned to the
    SAME persisted centroids by the same map-only literal projection
    and lands in its own artifact generation next to the existing
    postings (idempotent overwrite — re-running an ingest replaces,
    never duplicates).  Returns the per-centroid occupancy report of
    the combined ON-DISK index (old + appended + total) — the drift
    signal that tells an operator when accumulated appends warrant a
    centroid refit (the standing kmeans fit entry).

    Scale: per-ingest work is O(|batch|) map-only; the existing
    postings are only ever READ for the report, never re-assigned; the
    centroids never retrain."""
    old_path = _build_ivf_postings(spark, sf_dir, overwrite=False)
    new_path = _append_ivf_postings(spark, sf_dir)
    old = spark.read.parquet(old_path).withColumn("is_new", F.lit(0))
    new = spark.read.parquet(new_path).withColumn("is_new", F.lit(1))
    u = old.unionByName(new)
    return (u.groupBy("cent_id")
            .agg(F.sum(F.lit(1) - F.col("is_new")).cast("bigint")
                 .alias("n_old"),
                 F.sum("is_new").cast("bigint").alias("n_new"),
                 F.count(F.lit(1)).cast("bigint").alias("n_total")))


@register("ivf_postings_compact", f"""
WITH {_ivf_assign_oracle_ctes()}
SELECT CAST(cent_id AS BIGINT) AS cent_id,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(cand_id) AS BIGINT) AS min_vec_id,
       CAST(max(cand_id) AS BIGINT) AS max_vec_id,
       CAST(sum(cand_id) AS BIGINT) AS sum_vec_id
FROM asg GROUP BY cent_id
""")
def ivf_postings_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACT the IVF index: fold the appended postings generation
    back into the base layout — the maintenance operation that closes
    the build/append pair.  Appends accumulate as
    per-ingest generations; compaction unions base + appends and
    rewrites ONE artifact partitioned by ``cent_id`` (the inverted-
    list layout: a probe reads only its cells' directories — the
    partition-pruned read the serve path wants).  Idempotent: the
    write is a full overwrite keyed by nothing run-dependent, so
    re-running replaces the same artifact; and because assignment is
    deterministic, compact(build ∪ append) is row-identical to a
    from-scratch build over the whole corpus — asserted hash-for-hash
    in tests/test_pipeline_r11.py, and this entry's oracle is exactly
    that from-scratch assignment digest.  Returns the per-centroid
    digest of the compacted ON-DISK artifact.

    Scale: O(index), never O(corpus) — the inputs are the two narrow
    postings relations (the corpus vectors are touched only if a
    missing generation must first be built, which is the build/append
    entries' job); one hash exchange on cent_id co-locates each cell's
    postings, then the write is cell-local.  The containment probe
    index follows the same lifecycle — see
    ``containment_postings_append`` / ``containment_postings_compact``."""
    old_path = _build_ivf_postings(spark, sf_dir, overwrite=False)
    new_path = _append_ivf_postings(spark, sf_dir)
    out_path = _artifact_path(sf_dir, "ivf_postings_compacted")
    u = (spark.read.parquet(old_path)
         .unionByName(spark.read.parquet(new_path)))
    (u.repartition("cent_id").write.mode("overwrite")
     .partitionBy("cent_id").parquet(out_path))
    p = spark.read.parquet(out_path)  # cent_id read back as partition col
    return (p.groupBy(F.col("cent_id").cast("bigint").alias("cent_id"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                 F.min("cand_id").cast("bigint").alias("min_vec_id"),
                 F.max("cand_id").cast("bigint").alias("max_vec_id"),
                 F.sum("cand_id").cast("bigint").alias("sum_vec_id")))


def catalog() -> dict[str, tuple[QueryFn, str | None]]:
    """The monoid entries of ``queries.catalog()`` (``monoid_sum_double``,
    the flagship, first), then this module's entries in registration
    order."""
    return dict(_CATALOG)
