"""Round-6 operator tests: substring spans, bloom prefilter, triangle
census, LM scoring, PQ fit/serve equivalence."""

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark import pipeline_queries as q

SF = "/root/testdata/sf0.001"


def _run(spark, name, sf=SF):
    fn, _ = q.catalog()[name]
    return fn(spark, sf)


# ---------------------------------------------------------------------------
# triangle census — first-principles toy graphs
# ---------------------------------------------------------------------------

def _tri(spark, edges):
    from datafusion_monoid_spark.operators.graph import triangle_stats
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    return triangle_stats(df).collect()[0]


def test_triangle_stats_clique(spark):
    """K4 has C(4,3)=4 triangles, 6 edges, 12 wedges, cc=1."""
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    r = _tri(spark, k4)
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 6, 12, 4)
    assert r.cc_micro == 1_000_000


def test_triangle_stats_star_and_path(spark):
    """A star hub (the skew case the degree-ordered orientation
    exists for) and a path both have zero triangles; the star's
    wedges are all open."""
    star = [(0, i) for i in range(1, 6)]
    r = _tri(spark, star)
    assert (r.n_triangles, r.n_wedges, r.cc_micro) == (0, 10, 0)
    path = [(0, 1), (1, 2), (2, 3)]
    r = _tri(spark, path)
    assert (r.n_triangles, r.n_wedges) == (0, 2)


def test_triangle_stats_one_triangle_plus_tail(spark):
    """Triangle {0,1,2} with a pendant 3: T=1, wedges=2+2*1+... —
    degrees (2,2,3,1) -> wedges 1+1+3+0=5, cc = 3/5."""
    edges = [(0, 1), (0, 2), (1, 2), (2, 3)]
    r = _tri(spark, edges)
    assert r.n_triangles == 1
    assert r.n_wedges == 5
    assert r.cc_micro == 600_000


# ---------------------------------------------------------------------------
# substring duplicate spans — engineered fixture
# ---------------------------------------------------------------------------

def test_substring_spans_fixture(spark, tmp_path):
    """Two docs sharing one 12-token run (5 consecutive dup 8-grams,
    span 12 tokens each side) among otherwise-unique text; a third
    short doc contributes nothing."""
    uniq1 = " ".join(f"u{i}" for i in range(10))
    uniq2 = " ".join(f"v{i}" for i in range(10))
    shared = " ".join(f"s{i}" for i in range(12))
    rows = [
        (1, f"{uniq1} {shared}", "en", "srcA", 0),
        (2, f"{shared} {uniq2}", "en", "srcA", 0),
        (3, "too short", "en", "srcB", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r.source: r for r in _run(spark, "dedup_substring_spans",
                                     str(tmp_path)).collect()}
    assert "srcB" not in out
    a = out["srcA"]
    # each doc: dup positions are exactly the 5 grams fully inside the
    # shared run -> one span of 12 tokens per doc
    assert a.n_docs_dup == 2
    assert a.n_spans == 2
    assert a.dup_grams == 10
    assert a.span_tokens_max == 12
    assert a.span_tokens_sum == 24


# ---------------------------------------------------------------------------
# bloom prefilter — the no-false-negative contract
# ---------------------------------------------------------------------------

def test_bloom_prefilter_no_false_negatives(spark):
    r = _run(spark, "bloom_join_prefilter").collect()[0]
    # every exact match survives the bloom (no false negatives)
    assert r.n_prefiltered >= r.n_exact
    assert r.n_false_pos == r.n_prefiltered - r.n_exact
    assert r.n_false_pos >= 0
    assert 0 < r.n_bits_set <= 1024
    # the filter actually prunes: survivors are a small fraction
    assert r.n_prefiltered < r.n_fact_rows


# ---------------------------------------------------------------------------
# LM scoring — spec fold on a tiny corpus
# ---------------------------------------------------------------------------

def test_lm_bigram_score_spec(spark, tmp_path):
    """Hand-computable corpus: 'a b a b' + 'a b'.  C(a b)=3, C(b a)=1,
    ctx a=3, ctx b=... doc scores derived by the pinned integer
    semantics."""
    rows = [(1, "a b a b", "en", "s1", 0), (2, "a b", "en", "s1", 0)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = _run(spark, "lm_bigram_score", str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    # bigrams: doc1 = [ab, ba, ab], doc2 = [ab]; C(ab)=3, C(ba)=1
    # ctx: a appears as head 3x, b as head 1x
    # p(ab)=3*1e6//3=1e6; p(ba)=1*1e6//1=1e6 -> every doc scores 1e6
    assert r.n_docs_scored == 2
    assert r.avg_score_micro == 1_000_000
    assert r.min_score_micro == 1_000_000
    assert r.n_low_quality == 0


# ---------------------------------------------------------------------------
# PQ: pretrained serve == fused fit+search, bit for bit
# ---------------------------------------------------------------------------

def test_pq_pretrained_matches_fused(spark):
    fused = sorted(map(tuple, _run(spark, "pq_adc_topk").collect()))
    served = sorted(map(tuple, _run(spark, "pq_adc_pretrained").collect()))
    assert fused == served


def test_pq_codes_literal_matches_dataframe_assign(spark):
    """The literal-SQL argmin encoder must reproduce the DataFrame
    assignment exactly (same tie-breaks) — the guarantee that lets the
    serve entry share the fused oracle."""
    from datafusion_monoid_spark.operators import pq as pqm

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    sub = pqm.subvectors(e)
    cents = pqm.pq_fit(sub)
    want = sorted((r.vec_id, r.s, r.cid)
                  for r in pqm.pq_codes(sub, cents).collect())
    books = {}
    for r in cents.collect():
        books.setdefault(r.s, []).append((r.cid, list(r.cv)))
    books = {s: sorted(v) for s, v in books.items()}
    got = sorted(
        (r.vec_id, s, cid)
        for r in pqm.pq_encode_pretrained(e, books).collect()
        for s, cid in enumerate(r.codes))
    assert got == want


# ---------------------------------------------------------------------------
# filter funnel + vocabulary drift (third session)
# ---------------------------------------------------------------------------

def test_filter_funnel_is_monotone_cumulative(spark):
    """Cumulative stages can only lose documents; the surviving token
    budget is zero iff no document survives."""
    for r in _run(spark, "curation_filter_funnel").collect():
        seq = [r["n_docs"], r["n_lang"], r["n_len"], r["n_tok"],
               r["n_punct"], r["n_clean"]]
        assert seq == sorted(seq, reverse=True), seq
        assert (r["clean_tokens"] > 0) == (r["n_clean"] > 0)


def test_vocab_drift_hand_recompute(spark):
    """The top-ranked drift score must equal the cross-multiplied
    divergence recomputed from raw per-slice counts, and ranking must
    be descending with the deterministic tie-break."""
    from datafusion_monoid_spark.operators import dedup as dd

    rows = _run(spark, "vocab_drift_topk").collect()
    assert len(rows) == 20
    scores = [r["drift_x"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    occ = (q._docs(spark, SF)
           .select(F.explode(dd.tokens("text")).alias("tok"),
                   (F.col("doc_id") % q._BPE_NEWBATCH_MOD == 0)
                   .alias("is_new")))
    top = rows[0]
    c_old = occ.where(~F.col("is_new"))
    c_new = occ.where(F.col("is_new"))
    n_old, n_new = c_old.count(), c_new.count()
    t_old = c_old.where(F.col("tok") == top["tok"]).count()
    t_new = c_new.where(F.col("tok") == top["tok"]).count()
    assert (t_old, t_new) == (top["c_old"], top["c_new"])
    assert abs(t_new * n_old - t_old * n_new) == top["drift_x"]


def test_vocab_drift_zero_for_identical_share(spark):
    """A token appearing with identical relative frequency in both
    slices must score exactly zero (the cross-multiplied form has no
    rounding)."""
    df = spark.createDataFrame(
        # old slice: 2 docs x "a b"; new slice: 1 doc x "a b" ->
        # every token's share identical across slices
        [(1, "a b"), (2, "a b"), (11, "a b")],
        "doc_id long, text string")
    from datafusion_monoid_spark.operators import dedup as dd
    occ = df.select(F.explode(dd.tokens("text")).alias("tok"),
                    (F.col("doc_id") % q._BPE_NEWBATCH_MOD == 0)
                    .alias("is_new"))
    c = occ.groupBy("tok").agg(
        F.sum(F.when(F.col("is_new"), 0).otherwise(1)).alias("c_old"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).alias("c_new"))
    tot = c.agg(F.sum("c_old").alias("n_old"), F.sum("c_new").alias("n_new"))
    out = (c.crossJoin(tot)
           .select(F.abs(F.col("c_new") * F.col("n_old")
                         - F.col("c_old") * F.col("n_new")).alias("d"))
           .collect())
    assert all(r["d"] == 0 for r in out)


# ---------------------------------------------------------------------------
# interval-overlap join (fourth session)
# ---------------------------------------------------------------------------

def _overlap(spark, left, right, width=10):
    from datafusion_monoid_spark.operators.joins import interval_overlap_join
    l = spark.createDataFrame(left, "lid bigint, s_start bigint, s_end bigint")
    r = spark.createDataFrame(right, "rid bigint, s_start bigint, s_end bigint")
    return sorted((row["lid"], row["r_rid"])
                  for row in interval_overlap_join(
                      l, r, "s_start", "s_end", width).collect())


def test_overlap_pair_unique_across_shared_buckets(spark):
    """Two long intervals sharing MANY buckets must pair exactly once
    (the first-shared-bucket rule replaces a distinct)."""
    assert _overlap(spark, [(1, 0, 95)], [(2, 5, 90)], width=10) == [(1, 2)]


def test_overlap_boundary_semantics(spark):
    """Closed intervals: touching endpoints overlap; disjoint intervals
    in the SAME bucket are bucket-collision false positives and must
    be filtered; disjoint intervals in different buckets never meet."""
    got = _overlap(spark,
                   [(1, 0, 5), (2, 20, 25)],
                   [(10, 5, 8),    # touches 1 at t=5
                    (11, 7, 9),    # same bucket as 1, disjoint
                    (12, 40, 50)], # different bucket
                   width=10)
    assert got == [(1, 10)]


def test_overlap_matches_naive_cross(spark):
    """Randomized check vs the O(n*m) definition."""
    import random
    rng = random.Random(6)
    left = [(i, s, s + rng.randrange(0, 30))
            for i, s in ((i, rng.randrange(0, 200)) for i in range(40))]
    right = [(i, s, s + rng.randrange(0, 30))
             for i, s in ((i, rng.randrange(0, 200)) for i in range(40))]
    want = sorted((l[0], r[0]) for l in left for r in right
                  if l[1] <= r[2] and r[1] <= l[2])
    assert _overlap(spark, left, right, width=7) == want


def test_session_overlap_topk_invariants(spark):
    """Pairs are ordered user pairs with positive counts, overlap
    seconds are non-negative (touching sessions score 0), ranking is
    descending."""
    rows = _run(spark, "session_overlap_topk").collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        assert r["u_lo"] < r["u_hi"]
        assert r["n_overlaps"] >= 1 and r["overlap_s"] >= 0
    key = [(r["overlap_s"], r["n_overlaps"]) for r in rows]
    assert key == sorted(key, reverse=True)


def test_session_overlap_plan_no_nested_loop(spark):
    """The overlap join must be a bucketed equi-join — no cartesian or
    broadcast nested loop in the physical plan."""
    plan = _run(spark, "session_overlap_topk", sf=SF) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (fourth session)
# ---------------------------------------------------------------------------

def _mg_input(spark, toks_rows, parts):
    df = spark.createDataFrame([(r,) for r in toks_rows],
                               "toks array<string>")
    return df.repartition(parts)


def test_mg_exact_on_toy_stream(spark):
    """100 a's vs 10 b's with k=1: only 'a' clears share > 1/2."""
    from datafusion_monoid_spark.operators.sketch import mg_heavy_hitters
    rows = [["a"] * 10 for _ in range(10)] + [["b"] * 10]
    out = {r["tok"]: (r["cnt"], r["share_ppm"])
           for r in mg_heavy_hitters(
               _mg_input(spark, rows, 3), "toks", 1).collect()}
    assert out == {"a": (100, 100 * 1_000_000 // 110)}


def test_mg_partitioning_invariant(spark):
    """The final answer must not depend on how rows were partitioned,
    even though the candidate sets do."""
    from datafusion_monoid_spark.operators.sketch import mg_heavy_hitters
    import random
    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(40)]
    rows = [[rng.choice(vocab) for _ in range(20)] for _ in range(200)]
    want = None
    for parts in (1, 7, 32):
        got = sorted(map(tuple, mg_heavy_hitters(
            _mg_input(spark, rows, parts), "toks", 25).collect()))
        if want is None:
            want = got
        assert got == want, parts


def test_mg_candidates_bounded_and_superset(spark):
    """Candidates: <= k per partition, and always a superset of the
    true heavy hitters — including one spread thinly but heavily
    across every partition."""
    from datafusion_monoid_spark.operators.sketch import (
        mg_heavy_hitters, mg_partition_candidates)
    # 'hot' is ~40% of every partition; chaff differs per row
    rows = [["hot"] * 4 + [f"c{i}_{j}" for j in range(6)]
            for i in range(60)]
    df = _mg_input(spark, rows, 8)
    cand = mg_partition_candidates(df, "toks", 3).collect()
    assert len(cand) <= 3 * df.rdd.getNumPartitions()
    hh = {r["tok"] for r in mg_heavy_hitters(df, "toks", 3).collect()}
    assert hh == {"hot"}
    assert {"hot"} <= {r["tok"] for r in cand}


# ---------------------------------------------------------------------------
# exact two-pass percentiles (fourth session)
# ---------------------------------------------------------------------------

def _pctl(spark, vals, qs=(500000, 900000, 990000), buckets=8):
    df = spark.createDataFrame([(float(x),) for x in vals], "val double")
    got = q.exact_percentiles_2pass(df, spark, q_ppms=qs,
                                    buckets=buckets).collect()
    return {r["q_ppm"]: r["val"] for r in got}


def _nearest_rank(vals, q_ppm):
    s = sorted(vals)
    k = max(1, -(-len(s) * q_ppm // 1000000))  # ceil
    return s[k - 1]


def test_pctl_matches_definition_randomized(spark):
    import random
    rng = random.Random(11)
    vals = [rng.uniform(-50, 50) for _ in range(500)] + [7.0] * 40
    got = _pctl(spark, vals)
    for qp, v in got.items():
        assert v == _nearest_rank(vals, qp), qp


def test_pctl_degenerate_inputs(spark):
    """Constant column (zero-width histogram) and a single row."""
    assert set(_pctl(spark, [3.14] * 10).values()) == {3.14}
    assert set(_pctl(spark, [42.0]).values()) == {42.0}


def test_pctl_extreme_quantiles(spark):
    """q -> 0 clamps to the minimum (k >= 1); q = 1.0 is the maximum."""
    vals = list(range(100))
    got = _pctl(spark, vals, qs=(1, 1000000))
    assert got[1] == 0.0 and got[1000000] == 99.0


# ---------------------------------------------------------------------------
# OLS trend sufficient statistics (fourth session)
# ---------------------------------------------------------------------------

def test_trend_slope_hand_recompute(spark):
    """slope_num/slope_den must equal the closed form recomputed from
    the monthly series, and den must be positive whenever a nation has
    >= 2 distinct months."""
    rows = _run(spark, "trend_monthly_revenue").collect()
    assert rows
    got = {r["n_name"]: r for r in rows}
    import duckdb
    con = duckdb.connect()
    for t in ("orders", "customer", "nation"):
        con.sql(f"CREATE VIEW {t} AS FROM '{SF}/{t}.parquet'")
    m = con.sql("""
        SELECT n_name,
               (year(o_orderdate)-1992)*12 + month(o_orderdate)-1 AS x,
               sum(CAST(round(o_totalprice*100) AS BIGINT)) AS y
        FROM orders JOIN customer ON o_custkey=c_custkey
        JOIN nation ON c_nationkey=n_nationkey GROUP BY n_name, x
    """).fetchall()
    series = {}
    for name, x, y in m:
        series.setdefault(name, []).append((int(x), int(y)))
    for name, pts in series.items():
        n = len(pts)
        sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts); sxx = sum(x * x for x, _ in pts)
        r = got[name]
        assert (r["n_months"], r["revenue_cents"]) == (n, sy)
        assert r["slope_num"] == n * sxy - sx * sy
        assert r["slope_den"] == n * sxx - sx * sx
        if n >= 2:
            assert r["slope_den"] > 0


# ---------------------------------------------------------------------------
# JL projection distortion (fourth session)
# ---------------------------------------------------------------------------

def test_jl_basis_vectors_distort_exactly_zero(spark):
    """For a +/-1 sign matrix, ||P e_i||^2 = k exactly — every basis
    vector's ratio is exactly 1e6 ppm (the projection math in minature,
    bit-exact)."""
    signs = q._jl_signs()
    k, d = q._JL_K, q._JL_D
    for i in (0, 17, 63):
        vec = [0.0] * d
        vec[i] = 1.0
        qv = [int(x * 1000 // 1) for x in vec]
        pn = sum(sum(signs[j][t] * qv[t] for t in range(d)) ** 2
                 for j in range(k))
        qn = sum(x * x for x in qv)
        assert pn * 1_000_000 // (k * qn) == 1_000_000


def test_jl_catalog_mean_ratio_near_unity(spark):
    """E[ratio] = 1e6; with ~50 vectors per label the mean must land
    well inside +/-20%, and every ratio is positive."""
    rows = _run(spark, "embedding_jl_distortion").collect()
    assert rows
    for r in rows:
        mean = r["sum_ratio_ppm"] / r["n_vecs"]
        assert 800_000 < mean < 1_200_000, (r["label"], mean)
        assert 0 < r["min_ratio_ppm"] <= r["max_ratio_ppm"]
