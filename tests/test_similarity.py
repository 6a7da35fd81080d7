"""Similarity-search tests: exact-tier equivalence and measured ANN recall."""

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def brute(spark, emb):
    q = emb.where(F.col("vec_id") < 20)
    return sim.brute_force_topk(emb, q, k=5).collect()


def _as_sets(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["cand_id"])
    return out


def test_numpy_tier_matches_expression_tier(spark, emb, brute):
    q = emb.where(F.col("vec_id") < 20)
    np_rows = sim.brute_force_topk_np(emb, q, k=5).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["cand_id"], r["sim"]) for r in rows)
    assert key(np_rows) == key(brute)


def test_topk_shape(brute):
    per_q = _as_sets(brute)
    assert len(per_q) == 20
    assert all(len(s) == 5 for s in per_q.values())
    # no self-matches
    assert all(q not in s for q, s in per_q.items())


@pytest.mark.parametrize("ann,kwargs,floor", [
    (sim.lsh_bucket_topk, {}, 0.7),
    (sim.ivf_topk, {}, 0.7),
])
def test_ann_recall_measured(spark, emb, brute, ann, kwargs, floor):
    """ANN tiers must hit a measured recall floor vs brute force on
    near-random vectors (a weak floor by construction — real embedding
    clusters recall far higher; the point is the plumbing is sound and
    recall is nonzero, i.e. buckets/probes actually find neighbors)."""
    q = emb.where(F.col("vec_id") < 20)
    got = _as_sets(ann(emb, q, k=5, **kwargs).collect())
    want = _as_sets(brute)
    hits = sum(len(got.get(qid, set()) & want[qid]) for qid in want)
    recall = hits / (len(want) * 5)
    assert recall >= floor, f"recall {recall:.2f} below floor {floor}"


def test_kmeans_quantized_is_deterministic_and_learns(spark):
    """Two runs produce identical centroids (the reproducibility claim);
    three rounds move every centroid away from its seed vector; and
    quantized inertia does not increase round over round."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got1 = {(r.cid, r.pos): r.val
            for r in sim.kmeans_lloyd_quantized(e, k=8, iters=3).collect()}
    got2 = {(r.cid, r.pos): r.val
            for r in sim.kmeans_lloyd_quantized(e, k=8, iters=3).collect()}
    assert got1 == got2
    assert len(got1) == 8 * 64
    seeds = {(r.cid, r.pos): r.val
             for r in sim.kmeans_lloyd_quantized(e, k=8, iters=0).collect()}
    assert got1 != seeds

    def inertia(iters):
        cents = sim.kmeans_lloyd_quantized(e, k=8, iters=iters)
        cv = (cents.groupBy("cid")
              .agg(F.transform(F.array_sort(F.collect_list(
                  F.struct("pos", "val"))), lambda t: t["val"]).alias("cv")))
        v = e.select(sim.quantize_micro("embedding").alias("v"))
        d = (v.crossJoin(F.broadcast(cv))
             .select(sim._sqdist_micro(F.col("v"), F.col("cv")).alias("d"),
                     "v"))
        # nearest-centroid distance per vector, summed
        from pyspark.sql import Window as W
        import pyspark.sql.functions as FF
        return (d.groupBy("v").agg(FF.min("d").alias("dm"))
                .agg(FF.sum("dm")).first()[0])

    i1, i2, i3 = inertia(1), inertia(2), inertia(3)
    assert i2 <= i1 and i3 <= i2


def test_ivf_kmeans_recall_vs_bruteforce(spark):
    """Learned-centroid IVF at the CATALOG's parameters (nprobe=7 of 8,
    raised 4 -> 6 -> 7 as BENCH measured recall@5 0.8 -> 0.93 -> 0.97 at
    sf0.1) must keep a recall@5 floor of 0.95 vs the exact brute-force
    result — the pinned gate that keeps parameter drift from silently
    degrading quality (lifted from 0.9)."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.where(F.col("vec_id") < 10)
    exact = {(r.query_id, r.cand_id)
             for r in sim.brute_force_topk(e, q, k=5).collect()}
    cents = sim.kmeans_lloyd_quantized(e, k=8, iters=3)
    cv = (cents.groupBy(F.col("cid").alias("cent_id"))
          .agg(F.transform(F.array_sort(F.collect_list(
              F.struct("pos", "val"))), lambda t: t["val"] / 1000000.0)
              .alias("cent")))
    approx = {(r.query_id, r.cand_id)
              for r in sim.ivf_topk(e, q, k=5, nprobe=7,
                                    centroids=cv).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, recall


def test_pretrained_serve_replays_fused_entry(spark):
    """Fit/serve split: the serve path against
    persisted centroids must replay the fused fit+search entry
    bit-for-bit — persisted == refit (deterministic quantized fit) and
    the literal-centroid plan reproduces every tie-break."""
    from datafusion_monoid_spark import pipeline_queries as qcat

    cat = qcat.catalog()
    fused = cat["sim_topk_ivf_kmeans"][0](spark, SF).collect()
    cat["sim_ivf_fit_centroids"][0](spark, SF).collect()   # (re)persist
    served = cat["sim_topk_ivf_pretrained"][0](spark, SF).collect()
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["sim"]) for r in rows)
    assert key(served) == key(fused)


def test_pretrained_serve_plan_is_map_only_assignment(spark):
    """The serve plan's contract: nearest-centroid assignment is a pure
    projection against literal centroids (no crossJoin, no assignment
    shuffle); the ONLY hash exchange is the per-query top-k window, and
    the probe side broadcasts."""
    from datafusion_monoid_spark import pipeline_queries as qcat

    cat = qcat.catalog()
    cat["sim_ivf_fit_centroids"][0](spark, SF).collect()
    df = cat["sim_topk_ivf_pretrained"][0](spark, SF)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # partial top-k below the exchange: bounded rows move per query
    assert "WindowGroupLimit" in p


def test_pq_adc_rerank_recall(spark, emb, brute):
    """PQ ADC+R (4-bit codes, 16 subspaces, shortlist 50, exact
    re-rank) must hold recall@5 >= 0.9 vs exact brute force — measured
    0.95 at sf0.001 AND sf0.01 when pinned (round 6).  Pure ADC
    without the re-rank measured ~0.22 on these structureless
    near-uniform vectors, which is why the two-stage form is the
    shipped entry; this floor guards both the codebook quality and the
    shortlist width against parameter drift."""
    from datafusion_monoid_spark.operators import pq as pqm

    q = emb.where(F.col("vec_id") < 20)
    sub = pqm.subvectors(emb)
    cents = pqm.pq_fit(sub)
    got = {}
    for r in pqm.pq_adc_rerank_topk(emb, sub, cents, q, k=5).collect():
        got.setdefault(r.q_id, set()).add(r.vec_id)
    want = _as_sets(brute)
    hits = sum(len(got.get(qid, set()) & want[qid]) for qid in want)
    recall = hits / (len(want) * 5)
    assert recall >= 0.9, f"PQ ADC+R recall {recall:.2f} below floor 0.9"


def test_pq_ivfadc_recall(spark, emb, brute):
    """IVFADC (nprobe 7 of 8 + ADC shortlist + exact re-rank) must
    hold recall@5 >= 0.93 vs exact brute force — measured 0.99 here /
    0.95 at sf0.1 after the nprobe 6 -> 7 lift (raw codes at nprobe 6
    measured 0.90/0.91, the family's floor two rounds running).  On
    these structureless near-uniform vectors a query's true neighbors
    spread across coarse cells (the same effect
    that pushed the plain-IVF tier to nprobe 7/8), and the extra probe
    — not finer codes — is what buys the recall back: the scored
    candidate set grows ~17% for no measurable wall change because the
    driver-literal fits dominate the entry."""
    from datafusion_monoid_spark import pipeline_queries as qcat

    got = {}
    fn, _ = qcat.catalog()["pq_ivfadc_topk"]
    for r in fn(spark, SF).collect():
        got.setdefault(r.q_id, set()).add(r.vec_id)
    want = _as_sets(brute)
    hits = sum(len(got.get(qid, set()) & want[qid]) for qid in want)
    recall = hits / (len(want) * 5)
    assert recall >= 0.93, f"IVFADC recall {recall:.2f} below floor 0.93"


def test_pq_ivfadc_residual_recall(spark, emb, brute):
    """Residual-encoded IVFADC (Jegou et al. 2011 §IV.B, the FAISS
    IndexIVFPQ default) must hold recall@5 >= 0.9 vs exact brute
    force — measured 0.95 at sf0.01 and 0.93 at sf0.1 when pinned
    (round 7), vs the raw-code variant's 0.91 / 0.90 at the same
    nprobe 6 and shortlist: coding ``x - coarse_centroid(x)`` spends
    the same 16 x 4-bit budget on the within-cell spread instead of
    absolute position.  The residual gain is bounded here by probe
    coverage (nprobe 6 of 8 on structureless vectors leaves true
    neighbors in unprobed cells), which is the raw variant's
    documented trade — clustered production embeddings see larger
    gains at equal probes."""
    from datafusion_monoid_spark import pipeline_queries as qcat

    got = {}
    fn, _ = qcat.catalog()["pq_ivfadc_residual_topk"]
    for r in fn(spark, SF).collect():
        got.setdefault(r.q_id, set()).add(r.vec_id)
    want = _as_sets(brute)
    hits = sum(len(got.get(qid, set()) & want[qid]) for qid in want)
    recall = hits / (len(want) * 5)
    assert recall >= 0.9, \
        f"residual IVFADC recall {recall:.2f} below floor 0.9"


def test_pq_opq_ivfadc_recall_and_isometry(spark, emb, brute):
    """OPQ-rotated residual IVFADC (Ge et al. 2013; randomized-Hadamard
    rotation) must hold recall@5 >= 0.9 — measured 0.93 at sf0.1,
    EQUAL to the unrotated residual tier at the same bits/probes (the
    corpus is isotropic by construction, so the rotation's
    energy-balancing has nothing to balance; the entry demonstrates
    the exact-integer rotation plumbing).  The rotation is an exact
    isometry up to the uniform scale 64, so recall can never degrade
    through the rotation itself — only through fit differences in
    rotated space."""
    from datafusion_monoid_spark import pipeline_queries as qcat

    got = {}
    fn, _ = qcat.catalog()["pq_opq_ivfadc_topk"]
    for r in fn(spark, SF).collect():
        got.setdefault(r.q_id, set()).add(r.vec_id)
    want = _as_sets(brute)
    hits = sum(len(got.get(qid, set()) & want[qid]) for qid in want)
    recall = hits / (len(want) * 5)
    assert recall >= 0.9, \
        f"OPQ IVFADC recall {recall:.2f} below floor 0.9"


def test_opq_rotation_kernel_matches_expression(spark):
    """The r14 NumPy-matmul rotation kernel must be BIT-IDENTICAL to
    the r13 interpreted aggregate(zip_with) fold it replaced — integer
    addition is associative, so any evaluation order agrees exactly;
    this pin catches a quantization or sign-matrix drift."""
    from datafusion_monoid_spark import pipeline_queries as qcat

    e = qcat._emb(spark, SF).where(F.col("vec_id") < 40)
    got = {r["vec_id"]: list(r["embedding"])
           for r in qcat._opq_rotated(e).collect()}
    want = {r["vec_id"]: list(r["embedding"])
            for r in qcat._opq_rotated_expr(e).collect()}
    assert got and got == want


def test_opq_rotation_is_exact_isometry(spark):
    """||Rx - Ry||^2 == 64 * ||x - y||^2 exactly, in integers — the
    property that lets the rotated chain share the residual oracle
    with only the vecs CTE swapped."""
    from datafusion_monoid_spark import pipeline_queries as qcat
    from datafusion_monoid_spark.operators.similarity import (
        _sqdist_micro,
        quantize_micro,
    )

    e = qcat._emb(spark, SF).where(F.col("vec_id") < 4)
    raw = e.select("vec_id", quantize_micro("embedding").alias("v"))
    rot = qcat._opq_rotated(e).select(
        "vec_id", F.col("embedding").alias("v"))
    a = raw.alias("a").join(raw.alias("b"),
                            F.col("a.vec_id") < F.col("b.vec_id"))
    d_raw = {(r[0], r[1]): r[2] for r in a.select(
        "a.vec_id", "b.vec_id",
        _sqdist_micro(F.col("a.v"), F.col("b.v"))).collect()}
    b = rot.alias("a").join(rot.alias("b"),
                            F.col("a.vec_id") < F.col("b.vec_id"))
    d_rot = {(r[0], r[1]): r[2] for r in b.select(
        "a.vec_id", "b.vec_id",
        _sqdist_micro(F.col("a.v"), F.col("b.v"))).collect()}
    assert d_raw and d_rot.keys() == d_raw.keys()
    for k, v in d_raw.items():
        assert d_rot[k] == 64 * v, f"pair {k}: {d_rot[k]} != 64*{v}"


# ---------------------------------------------------------------------------
# ABTT post-processing + hard-negative mining
# ---------------------------------------------------------------------------


def test_abtt_removes_variance_every_label(spark):
    """Removing the dominant centered direction must strictly shrink
    the mean squared norm for every label (the direction carries
    positive variance), and the removal must be material corpus-wide —
    the projection magnitude is nonzero."""
    from datafusion_monoid_spark.pipeline_queries import embedding_abtt_whiten
    rows = embedding_abtt_whiten(spark, SF).collect()
    assert len(rows) > 0
    assert all(r["avg_sq_after_milli2"] < r["avg_sq_before_milli2"]
               for r in rows)
    assert any(r["avg_abs_proj_micro"] > 0 for r in rows)


def test_hardneg_negatives_never_share_the_anchor_label(spark):
    from datafusion_monoid_spark.pipeline_queries import hardneg_mining_topk
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in
              e.select("vec_id", "label").collect()}
    rows = hardneg_mining_topk(spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["neg_label"] != labels[r["query_id"]]
        assert r["neg_label"] == labels[r["cand_id"]]


def test_hardneg_margin_excludes_near_positives(spark):
    """Every mined negative must sit strictly below 95% of its
    anchor's best same-label similarity."""
    from datafusion_monoid_spark.pipeline_queries import hardneg_mining_topk
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    full = sim.brute_force_topk(e, e.where(F.col("vec_id") < 20),
                                k=10**6)
    labels = {r["vec_id"]: r["label"] for r in
              e.select("vec_id", "label").collect()}
    pos_best = {}
    for r in full.collect():
        if labels[r["query_id"]] == labels[r["cand_id"]]:
            pos_best[r["query_id"]] = max(
                pos_best.get(r["query_id"], -2.0), r["sim"])
    for r in hardneg_mining_topk(spark, SF).collect():
        # rounded sims: allow the rounding granularity at the boundary
        assert r["sim"] < 0.95 * pos_best[r["query_id"]] + 1e-3


def test_hardneg_np_tier_matches_expression_tier(spark):
    from datafusion_monoid_spark.pipeline_queries import (hardneg_mining_topk,
                                                 hardneg_mining_topk_np)
    a = {tuple(r) for r in hardneg_mining_topk(spark, SF).collect()}
    b = {tuple(r) for r in hardneg_mining_topk_np(spark, SF).collect()}
    assert a == b


def test_hardneg_single_label_corpus_mines_nothing(spark):
    """All anchors share the corpus's only label: no positives'
    complement exists, so the mined set is empty (not an error)."""
    e = (spark.read.parquet(f"{SF}/embeddings.parquet")
         .withColumn("label", F.lit(1)))
    out = sim.hard_negative_topk(e, e.where(F.col("vec_id") < 5), k=3)
    assert out.count() == 0


def test_literal_fit_matches_relational_lloyd(spark):
    """r9: the driver-literal Lloyd (`pq.kmeans_fit_literal` — one job
    per round) is BIT-IDENTICAL to the checkpointed relational chain
    (`sim.kmeans_lloyd_quantized`) on real data: same seeds (k lowest
    ids), same (d, cid) argmin tie-break, same exact floor-division
    update, same empty-cluster carry.  Pinning the equivalence keeps
    either form swappable per corpus shape: measured at sf0.1, the
    literal form WINS for the PQ subspace fits (narrow 4-dim arrays,
    16 groups — r8) but LOSES for the 64-dim coarse fit (the
    interpreted HOF argmin per row costs more than the relational
    chain's checkpoint jobs: 20 s vs 3-6 s), so the coarse-quantizer
    entries keep the relational chain."""
    from datafusion_monoid_spark.operators import pq as pqm

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cl = dict(pqm.kmeans_fit_literal(e, k=8, iters=3))
    rel = sim.kmeans_lloyd_quantized(e, k=8, iters=3)
    by_cid = {}
    for r in rel.collect():
        by_cid.setdefault(int(r["cid"]), []).append(
            (int(r["pos"]), int(r["val"])))
    assert set(cl) == set(by_cid)
    for cid, pv in by_cid.items():
        assert cl[cid] == [v for _, v in sorted(pv)], cid
