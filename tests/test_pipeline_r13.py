"""Round-13 operators: the duplication pre-probe on the capped
containment entry and the exact-key index
lifecycle (item 2).  Operator-level behavior on constructed corpora;
full value equality vs DuckDB is tools/check_oracles.py.
"""

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark import pipeline_queries as qcat
from datafusion_monoid_spark.operators import dedup as dd

SF001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def cat():
    return qcat.catalog()


# ---------------------------------------------------------------------------
# duplication pre-probe
# ---------------------------------------------------------------------------

def test_candidate_guard_math():
    # under budget: returns the estimate, no raise
    assert dd.containment_candidate_guard(1000, 1.0, budget=10**6) == 16_000
    # dup factor floors at 1.0 (approx-distinct can overcount slightly)
    assert dd.containment_candidate_guard(1000, 0.7, budget=10**6) == 16_000
    # over budget: actionable error naming the in-catalog cascade cure
    with pytest.raises(RuntimeError, match="pipeline_containment_screen"):
        dd.containment_candidate_guard(5_000_000, 100.0)
    # the MEASURED regimes: the sf10 x100-clone DNF (500k docs, dup
    # factor 98 -> est 7.8e8) trips the default budget; the sf1
    # x10-clone tier (50k docs, dup 10 -> 8e6, completes in 8.4 s)
    # and a clone-light 5M-doc corpus (8e7) do not
    with pytest.raises(RuntimeError, match="pipeline_containment_screen"):
        dd.containment_candidate_guard(500_000, 98.0)
    assert dd.containment_candidate_guard(50_000, 10.0) == 8_000_000
    assert dd.containment_candidate_guard(5_000_000, 1.0) == 80_000_000


def test_capped_entry_refuses_clone_heavy_corpus(spark, tmp_path,
                                                 monkeypatch, cat):
    """The standalone capped entry must FAIL FAST on a clone-heavy
    corpus — one cheap agg, an error naming the cascade — instead of
    exhausting disk in the candidate exchange (the sf10 x100-clone
    DNF, BASELINE.md r12)."""
    uniq = [" ".join(f"grp{g}tok{i} word{i} unit{i}" for i in range(8))
            for g in range(30)]
    rows = [(g * 100 + c, uniq[g]) for g in range(30) for c in range(40)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sf_dir = str(tmp_path)
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    # 1200 docs x 16 probes x dup factor 40 = 768k estimated rows;
    # shrink the budget below it so the constructed corpus plays the
    # role of the sf10 x100-clone tier
    monkeypatch.setattr(dd, "CONTAIN_CAND_BUDGET", 500_000)
    fn = cat["dedup_containment_lsh_capped"][0]
    with pytest.raises(RuntimeError,
                       match="pipeline_containment_screen"):
        fn(spark, sf_dir)


def test_exactkey_append_generations_disjoint(spark, cat):
    """The appended generation must hold exactly the batch's NOVEL
    distinct keys — disjoint from base, and equal to batch-keys minus
    base-keys recomputed from the corpus."""
    cat["exactkey_postings_append"][0](spark, SF001).collect()
    base = {r["dup_key"] for r in spark.read.parquet(
        qcat._artifact_path(SF001, "exact_key_index")).collect()}
    app = {r["dup_key"] for r in spark.read.parquet(
        qcat._artifact_path(SF001, "exact_keys_new")).collect()}
    assert base and app and not base & app
    docs = qcat._docs(spark, SF001)
    batch_keys = {r["dup_key"] for r in
                  dd.exact_dedup_keys(
                      docs.where(F.col("doc_id") % 11 == 0), "text")
                  .select("dup_key").distinct().collect()}
    assert app == batch_keys - base


def test_exactkey_compact_equals_from_scratch(spark, cat):
    """compact(base ∪ appended generation) must be ROW-IDENTICAL to
    DISTINCT keys over the WHOLE corpus — the strongest identity of
    the four index families (keys are per-doc deterministic), pinned
    key-for-key, not just digest-for-digest."""
    cat["exactkey_postings_compact"][0](spark, SF001).collect()
    comp = sorted(r["dup_key"] for r in spark.read.parquet(
        qcat._artifact_path(SF001, "exact_keys_compacted")).collect())
    scratch = sorted(
        r["dup_key"] for r in
        dd.exact_dedup_keys(qcat._docs(spark, SF001), "text")
        .select("dup_key").distinct().collect())
    assert comp == scratch and comp


# ---------------------------------------------------------------------------
# occupancy-derived hot-bucket cap on the banded-LSH join (r12 item 7)
# ---------------------------------------------------------------------------

def test_lsh_cap_noop_on_driver_corpus(spark, cat):
    """On the driver corpus (p99 = 2, max_occ <= 5, derived cap 16)
    the cap must drop NOTHING: capped == uncapped pair-for-pair, and
    the accounting reports zero dropped buckets/rows."""
    rep = cat["dedup_lsh_occupancy_capped"][0](spark, SF001).collect()
    assert rep and all(r["n_dropped_buckets"] == 0
                       and r["n_dropped_rows"] == 0 for r in rep)
    assert all(r["cap"] == dd.LSH_CAP_FLOOR for r in rep)
    sigs, _ = qcat._minhash_shared(spark, SF001)
    capped = {(r["id_a"], r["id_b"]) for r in
              dd.lsh_candidate_pairs(sigs, "doc_id",
                                     max_bucket=rep[0]["cap"]).collect()}
    uncapped = {(r["id_a"], r["id_b"]) for r in
                dd.lsh_candidate_pairs(sigs, "doc_id").collect()}
    assert capped == uncapped
    assert rep[0]["n_pairs"] == len(uncapped)


def test_lsh_cap_bounds_boilerplate_family(spark, tmp_path, cat):
    """The boilerplate regime the cap exists for: ONE hot
    near-identical family (60 exact-text docs -> 16 buckets of occ 60)
    while the occupancy body stays thin (p99 = 1, cap = 16).  The cap
    must drop exactly the family's buckets, remove its quadratic
    60*59/2 pair mass, and account for the drop per band."""
    boiler = " ".join(f"tos{i} clause{i} legal{i}" for i in range(6))
    rows = [(i, boiler) for i in range(60)]
    rows += [(100 + i, " ".join(f"u{100+i}w{j} v{100+i}x{j} y{100+i}z{j}"
                                for j in range(6)))
             for i in range(120)]
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows, "doc_id bigint, text string") \
        .write.parquet(f"{sf_dir}/documents.parquet")
    rep = cat["dedup_lsh_occupancy_capped"][0](spark, sf_dir).collect()
    assert sum(r["n_dropped_buckets"] for r in rep) == dd.MINHASH_BANDS
    assert sum(r["n_dropped_rows"] for r in rep) == 60 * dd.MINHASH_BANDS
    # the 60*59/2 = 1770 boilerplate pairs are gone from the capped set
    assert rep[0]["n_pairs"] < 1770
    sigs = dd.minhash_signatures(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        "doc_id", "text")
    uncapped = dd.lsh_candidate_pairs(sigs, "doc_id").count()
    assert uncapped >= 1770 + rep[0]["n_pairs"]


def test_lsh_occupancy_entry_refuses_clone_heavy_corpus(spark, tmp_path,
                                                        monkeypatch,
                                                        cat):
    """Uniform cloning is the regime the occupancy cap deliberately
    cannot bound (p99 lifts with max), so the entry must FAIL FAST via
    the duplication pre-probe — same contract as the capped
    containment entry — rather than die in the bucket self-join."""
    uniq = [" ".join(f"c{g}a{i} c{g}b{i} c{g}d{i}" for i in range(6))
            for g in range(30)]
    rows = [(g * 100 + c, uniq[g]) for g in range(30) for c in range(40)]
    spark.createDataFrame(rows, "doc_id bigint, text string") \
        .write.parquet(f"{tmp_path}/documents.parquet")
    monkeypatch.setattr(dd, "CONTAIN_CAND_BUDGET", 500_000)
    with pytest.raises(RuntimeError,
                       match="dedup_lsh_occupancy_capped.*"
                             "pipeline_containment_screen"):
        cat["dedup_lsh_occupancy_capped"][0](spark, str(tmp_path))


def test_lsh_cap_plan_broadcasts_drop_list(spark):
    """The guard's exchange posture: the drop-list filter must be a
    BROADCAST anti-join (the hot-bucket list is small by definition) —
    a sort-merge anti-join here means the corpus-sized banded relation
    shuffled against its own bucket census."""
    from datafusion_monoid_spark.plans.inspect import explain_str

    sigs, _ = qcat._minhash_shared(spark, SF001)
    plan = explain_str(
        dd.lsh_candidate_pairs(sigs, "doc_id", max_bucket=16))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


# ---------------------------------------------------------------------------
# BM25 term-postings lifecycle (fifth index family) + serve proof
# ---------------------------------------------------------------------------

def test_bm25_compact_equals_from_scratch(spark, cat):
    """compact(base ∪ appended) must be ROW-IDENTICAL to from-scratch
    postings over the whole corpus — postings are per-doc
    deterministic, so the identity is exact, not just digest-level."""
    cat["bm25_postings_compact"][0](spark, SF001).collect()
    comp = sorted(tuple(r) for r in spark.read.parquet(
        qcat._artifact_path(SF001, "bm25_postings_compacted")).collect())
    scratch_p, scratch_l = qcat._bm25_layer(qcat._docs(spark, SF001))
    want = sorted(tuple(r) for r in scratch_p.collect())
    assert comp == want and comp
    lcomp = sorted(tuple(r) for r in spark.read.parquet(
        qcat._artifact_path(SF001, "bm25_doclens_compacted")).collect())
    assert lcomp == sorted(tuple(r) for r in scratch_l.collect())


def test_bm25_serve_equals_from_scratch_ranking(spark, cat):
    """The serve proof: ranking from the maintained index must equal
    the from-scratch ``bm25_rank_topk`` bit-for-bit."""
    got = [tuple(r) for r in
           cat["bm25_serve_from_postings"][0](spark, SF001).collect()]
    want = [tuple(r) for r in
            cat["bm25_rank_topk"][0](spark, SF001).collect()]
    assert got == want and got


def test_bm25_serve_scan_pushes_term_filter(spark, cat):
    """The serve's read posture: the query-term filter must reach the
    postings parquet scan (PushedFilters on token) so the
    token-clustered layout prunes row groups — a post-scan filter
    means the serve decompresses the whole vocabulary."""
    pc, lc = qcat._compact_bm25_index(spark, SF001)
    post = (spark.read.parquet(pc)
            .where(F.col("token").isin(*qcat._BM25_TERMS)))
    plan = post._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(token" in plan


# ---------------------------------------------------------------------------
# drift-triggered refit
# ---------------------------------------------------------------------------

def _write_emb(spark, tmp_path, shift: float) -> str:
    """Embeddings corpus where odd vec_ids (the 'new' half) are offset
    from even ones by ``shift`` per dimension — shift 0.0 is the
    zero-drift corpus (both halves identical per label)."""
    rows = []
    for vid in range(40):
        lab = (vid // 2) % 4  # NOT vid % 4: label must straddle halves
        base = [0.1 * lab + 0.01 * (vid // 8) + d * 0.02
                for d in range(8)]
        if vid % 2 == 1:
            base = [x + shift for x in base]
        rows.append((vid, base, lab))
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int") \
        .write.mode("overwrite").parquet(f"{sf_dir}/embeddings.parquet")
    return sf_dir


def test_refit_decision_flips_with_constructed_drift(spark, tmp_path,
                                                     cat):
    """The refit trigger must HOLD on a drift-free corpus (identical
    old/new halves; recall_hits NULL — the maintenance loop touches
    nothing) and order a REFIT, with the recall verification run, once
    the new half shifts past the threshold."""
    fn = cat["ivf_refit_on_drift"][0]
    try:
        hold = fn(spark, _write_emb(spark, tmp_path / "flat", 0.0)).collect()
        assert len(hold) == 1
        assert hold[0]["decision"] == "hold"
        assert hold[0]["n_drifted"] == 0
        assert hold[0]["recall_hits"] is None

        # threshold is 1e10 micro^2 over all dims; a 0.05 shift on 8 dims
        # is 8 x (5e4)^2 = 2e10 — past it
        refit = fn(spark, _write_emb(spark, tmp_path / "drift", 0.05)) \
            .collect()
        assert refit[0]["decision"] == "refit"
        assert refit[0]["n_drifted"] == 4  # every label drifted
        assert refit[0]["max_drift_sq"] >= qcat.DRIFT_REFIT_THRESHOLD
        assert refit[0]["recall_hits"] is not None
    finally:
        # the artifacts are keyed by the pytest tmp path: remove them
        # so runs leave no dirs under .artifacts/
        import shutil
        for sub in ("flat", "drift"):
            shutil.rmtree(qcat._artifact_path(str(tmp_path / sub),
                                              "ivf_centroids_refit"),
                          ignore_errors=True)


def test_capped_entry_unchanged_on_clone_light_corpus(spark, cat):
    """On a clone-light corpus (every driver tier: dup factor ~1) the
    guard passes and the result is EXACTLY the pre-guard plan —
    kernel-vs-entry row equality, same cap derivation."""
    fn = cat["dedup_containment_lsh_capped"][0]
    got = {tuple(r) for r in fn(spark, SF001).collect()}
    docs = qcat._docs(spark, SF001)
    cap = max(qcat._CONTAIN_MAX_DF, docs.count() // 100)
    hashed = dd.shingle_hashes(docs, "doc_id", dd.word_shingles("text"))
    cand = dd.containment_probe_candidates(hashed, "doc_id", max_df=cap)
    want = {tuple(r) for r in
            qcat._containment_exact_verify(docs, cand).collect()}
    assert got == want
