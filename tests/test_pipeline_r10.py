"""Round-10 operators: the containment-oriented candidate index
(one-sided MinHash probes), RRF hybrid retrieval fusion, and the
quality-classifier fit/serve tier.  Operator-level math on constructed
inputs + recall pins vs exact recomputes (full value equality vs DuckDB
is tools/check_oracles.py)."""

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark import pipeline_queries as qcat
from datafusion_monoid_spark.operators import dedup as dd

SF001 = "/root/testdata/sf0.001"
SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def cat():
    return qcat.catalog()


# ---------------------------------------------------------------------------
# containment probe index (dedup_containment_lsh)
# ---------------------------------------------------------------------------

def _probe_candidates(spark, rows):
    """Candidate pairs from the probe index over a constructed
    (doc_id, text) corpus."""
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    hashed = dd.shingle_hashes(docs, "doc_id", dd.word_shingles("text"))
    return {(r["id_a"], r["id_b"]) for r in
            dd.containment_probe_candidates(hashed, "doc_id").collect()}


def _banded_candidates(spark, rows):
    """Candidate pairs from the JACCARD-banded index (the sibling
    entry's candidate stage) over the same constructed corpus."""
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sigs = dd.minhash_signatures(docs, "doc_id", "text")
    return {(r["id_a"], r["id_b"]) for r in
            dd.lsh_candidate_pairs(sigs, "doc_id")
            .select("id_a", "id_b").collect()}


def _quoted_corpus():
    """Doc 1 is SHORT; doc 2 quotes ALL of doc 1 inside ~20x unrelated
    filler — containment(1 in 2) = 1.0 but Jaccard ~ 0.05, the exact
    construction that is invisible to banded MinHash.
    Docs 3+ are unrelated background."""
    quote = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(5))
    filler = " ".join(f"noise{i} word{i} pad{i}" for i in range(100))
    rows = [(1, quote), (2, quote + " " + filler)]
    rows += [(10 + k, " ".join(f"bg{k}x{i} item{k}y{i}" for i in range(30)))
             for k in range(8)]
    return rows


def test_probe_index_catches_quoted_pair(spark):
    """The new index MUST bucket the high-containment/low-Jaccard pair."""
    assert (1, 2) in _probe_candidates(spark, _quoted_corpus())


def test_banded_index_misses_quoted_pair(spark):
    """The documented caveat is REAL: the Jaccard-banded candidate
    stage does not bucket the quoted pair this round's index exists to
    catch (deterministic hashing — this is a fixed property of the
    constructed corpus, not a flaky probability)."""
    assert (1, 2) not in _banded_candidates(spark, _quoted_corpus())


def test_probe_index_no_self_or_dup_pairs(spark):
    cands = _probe_candidates(spark, _quoted_corpus())
    assert all(a < b for a, b in cands)


def test_containment_lsh_recall_vs_exact(spark, cat):
    """Recall floor vs the EXACT all-pairs containment criterion on the
    real sf0.001 corpus: every pair with max-direction containment
    >= 0.6 must be reported by the entry.  Theory says miss probability
    4.3e-7 per pair at 16 probes; the pin allows one miss per ~50 pairs
    so corpus regeneration cannot flake it."""
    docs = (spark.read.parquet(f"{SF001}/documents.parquet")
            .select("doc_id",
                    F.array_distinct(dd.word_shingles("text")).alias("shg"))
            .where(F.size("shg") > 0))
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect("a.shg", "b.shg")).cast("bigint")
    exact = {(r["id_a"], r["id_b"]) for r in
             (a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))  # test-only all-pairs oracle (500 docs)
              .select(F.col("a.doc_id").alias("id_a"),
                      F.col("b.doc_id").alias("id_b"),
                      (inter * 1_000_000).alias("i_micro"),
                      F.size("a.shg").cast("bigint").alias("n_a"),
                      F.size("b.shg").cast("bigint").alias("n_b"))
              .where((F.col("i_micro") >= 600_000 * F.col("n_a"))
                     | (F.col("i_micro") >= 600_000 * F.col("n_b")))
              ).collect()}
    got = {(r["id_a"], r["id_b"]) for r in
           cat["dedup_containment_lsh"][0](spark, SF001).collect()}
    assert exact, "fixture corpus lost its containment pairs"
    recall = len(exact & got) / len(exact)
    assert recall >= 0.98, f"containment candidate recall {recall}"
    # and the entry never reports a pair the exact criterion rejects
    assert got <= exact


# ---------------------------------------------------------------------------
# hybrid RRF fusion
# ---------------------------------------------------------------------------

def test_rrf_fusion_math_and_provenance(spark, cat):
    """Every reported fused score must equal the floor-division RRF of
    its two reported per-list ranks (0 = absent from that list), and a
    doc on BOTH lists must outrank a same-rank doc on one list."""
    rows = cat["hybrid_rrf_fusion"][0](spark, SF).collect()
    assert rows and len(rows) <= 10
    S, K = qcat._RRF_SCALE, qcat._RRF_KCONST

    def c(rank):
        return 0 if rank == 0 else S // (K + rank)

    for r in rows:
        assert r["rrf_pico"] == c(r["rank_lex"]) + c(r["rank_sem"])
        assert r["rank_lex"] > 0 or r["rank_sem"] > 0
    # ranks are 1..n in fused order
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    picos = [r["rrf_pico"] for r in rows]
    assert picos == sorted(picos, reverse=True)


def test_rrf_fusion_serve_plan(spark, cat):
    """Both legs must keep their serve shapes through the fusion: the
    tiny df/totals/fusion joins broadcast, the final top-10 is
    TakeOrderedAndProject, and no corpus-vs-corpus sort-merge or
    cartesian appears anywhere."""
    df = cat["hybrid_rrf_fusion"][0](spark, SF)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


# ---------------------------------------------------------------------------
# quality classifier fit/serve tier
# ---------------------------------------------------------------------------

def test_quality_clf_model_math(spark):
    """Exact token-weight arithmetic on a constructed labeled corpus:
    a curated-only token scores (c_pos+1)e6 // 1, a raw-only token
    1e6 // (c_neg+1), a balanced token exactly neutral 1e6."""
    rows = [(1, "gold gold the", "src0"), (2, "gold gold the", "src1"),
            (3, "spam the", "src15"), (4, "spam the", "src16"),
            (5, "unlabeled text here", "src9")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    m = {r["token"]: r for r in qcat._qc_model_df(docs).collect()}
    assert set(m) == {"gold", "spam", "the"}  # unlabeled docs never train
    assert (m["gold"]["c_pos"], m["gold"]["c_neg"]) == (4, 0)
    assert m["gold"]["w_micro"] == 5_000_000
    assert (m["spam"]["c_pos"], m["spam"]["c_neg"]) == (0, 2)
    assert m["spam"]["w_micro"] == 1_000_000 // 3
    assert (m["the"]["c_pos"], m["the"]["c_neg"]) == (2, 2)
    assert m["the"]["w_micro"] == 1_000_000


def test_quality_clf_separates_training_strata(spark, cat):
    """The served classifier must separate its own training strata on
    the real corpus: mean avg-score over positive sources strictly
    above mean over negative sources."""
    rows = {r["source"]: r for r in
            cat["quality_clf_score"][0](spark, SF).collect()}
    assert set(rows) == {f"src{i}" for i in range(20)}
    pos = [rows[s]["avg_score_micro"] for s in qcat._QC_POS_SOURCES]
    neg = [rows[s]["avg_score_micro"] for s in qcat._QC_NEG_SOURCES]
    assert sum(pos) / len(pos) > sum(neg) / len(neg)


def test_containment_lsh_superset_of_banded_entry(spark, cat):
    """On the real corpus the probe-indexed entry must dominate the
    Jaccard-banded entry — same exact verify, strictly better-or-equal
    candidate recall for containment."""
    banded = {(r["id_a"], r["id_b"]) for r in
              cat["dedup_containment_pairs"][0](spark, SF).collect()}
    probed = {(r["id_a"], r["id_b"]) for r in
              cat["dedup_containment_lsh"][0](spark, SF).collect()}
    assert banded <= probed


# ---------------------------------------------------------------------------
# containment-index pair (build / screen)
# ---------------------------------------------------------------------------

def _screen(spark, old_rows, new_rows):
    """Run the screen kernel over constructed old/new corpora, index
    relations built in-session exactly as the artifact build does."""
    old = spark.createDataFrame(old_rows, "doc_id bigint, text string")
    new = spark.createDataFrame(new_rows, "doc_id bigint, text string")
    oh = dd.shingle_hashes(old, "doc_id",
                           dd.word_shingles("text")).distinct()
    out = qcat._containment_screen_kernel(
        new, oh, dd.probe_argmins_long(oh, "doc_id"))
    return {(r["new_id"], r["old_id"]):
            (r["cont_new_in_old_micro"], r["cont_old_in_new_micro"])
            for r in out.collect()}


_QUOTE = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(5))
_FILLER = " ".join(f"noise{i} word{i} pad{i}" for i in range(100))
_BG = [(3 + 7 * k, " ".join(f"bg{k}x{i} item{k}y{i}" for i in range(30)))
       for k in range(8)]  # ids avoid % 11 == 0


def test_screen_catches_new_quoted_in_old(spark):
    """A short NEW doc fully quoted inside a long INDEXED doc must be
    caught with containment(new in old) exactly 1.0 — the direction
    the new side's own probes estimate."""
    got = _screen(spark, [(1, _QUOTE + " " + _FILLER)] + _BG,
                  [(11, _QUOTE)])
    assert (11, 1) in got and got[(11, 1)][0] == 1_000_000


def test_screen_catches_old_quoted_in_new(spark):
    """A short INDEXED doc fully quoted inside a long NEW doc must be
    caught with containment(old in new) exactly 1.0 — the direction
    only the artifact's precomputed INDEX-side probes can see (the
    new side's probes mostly land in its filler)."""
    got = _screen(spark, [(1, _QUOTE)] + _BG,
                  [(11, _QUOTE + " " + _FILLER)])
    assert (11, 1) in got and got[(11, 1)][1] == 1_000_000


def test_screen_recall_vs_exact_cross_split(spark, cat):
    """Recall floor on the real sf0.001 corpus: every cross-split pair
    with max-direction exact containment >= 0.6 must be reported by
    the screen entry (test-only all-pairs oracle, 500 docs)."""
    docs = (spark.read.parquet(f"{SF001}/documents.parquet")
            .select("doc_id",
                    F.array_distinct(dd.word_shingles("text")).alias("shg"))
            .where(F.size("shg") > 0))
    new = docs.where(F.col("doc_id") % 11 == 0).alias("a")
    old = docs.where(F.col("doc_id") % 11 != 0).alias("b")
    inter = F.size(F.array_intersect("a.shg", "b.shg")).cast("bigint")
    exact = {(r["new_id"], r["old_id"]) for r in
             (new.join(old, F.lit(True))
              .select(F.col("a.doc_id").alias("new_id"),
                      F.col("b.doc_id").alias("old_id"),
                      (inter * 1_000_000).alias("i_micro"),
                      F.size("a.shg").cast("bigint").alias("n_a"),
                      F.size("b.shg").cast("bigint").alias("n_b"))
              .where((F.col("i_micro") >= 600_000 * F.col("n_a"))
                     | (F.col("i_micro") >= 600_000 * F.col("n_b")))
              ).collect()}
    got = {(r["new_id"], r["old_id"]) for r in
           cat["dedup_containment_screen"][0](spark, SF001).collect()}
    assert exact, "fixture corpus lost its cross-split containment pairs"
    assert len(exact & got) / len(exact) >= 0.98
    assert got <= exact  # never a pair the exact criterion rejects


def test_containment_index_serves_without_refit(spark, cat):
    """After the build entry publishes the artifacts, the screen must
    SERVE them — both _SUCCESS mtimes unchanged across a screen call
    (a refit here is the in-plan-rebuild regression class)."""
    import os
    cat["containment_index_build"][0](spark, SF001).collect()
    ipath, ppath = (qcat._artifact_path(SF001, "contain_index"),
                    qcat._artifact_path(SF001, "contain_probes"))
    before = tuple(os.path.getmtime(os.path.join(p, "_SUCCESS"))
                   for p in (ipath, ppath))
    cat["dedup_containment_screen"][0](spark, SF001).collect()
    after = tuple(os.path.getmtime(os.path.join(p, "_SUCCESS"))
                  for p in (ipath, ppath))
    assert before == after
