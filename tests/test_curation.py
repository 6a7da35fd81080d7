"""Curation-operator semantics: decontamination, repetition features,
TF-IDF scoring, vocabulary coverage — on constructed corpora where the
expected answer is computable by hand, plus plan-shape assertions for
the 100 TB posture (broadcast semi-join, partitioned windows,
TakeOrderedAndProject)."""

import re

import pytest

from pyspark.sql import functions as F

from datafusion_monoid_spark.operators import curation as cu

SF = "/root/testdata/sf0.001"


def _explain(df, mode="simple"):
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


# doc 3 is the "clean" doc: long enough that a 1/n top-token or
# top-bigram fraction stays under the flag thresholds (fraction filters
# only separate spam from prose above a minimum length — at 7 tokens
# even all-distinct text exceeds 12%).
ROWS = [
    (0, "alpha beta gamma delta epsilon zeta", "s0"),
    (1, "alpha beta gamma delta epsilon eta", "s0"),   # shares 4-grams with 0
    (2, "spam spam spam spam spam ham", "s1"),         # repetitive
    (3, "one two three four five six seven eight nine ten eleven twelve "
        "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty",
     "s1"),                                            # all distinct
    (4, "go go go go stop stop go go", "s1"),          # bigram loop
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string, source string")


# ---------------------------------------------------------------------------
# micro_ratio: exactness of the integer-division identity
# ---------------------------------------------------------------------------

def test_micro_ratio_exact(spark):
    df = spark.createDataFrame(
        [(1, 3), (2, 3), (999999, 1000000), (7, 7), (0, 5)], "a long, b long")
    got = df.select(cu.micro_ratio(F.col("a"), F.col("b")).alias("m")) \
            .rdd.map(lambda r: r.m).collect()
    assert got == [333333, 666666, 999999, 1000000, 0]


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

def test_decontamination_finds_planted_overlap(spark, corpus):
    ev = corpus.where(F.col("doc_id") == 0)
    tr = corpus.where(F.col("doc_id") != 0)
    hit = cu.contaminated_ids(cu.ngram_hashes(tr, "doc_id", "text", 4),
                              cu.ngram_hashes(ev, "doc_id", "text", 4),
                              "doc_id")
    # doc 1 shares "alpha beta gamma delta" / "beta gamma delta epsilon"
    assert [r.doc_id for r in hit.collect()] == [1]


def test_decontamination_broadcasts_eval_side(spark, corpus):
    ev = corpus.where(F.col("doc_id") == 0)
    tr = corpus.where(F.col("doc_id") != 0)
    p = _explain(cu.contaminated_ids(cu.ngram_hashes(tr, "doc_id", "text", 4),
                                     cu.ngram_hashes(ev, "doc_id", "text", 4),
                                     "doc_id"))
    # the corpus side must join without shuffling: broadcast LeftSemi
    assert re.search(r"BroadcastHashJoin .*LeftSemi", p)
    assert "SortMergeJoin" not in p


# ---------------------------------------------------------------------------
# repetition features
# ---------------------------------------------------------------------------

def test_repetition_features_hand_computed(spark, corpus):
    feats = {r.doc_id: r for r in
             cu.repetition_features(corpus, "doc_id", "text").collect()}
    # doc 2: "spam"x5 + "ham" -> top token 5/6, distinct 2/6,
    # bigrams: 4x"spam spam" + 1x"spam ham" -> top 4/5
    assert feats[2].n_tokens == 6
    assert feats[2].top_token_micro == 5 * 1_000_000 // 6
    assert feats[2].distinct_micro == 2 * 1_000_000 // 6
    assert feats[2].top_bigram_micro == 4 * 1_000_000 // 5
    # doc 3: everything distinct
    assert feats[3].top_token_micro == 1_000_000 // 20
    assert feats[3].distinct_micro == 1_000_000
    # doc 4: "go"x6 "stop"x2; top bigram "go go" = 4 of 7
    assert feats[4].top_token_micro == 6 * 1_000_000 // 8
    assert feats[4].top_bigram_micro == 4 * 1_000_000 // 7


def test_repetition_flags_split_clean_from_spam(spark, corpus):
    feats = cu.repetition_features(corpus, "doc_id", "text")
    flagged = {r.doc_id for r in feats.where(
        (F.col("top_token_micro") >= cu.TOP_TOKEN_FLAG_MICRO)
        | (F.col("top_bigram_micro") >= cu.TOP_BIGRAM_FLAG_MICRO)
        | (F.col("distinct_micro") <= cu.LOW_DIVERSITY_FLAG_MICRO)).collect()}
    assert 2 in flagged and 4 in flagged
    assert 3 not in flagged


# ---------------------------------------------------------------------------
# TF-IDF
# ---------------------------------------------------------------------------

def test_tfidf_scores(spark, corpus):
    sc = {(r.grp, r.token): r for r in
          cu.tfidf_terms(corpus, "source", "text", n_groups=2).collect()}
    # "alpha" appears twice in s0 only: tf=2, df=1, score = 2 * 2e6
    r = sc[("s0", "alpha")]
    assert (r.tf, r.df, r.score) == (2, 1, 4_000_000)
    # "spam" in s1 only: tf=5, df=1
    assert sc[("s1", "spam")].score == 5 * 2_000_000
    # a token in both sources would get idf = 1e6 (none here; delta only s0)
    assert sc[("s0", "delta")].df == 1


# ---------------------------------------------------------------------------
# vocabulary coverage
# ---------------------------------------------------------------------------

def test_vocab_coverage_cumulative(spark, corpus):
    rows = cu.vocab_coverage(corpus, "text", k=3).collect()
    assert [r.rk for r in rows] == [1, 2, 3]
    # corpus totals: go=6, spam=5, alpha/beta/gamma/delta/epsilon=2, stop=2...
    assert rows[0].token == "go" and rows[0].cnt == 6
    assert rows[1].token == "spam" and rows[1].cnt == 5
    # cumulative micro-fractions are nondecreasing and exact
    n = sum(len(t.split()) for _, t, _ in ROWS)
    assert rows[0].cum_cover_micro == 6 * 1_000_000 // n
    assert rows[1].cum_cover_micro == 11 * 1_000_000 // n
    assert rows[2].cum_cover_micro > rows[1].cum_cover_micro


def test_vocab_topk_plan_uses_take_ordered(spark):
    from datafusion_monoid_spark import pipeline_queries as qcat
    df = qcat.catalog()["vocab_topk_coverage"][0](spark, SF)
    assert "TakeOrderedAndProject" in _explain(df)


def test_tfidf_window_is_partitioned(spark):
    from datafusion_monoid_spark import pipeline_queries as qcat
    df = qcat.catalog()["tfidf_top_terms"][0](spark, SF)
    p = _explain(df)
    # per-source ranking: every window spec must carry a partition key
    for m in re.finditer(r"Window \[.*?\]", p):
        assert "partitionBy" not in m.group(0) or "grp" in m.group(0)
    assert re.search(r"row_number\(\).*windowspecdefinition\(grp", p)


def test_q18_no_sort_merge_join(spark):
    from datafusion_monoid_spark import pipeline_queries as qcat
    df = qcat.catalog()["q18_large_volume_customer"][0](spark, SF)
    p = _explain(df)
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_multi_ngram_hashes_matches_single_n(spark):
    """The shared-tokenize multi-n gram pass must emit exactly the
    union of the per-n passes (round 8: the 4+13-gram decontamination
    shares one corpus scan)."""
    from datafusion_monoid_spark import pipeline_queries as qcat
    from datafusion_monoid_spark.operators import curation as cu

    docs = qcat._docs(spark, SF).limit(40)
    multi = cu.multi_ngram_hashes(docs, "doc_id", "text", (4, 13))
    for n in (4, 13):
        single = set(map(tuple, cu.ngram_hashes(docs, "doc_id", "text", n)
                         .collect()))
        got = set(map(tuple, multi.where(F.col("n") == n)
                      .select("doc_id", "gram_hash").collect()))
        assert got == single, f"n={n}: multi-pass grams diverge"


def test_decontam_prod_13gram_stricter_than_4(spark):
    """13-gram contamination is a subset of 4-gram contamination by
    construction (any shared 13-gram contains shared 4-grams)."""
    from datafusion_monoid_spark import pipeline_queries as qcat
    rows = qcat.catalog()["decontam_prod_13gram"][0](spark, SF).collect()
    assert rows, "empty decontamination report"
    for r in rows:
        assert r.n_contaminated_13 <= r.n_contaminated_4 <= r.n_train
