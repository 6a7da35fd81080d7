"""Round-9 stretch operators: KMV A-not-B set difference, the corpus
novelty curve, and the BPE/unigram tokenizer agreement report.
Operator-level math on constructed inputs + catalog-entry invariants at
sf0.01 (full value equality vs DuckDB is
tools/check_oracles.py)."""

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark import pipeline_queries as qcat
from datafusion_monoid_spark.operators import sketch as sk

SF = "/root/testdata/sf0.01"
K = qcat._KMV_K


@pytest.fixture(scope="module")
def cat():
    return qcat.catalog()


def _anotb(spark, set_a, set_b, k=8):
    """The entry's A-not-B math on two constructed element sets."""
    rows = [("a", x) for x in set_a] + [("b", x) for x in set_b]
    skd = sk.kmv_sketch(
        spark.createDataFrame(rows, "source string, sh string"),
        "source", "sh", k=k)
    a = skd.where(F.col("source") == "a").select(
        F.col("sketch").alias("sk_a"))
    b = skd.where(F.col("source") == "b").select(
        F.col("sketch").alias("sk_b"))
    r = (a.crossJoin(b)
         .withColumn("u", sk.kmv_merge(F.col("sk_a"), F.col("sk_b"), k=k))
         .withColumn("ua", F.array_intersect("u", "sk_a"))
         .withColumn("ub", F.array_intersect("u", "sk_b"))
         .select(F.size("u").alias("ku"),
                 F.size("ua").alias("ka_u"),
                 F.size("ub").alias("kb_u"),
                 F.size(F.array_except("ua", "sk_b")).alias("anotb_k"),
                 F.size(F.array_except("ub", "sk_a")).alias("bnota_k"))
         ).collect()[0]
    return r


def test_anotb_identical_sets_is_empty(spark):
    xs = [f"tok{i}" for i in range(20)]
    r = _anotb(spark, xs, xs)
    assert r["anotb_k"] == 0 and r["bnota_k"] == 0
    assert r["ka_u"] == r["kb_u"] == r["ku"]


def test_anotb_disjoint_sets_partition_the_union(spark):
    xs = [f"left{i}" for i in range(20)]
    ys = [f"right{i}" for i in range(20)]
    r = _anotb(spark, xs, ys)
    # disjoint: every union-window entry is exclusively A's or B's
    assert r["anotb_k"] == r["ka_u"] and r["bnota_k"] == r["kb_u"]
    assert r["anotb_k"] + r["bnota_k"] == r["ku"]


def test_anotb_union_window_partition_identity(spark):
    # overlapping sets: |A-only| + |B-only| + |both| == ku exactly
    xs = [f"tok{i}" for i in range(30)]
    ys = [f"tok{i}" for i in range(15, 45)]
    r = _anotb(spark, xs, ys)
    both = r["ka_u"] + r["kb_u"] - r["ku"]
    assert r["anotb_k"] == r["ka_u"] - both
    assert r["bnota_k"] == r["kb_u"] - both
    assert r["anotb_k"] + r["bnota_k"] + both == r["ku"]


def test_kmv_anotb_entry_invariants(spark, cat):
    rows = cat["kmv_anotb_novelty"][0](spark, SF).collect()
    srcs = {r["source_a"] for r in rows} | {r["source_b"] for r in rows}
    n = len(srcs)
    assert len(rows) == n * (n - 1) // 2  # each unordered pair once
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert 0 <= r["anotb_k"] <= K and 0 <= r["bnota_k"] <= K
        assert r["est_a_not_b"] >= 0 and r["est_b_not_a"] >= 0
        assert 0 <= r["novelty_a_micro"] <= 1_000_000
        assert 0 <= r["novelty_b_micro"] <= 1_000_000


def test_ngram_novelty_curve_invariants(spark, cat):
    from datafusion_monoid_spark.operators import dedup as dd

    rows = {r["bucket"]: r
            for r in cat["ngram_novelty_curve"][0](spark, SF).collect()}
    assert set(rows) == set(range(10))
    # the first bucket sees only new content
    assert rows[0]["novelty_micro"] == 1_000_000
    assert rows[0]["n_new"] == rows[0]["n_distinct"]
    for r in rows.values():
        assert 0 <= r["n_new"] <= r["n_distinct"] <= r["n_occurrences"]
    # every distinct shingle is new exactly once: sum(n_new) == global
    # distinct count
    docs = qcat._docs(spark, SF)
    global_distinct = (docs.select(
        F.explode(dd.word_shingles("text")).alias("sh"))
        .agg(F.countDistinct("sh")).first()[0])
    assert sum(r["n_new"] for r in rows.values()) == global_distinct


def test_tokenizer_agreement_invariants(spark, cat):
    rows = cat["tokenizer_agreement"][0](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n_tokens"] > 0
        # fertility >= 1 piece per token under either model
        assert r["bpe_fertility_micro"] >= 1_000_000
        assert r["uni_fertility_micro"] >= 1_000_000
        assert 0 <= r["agree_micro"] <= 1_000_000
    # both models cover the whole corpus token stream (inner joins drop
    # nothing), so the token total matches the unigram serve entry's
    total = sum(r["n_tokens"] for r in rows)
    uni = cat["unigram_encode_stats"][0](spark, SF).collect()
    assert total == sum(r["n_tokens"] for r in uni)
