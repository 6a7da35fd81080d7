"""Round-4 pipeline additions: PII scan/redaction, BM25 ranking,
SemDeDup semantic pruning.  Known-answer unit tests for the operator
helpers plus structural invariants of the catalog queries (the
value-level check is the DuckDB oracle, run by
tools/check_oracles.py)."""

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators import text as tx
from datafusion_monoid_spark.pipeline_queries import catalog

SF = "/root/testdata/sf0.001"


# -- PII helpers --------------------------------------------------------------

@pytest.fixture(scope="module")
def pii_docs(spark):
    rows = [
        (1, "write to alice.b@example.org or bob@test.io today"),
        (2, "server at 10.1.2.3 and backup at 192.168.0.1"),
        (3, "call 555-0134 about the invoice"),
        (4, "no sensitive content here"),
        (5, "mixed: eve@corp.net from 127.0.0.1 call 555-9999"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_pii_counts_known_answers(pii_docs):
    c = tx.pii_counts("text")
    out = {r["doc_id"]: (r["e"], r["i"], r["p"]) for r in pii_docs.select(
        "doc_id", c["email"].alias("e"), c["ipv4"].alias("i"),
        c["phone"].alias("p")).collect()}
    assert out[1] == (2, 0, 0)
    assert out[2] == (0, 2, 0)
    assert out[3] == (0, 0, 1)
    assert out[4] == (0, 0, 0)
    assert out[5] == (1, 1, 1)


def test_pii_redact_rewrites_all_spans(pii_docs):
    red = {r["doc_id"]: r["t"] for r in pii_docs.select(
        "doc_id", tx.pii_redact("text").alias("t")).collect()}
    assert red[1] == "write to <EMAIL> or <EMAIL> today"
    assert red[5] == "mixed: <EMAIL> from <IPV4> call <PHONE>"
    assert red[4] == "no sensitive content here"   # untouched


def test_pii_scan_catalog_invariants(spark):
    fn, _ = catalog()["text_pii_scan"]
    rows = fn(spark, SF).collect()
    assert rows
    tot = {k: sum(r[k] for r in rows) for k in
           ("n_docs", "n_emails", "n_ipv4", "n_phones")}
    # every 7th/11th/13th doc carries exactly one injected span of its kind
    assert tot["n_emails"] > 0 and tot["n_ipv4"] > 0 and tot["n_phones"] > 0
    for r in rows:
        assert r["n_docs_email"] <= r["n_docs"]
        assert r["n_docs_email"] <= r["n_emails"]


# -- BM25 ---------------------------------------------------------------------

def test_bm25_topk_shape_and_order(spark):
    fn, _ = catalog()["bm25_rank_topk"]
    rows = fn(spark, SF).collect()
    assert len(rows) == 10
    assert [r["rank"] for r in rows] == list(range(1, 11))
    scores = [r["score_micro"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    # ties must break on doc_id ascending
    for a, b in zip(rows, rows[1:]):
        if a["score_micro"] == b["score_micro"]:
            assert a["doc_id"] < b["doc_id"]


def test_bm25_saturation_monotone_in_tf(spark):
    """More occurrences of a query term never DECREASE the score, and
    the k1 saturation keeps the marginal gain shrinking."""
    from datafusion_monoid_spark.pipeline_queries import _idiv
    n, total_dl, df, dl = 100, 3000, 10, 30
    df_ = spark.createDataFrame([(tf,) for tf in (1, 2, 4, 8)], "tf bigint")
    part = _idiv(F.col("tf") * 22 * total_dl * 10000,
                 10 * F.col("tf") * total_dl + 3 * total_dl + 9 * dl * n)
    vals = [r["p"] for r in
            df_.select(F.col("tf"), part.alias("p")).orderBy("tf").collect()]
    assert vals == sorted(vals)                       # monotone
    gains = [b - a for a, b in zip(vals, vals[1:])]
    assert gains == sorted(gains, reverse=True)       # saturating
    assert vals[-1] < 22000                           # bounded by (k1+1) scale


# -- SemDeDup -----------------------------------------------------------------

def test_semdedup_partition_of_corpus(spark):
    fn, _ = catalog()["semdedup_prune"]
    rows = fn(spark, SF).collect()
    assert rows
    n_emb = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert sum(r["n_vecs"] for r in rows) == n_emb    # clusters partition
    for r in rows:
        assert r["n_kept"] + r["n_pruned"] == r["n_vecs"]
        assert r["n_kept"] >= 1                       # a representative survives
        if r["n_pruned"] == 0:
            assert r["sum_pruned_ids"] == 0


def test_semdedup_integer_cosine_decision(spark):
    """The dot^2*10000 >= 7225*na2*nb2 test equals cos >= 0.85 exactly
    for positive dot — checked against float cosine on crafted pairs."""
    import math
    pairs = [
        ([3, 4], [3, 4]),        # cos = 1.0       -> dup
        ([1, 0], [1, 1]),        # cos ~ 0.707     -> keep
        ([2, 1], [1, 2]),        # cos = 0.8       -> keep
        ([10, 1], [10, 2]),      # cos ~ 0.9965    -> dup
        ([1, 0], [-1, 0]),       # cos = -1, dot<0 -> keep
    ]
    for qa, qb in pairs:
        dot = sum(x * y for x, y in zip(qa, qb))
        na2 = sum(x * x for x in qa)
        nb2 = sum(x * x for x in qb)
        int_dup = dot > 0 and dot * dot * 10000 >= 7225 * na2 * nb2
        cos = dot / (math.sqrt(na2) * math.sqrt(nb2))
        assert int_dup == (cos >= 0.85)
