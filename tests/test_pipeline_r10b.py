"""Curation tail entries: ann_eval_recall_mrr, lm_perplexity_buckets
and the bucket/postings entries built on them.

Each is pinned against its DuckDB oracle at sf0.01 with the oracle
checker's protocol (row count + column names + sorted value hash), and
its semantics are checked on constructed corpora.
"""

import hashlib

import duckdb
import pandas as pd
import pytest

from datafusion_monoid_spark import pipeline_queries as qcat
from datafusion_monoid_spark.pipeline_queries import TABLES

SF = "/root/testdata/sf0.01"

NEW_ENTRIES = ("ann_eval_recall_mrr",
               "lm_perplexity_buckets", "lm_bucket_thresholds",
               "lm_bucket_screen_newbatch",
               "ivf_postings_build", "ivf_postings_append")


def _run(spark, name, sf=SF):
    return qcat.catalog()[name][0](spark, sf)


def _canon(df: pd.DataFrame):
    """The driver's compare: sorted columns, rounded floats, sorted
    row-string hash (tools/check_oracles.py)."""
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        df[c] = df[c].map(lambda v: "NULL" if v is None or
                          (isinstance(v, float) and pd.isna(v)) else str(v))
    rows = sorted(",".join(r) for r in df.itertuples(index=False, name=None))
    return len(df), cols, hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize("name", NEW_ENTRIES)
def test_tail_entry_hash_matches_duckdb(spark, name):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{SF}/{t}.parquet'")
    fn, oracle = qcat.catalog()[name]
    got = _canon(fn(spark, SF).toPandas())
    want = _canon(con.sql(oracle).df())
    assert got == want and got[0] > 0


# ---------------------------------------------------------------------------
# ann_eval_recall_mrr invariants
# ---------------------------------------------------------------------------

def test_ann_eval_invariants(spark):
    rows = _run(spark, "ann_eval_recall_mrr").collect()
    assert len(rows) == 20  # one row per query, zero-hit queries included
    valid_rr = {0} | {1_000_000 // r for r in range(1, 6)}
    for r in rows:
        assert 0 <= r["n_hits"] <= 5
        assert r["rr_micro"] in valid_rr
        assert (r["rr_micro"] == 0) == (r["n_hits"] == 0)
    # the pretrained IVF serve's pinned recall floor, restated over the
    # published per-query table
    recall_at5 = sum(r["n_hits"] for r in rows) / (5 * len(rows))
    assert recall_at5 >= 0.9


# ---------------------------------------------------------------------------
# lm_perplexity_buckets invariants
# ---------------------------------------------------------------------------

def test_lm_buckets_partition_and_order(spark):
    rows = sorted(_run(spark, "lm_perplexity_buckets").collect(),
                  key=lambda r: r["bucket"])
    assert [r["bucket"] for r in rows] == [1, 2, 3]
    for r in rows:
        assert r["n_docs"] > 0 and r["min_score_micro"] <= r["max_score_micro"]
    # buckets are score-disjoint and ordered (equal scores share a bucket)
    for lo, hi in zip(rows, rows[1:]):
        assert lo["max_score_micro"] < hi["min_score_micro"]
    # the cut is cum-count-BEFORE-score: every bucket's first score
    # starts at a cumulative position inside that tertile, so no bucket
    # can swallow a full later tertile — bucket 1 holds at most
    # ceil(W/3) + (its last tie-group - 1) docs; coarse version:
    # no single bucket holds the whole corpus
    total = sum(r["n_docs"] for r in rows)
    assert all(r["n_docs"] < total for r in rows)


# ---------------------------------------------------------------------------
# IVF postings maintenance: append never re-assigns, never duplicates
# ---------------------------------------------------------------------------

def test_ivf_append_idempotent_and_complete(spark):
    r1 = sorted(map(tuple, _run(spark, "ivf_postings_append").collect()))
    r2 = sorted(map(tuple, _run(spark, "ivf_postings_append").collect()))
    assert r1 == r2  # re-running an ingest replaces, never duplicates
    # the combined index covers the whole embeddings table exactly once
    n_vecs = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert sum(r[3] for r in r1) == n_vecs  # n_total column
    for _, n_old, n_new, n_total in r1:
        assert n_old + n_new == n_total


def test_thresholds_sentinel_on_degenerate_corpus(spark, tmp_path):
    """ALL docs share one score -> one tie group swallows buckets 2/3:
    the artifact must persist the unreachable sentinel and the screen
    must route every arriving doc to bucket 1."""
    text = "alpha beta gamma delta epsilon"
    rows = [(i, text, "en", "srcA", len(text)) for i in range(12)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    try:
        cuts = _run(spark, "lm_bucket_thresholds",
                    str(tmp_path)).collect()[0]
        assert cuts["cut2_micro"] == qcat._LM_CUT_SENTINEL
        assert cuts["cut3_micro"] == qcat._LM_CUT_SENTINEL
        assert cuts["n_docs"] == 12

        screened = _run(spark, "lm_bucket_screen_newbatch",
                        str(tmp_path)).collect()
        assert [r["bucket"] for r in screened] == [1]
        assert screened[0]["n_docs"] == 2  # doc_ids 0 and 11 arrive
    finally:
        # the artifacts are keyed by the pytest tmp path: remove them
        # so runs leave no dirs under .artifacts/
        import shutil
        for name in ("lm_bigram_counts", "lm_context_counts",
                     "lm_bucket_thresholds"):
            shutil.rmtree(qcat._artifact_path(str(tmp_path), name),
                          ignore_errors=True)
