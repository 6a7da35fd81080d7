"""Randomized property tests for the round-10 operators, in the repo's
one-job style: seeded random cases, few Spark jobs, pure-Python specs.

Covers the tertile threshold fit (cum-count-before rule vs an
exhaustive spec under heavy ties) and the IVF postings assignment
(persisted artifact vs a NumPy cosine-argmax spec)."""

import random

import numpy as np
from pyspark.sql import functions as F

from datafusion_monoid_spark import pipeline_queries as qcat

RNG = random.Random(0xA10A)
SF001 = "/root/testdata/sf0.001"


def _tertile_spec(scores: list[int]) -> tuple[int, int]:
    """(cut2, cut3) by exhaustive recompute of the cum-before rule."""
    w = len(scores)
    from collections import Counter
    hist = sorted(Counter(scores).items())
    cum, cuts = 0, {}
    for s, cnt in hist:
        bucket = 1 + (3 * cum) // w
        for k in (2, 3):
            if bucket >= k and k not in cuts:
                cuts[k] = s
        cum += cnt
    sent = qcat._LM_CUT_SENTINEL
    return cuts.get(2, sent), cuts.get(3, sent)


def test_tertile_thresholds_match_spec(spark):
    """Random score multisets — heavy ties included — through
    ``_lm_thresholds_df`` equal the exhaustive Python spec, including
    the tie-group-swallows-a-tertile sentinel cases."""
    cases = []
    for _ in range(8):
        n = RNG.randint(1, 40)
        # small value range forces tie groups; occasionally constant
        vals = ([RNG.randint(0, 5) * 1000 for _ in range(n)]
                if RNG.random() < 0.8 else [4242] * n)
        cases.append(vals)
    for vals in cases:
        d = spark.createDataFrame([(v,) for v in vals],
                                  "score_micro bigint")
        row = qcat._lm_thresholds_df(d).collect()[0]
        cut2, cut3 = _tertile_spec(vals)
        assert (row["cut2_micro"], row["cut3_micro"]) == (cut2, cut3), vals
        assert row["n_docs"] == len(vals)


def test_ivf_postings_match_numpy_argmax(spark):
    """The persisted postings equal a NumPy cosine-argmax (ties to the
    lowest centroid id) over the same persisted centroids — the
    assignment the serve path and the oracle both claim."""
    path = qcat._build_ivf_postings(spark, SF001, overwrite=True)
    got = {r["cand_id"]: r["cent_id"] for r in
           spark.read.parquet(path).collect()}

    cpath = qcat._fit_centroids_persisted(spark, SF001, overwrite=False)
    cents = qcat._load_centroids_cached(spark, cpath)
    C = np.array([vec for _, vec in cents])          # (k, dim)
    cids = np.array([cid for cid, _ in cents])
    emb = (spark.read.parquet(f"{SF001}/embeddings.parquet")
           .where(F.col("vec_id") % 11 != 0).collect())
    assert len(got) == len(emb) and len(emb) > 0
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    for r in emb:
        v = np.array(r["embedding"], dtype=np.float64)
        sims = (Cn @ (v / np.linalg.norm(v)))
        best = sims.max()
        # ties to the LOWEST cid: first index at the max
        spec_cid = int(cids[np.flatnonzero(sims == best)[0]])
        assert got[r["vec_id"]] == spec_cid, r["vec_id"]
