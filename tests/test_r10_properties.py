"""Randomized property tests for the round-10 operators, in the repo's
one-job style: seeded random cases, few Spark jobs, pure-Python specs.

Covers the leakage-safe split (CC + group-keyed hashing vs a
union-find spec over the ACTUAL strong-pair relation), the tertile
threshold fit (cum-count-before rule vs an exhaustive spec under heavy
ties), and the IVF postings assignment (persisted artifact vs a NumPy
cosine-argmax spec)."""

import random
from hashlib import md5

import numpy as np
from pyspark.sql import functions as F

from datafusion_monoid_spark import pipeline_queries as qcat
from datafusion_monoid_spark.operators import dedup as dd

RNG = random.Random(0xA10A)
SF001 = "/root/testdata/sf0.001"


def _bucket(key: int) -> int:
    """Python twin of dedup.md5_long % SPLIT_MOD."""
    return int(md5(str(key).encode()).hexdigest()[:15], 16) % 1000


class _UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # min-label convention, like the operator
            lo, hi = min(ra, rb), max(ra, rb)
            self.p[hi] = lo


def test_leakage_split_matches_unionfind_spec(spark, tmp_path):
    """The entry's per-side report must equal a pure-Python
    union-find + md5-bucket recompute over the SAME strong-pair
    relation the operator derives (the candidate stage is taken as
    given; the property under test is CC + group-keyed hashing)."""
    rows = []
    # ~6 clusters of identical docs (identical => signature agreement
    # = 64/64 => strong candidates by construction)
    next_id = 0
    for c in range(6):
        text = " ".join(f"c{c}w{j} tok{j} y{c * 7 + j}" for j in range(30))
        for _ in range(RNG.randint(2, 5)):
            rows.append((next_id, text, "en", "srcA", len(text)))
            next_id += 1
    # singletons with unique vocabularies
    for _ in range(15):
        text = " ".join(f"u{next_id}x{j}" for j in range(25))
        rows.append((next_id, text, "en", "srcB", len(text)))
        next_id += 1
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    # the ACTUAL strong-pair relation (what CC consumes)
    sigs = dd.minhash_signatures(
        spark.read.parquet(f"{tmp_path}/documents.parquet"),
        "doc_id", "text")
    cand = dd.lsh_candidate_pairs(sigs, "doc_id")
    strong = [(r["id_a"], r["id_b"]) for r in
              cand.where(dd.estimated_jaccard_count("n_agree") >= 0.5)
              .collect()]

    uf = _UnionFind()
    for a, b in strong:
        uf.union(a, b)
    spec = {}
    for doc_id, _, _, _, n_chars in rows:
        grp = uf.find(doc_id) if doc_id in uf.p else doc_id
        side = "test" if _bucket(grp) < 100 else "train"
        naive = "test" if _bucket(doc_id) < 100 else "train"
        s = spec.setdefault(side, {"n_docs": 0, "grps": set(),
                                   "chars": 0, "moved": 0})
        s["n_docs"] += 1
        s["grps"].add(grp)
        s["chars"] += n_chars
        s["moved"] += int(side != naive)

    got = {r["side"]: r for r in
           qcat.catalog()["leakage_safe_split"][0](
               spark, str(tmp_path)).collect()}
    assert set(got) == set(spec)
    for side, s in spec.items():
        assert got[side]["n_docs"] == s["n_docs"]
        assert got[side]["n_groups"] == len(s["grps"])
        assert got[side]["total_chars"] == s["chars"]
        assert got[side]["n_moved"] == s["moved"]


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
