"""Dedup operator tests: known-answer fixtures + LSH recall sanity."""

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators import dedup as dd


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "THE  QUICK brown fox jumps over the lazy dog"),  # exact dup of 1 (normalized)
        (4, "completely different content about spark engines"),
        (5, ""),                                               # empty
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_dedup_normalization(docs):
    d = dd.exact_dedup_keys(docs, "text")
    keys = {r["doc_id"]: r["dup_key"] for r in d.collect()}
    assert keys[1] == keys[3]          # case/whitespace-insensitive
    assert keys[1] != keys[2]
    assert keys[1] != keys[4]


def test_shingles_and_jaccard(spark, docs):
    d = docs.select("doc_id", dd.word_shingles("text").alias("sh"))
    a, b = d.alias("a"), d.alias("b")
    pairs = (a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
             .select("a.doc_id", "b.doc_id",
                     dd.jaccard(F.col("a.sh"), F.col("b.sh")).alias("j")))
    j = {(r[0], r[1]): r["j"] for r in pairs.collect()}
    assert j[(1, 3)] == 1.0            # identical after normalization
    assert 0.4 < j[(1, 2)] < 1.0       # near-dup
    assert j[(1, 4)] == 0.0


def test_minhash_lsh_finds_neardups(spark, docs):
    sigs = dd.minhash_signatures(docs.where(F.col("doc_id") <= 4), "doc_id", "text")
    assert sigs.count() == 4
    sig_len = sigs.select(F.size("sig").alias("n")).first()["n"]
    assert sig_len == dd.MINHASH_NUM
    cand = dd.lsh_candidate_pairs(sigs, "doc_id")
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (1, 3) in pairs             # exact dups always collide
    assert (1, 2) in pairs             # high-jaccard near-dups collide
    est = {(r["id_a"], r["id_b"]): r["e"] for r in cand.select(
        "id_a", "id_b", dd.estimated_jaccard_count("n_agree").alias("e")).collect()}
    assert est[(1, 3)] == 1.0


def test_simhash_hamming(spark):
    # longer docs so a 1-token change stays within Hamming 7 of 64 bits
    base = ("spark engines process large columnar datasets with partial "
            "aggregation shuffles broadcast joins and adaptive execution "
            "for analytical workloads at petabyte scale today")
    docs = spark.createDataFrame([
        (1, base),
        (2, base.replace("today", "tomorrow")),   # near-dup
        (3, "  " + base.upper() + "  "),          # exact dup after normalize
        (4, "completely unrelated short text about cooking pasta recipes"),
    ], "doc_id int, text string")
    sh = dd.simhash(docs, "doc_id", "text")
    rows = {r["doc_id"]: (r["sim_hi"], r["sim_lo"]) for r in sh.collect()}
    assert rows[1] == rows[3]          # normalization-invariant
    ham12 = bin(rows[1][0] ^ rows[2][0]).count("1") + bin(rows[1][1] ^ rows[2][1]).count("1")
    assert ham12 <= 7                  # near-dup within pigeonhole guarantee
    pairs = dd.simhash_hamming_pairs(sh, "doc_id", max_hamming=7)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 3)] == 0
    assert got[(1, 2)] == ham12        # complete recall at <= 7
    assert (1, 4) not in got           # unrelated docs stay far apart


def test_simhash_bucket_cardinality_and_recall(spark):
    """The 16-bit-chunk + multiprobe scheme must (a) find exactly the
    pairs a brute-force Hamming scan finds at <= 7, and (b) spread a
    corpus across far more buckets than the 8-bit scheme's 256-per-index
    ceiling — the property that keeps within-bucket self-joins
    subquadratic at 100 TB."""
    docs = spark.range(400).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat_ws(" ",
                    F.lit("document body token stream number"),
                    F.col("id").cast("string"),
                    F.md5(F.col("id").cast("string")),
                    F.md5((F.col("id") * 7).cast("string"))).alias("text"))
    sh = dd.simhash(docs, "doc_id", "text").cache()
    rows = {r["doc_id"]: (r["sim_hi"], r["sim_lo"]) for r in sh.collect()}
    want = set()
    ids = sorted(rows)
    for i in ids:
        for j in ids:
            if i < j:
                h = (bin(rows[i][0] ^ rows[j][0]).count("1")
                     + bin(rows[i][1] ^ rows[j][1]).count("1"))
                if h <= 7:
                    want.add((i, j))
    got = {(r["id_a"], r["id_b"])
           for r in dd.simhash_hamming_pairs(sh, "doc_id", 7).collect()}
    assert got == want                 # complete recall, no phantom pairs

    # bucket cardinality: under 8-bit chunks a single chunk index can
    # spread over at most 256 buckets; 16-bit chunks must beat that
    chunks = sh.select(F.posexplode(F.array(*[
        F.shiftright(h, 16 * k).bitwiseAND(F.lit(0xFFFF))
        for h in (F.col("sim_hi"), F.col("sim_lo")) for k in range(2)
    ])).alias("idx", "chunk"))
    per_idx = {r["idx"]: r["n"] for r in
               chunks.distinct().groupBy("idx")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert max(per_idx.values()) > 256  # impossible for 8-bit chunk keys
    sh.unpersist()


def test_simhash_max_bucket_cap(spark):
    """Hot buckets above the cap are dropped on both sides; pairs
    reachable only through them disappear, others survive."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    other = ("oceans tides currents reefs gulls harbors lighthouses "
             "driftwood breakers moorings spray horizons vessels anchors "
             "buoys storms salt foam gales swells tomorrow")
    docs = spark.createDataFrame(
        [(i, base) for i in range(12)]              # 12 identical docs
        + [(100, other),
           (101, other.replace("tomorrow", "today"))],  # long-doc near-dup
        "doc_id int, text string")
    sh = dd.simhash(docs, "doc_id", "text")
    uncapped = dd.simhash_hamming_pairs(sh, "doc_id", 7).count()
    capped = dd.simhash_hamming_pairs(sh, "doc_id", 7, max_bucket=5).count()
    # the 12-clone clique (66 pairs) rides oversized buckets -> dropped;
    # the small (100,101) pair's buckets are tiny -> kept
    assert uncapped >= 66 + 1
    got = {(r["id_a"], r["id_b"]) for r in
           dd.simhash_hamming_pairs(sh, "doc_id", 7, max_bucket=5).collect()}
    assert (100, 101) in got
    assert capped < uncapped


def _chunks16(hi, lo):
    return [(hi >> 0) & 0xFFFF, (hi >> 16) & 0xFFFF,
            (lo >> 0) & 0xFFFF, (lo >> 16) & 0xFFFF]


def test_bucket_cap_drops_exactly_documented_pairs(spark):
    """The max_bucket recall contract, asserted EXACTLY: with the cap, a
    pair survives iff SOME chunk index has their chunks within Hamming 1
    AND both buckets kept.  Recomputed from first principles in Python
    over the real sf0.001 corpus and compared pair-for-pair."""
    from collections import Counter

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = dd.simhash(docs, "doc_id", "text")
    rows = [(r["doc_id"], r["sim_hi"], r["sim_lo"]) for r in sh.collect()]

    sizes = Counter((i, c) for _, hi, lo in rows
                    for i, c in enumerate(_chunks16(hi, lo)))
    # cap below the largest bucket so the guard actually fires, above 1
    # so plenty survives
    cap = max(sizes.values()) - 1
    assert cap >= 1 and any(v > cap for v in sizes.values()), \
        "corpus must exercise the cap"

    def ham(a, b):
        return bin(a ^ b).count("1")

    expected = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (da, ha, la), (db, hb, lb) = rows[i], rows[j]
            a, b = (da, db) if da < db else (db, da)
            if ham(ha, hb) + ham(la, lb) > 7:
                continue
            ca, cb = (_chunks16(ha, la), _chunks16(hb, lb)) \
                if da < db else (_chunks16(hb, lb), _chunks16(ha, la))
            if any(ham(ca[k], cb[k]) <= 1
                   and sizes[(k, ca[k])] <= cap and sizes[(k, cb[k])] <= cap
                   for k in range(4)):
                expected.add((a, b))
    got = {(r["id_a"], r["id_b"]) for r in
           dd.simhash_hamming_pairs(sh, "doc_id", 7,
                                    max_bucket=cap).collect()}
    assert got == expected


def test_bucket_occupancy_stats_matches_python(spark):
    """bucket_occupancy_stats == a from-first-principles recompute:
    exact-discrete p99 (occupancy at sorted position ceil(0.99 * n),
    ties by bucket key), max, counts."""
    import math
    from collections import Counter

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = dd.simhash(docs, "doc_id", "text")
    rows = [(r["sim_hi"], r["sim_lo"]) for r in sh.collect()]
    sizes = Counter((i, c) for hi, lo in rows
                    for i, c in enumerate(_chunks16(hi, lo)))

    want = {}
    for idx in range(4):
        occ = sorted((n, c) for (i, c), n in sizes.items() if i == idx)
        p99 = occ[math.ceil(0.99 * len(occ)) - 1][0]
        want[idx] = (len(occ), occ[-1][0], p99, sum(n for n, _ in occ))

    got = {r["chunk_idx"]: (r["n_buckets"], r["max_occ"],
                            r["p99_occ"], r["n_rows"])
           for r in dd.bucket_occupancy_stats(
               dd.simhash_chunk_buckets(sh, "doc_id")).collect()}
    assert got == want


def test_containment_flags_what_jaccard_misses(spark):
    """r9: a short document fully embedded in a long one — containment
    1.0, Jaccard far below any resemblance threshold.  The exact math
    the entry applies, on a constructed subset pair."""
    small = [f"s{i}" for i in range(5)]
    big = small + [f"b{i}" for i in range(45)]
    df = spark.createDataFrame([(small, big)],
                               "shg_a array<string>, shg_b array<string>")
    inter = F.size(F.array_intersect("shg_a", "shg_b")).cast("bigint")
    n_a = F.size("shg_a").cast("bigint")
    n_union = F.size(F.array_union("shg_a", "shg_b")).cast("bigint")
    r = df.select(
        ((inter - inter % n_a) / n_a * 1).cast("bigint").alias("drop"),
        (inter * 1_000_000 / n_a).cast("bigint").alias("cont_micro"),
        (inter * 1_000_000 / n_union).cast("bigint").alias("jacc_micro"),
    ).collect()[0]
    assert r["cont_micro"] == 1_000_000       # fully contained
    assert r["jacc_micro"] == 100_000         # Jaccard 0.1 — sub-threshold
    assert r["jacc_micro"] < 200_000 <= r["cont_micro"]


def test_containment_entry_invariants(spark):
    """Entry-level: results are candidate pairs with both directions in
    [0, 1e6], n_common bounded by both sides, and the >= 0.6 gate
    applied to the max direction (value equality vs DuckDB is
    tools/check_oracles.py)."""
    from datafusion_monoid_spark import pipeline_queries as qcat

    SF = "/root/testdata/sf0.01"
    rows = qcat.catalog()["dedup_containment_pairs"][0](spark, SF).collect()
    assert rows
    _, cand = qcat._minhash_shared(spark, SF)
    cand_set = {(r["id_a"], r["id_b"]) for r in
                cand.select("id_a", "id_b").collect()}
    for r in rows:
        assert (r["id_a"], r["id_b"]) in cand_set
        assert 0 < r["n_common"] <= min(r["n_a"], r["n_b"])
        for c in ("cont_a_in_b_micro", "cont_b_in_a_micro"):
            assert 0 <= r[c] <= 1_000_000
        assert max(r["cont_a_in_b_micro"],
                   r["cont_b_in_a_micro"]) >= 600_000
