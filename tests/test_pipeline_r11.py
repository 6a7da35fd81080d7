"""Round-11 operators: the probe-index document-frequency cap, the
exact-dedup-first containment screen composition, IVF postings
compaction and the training-shard export.  Operator-level math
on constructed inputs + equivalence pins vs exact recomputes (full value
equality vs DuckDB is tools/check_oracles.py)."""

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
# probe-index df cap (dd.containment_probe_candidates max_df)
# ---------------------------------------------------------------------------

def _stop_shingle_corpus():
    """30 mutually-unrelated background docs that all end with the SAME
    8-word boilerplate tail (6 ubiquitous stop shingles, df = 32), plus
    one genuine quoted pair (100, 101) whose overlap is substantive —
    the corpus where an uncapped index fans every boilerplate probe out
    to all 32 docs while the capped index must stay quiet on the
    background and still catch the real pair."""
    boiler = "standard footer all rights reserved by this site"
    rows = []
    for k in range(30):
        body = " ".join(f"u{k}w{i} v{k}x{i}" for i in range(15))
        rows.append((k + 1, body + " " + boiler))
    quote = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(5))
    filler = " ".join(f"noise{i} word{i} pad{i}" for i in range(60))
    rows += [(100, quote + " " + boiler),
             (101, quote + " " + filler + " " + boiler)]
    return rows


def _probe_cands(spark, rows, **kw):
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    hashed = dd.shingle_hashes(docs, "doc_id", dd.word_shingles("text"))
    return {(r["id_a"], r["id_b"]) for r in
            dd.containment_probe_candidates(hashed, "doc_id", **kw)
            .collect()}


def test_df_cap_prunes_stop_shingle_fanout(spark):
    """With the cap, pairs whose ONLY overlap is the ubiquitous
    boilerplate produce no candidates at all (min_hits=1 exposes the
    raw join fan-out the binomial pre-filter normally hides); without
    it, the stop shingles produce background-background pairs."""
    rows = _stop_shingle_corpus()
    raw = _probe_cands(spark, rows, min_hits=1)
    capped = _probe_cands(spark, rows, min_hits=1, max_df=5)
    bg = {p for p in raw if p[0] <= 30 and p[1] <= 30}
    assert bg, "fixture lost its stop-shingle fan-out"
    assert not {p for p in capped if p[0] <= 30 and p[1] <= 30}
    assert capped < raw
    assert (100, 101) in capped


def test_df_cap_recall_unchanged_at_threshold(spark):
    """The capped index must report EXACTLY the pairs the all-pairs
    0.6-containment criterion qualifies — the cap drops only candidate
    pairs the exact verify would reject anyway (their overlap is pure
    boilerplate, containment far below threshold)."""
    rows = _stop_shingle_corpus()
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sh = docs.select("doc_id",
                     F.array_distinct(dd.word_shingles("text")).alias("shg"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect("a.shg", "b.shg")).cast("bigint")
    exact = {(r["id_a"], r["id_b"]) for r in
             (a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
              .select(F.col("a.doc_id").alias("id_a"),
                      F.col("b.doc_id").alias("id_b"),
                      (inter * 1_000_000).alias("i_micro"),
                      F.size("a.shg").cast("bigint").alias("n_a"),
                      F.size("b.shg").cast("bigint").alias("n_b"))
              .where((F.col("i_micro") >= 600_000 * F.col("n_a"))
                     | (F.col("i_micro") >= 600_000 * F.col("n_b"))))
             .collect()}
    assert exact == {(100, 101)}
    hashed = dd.shingle_hashes(docs, "doc_id", dd.word_shingles("text"))
    for max_df in (None, 5):
        cand = dd.containment_probe_candidates(hashed, "doc_id",
                                               max_df=max_df)
        got = {(r["id_a"], r["id_b"]) for r in
               qcat._containment_exact_verify(docs, cand).collect()}
        assert got == exact, f"max_df={max_df}: {got}"


# ---------------------------------------------------------------------------
# cascade-composed containment screen (pipeline_containment_screen)
# ---------------------------------------------------------------------------

def test_pipeline_containment_screen_stage_accounting(spark, cat):
    """On the base tier (no exact clones by construction) the cascade
    is a no-op pass-through: exact-unique == batch, and the flagged
    pairs equal the DIRECT screen's output — composing the cascade
    never changes results on a clone-free batch, it only caps the
    clone-heavy case."""
    row = cat["pipeline_containment_screen"][0](spark, SF001).collect()[0]
    direct = cat["dedup_containment_screen"][0](spark, SF001).collect()
    assert row["n_batch"] > 0
    assert row["n_exact_unique"] == row["n_batch"]
    assert row["n_flagged_pairs"] == len(direct)
    assert row["n_flagged_docs"] == len({r["new_id"] for r in direct})
    assert row["n_clean_docs"] == (row["n_exact_unique"]
                                   - row["n_flagged_docs"])


def test_pipeline_containment_screen_dedups_clone_batch(spark):
    """On a clone-heavy batch the cascade screens ONLY survivors: a doc
    with c exact copies contributes one probe-side doc, not c — the
    candidate mass drops by the clone factor (the sf10 adjudication's
    cure, measured here structurally on a constructed corpus)."""
    old_rows = [(1, " ".join(f"alpha{i} beta{i} gamma{i}"
                             for i in range(8)))]
    old_rows += [(2 + k, " ".join(f"bg{k}x{i} item{k}y{i}"
                                  for i in range(30))) for k in range(5)]
    quote = old_rows[0][1]
    # batch: 4 exact copies of a doc quoting the indexed doc + 2 unique
    batch_rows = [(100 + j, quote) for j in range(4)]
    batch_rows += [(200, "plain unique words here " * 5),
                   (201, "other unique tokens there " * 5)]
    old = spark.createDataFrame(old_rows, "doc_id bigint, text string")
    nb = spark.createDataFrame(batch_rows, "doc_id bigint, text string")
    oh = dd.shingle_hashes(old, "doc_id",
                           dd.word_shingles("text")).distinct()
    iprobes = dd.probe_argmins_long(oh, "doc_id")
    keyed = dd.exact_dedup_keys(nb, "text")
    reps = keyed.groupBy("dup_key").agg(F.min("doc_id").alias("doc_id"))
    surv = nb.join(reps.select("doc_id"), "doc_id", "left_semi")
    assert surv.count() == 3  # 4 clones collapsed to 1 + 2 unique
    flagged = qcat._containment_screen_kernel(surv, oh, iprobes).collect()
    # exactly the representative clone flags against the quoted doc
    assert {(r["new_id"], r["old_id"]) for r in flagged} == {(100, 1)}
    # the DIRECT screen pays all 4 clones through the verify
    direct = qcat._containment_screen_kernel(nb, oh, iprobes).collect()
    assert {(r["new_id"], r["old_id"]) for r in direct} == {
        (100, 1), (101, 1), (102, 1), (103, 1)}


# ---------------------------------------------------------------------------
# IVF postings compaction (ivf_postings_compact)
# ---------------------------------------------------------------------------

def test_postings_compact_equals_build_from_scratch(spark, cat):
    """build -> append -> compact must equal a from-scratch assignment
    of the WHOLE corpus against the same persisted centroids, row for
    row — and compaction must be idempotent (a second run replaces the
    artifact with identical content)."""
    from datafusion_monoid_spark.operators import similarity as sim

    cat["ivf_postings_build"][0](spark, SF001).collect()
    cat["ivf_postings_append"][0](spark, SF001).collect()
    cat["ivf_postings_compact"][0](spark, SF001).collect()
    out_path = qcat._artifact_path(SF001, "ivf_postings_compacted")

    def on_disk():
        return {(r["cand_id"], int(r["cent_id"])) for r in
                spark.read.parquet(out_path).collect()}

    got = on_disk()
    cpath = qcat._fit_centroids_persisted(spark, SF001, overwrite=False)
    cl = qcat._load_centroids_cached(spark, cpath)
    e = spark.read.parquet(f"{SF001}/embeddings.parquet")
    want = {(r["cand_id"], int(r["cent_id"])) for r in
            sim.ivf_assign_pretrained(e, cl).collect()}
    assert got == want
    cat["ivf_postings_compact"][0](spark, SF001).collect()
    assert on_disk() == got


def test_export_shards_deterministic_shuffle(spark, cat):
    """The exported shards must be a pure function of the data: shard
    membership = md5(doc_id) mod 16, every shard directory present,
    and rows HASH-ORDERED within each shard file (the property that
    breaks source/time locality for training) — checked by reading a
    part file directly, which preserves parquet row order."""
    import glob
    import os

    import pyarrow.parquet as pq

    from datafusion_monoid_spark.operators.dedup import md5_long

    cat["export_training_shards"][0](spark, SF001).collect()
    out = qcat._artifact_path(SF001, "training_shards")
    shards = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert len(shards) == qcat._EXPORT_SHARDS
    # membership: every doc in shard k has skey % 16 == k
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    want = {r["doc_id"]: r["k"] for r in
            docs.select("doc_id",
                        (md5_long(F.col("doc_id").cast("string"))
                         % qcat._EXPORT_SHARDS).alias("k")).collect()}
    exported = spark.read.parquet(out).select("doc_id", "shard").collect()
    assert len(exported) == len(want)
    assert all(want[r["doc_id"]] == int(r["shard"]) for r in exported)
    # within-file hash order, checked on every shard's part files
    for d in shards:
        for f in glob.glob(os.path.join(out, d, "*.parquet")):
            keys = pq.read_table(f, columns=["skey"])["skey"].to_pylist()
            assert keys == sorted(keys), f"unsorted shard file {f}"


def test_export_write_plan_no_global_sort(spark):
    """The export's pre-write frame must sort WITHIN partitions only
    (global=false in the Sort node) over one hash exchange on the
    shard key — a global sort here would serialize the corpus through
    a single range at 100 TB."""
    from datafusion_monoid_spark.operators import dedup as dd2
    from datafusion_monoid_spark.operators import text as tx

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    frame = (docs.select(
        "doc_id", "text",
        tx.token_counts("text")["ws_tokens"].alias("n_toks"),
        dd2.md5_long(F.col("doc_id").cast("string")).alias("skey"))
        .withColumn("shard", (F.col("skey") % qcat._EXPORT_SHARDS)
                    .cast("bigint"))
        .repartition(qcat._EXPORT_SHARDS, "shard")
        .sortWithinPartitions("shard", "skey", "doc_id"))
    p = frame._sc._jvm.PythonSQLUtils.explainString(
        frame._jdf.queryExecution(), "simple")
    assert "Sort" in p and "false, 0" in p   # partition-local sort
    assert "true, 0" not in p                # no global sort anywhere
    assert "hashpartitioning(shard" in p


def test_postings_compact_layout_is_cell_partitioned(spark, cat):
    """The compacted artifact must carry the inverted-list layout:
    one cent_id=K directory per occupied cell, so a probe's read is
    partition-pruned to its cells."""
    import os
    cat["ivf_postings_compact"][0](spark, SF001).collect()
    out_path = qcat._artifact_path(SF001, "ivf_postings_compacted")
    cells = sorted(d for d in os.listdir(out_path)
                   if d.startswith("cent_id="))
    assert cells, "no cell directories in the compacted artifact"
    on_disk = {int(d.split("=")[1]) for d in cells}
    want = {int(r["cent_id"]) for r in
            spark.read.parquet(out_path).select("cent_id")
            .distinct().collect()}
    assert on_disk == want
