"""Round-12 operators: the containment-index lifecycle (append /
compact).  Operator-level behavior on constructed
corpora plus the compaction == build-from-scratch hash identity (full
value equality vs DuckDB is tools/check_oracles.py).
"""

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark import pipeline_queries as qcat
from datafusion_monoid_spark.operators import dedup as dd

SF001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def cat():
    return qcat.catalog()


def _hashed(spark, rows):
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    return (dd.shingle_hashes(docs, "doc_id", dd.word_shingles("text"))
            .distinct())


def _screen(spark, nh, idx):
    iprobes = dd.probe_argmins_long(idx, "doc_id")
    return {(r["new_id"], r["old_id"]) for r in
            qcat._containment_screen_from_hashes(
                nh.localCheckpoint(eager=True), idx, iprobes).collect()}


def test_admit_then_screen_catches_new_dups(spark):
    """The production ingest loop: a clean admitted doc becomes part
    of the index, so the NEXT batch's near-dup of it is caught —
    which the un-appended base index structurally cannot do."""
    old = [(k + 1, " ".join(f"base{k}w{i} base{k}x{i}" for i in range(12)))
           for k in range(3)]
    clean_text = " ".join(f"fresh{i} item{i} note{i}" for i in range(8))
    batch_a = [(100, clean_text)]
    quote = [(200, clean_text + " " +
              " ".join(f"tail{i} pad{i}" for i in range(20)))]
    idx = _hashed(spark, old).localCheckpoint(eager=True)
    nh_a = _hashed(spark, batch_a)
    assert _screen(spark, nh_a, idx) == set()  # batch A is clean
    # admit batch A: union-of-generations, per-doc independence
    idx2 = idx.unionByName(nh_a).localCheckpoint(eager=True)
    nh_b = _hashed(spark, quote)
    assert _screen(spark, nh_b, idx) == set()       # base misses it
    assert _screen(spark, nh_b, idx2) == {(200, 100)}  # admitted: caught


def test_flagged_survivor_is_not_admitted(spark):
    """A batch doc flagged against the index must NOT reach the
    appended generation — admitting it would snowball near-dup mass
    into the index."""
    base_text = " ".join(f"core{i} word{i} unit{i}" for i in range(10))
    old = [(1, base_text)]
    batch = [(100, base_text + " extra trailing words here"),
             (101, " ".join(f"novel{i} clean{i} doc{i}"
                            for i in range(9)))]
    idx = _hashed(spark, old).localCheckpoint(eager=True)
    nh = _hashed(spark, batch).localCheckpoint(eager=True)
    flagged = _screen(spark, nh, idx)
    assert {p[0] for p in flagged} == {100}
    clean = nh.join(
        spark.createDataFrame([(i,) for i in {p[0] for p in flagged}],
                              "doc_id bigint"),
        "doc_id", "left_anti")
    assert {r["doc_id"] for r in
            clean.select("doc_id").distinct().collect()} == {101}


def test_contain_compact_equals_from_scratch(spark, cat):
    """compact(base ∪ appended) must be ROW-IDENTICAL to a from-scratch
    build over (old corpus ∪ admitted clean docs) — the hash identity
    that makes periodic compaction safe (the ivf_postings_compact
    pattern at test_pipeline_r11.py).  The union corpus is defined by
    the admit decision itself (whose semantics the driver's oracle
    gate checks); this pin is the Spark-side recompute."""
    comp = cat["containment_postings_compact"][0](spark, SF001)
    got = sorted(tuple(r) for r in comp.collect())
    clean_ids = [r["doc_id"] for r in spark.read.parquet(
        qcat._artifact_path(SF001, "contain_index_new"))
        .select("doc_id").distinct().collect()]
    docs = qcat._docs(spark, SF001)
    union_docs = docs.where((F.col("doc_id") % 11 != 0)
                            | F.col("doc_id").isin(clean_ids))
    hashed = (dd.shingle_hashes(union_docs, "doc_id",
                                dd.word_shingles("text"))
              .distinct().localCheckpoint(eager=True))
    np_ = (dd.probe_argmins_long(hashed, "doc_id").groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_probes")))
    scratch = (hashed.groupBy("doc_id")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_hashes"),
                    F.min("h").cast("bigint").alias("min_h"),
                    F.max("h").cast("bigint").alias("max_h"),
                    F.sum("h").cast("bigint").alias("sum_h"))
               .join(np_, "doc_id"))
    want = sorted(tuple(r) for r in scratch.collect())
    assert got == want


def test_append_generations_partition_the_index(spark, cat):
    """The append report's generations carry disjoint doc sets on the
    convention split (base = doc_id % 11 != 0, appended ⊆ the batch),
    and the appended count equals the pipeline screen's n_clean_docs
    — the two entries must tell one story."""
    rep = cat["containment_postings_append"][0](spark, SF001).collect()
    base = {r["doc_id"] for r in rep if r["generation"] == "base"}
    app = {r["doc_id"] for r in rep if r["generation"] == "appended"}
    assert base and app and not base & app
    assert all(d % 11 != 0 for d in base)
    assert all(d % 11 == 0 for d in app)
    screen = cat["pipeline_containment_screen"][0](
        spark, SF001).collect()[0]
    assert len(app) == screen["n_clean_docs"]


# ---------------------------------------------------------------------------
# shard export follow-through
# ---------------------------------------------------------------------------

def test_export_read_plan_prunes_shard_partitions(spark, cat):
    """The trainer's READ path: a filter on ``shard=`` must prune at
    PLANNING time (PartitionFilters in the scan — the write-side pin
    exists at test_pipeline_r11.py; this is the missing read side).
    Checked on BOTH export artifacts."""
    for entry, art in (("export_training_shards", "training_shards"),
                       ("export_training_shards_balanced",
                        "training_shards_balanced")):
        cat[entry][0](spark, SF001).collect()  # materialize the artifact
        back = (spark.read.parquet(qcat._artifact_path(SF001, art))
                .where(F.col("shard") == 3).select("doc_id"))
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(shard" in plan, entry
        assert "(shard#" in plan.split("PartitionFilters")[1][:120], entry


def test_balanced_export_token_balance_and_determinism(spark, cat):
    """The balanced export's contract: (a) shard token budgets are
    near-equal — max/min ratio far tighter than what doc-count hash
    sharding guarantees; (b) membership is a pure function of the data
    — a second run reproduces the identical per-shard digest."""
    rows = cat["export_training_shards_balanced"][0](spark, SF001).collect()
    toks = {r["shard"]: r["shard_tokens"] for r in rows}
    assert len(toks) == qcat._EXPORT_SHARDS
    ratio = max(toks.values()) / min(toks.values())
    assert ratio <= 1.05, f"shard token ratio {ratio:.3f}"
    again = cat["export_training_shards_balanced"][0](spark, SF001).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


# ---------------------------------------------------------------------------
# LSH index lifecycle (second session)
# ---------------------------------------------------------------------------

def test_lsh_compact_equals_from_scratch(spark, cat):
    """compact(base ∪ appended) must be ROW-IDENTICAL to a from-scratch
    LSH index build over (old corpus ∪ admitted docs) — the per-doc-
    independence identity, third family edition."""
    comp = cat["lsh_postings_compact"][0](spark, SF001)
    got = sorted(tuple(r) for r in comp.collect())
    clean_ids = [r["doc_id"] for r in spark.read.parquet(
        qcat._artifact_path(SF001, "lsh_sigs_new"))
        .select("doc_id").collect()]
    docs = qcat._docs(spark, SF001)
    union_docs = docs.where((F.col("doc_id") % 11 != 0)
                            | F.col("doc_id").isin(clean_ids))
    sigs = (dd.minhash_signatures(union_docs, "doc_id", "text")
            .localCheckpoint(eager=True))
    acc = F.lit(0).cast("bigint")
    sd = sigs.select(
        "doc_id",
        F.aggregate("sig", acc, lambda a, x: a + x).alias("sig_sum"),
        F.array_min("sig").cast("bigint").alias("sig_min"),
        F.array_max("sig").cast("bigint").alias("sig_max"))
    bd = (dd.minhash_band_buckets(sigs, "doc_id").groupBy("doc_id")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands"),
               F.countDistinct("band_hash").cast("bigint")
               .alias("n_buckets"),
               F.min("band_hash").alias("min_band"),
               F.max("band_hash").alias("max_band")))
    want = sorted(tuple(r) for r in sd.join(bd, "doc_id").collect())
    assert got == want and got


def test_lsh_append_admits_only_unflagged(spark, cat):
    """Appended docs must be exactly the batch minus the incremental
    screen's flagged new docs (the 0.35 est-Jaccard convention) —
    the lifecycle and the standing screen entry must tell one story."""
    rep = cat["lsh_postings_append"][0](spark, SF001).collect()
    app = {r["doc_id"] for r in rep if r["generation"] == "appended"}
    base = {r["doc_id"] for r in rep if r["generation"] == "base"}
    assert app and base and not app & base
    assert all(d % 11 == 0 for d in app)
    flagged = {r["new_id"] for r in
               cat["dedup_incremental_newbatch"][0](spark, SF001)
               .collect()}
    sigs, _ = qcat._minhash_shared(spark, SF001)
    batch = {r["doc_id"] for r in
             sigs.where(F.col("doc_id") % 11 == 0)
             .select("doc_id").collect()}
    assert app == batch - flagged


def test_compact_cascade_self_screen_keep_min(spark):
    """The compact-time cascade's self-screen: among an admitted
    generation containing a quote pair (containment >= 0.6) and an
    unrelated doc, exactly the GREATER id of the pair drops — the
    duplicate admissions of one generation are collapsed at
    compaction."""
    quote = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(6))
    rows = [(100, quote),
            (101, quote + " " + " ".join(f"pad{i} x{i}"
                                         for i in range(4))),
            (200, " ".join(f"other{i} stuff{i} here{i}"
                           for i in range(8)))]
    hashed = _hashed(spark, rows).localCheckpoint(eager=True)
    drop = {r["doc_id"] for r in
            qcat._containment_self_screen_drop(hashed).collect()}
    assert drop == {101}


def test_compact_cascade_superset_of_plain_compact_base(spark, cat):
    """The cascaded artifact's base side must equal the plain build's
    digest (folding never touches base rows), and its admitted side is
    a subset of the admitted generation before the self-screen (the
    batch twin's ``cleanh`` relation, which the cascade's oracle also
    starts from: the self-screen only ever removes)."""
    import duckdb

    casc = cat["containment_compact_cascade"][0](spark, SF001).collect()
    base = {r["doc_id"]: tuple(r) for r in
            cat["containment_index_build"][0](spark, SF001).collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS FROM '{SF001}/documents.parquet'")
    adm = {r[0] for r in con.sql(
        f"WITH {qcat._contain_admit_clean_ctes()} "
        "SELECT DISTINCT doc_id FROM cleanh").fetchall()}
    casc_ids = {r["doc_id"] for r in casc}
    assert set(base) <= casc_ids
    for r in casc:
        if r["doc_id"] in base:
            assert tuple(r) == base[r["doc_id"]]
    assert casc_ids - set(base) <= adm
