"""Deterministic sampling / splitting / packing tests."""

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators import sampling as sp

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_hash_sample_deterministic_and_sized(docs):
    s1 = sorted(r["doc_id"] for r in sp.hash_sample(docs, "doc_id", 0.2).collect())
    s2 = sorted(r["doc_id"] for r in
                sp.hash_sample(docs.repartition(13), "doc_id", 0.2).collect())
    assert s1 == s2                       # partitioning-invariant membership
    n = docs.count()
    assert 0.1 * n < len(s1) < 0.3 * n    # ~20% of 500


def test_split_is_partition_and_leakage_free(docs):
    train, test = sp.train_test_split(docs, "doc_id", 0.1)
    tr = {r["doc_id"] for r in train.collect()}
    te = {r["doc_id"] for r in test.collect()}
    assert tr.isdisjoint(te)
    assert len(tr) + len(te) == docs.count()
    # stability: rerun gives identical sides
    tr2 = {r["doc_id"] for r in sp.train_test_split(docs, "doc_id", 0.1)[0].collect()}
    assert tr2 == tr


def test_pack_sequences_fills_bins(docs):
    from datafusion_monoid_spark.operators.text import token_counts
    sized = docs.select("doc_id", token_counts("text")["ws_tokens"].alias("n_toks"))
    packed = sp.pack_sequences(sized, "doc_id", "n_toks", max_tokens=512, n_shards=8)
    bins = (packed.groupBy("shard", "bin_id")
            .agg(F.sum("n_toks").alias("tot"), F.count(F.lit(1)).alias("n"))
            .collect())
    assert all(r["tot"] > 0 for r in bins)
    # a bin overflows by at most one doc: tot < 512 + per-doc max
    max_doc = sized.agg(F.max("n_toks")).first()[0]
    assert all(r["tot"] < 512 + max_doc for r in bins)
    # all docs assigned exactly once
    assert packed.count() == sized.count()
    # non-final bins in a shard are at least half full on this data
    # (sanity that packing actually packs, not one-doc-per-bin)
    per_shard_max = {r["shard"]: r["m"] for r in
                     packed.groupBy("shard").agg(F.max("bin_id").alias("m")).collect()}
    nonfinal = [r for r in bins if r["bin_id"] < per_shard_max[r["shard"]]]
    assert nonfinal and all(r["tot"] >= 256 for r in nonfinal)


def test_stratified_sample_rates_and_determinism(spark):
    """Each stratum honors its own rate with the shared stable hash:
    stratum 'a' (100%) keeps everything, 'b' (~30%) keeps roughly 30%,
    unknown strata fall to the default (0%) — and membership never
    changes across reruns or repartitionings."""
    df = spark.range(3_000).select(
        F.col("id").alias("k"),
        F.element_at(F.array(F.lit("a"), F.lit("b"), F.lit("c")),
                     (F.col("id") % 3 + 1).cast("int")).alias("stratum"))
    got = sp.stratified_hash_sample(df, "k", "stratum",
                                     {"a": 1.0, "b": 0.3})
    by = {r["stratum"]: r["n"] for r in
          got.groupBy("stratum").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by["a"] == 1_000
    assert 200 <= by.get("b", 0) <= 400
    assert "c" not in by
    again = sp.stratified_hash_sample(df.repartition(13), "k", "stratum",
                                       {"a": 1.0, "b": 0.3})
    assert ({r["k"] for r in got.collect()}
            == {r["k"] for r in again.collect()})


def test_chunk_documents_covers_and_overlaps(spark):
    """Every token appears in some chunk; consecutive chunks share
    exactly `overlap` tokens; chunks reassemble to the document."""
    df = spark.createDataFrame(
        [(1, [f"t{i}" for i in range(150)]),
         (2, [f"u{i}" for i in range(7)]),       # shorter than one chunk
         (3, [])],                                # empty: no chunks
        "doc_id int, toks array<string>")
    ch = {(r["doc_id"], r["chunk_idx"]): r["chunk"] for r in
          sp.chunk_documents(df, "doc_id", "toks",
                              chunk_tokens=64, overlap=8).collect()}
    assert {k[0] for k in ch} == {1, 2}
    d1 = [ch[(1, i)] for i in range(sorted(k[1] for k in ch if k[0] == 1)[-1] + 1)]
    # stride 56: chunk i starts at 56*i; consecutive chunks overlap by 8
    assert d1[0] == [f"t{i}" for i in range(64)]
    assert d1[1][:8] == d1[0][-8:]
    covered = [t for i, c in enumerate(d1) for t in (c if i == 0 else c[8:])]
    assert covered == [f"t{i}" for i in range(150)]
    assert ch[(2, 0)] == [f"u{i}" for i in range(7)]


# ---------------------------------------------------------------------------
# Priority sampling
# ---------------------------------------------------------------------------


def test_priority_sample_exact_when_population_fits(spark):
    """Population <= n => tau = 0 => every item is sampled and the HT
    estimate degenerates to the exact total."""
    from datafusion_monoid_spark.operators import dedup as dd
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    t = docs.select("doc_id",
                    F.size(dd.tokens("text")).cast("bigint").alias("w"))
    pop = t.where(F.col("w") > 0).count()
    samp, tau_df = sp.priority_sample(t, "w", pop + 10, "doc_id")
    assert tau_df.collect()[0]["__tau"] == 0
    got = samp.agg(F.sum("w").alias("s"), F.count(F.lit(1)).alias("n")) \
        .collect()[0]
    want = t.where(F.col("w") > 0) \
        .agg(F.sum("w").alias("s")).collect()[0]["s"]
    assert got["n"] == pop and got["s"] == want


def test_priority_sample_estimator_close_at_sf001(spark):
    """One deterministic realization with n = 200 of 500 docs: the
    corpus-wide HT estimate must land within 15% of the exact total
    (DLT variance at this rate is far tighter; the band allows for the
    fixed hash draw)."""
    from datafusion_monoid_spark.pipeline_queries import priority_sample_tokens
    rows = priority_sample_tokens(spark, "/root/testdata/sf0.01").collect()
    est = sum(r["est_total_tokens"] for r in rows)
    exact = sum(r["exact_total_tokens"] for r in rows)
    assert 0.85 * exact <= est <= 1.15 * exact, (est, exact)
    assert sum(r["n_sampled"] for r in rows) == 200


def test_priority_sample_selection_is_take_ordered(spark):
    """The top-(n+1) selection must plan as TakeOrderedAndProject, not
    a global sort."""
    from pyspark.sql import functions as F
    from datafusion_monoid_spark.operators import dedup as dd
    from datafusion_monoid_spark.operators import sampling as smp
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t = docs.select("doc_id", "source",
                    F.size(dd.tokens("text")).cast("bigint").alias("w"))
    w = F.col("w")
    u = (dd.md5_long(F.col("doc_id").cast("string"))
         % F.lit(smp.PRIORITY_SPACE) + 1)
    q = (((w * smp.PRIORITY_SPACE) - (w * smp.PRIORITY_SPACE) % u) / u) \
        .cast("bigint")
    plan_df = (t.where(w > 0).withColumn("__q", q)
               .orderBy(F.col("__q").desc(), F.col("doc_id")).limit(201))
    p = plan_df._sc._jvm.PythonSQLUtils.explainString(
        plan_df._jdf.queryExecution(), "simple")
    assert "TakeOrderedAndProject" in p


def test_priority_sample_excludes_zero_weights(spark):
    df = spark.createDataFrame(
        [(1, 0), (2, 5), (3, 7)], "doc_id long, w long")
    samp, tau_df = sp.priority_sample(df, "w", 10, "doc_id")
    ids = {r["doc_id"] for r in samp.collect()}
    assert ids == {2, 3}
    assert tau_df.collect()[0]["__tau"] == 0  # population <= n
