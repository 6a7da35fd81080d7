"""Quickstart: what a user of the reference engine runs after switching.

    python examples/quickstart.py [sf_dir]

Walks the engine surface end to end: the reference's own SQL entry
point, the three array_reduce forms, and one operator from each pipeline
family.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from datafusion_monoid_spark import (
    array_reduce,
    array_reduce_exploded,
    get_spark,
    register_all,
)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark("quickstart")
    register_all(spark)

    # 1. The reference's verbatim entry point (src/monoid.rs:568-571)
    spark.createDataFrame([([1, 2, 3],), ([4, 5, 6],)], "arrays array<int>") \
        .createOrReplaceTempView("test")
    print("reference query:")
    spark.sql("SELECT array_reduce_sum(arrays) AS result FROM test").show()

    # 1b. The same SQL on an UNBOUNDED group: route it (the registered
    # name is a Complete-mode Arrow UDAF that folds each whole group in
    # one Python worker, guarded past 1M rows per group; the router
    # executes the identical statement as a partial-agg plan)
    from datafusion_monoid_spark.sql_route import route_monoid_sql
    print("routed form (same SQL text, partial-agg plan):")
    route_monoid_sql(
        spark, "SELECT array_reduce_sum(arrays) AS result FROM test").show()

    # 2. Expression form on real data: per-returnflag vector sums
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    vecs = li.select("l_returnflag",
                     F.array("l_quantity", "l_extendedprice").alias("v"))
    print("expression form (grouped):")
    vecs.groupBy("l_returnflag") \
        .agg(array_reduce("v", "sum", "double").alias("result")) \
        .orderBy("l_returnflag").show(truncate=False)

    # 3. The 100 TB form: posexplode two-phase
    print("posexplode form (same result):")
    array_reduce_exploded(vecs, ["l_returnflag"], "v", "sum", "double") \
        .orderBy("l_returnflag").show(truncate=False)

    # 4. One operator per pipeline family
    from datafusion_monoid_spark.operators import dedup, sketch, similarity, text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    print("minhash near-dup candidates:")
    dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(docs, "doc_id", "text"), "doc_id") \
        .select("id_a", "id_b",
                F.round(dedup.estimated_jaccard("sig_a", "sig_b"), 3)
                .alias("est_jacc")) \
        .orderBy(F.col("est_jacc").desc()).show(5)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    print("cosine top-3 for 3 query vectors:")
    similarity.brute_force_topk(emb, emb.where(F.col("vec_id") < 3), k=3).show()

    pred, score = text.lang_id("text")
    print("language id:")
    docs.select("doc_id", pred.alias("lang"), F.round(score, 3).alias("score")) \
        .show(5)

    toks = docs.select(F.explode(dedup.tokens("text")).alias("tok"))
    print("count-min sketch heavy hitters:")
    cms = sketch.cms_build(toks, "tok")
    sketch.cms_estimate(cms, toks.distinct(), "tok") \
        .orderBy(F.col("estimate").desc()).show(5)

    print("distinct tokens: HyperLogLog estimate vs exact:")
    row = sketch.hll_estimate(sketch.hll_build(toks, "tok")) \
        .crossJoin(toks.agg(F.count_distinct("tok").alias("exact"))) \
        .collect()[0]
    corrected = sketch.hll_corrected(row["nonzero_regs"], row["hll_estimate"])
    print(f"  raw={row['hll_estimate']}  small-range-corrected="
          f"{corrected:.0f}  exact={row['exact']}")

    # 5. Training-corpus curation: mix strata, chunk into windows
    from datafusion_monoid_spark.operators import sampling

    with_lang = docs.select("doc_id", pred.alias("lang"), "text")
    mixed = sampling.stratified_hash_sample(
        with_lang, "doc_id", "lang", {"en": 1.0, "de": 0.5}, 0.1)
    print("stratified corpus mix (keep all en, half de, 10% rest):")
    mixed.groupBy("lang").count().orderBy("lang").show()

    chunks = sampling.chunk_documents(
        mixed.withColumn("toks", dedup.tokens("text")), "doc_id", "toks",
        chunk_tokens=64, overlap=8)
    print("training windows (64 tokens, stride 56):")
    chunks.select("doc_id", "chunk_idx", F.size("chunk").alias("len")).show(5)

    # 6. Decontaminate against a held-out eval slice, filter repetition
    from datafusion_monoid_spark.operators import curation

    ev = docs.where(F.col("doc_id") % 97 == 0)
    tr = docs.where(F.col("doc_id") % 97 != 0)
    hits = curation.contaminated_ids(
        curation.ngram_hashes(tr, "doc_id", "text", 4),
        curation.ngram_hashes(ev, "doc_id", "text", 4), "doc_id")
    print(f"decontamination: {hits.count()} train docs share a 4-gram "
          "with the eval slice")

    feats = curation.repetition_features(docs, "doc_id", "text")
    spammy = feats.where(
        F.col("top_token_micro") >= curation.TOP_TOKEN_FLAG_MICRO)
    print(f"repetition filter: {spammy.count()} docs over the 12% "
          "top-token threshold")

    # 7. Z-order the orders table for 2-D pruning; fuzzy-match names
    from datafusion_monoid_spark.operators import layout, linkage

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    x = (F.col("o_custkey") % 1024).cast("bigint")
    y = (F.datediff("o_orderdate", F.lit("1995-01-01")) % 1024).cast("bigint")
    clustered = layout.zorder_repartition(orders, x, y, n_files=8)
    print(f"z-order layout: {clustered.rdd.getNumPartitions()} "
          "morton-sorted shards ready to write")

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    fuzz = linkage.fuzzy_pairs(cust, "c_custkey", "c_name", max_dist=1)
    print(f"entity resolution: {fuzz.count()} customer-name pairs "
          "within 1 edit")

    # 8. warehouse operations around the corpus: the expectations
    # gate, time-series repair, and incremental-view maintenance
    from datafusion_monoid_spark import queries as qcat

    cat = qcat.catalog()
    bad = (cat["dq_integrity_report"][0](spark, SF_DIR)
           .where(F.col("n_violations") > 0).count())
    print(f"data quality: {bad} failing checks (FK/PK/domain/NaN)")

    gaps = (cat["events_gapfill_ffill"][0](spark, SF_DIR)
            .where(F.col("is_gap") == 1).count())
    print(f"gap-fill: {gaps} missing hours materialized + forward-filled")

    mv = cat["incremental_rollup_merge"][0](spark, SF_DIR).count()
    print(f"incremental rollup: {mv} hourly cells from persisted "
          "partials + new-tail merge")

    # 9. round-6 tier: sketch-based distinct accounting, weighted
    # sampling, contrastive negatives, table profiling
    from datafusion_monoid_spark.operators import sketch

    el = docs.select("source", F.explode(
        dedup.word_shingles("text")).alias("sh"))
    skd = sketch.kmv_sketch(el, "source", "sh", k=128)
    est = skd.select("source", sketch.kmv_estimate(
        F.col("sketch"), k=128).alias("est"))
    print("KMV distinct-shingle estimates per source:")
    est.orderBy("source").show(3)

    samp = cat["priority_sample_tokens"][0](spark, SF_DIR)
    print("priority sample: per-source HT token totals vs exact:")
    samp.orderBy("source").show(3)

    neg = cat["hardneg_mining_topk"][0](spark, SF_DIR)
    print(f"hard negatives mined: {neg.count()} "
          "(margin-denoised, cross-label)")

    prof = cat["dq_column_profile"][0](spark, SF_DIR)
    print("one-pass column profile of orders:")
    prof.orderBy("column_name").show(truncate=False)

    merges = cat["bpe_train_merges"][0](spark, SF_DIR)
    print("BPE merges learned (later rounds build on earlier ones):")
    merges.orderBy("rk").show(truncate=False)

    enc = cat["bpe_encode_newbatch"][0](spark, SF_DIR)
    print("arriving batch encoded under the standing-corpus tokenizer"
          " (OOV share = the refit signal):")
    enc.orderBy("source").show(3)

    spark.stop()


if __name__ == "__main__":
    main()
