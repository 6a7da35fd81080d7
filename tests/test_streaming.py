"""Structured Streaming monoid aggregation: the streamed result must
equal the batch computation of the same monoid reduce (the merge-safety
property the reference is named for, src/monoid.rs:13-21)."""

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.streaming.monoid_stream import (
    read_events_batch,
    read_events_stream,
    run_stream_to_memory,
    streaming_monoid_reduce,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_dir(tmp_path):
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "part-0.parquet")
    return str(d)


def test_stream_matches_batch(spark, events_dir, tmp_path):
    stream = read_events_stream(spark, events_dir)
    agg = streaming_monoid_reduce(stream, "sum", window="1 hour")
    q = run_stream_to_memory(agg, "mstream", str(tmp_path / "ckpt"))
    try:
        got = {
            (r["window_start"], r["event_type"], r["pos"]): round(r["val"], 6)
            for r in spark.sql("SELECT * FROM mstream").collect()
        }
    finally:
        q.stop()

    # batch twin on the same file
    batch = (
        read_events_batch(spark, events_dir)
        .select("event_time", "event_type",
                F.posexplode(F.array("value", F.col("value") * F.col("value"),
                                     F.lit(1.0))).alias("pos", "elem"))
        .groupBy(F.window("event_time", "1 hour"), "event_type", "pos")
        .agg(F.sum("elem").alias("val"))
        .select(F.col("window").start.alias("ws"), "event_type", "pos", "val")
    )
    want = {(r["ws"], r["event_type"], r["pos"]): round(r["val"], 6)
            for r in batch.collect()}

    assert got == want
    assert len(got) > 100  # real coverage: many windows x types x 3 positions


def test_session_windows_match_batch(spark, events_dir, tmp_path):
    from datafusion_monoid_spark.streaming.monoid_stream import (
        streaming_session_windows)
    stream = read_events_stream(spark, events_dir)
    agg = streaming_session_windows(stream, gap="30 minutes")
    q = run_stream_to_memory(agg, "sessions", str(tmp_path / "ckpt_s"))
    try:
        got = {(r["user_id"], r["session_start"]): (r["n_events"], r["total_milli"])
               for r in spark.sql("SELECT * FROM sessions").collect()}
    finally:
        q.stop()

    mv = F.round(F.col("value") * 1000).cast("bigint")
    batch = (
        read_events_batch(spark, events_dir)
        .groupBy(F.session_window("event_time", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(mv).alias("t"))
        .select(F.col("session_window").start.alias("ss"), "user_id", "n", "t")
    )
    want = {(r["user_id"], r["ss"]): (r["n"], round(r["t"], 4))
            for r in batch.collect()}
    assert got == want and len(got) > 50


def test_stateful_monoid_accumulator_merges_across_batches(spark, events_dir, tmp_path):
    """Two micro-batches; final state must equal the single-pass batch
    computation — the accumulator merge contract (src/monoid.rs:445-465)."""
    from datafusion_monoid_spark.streaming.monoid_stream import (
        stateful_monoid_accumulator)
    d = Path(events_dir)

    stream = read_events_stream(spark, events_dir)
    acc = stateful_monoid_accumulator(stream)
    q = run_stream_to_memory(acc, "acc1", str(tmp_path / "ckpt_a"),
                             output_mode="update")
    try:
        # feed a second identical file -> a second micro-batch
        shutil.copy(f"{SF}/events.parquet", d / "part-1.parquet")
        q.processAllAvailable()
        rows = spark.sql("""
            SELECT event_type, acc_sum, acc_count, batches FROM acc1
        """).collect()
    finally:
        q.stop()
    # memory sink in update mode appends updated rows; keep the latest
    # (max batches) per event_type
    latest = {}
    for r in rows:
        if r["event_type"] not in latest or r["batches"] > latest[r["event_type"]]["batches"]:
            latest[r["event_type"]] = r

    batch = {r["event_type"]: (r["s"], r["c"]) for r in
             read_events_batch(spark, events_dir)
             .groupBy("event_type")
             .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("c"))
             .collect()}
    assert set(latest) == set(batch)
    for et, r in latest.items():
        s, c = batch[et]
        assert r["acc_count"] == float(c)
        assert abs(r["acc_sum"] - s) < 1e-6 * max(1.0, abs(s))
        assert r["batches"] >= 2          # state really spanned micro-batches


def test_stream_is_incremental(spark, events_dir, tmp_path):
    """Feeding the same data as TWO files must produce the doubled sums —
    i.e. state actually merges across micro-batches (monoid property)."""
    d = Path(events_dir)
    shutil.copy(d / "part-0.parquet", d / "part-1.parquet")
    stream = read_events_stream(spark, events_dir)
    agg = streaming_monoid_reduce(stream, "sum", window="1 hour")
    q = run_stream_to_memory(agg, "mstream2", str(tmp_path / "ckpt2"))
    try:
        rows = spark.sql(
            "SELECT sum(val) AS s FROM mstream2 WHERE pos = 2").collect()
    finally:
        q.stop()
    # pos 2 sums the per-event literal 1.0 -> total events x 2 files
    assert rows[0]["s"] == 2000.0


def test_foreach_batch_upsert_matches_batch(spark, tmp_path):
    """foreachBatch parquet upsert sink: multiple micro-batches
    (maxFilesPerTrigger=1 over two input files) upsert into the target;
    the final table equals the batch computation over all input."""
    from datafusion_monoid_spark.streaming.monoid_stream import (
        run_stream_foreach_batch,
    )

    d = tmp_path / "events_multi"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "part-0.parquet")
    shutil.copy(f"{SF}/events.parquet", d / "part-1.parquet")

    stream = read_events_stream(spark, str(d), maxFilesPerTrigger="1")
    agg = streaming_monoid_reduce(stream, "sum", window="1 hour")

    target = str(tmp_path / "fb_target")
    q = run_stream_foreach_batch(agg, target,
                                 ["window_start", "event_type", "pos"],
                                 str(tmp_path / "fb_ckpt"))
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    q.stop()
    assert n_batches >= 2            # genuinely incremental, not one epoch

    got = {(r["window_start"], r["event_type"], r["pos"]): round(r["val"], 6)
           for r in spark.read.parquet(target).collect()}

    batch = (
        read_events_batch(spark, str(d))
        .select("event_time", "event_type",
                F.posexplode(F.array("value", F.col("value") * F.col("value"),
                                     F.lit(1.0))).alias("pos", "elem"))
        .groupBy(F.window("event_time", "1 hour"), "event_type", "pos")
        .agg(F.sum("elem").alias("val"))
        .select(F.col("window").start.alias("ws"), "event_type", "pos", "val")
    )
    want = {(r["ws"], r["event_type"], r["pos"]): round(r["val"], 6)
            for r in batch.collect()}
    assert got == want


def test_streaming_dedup_drops_redelivery(spark, tmp_path):
    """The same events file delivered twice (at-least-once) dedups back
    to exactly the distinct event_ids, with watermark-bounded state."""
    from datafusion_monoid_spark.streaming.monoid_stream import (
        read_events_stream,
        streaming_dedup,
    )

    d = tmp_path / "events_dup"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "part-0.parquet")
    shutil.copy(f"{SF}/events.parquet", d / "part-1.parquet")

    stream = streaming_dedup(read_events_stream(spark, str(d)))
    q = (stream.writeStream.outputMode("append")
         .format("memory").queryName("dedup_stream")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .start())
    q.processAllAvailable()
    try:
        got = spark.sql(
            "SELECT count(*) AS n, count(DISTINCT event_id) AS d "
            "FROM dedup_stream").collect()[0]
    finally:
        q.stop()
    want = (read_events_batch(spark, str(d))
            .select("event_id").distinct().count())
    assert got["n"] == got["d"] == want


def test_stream_stream_interval_join_matches_batch(spark, events_dir, tmp_path):
    """Purchase><click interval join streamed == the identical batch
    join (state-bounded by watermark + time-bound predicate)."""
    from datafusion_monoid_spark.streaming.monoid_stream import (
        read_events_stream,
        streaming_interval_join,
    )

    stream = read_events_stream(spark, events_dir)
    p = stream.where(F.col("event_type") == "purchase")
    c = stream.where(F.col("event_type") == "click")
    j = streaming_interval_join(p, c, within="24 hours",
                                watermark="48 hours")
    q = (j.writeStream.outputMode("append")
         .format("memory").queryName("ssj_stream")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .start())
    q.processAllAvailable()
    try:
        got = {(r["purchase_id"], r["click_id"]) for r in
               spark.sql("SELECT * FROM ssj_stream").collect()}
    finally:
        q.stop()

    ev = read_events_batch(spark, events_dir)
    bp = ev.where(F.col("event_type") == "purchase").alias("p")
    bc = ev.where(F.col("event_type") == "click").alias("c")
    want = {(r["pid"], r["cid"]) for r in
            bp.join(bc, F.expr("""
                p.user_id = c.user_id AND
                c.event_time BETWEEN p.event_time - INTERVAL 24 hours
                                 AND p.event_time"""))
            .select(F.col("p.event_id").alias("pid"),
                    F.col("c.event_id").alias("cid")).collect()}
    assert got == want
    assert len(got) > 50


def test_streaming_histogram_matches_batch_and_quantiles(spark, events_dir, tmp_path):
    """The histogram sketch built by the stream equals the batch build
    per window, and its quantiles match sketch.hist_quantiles on the
    batch side — the mergeable-sketch streaming contract."""
    from datafusion_monoid_spark.operators import sketch as sk
    from datafusion_monoid_spark.streaming.monoid_stream import (
        read_events_stream, streaming_histogram)

    stream = read_events_stream(spark, events_dir)
    agg = streaming_histogram(stream, "value", 0.0, 500.0, 64,
                              window="1 hour")
    q = run_stream_to_memory(agg, "hstream", str(tmp_path / "ckpt_h"))
    try:
        got = {(r["window_start"], r["bin"]): r["cnt"]
               for r in spark.sql("SELECT * FROM hstream").collect()}
    finally:
        q.stop()

    batch = read_events_batch(spark, events_dir)
    want_rows = (batch.where(F.col("value").isNotNull())
                 .groupBy(F.window("event_time", "1 hour"),
                          sk.hist_bin(F.col("value"), 0.0, 500.0, 64).alias("bin"))
                 .agg(F.count(F.lit(1)).alias("cnt"))
                 .select(F.col("window").start.alias("ws"), "bin", "cnt")
                 .collect())
    want = {(r["ws"], r["bin"]): r["cnt"] for r in want_rows}
    assert got == want and len(got) > 0

    # quantiles of one streamed window == quantiles of the batch sketch
    ws = max(w for w, _ in got)
    one = spark.createDataFrame(
        [(b, c) for (w, b), c in got.items() if w == ws], "bin long, cnt long")
    stream_q = {r["q_micro"]: r["bin"]
                for r in sk.hist_quantiles(one, [500000, 900000],
                                           0.0, 500.0, 64).collect()}
    batch_hist = spark.createDataFrame(
        [(b, c) for (w, b), c in want.items() if w == ws], "bin long, cnt long")
    batch_q = {r["q_micro"]: r["bin"]
               for r in sk.hist_quantiles(batch_hist, [500000, 900000],
                                          0.0, 500.0, 64).collect()}
    assert stream_q == batch_q


def test_streaming_contamination_matches_batch(spark, tmp_path):
    """Stream-static semi join: the contaminated-id stream equals the
    batch decontamination verdict on the same corpus file."""
    import shutil
    from datafusion_monoid_spark.operators import curation as cu
    from datafusion_monoid_spark.streaming.monoid_stream import (
        streaming_contamination_alerts)

    d = tmp_path / "docs_stream"
    d.mkdir()
    shutil.copy(f"{SF}/documents.parquet", d / "part-0.parquet")

    batch_docs = spark.read.parquet(str(d))
    ev = batch_docs.where(F.col("doc_id") % 97 == 0)
    tr_stream = (spark.readStream
                 .schema(batch_docs.schema).parquet(str(d))
                 .where(F.col("doc_id") % 97 != 0))
    alerts = streaming_contamination_alerts(
        tr_stream, cu.ngram_hashes(ev, "doc_id", "text", 4))
    q = (alerts.writeStream.outputMode("append")
         .format("memory").queryName("contam")
         .option("checkpointLocation", str(tmp_path / "ckpt_c"))
         .start())
    try:
        q.processAllAvailable()
        got = {r.doc_id for r in spark.sql("SELECT * FROM contam").collect()}
    finally:
        q.stop()

    tr = batch_docs.where(F.col("doc_id") % 97 != 0)
    want = {r.doc_id for r in cu.contaminated_ids(
        cu.ngram_hashes(tr, "doc_id", "text", 4),
        cu.ngram_hashes(ev, "doc_id", "text", 4), "doc_id").collect()}
    assert got == want and len(want) > 0


def test_streaming_cms_matches_batch_sketch(spark, events_dir, tmp_path):
    """Per-window streamed CMS cells equal the batch sketch built on
    each window's slice — the count-matrix monoid streaming contract."""
    from datafusion_monoid_spark.operators import sketch as sk
    from datafusion_monoid_spark.streaming.monoid_stream import (
        read_events_stream, streaming_cms)

    stream = read_events_stream(spark, events_dir)
    agg = streaming_cms(stream, "event_type", window="1 hour")
    q = run_stream_to_memory(agg, "cmsstream", str(tmp_path / "ckpt_cms"))
    try:
        got = {(r["window_start"], r["depth"], r["bucket"]): r["cnt"]
               for r in spark.sql("SELECT * FROM cmsstream").collect()}
    finally:
        q.stop()

    batch = (read_events_batch(spark, events_dir)
             .withColumn("ws", F.window("event_time", "1 hour").start))
    cells = (batch.select(
        "ws", F.posexplode(F.array(*[
            sk._cms_hash(F.col("event_type"), i, 256) for i in range(4)
        ])).alias("depth", "bucket"))
        .groupBy("ws", "depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt")))
    want = {(r["ws"], r["depth"], r["bucket"]): r["cnt"]
            for r in cells.collect()}
    assert got == want and len(got) > 0


def test_streaming_ann_serve_equals_batch_search(spark):
    """The streamed serve loop (per-micro-batch inference against the
    prebuilt IVF index) must return EXACTLY the batch search over the
    same query set — the stream==batch contract for a stateless serve —
    and must actually stream (multiple micro-batches)."""
    from datafusion_monoid_spark import queries as qcat
    from datafusion_monoid_spark.streaming import stream_queries as sq

    cat = qcat.catalog()
    cat["sim_ivf_fit_centroids"][0](spark, SF).collect()   # persist index
    served = cat["streaming_ann_serve"][0](spark, SF).collect()
    met = sq.LAST_STREAM_METRICS["streaming_ann_serve"]
    assert met["batches"] >= 2, met     # several triggers, not one gulp
    batch = cat["sim_topk_ivf_pretrained"][0](spark, SF).collect()
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["sim"]) for r in rows)
    assert key(served) == key(batch)


def test_streaming_bpe_serve_equals_batch_encode(spark):
    """The streamed tokenizer serve (per-micro-batch encode against
    the persisted merge model) must equal the batch encode per
    document — stream==batch for a stateless serve — and must actually
    stream (multiple micro-batches)."""
    from pyspark.sql import functions as F

    from datafusion_monoid_spark import queries as qcat
    from datafusion_monoid_spark.operators import bpe, dedup as dd
    from datafusion_monoid_spark.streaming import stream_queries as sq

    cat = qcat.catalog()
    served = cat["streaming_bpe_encode_serve"][0](spark, SF).collect()
    met = sq.LAST_STREAM_METRICS["streaming_bpe_encode_serve"]
    assert met["batches"] >= 2, met
    _, vpath = qcat._fit_bpe_persisted(spark, SF)
    model = (spark.read.parquet(vpath)
             .select("tok", F.size(bpe.seg_symbols(F.col("seg")))
                     .alias("n_sym")))
    batch = (qcat._docs(spark, SF)
             .select("doc_id", "source",
                     F.explode(dd.tokens("text")).alias("tok"))
             .join(F.broadcast(model), "tok")
             .groupBy("doc_id", "source")
             .agg(F.count(F.lit(1)).alias("n_tokens"),
                  F.sum("n_sym").alias("n_symbols"))).collect()
    key = lambda rows: sorted(
        (r["doc_id"], r["source"], r["n_tokens"], r["n_symbols"])
        for r in rows)
    assert key(served) == key(batch)


def test_streaming_rollup_maintenance_equals_batch_recompute(spark):
    """The streamed materialized view (per-batch partials appended,
    merged on read) must equal the full batch recompute row-for-row,
    and must actually stream (multiple micro-batches)."""
    from datafusion_monoid_spark import queries as qcat
    from datafusion_monoid_spark.streaming import stream_queries as sq

    cat = qcat.catalog()
    streamed = cat["streaming_rollup_maintenance"][0](spark, SF).collect()
    met = sq.LAST_STREAM_METRICS["streaming_rollup_maintenance"]
    assert met["batches"] >= 2, met
    full = (qcat._hourly_partials(qcat._events(spark, SF))
            .withColumnRenamed("v_milli", "v_milli").collect())
    key = lambda rows: sorted(
        (r["event_type"], r["hour_bucket"], r["n"], r["v_milli"])
        for r in rows)
    assert key(streamed) == key(full)


def test_stream_integer_product_renders_the_cell_text(spark):
    """The stream renders the same per-cell aggregates as the batch
    posexplode form: a 32-bit product saturates exactly, and a 64-bit
    product, whose exact pass needs a second aggregation, is refused
    with the batch route named."""
    ev = spark.createDataFrame(
        [("2024-01-01 00:10:00", "a", 2**20), ("2024-01-01 00:20:00", "a", 2**20),
         ("2024-01-01 00:30:00", "b", -3)],
        "ts string, event_type string, v int",
    ).select(F.col("ts").cast("timestamp").alias("event_time"),
             "event_type", "v")
    got = streaming_monoid_reduce(ev, "product", "int",
                                  vec=F.array("v", F.lit(1))).collect()
    assert {(r["event_type"], r["pos"]): r["val"] for r in got} == {
        ("a", 0): 2**31 - 1, ("a", 1): 1, ("b", 0): -3, ("b", 1): 1}
    with pytest.raises(ValueError, match="array_reduce_exploded"):
        streaming_monoid_reduce(ev, "product", "bigint",
                                vec=F.array(F.col("v").cast("bigint")))


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.mark.parametrize("unit, conf_after, ts_type", [
    ("us", "false", "timestamp"),   # micros: the session is left alone
    ("ns", "true", "bigint"),       # nanos: readable only as LONG
])
def test_events_reader_sets_nanos_conf_only_for_nanos(spark, tmp_path, unit,
                                                      conf_after, ts_type):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / f"events_{unit}"
    d.mkdir()
    pq.write_table(pa.table({
        "event_id": [1, 2], "ts": pa.array([0, 1], pa.timestamp("s"))
                            .cast(pa.timestamp(unit, "UTC")),
        "user_id": [1, 1], "event_type": ["a", "a"], "value": [1.0, 2.0],
        "props": ["", ""]}), str(d / "part-0.parquet"), version="2.6")
    before = spark.conf.get(_NANOS_AS_LONG)
    spark.conf.set(_NANOS_AS_LONG, "false")
    try:
        ev = read_events_batch(spark, str(d))
        assert spark.conf.get(_NANOS_AS_LONG) == conf_after
        assert ev.schema["ts"].dataType.simpleString() == ts_type
        assert [r["event_time"].second for r in ev.orderBy("event_id")
                .collect()] == [0, 1]
    finally:
        spark.conf.set(_NANOS_AS_LONG, before)
