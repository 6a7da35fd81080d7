"""The pipeline tier's streaming entries and stream operators.

Each entry runs a real Structured Streaming query over staged input
batches (file source -> per-batch work against persisted artifacts or
state -> parquet sink) and returns the result as a plain DataFrame, so
``tools/check_oracles.py`` compares it with the BATCH twin of the same
semantics in DuckDB SQL — stream == batch on the same finite input is
the streaming-correctness contract.

Scale posture: every query here keeps bounded state (windowed,
watermarked, or none: the serve loops carry everything in their
index), the same plans a production stream runs; the sinks are the
harness's collection surface.

The non-monoid stream operators (session windows, watermark dedup, the
interval join, stream-static decontamination and the windowed CMS) live
here too, checked against their batch twins in
``tests/test_streaming.py``.  The monoid path is ``monoid_stream``, and
its catalog entry, ``streaming_windowed_monoid``, is in ``queries.py``.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
import time

import glob as _glob

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_monoid_spark.queries import _TMPFS, STREAM_SHUFFLE


#: sink-name -> {"processing_sec": engine time summed over micro-batch
#: triggerExecution durations, "batches": n} for the LAST run of each
#: streaming query.  bench.py reports this next to wall time: the
#: difference is pure harness (checkpoint setup, query start/stop,
#: driver round-trips), which is what dominates sub-10 s local runs and
#: amortizes to nothing on a long-lived production stream.
LAST_STREAM_METRICS: dict[str, dict] = {}

_CKPT_ROOT: str | None = None


def _ckpt_root() -> str:
    """Session-scoped tmpfs root (/dev/shm when present), created once
    per process and removed when it exits — checkpoint, staging and
    sink writes all hit RAM."""
    global _CKPT_ROOT
    if _CKPT_ROOT is None:
        _CKPT_ROOT = tempfile.mkdtemp(prefix="dms_ckpt_", dir=_TMPFS)
        atexit.register(shutil.rmtree, _CKPT_ROOT, ignore_errors=True)
    return _CKPT_ROOT


def _ckpt_dir(name: str) -> str:
    """Fresh per-run checkpoint dir under a session-scoped tmpfs root
    (/dev/shm when present) — state-store and offset-log writes hit
    RAM, not disk; the root is created once per process."""
    return tempfile.mkdtemp(prefix=f"{name}_", dir=_ckpt_root())


def _scratch_dir(prefix: str) -> str:
    """Staging/sink scratch under the SAME tmpfs root as the stream
    checkpoints, so per-batch parquet sink commits hit RAM, not disk.
    The serve loops previously used ``dir=_CKPT_ROOT or None``: when a
    serve loop was the first streaming entry of a sweep the root was
    still unset and the sink landed on the (fsync-heavy) default /tmp
    — the prime suspect for the r8 driver's 7.5 s engine-time outlier
    on ``streaming_lm_score_serve``."""
    return tempfile.mkdtemp(prefix=prefix, dir=_ckpt_root())


#: per-run sink-commit durations, keyed by query name — drained into
#: :data:`LAST_STREAM_METRICS` by :func:`_record_metrics` so a parquet
#: fsync regression is attributable from the bench artifact alone
_COMMITS: dict[str, list[float]] = {}


@contextlib.contextmanager
def _commit_timer(name: str):
    """Times one sink commit inside a ``foreachBatch`` handler."""
    t0 = time.perf_counter()
    yield
    _COMMITS.setdefault(name, []).append(time.perf_counter() - t0)


def _record_metrics(name: str, prog) -> None:
    """Fold one drained run's progress + commit timings into
    :data:`LAST_STREAM_METRICS`: engine time (summed triggerExecution,
    which for foreachBatch loops INCLUDES the sink commits), batch
    count, and the sink-commit decomposition — ``commit_sec`` is the
    part of ``processing_sec`` spent inside the per-batch parquet
    writes, so engine-minus-commit is pure compute."""
    commits = _COMMITS.pop(name, [])
    LAST_STREAM_METRICS[name] = {
        "processing_sec": round(sum(
            (p.get("durationMs") or {}).get("triggerExecution", 0)
            for p in prog) / 1000.0, 3),
        "batches": len(prog),
        "commits": len(commits),
        "commit_sec": round(sum(commits), 3),
        "commit_sec_max": round(max(commits), 3) if commits else 0.0,
    }


def streaming_session_windows(events: DataFrame, gap: str = "30 minutes",
                              watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows (gap-based), the streaming twin of the
    batch lag+cumsum sessionization in queries.py — but here the engine
    maintains session state natively (merging adjacent windows as events
    arrive, monoid-style).

    The session total is summed in exact integer MILLI-units
    (``round(value*1000)`` as bigint), not doubles: float summation
    order differs between the incremental stream state merge and any
    batch oracle, so a double sum can flip a rounding boundary — the
    oracle hash never rides a float."""
    mv = F.round(F.col("value") * 1000).cast("bigint")
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(mv).alias("total_milli"))
        .select(F.col("session_window").start.alias("session_start"),
                F.col("session_window").end.alias("session_end"),
                "user_id", "n_events", "total_milli")
    )


def streaming_dedup(events: DataFrame, key_cols: list[str] | None = None,
                    watermark: str = "2 hours") -> DataFrame:
    """Exactly-once event stream: drop re-deliveries by key with bounded
    state — the watermark lets the engine EVICT keys older than the
    lateness bound, so dedup state stays O(window), not O(stream).
    An unbounded ``dropDuplicates`` would grow state forever at 100 TB/day;
    this is the at-least-once -> exactly-once repair step in front of
    any downstream aggregation."""
    return (events.withWatermark("event_time", watermark)
            .dropDuplicatesWithinWatermark(key_cols or ["event_id"]))


def streaming_interval_join(purchases: DataFrame, clicks: DataFrame,
                            key: str = "user_id",
                            within: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """Stream-stream inner join: purchase matched to the same user's
    clicks in the preceding ``within`` interval.  BOTH sides carry
    watermarks and the join predicate carries the time bound — that pair
    is what lets the engine drop buffered rows once they can no longer
    match (bounded join state; an unconstrained stream-stream join
    buffers forever)."""
    p = purchases.withWatermark("event_time", watermark).alias("p")
    c = clicks.withWatermark("event_time", watermark).alias("c")
    return (
        p.join(c, F.expr(f"""
            p.{key} = c.{key} AND
            c.event_time BETWEEN p.event_time - INTERVAL {within}
                             AND p.event_time"""))
        .select(F.col(f"p.{key}").alias(key),
                F.col("p.event_id").alias("purchase_id"),
                F.col("c.event_id").alias("click_id"),
                F.col("p.event_time").alias("purchase_time"),
                F.col("c.event_time").alias("click_time"))
    )


def streaming_contamination_alerts(doc_stream: DataFrame,
                                   eval_grams: DataFrame,
                                   id_col: str = "doc_id",
                                   text_col: str = "text",
                                   n: int = 4) -> DataFrame:
    """STREAM-STATIC decontamination: the streaming corpus's n-gram
    hashes LEFT SEMI join the static benchmark gram set (broadcast —
    eval suites are MB-scale), and distinct contaminated doc ids
    stream out for quarantine.

    The stream side is never shuffled for the JOIN (broadcast semi),
    exactly like the batch operator (operators/curation.py); the only
    stateful step is the id-level dropDuplicates.  In production add
    a watermark on an arrival-time column to bound that state; the
    eval set being STATIC (reloaded per restart) is what keeps this a
    supported streaming join shape.

    The stream IS repartitioned once before tokenization: a streaming
    file source splits by FILE, so a single-file micro-batch would run
    the n-gram explode (the expensive stage) on one core — the
    streaming twin of the `_docs` single-row-group guard.  Measured at
    sf1 (50k docs, one parquet file): 43 s -> ~7 s engine time.  On a
    production bus (Kafka) source partitions already exist and this
    shuffle moves each doc once — cheap relative to the explode it
    parallelizes."""
    from datafusion_monoid_spark.operators.curation import ngram_hashes

    g = ngram_hashes(doc_stream.repartition(id_col), id_col, text_col, n)
    hits = g.join(
        F.broadcast(eval_grams.select("gram_hash").distinct()),
        "gram_hash", "left_semi")
    return hits.select(id_col).dropDuplicates([id_col])


def streaming_cms(events: DataFrame, key_col: str = "event_type",
                  depth: int = 4, width: int = 256,
                  window: str = "1 hour",
                  watermark: str = "2 hours") -> DataFrame:
    """Windowed Count-Min Sketch — the CMS count-matrix monoid
    (operators/sketch.py) in streaming form: per-(window, depth,
    bucket) counts, bounded state of window x depth x width cells no
    matter the key cardinality.  The per-window sketch answers
    frequency point-queries for THAT window and merges with any other
    window's sketch by cell-wise addition — the pre-aggregated
    rollup a streaming frequency dashboard keeps."""
    from datafusion_monoid_spark.operators.sketch import _cms_hash

    keyed = (events.withWatermark("event_time", watermark)
             .select("event_time", F.col(key_col).alias("__k")))
    exploded = keyed.select(
        "event_time",
        F.posexplode(F.array(*[
            _cms_hash(F.col("__k"), i, width) for i in range(depth)
        ])).alias("depth", "bucket"))
    return (exploded.groupBy(F.window("event_time", window),
                             "depth", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("window").start.alias("window_start"),
                    "depth", "bucket", "cnt"))


def streaming_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN SERVE: query vectors arrive as a stream; each
    micro-batch is answered against a PREBUILT IVF index — the
    production inference loop (index built once by the fit job, query
    traffic served per batch), streamed end to end.

    Shape: the corpus is assigned to its literal (persisted) centroids
    ONCE and locally checkpointed — that relation IS the index, and no
    corpus-side work remains on the per-batch path.  Incoming query
    batches (file source, one file per trigger to force multiple
    micro-batches) run ``ivf_search_pretrained``: map-only probe
    projection, broadcast join into the index, carried-norm re-rank,
    per-query top-k.  Each query's vectors arrive in exactly one batch,
    so the union of per-batch answers equals the batch search — which
    is why the fused entry's oracle replays this stream bit-for-bit,
    and tools/check_oracles.py covers a streaming inference path with a
    full hash check.  Results append to a parquet sink (the serve log);
    state is EMPTY — serving is stateless, the index carries it all."""
    from datafusion_monoid_spark import pipeline_queries as _qcat
    from datafusion_monoid_spark.operators import similarity as sim
    from datafusion_monoid_spark.plans.inspect import release_local_checkpoint

    cent_path = _qcat._fit_centroids_persisted(spark, sf_dir,
                                               overwrite=False)
    cent_list = _qcat._load_centroids_cached(spark, cent_path)
    corpus = _qcat._emb(spark, sf_dir)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE))
    try:
        index = sim.ivf_assign_pretrained(corpus, cent_list) \
            .localCheckpoint(eager=True)

        stage = _scratch_dir("ann_queries_")
        sink = _scratch_dir("ann_results_")
        # 4 query files -> 4 micro-batches of ~5 queries each
        corpus.where(F.col("vec_id") < 20).repartition(4) \
            .write.mode("overwrite").parquet(stage)

        qstream = (spark.readStream.schema(corpus.schema)
                   .option("maxFilesPerTrigger", "1").parquet(stage))

        def serve_batch(batch_df: DataFrame, batch_id: int) -> None:
            with _commit_timer("streaming_ann_serve"):
                sim.ivf_search_pretrained(index, batch_df, cent_list,
                                          k=5, nprobe=7) \
                   .coalesce(1).write.mode("append").parquet(sink)

        _COMMITS.pop("streaming_ann_serve", None)
        ckpt = _ckpt_dir("streaming_ann_serve")
        q = (qstream.writeStream.foreachBatch(serve_batch)
             .option("checkpointLocation", ckpt).start())
        try:
            q.processAllAvailable()
            _record_metrics("streaming_ann_serve", q.recentProgress)
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        out = _qcat._track_ckpt(
            spark.read.parquet(sink)
            .select("query_id", "rank", "cand_id", "sim")
            .localCheckpoint(eager=True))
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)
        release_local_checkpoint(index)
        return out
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def streaming_rollup_maintenance(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Streaming MATERIALIZED-VIEW maintenance — the always-on twin of
    ``incremental_rollup_merge``: events arrive as micro-batches (file
    source, one file per trigger), each batch reduces to its hourly
    PARTIAL aggregates (count + exact milli-int sum, both monoids) and
    appends them to the durable rollup artifact; readers merge partials
    on read (union -> re-agg).  Because the aggregation state is
    associative, the merged read equals the full batch recompute no
    matter how the stream was micro-batched — which is why this entry
    shares the batch entry's full-recompute DuckDB oracle, hash-checked.

    Scale: the sink grows O(groups x batches), not O(rows) — the
    classic compaction input; a periodic merge job (the same union ->
    re-agg) folds it back to O(groups).  foreachBatch writes are
    idempotent per epoch via the checkpoint, the stream itself is
    stateless (partials ARE the state, in the table, not the state
    store) — writes are made IDEMPOTENT per epoch by keying the sink
    on batch_id with overwrite (Spark's documented foreachBatch
    recipe: a replayed epoch overwrites its own partition instead of
    double-appending), which together with the checkpointed offsets
    gives exactly-once merged reads without stateful-operator
    checkpoint growth."""
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE))
    stage = sink = None
    try:
        from datafusion_monoid_spark import pipeline_queries as _qcat

        e = _qcat._events(spark, sf_dir) \
            .select("event_type", "sec", "value")
        stage = _scratch_dir("mv_events_")
        sink = _scratch_dir("mv_partials_")
        # 4 arrival files -> 4 micro-batches
        e.repartition(4).write.mode("overwrite").parquet(stage)

        estream = (spark.readStream
                   .schema("event_type string, sec bigint, value double")
                   .option("maxFilesPerTrigger", "1").parquet(stage))

        def write_partials(batch_df: DataFrame, batch_id: int) -> None:
            agg = (batch_df.groupBy(
                "event_type",
                F.floor(F.col("sec") / 3600).cast("bigint")
                .alias("hour_bucket"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.round(F.col("value") * 1000).cast("bigint"))
                     .alias("v_milli")))
            # idempotent replay: epoch N owns sink/batch=N exclusively
            with _commit_timer("streaming_rollup_maintenance"):
                (agg.coalesce(1).write.mode("overwrite")
                 .parquet(f"{sink}/batch={batch_id}"))

        _COMMITS.pop("streaming_rollup_maintenance", None)
        ckpt = _ckpt_dir("streaming_rollup_maintenance")
        q = (estream.writeStream.foreachBatch(write_partials)
             .option("checkpointLocation", ckpt).start())
        try:
            q.processAllAvailable()
            _record_metrics("streaming_rollup_maintenance", q.recentProgress)
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        return _qcat._track_ckpt(
            spark.read.option("recursiveFileLookup", "true").parquet(sink)
            .groupBy("event_type", "hour_bucket")
            .agg(F.sum("n").cast("bigint").alias("n"),
                 F.sum("v_milli").cast("bigint").alias("v_milli"))
            .localCheckpoint(eager=True))
    finally:
        for d in (stage, sink):
            if d:
                shutil.rmtree(d, ignore_errors=True)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def streaming_lm_score_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LM-quality SERVE: documents arrive as micro-batches
    and are scored against the PERSISTED corpus bigram model — the
    quality-filter inference loop of a production ingest (CCNet's
    KenLM stage as an always-on stream).  The model artifact (bigram +
    context counts, model-sized, trained once by the fit job) joins
    per micro-batch as a BROADCAST — serving is STATELESS, so there is
    no state store to grow: the model carries all the state.

    Each document lands in exactly one micro-batch and its score
    depends only on (its own bigrams, the static model), so the union
    of per-batch scores equals the batch computation — the per-doc
    batch twin is this entry's DuckDB oracle, full hash check.  Sink
    writes are idempotent per epoch (batch_id-keyed overwrite)."""
    from datafusion_monoid_spark import pipeline_queries as _qcat
    from datafusion_monoid_spark.operators import curation as _cu

    bg_path, ctx_path = _qcat._fit_lm_persisted(spark, sf_dir,
                                                overwrite=False)
    # HOIST the model join out of the loop: the conditional probability
    # p(w2|w1) depends only on the bigram (its context IS its first
    # word), so the two count relations fold into ONE model-sized
    # (bg, p_micro) table before the stream starts — each micro-batch
    # then pays a single broadcast join instead of two.  persist():
    # foreachBatch re-plans every micro-batch, and without it each
    # batch re-reads the artifact parquet AND re-runs the model join
    # before re-building its broadcast.
    scores = (spark.read.parquet(bg_path)
              .withColumn("w1", F.substring_index("bg", " ", 1))
              .join(spark.read.parquet(ctx_path), "w1")
              .select("bg", _cu.micro_ratio(F.col("c_bg"), F.col("c_ctx"))
                      .alias("p_micro"))).persist()
    # stage only what scoring reads — the arriving stream carries
    # (doc_id, source, text), not the full document schema
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "source", "text"))

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE))
    stage = sink = None
    try:
        stage = _scratch_dir("lm_docs_")
        sink = _scratch_dir("lm_scores_")
        # 4 arrival files -> 4 micro-batches
        docs.repartition(4).write.mode("overwrite").parquet(stage)

        dstream = (spark.readStream.schema(docs.schema)
                   .option("maxFilesPerTrigger", "1").parquet(stage))

        def score_batch(batch_df: DataFrame, batch_id: int) -> None:
            # a file-source micro-batch is ONE split (the r3
            # streaming_decontam finding): repartition before the
            # tokenize-heavy explode or it runs one-core
            b = _qcat._lm_doc_bigrams(batch_df.repartition(STREAM_SHUFFLE))
            out = (b.join(F.broadcast(scores), "bg")
                   .groupBy("doc_id", "source")
                   .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                        _qcat._idiv(F.sum("p_micro"), F.count(F.lit(1)))
                        .alias("score_micro")))
            # repartition(1), not coalesce(1): one file per commit
            # (per-file constants dominated the declared floor), but
            # through an EXPLICIT exchange so the per-doc agg's reduce
            # side keeps its parallelism — coalesce(1) collapses that
            # whole stage to one task, which serializes the 1.25M-row
            # agg merge at sf10 (the router study's lesson applied to
            # the unpartitioned sinks)
            with _commit_timer("streaming_lm_score_serve"):
                (out.repartition(1).write.mode("overwrite")
                 .parquet(f"{sink}/batch={batch_id}"))

        _COMMITS.pop("streaming_lm_score_serve", None)
        ckpt = _ckpt_dir("streaming_lm_score_serve")
        q = (dstream.writeStream.foreachBatch(score_batch)
             .option("checkpointLocation", ckpt).start())
        try:
            q.processAllAvailable()
            _record_metrics("streaming_lm_score_serve", q.recentProgress)
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        return _qcat._track_ckpt(
            spark.read.option("recursiveFileLookup", "true").parquet(sink)
            .select("doc_id", "source", "n_bigrams", "score_micro")
            .localCheckpoint(eager=True))
    finally:
        scores.unpersist()
        for d in (stage, sink):
            if d:
                shutil.rmtree(d, ignore_errors=True)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def streaming_quality_clf_serve(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Streaming quality-classifier SERVE: documents arrive as
    micro-batches and are scored against the PERSISTED curated-vs-raw
    token-ratio model (``pipeline_queries._fit_qc_persisted``) — the GPT-3-style
    quality-filter inference loop as an always-on ingest stream,
    completing the fit/serve/streaming triple for the classifier the
    way the LM tier already has it.  The model relation is
    vocabulary-bounded and loads + persists ONCE before the stream
    (the r9 lm-serve lesson: foreachBatch re-plans every micro-batch,
    so an unpersisted model re-reads its artifact per batch); each
    batch then pays a single broadcast-left-join.  Serving is
    STATELESS — the model carries all the state, so there is no state
    store to grow.

    Each document lands in exactly one micro-batch and its score
    depends only on (its own tokens, the static model), so the union
    of per-batch scores equals the batch computation — the per-doc
    batch twin is this entry's DuckDB oracle, full hash check.  Sink
    writes are idempotent per epoch (batch_id-keyed overwrite)."""
    from datafusion_monoid_spark import pipeline_queries as _qcat

    path = _qcat._fit_qc_persisted(spark, sf_dir, overwrite=False)
    model = (spark.read.parquet(path)
             .select("token", "w_micro")).persist()
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "source", "text"))

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE))
    stage = sink = None
    try:
        stage = _scratch_dir("qc_docs_")
        sink = _scratch_dir("qc_scores_")
        # 4 arrival files -> 4 micro-batches
        docs.repartition(4).write.mode("overwrite").parquet(stage)

        dstream = (spark.readStream.schema(docs.schema)
                   .option("maxFilesPerTrigger", "1").parquet(stage))

        def score_batch(batch_df: DataFrame, batch_id: int) -> None:
            # a file-source micro-batch is ONE split: repartition
            # before the tokenize-heavy explode or it runs one-core
            out = _qcat._qc_score_docs(
                batch_df.repartition(STREAM_SHUFFLE), model)
            with _commit_timer("streaming_quality_clf_serve"):
                (out.repartition(1).write.mode("overwrite")
                 .parquet(f"{sink}/batch={batch_id}"))

        _COMMITS.pop("streaming_quality_clf_serve", None)
        ckpt = _ckpt_dir("streaming_quality_clf_serve")
        q = (dstream.writeStream.foreachBatch(score_batch)
             .option("checkpointLocation", ckpt).start())
        try:
            q.processAllAvailable()
            _record_metrics("streaming_quality_clf_serve", q.recentProgress)
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        return _qcat._track_ckpt(
            spark.read.option("recursiveFileLookup", "true").parquet(sink)
            .select("doc_id", "source", "n_tokens", "score_micro")
            .localCheckpoint(eager=True))
    finally:
        model.unpersist()
        for d in (stage, sink):
            if d:
                shutil.rmtree(d, ignore_errors=True)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def streaming_bucket_route_serve(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Streaming QUALITY ROUTER: documents arrive as micro-batches,
    are scored against the PERSISTED bigram model and routed into
    per-tertile sinks against the PERSISTED threshold cuts
    (``queries.lm_bucket_thresholds``) — the always-on form of the
    CCNet head/middle/tail router: head partitions feed training,
    tail partitions feed review, and the sink layout IS the routing
    (``partitionBy(bucket)``, so downstream consumers scan only their
    tertile).  Both artifacts load once before the stream (model
    folded + persisted, cuts collected as literals), serving is
    STATELESS, and the bucket CASE is a map-only projection per batch.

    Each document lands in exactly one micro-batch and its
    (score, bucket) depends only on (its own bigrams, the two static
    artifacts), so the union of per-batch routes equals the batch
    computation — the per-doc batch twin is this entry's DuckDB
    oracle, full hash check.  Sink writes are idempotent per epoch
    (batch_id-keyed overwrite)."""
    from datafusion_monoid_spark import pipeline_queries as _qcat
    from datafusion_monoid_spark.operators import curation as _cu

    tpath = _qcat._fit_lm_thresholds_persisted(spark, sf_dir,
                                               overwrite=False)
    cuts = spark.read.parquet(tpath).collect()[0]  # 1-row artifact
    bg_path, ctx_path = _qcat._fit_lm_persisted(spark, sf_dir,
                                                overwrite=False)
    scores = (spark.read.parquet(bg_path)
              .withColumn("w1", F.substring_index("bg", " ", 1))
              .join(spark.read.parquet(ctx_path), "w1")
              .select("bg", _cu.micro_ratio(F.col("c_bg"), F.col("c_ctx"))
                      .alias("p_micro"))).persist()
    bucket = (F.when(F.col("score_micro") >= int(cuts["cut3_micro"]), 3)
              .when(F.col("score_micro") >= int(cuts["cut2_micro"]), 2)
              .otherwise(1)).cast("int").alias("bucket")
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "source", "text"))

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE))
    stage = sink = None
    try:
        stage = _scratch_dir("route_docs_")
        sink = _scratch_dir("route_out_")
        # 4 arrival files -> 4 micro-batches
        docs.repartition(4).write.mode("overwrite").parquet(stage)

        dstream = (spark.readStream.schema(docs.schema)
                   .option("maxFilesPerTrigger", "1").parquet(stage))

        def route_batch(batch_df: DataFrame, batch_id: int) -> None:
            # a file-source micro-batch is ONE split: repartition
            # before the tokenize-heavy explode or it runs one-core
            b = _qcat._lm_doc_bigrams(batch_df.repartition(STREAM_SHUFFLE))
            out = (b.join(F.broadcast(scores), "bg")
                   .groupBy("doc_id", "source")
                   .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                        _qcat._idiv(F.sum("p_micro"), F.count(F.lit(1)))
                        .alias("score_micro"))
                   .select("doc_id", "source", "n_bigrams",
                           "score_micro", bucket))
            # one file PER TERTILE per commit:
            # each tertile gets its own writer task — 3 files instead
            # of STREAM_SHUFFLE x 3, with the parquet encode still
            # 3-way parallel.  A plain coalesce(1) was measured 222 s
            # commit at sf10 vs 170 s for the 24-file form: the
            # router's payload is the whole scored batch, so writer
            # PARALLELISM matters more than the per-file constant once
            # batches are large.  HASH-partition, not range: a
            # RangePartitioner SAMPLES its child, so the range form
            # re-evaluated the entire tokenize+join+agg batch lineage
            # a second time per commit (optimization round r13).
            # hash(bucket + 9) spreads {1,2,3} across exactly 3
            # partitions (pinned in tests/test_hof_rewrite_r13.py), so
            # the one-writer-per-tertile layout is preserved.  HOW +9
            # WAS CHOSEN: smallest non-negative offset c
            # for which Spark's Murmur3 `pmod(hash(bucket + c), 3)`
            # maps {1,2,3} to three DISTINCT partitions — found by
            # scanning c = 0, 1, 2, ... with F.hash on this Spark
            # version.  It is a hash-implementation coincidence: on a
            # Spark upgrade the pin test fails loudly and the fix is
            # to re-scan for the new smallest c.
            with _commit_timer("streaming_bucket_route_serve"):
                (out.repartition(3, (F.col("bucket") + F.lit(9))
                                 .cast("bigint"))
                 .write.mode("overwrite")
                 .partitionBy("bucket").parquet(f"{sink}/batch={batch_id}"))

        _COMMITS.pop("streaming_bucket_route_serve", None)
        ckpt = _ckpt_dir("streaming_bucket_route_serve")
        q = (dstream.writeStream.foreachBatch(route_batch)
             .option("checkpointLocation", ckpt).start())
        try:
            q.processAllAvailable()
            _record_metrics("streaming_bucket_route_serve",
                            q.recentProgress)
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        # NO recursiveFileLookup here: it disables partition discovery,
        # and this sink's routing lives in the bucket=K directories —
        # standard k=v inference surfaces (batch, bucket) as columns
        return _qcat._track_ckpt(
            spark.read.option("basePath", sink).parquet(sink)
            .select("doc_id", "source", "n_bigrams", "score_micro",
                    F.col("bucket").cast("int").alias("bucket"))
            .localCheckpoint(eager=True))
    finally:
        scores.unpersist()
        for d in (stage, sink):
            if d:
                shutil.rmtree(d, ignore_errors=True)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def streaming_containment_screen_serve(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Streaming containment SCREEN serve: new documents arrive as
    micro-batches and are screened against the PERSISTED containment
    probe index (``queries.containment_index_build``) — the always-on
    form of the daily-ingest dedup gate, completing the containment
    tier's build/serve/streaming triple.  Both index relations (the
    distinct shingle-hash sets and the precomputed index-side probes)
    load + persist ONCE before the stream (the r9 lm-serve lesson);
    each micro-batch then runs the shared screen kernel — probe hits
    both directions, binomial pre-filter, exact candidates-only
    verify.  Serving is STATELESS: the index carries all the state.

    A pair's hit count and verify depend only on (the new doc's own
    hashes, the static index), so the union of per-batch screen
    results equals the batch screen — that batch twin is this entry's
    DuckDB oracle, full hash check.  Sink writes are idempotent per
    epoch (batch_id-keyed overwrite)."""
    from datafusion_monoid_spark import pipeline_queries as _qcat

    ipath, ppath = _qcat._build_containment_index(spark, sf_dir,
                                                  overwrite=False)
    idx = spark.read.parquet(ipath).persist()
    iprobes = spark.read.parquet(ppath).persist()
    # materialize pre-stream, not per batch — two independent counts
    # overlap as driver threads (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(lambda d: d.count(), (idx, iprobes)))
    new = (spark.read.parquet(f"{sf_dir}/documents.parquet")
           .where(F.col("doc_id") % 11 == 0)
           .select("doc_id", "text"))

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE))
    stage = sink = None
    try:
        stage = _scratch_dir("cscreen_docs_")
        sink = _scratch_dir("cscreen_pairs_")
        new.repartition(4).write.mode("overwrite").parquet(stage)

        dstream = (spark.readStream.schema(new.schema)
                   .option("maxFilesPerTrigger", "1").parquet(stage))

        def screen_batch(batch_df: DataFrame, batch_id: int) -> None:
            out = _qcat._containment_screen_kernel(
                batch_df.repartition(STREAM_SHUFFLE), idx, iprobes)
            with _commit_timer("streaming_containment_screen_serve"):
                out.write.mode("overwrite").parquet(
                    f"{sink}/batch={batch_id}")

        _COMMITS.pop("streaming_containment_screen_serve", None)
        ckpt = _ckpt_dir("streaming_containment_screen_serve")
        q = (dstream.writeStream.foreachBatch(screen_batch)
             .option("checkpointLocation", ckpt).start())
        try:
            q.processAllAvailable()
            _record_metrics("streaming_containment_screen_serve",
                            q.recentProgress)
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        return _qcat._track_ckpt(
            spark.read.option("recursiveFileLookup", "true").parquet(sink)
            .select("new_id", "old_id", "n_common", "n_new", "n_old",
                    "cont_new_in_old_micro", "cont_old_in_new_micro")
            .localCheckpoint(eager=True))
    finally:
        idx.unpersist()
        iprobes.unpersist()
        for d in (stage, sink):
            if d:
                shutil.rmtree(d, ignore_errors=True)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def streaming_bpe_encode_serve(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Streaming BPE ENCODE serve: documents arrive as micro-batches
    and are encoded under the PERSISTED tokenizer model — the
    tokenize-and-count inference loop of a production ingest, the
    tokenizer twin of `streaming_lm_score_serve`.  The model (token ->
    symbol count, vocabulary-bounded) joins each micro-batch as a
    BROADCAST; serving is STATELESS — the model carries all the state.

    Each document lands in exactly one micro-batch and its symbol
    accounting depends only on (its own tokens, the static model), so
    the union of per-batch results equals the batch computation — the
    per-doc batch twin is this entry's DuckDB oracle, full hash check.
    Sink writes are idempotent per epoch (batch_id-keyed overwrite).
    Documents with zero tokens produce no rows (inner-join semantics,
    shared with the oracle); OOV is impossible here because the model
    trains on the same corpus — the arriving-batch entry
    (`bpe_encode_newbatch`) covers the OOV path."""
    from datafusion_monoid_spark import pipeline_queries as _qcat
    from datafusion_monoid_spark.operators import bpe as _bpe
    from datafusion_monoid_spark.operators import dedup as _dd

    _, vpath = _qcat._fit_bpe_persisted(spark, sf_dir)
    # cache the model: foreachBatch re-plans every micro-batch, and
    # without this each batch re-reads the artifact parquet before
    # re-building its broadcast
    model = (spark.read.parquet(vpath)
             .select("tok", F.size(_bpe.seg_symbols(F.col("seg")))
                     .alias("n_sym"))).persist()
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "source", "text"))

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE))
    stage = sink = None
    try:
        stage = _scratch_dir("bpe_docs_")
        sink = _scratch_dir("bpe_counts_")
        # 4 arrival files -> 4 micro-batches
        docs.repartition(4).write.mode("overwrite").parquet(stage)

        dstream = (spark.readStream.schema(docs.schema)
                   .option("maxFilesPerTrigger", "1").parquet(stage))

        def encode_batch(batch_df: DataFrame, batch_id: int) -> None:
            # one-file micro-batch = one split: repartition before the
            # tokenize explode or it runs one-core (the r3 finding)
            toks = (batch_df.repartition(STREAM_SHUFFLE)
                    .select("doc_id", "source",
                            F.explode(_dd.tokens("text")).alias("tok")))
            out = (toks.join(F.broadcast(model), "tok")
                   .groupBy("doc_id", "source")
                   .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                        F.sum("n_sym").cast("bigint").alias("n_symbols")))
            with _commit_timer("streaming_bpe_encode_serve"):
                (out.repartition(1).write.mode("overwrite")
                 .parquet(f"{sink}/batch={batch_id}"))

        _COMMITS.pop("streaming_bpe_encode_serve", None)
        ckpt = _ckpt_dir("streaming_bpe_encode_serve")
        q = (dstream.writeStream.foreachBatch(encode_batch)
             .option("checkpointLocation", ckpt).start())
        try:
            q.processAllAvailable()
            _record_metrics("streaming_bpe_encode_serve", q.recentProgress)
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        return _qcat._track_ckpt(
            spark.read.option("recursiveFileLookup", "true").parquet(sink)
            .select("doc_id", "source", "n_tokens", "n_symbols")
            .localCheckpoint(eager=True))
    finally:
        model.unpersist()
        for d in (stage, sink):
            if d:
                shutil.rmtree(d, ignore_errors=True)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def streaming_curation_capstone(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Streaming CURATION CAPSTONE — the always-on twin of
    ``queries.pipeline_curation_capstone``:
    micro-batches of arriving documents flow the full ingest pipeline
    against PERSISTED artifacts — quality-classifier gate (NB model +
    decision constant) -> perplexity filter (bigram LM + threshold
    cuts) -> exact-dedup screen (corpus key index) -> containment
    screen (probe index) -> deterministic train/test routing into
    per-side sinks (``partitionBy(side)``, one writer per side — the
    bucket-route sink study's layout).  Every artifact loads + persists
    ONCE before the stream; serving is STATELESS — the five artifacts
    carry all the state, so the loop scales by adding executors, not
    state stores.

    Per-doc stages (scores, screen verdict, side) depend only on (the
    doc's text, the artifacts) — and the exact-key gate additionally
    reads the NOVEL KEYS APPENDED BY STRICTLY EARLIER MICRO-BATCHES
    (the ``streaming_containment_admit_serve`` discipline applied to both
    capstones): an exact clone of an
    already-served doc arriving one batch later is dropped at the md5
    stage.  Batching is deterministic (ntile by doc_id,
    ``_stage_ordered_batches``), and exact clones share every per-doc
    outcome, so the oracle stays a full-hash batch twin: admit =
    quality+LM passers whose key is base-novel AND whose arrival batch
    is the key's earliest.  What the loop still does NOT own is
    within-stream NEAR-duplication — that remains the
    index-maintenance loop's job (``containment_postings_append`` /
    ``compact`` fold admissions in on the compaction cadence).  Sink
    writes are idempotent per epoch (batch_id-keyed overwrite)."""
    gates, release = _capstone_gates(spark, sf_dir)
    from datafusion_monoid_spark import pipeline_queries as _qcat

    new = (spark.read.parquet(f"{sf_dir}/documents.parquet")
           .where(F.col("doc_id") % 11 == 0)
           .select("doc_id", "source", "text"))

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE))
    stage = sink = None
    try:
        stage = _scratch_dir("capstone_docs_")
        sink = _scratch_dir("capstone_out_")
        _stage_ordered_batches(new, stage)
        dstream = (spark.readStream.schema(new.schema)
                   .option("maxFilesPerTrigger", "1").parquet(stage))
        gen_key_paths: list[str] = []

        def curate_batch(batch_df: DataFrame, batch_id: int) -> None:
            # a file-source micro-batch is ONE split: spread before
            # the tokenize-heavy stages
            extra = None
            if gen_key_paths:
                extra = (spark.read.schema("dup_key string")
                         .option("recursiveFileLookup", "true")
                         .parquet(*gen_key_paths))
            adm, keys = gates(batch_df.repartition(STREAM_SHUFFLE),
                              extra, return_keys=True)
            # ONE job emitting both sinks: the
            # admitted rows and the batch's novel-keys generation both
            # derive from the materialized post-exact-gate survivor
            # (s3), so they union into a single partitioned write —
            # kind=adm/side=... plus kind=keys — instead of two
            # sequential per-commit jobs.  One writer per side is
            # preserved (the measured sink-study layout): HASH-
            # partition, not range — a RangePartitioner samples its
            # child, re-running the containment screen a second time
            # per commit (optimization round r13); hash spreads
            # 'test'/'train' across both partitions (pinned in
            # tests/test_hof_rewrite_r13.py), the null-side keys rows
            # land on one of them.
            frame = (adm.withColumn("dup_key",
                                    F.lit(None).cast("string"))
                     .withColumn("kind", F.lit("adm"))
                     .unionByName(keys.select(
                         F.lit(None).cast("bigint").alias("doc_id"),
                         F.lit(None).cast("bigint").alias("n_toks"),
                         F.lit(None).cast("bigint").alias("q_micro"),
                         F.lit(None).cast("bigint").alias("lm_micro"),
                         F.lit(None).cast("string").alias("side"),
                         "dup_key",
                         F.lit("keys").alias("kind"))))
            with _commit_timer("streaming_curation_capstone"):
                (frame.repartition(2, "side")
                 .write.mode("overwrite").partitionBy("kind", "side")
                 .parquet(f"{sink}/batch={batch_id}"))
            kp = f"{sink}/batch={batch_id}/kind=keys"
            # a batch with zero novel keys writes no kind=keys dir
            # (the sf1 x10-clone regime) — only existing generations
            # join the next batch's gate
            if os.path.isdir(kp):
                gen_key_paths.append(kp)

        _COMMITS.pop("streaming_curation_capstone", None)
        ckpt = _ckpt_dir("streaming_curation_capstone")
        q = (dstream.writeStream.foreachBatch(curate_batch)
             .option("checkpointLocation", ckpt).start())
        try:
            q.processAllAvailable()
            _record_metrics("streaming_curation_capstone",
                            q.recentProgress)
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        # k=v partition discovery surfaces (batch, side) as columns.
        # Schema is EXPLICIT: on a tier where every micro-batch admits
        # zero docs (the sf1 x10-clone corpus — every arriving doc's
        # exact key already sits in the old-corpus index) the sink
        # holds only _SUCCESS markers and schema inference has nothing
        # to read; the admitted-empty stream must return an empty
        # relation, not UNABLE_TO_INFER_SCHEMA (found by the sf1 tier
        # run, round 12)
        sink_schema = ("doc_id bigint, n_toks bigint, q_micro bigint, "
                       "lm_micro bigint, dup_key string, batch int, "
                       "kind string, side string")
        return _qcat._track_ckpt(
            spark.read.option("basePath", sink).schema(sink_schema)
            .parquet(sink)
            .where(F.col("kind") == "adm")
            .select("doc_id", "n_toks", "q_micro", "lm_micro", "side")
            .localCheckpoint(eager=True))
    finally:
        release()
        for d in (stage, sink):
            if d:
                shutil.rmtree(d, ignore_errors=True)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _capstone_gates(spark: SparkSession, sf_dir: str):
    """Hoist the five persisted curation artifacts and return
    ``(gates, release)``: ``gates(df)`` applies the per-doc pipeline —
    quality gate, perplexity gate, exact-key screen, containment
    screen, side routing — to any (doc_id, source, text) relation and
    returns the admitted (doc_id, n_toks, q_micro, lm_micro, side)
    rows.  Shared by the streaming loop (per micro-batch) and the
    stream==batch pytest twin (whole batch at once): per-doc
    independence means the two must agree row-for-row.  ``release``
    unpersists the hoisted relations."""
    from concurrent.futures import ThreadPoolExecutor

    from datafusion_monoid_spark import pipeline_queries as _qcat
    from datafusion_monoid_spark.operators import curation as _cu
    from datafusion_monoid_spark.operators import dedup as _dd
    from datafusion_monoid_spark.operators import sampling as _smp

    # the four artifact FAMILIES are independent (the LM thresholds
    # depend on the LM fit and run inside its thread): build them as
    # concurrent driver threads so each build's task tail back-fills
    # with the next build's work (guide §2.6) — on a warm .artifacts
    # dir these are path checks, on a cold one this overlaps four
    # real build pipelines
    def _lm_chain() -> tuple[str, str, str]:
        bg, ctx = _qcat._fit_lm_persisted(spark, sf_dir, overwrite=False)
        t = _qcat._fit_lm_thresholds_persisted(spark, sf_dir,
                                               overwrite=False)
        return bg, ctx, t

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_qc = pool.submit(_qcat._fit_qc_persisted, spark, sf_dir,
                           overwrite=False)
        f_lm = pool.submit(_lm_chain)
        f_keys = pool.submit(_qcat._build_exact_key_index, spark, sf_dir)
        f_cidx = pool.submit(_qcat._build_containment_index, spark,
                             sf_dir, overwrite=False)
        qc_path = f_qc.result()
        bg_path, ctx_path, tpath = f_lm.result()
        keys_path = f_keys.result()
        ipath, ppath = f_cidx.result()

    model = spark.read.parquet(qc_path).persist()
    scores = (spark.read.parquet(bg_path)
              .withColumn("w1", F.substring_index("bg", " ", 1))
              .join(spark.read.parquet(ctx_path), "w1")
              .select("bg", _cu.micro_ratio(F.col("c_bg"), F.col("c_ctx"))
                      .alias("p_micro"))).persist()
    old_keys = spark.read.parquet(keys_path).persist()
    idx = spark.read.parquet(ipath).persist()
    iprobes = spark.read.parquet(ppath).persist()
    hoisted = (model, scores, old_keys, idx, iprobes)
    # materialize all five + the two 1-row reads concurrently, not as
    # seven sequential tiny jobs (guide §2.6)
    with ThreadPoolExecutor(max_workers=4) as pool:
        f_k = pool.submit(lambda: int(model.agg(
            _qcat._idiv((F.sum("c_pos") + F.count(F.lit(1))) * 1_000_000,
                        F.sum("c_neg") + F.count(F.lit(1))).alias("k"))
            .collect()[0]["k"]))
        f_cut = pool.submit(lambda: int(
            spark.read.parquet(tpath).collect()[0]["cut2_micro"]))
        counts = pool.map(lambda d: d.count(), hoisted)
        k_micro, cut2 = f_k.result(), f_cut.result()
        list(counts)

    def gates(b: DataFrame, extra_keys: DataFrame | None = None,
              return_keys: bool = False):
        """Apply the five gates to ``b``.  ``extra_keys`` widens the
        exact-key screen beyond the base index (the within-stream
        generations of earlier micro-batches); with ``return_keys``
        also return the batch's post-exact-gate novel distinct keys —
        the generation the caller appends for the NEXT batch."""
        qs = (_qcat._qc_score_docs(b, model)
              .where(F.col("score_micro") >= k_micro)
              .select("doc_id", F.col("n_tokens").alias("n_toks"),
                      F.col("score_micro").alias("q_micro")))
        ls = (_qcat._lm_doc_bigrams(b)
              .join(F.broadcast(scores), "bg")
              .groupBy("doc_id")
              .agg(_qcat._idiv(F.sum("p_micro"), F.count(F.lit(1)))
                   .alias("lm_micro"))
              .where(F.col("lm_micro") >= cut2))
        s2 = b.join(qs, "doc_id").join(ls, "doc_id")
        gate_rel = old_keys.select("dup_key")
        if extra_keys is not None:
            gate_rel = gate_rel.unionByName(extra_keys)
        # materialize the post-exact-gate survivors ONCE: s3 feeds the
        # containment screen, the admitted anti-join, and (in the
        # stream) the novel-keys generation — left lazy, the whole
        # QC + LM + exact-gate chain re-evaluates per reference, which
        # doubled every micro-batch's commit cost (optimization round
        # r13).  Batch-bounded relation; cheap at any scale.
        s3 = _qcat._track_ckpt(
            (_dd.exact_dedup_keys(s2, "text")
             .join(gate_rel, "dup_key", "left_anti"))
            .localCheckpoint(eager=True))
        flagged = _qcat._containment_screen_kernel(
            s3.select("doc_id", "text"), idx, iprobes)
        adm = (s3.join(flagged.select(F.col("new_id").alias("doc_id"))
                       .distinct(), "doc_id", "left_anti")
               .select("doc_id", "n_toks", "q_micro", "lm_micro",
                       F.when(_smp.hash_bucket("doc_id") < 100,
                              F.lit("test")).otherwise(F.lit("train"))
                       .alias("side")))
        if return_keys:
            return adm, s3.select("dup_key").distinct()
        return adm

    def release() -> None:
        for df_ in hoisted:
            df_.unpersist()

    return gates, release


def _stage_ordered_batches(df: DataFrame, stage: str,
                           n: int = 4) -> None:
    """Stage ``df`` as ``n`` single-file parquet 'arrivals' in a
    DETERMINISTIC order: ntile(n) by doc_id, written sequentially as
    ``g1.parquet .. g{n}.parquet`` — docs arrive in id order, quartile
    by quartile.  FileStreamSource replays oldest-modification-time
    first and the sequential writes make mtimes ascend with g, so
    micro-batch g contains exactly quartile g: the property the
    within-stream exact-key gate's oracle (min-arrival-batch per key)
    needs to be SQL-expressible.  Monotone-in-doc_id batching also
    keeps the admit loop consistent with the compact cascade's
    min-id-wins self-screen: a clone family's min id is always in its
    earliest batch.  The ntile window is over the BATCH relation only
    (model-sized, not the corpus); production ingests are naturally
    arrival-ordered and need no such staging."""
    tiled = df.withColumn(
        "_g", F.ntile(n).over(Window.orderBy("doc_id")))
    tmp = f"{stage}/_tmp"
    # ONE partitioned write (hash-repartition by _g puts each
    # quartile in exactly one task, partitionBy gives one file per
    # value) instead of n sequential coalesce(1) writes — the
    # ascending-mtime property FileStreamSource orders replay by is
    # set explicitly per file, which is what the sequential writes
    # only established implicitly (optimization round r13).  NO
    # localCheckpoint: since the one-job rewrite this write is the
    # tiled relation's only real consumer (the empty fallback below
    # is collapsed to an empty LocalRelation by OptimizeLimitZero),
    # so the checkpoint added a redundant full scan+sort pass per
    # staged stream — one staging job instead of two (r14).
    (tiled.repartition(n, "_g").write.mode("overwrite")
     .partitionBy("_g").parquet(tmp))
    now = time.time()
    empty_src: str | None = None
    for g in range(1, n + 1):
        hits = _glob.glob(f"{tmp}/_g={g}/part-*.parquet")
        dst = f"{stage}/g{g}.parquet"
        if hits:
            shutil.move(hits[0], dst)
        else:
            # ntile yields < n tiles when the relation has < n
            # rows — stage an empty (schema-only) arrival so the
            # batch count stays n
            if empty_src is None:
                (df.limit(0).coalesce(1)
                 .write.mode("overwrite").parquet(f"{tmp}/_empty"))
                empty_src = _glob.glob(
                    f"{tmp}/_empty/part-*.parquet")[0]
            shutil.copy(empty_src, dst)
        os.utime(dst, (now + g, now + g))
    shutil.rmtree(tmp, ignore_errors=True)


def streaming_containment_admit_serve(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Streaming ADMIT loop — the ingest side of the containment-index
    lifecycle run ONLINE: each arriving micro-batch is screened
    against the persisted artifacts (exact-key index first — the
    cheap map-side md5 gate — then the probe index), and the CLEAN
    survivors' postings + probe argmins are WRITTEN AS INDEX
    GENERATIONS from inside the stream (sink/batch=N/idx + /aux —
    probes and novel keys share the aux generation, discriminated by
    a ``kind`` column; the `containment_postings_append` artifact
    shape).  A periodic
    `containment_postings_compact` folds the accumulated generations
    into the base — screen -> admit -> compact, always on.

    WITHIN-STREAM EXACT-KEY GATE: each batch's
    post-exact-gate NOVEL keys are appended as their own generation
    (the ``kind='keys'`` rows of sink/batch=N/aux — the
    ``exactkey_postings_append`` artifact
    shape), and every batch's exact-key gate reads base ∪ the
    generations written by STRICTLY EARLIER batches — so a doc
    admitted in batch N IS visible to batch N+1's gate, and an exact
    clone arriving one batch later is dropped at the cheap md5 stage
    instead of waiting for the compact-time cascade.  Batching is
    deterministic (ntile by doc_id, ``_stage_ordered_batches``), so
    the oracle is still full-hash: admit = min-arrival-batch holders
    of each novel key, then the containment screen (per-doc vs the
    static index; exact clones share its outcome, so cross-batch
    visibility composes cleanly).  What the loop still does NOT own
    is within-stream NEAR-duplication — two novel near-identical (but
    not byte-identical) docs in different micro-batches are both
    admitted; that remains bounded by compaction cadence (the
    compact-time cascade collapses them, min id wins — consistent
    with this gate because batches ascend in doc_id).  Sink writes
    are idempotent per epoch.

    Scale: per-batch work is one tokenize + the screen's candidate
    join + three narrow writes; the base artifacts are only ever READ
    (hoisted + persisted once, pre-stream), and the key-generation
    reads are O(admitted keys so far), the same cumulative-index cost
    the production gate pays by design."""
    from datafusion_monoid_spark import pipeline_queries as _qcat
    from datafusion_monoid_spark.operators import dedup as _dd

    from concurrent.futures import ThreadPoolExecutor

    # independent artifact builds + materializations as concurrent
    # driver threads (guide §2.6; the capstone-gates pattern)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cidx = pool.submit(_qcat._build_containment_index, spark,
                             sf_dir, overwrite=False)
        f_keys = pool.submit(_qcat._build_exact_key_index, spark, sf_dir)
        ipath, ppath = f_cidx.result()
        keys_path = f_keys.result()
    old_keys = spark.read.parquet(keys_path).persist()
    idx = spark.read.parquet(ipath).persist()
    iprobes = spark.read.parquet(ppath).persist()
    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(lambda d: d.count(), (old_keys, idx, iprobes)))

    new = (spark.read.parquet(f"{sf_dir}/documents.parquet")
           .where(F.col("doc_id") % 11 == 0)
           .select("doc_id", "text"))

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE))
    # AQE OFF for this loop's batch bodies (measured, same-session
    # A/B at sf0.1/32 cores: 17.4 -> 14.6 s best-of-3, ~157 -> ~75
    # jobs): the containment screen is ~8 exchanges per commit and
    # with AQE each exchange materializes as its own stage-job —
    # pure driver scheduling constants on batch-bounded relations
    # that 8 shuffle partitions already size correctly.  Scale
    # posture: a production deployment with large micro-batches
    # re-enables it via SPARK_GRAFT_STREAM_AQE=1 (skew/coalesce
    # re-optimization pays off only when per-batch shuffles are big
    # enough to be misestimated).  The capstone loop KEEPS AQE: its
    # QC/LM gate joins degrade badly without the runtime broadcast
    # conversion (measured 15.8 -> 53-61 s).
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    stream_aqe = os.environ.get("SPARK_GRAFT_STREAM_AQE", "0") == "1"
    stage = sink = None
    try:
        if not stream_aqe:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        stage = _scratch_dir("cadmit_docs_")
        sink = _scratch_dir("cadmit_gen_")
        _stage_ordered_batches(new, stage)
        dstream = (spark.readStream.schema(new.schema)
                   .option("maxFilesPerTrigger", "1").parquet(stage))
        #: probes + novel keys share one generation file per batch —
        #: discriminated by ``kind`` (flat write, no partitionBy, so
        #: an all-dropped batch still leaves a readable empty dir)
        aux_schema = "kind string, doc_id bigint, h bigint, dup_key string"
        gen_aux_paths: list[str] = []

        def admit_batch(batch_df: DataFrame, batch_id: int) -> None:
            b = batch_df.repartition(STREAM_SHUFFLE)
            gate = old_keys.select("dup_key")
            if gen_aux_paths:
                gate = gate.unionByName(
                    spark.read.schema(aux_schema)
                    .parquet(*gen_aux_paths)
                    .where(F.col("kind") == "keys").select("dup_key"))
            keyed = (_dd.exact_dedup_keys(b, "text")
                     .join(gate, "dup_key", "left_anti"))
            keep = keyed.select("doc_id", "text")
            nh = _qcat._track_ckpt(
                _dd.shingle_hashes(keep, "doc_id",
                                   _dd.word_shingles("text"))
                .distinct().localCheckpoint(eager=True))
            flagged = _qcat._containment_screen_from_hashes(
                nh, idx, iprobes)
            cleanh_plan = nh.join(
                flagged.select(F.col("new_id").alias("doc_id"))
                .distinct(), "doc_id", "left_anti")
            ip = f"{sink}/batch={batch_id}/idx"
            ap = f"{sink}/batch={batch_id}/aux"
            with _commit_timer("streaming_containment_admit_serve"):
                # the idx generation write IS the materialization of
                # cleanh (previously a localCheckpoint job AND a write
                # — one redundant pass per batch); probes derive from
                # the just-written parquet, and probes + novel keys
                # are ONE unioned write (the r13
                # form ran them as two thread-overlapped jobs, which
                # on this driver/commit-bound loop — scaling ratio
                # 1.01 — only added job and thread constants; the
                # union's two legs still evaluate as independent
                # stages inside the single job)
                cleanh_plan.write.mode("overwrite").parquet(ip)
                cleanh = spark.read.parquet(ip)
                aux = (_dd.probe_argmins_long(cleanh, "doc_id")
                       .select(F.lit("probes").alias("kind"),
                               "doc_id", "h",
                               F.lit(None).cast("string")
                               .alias("dup_key"))
                       .unionByName(
                           keyed.select("dup_key").distinct()
                           .select(F.lit("keys").alias("kind"),
                                   F.lit(None).cast("bigint")
                                   .alias("doc_id"),
                                   F.lit(None).cast("bigint").alias("h"),
                                   "dup_key")))
                aux.write.mode("overwrite").parquet(ap)
            gen_aux_paths.append(ap)

        _COMMITS.pop("streaming_containment_admit_serve", None)
        ckpt = _ckpt_dir("streaming_containment_admit_serve")
        q = (dstream.writeStream.foreachBatch(admit_batch)
             .option("checkpointLocation", ckpt).start())
        try:
            q.processAllAvailable()
            _record_metrics("streaming_containment_admit_serve",
                            q.recentProgress)
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        # explicit schemas: a tier where every batch admits nothing
        # leaves only _SUCCESS markers (the capstone's sf1 lesson)
        gi = (spark.read.schema("doc_id bigint, h bigint")
              .option("recursiveFileLookup", "true")
              .parquet(f"{sink}/batch=*/idx"))
        gp = (spark.read.schema(aux_schema)
              .option("recursiveFileLookup", "true")
              .parquet(f"{sink}/batch=*/aux")
              .where(F.col("kind") == "probes")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_probes")))
        out = (gi.groupBy("doc_id")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_hashes"),
                    F.min("h").cast("bigint").alias("min_h"),
                    F.max("h").cast("bigint").alias("max_h"),
                    F.sum("h").cast("bigint").alias("sum_h"))
               .join(gp, "doc_id"))
        return _qcat._track_ckpt(out.localCheckpoint(eager=True))
    finally:
        for df_ in (old_keys, idx, iprobes):
            df_.unpersist()
        for d in (stage, sink):
            if d:
                shutil.rmtree(d, ignore_errors=True)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
