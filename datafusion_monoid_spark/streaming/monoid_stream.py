"""Structured Streaming monoid aggregation.

The monoid algebra is what makes the reference's aggregate streamable
(``src/monoid.rs:13-21``): identity + associative combine means state
updates are incremental-merge-safe — exactly Spark's streaming-agg state
contract.  The streaming form keeps the output EXPLODED
(window, group, pos, val): one aggregation pass (streaming-legal —
the batch posexplode form's min-length truncation and array rebuild
happen in a second aggregation, which Structured Streaming forbids), and
the consumer reassembles arrays if needed.

Events quirk: driver-generated parquet has stored ``ts`` as
TIMESTAMP(NANOS) in some rounds (Spark's vectorized reader rejects it
without ``nanosAsLong``) and as TIMESTAMP(MICROS)/NTZ in others; the
layout is probed from the batch-inferred schema and the event-time
column (whole seconds, for watermarking) is derived the same way on the
stream and batch sides so stream==batch comparisons are layout-proof.
"""

from __future__ import annotations

import os
import shutil

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_monoid_spark.monoid import Monoid, get_monoid

_EVENTS_SCHEMA_TMPL = ("event_id long, ts {ts}, user_id long, "
                       "event_type string, value double, props string")


def _ts_dtype(spark: SparkSession, events_dir: str) -> T.DataType:
    """Probe the stored ``ts`` type (LONG = legacy nanos-as-long layout,
    else a timestamp type) from one batch schema inference.

    The session is left as it is unless ``ts`` is TIMESTAMP(NANOS), which
    Spark reads only under ``nanosAsLong``; only then is that conf set."""
    try:
        return spark.read.parquet(events_dir).schema["ts"].dataType
    except AnalysisException as e:
        if e.getCondition() != "PARQUET_TYPE_ILLEGAL" or "NANOS" not in str(e):
            raise
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(events_dir).schema["ts"].dataType


def event_time_col(ts_dtype: T.DataType) -> Column:
    """Whole-second event-time from ``ts`` under either storage layout."""
    if isinstance(ts_dtype, T.LongType):  # nanos read as raw int64
        return F.timestamp_seconds(F.floor(F.col("ts") / 1_000_000_000))
    return F.timestamp_seconds(
        F.unix_timestamp(F.col("ts").cast("timestamp")))


def read_events_stream(spark: SparkSession, events_dir: str,
                       **options: str) -> DataFrame:
    """Streaming source over the events parquet layout, with a proper
    event-time column for watermarking.  ``options`` pass through to the
    reader (e.g. ``maxFilesPerTrigger=1`` to force multi-batch runs)."""
    dt = _ts_dtype(spark, events_dir)
    schema = _EVENTS_SCHEMA_TMPL.format(ts=dt.simpleString())
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    raw = reader.parquet(events_dir)
    return raw.withColumn("event_time", event_time_col(dt))


def read_events_batch(spark: SparkSession, events_dir: str) -> DataFrame:
    """Batch twin of :func:`read_events_stream` — identical schema and
    event-time derivation, for stream==batch equivalence checks."""
    dt = _ts_dtype(spark, events_dir)
    schema = _EVENTS_SCHEMA_TMPL.format(ts=dt.simpleString())
    raw = spark.read.schema(schema).parquet(events_dir)
    return raw.withColumn("event_time", event_time_col(dt))


def streaming_monoid_reduce(events: DataFrame,
                            monoid: Monoid | str = "sum",
                            elem: str = "double",
                            window: str = "1 hour",
                            watermark: str = "2 hours",
                            vec: Column | None = None) -> DataFrame:
    """Windowed element-wise monoid reduce of per-event vectors.

    Default vector = [value, value^2, 1] per event; the element-wise sum
    per (window, event_type) yields (sum, sum of squares, count) in ONE
    streaming state — the monoid trick for single-pass vector stats.
    Pass ``vec`` (an array Column, with matching ``elem``) to reduce a
    different per-event vector.  Output: (window_start, event_type, pos,
    val)."""
    m = monoid if isinstance(monoid, Monoid) else get_monoid(monoid, elem)
    if m.gray:
        raise ValueError(
            f"streaming_monoid_reduce: an exact {m.elem} product needs a "
            f"second aggregation pass, which Structured Streaming forbids; "
            f"reduce each batch with array_reduce_exploded instead")
    if vec is None:
        vec = F.array(F.col("value"), F.col("value") * F.col("value"),
                      F.lit(1.0))
    exploded = (
        events.withWatermark("event_time", watermark)
        .select("event_time", "event_type", F.posexplode(vec).alias("pos", "elem"))
    )
    return (
        exploded.groupBy(F.window("event_time", window), "event_type", "pos")
        .agg(*m.agg_columns(f"coalesce(elem, {m.identity_sql})"))
        .selectExpr("window.start AS window_start", "event_type", "pos",
                    f"{m.cell} AS val")
    )


def run_stream_to_memory(agg: DataFrame, query_name: str = "monoid_stream",
                         checkpoint_dir: str | None = None,
                         output_mode: str = "complete"):
    """Drive the streaming query over all available input (test/batch
    harness); returns the started query after it drains."""
    w = (agg.writeStream.outputMode(output_mode)
         .format("memory").queryName(query_name))
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    q.processAllAvailable()
    return q


def foreach_batch_upsert(target_dir: str, key_cols: list[str]):
    """``foreachBatch`` handler: upsert each micro-batch into a parquet
    target by key — the canonical sink pattern for stores without native
    streaming support (JDBC, plain parquet, ...).

    Update-mode streaming aggregation emits the CURRENT value per
    changed key each epoch (the engine's state already did the monoid
    merge), so the sink is anti-join + union (replace-by-key).  The
    merged table is written to ``<target>.__epoch<N>`` and swapped in by
    renaming the target to ``<target>.__old``, the new table to the
    target, then deleting ``.__old``; all three stay siblings.

    Contract:

    * readers see the old table or the new one, or briefly none between
      the two renames — never a half-written one;
    * a crash at any step is recovered by the next epoch on entry (a
      missing target with a ``.__old`` beside it is renamed back, and a
      leftover ``.__old`` is deleted), so no step loses a row;
    * an epoch with no rows (the no-data batch that follows a watermark
      advance) runs only the micro-batch itself and writes nothing;
    * a replayed epoch converges to the same table (idempotent upsert).

    At cluster scale the swap becomes a Delta/Iceberg MERGE; the handler
    shape is identical."""
    old = f"{target_dir}.__old"

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if not os.path.exists(target_dir) and os.path.exists(old):
            os.rename(old, target_dir)
        if os.path.exists(old):
            shutil.rmtree(old)
        # one job: the micro-batch's own execution, with its row count
        obs = Observation()
        batch = (batch_df.observe(obs, F.count(F.lit(1)).alias("rows"))
                 .localCheckpoint(eager=True))
        if obs.get["rows"] == 0:
            return
        merged = batch
        if os.path.exists(target_dir):
            cur = batch.sparkSession.read.schema(batch.schema).parquet(
                target_dir)
            merged = (cur.join(batch.select(*key_cols), key_cols, "left_anti")
                      .unionByName(batch))
        tmp = f"{target_dir}.__epoch{epoch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(target_dir):
            os.rename(target_dir, old)
        os.rename(tmp, target_dir)
        if os.path.exists(old):
            shutil.rmtree(old)

    return handle


def run_stream_foreach_batch(agg: DataFrame, target_dir: str,
                             key_cols: list[str],
                             checkpoint_dir: str | None = None,
                             query_name: str = "monoid_stream_fb"):
    """Drive a streaming aggregation into a parquet target via
    :func:`foreach_batch_upsert`; returns the query after it drains."""
    w = (agg.writeStream.outputMode("update")
         .queryName(query_name)
         .foreachBatch(foreach_batch_upsert(target_dir, key_cols)))
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    q.processAllAvailable()
    return q


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


def stateful_monoid_accumulator(events: DataFrame, n_dims: int = 3):
    """Custom stateful operator via ``applyInPandasWithState``: per
    event_type, the state IS a monoid accumulator vector
    [sum, sum_sq, count] merged incrementally across micro-batches —
    the reference's ``ArrayMonoidReduceAccumulator`` contract
    (src/monoid.rs:334-470: update_batch/merge via the same combine)
    re-expressed as Spark streaming state."""
    import pandas as pd  # local: executors import lazily

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = ("event_type string, acc_sum double, acc_sumsq double, "
                  "acc_count double, batches int")
    state_schema = "acc array<double>, batches int"

    def update(key, pdfs, state: GroupState):
        acc = [0.0] * n_dims
        batches = 0
        if state.exists:
            stored_acc, batches = state.get
            acc = list(stored_acc)
        for pdf in pdfs:
            v = pdf["value"].astype(float)
            # element-wise monoid combine with the batch's partial vector
            acc[0] += float(v.sum())
            acc[1] += float((v * v).sum())
            acc[2] += float(len(v))
        batches += 1
        state.update((acc, batches))
        yield pd.DataFrame({
            "event_type": [key[0]],
            "acc_sum": [acc[0]], "acc_sumsq": [acc[1]], "acc_count": [acc[2]],
            "batches": [batches],
        })

    return (
        events.groupBy("event_type")
        .applyInPandasWithState(update, out_schema, state_schema,
                                "update", GroupStateTimeout.NoTimeout)
    )


def streaming_histogram(events: DataFrame, val_col: str = "value",
                        lo: float = 0.0, hi: float = 500.0, bins: int = 64,
                        window: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """Windowed fixed-bin histogram — the mergeable quantile sketch
    (operators/sketch.py) in streaming form.

    Bin counts are a count-vector monoid (zeros + elementwise add), so
    the identical operator is batch-, partial-agg-, and streaming-legal:
    ONE aggregation pass, one state row per (window, bin) — bounded
    state regardless of stream volume, which is precisely why the
    mergeable sketch (and not an order-sensitive t-digest) is the
    streaming quantile structure.  Consume per-window quantiles by
    running ``sketch.hist_quantiles`` over a window's rows (batch
    post-processing of the complete-mode table or a foreachBatch)."""
    from datafusion_monoid_spark.operators.sketch import hist_bin

    return (
        events.withWatermark("event_time", watermark)
        .where(F.col(val_col).isNotNull())
        .groupBy(F.window("event_time", window),
                 hist_bin(F.col(val_col), lo, hi, bins).alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window").start.alias("window_start"), "bin", "cnt")
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
