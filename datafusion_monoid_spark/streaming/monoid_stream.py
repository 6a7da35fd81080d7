"""Structured Streaming monoid aggregation.

The monoid algebra is what makes the reference's aggregate streamable
(``src/monoid.rs:13-21``): identity + associative combine means state
updates are incremental-merge-safe — exactly Spark's streaming-agg state
contract.  The streaming form keeps the output EXPLODED
(window, group, pos, val): one aggregation pass (streaming-legal —
the batch posexplode form's min-length truncation and array rebuild
happen in a second aggregation, which Structured Streaming forbids), and
the consumer reassembles arrays if needed.

Events quirk: an events parquet file may store ``ts`` as
TIMESTAMP(NANOS) (Spark reads it only as LONG, and only when the caller
has set ``nanosAsLong``) or as TIMESTAMP(MICROS)/NTZ; the layout is
probed from the batch-inferred schema and the event-time column (whole
seconds, for watermarking) is derived the same way on the stream and
batch sides so stream==batch comparisons are layout-proof.

Checkpoint files: every query of this module (and the catalog's drained
stream) starts through :func:`_start_query`.  When the checkpoint is on
the local filesystem, it starts the query under Spark's
``FileSystemBasedCheckpointFileManager``.  Spark's default,
``FileContextBasedCheckpointFileManager``, renames each state delta,
offsets/commits log file and ``.crc`` beside them through Hadoop's
``FileContext``, and on a machine without native libhadoop that forks a
``readlink`` process per rename (``RawLocalFileSystem.getFileLinkStatus``)
on the trigger's critical path.  The FileSystem-based manager renames
with ``FileSystem.rename``, which on a local path is ``rename(2)`` and
forks nothing.  Atomicity is the same: both managers check the
destination and then rename, and one local filesystem replaces a file
atomically, so a reader sees the old file or the new one.  Spark's
checksum wrapper and Hadoop's ``.crc`` files are kept.  HDFS, S3 and any
other store keep Spark's default, which they need for FileContext's
overwrite-rename.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlsplit

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from datafusion_monoid_spark.monoid import Monoid, get_monoid

_EVENTS_SCHEMA_TMPL = ("event_id long, ts {ts}, user_id long, "
                       "event_type string, value double, props string")

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"
_CHECKPOINT_ROOT = "spark.sql.streaming.checkpointLocation"
_CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = ("org.apache.spark.sql.execution.streaming."
                          "checkpointing.FileSystemBasedCheckpointFileManager")


def _start_query(spark: SparkSession, writer: DataStreamWriter,
                 checkpoint_dir: str | None = None,
                 confs: dict[str, str] | None = None) -> StreamingQuery:
    """Start ``writer``'s query with ``confs`` set on ``spark``.

    ``start()`` copies the session conf into the query, so the confs are
    set only around it and then put back exactly as the caller had them
    (a key the caller had not set is unset again), also when ``start()``
    raises.  A query whose checkpoint is on the local filesystem also
    gets the FileSystem-based checkpoint manager (module docstring),
    unless the caller chose a manager."""
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    conf = spark.conf
    caller = conf.getAll
    confs = dict(confs or {})
    # the Hadoop conf the query's checkpoint files are written under; a
    # path without a scheme (or Spark's temporary checkpoint, when no
    # location is given) is on the default filesystem
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    location = checkpoint_dir or caller.get(_CHECKPOINT_ROOT) or ""
    scheme = (urlsplit(location).scheme
              or urlsplit(hconf.get("fs.defaultFS", "file:///")).scheme)
    if scheme == "file" and hconf.get(_CHECKPOINT_MANAGER) is None:
        confs[_CHECKPOINT_MANAGER] = _FS_CHECKPOINT_MANAGER
    for k, v in confs.items():
        conf.set(k, v)
    try:
        return writer.start()
    finally:
        for k in confs:
            if k in caller:
                conf.set(k, caller[k])
            else:
                conf.unset(k)


def _ts_dtype(spark: SparkSession, events_dir: str) -> T.DataType:
    """Probe the stored ``ts`` type (LONG = legacy nanos-as-long layout,
    else a timestamp type) from one batch schema inference.

    Spark reads a TIMESTAMP(NANOS) ``ts`` only as LONG under
    ``nanosAsLong``, which has no per-read option; the conf belongs to
    the caller, so without it such a layout is refused, not read."""
    try:
        return spark.read.parquet(events_dir).schema["ts"].dataType
    except AnalysisException as e:
        if e.getCondition() != "PARQUET_TYPE_ILLEGAL" or "NANOS" not in str(e):
            raise
        raise ValueError(
            f"{events_dir}: ts is stored as TIMESTAMP(NANOS), which Spark "
            f"reads only as LONG; set {_NANOS_AS_LONG}=true on the session "
            f"to read it") from e


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
    q = _start_query(agg.sparkSession, w, checkpoint_dir)
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
    * an epoch with no rows (one whose rows are all late, or the no-data
      batch that a query run with Spark's default
      ``noDataMicroBatches.enabled`` starts after a watermark advance;
      :func:`run_stream_foreach_batch` turns those off) runs only the
      micro-batch itself and writes nothing;
    * a replayed epoch converges to the same table (idempotent upsert);
    * the epoch's local checkpoint is unpersisted when the handler returns.

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
        try:
            if obs.get["rows"] == 0:
                return
            merged = batch
            if os.path.exists(target_dir):
                cur = batch.sparkSession.read.schema(batch.schema).parquet(
                    target_dir)
                merged = (cur.join(batch.select(*key_cols), key_cols,
                                   "left_anti")
                          .unionByName(batch))
            tmp = f"{target_dir}.__epoch{epoch_id}"
            merged.write.mode("overwrite").parquet(tmp)
            if os.path.exists(target_dir):
                os.rename(target_dir, old)
            os.rename(tmp, target_dir)
            if os.path.exists(old):
                shutil.rmtree(old)
        finally:
            # the checkpoint's blocks serve this epoch only: free them now
            # rather than whenever the driver's GC lets Spark's cleaner
            # find the dropped RDD
            batch._jdf.queryExecution().analyzed().rdd().unpersist(False)

    return handle


def run_stream_foreach_batch(agg: DataFrame, target_dir: str,
                             key_cols: list[str],
                             checkpoint_dir: str | None = None,
                             query_name: str = "monoid_stream_fb"):
    """Drive a streaming aggregation into a parquet target via
    :func:`foreach_batch_upsert`; returns the query after it drains.

    The query runs without the no-data micro-batch that Spark schedules
    after each watermark advance.  In update mode that batch emits no
    row: it only evicts the state of windows behind the watermark, and
    the next data batch does the same eviction under the same watermark.
    So late-row dropping and every emitted row are unchanged, closed
    windows stay in state one batch longer, and an advance costs one
    trigger instead of two.

    A checkpoint on the local filesystem is written through Spark's
    ``FileSystemBasedCheckpointFileManager``: its renames are
    ``rename(2)``, where Spark's default manager forks a ``readlink``
    process for each of a trigger's state, offsets and commits files.
    Each rename still replaces its file atomically.  Other stores (HDFS,
    S3) keep Spark's default, and so does a caller who set
    ``spark.sql.streaming.checkpointFileManagerClass``.

    ``start()`` copies the session conf into the query, so
    ``spark.sql.streaming.noDataMicroBatches.enabled`` and the manager
    are set only around it and then restored to the caller's values (or
    unset, if the caller had not set them)."""
    w = (agg.writeStream.outputMode("update")
         .queryName(query_name)
         .foreachBatch(foreach_batch_upsert(target_dir, key_cols)))
    q = _start_query(agg.sparkSession, w, checkpoint_dir,
                     {_NO_DATA_BATCHES: "false"})
    q.processAllAvailable()
    return q
