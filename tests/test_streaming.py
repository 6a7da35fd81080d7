"""Structured Streaming monoid aggregation: the streamed result must
equal the batch computation of the same monoid reduce (the merge-safety
property the reference is named for, src/monoid.rs:13-21)."""

import os
import shlex
import shutil
import subprocess
import sys
from contextlib import contextmanager
from datetime import timedelta
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.streaming.monoid_stream import (
    read_events_batch,
    read_events_stream,
    run_stream_foreach_batch,
    run_stream_to_memory,
    streaming_monoid_reduce,
)

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def _put_conf(spark, key, value):
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)


@contextmanager
def _caller_conf(spark, key, value):
    """Run the block with ``key`` as a caller set it (None: unset), then
    put back exactly what the session had."""
    saved = spark.conf.getAll.get(key)
    _put_conf(spark, key, value)
    try:
        yield
    finally:
        _put_conf(spark, key, saved)


def _write_events(d, unit):
    """Two events one second apart, with ``ts`` stored as TIMESTAMP(unit)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d.mkdir()
    pq.write_table(pa.table({
        "event_id": [1, 2], "ts": pa.array([0, 1], pa.timestamp("s"))
                            .cast(pa.timestamp(unit, "UTC")),
        "user_id": [1, 1], "event_type": ["a", "a"], "value": [1.0, 2.0],
        "props": ["", ""]}), str(d / "part-0.parquet"), version="2.6")
    return str(d)


@pytest.mark.parametrize("unit, needs, ts_type", [
    ("us", "false", "timestamp"),   # micros: read under either setting
    ("ns", "true", "bigint"),       # nanos: readable only as LONG
])
def test_events_reader_sets_nanos_conf_only_for_nanos(spark, tmp_path, unit,
                                                      needs, ts_type):
    """The reader never sets ``nanosAsLong``: a nanos layout is refused,
    naming the conf, until the caller sets it, and then read as LONG.
    The conf reads as the caller left it every time."""
    d = _write_events(tmp_path / f"events_{unit}", unit)
    with _caller_conf(spark, _NANOS_AS_LONG, "false"):
        if needs == "true":
            with pytest.raises(ValueError, match=_NANOS_AS_LONG):
                read_events_batch(spark, d)
            assert spark.conf.get(_NANOS_AS_LONG) == "false"
        spark.conf.set(_NANOS_AS_LONG, needs)
        ev = read_events_batch(spark, d)
        assert spark.conf.get(_NANOS_AS_LONG) == needs
        assert ev.schema["ts"].dataType.simpleString() == ts_type
        assert [r["event_time"].second for r in ev.orderBy("event_id")
                .collect()] == [0, 1]


def test_catalog_events_leave_the_nanos_conf_alone_on_micros(spark):
    """The catalog's events reader probes the stored ``ts`` like the
    streaming reader: on a TIMESTAMP(MICROS) layout it sets no conf."""
    from datafusion_monoid_spark import pipeline_queries as qcat

    before = spark.conf.get(_NANOS_AS_LONG)
    spark.conf.set(_NANOS_AS_LONG, "false")
    try:
        e = qcat._events(spark, SF)
        assert spark.conf.get(_NANOS_AS_LONG) == "false"
        assert e.schema["sec"].dataType.simpleString() == "bigint"
    finally:
        spark.conf.set(_NANOS_AS_LONG, before)


_UPSERT_KEYS = ["window_start", "event_type", "pos"]


@pytest.fixture()
def two_epoch_events(tmp_path):
    """The SF events in a watched directory, plus a copy shifted 31 days
    later held back for a second data epoch: every shifted event falls
    in an hour after the first file's last one, so the second data epoch
    re-emits none of the first one's keys."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    watched, held = tmp_path / "events", tmp_path / "held"
    watched.mkdir()
    held.mkdir()
    shutil.copy(f"{SF}/events.parquet", watched / "part-0.parquet")
    t = pq.read_table(f"{SF}/events.parquet")
    i = t.schema.get_field_index("ts")
    later = pc.add(t["ts"], pa.scalar(timedelta(days=31)))
    pq.write_table(t.set_column(i, "ts", later), held / "part-1.parquet")
    return watched, held / "part-1.parquet"


def _upsert_oracle(spark, events_dir):
    """The batch computation that the upsert target must equal."""
    batch = (
        read_events_batch(spark, events_dir)
        .select("event_time", "event_type",
                F.posexplode(F.array("value", F.col("value") * F.col("value"),
                                     F.lit(1.0))).alias("pos", "elem"))
        .groupBy(F.window("event_time", "1 hour"), "event_type", "pos")
        .agg(F.sum("elem").alias("val"))
        .select(F.col("window").start.alias("ws"), "event_type", "pos", "val")
    )
    return {(r["ws"], r["event_type"], r["pos"]): round(r["val"], 6)
            for r in batch.collect()}


def _upsert_target(spark, target):
    return {(r["window_start"], r["event_type"], r["pos"]): round(r["val"], 6)
            for r in spark.read.parquet(target).collect()}


def _drain(agg, handler, checkpoint):
    """Run an update-mode ``foreachBatch`` query over all available input,
    stop it, and return its progress reports."""
    q = (agg.writeStream.outputMode("update").foreachBatch(handler)
         .option("checkpointLocation", checkpoint).start())
    try:
        q.processAllAvailable()
        return q.recentProgress
    finally:
        q.stop()


@pytest.mark.parametrize("steps_done", [0, 1, 2, 3], ids=[
    "after_tmp_write", "after_target_to_old", "after_tmp_to_target",
    "after_old_delete"])
def test_foreach_batch_upsert_recovers_from_a_crash_at_every_step(
        spark, tmp_path, monkeypatch, two_epoch_events, steps_done):
    """Stop the sink after each filesystem step of the second data epoch,
    restart the query on the same checkpoint and drain it: the replayed
    epoch must leave the batch answer over both files, and no
    ``.__old`` sibling."""
    from pyspark.errors import StreamingQueryException

    from datafusion_monoid_spark.streaming.monoid_stream import (
        foreach_batch_upsert)

    watched, held = two_epoch_events
    target, ckpt = str(tmp_path / "target"), str(tmp_path / "ckpt")
    agg = streaming_monoid_reduce(
        read_events_stream(spark, str(watched), maxFilesPerTrigger="1"),
        "sum", window="1 hour")
    _drain(agg, foreach_batch_upsert(target, _UPSERT_KEYS), ckpt)
    os.rename(held, watched / held.name)

    done = []

    def crashing(real):
        def step(path, *args, **kwargs):
            if not str(path).startswith(target):
                return real(path, *args, **kwargs)
            if len(done) < steps_done:
                real(path, *args, **kwargs)
                done.append(path)
            if len(done) == steps_done:
                raise RuntimeError(f"crash after {steps_done} steps")
        return step

    # the sink looks up os.rename and shutil.rmtree at call time
    with monkeypatch.context() as m:
        m.setattr(os, "rename", crashing(os.rename))
        m.setattr(shutil, "rmtree", crashing(shutil.rmtree))
        with pytest.raises(StreamingQueryException, match="crash after"):
            _drain(agg, foreach_batch_upsert(target, _UPSERT_KEYS), ckpt)
    assert len(done) == steps_done

    _drain(agg, foreach_batch_upsert(target, _UPSERT_KEYS), ckpt)
    assert _upsert_target(spark, target) == _upsert_oracle(spark,
                                                           str(watched))
    assert sorted(p.name for p in tmp_path.iterdir()
                  if p.name.startswith("target")) == ["target"]


def test_foreach_batch_upsert_writes_nothing_on_an_empty_epoch(
        spark, tmp_path, two_epoch_events):
    """The no-data batch after a watermark advance runs only its own
    job and leaves the target untouched; a data epoch against an existing
    target runs at most three jobs."""
    from datafusion_monoid_spark.streaming.monoid_stream import (
        foreach_batch_upsert)

    watched, held = two_epoch_events
    target = str(tmp_path / "target")
    sc = spark.sparkContext
    handle = foreach_batch_upsert(target, _UPSERT_KEYS)
    seen = {}

    def listing():
        if not os.path.exists(target):
            return None
        return {f.name: f.stat().st_mtime_ns for f in os.scandir(target)}

    def counted(batch_df, epoch_id):
        group = f"{tmp_path.name}-epoch{epoch_id}"
        saved = {k: sc.getLocalProperty(k) for k in (
            "spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")}
        sc.setJobGroup(group, group, interruptOnCancel=True)
        before = listing()
        try:
            handle(batch_df, epoch_id)
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        seen[epoch_id] = (len(jobs), before, listing())

    agg = streaming_monoid_reduce(
        read_events_stream(spark, str(watched), maxFilesPerTrigger="1"),
        "sum", window="1 hour")
    ckpt = str(tmp_path / "ckpt")
    progress = _drain(agg, counted, ckpt)
    os.rename(held, watched / held.name)
    progress += _drain(agg, counted, ckpt)

    rows = {p["batchId"]: p["numInputRows"] for p in progress}
    assert rows[0] > 0 and rows[1] == 0 and rows[2] > 0
    jobs, before, after = seen[1]
    assert jobs == 1
    assert before is not None and after == before
    assert seen[2][0] <= 3 and seen[2][1] is not None
    assert _upsert_target(spark, target) == _upsert_oracle(spark,
                                                           str(watched))


_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


@pytest.mark.parametrize("caller", [None, "true", "false"],
                         ids=["unset", "true", "false"])
def test_run_stream_foreach_batch_runs_no_empty_epoch(
        spark, tmp_path, monkeypatch, two_epoch_events, caller):
    """The driver skips the no-data batch after a watermark advance
    (at Spark's default it is batch 1 here), the target still equals
    the batch answer, and the session conf is the caller's afterwards,
    whatever the caller had set and also when ``start()`` raises."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    watched, held = two_epoch_events
    target, ckpt = str(tmp_path / "target"), str(tmp_path / "ckpt")
    agg = streaming_monoid_reduce(
        read_events_stream(spark, str(watched), maxFilesPerTrigger="1"),
        "sum", window="1 hour")

    def drain():
        q = run_stream_foreach_batch(agg, target, _UPSERT_KEYS, ckpt)
        try:
            return q.recentProgress
        finally:
            q.stop()

    def refuse(self):
        raise RuntimeError("start refused")

    with _caller_conf(spark, _NO_DATA_BATCHES, caller):
        conf = dict(spark.conf.getAll)
        progress = drain()
        os.rename(held, watched / held.name)
        progress += drain()
        assert dict(spark.conf.getAll) == conf

        assert [p["batchId"] for p in progress] == [0, 1]
        assert all(p["numInputRows"] > 0 for p in progress)
        assert _upsert_target(spark, target) == _upsert_oracle(spark,
                                                               str(watched))

        monkeypatch.setattr(DataStreamWriter, "start", refuse)
        with pytest.raises(RuntimeError, match="start refused"):
            run_stream_foreach_batch(agg, target, _UPSERT_KEYS, ckpt)
        assert dict(spark.conf.getAll) == conf


def _session_state(spark):
    """What a public function must leave as it found it."""
    return {
        "conf": dict(spark.conf.getAll),
        "temp_views": {t.name for t in spark.catalog.listTables()
                       if t.isTemporary},
        "functions": {f.name for f in spark.catalog.listFunctions()},
        "persisted_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "active_streams": [q.id for q in spark.streams.active],
    }


def _drained_upsert(spark, d, tmp_path):
    agg = streaming_monoid_reduce(read_events_stream(spark, d), "sum")
    run_stream_foreach_batch(agg, str(tmp_path / "target"), _UPSERT_KEYS,
                             str(tmp_path / "ckpt")).stop()


def _drained_memory(spark, d, tmp_path):
    """The memory table is what the call returns: the caller drops it."""
    agg = streaming_monoid_reduce(read_events_stream(spark, d), "sum")
    run_stream_to_memory(agg, "surface_mem", str(tmp_path / "ckpt")).stop()
    spark.catalog.dropTempView("surface_mem")


def _streaming_catalog_entry(spark, d, tmp_path):
    from datafusion_monoid_spark.queries import catalog

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(Path(d) / "part-0.parquet", sf / "events.parquet")
    catalog()["streaming_windowed_monoid"][0](spark, str(sf)).collect()


#: (events layout, nanosAsLong as the caller set it, the call)
_STREAM_SURFACE = {
    "read_events_stream": ("us", "false", lambda spark, d, tmp_path:
                           read_events_stream(spark, d)),
    "read_events_batch_us": ("us", "false", lambda spark, d, tmp_path:
                             read_events_batch(spark, d)),
    "read_events_batch_ns": ("ns", "true", lambda spark, d, tmp_path:
                             read_events_batch(spark, d)),
    "streaming_monoid_reduce": ("us", "false", lambda spark, d, tmp_path:
                                streaming_monoid_reduce(
                                    read_events_stream(spark, d), "sum")),
    "run_stream_foreach_batch": ("us", "false", _drained_upsert),
    "run_stream_to_memory": ("us", "false", _drained_memory),
    "streaming_windowed_monoid": ("us", "false", _streaming_catalog_entry),
}


@pytest.mark.parametrize("name", list(_STREAM_SURFACE))
def test_stream_surface_leaves_the_session_as_it_found_it(spark, tmp_path,
                                                          name):
    unit, nanos, call = _STREAM_SURFACE[name]
    d = _write_events(tmp_path / "events", unit)
    with _caller_conf(spark, _NANOS_AS_LONG, nanos):
        before = _session_state(spark)
        call(spark, d, tmp_path)
        assert _session_state(spark) == before


_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
               "FileSystemBasedCheckpointFileManager")
_CHECKPOINT_ROOT = "spark.sql.streaming.checkpointLocation"
_HDFS = "hdfs://namenode:8020/ckpt"


def _capture_start_conf(monkeypatch, spark):
    """Patch ``start()`` to record the session conf it would copy into
    the query, then refuse to start."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    seen = {}

    def capture(self):
        seen.update(spark.conf.getAll)
        raise RuntimeError("start captured")

    monkeypatch.setattr(DataStreamWriter, "start", capture)
    return seen


_DRIVERS = {
    "run_stream_foreach_batch": lambda agg, ckpt, tmp_path:
        run_stream_foreach_batch(agg, str(tmp_path / "target"), _UPSERT_KEYS,
                                 ckpt),
    "run_stream_to_memory": lambda agg, ckpt, tmp_path:
        run_stream_to_memory(agg, "manager_probe", ckpt),
}


@pytest.mark.parametrize("driver", list(_DRIVERS))
@pytest.mark.parametrize("where, root, caller, want", [
    ("local", None, None, _FS_MANAGER),
    ("hdfs", None, None, None),
    (None, _HDFS, None, None),
    ("local", None, "com.example.OwnManager", "com.example.OwnManager"),
    ("hdfs", None, "com.example.OwnManager", "com.example.OwnManager"),
], ids=["local", "hdfs", "hdfs_root", "local_own", "hdfs_own"])
def test_start_picks_the_checkpoint_manager_by_scheme(
        spark, tmp_path, monkeypatch, driver, where, root, caller, want):
    """A local checkpoint starts under the FileSystem-based manager; an
    HDFS one (given, or under an HDFS checkpoint root) and a caller's
    own choice keep the key as the caller had it; the conf afterwards is
    the conf before."""
    ckpt = {"local": str(tmp_path / "ckpt"), "hdfs": _HDFS, None: None}[where]
    d = _write_events(tmp_path / "events", "us")
    agg = streaming_monoid_reduce(read_events_stream(spark, d), "sum")
    seen = _capture_start_conf(monkeypatch, spark)
    with _caller_conf(spark, _CHECKPOINT_ROOT, root), \
            _caller_conf(spark, _MANAGER, caller):
        before = dict(spark.conf.getAll)
        with pytest.raises(RuntimeError, match="start captured"):
            _DRIVERS[driver](agg, ckpt, tmp_path)
        assert dict(spark.conf.getAll) == before
    assert seen.get(_MANAGER) == want


def test_drained_stream_sets_its_confs_only_around_start(spark, tmp_path,
                                                         monkeypatch):
    """The catalog's drained stream starts with 8 shuffle partitions and
    the FileSystem-based manager, and leaves an unset shuffle-partition
    key unset."""
    from datafusion_monoid_spark.queries import STREAM_SHUFFLE, _drain_to_df

    d = _write_events(tmp_path / "events", "us")
    agg = streaming_monoid_reduce(read_events_stream(spark, d), "sum")
    seen = _capture_start_conf(monkeypatch, spark)
    with _caller_conf(spark, "spark.sql.shuffle.partitions", None):
        before = dict(spark.conf.getAll)
        with pytest.raises(RuntimeError, match="start captured"):
            _drain_to_df(agg, "drain_probe")
        assert dict(spark.conf.getAll) == before
    assert seen["spark.sql.shuffle.partitions"] == str(STREAM_SHUFFLE)
    assert seen[_MANAGER] == _FS_MANAGER


_FORK_PROBE = """
import sys
from datafusion_monoid_spark.session import get_spark
from datafusion_monoid_spark.streaming.monoid_stream import (
    read_events_stream, run_stream_foreach_batch, streaming_monoid_reduce)

events, target, ckpt, marker = sys.argv[1:]
spark = get_spark("fork-probe", cpus=2)
try:
    agg = streaming_monoid_reduce(
        read_events_stream(spark, events, maxFilesPerTrigger="1"), "sum")
    run_stream_foreach_batch(agg, target, ["window_start", "event_type", "pos"],
                             ckpt).stop()
    jvm = spark.sparkContext._jvm
    jvm.org.apache.hadoop.fs.FileUtil.readLink(jvm.java.io.File(marker))
finally:
    spark.stop()
"""


@pytest.mark.skipif(shutil.which("readlink") is None,
                    reason="no readlink on this machine")
def test_local_checkpoint_forks_no_readlink(tmp_path):
    """Hadoop's FileContext rename on a local path (Spark's default
    checkpoint manager) forks ``readlink`` for every checkpoint file when
    native libhadoop is missing.  A two-file stream run in a JVM whose
    ``readlink`` logs its arguments must fork none for the checkpoint's
    state, offsets or commits files.  The marker proves that the JVM's
    forks reach the logging ``readlink``."""
    bin_dir, events = tmp_path / "bin", tmp_path / "events"
    bin_dir.mkdir()
    events.mkdir()
    log, marker = tmp_path / "readlink.log", tmp_path / "marker"
    marker.touch()
    for i in range(2):
        shutil.copy(f"{SF}/events.parquet", events / f"part-{i}.parquet")
    wrapper = bin_dir / "readlink"
    wrapper.write_text(
        "#!/bin/sh\n"
        f"printf '%s\\n' \"$*\" >> {shlex.quote(str(log))}\n"
        f"exec {shlex.quote(shutil.which('readlink'))} \"$@\"\n")
    wrapper.chmod(0o755)
    ckpt = tmp_path / "ckpt"
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
               PYTHONPATH=ROOT, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _FORK_PROBE, str(events),
         str(tmp_path / "target"), str(ckpt), str(marker)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    logged = log.read_text().splitlines()
    assert any(str(marker) in line for line in logged)
    assert (ckpt / "commits").is_dir()
    ckpt_files = [line for line in logged
                  for sub in ("state", "offsets", "commits")
                  if f"{ckpt}/{sub}/" in line]
    assert ckpt_files == []
