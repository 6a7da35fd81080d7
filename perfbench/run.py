"""Monoid-reduce benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload narrow_groups --seed 1 \\
        --seconds 20 --trace 0

Run from any directory; the package is imported from the checkout this
file sits in.  A closed loop with one client: one Python process issues
one op at a time against ``local[nproc]`` and checks every op's output
against the NumPy oracle in ``perfbench/oracle.py``.  The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``, with ``--trace 1`` the per-layer ones.  Every line
before it is a human-readable report (``name value unit``).  See
``perfbench/README.md``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()   # process start, for cold_start_s

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench import inputs, oracle  # noqa: E402

WORKLOADS = ("narrow_groups", "stream_vectors")

#: input sizes; ``tiny`` is for the smoke test
SCALES = {
    "full": {
        "narrow_groups": {"rows": 100_000, "groups": 2_000},
        "stream_vectors": {"events": 20_000},
    },
    "tiny": {
        "narrow_groups": {"rows": 2_000, "groups": 100},
        "stream_vectors": {"events": 500},
    },
}

#: in-process set-ups of a session whose median is ``setup_s``
SETUP_ROUNDS = 3

STREAM_KEYS = ["window_start", "event_type", "pos"]


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------

def pin_env(work: str) -> dict:
    """Pin the engine to this machine and keep every file it writes
    inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # local mode runs driver and executors in one JVM; a sixth of
        # the box leaves room for Python workers and other tenants
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(mem_gib // 6)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # Python workers import the package from this checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options {shlex.quote(java_opts)} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    }
    os.environ.update(env)
    tempfile.tempdir = None          # re-read TMPDIR
    env["nproc"] = cpus
    env["mem_gib"] = round(mem_gib, 1)
    return env


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU time of the machine so far, in ticks, from the
    ``cpu`` line of ``/proc/stat``.  Guest time is already part of user
    time, so the total is the first eight fields."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def jvm_status(spark, key: str) -> int:
    """A ``/proc`` status field of the driver JVM, in KiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"no {key} in /proc/{pid}/status")


def stop_spark(spark) -> None:
    """Stop every streaming query, the session and the JVM, and wait
    until the JVM has exited."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) of the tail latency: the
    highest percentile with at least ten samples beyond it, but never
    below p90 -- a run of under 100 ops reports its p90 (nearest rank)
    and how few samples lie beyond it."""
    xs = sorted(xs)
    n = len(xs)
    rank = max(n - 10, math.ceil(0.9 * n))      # 1-based nearest rank
    return xs[rank - 1], 100.0 * rank / n, n - rank


def rounds(seconds: float):
    """Yield round numbers for a measurement of ``seconds``: at least one
    round, and another only while a round as long as the last one still
    ends within ``seconds``."""
    start, last, k = time.perf_counter(), 0.0, 0
    while True:
        t = time.perf_counter()
        if k and t - start + last > seconds:
            return
        yield k
        last, k = time.perf_counter() - t, k + 1


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

class Bench:
    """One benchmark run: owns the session, the tracer and the tallies."""

    def __init__(self, args, work: str, env: dict):
        import datafusion_monoid_spark as dms
        from datafusion_monoid_spark import sql_route
        from datafusion_monoid_spark.streaming import monoid_stream

        from perfbench.trace import Tracer

        self.args, self.work, self.env = args, work, env
        self.dms, self.sql_route, self.ms = dms, sql_route, monoid_stream
        self.scale = SCALES[args.scale][args.workload]
        self.tracer = Tracer()
        self.spark = None
        self.op_id = 0
        self.lat: list[tuple[str, float, bool]] = []   # (op, s, traced)
        self.elements = 0
        self.checked = 0                # ops whose output was checked
        self.failed = 0
        self.errors: list[str] = []
        self.counters: list[dict] = []
        self.setup: list[dict] = []
        self.schema = None              # of the batch input, once read
        self.ops: list = []
        self.progress: list[dict] = []  # streaming progress, traced triggers
        # every sink epoch: (seconds, bytes written, traced)
        self.sink: list[tuple[float, int, bool]] = []
        self.target_bytes = 0
        if args.trace:
            self._patch()

    # -- tracing hooks ------------------------------------------------------

    def _patch(self) -> None:
        """Route the public calls through span-recording wrappers.  The
        package looks these names up at call time, so nested calls
        (``route_monoid_sql`` -> ``parse_monoid_sql``) are traced too."""
        w = self.tracer.wrap
        for mod, name in ((self.dms, "array_reduce"),
                          (self.dms, "array_reduce_exploded"),
                          (self.dms, "route_monoid_sql"),
                          (self.sql_route, "parse_monoid_sql"),
                          (self.sql_route, "array_reduce_exploded")):
            setattr(mod, name, w(getattr(mod, name), name))
        factory = self.ms.foreach_batch_upsert

        def traced_factory(target_dir, key_cols):
            handle = factory(target_dir, key_cols)

            def traced_handle(batch_df, epoch_id):
                traced, t = self.tracer.on, time.perf_counter()
                with self.tracer.span("sink_upsert"):
                    handle(batch_df, epoch_id)
                # the handler rewrites the whole target each epoch, so
                # what it wrote is the target's size afterwards
                self.sink.append((time.perf_counter() - t,
                                  dir_bytes(target_dir), traced))
            return traced_handle
        self.ms.foreach_batch_upsert = traced_factory

    # -- set-up -------------------------------------------------------------

    def session(self, warmup) -> dict:
        """get_spark + register_all + one untimed warm-up op
        (``warmup()``)."""
        t0 = time.perf_counter()
        self.spark = self.dms.get_spark("perfbench",
                                        cpus=int(self.env["SPARK_GRAFT_CPUS"]))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.dms.register_all(self.spark, default_elem="bigint",
                              suffix_types=("double",))
        t2 = time.perf_counter()
        warmup()
        t3 = time.perf_counter()
        return {"get_spark_s": t1 - t0, "register_all_s": t2 - t1,
                "warmup_s": t3 - t2, "total_s": t3 - t0}

    def set_up(self, warmup, gen_s: float) -> None:
        """A cold set-up (process start to warm-up done, input generation
        excluded), then ``SETUP_ROUNDS`` set-ups of a fresh session in the
        running JVM; ``setup_s`` is the median of the latter."""
        cold = self.session(warmup)
        self.cold_start_s = time.perf_counter() - _T0 - gen_s
        self.setup.append(cold)
        for _ in range(SETUP_ROUNDS):
            self.spark.stop()
            self.setup.append(self.session(warmup))
        if self.args.trace:
            self.spark.sql = self.tracer.wrap(self.spark.sql, "spark.sql")

    def timed_rounds(self):
        """``rounds(--seconds)``, recording the share of the machine's CPU
        time the hypervisor stole meanwhile: a run with high steal was
        disturbed from outside."""
        s0, t0 = cpu_ticks()
        try:
            yield from rounds(self.args.seconds)
        finally:
            s1, t1 = cpu_ticks()
            self.steal_pct = 100.0 * (s1 - s0) / max(1, t1 - t0)

    # -- batch workloads ----------------------------------------------------

    def fresh_source(self, path: str):
        """The input as a DataFrame whose plan no earlier op has read: a
        hard link of its own to the same parquet file.  The plan differs
        from every earlier op's plan only in the file path, so neither a
        CacheManager entry an earlier op left behind nor any other reuse
        keyed on the plan can serve it (cache-hit guard), while the
        generated code is what a repeat of the user's query would run."""
        self.op_id += 1
        link = os.path.join(os.path.dirname(path),
                            f"src-{self.op_id:06d}.parquet")
        os.link(path, link)
        if self.schema is None:
            self.schema = self.spark.read.parquet(path).schema
        # an explicit schema skips the per-read schema-inference job
        return self.spark.read.schema(self.schema).parquet(link)

    def run_op(self, op, path: str, timed: bool, traced: bool) -> None:
        from perfbench.trace import plan_counters, stage_counters
        from perfbench.workloads import rows_to_result

        df = self.fresh_source(path)
        view = f"perfbench_src_{self.op_id}"
        df.createOrReplaceTempView(view)
        sc = self.spark.sparkContext
        groups = [f"op{self.op_id}.build", f"op{self.op_id}.run"]
        self.tracer.on, self.tracer.op_id = traced, self.op_id
        res = rows = err = None
        persisted = sc._jsc.getPersistentRDDs().size() if traced else 0
        w0, t0 = time.time(), time.perf_counter()
        try:
            with self.tracer.span("op"):
                if traced:
                    sc.setJobGroup(groups[0], op.name, False)
                with self.tracer.span("build"):
                    res = op.build(self.spark, df, view)
                if traced:
                    sc.setJobGroup(groups[1], op.name, False)
                with self.tracer.span("collect"):
                    rows = res.collect()
        except Exception as e:          # a failed op is a result, not a crash
            err = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        lat, w1 = time.perf_counter() - t0, time.time()
        self.tracer.on = False
        self.spark.catalog.dropTempView(view)
        if err is None:
            err = oracle.mismatch(op.expected, rows_to_result(rows))
        self.tally(op.name, err)
        if not timed:
            return
        self.lat.append((op.name, lat, traced))
        self.elements += op.elements
        if traced:
            c = stage_counters(self.spark, groups, (w0, w1))
            if res is not None and rows is not None:
                c.update(plan_counters(res))
            c["op"] = op.name
            c["eager_jobs"] = c["jobs"][groups[0]]
            c["cache_added"] = (sc._jsc.getPersistentRDDs().size()
                                - persisted)
            self.counters.append(c)

    def run_batch(self, ops, path: str) -> None:
        warm = next(op for op in ops if op.entry == "df_expr")
        self.set_up(lambda: self.run_op(warm, path, False, False),
                    self.gen_s)
        # a new session starts new Python workers and drops per-session
        # state, so the first op of each kind in it runs slow: one untimed
        # cycle in the session the timed cycles use
        for op in ops:
            self.run_op(op, path, False, False)
        for cycle in self.timed_rounds():
            traced = bool(self.args.trace) and cycle % 2 == 0
            for op in ops:              # whole cycles keep the mix balanced
                self.run_op(op, path, True, traced)

    # -- stream workload ----------------------------------------------------

    def run_stream(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        ms, sc = self.ms, self.scale
        events_dir = os.path.join(self.work, "events")
        stage = os.path.join(self.work, "stage")
        target = os.path.join(self.work, "target")
        ckpt = os.path.join(self.work, "checkpoint")
        os.makedirs(events_dir)
        os.makedirs(stage)
        orc = oracle.StreamOracle()
        self.files = 0

        def publish() -> inputs.EventFile:
            f = inputs.make_event_file(stage, self.args.seed, self.files,
                                       sc["events"])
            orc.add(f)
            self.files += 1
            return f

        t = time.perf_counter()
        for _ in range(inputs.FILES_PER_HOUR):      # event hour 0
            f = publish()
            os.rename(f.path, os.path.join(events_dir,
                                           os.path.basename(f.path)))
        gen_s = time.perf_counter() - t

        def warmup() -> None:
            """The batch twin of the streaming reduce over the prefill."""
            got = (ms.streaming_monoid_reduce(
                       ms.read_events_batch(self.spark, events_dir))
                   .select(F.col("window_start").cast("long").alias("w"),
                           "event_type", "pos", "val")
                   .collect())
            self.tally("warm-up", oracle.mismatch(orc.expected(), {
                (r["w"], r["event_type"], r["pos"]): r["val"] for r in got}))

        def check() -> str | None:
            tbl = pq.read_table(target)
            ws = tbl.column("window_start").cast(pa.timestamp("s", tz="UTC"))
            got = dict(zip(zip(ws.cast(pa.int64()).to_pylist(),
                               tbl.column("event_type").to_pylist(),
                               tbl.column("pos").to_pylist()),
                           tbl.column("val").to_pylist()))
            return oracle.mismatch(orc.expected(), got)

        self.set_up(warmup, gen_s)
        agg = ms.streaming_monoid_reduce(
            ms.read_events_stream(self.spark, events_dir,
                                  maxFilesPerTrigger="1"))
        q = ms.run_stream_foreach_batch(agg, target, STREAM_KEYS, ckpt)
        self.tally("prefill drain", check())
        last_batch = max((p["batchId"] for p in q.recentProgress), default=-1)

        def op(traced: bool) -> bool:
            """Publish the next file and wait until the query has committed
            the trigger that read it.  False once the query has died."""
            nonlocal last_batch
            n = self.files
            f = publish()
            self.tracer.on, self.tracer.op_id = traced, n
            err = None
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    os.rename(f.path, os.path.join(events_dir,
                                                   os.path.basename(f.path)))
                    while source_offset(q) < n:
                        with self.tracer.span("process_all_available"):
                            q.processAllAvailable()
            except Exception as e:
                err = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            lat = time.perf_counter() - t0
            self.tracer.on = False
            if err is None:
                err = check()
            self.tally(f"trigger {n}", err)
            self.lat.append(("trigger", lat, traced))
            self.elements += 3 * f.events
            new = [json.loads(p.json) for p in q.recentProgress
                   if p["batchId"] > last_batch]
            last_batch = max([last_batch] + [p["batchId"] for p in new])
            if traced:
                self.progress.extend(p for p in new if p["numInputRows"] > 0)
            return err is None or q.isActive

        # a round is one event hour, whose first file moves the watermark:
        # every run times whole hours, so the same share of its ops
        # carries an advance
        for hour in self.timed_rounds():
            traced = bool(self.args.trace) and hour % 2 == 0
            if not all(op(traced) for _ in range(inputs.FILES_PER_HOUR)):
                break
        self.target_bytes = dir_bytes(target)
        q.stop()

    def tally(self, what: str, err: str | None) -> None:
        self.checked += 1
        if err is not None:
            self.failed += 1
            self.errors.append(f"{what}: {err}")

    # -- metrics ------------------------------------------------------------

    def end_to_end(self) -> dict:
        lats = [s for _, s, traced in self.lat if not traced]
        t, pct, beyond = tail(lats)
        self.tail_info = (pct, beyond, len(lats))
        return {
            "setup_s": (statistics.median(
                r["total_s"] for r in self.setup[1:]), "s"),
            "query_p50_s": (statistics.median(lats), "s"),
            "query_tail_s": (t, "s"),
            "elements_per_s": (self.elements / sum(s for _, s, _ in self.lat),
                               "1/s"),
        }

    def report_only(self) -> dict:
        """Metrics printed in the report but not gated (see README)."""
        out = {"cold_start_s": (self.cold_start_s, "s"),
               "peak_rss_mb": (self.peak_rss_kib / 1024, "MB"),
               "fail_ratio": (self.failed / self.checked, "ratio")}
        by_entry: dict[str, list[float]] = {}
        ops = {op.name: op.entry for op in self.ops}
        for name, s, traced in self.lat:
            if not traced:
                by_entry.setdefault(ops.get(name, "stream_trigger"),
                                    []).append(s)
        for entry, xs in sorted(by_entry.items()):
            out[f"{entry}_p50_s"] = (statistics.median(xs), "s")
        if "stream_trigger" in by_entry:
            xs = by_entry["stream_trigger"]
            out["stream_trigger_tail_s"] = (tail(xs)[0], "s")
            out["stream_events_per_s"] = (
                self.elements / 3 / sum(s for _, s, _ in self.lat), "1/s")
        return out

    def per_layer(self) -> dict:
        from perfbench.trace import LAYERS

        c = self.counters

        def mean(key, only=None):
            xs = [x[key] for x in c if only is None or x["op"] in only]
            return sum(xs) / len(xs) if xs else 0.0

        spans = self.tracer.spans
        traced_ops = max(1, sum(1 for s in spans if s.name == "op"))

        def span_mean(*names):
            return sum(s.end - s.start for s in spans
                       if s.name in names) / traced_ops

        pa_in = sum(x.get("partial_agg_in", 0) for x in c)
        pa_out = sum(x.get("partial_agg_out", 0) for x in c)
        prog = self.progress

        def prog_mean(f):
            return (sum(f(p) for p in prog) / len(prog)) if prog else 0.0

        def state(p, key):
            ops = p.get("stateOperators") or [{}]
            return ops[0].get(key, 0)

        sink = [s for s, _, traced in self.sink if traced]
        written = [b for _, b, _ in self.sink]
        setup = self.setup[1:]
        m = {
            "session.get_spark_s": (statistics.median(
                r["get_spark_s"] for r in setup), "s"),
            "array_reduce.register_all_s": (statistics.median(
                r["register_all_s"] for r in setup), "s"),
            "array_reduce.build_s": (span_mean("array_reduce",
                                               "array_reduce_exploded"),
                                     "s"),
            "array_reduce.eager_jobs": (mean("eager_jobs"), "count"),
            "array_reduce.cache_entries": (mean("cache_added",
                                                ("df_exploded_product",)),
                                           "count"),
            "sql_route.parse_s": (span_mean("parse_monoid_sql"), "s"),
            "sql_route.route_s": (span_mean("route_monoid_sql"), "s"),
            "engine.tasks": (mean("tasks"), "count"),
            "engine.run_s": (mean("run_s"), "s"),
            "engine.cpu_s": (mean("cpu_s"), "s"),
            "engine.gc_s": (mean("gc_s"), "s"),
            "engine.driver_gap_s": (mean("driver_gap_s"), "s"),
            "scan.input_records": (mean("input_records"), "count"),
            "scan.input_bytes": (mean("input_bytes"), "B"),
            "shuffle.write_bytes": (mean("shuffle_write_bytes"), "B"),
            "shuffle.write_records": (mean("shuffle_write_records"), "count"),
            "shuffle.read_bytes": (mean("shuffle_read_bytes"), "B"),
            "partial_agg.ratio": (pa_out / pa_in if pa_in else 0.0, "ratio"),
            "mem.peak_exec_bytes": (max((x["peak_exec_bytes"] for x in c),
                                        default=0.0), "B"),
            "spill.bytes": (mean("spill_bytes"), "B"),
            "python.udf_s": (mean("python_s", ("sql_udaf",)), "s"),
            "python.bytes_sent": (mean("python_bytes_sent", ("sql_udaf",)),
                                  "B"),
            "stream.add_batch_s": (prog_mean(
                lambda p: p["durationMs"].get("addBatch", 0)) / 1e3,
                "s"),
            "stream.planning_s": (prog_mean(
                lambda p: p["durationMs"].get("queryPlanning", 0)) / 1e3,
                "s"),
            "stream.wal_commit_s": (prog_mean(
                lambda p: p["durationMs"].get("walCommit", 0)) / 1e3,
                "s"),
            "stream.state_rows_total": (state(prog[-1], "numRowsTotal")
                                        if prog else 0, "count"),
            "stream.state_rows_updated": (prog_mean(
                lambda p: state(p, "numRowsUpdated")), "count"),
            "stream.state_memory_bytes": (state(prog[-1], "memoryUsedBytes")
                                          if prog else 0, "B"),
            "stream.state_commit_s": (prog_mean(
                lambda p: state(p, "commitTimeMs")) / 1e3, "s"),
            "stream.sink_upsert_s": (sum(sink) / len(sink) if sink else 0.0,
                                     "s"),
            # mean bytes written per epoch over the final target's bytes:
            # near 1 for a sink that rewrites everything, near 0 for one
            # that writes only what changed
            "stream.sink_write_amp": (
                sum(written) / len(written) / self.target_bytes
                if written and self.target_bytes else 0.0, "ratio"),
        }
        self_time = self.tracer.self_time_by_layer()
        for layer in LAYERS:
            m[f"self.{layer}_s"] = (self_time[layer] / traced_ops, "s")
        m["trace.overhead_pct"] = (self.overhead_pct(), "%")
        return m

    def overhead_pct(self) -> float:
        """Median over op kinds of (traced p50 / untraced p50 - 1), in
        percent: traced and untraced cycles alternate in a traced run."""
        kinds = sorted({name for name, _, _ in self.lat})
        ratios = []
        for k in kinds:
            on = [s for name, s, t in self.lat if name == k and t]
            off = [s for name, s, t in self.lat if name == k and not t]
            if on and off:
                ratios.append(statistics.median(on) / statistics.median(off))
        return 100.0 * (statistics.median(ratios) - 1) if ratios else 0.0

    # -- the run ------------------------------------------------------------

    def run(self) -> None:
        from perfbench import workloads

        if self.args.workload == "narrow_groups":
            t = time.perf_counter()
            inp = inputs.make_narrow(self.work, self.args.seed,
                                     self.scale["rows"], self.scale["groups"],
                                     int(self.env["nproc"]))
            self.gen_s = time.perf_counter() - t
            self.ops = workloads.narrow_ops(inp)
            self.run_batch(self.ops, inp.path)
        else:
            self.run_stream()
        self.peak_rss_kib = jvm_status(self.spark, "VmHWM")
        self.versions = {
            "python": platform.python_version(),
            "pyspark": self.spark.version,
            "java": self.spark._jvm.java.lang.System.getProperty(
                "java.version"),
        }


def source_offset(q) -> int:
    """The file-source log offset the query has committed: with
    ``maxFilesPerTrigger=1`` it is the index of the last file read."""
    p = q.lastProgress
    if p is None:
        return -1
    off = json.loads(p.json)["sources"][0]["endOffset"]
    if isinstance(off, str):
        off = json.loads(off)
    return int(off["logOffset"])


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "datafusion_monoid_spark",
                                       "__init__.py")):
        print(f"perfbench: no datafusion_monoid_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(BENCH_DIR, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    bench = None
    try:
        env = pin_env(work)
        bench = Bench(args, work, env)
        bench.run()
    finally:
        if bench is not None and bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        traces = os.path.join(BENCH_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        bench.tracer.dump(os.path.join(
            traces, f"{args.workload}-seed{args.seed}.json"))
        metrics = bench.per_layer()
    else:
        metrics = bench.end_to_end()
    report = dict(metrics)
    report.update(bench.report_only())
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "scale": args.scale, **bench.versions,
              "steal_pct": round(bench.steal_pct, 2),
              **env}
    print("env " + json.dumps(record, sort_keys=True))
    for k, (v, u) in report.items():
        print(f"{k} {v} {u}")
    if not args.trace:
        pct, beyond, n = bench.tail_info
        print(f"query_tail_s is p{pct:.1f}: {beyond} of {n} samples beyond it")
    kinds: dict[str, list[float]] = {}
    for name, sec, _ in bench.lat:
        kinds.setdefault(name, []).append(sec)
    for name, xs in kinds.items():
        print(f"latencies_s {name} " + " ".join(f"{x:.3f}" for x in xs))
    for e in bench.errors:
        print(f"FAILED {e}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.checked,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
