"""Tracing for the traced pass (``--trace 1``).

Spans are recorded by the benchmark itself, around its calls into the
package's public functions: a wrapped function records a span while
tracing is on and calls straight through while it is off.  Engine
counters come from Spark's own bookkeeping after each traced op: the
status store (stages of the op's job groups) and the SQL metrics of the
op's executed plan.  Nothing here runs inside the package.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import asdict, dataclass, field

#: span name -> the layer its self time is charged to
LAYER_OF = {
    "array_reduce": "array_reduce",
    "array_reduce_exploded": "array_reduce",
    "route_monoid_sql": "sql_route",
    "parse_monoid_sql": "sql_route",
    "spark.sql": "engine",
    "collect": "engine",
    "process_all_available": "engine",
    "sink_upsert": "sink",
    "op": "bench",
    "build": "bench",
}
LAYERS = ("array_reduce", "sql_route", "engine", "sink", "bench")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


@dataclass
class Tracer:
    """In-memory span recorder.  ``on`` switches recording per op, so a
    traced run can interleave traced and untraced cycles."""

    on: bool = False
    spans: list[Span] = field(default_factory=list)
    op_id: int | None = None
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def self_time_by_layer(self) -> dict[str, float]:
        """Sum over spans of duration minus the part covered by child
        spans (children never overlap: one client, one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out = dict.fromkeys(LAYERS, 0.0)
        for i, s in enumerate(self.spans):
            out[LAYER_OF[s.name]] += s.end - s.start - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        if not self.t.on:
            return self
        parent = self.t._stack[-1] if self.t._stack else None
        self.t.spans.append(Span(self.name, time.perf_counter(), 0.0,
                                 parent, self.t.op_id))
        self.t._stack.append(len(self.t.spans) - 1)
        return self

    def __exit__(self, *exc):
        if self.t.on:
            self.t.spans[self.t._stack.pop()].end = time.perf_counter()
        return False


# ---------------------------------------------------------------------------
# engine counters
# ---------------------------------------------------------------------------

def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def stage_counters(spark, groups: list[str], wall: tuple[float, float]
                   ) -> dict:
    """Sum the status-store stage data of every job in ``groups``.

    ``wall`` is the op's (start, end) in epoch seconds; the driver gap is
    the part of it during which none of the op's stages ran."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    c = dict.fromkeys(("tasks", "run_s", "cpu_s", "gc_s", "input_records",
                       "input_bytes", "shuffle_write_bytes",
                       "shuffle_write_records", "shuffle_read_bytes",
                       "spill_bytes"), 0.0)
    c["peak_exec_bytes"] = 0.0
    c["jobs"] = {}
    intervals = []
    for g in groups:
        jobs = tracker.getJobIdsForGroup(g)
        c["jobs"][g] = len(jobs)
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) != "COMPLETE":
                    continue            # skipped: its shuffle was reused
                c["tasks"] += sd.numTasks()
                c["run_s"] += sd.executorRunTime() / 1e3
                c["cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["input_records"] += sd.inputRecords()
                c["input_bytes"] += sd.inputBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["shuffle_write_records"] += sd.shuffleWriteRecords()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c["peak_exec_bytes"] = max(c["peak_exec_bytes"],
                                           sd.peakExecutionMemory())
                a, b = _opt_ms(sd.submissionTime()), _opt_ms(sd.completionTime())
                if a is not None and b is not None:
                    intervals.append((a / 1e3, b / 1e3))
    c["driver_gap_s"] = (wall[1] - wall[0]) - _covered(intervals, *wall)
    return c


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def plan_counters(df) -> dict:
    """SQL metrics of ``df``'s executed plan (read after its action):

    * ``partial_agg_in``/``partial_agg_out``: rows out of the posexplode
      ``Generate`` and shuffle records written by the exchange right
      above its (group, pos) partial aggregate;
    * ``python_s``/``python_bytes_sent``: the pandas aggregate node's
      Python worker time and bytes sent to the workers."""
    out = {"partial_agg_in": 0, "partial_agg_out": 0,
           "python_s": 0.0, "python_bytes_sent": 0}

    def metrics(node) -> dict:
        it = node.metrics().iterator()
        m = {}
        while it.hasNext():
            kv = it.next()
            m[kv._1()] = kv._2().value()
        return m

    def walk(node, exchange: dict | None) -> None:
        name = node.nodeName()
        cls = node.getClass().getSimpleName()
        m = metrics(node)
        if name == "Exchange":
            exchange = m
        elif name == "Generate" and exchange is not None:
            out["partial_agg_in"] += m.get("numOutputRows", 0)
            out["partial_agg_out"] += exchange.get("shuffleRecordsWritten", 0)
        elif "pythonDataSent" in m:
            out["python_s"] += m.get("pythonTotalTime", 0) / 1e3
            out["python_bytes_sent"] += m["pythonDataSent"]
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        else:
            ch = node.children()
            kids = [ch.apply(i) for i in range(ch.size())]
        for k in kids:
            walk(k, exchange)

    walk(df._jdf.queryExecution().executedPlan(), None)
    return out
