"""Smoke test of the benchmark itself, at a tiny seeded size.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Every workload must emit every metric ``BENCHMARK.json`` names, with its
unit, in both passes, and every per-layer metric above 0 on the workload
that exercises its layer; the oracle must flag corrupted results
(negative controls), both on its own and through a whole benchmark run.
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys
import tempfile

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench import inputs, oracle  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


#: the per-layer metrics each workload exercises (README's layer table);
#: each must read above 0 there.  Not listed: ``engine.gc_s`` and
#: ``spill.bytes``, which stay 0 while a tiny input neither triggers GC
#: during a task nor spills.
LAYER_OF_WORKLOAD = {
    "narrow_groups": {
        "session.get_spark_s", "array_reduce.register_all_s",
        "array_reduce.build_s", "array_reduce.eager_jobs",
        "array_reduce.cache_entries", "sql_route.parse_s",
        "sql_route.route_s", "engine.tasks", "engine.run_s", "engine.cpu_s",
        "engine.driver_gap_s", "scan.input_records", "scan.input_bytes",
        "shuffle.write_bytes", "shuffle.write_records", "shuffle.read_bytes",
        "partial_agg.ratio", "mem.peak_exec_bytes", "python.udf_s",
        "python.bytes_sent", "self.array_reduce_s", "self.sql_route_s",
        "self.engine_s", "self.bench_s",
    },
    "stream_vectors": {
        "session.get_spark_s", "array_reduce.register_all_s",
        "stream.add_batch_s", "stream.planning_s", "stream.wal_commit_s",
        "stream.state_rows_total", "stream.state_rows_updated",
        "stream.state_memory_bytes", "stream.state_commit_s",
        "stream.sink_upsert_s", "stream.sink_write_amp", "self.engine_s",
        "self.sink_s", "self.bench_s",
    },
}


def run_bench(workload: str, trace: int) -> dict:
    # a traced run needs a traced and an untraced round to measure the
    # tracing overhead
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"),
         "--workload", workload, "--seed", "7",
         "--seconds", "20" if trace else "2",
         "--trace", str(trace), "--scale", "tiny"],
        capture_output=True, text=True, timeout=600, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_every_layer_metric_is_assigned_to_a_workload():
    named = {m["name"] for m in SPEC["per_layer"]}
    assigned = set().union(*LAYER_OF_WORKLOAD.values())
    assert assigned <= named
    # trace.overhead_pct is checked on its own below
    assert named - assigned == {"engine.gc_s", "spill.bytes",
                                "trace.overhead_pct"}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    res = run_bench(workload, trace)
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    names = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in names}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in m.values())
        return
    zero = sorted(k for k in LAYER_OF_WORKLOAD[workload] if not m[k] > 0)
    assert not zero, f"layers {workload} exercises read 0: {zero}"
    # a measured ratio of two medians is never exactly 1
    assert m["trace.overhead_pct"] != 0.0


# ---------------------------------------------------------------------------
# negative controls
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def narrow(tmp_path_factory):
    return inputs.make_narrow(str(tmp_path_factory.mktemp("narrow")), 7,
                              rows=2_000, groups=100, row_groups=2)


def test_narrow_input_covers_the_pinned_semantics(narrow):
    want = oracle.narrow_expected(narrow)
    assert want[inputs.NARROW_EMPTY_GROUP] is None
    assert oracle.INT64_MAX in want[inputs.NARROW_SATURATING_GROUP]
    assert narrow.row_null.any() and narrow.elem_null.any()
    assert ((narrow.lengths == 0) & ~narrow.row_null).any()   # empty arrays
    assert any(want[g] is not None and len(want[g]) < 8 for g in want)


@pytest.mark.parametrize("op", ["sum", "product"])
def test_oracle_flags_corrupted_narrow_results(narrow, op):
    want = oracle.narrow_expected(narrow, op)
    assert oracle.mismatch(want, copy.deepcopy(want)) is None
    grp = next(g for g, v in want.items() if v)

    off_by_one = copy.deepcopy(want)
    off_by_one[grp][0] += 1
    truncated = copy.deepcopy(want)
    truncated[grp] = truncated[grp][:-1] or None
    missing = {g: v for g, v in want.items() if g != grp}
    null_as_empty = copy.deepcopy(want)
    null_as_empty[inputs.NARROW_EMPTY_GROUP] = []
    for bad in (off_by_one, truncated, missing, null_as_empty):
        assert oracle.mismatch(want, bad) is not None


def test_oracle_float_tolerance(tmp_path):
    orc = oracle.StreamOracle()
    orc.add(inputs.make_event_file(str(tmp_path), 7, 0, 200))
    want = orc.expected()
    key = next(iter(want))
    close, far = dict(want), dict(want)
    close[key] = want[key] * (1 + 1e-12)
    far[key] = want[key] * (1 + 1e-6)
    assert oracle.mismatch(want, close) is None
    assert oracle.mismatch(want, far) is not None


def test_a_run_with_a_corrupted_expectation_fails(monkeypatch, capsys):
    """End to end: real Spark output against an expectation with one
    element off by one must come back ``correct: false``."""
    from perfbench import run

    real = oracle.narrow_expected

    def corrupted(inp, op="sum"):
        want = real(inp, op)
        if op == "sum":
            grp = next(g for g, v in want.items() if v)
            want[grp] = [want[grp][0] + 1] + want[grp][1:]
        return want

    monkeypatch.setattr(oracle, "narrow_expected", corrupted)
    saved = dict(os.environ)        # run.main pins the environment
    try:
        assert run.main(["--workload", "narrow_groups", "--seed", "7",
                         "--seconds", "2", "--scale", "tiny"]) == 0
    finally:
        os.environ.clear()
        os.environ.update(saved)
        tempfile.tempdir = None
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["correct"] is False
    # every op of the four sum entry points fails; the product ops pass
    assert 0 < res["failed"] < res["attempted"]
    assert res["metrics"]["query_p50_s"]["value"] > 0
