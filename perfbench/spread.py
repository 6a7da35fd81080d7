"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload narrow_groups --seeds 1-10

Runs ``perfbench/run.py`` once per seed, one run at a time, for
``run_seconds`` of ``BENCHMARK.json``, and prints per metric the median,
the quartiles and the interquartile range as a share of the median next
to the metric's bound.  Each run's CPU steal (the share of the machine's
CPU time the hypervisor took during the timed phase) is printed with it,
so a set disturbed from outside shows.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seed_range, default=seed_range("1-10"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {}
    steal = []
    for seed in args.seeds:
        lines = subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
            check=True).stdout.strip().splitlines()
        env = json.loads(next(x for x in lines if x.startswith("env "))[4:])
        res = json.loads(lines[-1])
        steal.append(env["steal_pct"])
        print(f"seed {seed}: correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              f"steal={env['steal_pct']}% " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"steal_pct        median {statistics.median(steal):.2f} "
          f"max {max(steal):.2f}")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:<16} median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
              f"spread {(q3 - q1) / med:.3f} bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
