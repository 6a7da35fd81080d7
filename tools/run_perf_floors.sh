#!/bin/sh
# Run the opt-in wall-clock perf ceilings (tests/test_perf_floors.py).
# They skip in the default `pytest tests/` pass unless SPARK_GRAFT_PERF=1;
# run them here on a quiet host (they take ~15-20 min at 8 cores).
cd "$(dirname "$0")/.." || exit 1
SPARK_GRAFT_PERF=1 exec python -m pytest tests/test_perf_floors.py -q "$@"
