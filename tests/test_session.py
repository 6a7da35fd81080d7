"""Session defaults fit the machine the process runs on."""

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(not hasattr(os, "sched_setaffinity"),
                    reason="the platform has no CPU affinity")
def test_default_cpus_counts_the_cpus_the_process_may_use():
    """A process pinned to one CPU (``taskset``, a container's cpuset)
    defaults to ``local[1]``, not to every CPU of the machine."""
    cpu = min(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [sys.executable, "-c",
         "from datafusion_monoid_spark.session import DEFAULT_CPUS; "
         "print(DEFAULT_CPUS)"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=120,
        preexec_fn=lambda: os.sched_setaffinity(0, {cpu}))
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-1] == "1"
