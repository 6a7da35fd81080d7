"""Session defaults fit the machine the process runs on."""

import os
import re
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


def test_get_spark_warns_when_the_running_session_keeps_its_master(spark):
    """``getOrCreate`` returns the running session without applying the
    master: ``get_spark`` says so, naming the key, the running value and
    the requested one."""
    from datafusion_monoid_spark.session import get_spark

    running = spark.sparkContext.master
    cpus = spark.sparkContext.defaultParallelism + 1
    before = dict(spark.conf.getAll)
    try:
        with pytest.warns(UserWarning,
                          match=rf"spark\.master stays '{re.escape(running)}'"
                                rf", not the requested 'local\[{cpus}\]'"):
            got = get_spark("tests", cpus=cpus, shuffle_partitions=8)
    finally:
        # getOrCreate copies the builder's options into the session conf
        after = dict(spark.conf.getAll)
        for k in set(after) - set(before):
            spark.conf.unset(k)
        for k, v in before.items():
            if after.get(k) != v:
                spark.conf.set(k, v)
    assert dict(spark.conf.getAll) == before
    assert got is spark
    assert spark.sparkContext.master == running
