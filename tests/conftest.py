import os

import pytest

from datafusion_monoid_spark.session import get_spark
from datafusion_monoid_spark.operators.array_reduce import register_all


@pytest.fixture(scope="session")
def spark():
    # cores for the test session: SPARK_GRAFT_TEST_CPUS, then the
    # package's SPARK_GRAFT_CPUS, then every CPU of the machine.  Shuffle
    # partitions stay 8: every pinned result is partitioning-invariant by
    # design, but the tiny-relation tests get no benefit from more
    # reducers, only scheduling overhead.
    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS")
               or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    s = get_spark("tests", cpus=cpus, shuffle_partitions=8)
    register_all(s, default_elem="int",
                 suffix_types=("bigint", "double", "float", "smallint", "tinyint",
                               "uint8", "uint16", "uint32", "uint64"))
    yield s
    s.stop()
