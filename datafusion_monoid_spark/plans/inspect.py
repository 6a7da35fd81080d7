"""Plan-inspection helpers — assert that the optimizer did its job.

Used by tests and bench to verify: filters reach the parquet scan
(PushedFilters), projections prune columns (ReadSchema), joins broadcast
when a side is small, and the hot path stays inside WholeStageCodegen.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode)


def has_pushed_filters(df: DataFrame) -> bool:
    return "PushedFilters: [" in explain_str(df) and \
        not re.search(r"PushedFilters: \[\]", explain_str(df))


def codegen_stages(df: DataFrame) -> int:
    return len(re.findall(r"WholeStageCodegen", explain_str(df, "simple")))


def is_checkpoint_scan(df: DataFrame) -> bool:
    """True when ``df`` is a bare scan of a materialized checkpoint
    (its analyzed plan is a LogicalRDD) — the EAGER contract iterative
    fits assert before releasing a predecessor's blocks: a lazy
    ``ckpt`` hook would hand back a plan that still references the
    predecessor, and releasing it would force silent recomputation
    through freed lineage."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        return bool(plan.getClass().getName().endswith("LogicalRDD"))
    except Exception:
        return False


def release_local_checkpoint(df: DataFrame) -> bool:
    """Free the storage blocks behind a ``localCheckpoint``-ed DataFrame.

    ``localCheckpoint`` persists an internal RDD (MEMORY_AND_DISK) that
    ``DataFrame.unpersist`` does NOT reach — without an explicit release
    the blocks sit on executors until the ContextCleaner happens to GC
    the LogicalRDD.  Long-lived sessions running many
    checkpointing queries (bench loops, iterative algorithms) should
    release eagerly.  Returns False when ``df`` is not a bare
    checkpoint scan (nothing to release).  The DataFrame is NOT usable
    afterwards — release only when every consumer is done."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
            return True
    except Exception:
        pass
    return False
