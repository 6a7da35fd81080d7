"""Sweep-state hygiene: catalog entries must not leak storage blocks.

The bench sweep runs every catalog entry
in one session, and the round-6 run showed a tail entry
(pipeline_curation_full) 5x slower under the accumulated storage/GC
pressure of earlier entries' leaked localCheckpoint blocks (6 BPE
trainer rounds per BPE entry, one per-k block in the k-core peel —
none released).  The fix releases each superseded iteration checkpoint
the moment its successor materializes; these tests pin that contract
by LISTING the JVM's persistent RDDs after each checkpoint-heavy entry
runs, exactly the driver's between-entries vantage point.

The one allowed standing block set is the documented app-lifetime
minhash signature/candidate pair (``pipeline_queries._MINHASH_SHARED``
— several entries share it by design, like a production pipeline
materializing its cascade once per snapshot); the baseline snapshot
absorbs it.
"""

from __future__ import annotations

import time

import pytest

from datafusion_monoid_spark import pipeline_queries as qcat

SF = "/root/testdata/sf0.001"

#: the entries whose implementations iterate with localCheckpoint —
#: exactly the round-6 leak sites plus the tracked-checkpoint entries
#: the bench loop releases via release_pending_checkpoints()
CHECKPOINT_HEAVY = [
    "bpe_train_merges",      # 6 trainer rounds, one ckpt each
    "bpe_encode_newbatch",   # holdout re-train
    "graph_kcore_sizes",     # one ckpt per k
    "dedup_clusters",        # connected components (self-releasing)
    "pq_adc_pretrained",     # materialize_codes (bench-loop released)
    "pipeline_curation_full",  # the r6 victim — must also not leak
    # round 7: the PQ fit chains materialize their index artifacts
    # (tracked final ckpt + self-released per-round intermediates)
    "pq_adc_topk",
    "pq_ivfadc_topk",
    "pq_ivfadc_residual_topk",
    "pq_ivfadc_residual_pretrained",
    # round 8: OPQ materializes rotation/residual/code artifacts;
    # the unigram trainer checkpoints its vocabulary + candidates
    "pq_opq_ivfadc_topk",
    "pq_opq_ivfadc_pretrained",
    "unigram_train_pieces",
    "unigram_encode_stats",
]


def _persistent_ids(spark) -> set:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {k for k in jmap.keySet().toArray()}


@pytest.mark.parametrize("name", CHECKPOINT_HEAVY)
def test_entry_leaves_no_dangling_blocks(spark, name):
    fn, _ = qcat.catalog()[name]
    # absorb app-lifetime state (minhash shared pair, artifacts) by
    # running once first — the steady-state baseline
    fn(spark, SF).write.format("noop").mode("overwrite").save()
    qcat.release_pending_checkpoints()
    before = _persistent_ids(spark)
    fn(spark, SF).write.format("noop").mode("overwrite").save()
    qcat.release_pending_checkpoints()
    # non-blocking unpersists drain asynchronously — give them a beat
    leaked = _persistent_ids(spark) - before
    if leaked:
        time.sleep(2)
        leaked = _persistent_ids(spark) - before
    assert not leaked, (
        f"{name} left {len(leaked)} persistent RDD(s) behind: a sweep "
        f"of the whole catalog accumulates these until GC (the round-6 "
        f"pipeline_curation_full regression)")
