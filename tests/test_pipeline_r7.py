"""Round-7 semantics fixtures: the drift degenerate-label
contract and the multi-resolution span tiers on hand-built corpora.

These pin BEHAVIOR the sf-testdata oracle checks cannot reach: the
generated tables have every label in both corpus halves and no
50-token duplicate runs, so the one-sided-label drop and the coarse
tier's threshold semantics would otherwise ride along untested.
"""

from __future__ import annotations

from datafusion_monoid_spark import pipeline_queries as qcat

SF = "/root/testdata/sf0.001"


def _run(spark, name, sf=SF):
    return qcat.catalog()[name][0](spark, sf)


# ---------------------------------------------------------------------------
# embedding drift: labels with vectors in only one half are DROPPED
# (the conditional-aggregate rewrite must keep the
# oracle's old/new inner-join semantics, not emit NULL/div-zero rows)
# ---------------------------------------------------------------------------

def test_drift_drops_one_sided_labels(spark, tmp_path):
    dim4 = [1.0, 2.0, 3.0, 4.0]
    rows = [
        # label 1: vec_ids 0 (old half, even) and 1 (new half, odd)
        (0, dim4, 1),
        (1, [2.0, 2.0, 3.0, 4.0], 1),
        # label 2: only odd vec_ids -> NEW half only, no old centroid
        (3, dim4, 2),
        (5, dim4, 2),
        # label 3: only even vec_ids -> OLD half only
        (4, dim4, 3),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {r.label: r for r in
           _run(spark, "embedding_drift_by_label", str(tmp_path)).collect()}
    assert set(out) == {1}, (
        "labels present in only one corpus half must be dropped "
        "(oracle inner-join semantics), not emitted with NULL drift")
    r = out[1]
    assert (r.n_old, r.n_new) == (1, 1)
    # centroids are the single vectors; micro-unit delta on dim 0 only
    assert r.drift_sq == 1_000_000 ** 2


# ---------------------------------------------------------------------------
# multi-resolution span dedup: the coarse tier counts ONLY >=50-token
# duplicated runs; the fine tier counts both
# ---------------------------------------------------------------------------

def test_multires_coarse_threshold_fixture(spark, tmp_path):
    long_run = " ".join(f"L{i}" for i in range(60))    # 60-token dup run
    short_run = " ".join(f"S{i}" for i in range(12))   # 12-token dup run
    uniq = [" ".join(f"u{d}_{i}" for i in range(10)) for d in range(4)]
    rows = [
        (1, f"{uniq[0]} {long_run}", "en", "srcA", 0),
        (2, f"{long_run} {uniq[1]}", "en", "srcA", 0),
        (3, f"{uniq[2]} {short_run}", "en", "srcB", 0),
        (4, f"{short_run} {uniq[3]}", "en", "srcB", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r.source: r for r in
           _run(spark, "dedup_substring_multires", str(tmp_path)).collect()}

    a = out["srcA"]   # 60-token span per doc: fine AND coarse
    assert a.fine_n_spans == 2
    assert a.fine_dup_tokens == 120
    assert a.coarse_n_spans == 2
    assert a.coarse_n_docs == 2
    assert a.coarse_dup_tokens == 120
    assert a.coarse_span_max == 60

    b = out["srcB"]   # 12-token span per doc: fine only
    assert b.fine_n_spans == 2
    assert b.fine_dup_tokens == 24
    assert b.coarse_n_spans == 0
    assert b.coarse_n_docs == 0
    assert b.coarse_dup_tokens == 0
    assert b.coarse_span_max == 0


# ---------------------------------------------------------------------------
# residual IVFADC fit/serve split: the serve path over persisted index
# artifacts must reproduce the fused fit+search bit-for-bit (the
# deterministic-fit guarantee that lets both entries share one oracle)
# ---------------------------------------------------------------------------

def test_ivfadc_residual_pretrained_matches_fused(spark):
    fused = sorted(map(tuple,
                       _run(spark, "pq_ivfadc_residual_topk").collect()))
    served = sorted(map(tuple,
                        _run(spark,
                             "pq_ivfadc_residual_pretrained").collect()))
    assert fused == served


# ---------------------------------------------------------------------------
# BPE pair-exhaustion parity: when merge candidates run out before
# BPE_ROUNDS, the trainer stops at the fixed point and keeps the
# vocabulary — and the ORACLE must agree (review r7: the old CTE chain
# CROSS JOINed the vocabulary against an empty top-1 merge, wiping it,
# so Spark and DuckDB diverged on exactly the degenerate corpus the
# trainer fix was written for)
# ---------------------------------------------------------------------------

def test_bpe_oracle_survives_pair_exhaustion(spark, tmp_path):
    import duckdb

    # every token is 2 chars: round 1 merges (x, y) pairs into single
    # symbols, after which NO adjacent pair exists anywhere
    rows = [(1, "ab ab cd", "en", "srcA", 0),
            (2, "cd ab", "en", "srcA", 0)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    try:
        spark_rows = sorted(map(tuple,
                                _run(spark, "bpe_train_merges",
                                     str(tmp_path)).collect()))
        con = duckdb.connect()
        # Spark writes the table as a directory of part files
        con.sql(f"CREATE VIEW documents AS "
                f"FROM '{tmp_path}/documents.parquet/*.parquet'")
        _, oracle = qcat.catalog()["bpe_train_merges"]
        duck_rows = sorted(map(tuple, con.sql(oracle).fetchall()))

        assert spark_rows == duck_rows
        # only the realizable merges appear (ab x3 beats cd x2), none of
        # the post-exhaustion rounds fabricate rows
        assert [r[0] for r in spark_rows] == [1, 2]
        assert spark_rows[0][1:] == ("a", "b", 3)
        assert spark_rows[1][1:] == ("c", "d", 2)

        # the encode serve path still sees the fixed-point vocabulary —
        # every token segments to ONE merged symbol, not an empty model —
        # and both engines agree on the encoded stats
        spark_enc = sorted(map(tuple, _run(spark, "bpe_encode_stats",
                                           str(tmp_path)).collect()))
        duck_enc = sorted(map(tuple, con.sql(
            qcat.catalog()["bpe_encode_stats"][1]).fetchall()))
        assert spark_enc == duck_enc and spark_enc
    finally:
        # the artifacts are keyed by the pytest tmp path: remove them
        # so runs leave no dirs under .artifacts/
        import shutil
        for name in ("bpe_merges", "bpe_vocab_seg"):
            shutil.rmtree(qcat._artifact_path(str(tmp_path), name),
                          ignore_errors=True)


def test_opq_pretrained_matches_fused(spark):
    """Round-8: the OPQ serve path over persisted rotated-index
    relations must replay the fused fit+search bit-for-bit (the
    literal fit is deterministic, so persisted == refit)."""
    key = lambda rows: sorted(
        (r.q_id, r.rk, r.vec_id, r.exact_d) for r in rows)
    fused = key(_run(spark, "pq_opq_ivfadc_topk").collect())
    served = key(_run(spark, "pq_opq_ivfadc_pretrained").collect())
    assert served == fused
