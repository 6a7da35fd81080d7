"""BPE trainer/serve: hand-computed toy merges, the doubled-delimiter
replace edge cases, and encode accounting invariants."""

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators import bpe

SF001 = "/root/testdata/sf0.001"


def _vocab(spark, rows):
    df = spark.createDataFrame(rows, "tok string, cnt bigint")
    return df.select("tok", "cnt",
                     bpe.padded_seg(F.col("tok")).alias("seg"))


def _train(spark, rows, rounds):
    merges, fin = bpe.train(_vocab(spark, rows), rounds=rounds)
    got = [(r["rk"], r["left_sym"], r["right_sym"], r["pair_cnt"])
           for r in merges.orderBy("rk").collect()]
    segs = {r["tok"]: r["seg"] for r in fin.collect()}
    return got, segs


def test_toy_merges_hand_computed(spark):
    # "low" x5, "lower" x2: pairs lo=7, ow=7, we=2, er=2 ->
    # round 1 merges (l,o) [tie lo/ow broken by symbol order],
    # round 2 merges (lo,w) [7 beats we/er's 2]
    got, segs = _train(spark, [("low", 5), ("lower", 2)], rounds=2)
    assert got == [(1, "l", "o", 7), (2, "lo", "w", 7)]
    assert segs["low"] == " low "
    assert segs["lower"] == " low  e  r "


def test_merge_output_feeds_later_round(spark):
    # round 3 must merge the SYMBOL built in earlier rounds:
    # "aab" x3: pairs aa=3, ab=3 -> r1 (a,a), r2 (aa,b), r3 exhausted?
    # with only one token left fully merged there are no pairs; add a
    # second token to keep round 3 meaningful
    got, segs = _train(spark, [("aab", 3), ("cd", 1)], rounds=3)
    assert got[0] == (1, "a", "a", 3)
    assert got[1] == (2, "aa", "b", 3)
    assert got[2] == (3, "c", "d", 1)
    assert segs["aab"] == " aab "
    assert segs["cd"] == " cd "


def test_consecutive_merge_sites_all_apply(spark):
    # doubled-delimiter contract: "xyxy" must become "xy xy" in ONE
    # round (a single-space encoding would merge only the first site)
    got, segs = _train(spark, [("xyxy", 10)], rounds=1)
    assert got == [(1, "x", "y", 20)]
    assert segs["xyxy"] == " xy  xy "


def test_repeated_symbol_runs_pair_leftmost(spark):
    # "yyy": pair (y,y) counts twice but only ONE merge applies
    # (leftmost), leaving "yy y" — standard greedy BPE
    got, segs = _train(spark, [("yyy", 1)], rounds=1)
    assert got == [(1, "y", "y", 2)]
    assert segs["yyy"] == " yy  y "


def test_tie_breaks_by_symbol_order(spark):
    # "ba" and "ab" both count 1 -> (a,b) wins on ascending order
    got, _ = _train(spark, [("ab", 1), ("ba", 1)], rounds=1)
    assert got == [(1, "a", "b", 1)]


def test_single_char_tokens_contribute_no_pairs(spark):
    got, segs = _train(spark, [("a", 100), ("bc", 1)], rounds=1)
    assert got == [(1, "b", "c", 1)]
    assert segs["a"] == " a "


def test_encode_stats_conservation(spark):
    """Per-source symbol totals are bounded by char totals (merging
    only shrinks) and >= token totals (a token is >= 1 symbol); the
    mean is consistent with the totals."""
    from datafusion_monoid_spark import pipeline_queries as q

    fn, _ = q.catalog()["bpe_encode_stats"][0], None
    rows = q.catalog()["bpe_encode_stats"][0](spark, SF001).collect()
    assert rows
    for r in rows:
        assert r["n_symbols"] >= r["n_tokens"] > 0
        assert (r["avg_symbols_micro"]
                == r["n_symbols"] * 1_000_000 // r["n_tokens"])
        assert r["avg_symbols_micro"] >= 1_000_000


def test_encode_serve_plan_is_broadcast_map_side(spark):
    """The serve half must join the vocabulary model BROADCAST (the
    model is vocabulary-bounded by construction) — a shuffle join here
    would move the corpus token stream for a model-sized side."""
    from datafusion_monoid_spark import pipeline_queries as q

    df = q.catalog()["bpe_encode_stats"][0](spark, SF001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_segmentation_reconstructs_every_token(spark):
    """Lossless-ness: after any number of merge rounds, the symbols of
    every vocabulary entry concatenate back to the original token —
    merging only moves boundaries, never characters."""
    from datafusion_monoid_spark import pipeline_queries as q

    vocab = q._bpe_vocab(spark, SF001)
    _, fin = bpe.train(vocab, rounds=3)
    bad = (fin.select(
        "tok",
        F.concat_ws("", bpe.seg_symbols(F.col("seg"))).alias("re"))
        .where(F.col("tok") != F.col("re")).count())
    assert bad == 0


def test_newbatch_oov_accounting(spark):
    """Incremental encode: OOV counts bounded by token counts, and a
    token is always at least one symbol (the char fallback makes OOV
    tokens encodable, never dropped)."""
    from datafusion_monoid_spark import pipeline_queries as q

    rows = q.catalog()["bpe_encode_newbatch"][0](spark, SF001).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_oov_tokens"] <= r["n_tokens"]
        assert r["n_symbols"] >= r["n_tokens"] > 0


def test_trainer_matches_catalog_top_merge(spark):
    """Round 1 of the real trainer must agree with bpe_top_merges'
    rank-1 candidate (same corpus, same weighting)."""
    from datafusion_monoid_spark import pipeline_queries as q

    top = q.catalog()["bpe_top_merges"][0](spark, SF001) \
        .where(F.col("rk") == 1).collect()[0]
    merges = q.catalog()["bpe_train_merges"][0](spark, SF001) \
        .where(F.col("rk") == 1).collect()[0]
    assert merges["left_sym"] + merges["right_sym"] == top["pair"]
    assert merges["pair_cnt"] == top["cnt"]
