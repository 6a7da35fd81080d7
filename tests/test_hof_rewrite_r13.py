"""Equivalence pins for the r13 interpreted-HOF rewrites.

Optimization round r13 rewrote four n-gram/bigram generators from
``transform(sequence(0, len-n), i -> ...element_at/slice(toks, i...))``
to ``zip_with``/``arrays_zip`` over shifted slices: the lambda of an
interpreted higher-order function re-evaluates every non-lambda-variable
subtree per element, so the old form re-ran the tokenize chain once per
gram POSITION (O(len^2) regex work per document).  The new form must be
value-identical; these tests pin it against the old expression shape on
the edge cases (empty text, 1 token, exactly n tokens, repeated tokens,
whitespace runs) plus a real-data slice.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators import dedup as dd
from datafusion_monoid_spark.operators.curation import repetition_features

EDGE_TEXTS = [
    ("",),                         # empty
    ("   ",),                      # whitespace only -> 0 tokens
    ("one",),                      # below every n
    ("a b",),                      # exactly bigram width
    ("a b c",),                    # exactly default shingle width
    ("a a a a",),                  # repeated tokens (distinct collapse)
    ("The  quick   brown fox\tjumps over the lazy dog",),
    ("a b c d e f g h",),          # exactly _SPAN_N = 8
    ("a b c d e f g h i j k l m n o p q r s t",),
]


def _old_shingles(toks, n):
    # the pre-r13 generator, kept here as the semantic reference
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


@pytest.mark.parametrize("n", [2, 3, 4, 8, 13])
def test_shingles_zip_form_matches_sequence_form(spark, n):
    df = spark.createDataFrame(EDGE_TEXTS, ["text"])
    toks = dd.tokens("text")
    rows = df.select(
        _old_shingles(toks, n).alias("old"),
        dd.shingles_from_tokens(toks, n).alias("new")).collect()
    for r in rows:
        assert r.old == r.new


def _old_bigram_structs(toks):
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("w1"),
                F.concat_ws(" ", F.element_at(toks, i + 1),
                            F.element_at(toks, i + 2)).alias("bg"))),
    ).otherwise(F.array().cast("array<struct<w1:string,bg:string>>"))


def test_bigram_zip_with_matches_sequence_form(spark):
    df = spark.createDataFrame(EDGE_TEXTS, ["text"])
    toks = dd.tokens("text")
    n = F.size(toks)
    new = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"),
                                  F.concat_ws(" ", a, b).alias("bg"))),
    ).otherwise(F.array().cast("array<struct<w1:string,bg:string>>"))
    rows = df.select(_old_bigram_structs(toks).alias("old"),
                     new.alias("new")).collect()
    for r in rows:
        assert r.old == r.new


def test_lm_doc_bigrams_occurrences(spark):
    """The production `_lm_doc_bigrams` emits one row per bigram
    occurrence, in order, after the zip_with rewrite."""
    from datafusion_monoid_spark.pipeline_queries import _lm_doc_bigrams
    df = spark.createDataFrame(
        [(1, "s", "a b b a"), (2, "s", "solo"), (3, "s", "")],
        ["doc_id", "source", "text"])
    got = sorted(
        (r.doc_id, r.w1, r.bg)
        for r in _lm_doc_bigrams(df).collect())
    assert got == [(1, "a", "a b"), (1, "b", "b a"), (1, "b", "b b")]


def test_repetition_features_bigram_rewrite(spark):
    """top_bigram fraction survives the zip_with rewrite (phrase loop
    'a b a b a' has bigrams [a b, b a, a b, b a] -> top bigram 2 of 4
    = 500000 micro); token-less and bigram-less docs stay 0."""
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x"), (3, "")], ["doc_id", "text"])
    rows = {r.doc_id: r for r in
            repetition_features(df, "doc_id", "text").collect()}
    assert rows[1].n_tokens == 5
    assert rows[1].top_bigram_micro == 500_000
    assert rows[2].top_bigram_micro == 0
    assert rows[3].n_tokens == 0 and rows[3].top_bigram_micro == 0


def test_sink_writer_key_spreads(spark):
    """The streaming sinks replaced per-commit RangePartitioners
    (whose sampling re-evaluates the batch lineage) with hash
    repartitions on transformed keys; these pins guarantee the
    one-writer-per-partition-value layout survives — a Spark hash
    change would silently merge writers, not break results."""
    buckets = spark.createDataFrame([(1,), (2,), (3,)], ["bucket"])
    parts = {r.bucket: r.p for r in buckets
             .repartition(3, (F.col("bucket") + F.lit(9)).cast("bigint"))
             .select(F.spark_partition_id().alias("p"), "bucket")
             .collect()}
    assert len(set(parts.values())) == 3, parts
    sides = spark.createDataFrame([("test",), ("train",)], ["side"])
    parts = {r.side: r.p for r in sides.repartition(2, "side")
             .select(F.spark_partition_id().alias("p"), "side")
             .collect()}
    assert len(set(parts.values())) == 2, parts
