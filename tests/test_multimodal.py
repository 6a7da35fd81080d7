"""Multimodal plumbing tests: schema, batch shape, determinism, stub gate."""

import re

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators import multimodal as mm

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    return mm.attach_fake_media(docs)


def test_media_schema_and_metadata(media):
    t = dict(media.dtypes)
    assert t["media"] == "binary"
    assert t["meta"].startswith("struct<format:string,width:int,height:int,n_bytes:bigint")
    rows = media.select(F.length("media").alias("n"), "meta.n_bytes").collect()
    assert all(r["n"] == 16 and r["n_bytes"] == 16 for r in rows)


def test_decode_features_shape_and_determinism(media):
    f1 = {r["doc_id"]: r["features"] for r in mm.decode_features(media).collect()}
    f2 = {r["doc_id"]: r["features"] for r in
          mm.decode_features(media.repartition(7)).collect()}
    assert len(f1) == 50
    for k, v in f1.items():
        assert len(v) == mm.N_FEATURES
        assert abs(sum(v) - 1.0) < 1e-5          # L1-normalized histogram
        assert f2[k] == v                         # partitioning-invariant


def test_real_decoder_is_stubbed(media):
    import pytest as _pytest
    with _pytest.raises(Exception) as ei:
        mm.decode_features(media, decoder="pil").collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError)


def test_frame_sample(media):
    frames = mm.frame_sample(media, stride=2)
    rows = frames.where(F.col("doc_id") == frames.select("doc_id").first()[0]).collect()
    # 16 bytes / 4 per frame = 4 frames, stride 2 -> indices 0 and 2
    assert sorted(r["frame_idx"] for r in rows) == [0, 2]
    assert all(len(bytes(r["frame"])) == mm.FRAME_BYTES for r in rows)


def test_byte_shingles_expression(spark):
    """4-byte shingles of a known payload, hex-lowercase, distinct."""
    from datafusion_monoid_spark.operators import multimodal as mm
    df = spark.createDataFrame([(1, bytes.fromhex("00112233445566"))],
                               "doc_id long, media binary")
    [row] = df.select(mm.byte_shingles("media", 4).alias("sh")).collect()
    assert row.sh == ["00112233", "11223344", "22334455", "33445566"]
    # shorter than n -> empty, not a crash (sequence descends on k<0)
    df2 = spark.createDataFrame([(1, b"\x00\x01")],
                                "doc_id long, media binary")
    [row2] = df2.select(mm.byte_shingles("media", 4).alias("sh")).collect()
    assert row2.sh == []


def test_multimodal_neardup_finds_shared_frame_payloads(spark):
    """Frame-structured payloads of near-dup texts share byte regions;
    the byte-shingle MinHash+LSH tier must surface them without ever
    shuffling the media column."""
    from datafusion_monoid_spark import pipeline_queries as qcat
    rows = qcat.catalog()["multimodal_neardup_lsh"][0](
        spark, "/root/testdata/sf0.01").collect()
    assert len(rows) > 0, "no near-dup media pairs found"
    assert all(r.est_jacc >= 0.5 and r.id_a < r.id_b for r in rows)
    # the media BINARY column must not cross a shuffle: it is consumed
    # map-side by the shingle expression
    from datafusion_monoid_spark.plans.inspect import explain_str
    df = qcat.catalog()["multimodal_neardup_lsh"][0](
        spark, "/root/testdata/sf0.01")
    plan = explain_str(df, "formatted")
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "media" not in m.group(1), "media bytes entered a shuffle"
