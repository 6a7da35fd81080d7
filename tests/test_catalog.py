"""The query catalog behind ``__spark_entry__``: exactly the monoid
entries, each hash-equal to its DuckDB oracle, and a streamed entry that
leaves the session and the filesystem as it found them."""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from datafusion_monoid_spark import queries as qcat

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"

MONOID_ENTRIES = {
    "monoid_sum_double", "monoid_min_double", "monoid_max_double",
    "monoid_product_double", "monoid_embedding_sum", "monoid_sum_ragged_int",
    "monoid_sum_nullelems_double", "monoid_sql_udaf",
    "monoid_sql_routed_hugegroup", "streaming_windowed_monoid",
}


@pytest.fixture(scope="module")
def canon():
    """``tools/check_oracles.py``'s ``canon``: the comparison the
    command-line check prints."""
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "tools", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in qcat.TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


def test_catalog_is_the_monoid_entries():
    qs = entrymod.queries()
    assert set(qs) == MONOID_ENTRIES
    assert next(iter(qs)) == "monoid_sum_double"


def test_every_entry_has_an_oracle():
    assert set(entrymod.oracle_sql()) == set(entrymod.queries())


def test_flagship_entry_is_monoid_sum_double(spark):
    got = entrymod.entry(spark).collect()
    want = qcat.catalog()["monoid_sum_double"][0](spark, SF).collect()
    assert len(got) > 0 and sorted(got) == sorted(want)


def _temp_views(spark) -> set:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("name", sorted(MONOID_ENTRIES))
def test_entry_matches_its_duckdb_oracle(spark, duck, canon, name):
    views = _temp_views(spark)
    got = canon(entrymod.queries()[name](spark, SF).toPandas())
    want = canon(duck.sql(entrymod.oracle_sql()[name]).df())
    assert got[0] > 0
    assert got == want
    assert _temp_views(spark) == views


def _shm() -> set:
    return set(os.listdir("/dev/shm")) if os.path.isdir("/dev/shm") else set()


def test_streaming_entry_leaves_nothing_behind(spark, tmp_path, monkeypatch):
    """The drained stream keeps its checkpoint in a temporary directory
    that is gone afterwards (none in the temp dir or in /dev/shm),
    restores the shuffle partitions it sets, drops its memory-sink view,
    and on a TIMESTAMP(MICROS) ``ts`` leaves the nanos-as-long conf
    alone."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr("tempfile.tempdir", str(tmp))
    shm_before = _shm()
    confs = {"spark.sql.shuffle.partitions": "5",
             "spark.sql.legacy.parquet.nanosAsLong": "false"}
    before = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fn = qcat.catalog()["streaming_windowed_monoid"][0]
        assert fn(spark, SF).count() > 100
        assert {k: spark.conf.get(k) for k in confs} == confs
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    assert list(tmp.iterdir()) == []
    assert _shm() - shm_before == set()
    assert not spark.catalog.tableExists("streaming_windowed_monoid")


def test_sql_udaf_entry_keeps_the_callers_registration(spark):
    """The entry registers ``array_reduce_sum`` only when the session has
    none: a caller's own registration (here the bigint sum) is still the
    one SQL resolves after the entry is built."""
    from datafusion_monoid_spark.monoid import get_monoid
    from datafusion_monoid_spark.operators.array_reduce import (
        make_pandas_udaf)

    def resolved():
        return spark.sql("SELECT array_reduce_sum(array(1, 2)) AS r"
                         ).schema["r"].dataType.simpleString()

    spark.udf.register("array_reduce_sum",
                       make_pandas_udaf(get_monoid("sum", "bigint")))
    try:
        assert resolved() == "array<bigint>"
        qcat.catalog()["monoid_sql_udaf"][0](spark, SF)
        assert resolved() == "array<bigint>"
    finally:
        spark.udf.register("array_reduce_sum",
                           make_pandas_udaf(get_monoid("sum", "int")))
    assert resolved() == "array<int>"
