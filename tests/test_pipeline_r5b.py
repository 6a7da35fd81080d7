"""Round-5 second-session additions: SemDeDup serve half, DQ
expectations report, time-series gap-fill, CDC/SCD2 merge, MAD
anomalies, GDPR cascade, integer PageRank.  Structural invariants and
semantic spot-checks; the value-level check is the DuckDB oracle
(tools/check_oracles.py)."""

import re

import pytest
from pyspark.sql import functions as F

from datafusion_monoid_spark.pipeline_queries import (
    _PAGERANK_SCALE,
    catalog,
)

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _explain(df, mode="simple"):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


@pytest.fixture(scope="module")
def cat():
    return catalog()


# -- dq_integrity_report ------------------------------------------------------

def test_dq_report_clean_corpus_and_check_set(spark, cat):
    rows = {r["check_name"]: r for r in
            cat["dq_integrity_report"][0](spark, SF).collect()}
    assert len(rows) == 11
    # the synthetic corpus is referentially clean; every FK/PK/domain
    # check must report zero violations over a non-empty population
    for name, r in rows.items():
        assert r["n_checked"] > 0, name
        assert r["n_violations"] == 0, name


def test_dq_fk_checks_preaggregate_before_join(spark, cat):
    """FK orphan checks shuffle (key, cnt), never raw fact rows: the
    per-key partial aggregation must sit BELOW the dim join."""
    p = _explain(cat["dq_integrity_report"][0](spark, SF))
    assert "CartesianProduct" not in p
    # every join in the report is an equi-join against a distinct-key
    # relation; a SortMergeJoin on raw fact rows would appear without
    # a HashAggregate child
    assert "HashAggregate" in p


# -- events_gapfill_ffill -----------------------------------------------------

def test_gapfill_grid_is_dense_and_fill_carries_last_value(spark, cat):
    pdf = (cat["events_gapfill_ffill"][0](spark, SF)
           .orderBy("event_type", "hour_bucket").toPandas())
    assert len(pdf) > 0
    for et, g in pdf.groupby("event_type"):
        hbs = g["hour_bucket"].to_numpy()
        # dense grid: every hour between global lo and hi present
        assert (hbs == list(range(hbs.min(), hbs.max() + 1))).all()
        last = -1
        for _, r in g.iterrows():
            if r["is_gap"] == 1:
                assert r["n_events"] == 0
                assert r["v_filled_milli"] == last   # carried forward
            else:
                last = r["v_filled_milli"]
    # gaps must actually occur in the sparse sf0.001 stream for the
    # fill path to be exercised
    assert (pdf["is_gap"] == 1).any()


# -- cdc_scd2_customer --------------------------------------------------------

def test_scd2_version_chain_invariants(spark, cat):
    pdf = cat["cdc_scd2_customer"][0](spark, SF).toPandas()
    upd = pdf[pdf["version"] == 2]
    assert len(upd) > 0
    by_key = pdf.groupby("c_custkey")
    for key, g in by_key:
        cur = g[g["is_current"] == 1]
        assert len(cur) == 1, key          # exactly one open row per key
        if len(g) == 2:                    # updated: closed v1 + open v2
            closed = g[g["is_current"] == 0].iloc[0]
            opened = cur.iloc[0]
            assert closed["version"] == 1 and opened["version"] == 2
            # contiguous effective dating: v1 closes where v2 opens
            assert closed["valid_to_day"] == opened["valid_from_day"]
            assert opened["valid_to_day"] == 9999999
    # late-arriving inserts are re-keyed above the dimension key space
    # (offset = 1 + max real key, so no collision at ANY scale tier)
    real_max = pdf[pdf["segment"] != "UNKNOWN"]["c_custkey"].max()
    inserts = pdf[pdf["segment"] == "UNKNOWN"]
    assert (inserts["c_custkey"] > real_max).all()
    assert (inserts["version"] == 1).all()


def test_scd2_emits_versions_via_explode_not_second_join(spark, cat):
    p = _explain(cat["cdc_scd2_customer"][0](spark, SF))
    assert "Generate explode" in p          # both versions from one row
    assert "CartesianProduct" not in p


# -- events_anomaly_mad -------------------------------------------------------

def test_mad_outlier_counts_match_pandas_recompute(spark, cat):
    out = {r["event_type"]: r for r in
           cat["events_anomaly_mad"][0](spark, SF).collect()}
    import pandas as pd
    raw = pd.read_parquet(f"{SF}/events.parquet")
    raw = raw[raw["value"].notna()]
    for et, g in raw.groupby("event_type"):
        vm = (g["value"] * 1000).round().astype("int64")
        med = vm.median()
        dev = (vm - med).abs()
        mad = dev.median()
        n_out = int((dev > 3 * mad).sum())
        r = out[et]
        assert r["n"] == len(vm)
        assert r["med_milli"] == med
        assert r["mad_milli"] == mad
        assert r["n_outliers"] == n_out


# -- gdpr_delete_cascade ------------------------------------------------------

def test_gdpr_cascade_counts_and_broadcast_semi_plan(spark, cat):
    df = cat["gdpr_delete_cascade"][0](spark, SF)
    rows = {r["table_name"]: r for r in df.collect()}
    assert set(rows) == {"customer", "orders", "lineitem"}
    assert rows["customer"]["n_deleted"] > 0
    # every victim key is divisible by 97 — checksum must be too
    assert rows["customer"]["key_checksum"] % 97 == 0
    for r in rows.values():
        assert r["n_deleted"] + r["n_remaining"] > 0
    p = _explain(df)
    # both cascade hops are broadcast semi-joins; the fact tables are
    # never shuffled for the audit
    assert len(re.findall(r"BroadcastHashJoin .*LeftSemi", p)) >= 2
    assert "SortMergeJoin" not in p


# -- incremental_rollup_merge -------------------------------------------------

def test_incremental_merge_equals_full_recompute(spark, cat):
    """Monoid merge of persisted history partials + new-tail partials
    must equal the full recompute — the associativity contract."""
    from datafusion_monoid_spark.pipeline_queries import (
        _events,
        _hourly_partials,
    )
    merged = (cat["incremental_rollup_merge"][0](spark, SF)
              .orderBy("event_type", "hour_bucket").collect())
    full = (_hourly_partials(_events(spark, SF))
            .orderBy("event_type", "hour_bucket").collect())
    assert [tuple(r) for r in merged] == [tuple(r) for r in full]


def test_incremental_serve_prunes_history_from_the_fact_scan(spark, cat):
    """After the artifact exists, the serve plan's events scan must
    carry the tail predicate on the RAW ts column (parquet min/max
    pruning skips historical files at scale)."""
    cat["incremental_rollup_merge"][0](spark, SF)   # ensure artifact
    p = _explain(cat["incremental_rollup_merge"][0](spark, SF),
                 "formatted")
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(ts", p)


# -- basket_pair_lift / events_transition_matrix ------------------------------

def test_basket_pairs_join_on_order_key_only(spark, cat):
    """Pair generation must be the ON-ORDER-KEY self-equi-join (fanout
    bounded by basket size), never an item-item product; the part
    dimension and the count relations broadcast."""
    df = cat["basket_pair_lift"][0](spark, SF)
    p = _explain(df)
    assert "CartesianProduct" not in p
    rows = df.collect()
    for r in rows:
        assert r["item_a"] < r["item_b"]          # canonical pair order
        assert r["pair_cnt"] >= 20                # a-priori prune applied


def test_transition_matrix_rows_are_probability_simplex(spark, cat):
    import pandas as pd
    pdf = cat["events_transition_matrix"][0](spark, SF).toPandas()
    assert len(pdf) > 0
    # each prev-row's probabilities sum to ~1 (floor-division loses
    # < 1 micro-unit per cell)
    for prev, g in pdf.groupby("prev"):
        s = g["p_micro"].sum()
        assert 1_000_000 - len(g) <= s <= 1_000_000
    p = _explain(cat["events_transition_matrix"][0](spark, SF))
    assert "CartesianProduct" not in p


# -- pagerank_neardup_graph ---------------------------------------------------

def test_pagerank_mass_conservation_and_shape(spark, cat):
    pdf = cat["pagerank_neardup_graph"][0](spark, SF01).toPandas()
    n = len(pdf)
    assert n > 0                      # sf0.01 has near-dup structure
    assert (pdf["degree"] >= 1).all()
    assert (pdf["pr_scaled"] > 0).all()
    # total rank mass stays ~1.0 (floor-division loses < 1 unit per
    # node per term, teleport replaces exactly the damped share)
    total = pdf["pr_scaled"].sum()
    assert 0.95 * _PAGERANK_SCALE <= total <= _PAGERANK_SCALE
    # (no hub-vs-leaf rank assertion: the synthetic near-dup graph is
    # clusters of mutual duplicates, so ranks inside a cluster tie to
    # within the floor-division unit)


def test_pagerank_iteration_is_equi_join_partial_agg(spark, cat):
    p = _explain(cat["pagerank_neardup_graph"][0](spark, SF01))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_incremental_rollup_survives_table_growth(spark, tmp_path, cat):
    """The split must be FROZEN with the artifact: after the events
    table grows, the merged read still covers every row (a recomputed
    split would silently drop rows between the frozen and new split)."""
    import pandas as pd

    import shutil

    from datafusion_monoid_spark.pipeline_queries import _artifact_path

    src = pd.read_parquet(f"{SF}/events.parquet").sort_values("ts")
    cut = int(len(src) * 0.9)
    d = tmp_path / "grow"
    (d / "events.parquet").mkdir(parents=True)
    src.iloc[:cut].to_parquet(d / "events.parquet" / "part0.parquet")
    fn = cat["incremental_rollup_merge"][0]
    import pyspark.sql.functions as SF_
    try:
        first = fn(spark, str(d)).agg(SF_.sum("n")).first()[0]
        assert first == cut
        # table GROWS (strictly later rows) and the artifact is reused
        src.iloc[cut:].to_parquet(d / "events.parquet" / "part1.parquet")
        second = fn(spark, str(d)).agg(SF_.sum("n")).first()[0]
        assert second == len(src)      # nothing dropped after growth
    finally:
        # the artifact is keyed by the pytest tmp path — clean it so
        # runs never leak dirs under .artifacts/ or collide with a
        # recycled basetemp name after a /tmp reset
        shutil.rmtree(_artifact_path(str(d), "hourly_rollup"),
                      ignore_errors=True)
