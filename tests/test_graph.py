"""Connected components: fixtures incl. chains, cycles, singleton edges."""

import pytest

from datafusion_monoid_spark.operators.graph import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {r["node"]: r["component"] for r in connected_components(df).collect()}


def test_chain_merges_transitively(spark):
    # 1-2, 2-3, 3-4: one cluster labeled by min id
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_disjoint_clusters_and_cycle(spark):
    got = _cc(spark, [(5, 6), (6, 7), (7, 5), (10, 11), (20, 21)])
    assert got[5] == got[6] == got[7] == 5
    assert got[10] == got[11] == 10
    assert got[20] == got[21] == 20


def test_long_chain_converges(spark):
    n = 30
    got = _cc(spark, [(i, i + 1) for i in range(n)])
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_keep_best_plan_is_partial_argmax(spark):
    """The per-cluster representative selection must plan as a
    partial-aggregation max_by (map-side combine), not a window
    sort — the shape that survives clusters of any size."""
    from datafusion_monoid_spark import pipeline_queries as qcat

    df = qcat.catalog()["dedup_cluster_keep_best"][0](
        spark, "/root/testdata/sf0.001")
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert "partial_max_by" in p
    assert "Window" not in p


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_kcore_two_rounds_reaches_true_fixpoint(spark, sf):
    """The catalog pins 2 peel rounds per k (each k peeling from the
    previous core); prove that is >= the convergence depth at EVERY
    shipped SF by re-peeling driver-side to TRUE fixpoint."""
    from datafusion_monoid_spark.pipeline_queries import _cascade_edges
    from datafusion_monoid_spark.operators.graph import kcore_stats
    edges = _cascade_edges(spark, f"/root/testdata/sf{sf}")
    got = {r["k"]: (r["n_core_nodes"], r["n_core_edges"])
           for r in kcore_stats(edges, ks=(2, 3), rounds=2).collect()}
    raw = {(r["a"], r["b"]) for r in edges.collect()}
    for k in (2, 3):
        cur = set(raw)
        while True:
            from collections import Counter
            deg = Counter()
            for a, b in cur:
                deg[a] += 1
                deg[b] += 1
            keep = {v for v, c in deg.items() if c >= k}
            nxt = {(a, b) for a, b in cur if a in keep and b in keep}
            if nxt == cur:
                break
            cur = nxt
        nodes = {v for ed in cur for v in ed}
        assert got[k] == (len(nodes), len(cur)), (k, sf, got[k])


def test_kcore_is_monotone_in_k(spark):
    """Core sizes must be non-increasing in k (3-core within 2-core)."""
    from datafusion_monoid_spark.pipeline_queries import graph_kcore_sizes
    rows = {r["k"]: r for r in
            graph_kcore_sizes(spark, "/root/testdata/sf0.001").collect()}
    assert rows[3]["n_core_nodes"] <= rows[2]["n_core_nodes"]
    assert rows[3]["n_core_edges"] <= rows[2]["n_core_edges"]
