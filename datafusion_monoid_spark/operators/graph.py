"""Connected components — near-dup pairs -> dedup clusters.

Pairwise similarity output (MinHash/SimHash/cosine) is not yet a dedup
decision: transitively connected docs form ONE cluster with one kept
representative.  That is connected components over the candidate-pair
graph.

Implementation: iterative minimum-label propagation with POINTER
JUMPING — each round every vertex takes the min label in its
neighborhood, then labels compress through themselves
(label := label(label)), which halves chain lengths and gives
O(log diameter) convergence instead of O(diameter).  Each round is hash
joins + a groupBy min (all partial-agg safe: min is the monoid), with a
driver-side convergence check on a sum(label) monoid fingerprint (labels
are monotonically non-increasing, so an unchanged sum IS the fixed
point — one cheap aggregate instead of a join+count per round).
Checkpointing truncates the lineage each round (iterative-plan hygiene).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_monoid_spark.plans.inspect import release_local_checkpoint


def connected_components(edges: DataFrame, src: str = "id_a", dst: str = "id_b",
                         max_iter: int = 20, track=None) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min
    node id reachable.  Deterministic.

    Every superseded round's checkpoint self-releases, but the FINAL
    label checkpoint backs the returned DataFrame and must outlive it —
    pass ``track`` (e.g. ``queries._track_ckpt``) to hand that one
    frame to the caller's release discipline so a long sweep frees it
    once the result is consumed."""
    bidir = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .cache()
    )
    labels = (
        bidir.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # convergence via a MONOID FINGERPRINT: labels only ever decrease
    # under min-propagation, so sum(label) strictly decreases until the
    # fixed point — equal sums round-over-round <=> no label changed.
    # One partial-agg job per round instead of a join + count.
    prev_fp: int | None = None
    for _ in range(max_iter):
        # min label over self + neighbors
        nbr = (
            bidir.join(labels.withColumnRenamed("node", "v"), "v")
            .select(F.col("u").alias("node"), "label")
        )
        merged = (
            labels.unionByName(nbr)
            .groupBy("node").agg(F.min("label").alias("label"))
        )
        # pointer jumping: label := label(label)  (labels form a forest
        # pointing at smaller ids, so the lookup always resolves)
        parent = merged.select(F.col("node").alias("p_node"),
                               F.col("label").alias("p_label"))
        # LAZY localCheckpoint + fingerprint agg = ONE job per round
        # (the eager form ran a checkpoint job AND
        # a fingerprint job every round): the agg action materializes
        # the checkpoint blocks as its side effect — the documented
        # eager=False contract — and computes the convergence sum in
        # the same pass.
        new_labels = (
            merged.join(parent, merged.label == parent.p_node, "left")
            .select("node",
                    F.coalesce("p_label", "label").alias("label"))
        ).localCheckpoint(eager=False)
        fp = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
        # the PREVIOUS round's checkpoint blocks are dead once the new
        # round is materialized — release them instead of letting 20
        # rounds of label tables pile up until the ContextCleaner GCs
        # (at scale each round's table is corpus-sized)
        if labels is not new_labels:
            release_local_checkpoint(labels)
        labels = new_labels
        if fp == prev_fp:
            break
        prev_fp = fp
    bidir.unpersist()
    if track is not None:
        track(labels)
    return labels.select("node", F.col("label").alias("component"))


def triangle_stats(edges: DataFrame, a: str = "a", b: str = "b"
                   ) -> DataFrame:
    """One-row (n_nodes, n_edges, n_wedges, n_triangles, cc_micro):
    exact triangle census + global clustering coefficient
    (3T / wedges, exact integer micro-units).

    Degree-ordered orientation (Suri & Vassilvitskii, WWW'11): every
    edge points from its lower-(degree, id) endpoint to the higher, so
    each triangle is generated by exactly ONE wedge at its
    lowest-ranked vertex and per-vertex wedge fan-out is bounded by
    oriented out-degree — O(sqrt(m)) on any graph — instead of raw
    degree: a hot star hub generates ZERO wedges rather than deg^2.
    Three shuffles: degree count, wedge self-join on the apex, closing
    edge equi-join.  Input must be canonical undirected edges
    (a < b, distinct)."""
    e = edges.select(F.col(a).alias("a"), F.col(b).alias("b"))
    deg = (e.select(F.col("a").alias("v"))
           .unionAll(e.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("d")))
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ranked = e.join(da, "a").join(db, "b")
    fwd = F.struct("da", "a") < F.struct("db", "b")
    oriented = ranked.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.struct(F.col("db").alias("rd"),
                             F.col("b").alias("rv")))
         .otherwise(F.struct(F.col("da").alias("rd"),
                             F.col("a").alias("rv"))).alias("dst"))
    o1 = oriented.select("src", F.col("dst").alias("d1"))
    o2 = oriented.select(F.col("src").alias("src2"),
                         F.col("dst").alias("d2"))
    wedges = (o1.join(o2, F.col("src") == F.col("src2"))
              .where(F.col("d1") < F.col("d2"))
              .select(F.col("d1.rv").alias("w1"),
                      F.col("d2.rv").alias("w2")))
    closing = oriented.select(F.col("src").alias("w1"),
                              F.col("dst.rv").alias("w2"))
    tri = wedges.join(closing, ["w1", "w2"]).agg(
        F.count(F.lit(1)).alias("t"))
    stats = (deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("bigint")
        .alias("n_wedges"))
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(tri)))
    return stats.select(
        "n_nodes", "n_edges", "n_wedges",
        F.col("t").cast("bigint").alias("n_triangles"),
        _exact_idiv(3 * F.col("t") * 1_000_000,
                    F.greatest(F.col("n_wedges"), F.lit(1)))
        .alias("cc_micro"))


def _exact_idiv(num, den):
    """Exact integer floor division via the exactly-divisible
    identity (see curation.micro_ratio) — cross-engine-stable."""
    a = num.cast("bigint")
    return ((a - a % den) / den).cast("bigint")


def kcore_stats(edges: DataFrame, ks: tuple[int, ...] = (2, 3),
                rounds: int = 2, a: str = "a", b: str = "b") -> DataFrame:
    """(k, n_core_nodes, n_core_edges) per requested k: the k-core —
    the maximal subgraph where every vertex keeps degree >= k — via
    iterative peeling (degree count -> drop under-k vertices -> drop
    their edges), ``rounds`` times per k.  The peel is monotone and
    idempotent at the fixpoint, so any rounds >= the convergence depth
    yields the exact k-core; the catalog pins fixpoint-at-rounds in
    pytest against a driver-side reference peel at every shipped SF,
    and production swaps the fixed count for the same
    monoid-fingerprint convergence loop as
    :func:`connected_components`.

    Cost discipline (measured: the first cut spent 7.3 s at sf0.1 on
    pure per-round scheduling): ``ks`` must be ascending — each k
    peels FROM the previous k's core (the nesting identity: the
    (k+1)-core of G is the (k+1)-core of the k-core), so the heavier
    peels run on already-shrunk relations; and only the END of each
    k's peel materializes (one localCheckpoint per k — it is both the
    reuse point for the node/edge counts and the base of the next
    chain), not every round.  Each k's checkpoint is released the
    moment its successor is materialized and the LAST one as soon as
    its two scalar counts are read (the per-k
    blocks are candidate-graph sized and a sweep leaks them per
    entry), so the function exits with ZERO dangling storage blocks —
    the scalar (k, nodes, edges) rows travel as driver literals, the
    same pattern as ``connected_components``'s per-round release.
    Each round is one degree partial-agg + two semi-joins over the
    candidate-graph relation — never the corpus.  Input must be
    canonical undirected edges (a < b, distinct)."""
    assert list(ks) == sorted(ks), "ks must be ascending (core nesting)"
    spark = edges.sparkSession
    alive = edges.select(F.col(a).alias("a"), F.col(b).alias("b"))
    prev_ckpt: DataFrame | None = None
    rows: list[tuple[int, int, int]] = []
    for k in ks:
        for _ in range(rounds):
            deg = (alive.select(F.col("a").alias("v"))
                   .unionAll(alive.select(F.col("b").alias("v")))
                   .groupBy("v").agg(F.count(F.lit(1)).alias("c")))
            keep = deg.where(F.col("c") >= k).select("v")
            alive = (alive
                     .join(keep.withColumnRenamed("v", "a"), "a",
                           "left_semi")
                     .join(keep.withColumnRenamed("v", "b"), "b",
                           "left_semi"))
        # LAZY checkpoint: the counts action below materializes the
        # blocks in the same job (one job per k
        # instead of checkpoint + counts).  The PREVIOUS k's blocks
        # are released only AFTER that action: this k's peel lineage
        # reads them, and a local checkpoint is unrecoverable once
        # released.
        alive = alive.localCheckpoint(eager=False)
        counts = (alive.select(F.col("a").alias("v"))
                  .unionAll(alive.select(F.col("b").alias("v")))
                  .agg(F.count_distinct("v").alias("n"))
                  .crossJoin(alive.agg(F.count(F.lit(1)).alias("m")))
                  .first())
        if prev_ckpt is not None:
            release_local_checkpoint(prev_ckpt)
        prev_ckpt = alive
        rows.append((k, int(counts["n"]), int(counts["m"])))
    if prev_ckpt is not None:
        release_local_checkpoint(prev_ckpt)
    return spark.createDataFrame(
        rows, "k bigint, n_core_nodes bigint, n_core_edges bigint")
