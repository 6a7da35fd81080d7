"""Similarity search over embedding columns (ARRAY<FLOAT>).

Three tiers, all partial-aggregation-shaped for 100 TB:

* :func:`brute_force_topk` — exact cosine top-k, pure Catalyst
  expressions.  The oracle tier.
* :func:`brute_force_topk_np` — exact top-k, Arrow-batched NumPy matmul
  via ``mapInPandas``: corpus stays partitioned, the (small) query set is
  broadcast, each partition emits its LOCAL top-k and a window takes the
  global top-k — a monoid-style partial/final split (top-k is an
  associative, commutative reduction), so it scales with corpus size.
* :func:`lsh_bucket_topk` / :func:`ivf_topk` — approximate tiers:
  random-hyperplane LSH buckets (deterministic md5-derived planes,
  multi-probe on Hamming-1 neighbors) and IVF with deterministic
  centroids (lowest-id vectors), ``nprobe`` nearest partitions searched.
  Candidates only — never the full cross product.  Recall is measured
  against the brute-force tier in tests, not assumed.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datafusion_monoid_spark.functions.vector import cosine_similarity


def _ranked_topk(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, cand_id, sim) -> top-k per query, deterministic
    tie-break on cand_id."""
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "cand_id", F.round("sim", 3).alias("sim"))
    )


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k, expression-level (JVM, codegen).

    The query side is broadcast; the corpus is never shuffled for the
    join.  Use for small query sets / oracle checks."""
    c = corpus.select(F.col(id_col).alias("cand_id"),
                      F.col(vec_col).cast("array<double>").alias("cvec"))
    q = F.broadcast(queries.select(F.col(id_col).alias("query_id"),
                                   F.col(vec_col).cast("array<double>").alias("qvec")))
    pairs = c.crossJoin(q).where(F.col("query_id") != F.col("cand_id")).select(
        "query_id", "cand_id",
        cosine_similarity(F.col("qvec"), F.col("cvec")).alias("sim"))
    return _ranked_topk(pairs, k)


def brute_force_topk_np(corpus: DataFrame, queries: DataFrame, k: int = 5,
                        id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k at throughput: NumPy matmul per Arrow batch.

    Per-partition local top-k (bounded output: |queries| x k rows per
    partition) then a global window — the same partial/final discipline
    as the monoid core."""
    # the ONE driver-side collect in the operator library: the query SET
    # (small by contract — it becomes a broadcast matrix every executor
    # holds in RAM); the corpus side streams through mapInPandas unbounded
    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows])
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
    spark = corpus.sparkSession
    bq = spark.sparkContext.broadcast((qids, qmat))

    def part_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat = bq.value
        for pdf in batches:
            cids = pdf[id_col].to_numpy()
            cmat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
            sims = mat @ cmat.T                      # |Q| x |batch|
            kk = min(k + 1, sims.shape[1])           # +1: self-match removed later
            idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            out = {
                "query_id": np.repeat(ids, kk),
                "cand_id": cids[idx].ravel(),
                "sim": np.take_along_axis(sims, idx, axis=1).ravel(),
            }
            yield pd.DataFrame(out)

    local = corpus.select(id_col, vec_col).mapInPandas(
        part_topk, schema="query_id long, cand_id long, sim double")
    return _ranked_topk(local.where(F.col("query_id") != F.col("cand_id")), k)


def hard_negative_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                       margin: float = 0.95, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       label_col: str = "label") -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: for
    each labeled anchor, the top-k most-similar vectors with a
    DIFFERENT label, after dropping candidates whose similarity
    exceeds ``margin`` x the anchor's best SAME-label similarity (the
    standard denoising guard — a "negative" nearly as close as the
    positive is more likely a mislabeled positive than a useful
    training signal, so it is excluded rather than promoted).

    Scale shape: the anchor set is small by contract (it becomes a
    broadcast on every executor — the same contract as
    :func:`brute_force_topk`); the corpus is scanned twice and never
    materialized as pairs — pass 1 reduces the same-label pairs to one
    ``pos_sim`` row per anchor (partial-agg max, broadcast back), pass
    2 streams the cross-label pairs through the margin filter into the
    per-anchor top-k window.  That window shuffles the filtered
    |corpus| x |anchors| pair relation — the expression/oracle-tier
    contract, same as :func:`brute_force_topk`; use
    :func:`hard_negative_topk_np` for production anchor sets, which
    bounds the window input with a per-batch local top-k.  Recomputing
    the scan beats checkpointing the pair relation, which is 20x the
    corpus here.  Anchors with no same-label candidate have no defined
    margin and are dropped by the join (the mining contract: you mine
    negatives for anchors that HAVE a positive)."""
    c = corpus.select(F.col(id_col).alias("cand_id"),
                      F.col(label_col).alias("neg_label"),
                      F.col(vec_col).cast("array<double>").alias("cvec"))
    q = F.broadcast(queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("qlab"),
        F.col(vec_col).cast("array<double>").alias("qvec")))
    pairs = (c.crossJoin(q)
             .where(F.col("query_id") != F.col("cand_id"))
             .select("query_id", "qlab", "cand_id", "neg_label",
                     cosine_similarity(F.col("qvec"),
                                       F.col("cvec")).alias("sim")))
    pos = (pairs.where(F.col("qlab") == F.col("neg_label"))
           .groupBy("query_id").agg(F.max("sim").alias("pos_sim")))
    neg = (pairs.where(F.col("qlab") != F.col("neg_label"))
           .join(F.broadcast(pos), "query_id")
           .where(F.col("sim") < F.lit(margin) * F.col("pos_sim")))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               F.col("cand_id"))
    return (neg.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "cand_id", "neg_label",
                    F.round("sim", 3).alias("sim")))


def hard_negative_topk_np(corpus: DataFrame, queries: DataFrame, k: int = 5,
                          margin: float = 0.95, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          label_col: str = "label") -> DataFrame:
    """:func:`hard_negative_topk` at throughput — the production shape
    for the same semantics (shared oracle): the margin ceiling and the
    anchor matrix broadcast, then each Arrow batch scores with one
    NumPy matmul, masks same-label / self / over-margin candidates,
    and emits its LOCAL top-k per anchor — so the global window ranks
    <= batches x |anchors| x k rows instead of shuffling the filtered
    |corpus| x |anchors| pair relation.  The per-anchor ``pos_sim``
    still comes from a full expression-level reduction over the corpus
    (negatives must clear the margin against the anchor's TRUE best
    positive, wherever it lives), collected as one |anchors|-row
    bounded artifact."""
    qrows = queries.select(id_col, label_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows])
    qlabs = np.array([r[1] for r in qrows])
    qmat = np.array([r[2] for r in qrows], dtype=np.float64)
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)

    c = corpus.select(F.col(id_col).alias("cand_id"),
                      F.col(label_col).alias("clab"),
                      F.col(vec_col).cast("array<double>").alias("cvec"))
    q = F.broadcast(queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("qlab"),
        F.col(vec_col).cast("array<double>").alias("qvec")))
    pos_rows = (c.crossJoin(q)
                .where((F.col("query_id") != F.col("cand_id"))
                       & (F.col("qlab") == F.col("clab")))
                .select("query_id",
                        cosine_similarity(F.col("qvec"),
                                          F.col("cvec")).alias("sim"))
                .groupBy("query_id")
                .agg(F.max("sim").alias("pos_sim"))).collect()
    posmap = {r["query_id"]: r["pos_sim"] for r in pos_rows}
    keep = np.array([qid in posmap for qid in qids])
    qids, qlabs, qmat = qids[keep], qlabs[keep], qmat[keep]
    ceil = np.array([margin * posmap[qid] for qid in qids])
    spark = corpus.sparkSession
    bq = spark.sparkContext.broadcast((qids, qlabs, qmat, ceil))

    def part_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, labs, mat, cl = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf[id_col].to_numpy()
            clabs = pdf[label_col].to_numpy()
            cmat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
            sims = mat @ cmat.T
            masked = ((labs[:, None] == clabs[None, :])
                      | (ids[:, None] == cids[None, :])
                      | (sims >= cl[:, None]))
            sims = np.where(masked, -2.0, sims)
            kk = min(k, sims.shape[1])
            idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            out = pd.DataFrame({
                "query_id": np.repeat(ids, kk),
                "cand_id": cids[idx].ravel(),
                "neg_label": clabs[idx].ravel(),
                "sim": np.take_along_axis(sims, idx, axis=1).ravel(),
            })
            yield out[out["sim"] > -1.5]

    local = corpus.select(id_col, label_col, vec_col).mapInPandas(
        part_topk,
        schema="query_id long, cand_id long, neg_label int, sim double")
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               F.col("cand_id"))
    return (local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "cand_id", "neg_label",
                    F.round("sim", 3).alias("sim")))


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------

DEFAULT_DIM = 64  # the testdata embeddings dimension


def plane_weights(n_planes: int, dim: int = DEFAULT_DIM,
                  seed: str = "") -> list[list[float]]:
    """Deterministic pseudo-random hyperplane weights in [-1, 1).

    ``w[p][i] = (md5("{seed}{p}:{i}")[:15 hex] % 2001 - 1000) / 1000`` —
    pure Python constants, computed ONCE at plan-build time and inlined
    as literals (no per-row hashing on the cluster), and reproducible in
    any engine so DuckDB oracles can rebuild the identical planes."""
    out = []
    for p in range(n_planes):
        out.append([
            (int(hashlib.md5(f"{seed}{p}:{i}".encode()).hexdigest()[:15], 16)
             % 2001 - 1000) / 1000.0
            for i in range(dim)
        ])
    return out


def _projection_sql(v_sql: str, weights: list[float]) -> str:
    """Projection of a vector onto literal plane weights as an
    aggregate/zip_with fold, built as ONE parser call instead of
    thousands of py4j Column constructions.  Plan build runs on the
    driver per query execution; for the 32-plane LSH tree the py4j
    round-trips alone cost ~4 s per run (measured), the parsed string
    ~0.2 s.  ``repr(w)`` round-trips the exact IEEE double."""
    arr = "array(" + ", ".join(repr(w) for w in weights) + ")"
    return (f"aggregate(zip_with({v_sql}, {arr}, (x, w) -> x * w), "
            f"cast(0.0 as double), (acc, t) -> acc + t)")


def _bucket_sql(v_sql: str, ws: list[list[float]]) -> str:
    """Sign-bit bucket of projections onto ``ws`` planes, as SQL."""
    bits = [
        f"(CASE WHEN {_projection_sql(v_sql, w)} >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p, w in enumerate(ws)
    ]
    return "cast((" + " + ".join(bits) + ") as bigint)"


def lsh_band_buckets(df: DataFrame, n_tables: int = 8,
                     planes_per_table: int = 4,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     dim: int = DEFAULT_DIM) -> DataFrame:
    """(vec_id, vec, table_idx, bucket): banded hyperplane LSH.

    ``n_tables`` independent hash tables of ``planes_per_table`` sign
    bits each — a pair is a candidate when it collides in ANY table
    (the OR-construction): P(candidate) = 1 - (1 - p^r)^b for
    per-plane agreement p, so near-dup recall stays high while each
    table's bucket count (2^r per table) keeps the self-join
    subquadratic.  The near-dup analogue of MinHash banding."""
    v_sql = f"cast({vec_col} as array<double>)"
    tables = [
        _bucket_sql(v_sql, plane_weights(planes_per_table, dim, seed=f"t{t}|"))
        for t in range(n_tables)
    ]
    return df.select(
        F.col(id_col).alias("vec_id"), F.expr(v_sql).alias("vec"),
        F.posexplode(F.expr("array(" + ", ".join(tables) + ")"))
         .alias("table_idx", "bucket"))


def lsh_candidate_pairs(df: DataFrame, n_tables: int = 8,
                        planes_per_table: int = 4,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        dim: int = DEFAULT_DIM) -> DataFrame:
    """(id_a, id_b, vec_a, vec_b): distinct candidate pairs colliding in
    at least one LSH table — an equi-join on (table_idx, bucket), never
    an all-pairs product."""
    b = lsh_band_buckets(df, n_tables, planes_per_table, id_col, vec_col, dim)
    slim = b.select("vec_id", "table_idx", "bucket")
    l, r = slim.alias("l"), slim.alias("r")
    pairs = (
        l.join(r, (F.col("l.table_idx") == F.col("r.table_idx"))
               & (F.col("l.bucket") == F.col("r.bucket"))
               & (F.col("l.vec_id") < F.col("r.vec_id")))
        .select(F.col("l.vec_id").alias("id_a"), F.col("r.vec_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = b.select("vec_id", "vec").dropDuplicates(["vec_id"])
    va = vecs.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = vecs.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vec_b"))
    return pairs.join(va, "id_a").join(vb, "id_b")


def lsh_bucket_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                    n_tables: int = 8, planes_per_table: int = 4,
                    multiprobe: bool = True,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    dim: int = DEFAULT_DIM) -> DataFrame:
    """ANN top-k via banded hyperplane LSH (OR over ``n_tables`` tables
    of ``planes_per_table`` sign bits), Hamming-1 multiprobe on the query
    side, exact cosine re-rank on candidates only.

    Collision probability for per-plane agreement p is
    ``1 - (1 - (p^r + r*p^(r-1)*(1-p)))^b`` with multiprobe — high
    recall without ever forming the full cross product."""
    csig = lsh_band_buckets(corpus, n_tables, planes_per_table,
                            id_col, vec_col, dim) \
        .withColumnRenamed("vec_id", "cand_id").withColumnRenamed("vec", "cvec")
    qsig = lsh_band_buckets(queries, n_tables, planes_per_table,
                            id_col, vec_col, dim) \
        .withColumnRenamed("vec_id", "query_id").withColumnRenamed("vec", "qvec")
    if multiprobe:
        probes = F.array(F.col("bucket"), *[
            F.col("bucket").bitwiseXOR(F.lit(1 << p))
            for p in range(planes_per_table)])
        qsig = qsig.select("query_id", "qvec", "table_idx",
                           F.explode(probes).alias("bucket"))
    pairs = (
        F.broadcast(qsig).join(csig, ["table_idx", "bucket"])
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id",
                cosine_similarity(F.col("qvec"), F.col("cvec")).alias("sim"))
        .dropDuplicates(["query_id", "cand_id"])
    )
    return _ranked_topk(pairs, k)


# ---------------------------------------------------------------------------
# IVF with deterministic centroids
# ---------------------------------------------------------------------------

def ivf_assign(corpus: DataFrame, n_centroids: int = 32,
               id_col: str = "vec_id", vec_col: str = "embedding",
               centroids: DataFrame | None = None) -> DataFrame:
    """Assign every vector to its nearest centroid.

    Default centroids are the ``n_centroids`` lowest-id vectors —
    deterministic, no iterative clustering; pass ``centroids``
    (cent_id, cent ARRAY<DOUBLE>) to use learned ones (e.g.
    :func:`kmeans_lloyd_quantized` output, de-quantized) — the search
    path is unchanged either way."""
    cent = F.broadcast(
        _default_centroids(corpus, n_centroids, id_col, vec_col)
        if centroids is None else centroids)
    v = corpus.select(F.col(id_col).alias("cand_id"),
                      F.col(vec_col).cast("array<double>").alias("cvec"))
    d = v.crossJoin(cent).select(
        "cand_id", "cvec", "cent_id",
        cosine_similarity(F.col("cvec"), F.col("cent")).alias("csim"))
    # argmax via max_by over (csim, -cent_id): partial-aggregation-capable,
    # no window shuffle+sort; ties break to the LOWEST cent_id.  cvec is
    # constant within the group, so any_value carries it through.
    return d.groupBy("cand_id").agg(
        F.any_value(F.col("cvec")).alias("cvec"),
        F.max_by(F.col("cent_id"),
                 F.struct(F.col("csim"), (-F.col("cent_id")).alias("neg")))
         .alias("cent_id"),
    ).select("cand_id", "cvec", "cent_id")


def _default_centroids(corpus: DataFrame, n_centroids: int,
                       id_col: str, vec_col: str) -> DataFrame:
    return (corpus.where(F.col(id_col) < n_centroids)
            .select(F.col(id_col).alias("cent_id"),
                    F.col(vec_col).cast("array<double>").alias("cent")))


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_centroids: int = 32, nprobe: int = 8,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: DataFrame | None = None) -> DataFrame:
    """IVF ANN: search only the nprobe nearest centroid partitions."""
    if centroids is None:
        centroids = _default_centroids(corpus, n_centroids, id_col, vec_col)
    assigned = ivf_assign(corpus, n_centroids, id_col, vec_col, centroids)
    cent = F.broadcast(centroids)
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qvec"))
    qc = q.crossJoin(cent).select(
        "query_id", "qvec", "cent_id",
        cosine_similarity(F.col("qvec"), F.col("cent")).alias("csim"))
    w = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cent_id"))
    probes = qc.withColumn("rn", F.row_number().over(w)) \
               .where(F.col("rn") <= nprobe).select("query_id", "qvec", "cent_id")
    pairs = (
        F.broadcast(probes).join(assigned, "cent_id")
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id",
                cosine_similarity(F.col("qvec"), F.col("cvec")).alias("sim"))
    )
    return _ranked_topk(pairs, k)


def _lit_arr_sql(vec: list[float]) -> str:
    """Literal double-array SQL — ``repr`` round-trips the exact IEEE
    double (same contract as lsh ``_projection_sql``)."""
    return "array(" + ", ".join(repr(float(x)) for x in vec) + ")"


def _dot_sql(a: str, b: str) -> str:
    """SQL twin of :func:`functions.vector.dot` — the identical
    sequential fold, so string-built and Column-built plans produce
    bit-identical doubles."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * "
            f"cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)")


def ivf_assign_pretrained(corpus: DataFrame,
                          cent_list: list[tuple[int, list[float]]],
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """The INDEX half of the pretrained serve path: (cand_id, cvec,
    cvn, cent_id) via the map-only literal-centroid assignment.  Build
    once, persist/checkpoint, then serve many query batches against it
    (:func:`ivf_search_pretrained`) — the corpus-side work leaves the
    per-batch path entirely."""
    return _pretrained_parts(corpus, cent_list, id_col, vec_col,
                             side="corpus")


def ivf_search_pretrained(assigned: DataFrame, queries: DataFrame,
                          cent_list: list[tuple[int, list[float]]],
                          k: int = 5, nprobe: int = 8,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """The SEARCH half: probe the ``nprobe`` nearest centroid
    partitions of a prebuilt :func:`ivf_assign_pretrained` relation and
    re-rank candidates with the carried norms.  Per query batch the
    only corpus-side work is the broadcast-probe join."""
    probes = _pretrained_parts(queries, cent_list, id_col, vec_col,
                               side="query", nprobe=nprobe)
    pairs = (
        F.broadcast(probes).join(assigned, "cent_id")
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id",
                (F.expr(_dot_sql("qvec", "cvec"))
                 / (F.col("qvn") * F.col("cvn"))).alias("sim"))
    )
    return _ranked_topk(pairs, k)


def _pretrained_parts(df: DataFrame,
                      cent_list: list[tuple[int, list[float]]],
                      id_col: str, vec_col: str,
                      side: str = "corpus", nprobe: int = 8) -> DataFrame:
    """Shared literal-centroid projection for both halves — see
    :func:`ivf_topk_pretrained` for the plan rationale."""
    cent_ids = [int(c) for c, _ in cent_list]
    assert cent_ids == sorted(cent_ids), "centroids must be sorted by id"
    nprobe = min(nprobe, len(cent_list))

    import math as _math

    def _py_norm(vec: list[float]) -> float:
        acc = 0.0
        for x in vec:
            acc += float(x) * float(x)
        return _math.sqrt(acc)

    structs = ", ".join(
        f"struct(-(({_dot_sql('__v', _lit_arr_sql(vec))}) / "
        f"(__vn * {_py_norm(vec)!r})) AS negsim, "
        f"{int(cid)}L AS cid)"
        for cid, vec in cent_list)
    ranked = f"array_sort(array({structs}))"

    cv_sql = f"cast({vec_col} as array<double>)"
    base = df.select(
        F.col(id_col).alias("__id"), F.expr(cv_sql).alias("__v"),
        F.expr(f"sqrt({_dot_sql(cv_sql, cv_sql)})").alias("__vn"))
    if side == "corpus":
        return base.select(
            F.col("__id").alias("cand_id"), F.col("__v").alias("cvec"),
            F.col("__vn").alias("cvn"),
            F.expr(f"element_at({ranked}, 1).cid").alias("cent_id"))
    return base.select(
        F.col("__id").alias("query_id"), F.col("__v").alias("qvec"),
        F.col("__vn").alias("qvn"),
        F.expr(f"explode(transform(slice({ranked}, 1, {nprobe}), "
               f"s -> s.cid))").alias("cent_id"))


def ivf_topk_pretrained(corpus: DataFrame, queries: DataFrame,
                        cent_list: list[tuple[int, list[float]]],
                        k: int = 5, nprobe: int = 8,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """IVF search against LITERAL (persisted) centroids — the serve
    half of the fit/serve split, planned for zero assignment shuffle.

    :func:`ivf_topk` assigns via crossJoin + partial-agg argmax because
    its centroids are a DataFrame.  When the index artifact is already
    driver-side (k x dim floats — broadcast-sized by construction), the
    nearest-centroid argmax becomes a pure PROJECTION: an inlined
    ``array_position(sims, array_max(sims))`` over a literal sims array,
    so corpus assignment is map-only — scan → project → broadcast-join →
    project, with the per-query top-k window as the ONLY exchange.  At
    100 TB that deletes a full corpus shuffle per query batch; at sf0.1
    it halves the serve wall-clock (measured 2.0 → <1 s).

    Tie-breaks match :func:`ivf_assign` exactly: ``array_position``
    returns the FIRST maximal sim = lowest cent_id (centroids are passed
    sorted by id), and probe order sorts on (-sim, cent_id) — so the
    fused and pretrained entries replay the same oracle bit-for-bit.
    """
    cent_ids = [int(c) for c, _ in cent_list]
    assert cent_ids == sorted(cent_ids), "centroids must be sorted by id"
    nprobe = min(nprobe, len(cent_list))

    # Implementation notes (shared by the split halves above):
    # * centroid norms are Python constants — acc += x*x in list order
    #   is the identical IEEE left fold as the SQL aggregate and sqrt
    #   is correctly rounded in both, so the inlined |c| is
    #   bit-identical to computing sqrt(dot(c,c)) in-plan at zero
    #   per-row cost;
    # * the sorted (-sim, cid) struct array replays the exact
    #   ivf_assign / probe-window tie-break (sim desc, lowest cid);
    # * everything is built as ONE parsed SQL string — the 8 x
    #   64-literal cosine trees through the py4j Column API cost ~2.7 s
    #   of plan build PER CALL (measured at sf0.1), the parsed string
    #   ~0.1 s (the lsh _projection_sql economics);
    # * the row vector's norm is hoisted to a previous-select alias
    #   (CollapseProject keeps non-cheap aliases referenced k times
    #   un-inlined), so each centroid costs ONE fold, and the re-rank
    #   reuses the carried norms — dot/(qvn*cvn), one fold per pair.
    assigned = ivf_assign_pretrained(corpus, cent_list, id_col, vec_col)
    return ivf_search_pretrained(assigned, queries, cent_list, k, nprobe,
                                 id_col, vec_col)


# ---------------------------------------------------------------------------
# Deterministic quantized k-means (Lloyd) — an ITERATIVE algorithm that
# still hash-matches a SQL oracle: every step is exact integer math
# (micro-unit vectors, squared-L2 in BIGINT, floor-division means), so
# any engine that unrolls the same iterations reproduces the centroids
# bit-for-bit.  The float version of Lloyd's is notoriously
# partitioning-dependent (sum order changes means); quantization is
# what buys reproducibility-at-scale here, the same trade the exact
# monoid centroid numerator (queries.monoid_embedding_sum) makes.
# ---------------------------------------------------------------------------

def quantize_micro(vec_col: str = "embedding") -> F.Column:
    """float vector -> BIGINT micro-units (round half-up, exact)."""
    return F.transform(F.col(vec_col).cast("array<double>"),
                       lambda x: F.round(x * 1_000_000).cast("bigint"))


def _sqdist_micro(a, b) -> F.Column:
    """Exact squared L2 between micro-int vectors (fits BIGINT:
    64 dims x (2e6)^2 = 2.6e14 << 2^63)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0).cast("bigint"), lambda acc, t: acc + t)


def kmeans_lloyd_quantized(df: DataFrame, k: int = 8, iters: int = 3,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           ckpt=None) -> DataFrame:
    """(cid, pos, val): centroids after ``iters`` Lloyd rounds, seeded
    from the first ``k`` vectors by id.

    Per round: assignment = argmin exact squared-L2 against the
    BROADCAST centroids (k x dim integers — always broadcastable;
    the corpus is never shuffled for assignment), tie-break on cid;
    update = per-(cid, pos) floor-division mean of exact integer sums
    (posexplode + partial agg — the monoid two-phase shape); empty
    clusters keep their previous centroid.  Iteration count is FIXED
    (not convergence-tested): deterministic work, and each round is a
    full lineage checkpointable stage at scale.

    Execution (optimization round r13): the rounds run through
    :func:`pq.kmeans_fit_literal` — the MLlib shape whose
    bit-identity to the previous DataFrame-chained rounds is pinned in
    tests — whose per-round assignment/partial-sum pass is the
    Arrow->NumPy kernel (``operators/npkernels.py``, guide §4.2).
    The previous chained form evaluated the argmin as interpreted HOF
    lambdas (~10 s single-core CPU per round at sf0.1) and paid one
    localCheckpoint job per round; the literal path is one map-side
    kernel job per round and k x dim integers on the driver.  The
    final (cid, pos, val) relation is a driver-local table (k x dim
    rows — bytes at any corpus scale).

    ``ckpt`` (optional, DataFrame -> DataFrame): materializes the
    FINAL centroid relation through the caller's (tracked) hook, kept
    for contract compatibility."""
    from datafusion_monoid_spark.operators.pq import kmeans_fit_literal

    spark = df.sparkSession
    cents = kmeans_fit_literal(df, k=k, iters=iters,
                               id_col=id_col, vec_col=vec_col)
    rows = [(int(cid), int(pos), int(val))
            for cid, cv in cents for pos, val in enumerate(cv)]
    out = spark.createDataFrame(rows, "cid bigint, pos int, val bigint")
    return ckpt(out) if ckpt is not None else out
