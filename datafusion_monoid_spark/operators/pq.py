"""Product quantization (PQ) for embedding compression + ADC search.

The 100 TB ANN memory story: a 64-dim float32 vector is 256 bytes; its
PQ code — one centroid id per subspace — is m small integers (m=16,
k=16 here: 8 bytes, a 32x compression; production uses k=256 for 1
byte/subspace).  Training is m INDEPENDENT k-means problems over the
subvector slices; search computes, per query, one k x m distance table
against the codebooks and scores every code by TABLE LOOKUP — the
asymmetric distance computation (ADC) of Jegou et al., "Product
Quantization for Nearest Neighbor Search" (TPAMI 2011), followed by
an exact re-rank of the ADC shortlist (their IVFADC+R refinement —
on structureless near-uniform vectors the 4-bit codes alone rank
coarsely; the shortlist recovers recall at the cost of fetching
``shortlist`` real vectors per query).

Everything here is the repo's exact-integer discipline (micro-unit
quantization, BIGINT squared-L2, floor-division means, deterministic
tie-breaks), so a SQL engine replays fit, encode, and search
bit-for-bit — the quantized-Lloyd reproducibility trade extended to
the compressed-domain search.

Distributed shape:
- fit: the per-subspace k-means runs as ONE grouped Lloyd chain — the
  subspace id is a GROUP COLUMN, not a loop, so m=16 codebooks cost
  the same number of shuffles as one k-means (the m x k x subdim
  codebook relation, 1024 ints, broadcasts everywhere).
- encode: map-side join against the broadcast codebook — the corpus
  never shuffles to be encoded.
- search: the per-query distance table is queries x m x k rows
  (bounded by the query batch, not the corpus); ADC scoring is a
  broadcast join + partial-agg sum per (query, vector).  A full-scan
  ADC is shown here; at corpus scale it composes with the existing IVF
  probe pruning (IVFADC) so only probed partitions are scored.

Reference parity note: the reference engine (see
/root/reference/src/monoid.rs) has no vector search; this extends the
pipeline tier mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_monoid_spark.operators.similarity import (
    quantize_micro,
    _sqdist_micro,
)

def micro_identity(col):
    """``micro`` hook for vectors ALREADY in integer micro space (e.g.
    the OPQ tier's Hadamard-rotated micro-ints): the identity, where
    the default hook is ``quantize_micro``."""
    return F.col(col) if isinstance(col, str) else col


PQ_M = 16       # subspaces
PQ_SUBDIM = 4   # dims per subspace (PQ_M * PQ_SUBDIM = embedding dim)
PQ_K = 16       # centroids per subspace (4-bit codes; prod uses 256)
PQ_ITERS = 3    # fixed Lloyd rounds, matching the k-means tier
#: ADC candidates kept for the exact re-rank stage.  Sized from the
#: measured recall-vs-corpus curve on the structureless synthetic
#: vectors (sf0.1, 20 queries): 50 -> 0.83, 100 -> 0.92, 200 -> 0.96
#: recall@5 for ADC+R (IVFADC 0.78 -> 0.90 at nprobe 6), at identical
#: wall time — the re-rank fetches `shortlist` real vectors per query,
#: trivial at any corpus size.  50 was enough at sf0.01 (0.95) but the
#: uniform cell fill dilutes a fixed shortlist as the corpus grows.
PQ_SHORTLIST = 200


def _sub_slices(v, m: int = PQ_M, subdim: int = PQ_SUBDIM):
    """array of m subvector slices of an (already micro-int) array
    column — literal offsets, so a pure projection."""
    return F.array(*[F.slice(v, i * subdim + 1, subdim)
                     for i in range(m)])


def subvectors(df: DataFrame, m: int = PQ_M, subdim: int = PQ_SUBDIM,
               id_col: str = "vec_id", vec_col: str = "embedding"
               ) -> DataFrame:
    """(vec_id, s, sv): micro-int subvector slices, one row per
    (vector, subspace).  The slice list is built with literal offsets
    (m is a constant), so this is a pure projection + posexplode."""
    slices = _sub_slices(quantize_micro(vec_col), m, subdim)
    return df.select(F.col(id_col).alias("vec_id"),
                     F.posexplode(slices).alias("s", "sv"))


def pq_fit(sub: DataFrame, k: int = PQ_K, iters: int = PQ_ITERS,
           ckpt=None) -> DataFrame:
    """(s, cid, cv): per-subspace codebooks after ``iters`` grouped
    Lloyd rounds, seeded from the ``k`` LOWEST vector ids (cid = the
    seed's vec_id — on a dense 0..n-1 corpus identical to the old
    ``vec_id < k`` predicate, but correct on sparse/offset id spaces
    where that predicate silently under-seeded the codebook).  One
    chained plan: per round, assignment joins the subvector
    relation with the BROADCAST codebook on the subspace id (argmin
    exact squared-L2, ties to the lower cid), and the update is a
    posexplode partial-agg floor-division mean per (s, cid, pos) —
    the monoid two-phase shape, grouped by subspace.  Empty clusters
    keep their previous centroid.

    ``ckpt`` (optional, DataFrame -> DataFrame): materializes the
    FINAL codebook (callers pass a tracked ``localCheckpoint``).
    When given, every intermediate round is also checkpointed and the
    superseded round's blocks are released the moment its successor
    materializes (the ``graph.connected_components`` discipline).
    Without it, round r's centroid plan references round r-1 TWICE
    (assignment + the empty-cluster coalesce), so the chained lineage
    re-evaluates the base relation O(2^iters) times wherever the
    result is referenced — fine when ``sub`` is a cheap scan
    projection, pathological when it embeds a fit of its own (the
    round-7 ``pq_ivfadc_residual_topk`` cold sweep: 293 s fused vs
    ~15 s materialized at sf0.1).

    NOTE: on the fused ``ckpt=None`` path the seed-id
    collect below makes this an EAGER call — it runs one Spark job
    over ``sub`` at plan-construction time even if the returned
    DataFrame is never executed.  That is the deliberate price of the
    literal seed (replaying a distinct+sort+limit+join per lineage
    reference costs a shuffle per replay); callers that need a fully
    lazy builder should pass ``ckpt`` (whose seed join stays in-plan
    and whose materializations are explicit)."""
    from datafusion_monoid_spark.plans.inspect import (
        is_checkpoint_scan,
        release_local_checkpoint,
    )

    if ckpt is None:
        # fused (tests-only) path: the whole chain replays O(2^iters)
        # times, so seed from a LITERAL id list (one driver collect of
        # k ids) instead of embedding a distinct+sort+limit+join that
        # would pay a shuffle per replay
        ids = [r[0] for r in (sub.select("vec_id").distinct()
                              .orderBy("vec_id").limit(k).collect())]
        cents = (sub.where(F.col("vec_id").isin(ids))
                 .select("s", F.col("vec_id").alias("cid"),
                         F.col("sv").alias("cv")))
    else:
        seed_ids = (sub.select("vec_id").distinct()
                    .orderBy("vec_id").limit(k))
        cents = (sub.join(F.broadcast(seed_ids), "vec_id")
                 .select("s", F.col("vec_id").alias("cid"),
                         F.col("sv").alias("cv")))
        # iters=0 returns the seed itself: route it through the
        # caller's TRACKED hook so its blocks are releasable (the
        # internal checkpoint below is self-released by the loop)
        if iters == 0:
            return ckpt(cents)
        cents = cents.localCheckpoint(eager=True)
    for i in range(iters):
        assigned = _assign(sub, cents)
        sums = (assigned.select("s", "cid", F.posexplode("sv")
                                .alias("pos", "x"))
                .groupBy("s", "cid", "pos")
                .agg(F.sum("x").alias("sm"), F.count(F.lit(1)).alias("n")))
        means = sums.select(
            "s", "cid", "pos",
            ((F.col("sm") - F.col("sm") % F.col("n")) / F.col("n"))
            .cast("bigint").alias("val"))
        new_cents = (means.groupBy("s", "cid")
                     .agg(F.transform(
                         F.array_sort(F.collect_list(F.struct("pos", "val"))),
                         lambda t: t["val"]).alias("cv")))
        nxt = (cents.select("s", "cid", F.col("cv").alias("__old"))
               .join(new_cents, ["s", "cid"], "left")
               .select("s", "cid", F.coalesce("cv", "__old").alias("cv")))
        if ckpt is not None:
            nxt = (ckpt(nxt) if i == iters - 1
                   else nxt.localCheckpoint(eager=True))
            # releasing the predecessor is only safe once the
            # successor is MATERIALIZED — a lazy ckpt hook would hand
            # back a plan still referencing these blocks;
            # leak-safe beats silently recomputing through freed
            # lineage, so skip the release when the contract is broken
            if is_checkpoint_scan(nxt):
                release_local_checkpoint(cents)
        cents = nxt
    return cents


def _assign(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, s, sv, cid): nearest codebook entry per (vector,
    subspace) — broadcast codebook, argmin (d, cid) via struct-min."""
    d = (sub.join(F.broadcast(cents), "s")
         .select("vec_id", "s", "sv", "cid",
                 _sqdist_micro(F.col("sv"), F.col("cv")).alias("d")))
    return (d.groupBy("vec_id", "s")
            .agg(F.min(F.struct("d", "cid", "sv")).alias("m"))
            .select("vec_id", "s", F.col("m.sv").alias("sv"),
                    F.col("m.cid").alias("cid")))


def pq_codes(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, s, cid): the PQ code relation — the compressed corpus.
    Map-side work only (broadcast codebook join + per-key argmin)."""
    return _assign(sub, cents).select("vec_id", "s", "cid")


def pq_adc_topk(sub: DataFrame, cents: DataFrame, queries_sub: DataFrame,
                k: int = 5) -> DataFrame:
    """(q_id, vec_id, adc_d, rk): exact-integer ADC top-k.

    ``dt`` — the distance table — is queries x m x PQ_K rows (bounded
    by the query batch); ADC scores every coded vector by joining its
    m codes against the broadcast table and summing — one partial-agg
    shuffle on (q_id, vec_id), then a per-query WindowGroupLimit
    top-k.  Ties break on vec_id ascending."""
    from pyspark.sql import Window

    codes = pq_codes(sub, cents)
    dt = (queries_sub.withColumnRenamed("vec_id", "q_id")
          .join(F.broadcast(cents), "s")
          .select("q_id", "s", "cid",
                  _sqdist_micro(F.col("sv"), F.col("cv")).alias("d")))
    adc = (codes.join(F.broadcast(dt), ["s", "cid"])
           .groupBy("q_id", "vec_id")
           .agg(F.sum("d").cast("bigint").alias("adc_d")))
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_d"), F.asc("vec_id"))
    return (adc.withColumn("rk", F.row_number().over(w).cast("int"))
            .where(F.col("rk") <= k))


def pq_rerank(short: DataFrame, corpus: DataFrame, queries: DataFrame,
              k: int = 5, id_col: str = "vec_id",
              vec_col: str = "embedding", micro=None) -> DataFrame:
    """(q_id, vec_id, exact_d, rk): exact re-rank of an ADC shortlist.
    Fetches ONLY the shortlist's real vectors (equi-join on vec_id —
    per-query I/O is the shortlist, not the corpus), exact micro-int
    squared-L2, ties on vec_id; self-matches dropped (tier
    convention)."""
    from pyspark.sql import Window

    micro = micro or quantize_micro
    vm = corpus.select(F.col(id_col).alias("vec_id"),
                       micro(vec_col).alias("__vm"))
    qm = queries.select(F.col(id_col).alias("q_id"),
                        micro(vec_col).alias("__qm"))
    joined = (short.select("q_id", "vec_id")
              .where(F.col("vec_id") != F.col("q_id"))
              .join(vm, "vec_id")
              .join(F.broadcast(qm), "q_id")
              .select("q_id", "vec_id",
                      _sqdist_micro(F.col("__vm"), F.col("__qm"))
                      .alias("exact_d")))
    w = Window.partitionBy("q_id").orderBy(F.asc("exact_d"), F.asc("vec_id"))
    return (joined.withColumn("rk", F.row_number().over(w).cast("int"))
            .where(F.col("rk") <= k))


def pq_adc_rerank_topk(corpus: DataFrame, sub: DataFrame,
                       cents: DataFrame, queries: DataFrame, k: int = 5,
                       shortlist: int = PQ_SHORTLIST,
                       m: int = PQ_M, subdim: int = PQ_SUBDIM,
                       id_col: str = "vec_id", vec_col: str = "embedding"
                       ) -> DataFrame:
    """(q_id, vec_id, exact_d, rk): two-stage ADC + exact re-rank.

    Stage 1 scores the compressed corpus (codes, not floats) and keeps
    ``shortlist`` candidates per query; stage 2 is :func:`pq_rerank`.
    This is the shape a 100 TB store runs: scans touch the
    32x-compressed code relation; full-precision vectors are only ever
    point-looked-up.  ``m``/``subdim`` must describe the geometry of
    ``sub``/``cents`` (the query side re-slices with them:
    a caller with non-default geometry previously got default-sliced
    query subvectors)."""
    # query subvectors straight from the bounded queries relation (not
    # a corpus-scan join) — same quantize+slice path, identical values
    qsub = subvectors(queries, m=m, subdim=subdim,
                      id_col=id_col, vec_col=vec_col)
    short = pq_adc_topk(sub, cents, qsub, k=shortlist)
    return pq_rerank(short, corpus, queries, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# Pretrained serve path: literal codebooks -> map-only encoding
# ---------------------------------------------------------------------------

def codes_expr_sql(codebooks: dict[int, list[tuple[int, list[int]]]],
                   subdim: int = PQ_SUBDIM, elem_prefix: str = "__x"
                   ) -> str:
    """One SQL expression producing the PQ code ARRAY from HOISTED
    element columns ``{elem_prefix}0..{elem_prefix}{dim-1}`` — the
    literal-codebook twin of :func:`pq_codes`.

    Two expression-size/speed tricks, both order-preserving:

    * the squared distance is replaced by its LINEAR form
      ``sum(c_j^2) - 2*sum(x_j*c_j)`` — the dropped ``sum(x_j^2)`` is
      constant across the candidates of one (row, subspace), so every
      pairwise comparison (including ties, hence the cid tie-break)
      is unchanged while the per-candidate work halves;
    * vector elements are projected to plain columns ONCE instead of
      ``element_at`` per occurrence (2 per term x k x m otherwise).

    Per subspace, the argmin over k centroids is an ``array_min`` of
    (score, cid) structs (lexicographic = min score then lowest cid,
    matching the fit's tie-break).  Built as ONE parsed SQL string:
    the Column-tree equivalent costs seconds of plan-build at
    m x k x subdim terms (the lsh ``_projection_sql`` economics)."""
    subs = []
    for s in sorted(codebooks):
        entries = []
        for cid, cv in codebooks[s]:
            c2 = sum(int(c) * int(c) for c in cv)
            dot = " + ".join(
                f"{elem_prefix}{s * subdim + j} * {int(cv[j])}L"
                for j in range(subdim))
            entries.append(
                f"named_struct('d', {c2}L - 2 * ({dot}), "
                f"'cid', {int(cid)}L)")
        subs.append(f"array_min(array({', '.join(entries)})).cid")
    return f"array({', '.join(subs)})"


def hoisted_elems(vec_col, dim: int, elem_prefix: str = "__x") -> list:
    """The element-column projection :func:`codes_expr_sql` expects:
    per-ELEMENT scalar quantization (``round(x*1e6)`` cast bigint —
    bit-identical to :func:`quantize_micro` element-wise) from the RAW
    float vector.  Quantizing scalar-per-element matters: hoisting
    from the array-valued ``transform`` instead lets CollapseProject
    inline a full 64-element lambda into every one of the m x k x
    subdim references downstream — the measured optimizer blow-up."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    v = v.cast("array<double>")
    return [F.round(F.element_at(v, i + 1) * 1_000_000).cast("bigint")
            .alias(f"{elem_prefix}{i}")
            for i in range(dim)]


def pq_encode_pretrained(corpus: DataFrame,
                         codebooks: dict[int, list[tuple[int, list[int]]]],
                         subdim: int = PQ_SUBDIM, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """(vec_id, s, cid): encode the corpus against LITERAL codebooks —
    a map-only projection, no fit stages, no assignment shuffle.

    Returns the ARRAY form ``(vec_id, codes)`` — one giant-but-flat
    Project.  CALLERS MUST MATERIALIZE it (localCheckpoint / persisted
    parquet) before exploding or joining: a ``posexplode`` directly on
    the expression duplicates the full m x k argmin tree into the
    Generate's pushed-down size filter and every downstream rule pass
    (measured: minutes of driver-side optimizer churn at 500 rows),
    while the materialized array relation explodes for free.
    Materializing is also the production semantics — the code relation
    IS the published index; encode once, search many.  Use
    :func:`materialize_codes` for that step: the m x k argmin tree
    compiles past the JVM's 64 KB method limit in WHOLE-STAGE codegen
    (Janino "Code grows beyond 64 KB", measured at m=16), so Spark
    burns seconds on a doomed compile before falling back to
    per-operator codegen — the helper disables whole-stage for just
    the one-time encode job, going straight to the split-capable
    per-expression compiler."""
    dim = len(codebooks) * subdim
    return (corpus
            .select(F.col(id_col).alias("vec_id"),
                    *hoisted_elems(vec_col, dim))
            .select("vec_id",
                    F.expr(codes_expr_sql(codebooks, subdim))
                    .alias("codes")))


from contextlib import contextmanager


@contextmanager
def wholestage_off(spark):
    """Whole-stage codegen OFF for the jobs run inside the block: the
    UNROLLED literal-codebook argmin trees (m x k x subdim multiply
    terms, the ``codes_expr_sql`` form) compile past the JVM's 64 KB
    method limit when fused into one processNext(), so Spark burns
    seconds on a doomed Janino attempt before falling back —
    per-operator codegen splits the expression and compiles fine.
    Used by :func:`materialize_codes` (the one-time serve encode); the
    driver-literal fits do NOT need it — their HOF argmin trees are
    tiny by design (see the literal-fit section note).

    CAVEAT: this mutates the SESSION-global
    ``spark.sql.codegen.wholeStage`` conf — a query submitted
    concurrently on the same SparkSession during the block runs (or
    restores) the wrong codegen mode.  The repo's drivers are
    single-threaded (bench loop, pytest, the round driver), which is
    the assumption this helper encodes; a multi-tenant session would
    need ``setLocalProperty``-scoped configs or a dedicated session."""
    prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", prev)


def materialize_codes(codes: DataFrame) -> DataFrame:
    """localCheckpoint the encode projection with whole-stage codegen
    OFF for just this job (see :func:`pq_encode_pretrained`: the fused
    processNext() exceeds the JVM 64 KB method limit and the failed
    Janino attempt costs seconds; per-operator codegen splits the
    expression and compiles fine)."""
    with wholestage_off(codes.sparkSession):
        return codes.localCheckpoint(eager=True)


def pq_adc_search(codes_arr: DataFrame, corpus: DataFrame,
                  queries: DataFrame,
                  codebooks: dict[int, list[tuple[int, list[int]]]],
                  k: int = 5, shortlist: int = PQ_SHORTLIST,
                  subdim: int = PQ_SUBDIM, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Serve-only ADC+R against a MATERIALIZED array-form code
    relation (see :func:`pq_encode_pretrained`) and its codebooks: the
    per-query distance table joins as a broadcast, one partial-agg
    shuffle scores the codes, and the shortlist re-ranks exactly.
    Bit-identical to the fused fit+search on the same codebooks (same
    argmin tie-breaks), so it shares that oracle."""
    from pyspark.sql import SparkSession, Window

    spark = SparkSession.getActiveSession()
    codes = codes_arr.select(
        "vec_id", F.posexplode("codes").alias("s", "cid"))
    cents = spark.createDataFrame(
        [(s, int(cid), [int(x) for x in cv])
         for s, entries in sorted(codebooks.items())
         for cid, cv in entries],
        "s int, cid bigint, cv array<bigint>")
    qsub = (subvectors(queries, m=len(codebooks), subdim=subdim,
                       id_col=id_col, vec_col=vec_col)
            .withColumnRenamed("vec_id", "q_id"))
    dt = (qsub.join(F.broadcast(cents), "s")
          .select("q_id", "s", "cid",
                  _sqdist_micro(F.col("sv"), F.col("cv")).alias("d")))
    adc = (codes.join(F.broadcast(dt), ["s", "cid"])
           .groupBy("q_id", "vec_id")
           .agg(F.sum("d").cast("bigint").alias("adc_d")))
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_d"), F.asc("vec_id"))
    short = (adc.withColumn("srk", F.row_number().over(w))
             .where(F.col("srk") <= shortlist))
    return pq_rerank(short, corpus, queries, k, id_col, vec_col)


def pq_ivfadc_topk(corpus: DataFrame, sub: DataFrame, cents: DataFrame,
                   coarse_cents: DataFrame, queries: DataFrame,
                   k: int = 5, nprobe: int = 6,
                   shortlist: int = PQ_SHORTLIST,
                   m: int = PQ_M, subdim: int = PQ_SUBDIM,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   codes: DataFrame | None = None,
                   broadcast_candidates: bool = True,
                   coarse_list: list[tuple[int, list[int]]] | None = None,
                   ) -> DataFrame:
    """IVFADC (Jegou et al. 2011, §IV): the coarse quantizer prunes
    WHICH vectors are scored, the product quantizer compresses HOW
    they are scored — composed, this is the production billion-scale
    ANN index (FAISS IndexIVFPQ with raw-vector codes; residual
    encoding — the FAISS default — is the
    :func:`pq_ivfadc_residual_topk` twin, measured +0.03 recall@5 at
    equal probes/bits on the synthetic corpus).

    ``coarse_cents`` is a (s=0, cid, cv) micro-int relation (e.g. the
    quantized-Lloyd centroids).  Corpus vectors assign to their
    nearest coarse cell (broadcast, exact integer argmin — the
    map-side :func:`_assign` on the whole vector); each query probes
    its ``nprobe`` nearest cells, and ONLY vectors in probed cells
    reach the ADC stage — at 100 TB this is what turns the full code
    scan into a cells-proportional read.  ADC shortlist + exact
    re-rank as in :func:`pq_adc_topk`.

    ``m``/``subdim`` must describe the geometry of ``sub``/``cents``
    (the query side re-slices with them).  ``codes``: a
    prebuilt (vec_id, s, cid) code relation (e.g. a materialized
    :func:`pq_codes_literal`); when given, ``sub`` may be None and no
    assignment join runs — the literal-fit entries pass their encoded
    artifact here."""
    from pyspark.sql import Window

    if coarse_list is not None:
        # the fused entries hold the coarse centroids as driver
        # literals already — assign the corpus with the Arrow->NumPy
        # kernel (guide §4.2) instead of the interpreted-HOF broadcast
        # join; bit-identical argmin (exact int64, (d, cid) tie-break)
        from datafusion_monoid_spark.operators import npkernels as npk
        whole_q = corpus.select(F.col(id_col).alias("vec_id"),
                                quantize_micro(vec_col).alias("__xv"))
        assigned = npk.coarse_assign_np(whole_q, coarse_list)
    else:
        whole = corpus.select(F.col(id_col).alias("vec_id"),
                              F.lit(0).alias("s"),
                              quantize_micro(vec_col).alias("sv"))
        assigned = (_assign(whole, coarse_cents)
                    .select("vec_id", F.col("cid").alias("ccid")))
    # query vectors come straight from the (bounded) queries relation
    # — re-deriving them via a corpus join would pay a second full
    # scan for rows the caller already has
    qd = (queries.select(F.col(id_col).alias("q_id"), F.lit(0).alias("s"),
                         quantize_micro(vec_col).alias("sv"))
          .join(F.broadcast(coarse_cents), "s")
          .select("q_id", "cid",
                  _sqdist_micro(F.col("sv"), F.col("cv")).alias("d")))
    wq = Window.partitionBy("q_id").orderBy(F.asc("d"), F.asc("cid"))
    probes = (qd.withColumn("rn", F.row_number().over(wq))
              .where(F.col("rn") <= nprobe)
              .select("q_id", F.col("cid").alias("ccid")))
    cands = (assigned.join(F.broadcast(probes), "ccid")
             .select("q_id", "vec_id"))
    if codes is None:
        codes = pq_codes(sub, cents)
    dt = (subvectors(queries, m=m, subdim=subdim,
                     id_col=id_col, vec_col=vec_col)
          .withColumnRenamed("vec_id", "q_id")
          .join(F.broadcast(cents), "s")
          .select("q_id", "s", "cid",
                  _sqdist_micro(F.col("sv"), F.col("cv")).alias("d")))
    # the candidate relation is |queries| x nprobe x mean cell
    # occupancy — SUB-corpus (occupancy = corpus / k_coarse, and
    # production sizes k_coarse ~ sqrt(corpus)) but NOT constant in
    # corpus size; the broadcast keeps the 32x-compressed code
    # relation map-side and is right while
    # queries x nprobe x occupancy fits the broadcast budget — at a
    # scale where it does not, pass broadcast_candidates=False to let
    # the planner shuffle codes and candidates on vec_id instead
    # (a flag, not a code edit)
    cj = F.broadcast(cands) if broadcast_candidates else cands
    adc = (codes.join(cj, "vec_id")
           .join(F.broadcast(dt), ["q_id", "s", "cid"])
           .groupBy("q_id", "vec_id")
           .agg(F.sum("d").cast("bigint").alias("adc_d")))
    ws = Window.partitionBy("q_id").orderBy(F.asc("adc_d"),
                                            F.asc("vec_id"))
    short = (adc.withColumn("srk", F.row_number().over(ws))
             .where(F.col("srk") <= shortlist))
    return pq_rerank(short, corpus, queries, k, id_col, vec_col)


def residual_vectors(corpus: DataFrame, coarse_cents: DataFrame,
                     id_col: str = "vec_id", vec_col: str = "embedding"
                     ) -> DataFrame:
    """(vec_id, ccid, rv): each vector's coarse-cell assignment and its
    RESIDUAL ``x - coarse_centroid(x)`` in exact micro-int space — the
    quantity IVFADC actually product-quantizes (Jegou et al. 2011
    §IV.B; the FAISS IndexIVFPQ default).  Broadcast coarse argmin +
    one zip_with projection: the corpus never shuffles."""
    whole = corpus.select(F.col(id_col).alias("vec_id"),
                          F.lit(0).alias("s"),
                          quantize_micro(vec_col).alias("sv"))
    assigned = _assign(whole, coarse_cents)
    return (assigned.join(F.broadcast(coarse_cents), ["s", "cid"])
            .select("vec_id", F.col("cid").alias("ccid"),
                    F.zip_with("sv", "cv", lambda a, b: a - b)
                    .alias("rv")))


def residual_subvectors(resid: DataFrame, m: int = PQ_M,
                        subdim: int = PQ_SUBDIM) -> DataFrame:
    """(vec_id, s, sv): subvector slices of the residual relation's
    ``rv`` column — :func:`subvectors` for already-residualized
    micro-int vectors (pure projection + posexplode)."""
    return resid.select("vec_id",
                        F.posexplode(_sub_slices(F.col("rv"), m, subdim))
                        .alias("s", "sv"))


def pq_ivfadc_residual_topk(corpus: DataFrame, coarse_cents: DataFrame,
                            queries: DataFrame, k: int = 5,
                            nprobe: int = 6,
                            shortlist: int = PQ_SHORTLIST,
                            m: int = PQ_M, subdim: int = PQ_SUBDIM,
                            kq: int = PQ_K, iters: int = PQ_ITERS,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            ckpt=None,
                            broadcast_candidates: bool = True
                            ) -> DataFrame:
    """IVFADC with RESIDUAL encoding (Jegou et al. 2011 §IV.B — the
    FAISS IndexIVFPQ default, lifting the raw-vector simplification of
    :func:`pq_ivfadc_topk`).  Retained as the LIBRARY-LEVEL fused API:
    the catalog entry composes :func:`kmeans_fit_literal` +
    :func:`pq_fit_literal` + :func:`ivfadc_residual_search` directly
    (the driver-literal job economics); this DataFrame-chained form is
    the self-contained one-call variant for library users and shares
    :func:`ivfadc_residual_search` — and therefore bit-identical
    results — with that path.  The product quantizer trains on and
    codes
    ``x - coarse_centroid(x)``, whose energy is the within-cell spread
    rather than the absolute position, so the same code budget buys
    finer resolution and higher recall at equal bits.

    Query side, per PROBED cell: the query's residual against THAT
    cell's centroid builds the distance table, i.e. dt is keyed
    (q_id, ccid, s, cid) — |queries| x nprobe x m x k rows, bounded by
    the query batch, broadcast.  Candidates come only from probed
    cells; the candidate and table relations broadcast so the
    32x-compressed code relation stays map-side (the
    :func:`pq_ivfadc_topk` plan discipline).  Exact-integer start to
    finish (residuals are differences of micro-ints), so a SQL engine
    replays coarse fit, residuals, PQ fit, codes, probe, ADC, and both
    rank stages bit-for-bit.  ADC shortlist + exact re-rank as
    everywhere in the tier.

    ``ckpt`` (optional, DataFrame -> DataFrame, e.g. a tracked
    ``localCheckpoint``): materializes the residual relation and the
    residual codebooks.  Unlike the raw-code twin — whose subvector
    base is a pure scan projection — every re-reference of THIS
    chain's base replays the coarse k-means fit plus a corpus
    assignment, and the fused plan references it O(2^iters) times
    through the Lloyd lineage (measured 293 s vs ~15 s at sf0.1, the
    round-7 cold sweep).  Production would persist both as index
    artifacts anyway; pass None only for small-data correctness
    tests."""
    mk = ckpt if ckpt is not None else (lambda df: df)
    resid = mk(residual_vectors(corpus, coarse_cents, id_col, vec_col))
    rsub = residual_subvectors(resid, m, subdim)
    cents = pq_fit(rsub, k=kq, iters=iters, ckpt=ckpt)
    codes = pq_codes(rsub, cents)
    cells = resid.select("vec_id", "ccid")
    return ivfadc_residual_search(
        corpus, coarse_cents, cents, codes, cells, queries, k=k,
        nprobe=nprobe, shortlist=shortlist, m=m, subdim=subdim,
        id_col=id_col, vec_col=vec_col,
        broadcast_candidates=broadcast_candidates)


def ivfadc_residual_search(corpus: DataFrame, coarse_cents: DataFrame,
                           cents: DataFrame, codes: DataFrame,
                           cells: DataFrame, queries: DataFrame,
                           k: int = 5, nprobe: int = 6,
                           shortlist: int = PQ_SHORTLIST,
                           m: int = PQ_M, subdim: int = PQ_SUBDIM,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           broadcast_candidates: bool = True,
                           micro=None) -> DataFrame:
    """The QUERY side of residual IVFADC over prebuilt index relations
    — what a serve deployment runs against the published artifacts:
    ``coarse_cents`` (s=0, cid, cv), ``cents`` (the residual PQ
    codebooks, (s, cid, cv)), ``codes`` ((vec_id, s, cid) — the
    compressed corpus) and ``cells`` ((vec_id, ccid) — the inverted
    lists).  Shared verbatim by the fused fit+search entry
    (:func:`pq_ivfadc_residual_topk`), so both paths are bit-identical
    by construction and share one oracle.

    Probe: nprobe nearest coarse cells per query, and the query's
    PER-CELL residual (the distance table must be built against each
    probed cell's centroid, not the nearest one only).  The candidate
    and table relations broadcast so the code relation stays map-side
    — right while |queries| x nprobe x cell occupancy fits the
    broadcast budget (occupancy = corpus / k_coarse: SUB-corpus, not
    constant; at a scale past the budget, drop the hint and shuffle
    codes/candidates on vec_id)."""
    from pyspark.sql import Window

    # query vectors straight from the bounded queries relation — not
    # a corpus-scan join re-deriving rows the caller already has
    micro = micro or quantize_micro
    qwhole = queries.select(F.col(id_col).alias("q_id"),
                            F.lit(0).alias("s"),
                            micro(vec_col).alias("qv"))
    qd = (qwhole.join(F.broadcast(coarse_cents), "s")
          .select("q_id", F.col("cid").alias("ccid"),
                  _sqdist_micro(F.col("qv"), F.col("cv")).alias("d"),
                  F.zip_with("qv", "cv", lambda a, b: a - b).alias("qr")))
    wq = Window.partitionBy("q_id").orderBy(F.asc("d"), F.asc("ccid"))
    probes = (qd.withColumn("rn", F.row_number().over(wq))
              .where(F.col("rn") <= nprobe)
              .select("q_id", "ccid", "qr"))
    qrs = probes.select("q_id", "ccid",
                        F.posexplode(_sub_slices(F.col("qr"), m, subdim))
                        .alias("s", "sv"))
    dt = (qrs.join(F.broadcast(cents), "s")
          .select("q_id", "ccid", "s", "cid",
                  _sqdist_micro(F.col("sv"), F.col("cv")).alias("d")))
    cands = (cells.join(F.broadcast(probes.select("q_id", "ccid")),
                        "ccid")
             .select("q_id", "ccid", "vec_id"))
    # candidate broadcast bound: |queries| x nprobe x cell occupancy —
    # sub-corpus, NOT constant; past the broadcast budget pass
    # broadcast_candidates=False and shuffle on vec_id
    cj = F.broadcast(cands) if broadcast_candidates else cands
    adc = (codes.join(cj, "vec_id")
           .join(F.broadcast(dt), ["q_id", "ccid", "s", "cid"])
           .groupBy("q_id", "vec_id")
           .agg(F.sum("d").cast("bigint").alias("adc_d")))
    ws = Window.partitionBy("q_id").orderBy(F.asc("adc_d"),
                                            F.asc("vec_id"))
    short = (adc.withColumn("srk", F.row_number().over(ws))
             .where(F.col("srk") <= shortlist))
    return pq_rerank(short, corpus, queries, k, id_col, vec_col,
                     micro=micro)


# ---------------------------------------------------------------------------
# Driver-literal Lloyd fits — "fewer, wider jobs" for the fused entries
# ---------------------------------------------------------------------------
#
# The checkpointed DataFrame-chained fits (pq_fit / kmeans_lloyd_
# quantized) cost one materialization JOB per Lloyd round, each with a
# broadcast build plus three shuffle stages — ~1-2 s of scheduling
# constants per round at sf0.1, ~16 s across the two fits of the fused
# residual entry.  The literal path is the MLlib KMeans shape instead:
# centroids live on the DRIVER as plain integer lists (k x dim ints —
# bytes), each round is ONE job (scan -> literal-centroid argmin ->
# posexplode -> partial-agg sums -> collect k x dim rows) and the
# update is exact Python integer math, bit-identical to the in-plan
# floor-division update.  At 100 TB the per-round corpus work is
# strictly LESS than the chained form (no broadcast exchange, no
# centroid join, one k*dim-group shuffle) and the collected state is
# k x dim integers regardless of corpus size.
#
# Expression shape matters here: an UNROLLED literal argmin (the
# codes_expr_sql form — k x dim multiply terms) is a new plan every
# round, and Catalyst + Janino spend ~4.5 s per NEW giant-projection
# plan (measured; re-running the same plan costs 0.35 s).  So the
# literal fits build TINY trees instead: the codebook is one literal
# array-of-structs (ConstantFolding collapses it to a single Literal)
# and the argmin is array_min(transform(...)) with an
# aggregate(zip_with(...)) squared-L2 — higher-order functions whose
# lambdas are interpreted, which is the right trade for a per-row
# k x dim integer loop (no 64 KB codegen cliff, nothing to recompile
# per round).


def _truncdiv(s: int, n: int) -> int:
    """Truncate-toward-zero integer division — exactly Spark's
    ``(s - s % n) / n`` on BIGINT (Java remainder keeps the dividend's
    sign, so the subtraction truncates toward zero; Python's ``//``
    floors, differing on negative sums)."""
    return s // n if s >= 0 else -((-s) // n)


def kmeans_fit_literal(df: DataFrame, k: int = 8, iters: int = 3,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding", micro=None
                       ) -> list[tuple[int, list[int]]]:
    """Quantized-Lloyd k-means returning the centroids as DRIVER
    literals ``[(cid, [micro-int]*dim), ...]`` sorted by cid —
    bit-identical to ``similarity.kmeans_lloyd_quantized`` (same seeds:
    the k lowest ids; same argmin tie-break on (d, cid); same exact
    floor-division update; empty clusters keep their previous centroid)
    at one JOB per round instead of one checkpointed multi-stage plan
    per round.  Seeds are quantized JVM-side (collect of
    ``quantize_micro``) so the round-half-up semantics are exactly
    Spark's.  Each round's job: scan -> literal argmin -> posexplode ->
    map-side partial agg into k x dim groups -> collect k x dim rows."""
    from datafusion_monoid_spark.operators import npkernels as npk

    micro = micro or quantize_micro
    seeds = (df.select(F.col(id_col).alias("__vid"),
                       micro(vec_col).alias("__v"))
             .orderBy("__vid").limit(k).collect())
    cents = [(int(r["__vid"]), [int(x) for x in r["__v"]]) for r in seeds]
    if not cents:
        return cents
    base = df.select(micro(vec_col).alias("__xv"))
    for _ in range(iters):
        # per-round partials via the Arrow->NumPy kernel (optimization
        # guide §4.2): the interpreted HOF argmin + posexplode plan was
        # ~10 s single-core CPU per round at sf0.1 — the kernel emits
        # the SAME (cid, pos, sm, n) partial relation (exact int64,
        # identical (d, cid) tie-break) at one vectorized evaluation
        # per Arrow batch; shuffle and driver update are unchanged
        sums_df = (npk.lloyd_partials(base, cents)
                   .groupBy("cid", "pos")
                   .agg(F.sum("sm").alias("sm"),
                        F.sum("n").alias("n")))
        rows = {(int(r["cid"]), int(r["pos"])): r
                for r in sums_df.collect()}
        cents = [(cid,
                  [_truncdiv(int(rows[(cid, p)]["sm"]),
                             int(rows[(cid, p)]["n"]))
                   for p in range(len(old))]
                  if (cid, 0) in rows else old)
                 for cid, old in cents]
    return cents


def residual_vectors_literal(corpus: DataFrame,
                             cent_list: list[tuple[int, list[int]]],
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             micro=None) -> DataFrame:
    """(vec_id, ccid, rv): :func:`residual_vectors` against LITERAL
    coarse centroids — a pure map-side projection (no assignment join,
    no shuffle), with the per-row interpreted argmin + zip_with
    replaced by the Arrow->NumPy kernel (guide §4.2; exact int64,
    identical (d, cid) tie-break)."""
    from datafusion_monoid_spark.operators import npkernels as npk

    micro = micro or quantize_micro
    assert [c for c, _ in cent_list] == sorted(c for c, _ in cent_list), \
        "cent_list must be sorted by cid"
    q = corpus.select(F.col(id_col).alias("vec_id"),
                      micro(vec_col).alias("__xv"))
    return npk.residuals_np(q, cent_list)


def pq_fit_literal(resid: DataFrame, k: int = PQ_K, iters: int = PQ_ITERS,
                   m: int = PQ_M, subdim: int = PQ_SUBDIM
                   ) -> dict[int, list[tuple[int, list[int]]]]:
    """Grouped-Lloyd PQ fit over a (vec_id, rv) relation — residuals
    for the residual tier, or quantized RAW vectors for raw-code PQ —
    returning the codebooks as DRIVER literals ``{s: [(cid, cv), ...]}``
    — bit-identical to :func:`pq_fit` on :func:`residual_subvectors`
    of the same relation (same k-lowest-id seeds, argmin tie-break,
    floor-division update, empty-cluster carry) at one JOB per round:
    all m subspaces share each round's single scan -> literal argmin ->
    (s, cid, pos) partial-agg pass, and the collected state is
    m x k x subdim integers."""
    from datafusion_monoid_spark.operators import npkernels as npk

    seeds = resid.select("vec_id", "rv").orderBy("vec_id").limit(k).collect()
    books = {s: [(int(r["vec_id"]),
                  [int(x) for x in r["rv"][s * subdim:(s + 1) * subdim]])
                 for r in seeds]
             for s in range(m)}
    for _ in range(iters):
        # Arrow->NumPy round kernel (guide §4.2) — same (s, cid, pos,
        # sm, n) partial relation as the exploded interpreted-argmin
        # plan, exact int64, all m subspaces sharing one batch pass
        sums_df = (npk.pq_lloyd_partials(resid, books, m, subdim)
                   .groupBy("s", "cid", "pos")
                   .agg(F.sum("sm").alias("sm"),
                        F.sum("n").alias("n")))
        rows = {(int(r["s"]), int(r["cid"]), int(r["pos"])): r
                for r in sums_df.collect()}
        books = {s: [(cid,
                      [_truncdiv(int(rows[(s, cid, p)]["sm"]),
                                 int(rows[(s, cid, p)]["n"]))
                       for p in range(subdim)]
                      if (s, cid, 0) in rows else old)
                     for cid, old in entries]
                 for s, entries in books.items()}
    return books


def pq_codes_literal(resid: DataFrame,
                     codebooks: dict[int, list[tuple[int, list[int]]]],
                     m: int = PQ_M, subdim: int = PQ_SUBDIM) -> DataFrame:
    """(vec_id, s, cid): encode a (vec_id, rv) relation (residuals or
    quantized raw vectors) against LITERAL codebooks — a pure
    map-side projection, no join, no shuffle; the :func:`pq_codes`
    twin for driver-literal codebooks.  The per-(row, subspace)
    interpreted argmin runs as the Arrow->NumPy kernel (guide §4.2;
    exact int64, identical (d, cid) tie-break)."""
    from datafusion_monoid_spark.operators import npkernels as npk

    return npk.pq_codes_np(resid, codebooks, m, subdim)
