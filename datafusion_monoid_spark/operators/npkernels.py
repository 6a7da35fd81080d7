"""Arrow->NumPy kernels for the vector-quantization hot loops.

Why this module exists (optimization guide §4.2): the fit/encode inner
loops of the k-means / PQ tier were expressed as Catalyst higher-order
functions (``aggregate(zip_with(...))`` squared-L2, ``array_min`` over
``transform(<literal codebook>, ...)`` argmins).  HOF lambdas are
interpreted row-at-a-time — they do not participate in whole-stage
codegen — and the measured cost at sf0.1 was ~10 s of single-core CPU
per Lloyd round for 2 000 x 64 vectors x 8 centroids (~1M lambda
evals), i.e. the fits were CPU-bound in expression interpretation, not
in I/O, shuffle, or scheduling (AQE/shuffle-partition knobs moved a
round by <5%; ``coalesce(1)`` blew it up 10x, proving compute-bound).

The kernels here keep EXACTLY the distributed shape the literal fits
already had — one map-side pass per Lloyd round emitting k x dim
partial sums, a tiny partial-agg shuffle, a k x dim driver collect —
and only replace the per-row interpreted expression with one vectorized
int64 NumPy evaluation per Arrow batch.  Everything stays EXACT 64-bit
integer math, bit-identical to the expression form:

* squared-L2 in int64 (micro-unit vectors: 64 dims x (2e6)^2 = 2.6e14
  per term, x dim << 2^63 — same bound the expression form documents);
* argmin tie-break on (d, cid) == NumPy first-minimum over centroid
  rows sorted ascending by cid (asserted);
* partial sums int64, combined by Spark's BIGINT sum (same overflow
  envelope as the previous posexplode + sum plan);
* the floor-division centroid update stays on the driver, unchanged.

Only the vector column crosses the JVM->Python boundary (callers
project first — guide §4.1), and each task's work is one matmul-sized
NumPy evaluation per batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame


def _list_to_2d(col: pa.Array | pa.ChunkedArray, dim: int) -> np.ndarray:
    """(n, dim) int64 view of an Arrow list<int64> column (no nulls,
    fixed-length rows — the quantized-vector contract)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    off = col.offsets.to_numpy()
    if len(off) > 1 and (np.diff(off) == dim).all():
        flat = col.values.to_numpy()
        return flat[off[0]:off[-1]].reshape(len(col), dim)
    # ragged/fallback path (not expected for quantized vectors)
    return np.stack(col.to_numpy(zero_copy_only=False)).astype(np.int64)


def _sqdist_matrix(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(n, k) EXACT int64 squared-L2 distances — expanded form
    ||x||^2 - 2 x.c + ||c||^2 so the heavy term is one int64 matmul;
    identical values to the per-pair loop (int arithmetic is exact,
    and the magnitudes stay far inside int64, see module docstring)."""
    xx = np.einsum("ij,ij->i", x, x)
    cc = np.einsum("ij,ij->i", c, c)
    return xx[:, None] - 2 * (x @ c.T) + cc[None, :]


def _assert_sorted_cids(cids: list[int]) -> None:
    assert list(cids) == sorted(cids), (
        "centroid list must ascend by cid: NumPy first-minimum argmin "
        "reproduces the (d, cid) tie-break only in that order")


def lloyd_partials(base: DataFrame, cents: list[tuple[int, list[int]]],
                   vec_col: str = "__xv") -> DataFrame:
    """(cid, pos, sm, n) per-batch partial sums of one Lloyd round:
    assign each vector to its nearest centroid (exact int argmin,
    (d, cid) tie-break) and emit the per-cluster element-wise sums and
    counts — the same map-side partial relation the posexplode plan
    produced, at one NumPy evaluation per Arrow batch."""
    _assert_sorted_cids([c for c, _ in cents])
    c_arr = np.asarray([cv for _, cv in cents], dtype=np.int64)
    cids = np.asarray([c for c, _ in cents], dtype=np.int64)
    k, dim = c_arr.shape

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # accumulate across ALL of the task's batches and emit one
        # k x dim partial — fewer rows into the combine shuffle than
        # per-batch emission (k x dim x n_tasks total, the same bound
        # the old posexplode partial aggregation converged to)
        sums = np.zeros((k, dim), dtype=np.int64)
        counts = np.zeros(k, dtype=np.int64)
        seen = False
        for b in batches:
            if b.num_rows == 0:
                continue
            seen = True
            x = _list_to_2d(b.column(0), dim)
            amin = _sqdist_matrix(x, c_arr).argmin(axis=1)
            np.add.at(sums, amin, x)
            counts += np.bincount(amin, minlength=k)
        if not seen:
            return
        nz = counts > 0
        kk = int(nz.sum())
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.repeat(cids[nz], dim), type=pa.int64()),
             pa.array(np.tile(np.arange(dim, dtype=np.int32), kk),
                      type=pa.int32()),
             pa.array(sums[nz].reshape(-1), type=pa.int64()),
             pa.array(np.repeat(counts[nz], dim), type=pa.int64())],
            names=["cid", "pos", "sm", "n"])

    return (base.select(vec_col)
            .mapInArrow(gen, "cid long, pos int, sm long, n long"))


def pq_lloyd_partials(resid: DataFrame,
                      books: dict[int, list[tuple[int, list[int]]]],
                      m: int, subdim: int,
                      vec_col: str = "rv") -> DataFrame:
    """(s, cid, pos, sm, n) partial sums of one grouped-Lloyd PQ round
    over a (.., rv) relation — all m subspaces share each batch's one
    NumPy evaluation (the same shared-scan shape the exploded plan
    had)."""
    for s in sorted(books):
        _assert_sorted_cids([c for c, _ in books[s]])
    # (m, k, subdim) codebook tensor + (m, k) cid matrix
    c_arr = np.asarray([[cv for _, cv in books[s]] for s in sorted(books)],
                       dtype=np.int64)
    cid_arr = np.asarray([[c for c, _ in books[s]] for s in sorted(books)],
                         dtype=np.int64)
    _, k, _ = c_arr.shape
    dim = m * subdim

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # per-task accumulation (see lloyd_partials)
        sums = np.zeros((m, k, subdim), dtype=np.int64)
        counts = np.zeros((m, k), dtype=np.int64)
        seen = False
        for b in batches:
            if b.num_rows == 0:
                continue
            seen = True
            x = _list_to_2d(b.column(0), dim).reshape(-1, m, subdim)
            for s in range(m):
                xs = x[:, s, :]
                amin = _sqdist_matrix(xs, c_arr[s]).argmin(axis=1)
                np.add.at(sums[s], amin, xs)
                counts[s] += np.bincount(amin, minlength=k)
        if not seen:
            return
        nz = counts > 0                       # (m, k)
        s_idx, k_idx = np.nonzero(nz)
        yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(s_idx.astype(np.int32), subdim),
                          type=pa.int32()),
                 pa.array(np.repeat(cid_arr[s_idx, k_idx], subdim),
                          type=pa.int64()),
                 pa.array(np.tile(np.arange(subdim, dtype=np.int32),
                                  len(s_idx)), type=pa.int32()),
                 pa.array(sums[s_idx, k_idx].reshape(-1), type=pa.int64()),
                 pa.array(np.repeat(counts[s_idx, k_idx], subdim),
                          type=pa.int64())],
                names=["s", "cid", "pos", "sm", "n"])

    return (resid.select(vec_col)
            .mapInArrow(gen, "s int, cid long, pos int, sm long, n long"))


def pq_codes_np(resid: DataFrame,
                books: dict[int, list[tuple[int, list[int]]]],
                m: int, subdim: int,
                id_col: str = "vec_id",
                vec_col: str = "rv") -> DataFrame:
    """(vec_id, s, cid) PQ encode against driver-literal codebooks —
    the :func:`pq.pq_codes_literal` projection with the per-(row, s)
    interpreted argmin replaced by one NumPy evaluation per batch.
    Same exact math and (d, cid) tie-break."""
    for s in sorted(books):
        _assert_sorted_cids([c for c, _ in books[s]])
    c_arr = np.asarray([[cv for _, cv in books[s]] for s in sorted(books)],
                       dtype=np.int64)
    cid_arr = np.asarray([[c for c, _ in books[s]] for s in sorted(books)],
                         dtype=np.int64)
    dim = m * subdim

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = b.column(0).to_numpy(zero_copy_only=False)
            x = _list_to_2d(b.column(1), dim).reshape(n, m, subdim)
            codes = np.empty((n, m), dtype=np.int64)
            for s in range(m):
                amin = _sqdist_matrix(x[:, s, :], c_arr[s]).argmin(axis=1)
                codes[:, s] = cid_arr[s][amin]
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(ids, m), type=pa.int64()),
                 pa.array(np.tile(np.arange(m, dtype=np.int32), n),
                          type=pa.int32()),
                 pa.array(codes.reshape(-1), type=pa.int64())],
                names=["vec_id", "s", "cid"])

    return (resid.select(id_col, vec_col)
            .mapInArrow(gen, "vec_id long, s int, cid long"))


def coarse_assign_np(corpus_quant: DataFrame,
                     cent_list: list[tuple[int, list[int]]],
                     id_col: str = "vec_id",
                     vec_col: str = "__xv") -> DataFrame:
    """(vec_id, ccid): nearest-centroid assignment of an
    (already-quantized) vector relation against driver-literal
    centroids — the map-side coarse assignment of the IVFADC searches
    with the per-(row, centroid) interpreted squared-L2 replaced by one
    NumPy evaluation per batch (guide §4.2).  Exact int64, (d, cid)
    tie-break preserved (ascending-cid first-minimum)."""
    _assert_sorted_cids([c for c, _ in cent_list])
    c_arr = np.asarray([cv for _, cv in cent_list], dtype=np.int64)
    cids = np.asarray([c for c, _ in cent_list], dtype=np.int64)
    _, dim = c_arr.shape

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            ids = b.column(0).to_numpy(zero_copy_only=False)
            x = _list_to_2d(b.column(1), dim)
            amin = _sqdist_matrix(x, c_arr).argmin(axis=1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()),
                 pa.array(cids[amin], type=pa.int64())],
                names=["vec_id", "ccid"])

    return (corpus_quant.select(id_col, vec_col)
            .mapInArrow(gen, "vec_id long, ccid long"))


def rotate_signs_np(quant: DataFrame, signs: list[list[int]],
                    id_col: str = "vec_id",
                    vec_col: str = "__q") -> DataFrame:
    """(vec_id, embedding): multiply each (already micro-quantized)
    int64 vector by a literal +/-1 sign matrix — the OPQ randomized-
    Hadamard pre-rotation as ONE int64 matmul per Arrow batch instead
    of 64 interpreted ``aggregate(zip_with(...))`` folds per row
    (guide §4.2; the rotation was the expression-side leg that kept
    ``pq_opq_ivfadc_topk`` flat while its siblings gained from the
    kernels).

    Exactness: y_i = sum_j signs[i][j] * q_j is a sum of int64 terms
    with |y_i| <= dim * 2e6 — integer addition is associative and
    exact, so the NumPy matmul is bit-identical to the expression
    fold in any evaluation order.  Quantization itself stays a Spark
    expression upstream (``similarity.quantize_micro``) so the
    round-half-up semantics are exactly Spark's."""
    s_arr = np.asarray(signs, dtype=np.int64)
    dim = s_arr.shape[1]

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = b.column(0).to_numpy(zero_copy_only=False)
            x = _list_to_2d(b.column(1), dim)
            y = x @ s_arr.T
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()),
                 pa.array(list(y), type=pa.list_(pa.int64()))],
                names=["vec_id", "embedding"])

    return (quant.select(id_col, vec_col)
            .mapInArrow(gen, "vec_id long, embedding array<bigint>"))


def residuals_np(corpus_quant: DataFrame,
                 cent_list: list[tuple[int, list[int]]],
                 id_col: str = "vec_id",
                 vec_col: str = "__xv") -> DataFrame:
    """(vec_id, ccid, rv): coarse-assign each (already-quantized)
    vector to its nearest literal centroid and emit the exact integer
    residual — :func:`pq.residual_vectors_literal`'s map-side
    projection as one NumPy evaluation per batch."""
    _assert_sorted_cids([c for c, _ in cent_list])
    c_arr = np.asarray([cv for _, cv in cent_list], dtype=np.int64)
    cids = np.asarray([c for c, _ in cent_list], dtype=np.int64)
    _, dim = c_arr.shape

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = b.column(0).to_numpy(zero_copy_only=False)
            x = _list_to_2d(b.column(1), dim)
            amin = _sqdist_matrix(x, c_arr).argmin(axis=1)
            rv = x - c_arr[amin]
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()),
                 pa.array(cids[amin], type=pa.int64()),
                 pa.array(list(rv), type=pa.list_(pa.int64()))],
                names=["vec_id", "ccid", "rv"])

    return (corpus_quant.select(id_col, vec_col)
            .mapInArrow(gen, "vec_id long, ccid long, rv array<bigint>"))
