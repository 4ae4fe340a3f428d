"""Arrow-batched numpy kernels: the package's only vector arithmetic.

Every dot product, norm, cosine and hyperplane sign that an operator
computes runs here, on one definition:

- components widen to float64 exactly, as ``cast("double")`` does;
- every sum starts at ``0.0`` and adds one component product at a
  time, left to right, in a Python loop over the dimension that is
  vectorised over rows. ``np.sum``, ``@``, ``np.dot`` and
  ``np.linalg.norm`` are never used, because they sum pairwise or in
  BLAS order (with fused multiply-adds) and differ in the last bits;
- ``cos = dot / (‖a‖·‖b‖)`` with ``‖a‖ = sqrt(Σ a_j·a_j)``; it is
  ``0.0`` when that denominator is 0;
- a NULL vector or a NULL component makes a sum NULL, and so does a
  length mismatch, except that a cosine whose denominator is 0 stays
  ``0.0``;
- NaN and ±inf propagate as IEEE arithmetic says; comparisons follow
  Spark SQL ordering: NULL sorts first, NaN sorts above +inf and
  equals itself, so a NaN projection passes ``proj >= 0``.

These are the rules of the Spark higher-order folds the kernels
replaced (``aggregate(zip_with(a, b, x·y), 0.0, acc + x)``, which
``zip_with`` makes NULL by padding the shorter side with NULL). The
folds stay as test references, and every kernel is pinned to them bit
for bit (``float.hex``) in tests/test_clustering.py,
tests/test_semdedup.py and tests/test_similarity_kernels.py. Spark
never generates code for a fold: each row ran one interpreted lambda
per component. Here a whole Arrow batch (or one group) is one float64
matrix, and every arithmetic step is one numpy operation over all of
its rows.

Callers wire the kernels in:

- :func:`nearest_centroid` through ``mapInArrow`` in
  ``clustering.assign_clusters`` (k-means, IVF-PQ codebooks);
- :func:`cluster_pairs` through ``groupBy(...).applyInArrow`` in
  ``semdedup.near_dup_pairs`` (batch SemDeDup, exact and LSH-bucketed
  embedding near-dup pairs);
- :func:`cross_cosine` through ``mapInArrow`` in
  ``similarity.cross_cosine`` (exact and SQ8 top-k, hard negatives,
  IVF centroid assignment and probes): the small side (queries or
  centroids) rides in the pickled closure, as ``nearest_centroid``'s
  centroids do, and the corpus streams through once;
- :func:`pair_cosine` through ``mapInArrow`` in
  ``similarity.with_cosine`` (LSH and IVF list rescoring, the
  streaming SemDeDup probe: pairs from an equi-join);
- :func:`band_keys` through ``mapInArrow`` in
  ``similarity.with_band_keys`` (hyperplane-LSH buckets).

They take Arrow rather than pandas because the pandas conversion of a
list column turns a NULL component into NaN, and the two must differ.

Rows are zero-padded to the longest vector of the batch. Padding never
changes a sum that is kept: an accumulator that starts at ``0.0`` is
never ``-0.0``, so adding ``0.0 * 0.0`` leaves it as it was, and a
pair of different lengths is NULL (masked) whatever its sum.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

#: Rows per tile of the pair search: one tile holds at most
#: ``PAIR_TILE × cluster size`` doubles per temporary.
PAIR_TILE = 512


def _matrix(col) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(rows, lengths, valid)`` of a list-of-number column: rows as
    float64 zero-padded to the longest valid vector; ``valid`` is False
    for a NULL vector and for one with a NULL component."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offsets = col.offsets.to_numpy().astype(np.int64)
    lengths = np.diff(offsets)
    values = col.values
    vals = np.asarray(values.to_numpy(zero_copy_only=False), dtype=np.float64)
    valid = ~np.asarray(col.is_null().to_numpy(zero_copy_only=False), dtype=bool)
    if values.null_count:
        nulls = np.concatenate(
            ([0], np.cumsum(values.is_null().to_numpy(zero_copy_only=False)))
        )
        valid &= nulls[offsets[1:]] == nulls[offsets[:-1]]
    lens = lengths[valid]
    width = int(lens.max()) if len(lens) else 0
    n = len(col)
    if valid.all() and (lengths == width).all():
        rows = vals[offsets[0] : offsets[-1]].reshape(n, width)
    else:
        rows = np.zeros((n, width))
        pos = np.arange(int(lens.sum())) - np.repeat(np.cumsum(lens) - lens, lens)
        rows[np.repeat(np.flatnonzero(valid), lens), pos] = vals[
            np.repeat(offsets[:-1][valid], lens) + pos
        ]
    return rows, lengths, valid


def _padded(rows: np.ndarray, width: int) -> np.ndarray:
    return np.pad(rows, [(0, 0)] * (rows.ndim - 1) + [(0, width - rows.shape[-1])])


def _spark_less(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """``x < y`` under Spark's double ordering (NaN above +inf)."""
    return (x < y) | (np.isnan(y) & ~np.isnan(x))


def nearest_centroid(
    batches, *, centroids: list[list[float]], id_col: str, vec_col: str
):
    """``mapInArrow`` body: ``(id, vec, cluster, sq_dist)`` per row.

    ``sq_dist`` to centroid ``c`` is ``Σ (v_j − c_j) · (v_j − c_j)``
    folded left to right; the row takes the smallest, the lowest
    cluster index on an exact tie. A NULL distance (NULL vector, NULL
    component, or a length other than the centroid's) sorts before
    every number, so such a row goes to the lowest cluster whose
    distance is NULL, with ``sq_dist`` NULL."""
    k = len(centroids)
    c_len = np.array([len(c) for c in centroids], dtype=np.int64)
    c_rows = np.zeros((k, int(c_len.max())))
    for i, c in enumerate(centroids):
        c_rows[i, : len(c)] = c
    for batch in batches:
        rows, lengths, valid = _matrix(batch.column(vec_col))
        width = max(rows.shape[1], c_rows.shape[1])
        rows, cmat = _padded(rows, width), _padded(c_rows, width)
        dist = np.zeros((len(rows), k))
        with np.errstate(all="ignore"):
            for j in range(width):
                t = rows[:, j, None] - cmat[None, :, j]
                dist += t * t
        null = ~valid[:, None] | (lengths[:, None] != c_len[None, :])
        cluster = np.zeros(len(rows), dtype=np.int32)
        best, best_null = dist[:, 0].copy(), null[:, 0].copy()
        for c in range(1, k):
            better = ~best_null & (null[:, c] | _spark_less(dist[:, c], best))
            cluster[better] = c
            best[better] = dist[better, c]
            best_null |= better & null[:, c]
        yield pa.RecordBatch.from_arrays(
            [
                batch.column(id_col),
                batch.column(vec_col),
                pa.array(cluster, pa.int32()),
                pa.array(best, pa.float64(), mask=best_null),
            ],
            [id_col, vec_col, "cluster", "sq_dist"],
        )


def _norms(rows: np.ndarray) -> np.ndarray:
    acc = np.zeros(rows.shape[:-1])
    with np.errstate(all="ignore"):
        for j in range(rows.shape[-1]):
            acc += rows[..., j] * rows[..., j]
        return np.sqrt(acc)


def _cosine(a, b) -> tuple[np.ndarray, np.ndarray]:
    """``(cos, null)`` of two :func:`_matrix` triples whose rows
    broadcast against each other: row by row, or ``(n, 1)`` rows
    against ``(1, m)`` for every pair."""
    (a, a_len, a_ok), (b, b_len, b_ok) = a, b
    width = max(a.shape[-1], b.shape[-1])
    a, b = _padded(a, width), _padded(b, width)
    dot = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    with np.errstate(all="ignore"):
        for j in range(width):
            dot += a[..., j] * b[..., j]
        den = _norms(a) * _norms(b)
        zero = den == 0
        cos = np.where(zero, 0.0, dot / den)
    return cos, ~(a_ok & b_ok) | ~(zero | (a_len == b_len))


def cosine_pairs(
    rows: np.ndarray, lengths: np.ndarray, ids: np.ndarray, threshold: float
):
    """Every ``(i, j, cos)`` with ``ids[i] < ids[j]`` and ``cos ≥
    threshold`` or NaN, where ``cos`` is ``dot / (‖a‖·‖b‖)``, ``0.0``
    when that denominator is 0, and NULL (not emitted) for vectors of
    different lengths. ``ids`` must be sorted ascending, and every row
    valid. Works in tiles of :data:`PAIR_TILE` rows."""
    n = len(rows)
    nrm = _norms(rows)
    out_a, out_b, out_cos = [], [], []
    with np.errstate(all="ignore"):
        for s in range(0, n, PAIR_TILE):
            e = min(s + PAIR_TILE, n)
            a, b = rows[s:e], rows[s:]
            dot = np.zeros((e - s, n - s))
            tmp = np.empty_like(dot)
            for j in range(rows.shape[1]):
                np.multiply(a[:, j, None], b[None, :, j], out=tmp)
                dot += tmp
            den = nrm[s:e, None] * nrm[None, s:]
            zero = den == 0
            cos = np.where(zero, 0.0, dot / den)
            keep = (
                (ids[s:e, None] < ids[None, s:])
                & (zero | (lengths[s:e, None] == lengths[None, s:]))
                & ((cos >= threshold) | np.isnan(cos))
            )
            ai, bi = np.nonzero(keep)
            out_a.append(ai + s)
            out_b.append(bi + s)
            out_cos.append(cos[ai, bi])
    if not out_a:  # an empty cluster
        return np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0)
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_cos)


def cluster_pairs(table, *, id_col, vec_col, threshold):
    """``applyInArrow`` body over one cluster's ``pa.Table``: candidate
    pairs ``(_a_id, _b_id, cos)`` of :func:`cosine_pairs`. A row with a
    NULL id or an invalid vector (NULL ``cos`` with everyone) pairs
    with nothing.

    Unannotated on purpose: ``applyInArrow`` infers its eval type from
    type hints and fails on the keyword-only ones of a ``partial``."""
    id_arr = table.column(id_col).combine_chunks()
    rows, lengths, valid = _matrix(table.column(vec_col))
    valid &= ~np.asarray(id_arr.is_null().to_numpy(zero_copy_only=False), dtype=bool)
    idx = np.flatnonzero(valid)
    ids = id_arr.take(pa.array(idx)).to_numpy(zero_copy_only=False)
    order = np.argsort(ids, kind="stable")
    idx, ids = idx[order], ids[order]
    ai, bi, cos = cosine_pairs(rows[idx], lengths[idx], ids, threshold)
    return pa.table(
        {
            "_a_id": pa.array(ids[ai], id_arr.type),
            "_b_id": pa.array(ids[bi], id_arr.type),
            "cos": pa.array(cos, pa.float64()),
        }
    )


def pair_cosine(batches, *, a_col: str, b_col: str, out_col: str):
    """``mapInArrow`` body over joined rows: every input column, then
    ``out_col``, the unrounded cosine of the row's ``a_col`` and
    ``b_col`` vectors. NULL for a NULL vector, a NULL component or a
    length mismatch, except ``0.0`` when the denominator is 0."""
    for batch in batches:
        cos, null = _cosine(_matrix(batch.column(a_col)), _matrix(batch.column(b_col)))
        yield pa.RecordBatch.from_arrays(
            [*batch.columns, pa.array(cos, pa.float64(), mask=null)],
            [*batch.schema.names, out_col],
        )


def cross_cosine(
    batches,
    *,
    small: pa.Table,
    vec_col: str,
    small_vec: str,
    names: list[str],
    out_col: str,
    top: int | None = None,
):
    """``mapInArrow`` body: the cosine of each row's ``vec_col`` with
    every row of ``small`` (queries or centroids, held in the pickled
    closure), one ``(batch rows × small rows)`` matrix per batch. One
    row per pair, or with ``top`` only each row's ``top`` best pairs
    in Spark's ``ORDER BY cos DESC`` (NULLs last, NaN first, ``-0.0 ==
    0.0``), ties to the earlier ``small`` row. Columns: ``names``, each
    from the batch or else from ``small``, then ``out_col``, the
    unrounded cosine under :func:`pair_cosine`'s rules."""
    cols = {c: small.column(c).combine_chunks() for c in small.column_names}
    s = [x[None] for x in _matrix(cols[small_vec])]
    for batch in batches:
        r = [x[:, None] for x in _matrix(batch.column(vec_col))]
        cos, null = _cosine(r, s)
        si = np.tile(np.arange(cos.shape[1]), (len(cos), 1))
        if top is not None:
            nan = np.isnan(cos) & ~null
            key = np.where(nan | null, 0.0, -cos)
            si = np.lexsort((si, key, ~nan, null))[:, :top]
        ri = np.repeat(np.arange(len(cos)), si.shape[1])
        si = si.ravel()
        ri_arr, si_arr = pa.array(ri), pa.array(si)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column(c).take(ri_arr)
                if c in batch.schema.names
                else cols[c].take(si_arr)
                for c in names
            ]
            + [pa.array(cos[ri, si], pa.float64(), mask=null[ri, si])],
            [*names, out_col],
        )


def projections(rows: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """``(rows, planes)`` matrix of ``Σ v_j · h_j``, summed left to
    right; ``planes`` is float64 of shape ``(n_planes, dim)``."""
    width = max(rows.shape[1], planes.shape[1])
    rows, planes = _padded(rows, width), _padded(planes, width)
    proj = np.zeros((len(rows), len(planes)))
    with np.errstate(all="ignore"):
        for j in range(width):
            proj += rows[:, j, None] * planes[None, :, j]
    return proj


def band_keys(batches, *, planes, band_bits: int, vec_col: str, out_col: str):
    """``mapInArrow`` body: every input column, then ``out_col``, the
    ``array<int>`` of banded hyperplane keys. Bit ``i`` of band ``b``
    is ``proj >= 0`` for plane ``b·band_bits + i``, the band's first
    plane most significant. A NULL projection (invalid vector, or a
    length other than the planes') is bit 0; NaN is bit 1."""
    h = np.asarray(planes, dtype=np.float64)
    for batch in batches:
        rows, lengths, valid = _matrix(batch.column(vec_col))
        proj = projections(rows, h)
        bits = ((proj >= 0) | np.isnan(proj)) & (
            valid & (lengths == h.shape[1])
        )[:, None]
        keys = []
        for b0 in range(0, len(h), band_bits):
            key = np.zeros(len(rows), dtype=np.int64)
            for i in range(b0, min(b0 + band_bits, len(h))):
                key = key * 2 + bits[:, i]
            keys.append(key)
        n_bands = len(keys)
        flat = np.stack(keys, axis=1).reshape(-1).astype(np.int32)
        offsets = np.arange(0, (len(rows) + 1) * n_bands, n_bands, dtype=np.int32)
        yield pa.RecordBatch.from_arrays(
            [*batch.columns, pa.ListArray.from_arrays(offsets, flat)],
            [*batch.schema.names, out_col],
        )
