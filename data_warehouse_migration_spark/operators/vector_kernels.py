"""Arrow-batched numpy kernels for k-means assignment and SemDeDup's
within-cluster pair search.

Both replace Spark higher-order-function folds (``transform`` /
``zip_with`` / ``aggregate``). Spark never generates code for those:
each row ran one interpreted lambda per component. Here a whole Arrow
batch (or one cluster) is one float64 matrix, and every arithmetic
step is one numpy operation over all of its rows. The callers wire
them in: ``clustering.assign_clusters`` through ``mapInArrow``,
``semdedup.semdedup`` through ``groupBy("cluster").applyInArrow``.
They take Arrow rather than pandas because the pandas conversion of a
list column turns a NULL component into NaN, and the two must differ.

The results are bit-identical to the fold expressions they replace
(pinned in tests/test_clustering.py and tests/test_semdedup.py):

- components widen to float64 exactly, as ``cast("double")`` does;
- every sum starts at ``0.0`` and adds one component product at a
  time, left to right, in a Python loop over the dimension that is
  vectorised over rows: the order of ``aggregate``. ``np.sum``, ``@``,
  ``np.dot`` and ``np.linalg.norm`` are never used, because they sum
  pairwise or in BLAS order and differ in the last bits;
- a NULL vector, a NULL component or a length mismatch makes a fold
  NULL, because ``zip_with`` pads the shorter side with NULL;
- comparisons follow Spark SQL ordering: NULL sorts first, NaN sorts
  above +inf and equals itself.

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
        rows = np.pad(rows, ((0, 0), (0, width - rows.shape[1])))
        cmat = np.pad(c_rows, ((0, 0), (0, width - c_rows.shape[1])))
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
    acc = np.zeros(len(rows))
    with np.errstate(all="ignore"):
        for j in range(rows.shape[1]):
            acc += rows[:, j] * rows[:, j]
        return np.sqrt(acc)


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
