"""Arrow-batched numpy kernels: the package's only vector arithmetic.

Every dot product, norm, cosine, squared distance and hyperplane sign
that an operator computes runs here, on one definition:

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
tests/test_semdedup.py, tests/test_similarity_kernels.py and
tests/test_pq_kernels.py. Spark
never generates code for a fold: each row ran one interpreted lambda
per component. Here a whole Arrow batch (or one group) is one float64
matrix, and every arithmetic step is one numpy operation over all of
its rows.

Callers wire the kernels in:

- :func:`nearest_centroid` through ``mapInArrow`` in
  ``clustering.assign_clusters`` (k-means and IVF-PQ coarse lists);
- :func:`lloyd_partials` through ``mapInArrow`` in ``clustering.lloyd``
  (the one Lloyd's trainer: k-means centroids and PQ codebooks);
- :func:`pq_codes`, :func:`residuals` and :func:`adc` through
  ``mapInArrow`` in ``operators/quantization.py`` (PQ encode, IVF-PQ
  residuals, ADC), the ADC tables and IVF-PQ probes built on the
  driver by :func:`lookup_tables` and held in the kernel;
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


def _components(col):
    """``(vals, ok, lengths, present)`` of a list-of-number column:
    ``vals`` as float64 zero-padded to the longest vector, with 0.0 for
    a NULL component; ``ok`` marks the non-NULL components inside each
    row's length; ``present`` is False for a NULL vector, whose length
    counts as 0."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offsets = col.offsets.to_numpy().astype(np.int64)
    present = ~np.asarray(col.is_null().to_numpy(zero_copy_only=False), dtype=bool)
    lengths = np.where(present, np.diff(offsets), 0)
    values = col.values
    flat = np.asarray(values.to_numpy(zero_copy_only=False), dtype=np.float64)
    flat_ok = ~np.asarray(values.is_null().to_numpy(zero_copy_only=False), dtype=bool)
    n = len(col)
    starts = np.cumsum(lengths) - lengths
    pos = np.arange(int(lengths.sum())) - np.repeat(starts, lengths)
    row, src = np.repeat(np.arange(n), lengths), np.repeat(offsets[:-1], lengths) + pos
    vals = np.zeros((n, int(lengths.max()) if n else 0))
    ok = np.zeros(vals.shape, dtype=bool)
    ok[row, pos] = flat_ok[src]
    vals[row, pos] = np.where(flat_ok[src], flat[src], 0.0)
    return vals, ok, lengths, present


def _matrix(col) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(rows, lengths, valid)`` of a list-of-number column: the
    :func:`_components` rows, and ``valid`` False for a NULL vector and
    for one with a NULL component."""
    vals, ok, lengths, present = _components(col)
    return vals, lengths, present & (ok.sum(axis=1) == lengths)


def _padded(rows: np.ndarray, width: int) -> np.ndarray:
    return np.pad(rows, [(0, 0)] * (rows.ndim - 1) + [(0, width - rows.shape[-1])])


def _slice(comp, start: int, size: int):
    """``slice(vec, start + 1, size)`` of :func:`_components` rows."""
    vals, ok, lengths, present = comp
    cut = [_padded(x[:, start : start + size], size) for x in (vals, ok)]
    return (*cut, np.clip(lengths - start, 0, size), present)


def _centroid_rows(centroids: list[list[float]]) -> tuple[np.ndarray, np.ndarray]:
    """``(rows, lengths)``: the centroids as float64, zero-padded."""
    c_len = np.array([len(c) for c in centroids], dtype=np.int64)
    rows = np.zeros((len(centroids), int(c_len.max())))
    for i, c in enumerate(centroids):
        rows[i, : len(c)] = c
    return rows, c_len


def _sq_dists(comp, cents) -> tuple[np.ndarray, np.ndarray]:
    """``(dist, null)``, one row per vector and one column per centroid
    of ``cents`` (:func:`_centroid_rows`): ``Σ (v_j − c_j) · (v_j −
    c_j)`` folded left to right, NULL for a NULL vector, a NULL
    component or a length other than the centroid's."""
    vals, ok, lengths, present = comp
    c_rows, c_len = cents
    width = max(vals.shape[1], c_rows.shape[1])
    rows, cmat = _padded(vals, width), _padded(c_rows, width)
    dist = np.zeros((len(rows), len(cmat)))
    with np.errstate(all="ignore"):
        for j in range(width):
            t = rows[:, j, None] - cmat[None, :, j]
            dist += t * t
    valid = present & (ok.sum(axis=1) == lengths)
    return dist, ~valid[:, None] | (lengths[:, None] != c_len[None, :])


def _ascending(dist: np.ndarray, null: np.ndarray) -> np.ndarray:
    """Per row, the columns of ``dist`` in Spark's ascending order: NULL
    first, NaN last, the lower column on a tie."""
    nan = np.isnan(dist) & ~null
    return np.lexsort((np.where(nan | null, 0.0, dist), nan, ~null))


def _nearest(comp, cents):
    """``(code, dist, null)`` per vector: its first centroid in
    :func:`_ascending` order of :func:`_sq_dists`, that distance, and
    whether the distance is NULL."""
    dist, null = _sq_dists(comp, cents)
    code = _ascending(dist, null)[:, 0]
    r = np.arange(len(code))
    return code, dist[r, code], null[r, code]


def _residual(comp, cents, cluster: np.ndarray):
    """Each vector minus its centroid ``cluster``, as ``zip_with(vec, c,
    x − y)`` computes it: as long as the longer side, NULL where either
    side has no component, NULL for a NULL vector."""
    vals, ok, lengths, present = comp
    c_rows, c_len = cents
    width, c_len = max(vals.shape[1], c_rows.shape[1]), c_len[cluster]
    with np.errstate(all="ignore"):
        diff = _padded(vals, width) - _padded(c_rows, width)[cluster]
    ok = _padded(ok, width) & (np.arange(width) < c_len[:, None])
    return diff, ok, np.where(present, np.maximum(lengths, c_len), 0), present


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
    cents = _centroid_rows(centroids)
    for batch in batches:
        cluster, best, null = _nearest(_components(batch.column(vec_col)), cents)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column(id_col),
                batch.column(vec_col),
                pa.array(cluster, pa.int32()),
                pa.array(best, pa.float64(), mask=null),
            ],
            [id_col, vec_col, "cluster", "sq_dist"],
        )


def lloyd_partials(batches, *, books, d: int | None, vec_col: str):
    """``mapInArrow`` body of one Lloyd's epoch over a partition: one
    row ``(j, code, sums, counts)`` per subspace ``j`` and code that a
    subvector with a component reaches. Subspace ``j`` is ``slice(vec,
    j·d + 1, d)`` (the whole vector when ``d`` is None); it goes to
    its :func:`_nearest` code of ``books[j]``. ``sums[p]`` is 0.0 plus
    the code's non-NULL ``p``-th components in row order, ``counts[p]``
    how many there are, up to its longest subvector: what ``posexplode``
    + ``avg`` sums and counts."""
    cents = [_centroid_rows(book) for book in books]
    parts = [
        [np.zeros((len(rows), 0)), np.zeros((len(rows), 0)), np.zeros(len(rows), int)]
        for rows, _ in cents
    ]
    for batch in batches:
        comp = _components(batch.column(vec_col))
        for j, c in enumerate(cents):
            sub = comp if d is None else _slice(comp, j * d, d)
            code = _nearest(sub, c)[0]
            sums, counts, longest = parts[j]
            w = max(sums.shape[1], sub[0].shape[1])
            sums, counts, vals, ok = (_padded(x, w) for x in (sums, counts, *sub[:2]))
            with np.errstate(all="ignore"):
                np.add.at(sums, code, vals)
            np.add.at(counts, code, ok)
            np.maximum.at(longest, code, sub[2])
            parts[j] = [sums, counts, longest]
    rows = [
        dict(j=j, code=c, sums=sums[c, :n].tolist(), counts=counts[c, :n].tolist())
        for j, (sums, counts, longest) in enumerate(parts)
        for c, n in enumerate(longest.tolist())
        if n
    ]
    if rows:
        yield pa.RecordBatch.from_pylist(rows)


def _int_lists(mat: np.ndarray) -> pa.ListArray:
    """The ``array<int>`` column of a matrix's rows."""
    offsets = np.arange(0, mat.size + 1, max(mat.shape[1], 1), dtype=np.int32)
    return pa.ListArray.from_arrays(offsets, mat.reshape(-1).astype(np.int32))


def _with_column(batch, drop: str | None, name: str, col) -> pa.RecordBatch:
    """``batch`` without column ``drop``, then ``col`` as ``name``."""
    keep = [c for c in batch.schema.names if c != drop]
    return pa.RecordBatch.from_arrays(
        [batch.column(c) for c in keep] + [col], [*keep, name]
    )


def pq_codes(batches, *, books, vec_col: str, out_col: str):
    """``mapInArrow`` body: ``vec_col`` replaced by ``out_col``, the
    ``array<int>`` of each subspace's :func:`_nearest` code:
    ``slice(vec, j·d + 1, d)`` against ``books[j]``."""
    cents = [_centroid_rows(book) for book in books]
    d = len(books[0][0])
    for batch in batches:
        comp = _components(batch.column(vec_col))
        codes = [_nearest(_slice(comp, j * d, d), c)[0] for j, c in enumerate(cents)]
        yield _with_column(batch, vec_col, out_col, _int_lists(np.stack(codes, 1)))


def residuals(batches, *, centroids, vec_col: str, cluster_col: str, out_col: str):
    """``mapInArrow`` body: ``vec_col`` replaced by ``out_col``, each
    vector minus its ``cluster_col`` centroid (:func:`_residual`)."""
    cents = _centroid_rows(centroids)
    for batch in batches:
        cluster = batch.column(cluster_col).to_numpy(zero_copy_only=False)
        vals, ok, lengths, present = _residual(
            _components(batch.column(vec_col)), cents, cluster
        )
        inside = np.arange(vals.shape[1]) < lengths[:, None]
        offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
        res = pa.ListArray.from_arrays(
            pa.array(offsets),
            pa.array(vals[inside], pa.float64(), mask=~ok[inside]),
            mask=pa.array(~present),
        )
        yield _with_column(batch, vec_col, out_col, res)


def lookup_tables(queries: pa.Table, *, vec_col: str, books, coarse=None, n_probe=0):
    """``(query, probe, luts, null)`` for :func:`adc`: table row ``p``
    is query row ``query[p]``, and ``luts[p, j, c]`` (NULL where
    ``null``) its :func:`_sq_dists` from ``slice(q, j·d + 1, d)`` to
    centroid ``c`` of ``books[j]``. With ``coarse`` centroids, a query
    has one row per centroid ``probe[p]`` among its ``n_probe``
    nearest (:func:`_ascending`), and ``q`` is its residual to it."""
    comp = _components(queries.column(vec_col))
    query, probe = np.arange(queries.num_rows), None
    if coarse is not None:
        cents = _centroid_rows(coarse)
        order = _ascending(*_sq_dists(comp, cents))[:, :n_probe]
        query, probe = np.repeat(query, order.shape[1]), order.reshape(-1)
        comp = _residual(tuple(x[query] for x in comp), cents, probe)
    d = len(books[0][0])
    tables = [
        _sq_dists(_slice(comp, j * d, d), _centroid_rows(book))
        for j, book in enumerate(books)
    ]
    luts, null = (np.stack(x, axis=1) for x in zip(*tables))
    return query, probe, luts, null


def adc(batches, *, q_ids: pa.Array, probe, luts, null, id_col: str):
    """``mapInArrow`` body: ``(q_id, n_id, adc_dist)`` for each
    :func:`lookup_tables` row ``p`` and each corpus row with ``codes``
    (as :func:`pq_codes` writes them) in list ``probe[p]`` of its
    ``cluster`` (any list when ``probe`` is None). ``adc_dist`` is
    0.0 plus ``luts[p, j, code_j]`` for ``j = 0..m−1`` without the NULL
    terms, NULL when all are: Spark's sum over the row's exploded codes
    joined to the table."""
    for batch in batches:
        codes, _, _, pair = _components(batch.column("codes"))
        codes = codes.astype(np.int64)
        acc = np.zeros((len(codes), len(luts)))
        seen = np.zeros(acc.shape, dtype=bool)
        with np.errstate(all="ignore"):
            for j in range(luts.shape[1]):
                skip = null[:, j, codes[:, j]].T
                acc += np.where(skip, 0.0, luts[:, j, codes[:, j]].T)
                seen |= ~skip
        pair = np.repeat(pair[:, None], len(luts), axis=1)
        if probe is not None:
            cluster = batch.column("cluster").to_numpy(zero_copy_only=False)
            pair &= cluster[:, None] == probe[None, :]
        ri, pi = np.nonzero(pair)
        yield pa.RecordBatch.from_arrays(
            [
                q_ids.take(pa.array(pi)),
                batch.column(id_col).take(pa.array(ri)),
                pa.array(acc[ri, pi], pa.float64(), mask=~seen[ri, pi]),
            ],
            ["q_id", "n_id", "adc_dist"],
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
    decode: tuple[list[float], list[float]] | None = None,
):
    """``mapInArrow`` body: the cosine of each row's ``vec_col`` with
    every row of ``small`` (queries or centroids, held in the pickled
    closure), one ``(batch rows × small rows)`` matrix per batch. One
    row per pair, or with ``top`` only each row's ``top`` best pairs
    in Spark's ``ORDER BY cos DESC`` (NULLs last, NaN first, ``-0.0 ==
    0.0``), ties to the earlier ``small`` row. Columns: ``names``, each
    from the batch or else from ``small``, then ``out_col``, the
    unrounded cosine under :func:`pair_cosine`'s rules. With ``decode
    = (scale, lo)``, ``vec_col`` holds SQ8 codes and the row's vector
    is ``code_d · scale_d + lo_d`` (NULL unless it has ``len(lo)``
    codes)."""
    cols = {c: small.column(c).combine_chunks() for c in small.column_names}
    s = [x[None] for x in _matrix(cols[small_vec])]
    for batch in batches:
        r = _matrix(batch.column(vec_col))
        if decode is not None:
            scale, lo = (np.asarray(x, dtype=np.float64) for x in decode)
            rows, lengths, valid = r
            rows = _padded(rows[:, : len(lo)], len(lo)) * scale + lo
            r = rows, np.full(len(rows), len(lo)), valid & (lengths == len(lo))
        cos, null = _cosine([x[:, None] for x in r], s)
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
        yield _with_column(batch, None, out_col, _int_lists(np.stack(keys, axis=1)))
