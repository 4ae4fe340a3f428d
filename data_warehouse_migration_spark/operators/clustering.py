"""K-means clustering over an embedding column — the iterative-algorithm
shape (driver-coordinated fixed-point loop over DataFrame ops), and the
package's one Lloyd's trainer: :func:`train_codebooks` trains the
k-means centroids here (IVF coarse quantizers included:
operators/similarity.ivf_topk takes them directly) and the PQ codebooks
of operators/quantization.py, which are the same loop keyed by
subspace.

Scale posture: each epoch is ONE zero-shuffle pass over the persisted
input and one collect. An Arrow-batched numpy kernel
(operators/vector_kernels.lloyd_partials; the codebooks ride in the
pickled kernel) assigns every vector and emits its partition's
per-(subspace, code, component) partial sums and non-NULL counts; the
driver adds the partials in partition order and divides. Only k×dim
numbers of each reach the driver per epoch, and the means do not
depend on shuffle fetch order. Deterministic throughout: init = the k
lowest-id vectors, ties broken by cluster index, so reruns and resizes
agree.
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from data_warehouse_migration_spark.operators import vector_kernels


@contextmanager
def static_tiny_jobs(spark):
    """Plan k-bounded driver-side jobs statically (AQE off), then
    restore the caller's setting.

    For semdedup's cluster-sizes collect and ``quantization.sq8_train``,
    each one shuffle whose post-shuffle side is k (or 2·dim) rows
    whatever the corpus size, so AQE's replanning only adds a
    query-stage round trip (r16, sf0.1: semdedup's eager phases 2.09 →
    1.72 s with AQE off); and for the trainer's init collect, whose
    read fills the cache inside the job instead of in a cache query
    stage of its own. The trainer's epochs need no scope: they plan no
    exchange above the cached scan. A LAZY frame a caller gets back is
    planned at its action under the restored conf — corpus-sized work
    keeps AQE.
    """
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def assign_clusters(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cluster, sq_dist) — nearest centroid per vector;
    lowest cluster index wins exact-distance ties.

    One zero-shuffle ``mapInArrow`` pass with the centroids inside the
    kernel (operators/vector_kernels.nearest_centroid). The distance is
    Σ (v − c)·(v − c) in float64, summed left to right — the arithmetic
    of the DuckDB oracle's (x-m)*(x-m). A NULL vector, a NULL component
    or a length mismatch gives a NULL distance, which sorts first: such
    a row lands in the lowest cluster whose distance is NULL, with
    ``sq_dist`` NULL."""
    src = vectors.select(id_col, vec_col)
    schema = StructType(
        src.schema.fields
        + [StructField("cluster", IntegerType()), StructField("sq_dist", DoubleType())]
    )
    kernel = partial(
        vector_kernels.nearest_centroid,
        centroids=[[float(x) for x in c] for c in centroids],
        id_col=id_col,
        vec_col=vec_col,
    )
    return src.mapInArrow(kernel, schema)


def kmeans(
    vectors: DataFrame,
    k: int = 8,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_centroids: int | None = None,
) -> tuple[list[list[float]], DataFrame]:
    """Lloyd's algorithm (:func:`train_codebooks` on whole vectors);
    returns (centroids, assignments). Init: the ``k`` lowest-id vectors
    (raw components, never rounded); an emptied cluster keeps its
    previous centroid.

    ``round_centroids``: round every updated component to this many
    decimals. Partition-order float summation makes a raw mean differ
    across engines and partitionings in the last ulps; rounding to 7
    absorbs that, so the DuckDB oracle or a rerun at another
    parallelism reproduces bit-equal centroids — unless a true value
    sits within ~1e-15 of a rounding boundary.
    """
    [centroids] = train_codebooks(
        vectors, k, 1, None, max_iter, id_col, vec_col, round_centroids
    )
    return centroids, assign_clusters(vectors, centroids, id_col, vec_col)


def train_codebooks(
    vectors: DataFrame,
    k: int,
    m: int,
    d: int | None,
    max_iter: int,
    id_col: str,
    vec_col: str,
    round_centroids: int | None = None,
) -> list[list[list[float]]]:
    """Lloyd's algorithm keyed by subspace: ``m`` codebooks of up to
    ``k`` centroids, initialised from subspace ``j`` of the ``k``
    lowest-id vectors. Subspace ``j`` is ``slice(vec, j·d + 1, d)``; ``d``
    None means the whole vector (k-means, ``m`` = 1). The input is
    persisted for the epochs and released before returning."""
    src = vectors.select(id_col, vec_col).persist()
    try:
        # The first read fills the cache. Under AQE that is a cache
        # query stage, one job more than filling it inside the collect.
        with static_tiny_jobs(vectors.sparkSession):
            init = [r[vec_col] for r in src.orderBy(id_col).limit(k).collect()]
        books = [
            [list(v if d is None else v[j * d : (j + 1) * d]) for v in init]
            for j in range(m)
        ]
        return lloyd(src, books, d, max_iter, vec_col, round_centroids)
    finally:
        src.unpersist()


def _pad(a, width: int) -> np.ndarray:
    return np.pad(np.asarray(a, dtype=np.float64), (0, width - len(a)))


def lloyd(
    src: DataFrame,
    books: list[list[list[float]]],
    d: int | None,
    max_iter: int,
    vec_col: str,
    round_centroids: int | None,
) -> list[list[list[float]]]:
    """The epochs of :func:`train_codebooks`, from ``books``.

    An epoch is one ``mapInArrow`` of vector_kernels.lloyd_partials
    over ``src`` — no exchange above the scan, so AQE has nothing to
    replan — and one collect, which returns the partials in partition
    order. Per (subspace, code) the driver adds them in that order from
    0.0, and component ``p`` of the new centroid is sum / count, NULL
    for a count of 0: what ``posexplode`` + ``avg`` over the same rows
    gives, on one partition bit for bit. A code no subvector reaches
    keeps its centroid; the loop stops early when an epoch changes
    nothing."""
    for _ in range(max_iter):
        kernel = partial(
            vector_kernels.lloyd_partials,
            books=[[[float(x) for x in c] for c in book] for book in books],
            d=d,
            vec_col=vec_col,
        )
        parts: dict[tuple[int, int], list] = {}
        for r in src.mapInArrow(kernel, _PARTIALS).collect():
            parts.setdefault((r.j, r.code), []).append((r.sums, r.counts))
        new_books = [[list(c) for c in book] for book in books]
        for (j, code), ps in parts.items():
            w = max(len(p[0]) for p in ps)
            s, n = (sum((_pad(p[i], w) for p in ps), np.zeros(w)) for i in (0, 1))
            with np.errstate(all="ignore"):
                vals = [v if c else None for v, c in zip((s / n).tolist(), n)]
            if round_centroids is not None:
                vals = [round(v, round_centroids) for v in vals]
            new_books[j][code] = vals
        if new_books == books:
            break
        books = new_books
    return books


_PARTIALS = "j long, code long, sums array<double>, counts array<double>"
