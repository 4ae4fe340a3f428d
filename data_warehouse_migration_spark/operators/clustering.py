"""K-means clustering over an embedding column — the iterative-algorithm
shape (driver-coordinated fixed-point loop over DataFrame ops), and the
trainer for IVF coarse quantizers (operators/similarity.ivf_topk takes
these centroids directly).

Scale posture: each iteration is ONE pass over the corpus — assignment
is a zero-shuffle Arrow-batched numpy pass (operators/vector_kernels;
the k×dim centroid doubles ride in the pickled kernel), and the
centroid update is one groupBy-avg shuffle keyed on (cluster,
component). Only k×dim numbers ever reach the driver per iteration.
Deterministic throughout: init = the k lowest-id vectors, ties broken
by cluster index, so reruns and resizes agree.
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from data_warehouse_migration_spark.operators.vector_kernels import (
    nearest_centroid,
)


@contextmanager
def static_tiny_jobs(spark):
    """Plan the k-bounded driver-loop jobs statically (AQE off), then
    restore the caller's setting.

    Lloyd's-style loops run several SEQUENTIAL tiny jobs per epoch
    (init collect, per-iteration means collect, sizes collect) whose
    results are k-bounded — k×dim doubles or k counts, INDEPENDENT of
    corpus size. AQE's per-shuffle runtime replanning is pure driver
    round-trip latency for such jobs at any scale: there is nothing
    data-sized for it to adapt (the post-shuffle side is always tiny
    by construction), while each extra query-stage materialization
    costs a scheduling floor the loop pays once per iteration.
    Measured r16 (sf0.1, interleaved same-session): the semdedup
    kmeans loop's eager phases drop 2.09 → 1.72 s with AQE off, with
    bit-identical rounded centroids (the round_centroids contract
    absorbs partial-sum order, which is the only thing that moves).
    The LAZY assignment a caller gets back is planned at the caller's
    action under the restored conf — corpus-sized work keeps AQE.
    """
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def double_array_literal(a) -> Column:
    """An arbitrarily nested Python float structure as ONE
    ``array(array(...))`` SQL expression instead of one ``F.lit`` /
    ``F.array`` call per element.

    Why (r15 optimization round, measured): every ``F.lit``/``F.array``
    is a py4j round trip, so the per-component form spent ~0.3 s of
    pure DRIVER wall per Lloyd's rebuild at k=8, dim=64 (512 literals)
    — rebuilt once per iteration, it dominated the kmeans loop after
    the executor side was parallelized (PQ training paid 2× more:
    m·k·(dim/m) literals per epoch). One ``F.expr`` ships the whole
    matrix in a single call and the JVM parser does the rest.

    Bit-identity: components are rendered with ``repr`` (Python's
    shortest round-trip form) and a ``D`` suffix, which
    ``Double.parseDouble`` parses back to the identical IEEE double —
    the resulting Literal nodes equal the old per-component ones.
    """

    def render(x) -> str:
        if isinstance(x, (list, tuple)):
            return "array(" + ", ".join(render(v) for v in x) + ")"
        v = float(x)
        # Non-finite repr ('nan'/'inf') is not a SQL double literal —
        # the parser would resolve it as a COLUMN name and fail with a
        # confusing AnalysisException (ADVICE r15 #1; reachable when a
        # NaN embedding component propagates through a centroid avg).
        # CAST('NaN'/'Infinity' AS DOUBLE) parses to the identical
        # IEEE value the old per-component F.lit path produced.
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if v == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        return repr(v) + "D"

    return F.expr(render(a))


def assign_clusters(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cluster, sq_dist) — nearest centroid per vector;
    lowest cluster index wins exact-distance ties.

    One zero-shuffle ``mapInArrow`` pass: the centroids (k×dim
    doubles) travel inside the pickled kernel, and each Arrow batch is
    one numpy computation (operators/vector_kernels.nearest_centroid).
    The distance is Σ (v − c)·(v − c) in float64, summed left to right
    — the arithmetic of the DuckDB oracle's (x-m)*(x-m) — so distances
    are bitwise comparable before rounding. A NULL vector, a NULL
    component or a length mismatch gives a NULL distance, which sorts
    first: such a row lands in the lowest cluster whose distance is
    NULL (cluster 0 unless the centroids differ in length), with
    ``sq_dist`` NULL."""
    src = vectors.select(id_col, vec_col)
    schema = StructType(
        src.schema.fields
        + [StructField("cluster", IntegerType()), StructField("sq_dist", DoubleType())]
    )
    kernel = partial(
        nearest_centroid,
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
    """Lloyd's algorithm; returns (centroids, assignments).

    Deterministic init: the ``k`` lowest-id vectors. An emptied cluster
    keeps its previous centroid (no resurrection randomness).

    ``round_centroids``: round every updated centroid component to this
    many decimals. Partition-order float summation makes a raw ``avg``
    differ across engines (and cluster sizes) in the last ulps; rounding
    to 7 decimals absorbs that noise so a re-implementation (the DuckDB
    oracle, or a rerun at different parallelism) reproduces bit-equal
    centroids — and therefore identical assignments — unless a true
    value sits within ~1e-15 of a rounding boundary. The init centroids
    are raw vector components (exact float32 widenings), never rounded.
    """
    # The loop re-scans the input once per iteration (assignment is
    # recomputed from the new centroids) — persist for the training
    # epochs, release before returning the lazy final assignment.
    src = vectors.select(id_col, vec_col).persist()
    try:
        # The whole training loop is sequential k-bounded collects —
        # plan them statically (see static_tiny_jobs: AQE replanning
        # is a per-iteration driver round trip that cannot help a
        # collect whose size is independent of the corpus).
        with static_tiny_jobs(vectors.sparkSession):
            centroids = _lloyd_iterations(
                src, k, max_iter, id_col, vec_col, round_centroids
            )
    finally:
        src.unpersist()
    return centroids, assign_clusters(vectors, centroids, id_col, vec_col)


def _lloyd_iterations(
    src: DataFrame,
    k: int,
    max_iter: int,
    id_col: str,
    vec_col: str,
    round_centroids: int | None,
) -> list[list[float]]:
    """The eager Lloyd's training loop of :func:`kmeans` (same jobs,
    same arithmetic — split out so the conf scope around it reads as
    one block)."""
    centroids = [
        list(r[vec_col])
        for r in src.orderBy(id_col).limit(k).collect()
    ]
    assigned = assign_clusters(src, centroids, id_col, vec_col)
    for _ in range(max_iter):
        means = (
            assigned.select("cluster", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new_centroids = [list(c) for c in centroids]
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r.cluster, {})[r.pos] = r.m
        for ci, comps in by_cluster.items():
            vals = [comps[p] for p in sorted(comps)]
            if round_centroids is not None:
                vals = [round(v, round_centroids) for v in vals]
            new_centroids[ci] = vals
        if new_centroids == centroids:
            break
        centroids = new_centroids
        assigned = assign_clusters(src, centroids, id_col, vec_col)
    return centroids
