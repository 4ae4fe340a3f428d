"""The Spark higher-order-function folds that operators/vector_kernels
replaced, kept as test references: every kernel must match them bit
for bit (``float.hex``), NULLs included.

Each sum is ``aggregate(..., 0.0, acc + x)`` over ``zip_with`` /
``transform`` products, so it runs left to right in float64 and is
NULL when a vector or a component is NULL or the lengths differ
(``zip_with`` pads the shorter side with NULL).

The two Lloyd's loops the one trainer (``clustering.lloyd``) replaced
are here too, with their ``posexplode`` → ``groupBy`` + ``avg`` means,
and so are the PQ encode, ADC and IVF-PQ probe expressions, all on the
squared-L2 fold :func:`sq_dist_to`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def double_array_literal(a) -> Column:
    """An arbitrarily nested Python float structure as ONE
    ``array(array(...))`` SQL expression instead of one ``F.lit`` /
    ``F.array`` call per element (each of which is a py4j round trip).

    Bit-identity: components are rendered with ``repr`` (Python's
    shortest round-trip form) and a ``D`` suffix, which
    ``Double.parseDouble`` parses back to the identical IEEE double —
    the resulting Literal nodes equal the per-component ones.
    """

    def render(x) -> str:
        if isinstance(x, (list, tuple)):
            return "array(" + ", ".join(render(v) for v in x) + ")"
        v = float(x)
        # Non-finite repr ('nan'/'inf') is not a SQL double literal —
        # the parser would resolve it as a COLUMN name and fail with a
        # confusing AnalysisException. CAST('NaN'/'Infinity' AS
        # DOUBLE) parses to the identical IEEE value F.lit produces.
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if v == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        return repr(v) + "D"

    return F.expr(render(a))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    n = l2_norm(a) * l2_norm(b)
    return F.when(n == 0, F.lit(0.0)).otherwise(dot(a, b) / n)


def projection(vec: Column, plane: list[float]) -> Column:
    """``vec · plane`` with the plane as a literal array."""
    return F.aggregate(
        F.zip_with(vec, double_array_literal(plane), lambda x, h: x.cast("double") * h),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def band_keys(vec: Column, planes: list[list[float]], band_bits: int) -> Column:
    """``array<int>`` of banded LSH keys: bit i of band b is
    ``vec · plane[b*band_bits+i] >= 0``, packed big-endian per band."""
    keys = []
    for b0 in range(0, len(planes), band_bits):
        key = F.lit(0)
        for row in planes[b0 : b0 + band_bits]:
            bit = F.when(projection(vec, row) >= 0, F.lit(1)).otherwise(F.lit(0))
            key = key * 2 + bit
        keys.append(key)
    return F.array(*keys)


def sq_dist_to(vec: Column, centroid: list[float]) -> Column:
    """``Σ (v − c)·(v − c)`` with the centroid as a literal array."""
    c = double_array_literal(centroid)
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def lloyd_means_loop(
    src: DataFrame,
    centroids: list[list[float]],
    max_iter: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_centroids: int | None = None,
) -> list[list[float]]:
    """The k-means loop from ``centroids``: assignment on the kernel,
    means by ``posexplode`` → ``groupBy(cluster, pos).avg``."""
    from data_warehouse_migration_spark.operators.clustering import assign_clusters

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


def train_pq_epochs(
    vectors: DataFrame,
    books: list[list[list[float]]],
    train_iters: int,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """The PQ loop from ``books``: codes by the squared-L2 fold's
    ``array_position(dists, array_min(dists))`` (so a subvector whose
    every distance is NULL gets a NULL code), means by ``posexplode``
    → ``groupBy(j, code, pos).avg``."""
    m, d = len(books), len(books[0][0])
    long = vectors.select(
        F.posexplode(
            F.array(*[F.slice(F.col(vec_col), j * d + 1, d) for j in range(m)])
        ).alias("j", "sub")
    )
    for _ in range(train_iters):
        cents_j = F.element_at(double_array_literal(books), F.col("j") + 1)
        dists = F.transform(
            cents_j,
            lambda c: F.aggregate(
                F.zip_with(
                    F.col("sub"), c,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        code = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        means = (
            long.withColumn("code", code)
            .select("j", "code", F.posexplode("sub").alias("pos", "x"))
            .groupBy("j", "code", "pos")
            .agg(F.avg("x").alias("mval"))
            .collect()
        )
        new_books = [[list(c) for c in book] for book in books]
        acc: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            acc.setdefault((r.j, r.code), {})[r.pos] = r.mval
        for (j, c), comps in acc.items():
            new_books[j][c] = [comps[p] for p in sorted(comps)]
        if new_books == books:
            break
        books = new_books
    return books


def pq_encode(vectors: DataFrame, codebooks, id_col="vec_id", vec_col="embedding"):
    """``(id, codes)``: per subspace the code of ``array_min`` over
    ``struct(distance, code)``."""
    d = len(codebooks[0][0])
    codes = []
    for j, book in enumerate(codebooks):
        sub = F.slice(F.col(vec_col), j * d + 1, d)
        best = F.array_min(
            F.array(
                *[
                    F.struct(sq_dist_to(sub, c).alias("d"), F.lit(ci).alias("c"))
                    for ci, c in enumerate(book)
                ]
            )
        )
        codes.append(best["c"])
    return vectors.select(F.col(id_col), F.array(*codes).alias("codes"))


def ivf_probes(queries, coarse, n_probe, id_col="vec_id", vec_col="embedding"):
    """``(q_id, q_vec, pos, cluster)``: each query's ``n_probe`` nearest
    centroids by ``array_sort`` over ``struct(distance, cluster)``."""
    structs = F.array(
        *[
            F.struct(sq_dist_to(F.col(vec_col), c).alias("d"), F.lit(i).alias("c"))
            for i, c in enumerate(coarse)
        ]
    )
    return (
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.posexplode(F.array_sort(structs)).alias("pos", "e"),
        )
        .filter(F.col("pos") < n_probe)
        .select("q_id", "q_vec", "pos", F.col("e.c").alias("cluster"))
    )


def residual(vec: Column, centroids, cluster: Column) -> Column:
    """``vec − centroids[cluster]`` by ``zip_with``."""
    chosen = F.element_at(double_array_literal(centroids), cluster + 1)
    return F.zip_with(vec, chosen, lambda x, y: x.cast("double") - y)


def adc_pairs(
    codes: DataFrame,
    queries: DataFrame,
    books,
    id_col="vec_id",
    vec_col="embedding",
    coarse=None,
    n_probe=0,
):
    """``(q_id, n_id, adc_dist)``, unrounded: the lookup-table rows
    (per query, or per probed (query, cluster) on the query residual)
    broadcast-joined to the exploded codes on (cluster,) subspace and
    code, summed per (query, neighbor)."""
    d = len(books[0][0])
    if coarse is None:
        q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col))
        keys, vec = [], F.col(vec_col)
    else:
        q = ivf_probes(queries, coarse, n_probe, id_col, vec_col)
        keys, vec = ["cluster"], residual(F.col("q_vec"), coarse, F.col("cluster"))
    entries = [
        F.struct(
            F.lit(j).alias("j"),
            F.lit(ci).alias("code"),
            sq_dist_to(F.slice(vec, j * d + 1, d), c).alias("dpart"),
        )
        for j, book in enumerate(books)
        for ci, c in enumerate(book)
    ]
    lut = q.select("q_id", *keys, F.explode(F.array(*entries)).alias("e")).select(
        "q_id", *keys, "e.j", "e.code", "e.dpart"
    )
    exploded = codes.select(
        F.col(id_col).alias("n_id"), *keys, F.posexplode("codes").alias("j", "code")
    )
    return (
        exploded.join(F.broadcast(lut), [*keys, "j", "code"])
        .groupBy("q_id", "n_id")
        .agg(F.sum("dpart").alias("adc_dist"))
    )
