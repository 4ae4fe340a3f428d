"""Vector compression for ANN — the memory story for 100 TB vector
corpora, as a ladder of trade-offs next to hyperplane-LSH and IVF
(similarity.py):

- **SQ8** (``sq8_*``): 8 bits/dim against per-dimension corpus
  bounds — 4× smaller, near-lossless (recall ≈ 1.0), the "just fit
  in memory" step;
- **PQ** (``pq_*``): a 64-dim float32 embedding (256 B) compresses
  to ``m`` one-byte codes (4-8 B, 32-64× smaller), and distance
  evaluation against a query becomes ``m`` table lookups instead of
  a ``dim``-length dot product (ADC — asymmetric distance
  computation);
- **IVF-PQ** (``ivf_pq_topk``): + coarse routing over residuals.

Pipeline:
- :func:`train_pq_codebooks` — split the vector into ``m`` contiguous
  subspaces, run the existing Lloyd's trainer
  (``operators/clustering.kmeans``) per subspace. Driver traffic per
  epoch is m·k·(dim/m) = k·dim floats — same budget as one IVF train.
- :func:`pq_encode` — nearest-centroid code per subspace, pure Column
  expressions (the codebook embeds as plan literals); zero shuffles.
- :func:`pq_topk` — ADC top-k: per-query lookup tables (|Q|·m·k rows,
  broadcast) joined to the exploded code table on (subspace, code),
  summed per (query, neighbor), windowed top-k. The corpus never
  decompresses; per-row cost is m lookup-join rows instead of a
  dim-wide kernel.

At production scale PQ composes with IVF (IVF-PQ: coarse cluster
probe → ADC rescore inside the probed lists); here the operators stay
separate so each is independently testable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_migration_spark.operators.clustering import (
    double_array_literal,
    static_tiny_jobs,
)


def _sq_dist_to(vec: Column, centroid: list[float]) -> Column:
    c = double_array_literal(centroid)
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def train_pq_codebooks(
    vectors: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 2,
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks: ``m`` lists of ``k`` centroids,
    each of length ``dim // m``. ``dim`` must divide evenly by ``m``.

    All ``m`` codebooks train JOINTLY: the vector explodes into
    (subspace, subvector) rows once, and each Lloyd's epoch is ONE
    groupBy over (subspace, code, component) — the subspaces are
    independent problems, so keying by subspace trains them all in a
    single pass instead of m sequential sweeps (m× fewer scans and
    driver round-trips; driver traffic per epoch stays m·k·(dim/m) =
    k·dim floats). Deterministic: init is the k lowest-id vectors'
    subvectors; an emptied code keeps its previous centroid; exact
    distance ties take the lowest code.
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    d = dim // m

    # The whole training loop is sequential k-bounded collects (init
    # rows + m·k·(dim/m) means per epoch) — statically planned for the
    # same reason as the Lloyd's loop (clustering.static_tiny_jobs:
    # AQE replanning is a per-epoch driver round trip that cannot help
    # a collect whose size is independent of the corpus).
    with static_tiny_jobs(vectors.sparkSession):
        return _train_pq_epochs(vectors, m, d, k, id_col, vec_col, train_iters)


def _train_pq_epochs(
    vectors: DataFrame,
    m: int,
    d: int,
    k: int,
    id_col: str,
    vec_col: str,
    train_iters: int,
) -> list[list[list[float]]]:
    """The eager epoch loop of :func:`train_pq_codebooks` (same jobs,
    same arithmetic — split out so the conf scope reads as one
    block)."""
    init_rows = vectors.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    books = [
        [[float(x) for x in row[vec_col][j * d : (j + 1) * d]] for row in init_rows]
        for j in range(m)
    ]

    long = vectors.select(
        F.posexplode(
            F.array(*[F.slice(F.col(vec_col), j * d + 1, d) for j in range(m)])
        ).alias("j", "sub")
    ).persist()
    try:
        for _ in range(train_iters):
            # One-expression literal (see clustering.double_array_literal):
            # the per-component form was m·k·(dim/m) py4j round trips
            # per epoch of pure driver wall.
            books_lit = double_array_literal(books)
            cents_j = F.element_at(books_lit, F.col("j") + 1)  # k×d for this row's j
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
    finally:
        long.unpersist()
    return books


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """``(id_col, codes array<int>)``: nearest-centroid code per
    subspace. Zero shuffles — a pure projection with the codebooks as
    plan literals; ties break to the lowest code deterministically."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    codes = []
    for j, book in enumerate(codebooks):
        sub = F.slice(F.col(vec_col), j * d + 1, d)
        best = F.array_min(
            F.array(
                *[
                    F.struct(
                        _sq_dist_to(sub, c).alias("d"), F.lit(ci).alias("c")
                    )
                    for ci, c in enumerate(book)
                ]
            )
        )
        codes.append(best["c"])
    return vectors.select(F.col(id_col), F.array(*codes).alias(out_col))


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """ADC top-k nearest neighbors of each query over a PQ-compressed
    corpus: approximate squared L2 = Σ_j lut[q][j][code_j].

    The per-query lookup table (|Q|·m·k rows: squared distance from the
    query's j-th subvector to every centroid of book j) is built with
    Column expressions and broadcast; the corpus codes explode to m
    rows per vector and hash-join the LUT on (subspace, code). Shuffle
    bytes scale with |corpus|·m ints — the decompressed vectors never
    exist anywhere."""
    m = len(codebooks)
    d = len(codebooks[0][0])

    lut_cols = []
    for j, book in enumerate(codebooks):
        sub = F.slice(F.col(vec_col), j * d + 1, d)
        for ci, c in enumerate(book):
            lut_cols.append(
                F.struct(
                    F.lit(j).alias("j"),
                    F.lit(ci).alias("code"),
                    _sq_dist_to(sub, c).alias("dpart"),
                )
            )
    lut = queries.select(
        F.col(id_col).alias("q_id"),
        F.explode(F.array(*lut_cols)).alias("e"),
    ).select("q_id", F.col("e.j").alias("j"), F.col("e.code").alias("code"),
             F.col("e.dpart").alias("dpart"))

    exploded = codes.select(
        F.col(id_col).alias("n_id"),
        F.posexplode("codes").alias("j", "code"),
    )
    scored = (
        exploded.join(F.broadcast(lut), ["j", "code"])
        .filter(F.col("q_id") != F.col("n_id"))
        .groupBy("q_id", "n_id")
        .agg(F.round(F.sum("dpart"), round_to).alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "adc_dist", "rank")
    )


def _residual(vec: Column, centroids: list[list[float]], cluster: Column) -> Column:
    """vec − centroid[cluster], with the codebook as one literal
    array-of-arrays indexed by the cluster column (stays in codegen)."""
    cents = double_array_literal(centroids)
    chosen = F.element_at(cents, cluster + 1)
    return F.zip_with(vec, chosen, lambda x, y: x.cast("double") - y)


def ivf_pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 4,
    pq_k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """IVF-PQ: the composed production ANN index — a coarse k-means
    quantizer routes vectors into inverted lists, and each vector's
    RESIDUAL (vector − its centroid) is product-quantized. Queries
    probe the ``n_probe`` nearest lists and ADC-score only those lists'
    codes against a per-(query, probed-cluster) residual lookup table.

    Why residuals: within a list, vectors share their centroid, so
    residuals are small and centered — the same PQ codebook bits buy
    ~one extra bit of precision vs encoding raw vectors (the standard
    IVF-PQ design). Approximate distance =
    Σ_j ‖q_res_sub_j − codebook_j[code_j]‖², exactly the ADC sum over
    the vector's own list.

    Scale: corpus shuffles once on cluster id (write bucketed by
    cluster at rest); compressed codes are m bytes/vector; the LUT is
    |Q|·n_probe·m·pq_k rows — broadcast-sized for the reranking query
    batches this targets. Skew: hot lists re-quantize or salt
    (operators/skew.py), same note as plain IVF.
    """
    from data_warehouse_migration_spark.operators.clustering import (
        assign_clusters,
        kmeans,
    )

    coarse, _ = kmeans(
        vectors, k=n_centroids, max_iter=train_iters,
        id_col=id_col, vec_col=vec_col,
    )
    assigned = assign_clusters(vectors, coarse, id_col, vec_col).select(
        F.col(id_col), F.col(vec_col), F.col("cluster")
    )
    # Persisted: the m codebook trainings and the encode pass all
    # re-read the residuals; without this each re-derives the coarse
    # assignment from the source.
    residuals = assigned.select(
        id_col,
        "cluster",
        _residual(F.col(vec_col), coarse, F.col("cluster")).alias("residual"),
    ).persist()
    try:
        books = train_pq_codebooks(
            residuals, dim=dim, m=m, k=pq_k,
            id_col=id_col, vec_col="residual", train_iters=train_iters,
        )
        codes = pq_encode(residuals, books, id_col=id_col, vec_col="residual").join(
            residuals.select(id_col, "cluster"), id_col
        ).localCheckpoint()
    finally:
        residuals.unpersist()

    # Probe lists: rank all centroids per query, keep n_probe nearest.
    probe_structs = F.array(
        *[
            F.struct(_sq_dist_to(F.col(vec_col), c).alias("d"), F.lit(i).alias("c"))
            for i, c in enumerate(coarse)
        ]
    )
    probes = (
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.posexplode(F.array_sort(probe_structs)).alias("pos", "e"),
        )
        .filter(F.col("pos") < n_probe)
        .select("q_id", "q_vec", F.col("e.c").alias("cluster"))
    )
    # Per-(query, probed cluster) residual LUT.
    d = dim // m
    q_res = _residual(F.col("q_vec"), coarse, F.col("cluster"))
    lut_entries = []
    for j, book in enumerate(books):
        sub = F.slice(q_res, j * d + 1, d)
        for ci, c in enumerate(book):
            lut_entries.append(
                F.struct(
                    F.lit(j).alias("j"),
                    F.lit(ci).alias("code"),
                    _sq_dist_to(sub, c).alias("dpart"),
                )
            )
    lut = probes.select(
        "q_id", "cluster", F.explode(F.array(*lut_entries)).alias("e")
    ).select(
        "q_id", "cluster", F.col("e.j").alias("j"),
        F.col("e.code").alias("code"), F.col("e.dpart").alias("dpart"),
    )

    exploded = codes.select(
        F.col(id_col).alias("n_id"), "cluster", F.posexplode("codes").alias("j", "code")
    )
    scored = (
        exploded.join(F.broadcast(lut), ["cluster", "j", "code"])
        .filter(F.col("q_id") != F.col("n_id"))
        .groupBy("q_id", "n_id")
        .agg(F.round(F.sum("dpart"), round_to).alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "adc_dist", "rank")
    )


def sq8_train(
    vectors: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> tuple[list[float], list[float]]:
    """Scalar-quantization bounds: per-dimension (lo, hi) over the
    corpus — the whole "codebook" of SQ8 (FAISS ``SQ8`` shape). One
    aggregation, 2·dim floats to the driver (same sanctioned budget as
    a k-means centroid collect)."""
    aggs = []
    for p in range(dim):
        comp = F.element_at(F.col(vec_col), p + 1).cast("double")
        aggs += [F.min(comp).alias(f"lo{p}"), F.max(comp).alias(f"hi{p}")]
    # 2·dim-bounded single-row collect — statically planned
    # (clustering.static_tiny_jobs) like every other codebook job.
    with static_tiny_jobs(vectors.sparkSession):
        row = vectors.agg(*aggs).first()
    los = [float(row[f"lo{p}"]) for p in range(dim)]
    his = [float(row[f"hi{p}"]) for p in range(dim)]
    return los, his


def _sq8_scale(lo: list[float], hi: list[float]) -> list[float]:
    # Degenerate (constant) dimensions quantize to code 0 via scale 0.
    return [(h - l) / 255.0 if h > l else 0.0 for l, h in zip(lo, hi)]


def sq8_encode(
    vectors: DataFrame,
    lo: list[float],
    hi: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """``(id_col, codes array<int>)`` with each component quantized to
    its dimension's 0..255 grid — 4× smaller than float32 at ~8-bit
    precision (vs PQ's 32-64×/lossier trade). Pure Column zip_with
    with the bounds as plan literals; zero shuffles; out-of-range
    values (e.g. encoding a query against corpus bounds) clamp."""
    scale = _sq8_scale(lo, hi)
    lo_lit = F.array(*[F.lit(x) for x in lo])
    sc_lit = F.array(*[F.lit(x) for x in scale])
    pair = F.zip_with(F.col(vec_col), lo_lit, lambda x, l: x.cast("double") - l)
    codes = F.zip_with(
        pair,
        sc_lit,
        lambda d, s: F.when(s > 0, F.round(d / s)).otherwise(F.lit(0.0)),
    )
    clamped = F.transform(
        codes, lambda c: F.greatest(F.lit(0.0), F.least(F.lit(255.0), c)).cast("int")
    )
    return vectors.select(F.col(id_col), clamped.alias(out_col))


def sq8_topk(
    codes: DataFrame,
    queries: DataFrame,
    lo: list[float],
    hi: list[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Asymmetric top-k over an SQ8-compressed corpus: the float query
    scores COSINE against DECODED codes (x̂_d = lo_d + code_d·scale_d)
    — no quantization error on the query side, same asymmetric
    principle as ADC, and directly comparable to the exact cosine
    ranking (`similarity.brute_force_topk`). Plan shape == brute force
    with 4× smaller corpus rows: the query batch cross-broadcasts, the
    corpus streams once, decodes in a ``zip_with`` and is scored
    against the queries on the cosine kernel (similarity.cross_cosine,
    the same arithmetic as the exact ranking), top-k is a per-query
    window.
    Near-lossless (8 bits/dim):
    recall vs the exact ranking is ~1.0, unlike the coarser PQ/LSH
    paths — SQ8 is the "just fit in memory" step before those become
    necessary."""
    from data_warehouse_migration_spark.operators.similarity import (
        cross_cosine,
        top_k,
    )

    scale = _sq8_scale(lo, hi)
    lo_lit = F.array(*[F.lit(x) for x in lo])
    sc_lit = F.array(*[F.lit(x) for x in scale])
    decoded = F.zip_with(
        F.zip_with(F.col("codes"), sc_lit, lambda c, s: c.cast("double") * s),
        lo_lit,
        lambda cs, l: cs + l,
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    n = codes.select(F.col(id_col).alias("n_id"), decoded.alias("n_vec"))
    scored = cross_cosine(n, q, "n_vec", "q_vec", "cosine", ["q_id", "n_id"])
    return top_k(scored.filter(F.col("q_id") != F.col("n_id")), k, round_to)
