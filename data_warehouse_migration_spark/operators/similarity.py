"""Vector similarity search over an embedding column (north-star).

Brute-force top-k cosine is the exact baseline; the LSH-bucketed
variant (random hyperplane signs) is the 100 TB path: candidates are
generated inside buckets so the pairwise work drops from |Q|×N to
|Q|×(N / 2^bits) in expectation, then exact-rescored.

Every cosine and hyperplane sign here runs on the Arrow-batched numpy
kernels of operators/vector_kernels.py, which hold the package's one
definition of vector arithmetic (float64, summed left to right, with
its NULL, NaN and zero-denominator rules): :func:`cross_cosine`
scores a streamed corpus against a driver-sized query or centroid set
held in the kernel, :func:`with_cosine` scores equi-joined candidate
rows, :func:`with_band_keys` computes hyperplane buckets, and near-dup
pairs go through ``semdedup.near_dup_pairs``.
Spark keeps the rounding (``F.round``, HALF_UP), the thresholds and
the rank windows.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from data_warehouse_migration_spark.operators import vector_kernels


def with_cosine(df: DataFrame, a_col: str, b_col: str, out_col: str) -> DataFrame:
    """``df`` plus ``out_col``: the unrounded cosine of each row's
    ``a_col`` and ``b_col`` vectors, in one zero-shuffle ``mapInArrow``
    (vector_kernels.pair_cosine). Every column of ``df`` crosses into
    the Python worker and back, so select only what the caller needs
    first."""
    kernel = partial(
        vector_kernels.pair_cosine, a_col=a_col, b_col=b_col, out_col=out_col
    )
    schema = StructType(df.schema.fields + [StructField(out_col, DoubleType())])
    return df.mapInArrow(kernel, schema)


def with_band_keys(
    df: DataFrame,
    planes: list[list[float]],
    band_bits: int,
    vec_col: str,
    out_col: str,
) -> DataFrame:
    """``df`` plus ``out_col``: the ``array<int>`` of banded hyperplane
    keys of ``vec_col`` (vector_kernels.band_keys), in one zero-shuffle
    ``mapInArrow``; the planes travel inside the pickled kernel."""
    kernel = partial(
        vector_kernels.band_keys,
        planes=planes,
        band_bits=band_bits,
        vec_col=vec_col,
        out_col=out_col,
    )
    schema = StructType(
        df.schema.fields + [StructField(out_col, ArrayType(IntegerType()))]
    )
    return df.mapInArrow(kernel, schema)


def cross_cosine(
    df: DataFrame,
    small: DataFrame,
    vec_col: str,
    small_vec: str,
    out_col: str,
    names: list[str],
    top: int | None = None,
    decode: tuple[list[float], list[float]] | None = None,
) -> DataFrame:
    """Every pair of a ``df`` row and a ``small`` row (queries,
    centroids): columns ``names`` (each from ``df``, else from
    ``small``) plus ``out_col``, the unrounded cosine of ``vec_col``
    and ``small_vec``; with ``top``, only each ``df`` row's ``top``
    best pairs; with ``decode``, ``vec_col`` holds SQ8 codes decoded in
    the kernel (vector_kernels.cross_cosine). ``small`` is collected
    to the driver here, when the plan is built, so it must be
    driver-sized; it travels inside the pickled kernel, and ``df``
    streams through one ``mapInArrow``, with no join, no shuffle and
    no vector per pair."""
    kernel = partial(
        vector_kernels.cross_cosine,
        small=small.toArrow(),
        vec_col=vec_col,
        small_vec=small_vec,
        names=names,
        out_col=out_col,
        top=top,
        decode=decode,
    )
    fields = {f.name: f for f in small.schema.fields + df.schema.fields}
    schema = StructType(
        [fields[c] for c in names] + [StructField(out_col, DoubleType())]
    )
    return df.mapInArrow(kernel, schema)


def top_k(
    scored: DataFrame, k: int, round_to: int = 6, keep: tuple[str, ...] = (),
    score: str = "cosine", descending: bool = True,
) -> DataFrame:
    """Per-query top-k of scored rows ``(q_id, n_id, *keep, score)``:
    ``(q_id, n_id, *keep, score, rank)`` with the score rounded.

    Ranking uses the *rounded* score, highest first (lowest first when
    not ``descending``, as for a distance), with the neighbor id as
    tie-break, so the result is total and reproducible across
    engines/precisions."""
    scored = scored.withColumn(score, F.round(score, round_to))
    order = F.col(score).desc() if descending else F.col(score).asc()
    w = Window.partitionBy("q_id").orderBy(order, F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", *keep, score, "rank")
    )


def rescore_topk(pairs: DataFrame, k: int, round_to: int = 6) -> DataFrame:
    """Exact top-k of equi-joined candidate rows ``(q_id, n_id, q_vec,
    n_vec)``, scored row by row (:func:`with_cosine`, :func:`top_k`)."""
    scored = with_cosine(
        pairs.select("q_id", "n_id", "q_vec", "n_vec"), "q_vec", "n_vec", "cosine"
    )
    return top_k(scored, k, round_to)


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    match_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Queries are collected to the driver (a query set is small by
    construction) and held in the cosine kernel; the corpus streams
    through it once (:func:`cross_cosine`), and a per-query
    ``row_number`` keeps k (:func:`top_k`).

    ``match_cols``: metadata columns that must be EQUAL between query
    and neighbor (label, language, tenant …) — filtered vector search
    done as PRE-filtering: the predicate drops scored pairs before
    the ranking window, so top-k is computed over the eligible set. The
    post-filter alternative (search first, drop mismatches after)
    silently returns < k or misses eligible neighbors — the classic
    filtered-ANN recall trap.
    """
    from data_warehouse_migration_spark.operators.layout import (
        widen_narrow_input,
    )

    q_match = [f"q_{c}" for c in match_cols]
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        *[F.col(c).alias(qc) for c, qc in zip(match_cols, q_match)],
    )
    # The corpus streams through the kernel, so a narrow scan would
    # score every pair on one core (no-op when wide).
    c = widen_narrow_input(vectors).select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        *match_cols,
    )
    scored = cross_cosine(
        c, q, "n_vec", "q_vec", "cosine", ["q_id", "n_id", *q_match, *match_cols]
    )
    cond = F.col("q_id") != F.col("n_id")
    for mc, qc in zip(match_cols, q_match):
        cond = cond & (F.col(qc) == F.col(mc))
    return top_k(scored.filter(cond), k, round_to)


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """All pairs ``(id_a < id_b)`` with cosine ≥ threshold — embedding-
    space near-duplicate detection (the vector twin of the text dedup
    family in ``operators/dedup.py``).

    Exact all-pairs: ``semdedup.near_dup_pairs`` over ONE group, so a
    single kernel call scores all N² pairs in ``PAIR_TILE``-row tiles
    (memory ``PAIR_TILE × N`` doubles per temporary). That is the
    correct *verification* kernel for small slices; at scale, use
    :func:`lsh_candidate_near_dup_pairs`, which runs the same kernel
    per LSH bucket. The threshold is applied to the *rounded* score so
    results are reproducible across engines/precisions.
    """
    from data_warehouse_migration_spark.operators.semdedup import near_dup_pairs

    one = vectors.select(F.lit(0).alias("cluster"), id_col, vec_col)
    return near_dup_pairs(one, id_col, vec_col, threshold, round_to).select(
        F.col("_a_id").alias("id_a"),
        F.col("_b_id").alias("id_b"),
        F.col("cos").alias("cosine"),
    )


def _gaussian_planes(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic i.i.d. Gaussian hyperplanes, generated ONCE on the
    driver and shipped inside the pickled sign kernel (n_planes×dim
    doubles — broadcast-sized).

    Gaussian directions matter: correlated "pseudo-random" planes (e.g.
    sin of consecutive integers) collapse the effective number of
    independent bands — measured on the embeddings table, banded recall
    plateaus near 0.5 no matter how many bands are added, while seeded
    Gaussian planes reach 1.0 recall at b=4/L=32 for threshold 0.4.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _lsh_buckets(
    vectors: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
    band_bits: int,
    n_bands: int,
    seed: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """``(id, vec, band, key)``: one row per vector and band, ``key``
    the band's hyperplane signs (:func:`with_band_keys`); buckets over
    ``max_bucket_size`` members are dropped."""
    planes = _gaussian_planes(n_bands * band_bits, dim, seed)
    sigs = with_band_keys(
        vectors.select(id_col, vec_col), planes, band_bits, vec_col, "__keys"
    ).select(id_col, vec_col, F.posexplode("__keys").alias("band", "key"))
    if max_bucket_size is not None:
        sizes = sigs.groupBy("band", "key").agg(F.count(F.lit(1)).alias("__n"))
        sigs = (
            sigs.join(sizes.filter(F.col("__n") <= max_bucket_size), ["band", "key"])
            .drop("__n")
        )
    return sigs


def lsh_candidate_pairs(
    vectors: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    band_bits: int = 4,
    n_bands: int = 32,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded-LSH CANDIDATE pairs (``id_a < id_b``, distinct): every
    pair that shares ≥1 (band, key) bucket appears exactly once, and
    no stage touches the N² cross product. Exposed so the banding's
    pruning power is measurable: candidate count / (N·(N−1)/2) is the
    fraction of the all-pairs work it admits (``test_lsh_pruning.py``
    bounds it at production thresholds).
    """
    sigs = _lsh_buckets(
        vectors, dim, id_col, vec_col, band_bits, n_bands, seed, max_bucket_size
    ).select(F.col(id_col).alias("id"), "band", "key")
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def lsh_candidate_near_dup_pairs(
    vectors: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    band_bits: int = 4,
    n_bands: int = 32,
    seed: int = 42,
    round_to: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via banded LSH with exact rescoring
    inside each bucket — the 100 TB shape for what
    :func:`cosine_near_dup_pairs` computes all-pairs.

    Shape: each vector emits ``n_bands`` (band, key) rows carrying the
    vector; one ``semdedup.near_dup_pairs`` then treats every bucket
    (cluster ``band·2^band_bits + key``) as one kernel group, scores
    its pairs exactly and keeps ``round(cos, round_to) ≥ threshold``;
    a ``distinct`` folds pairs that share several buckets. A pair gets
    the same cosine bits in every bucket it shares, so the result is
    exactly the verified candidate set. Shuffled bytes per vector are
    constant (``n_bands`` copies of the vector); no stage materializes
    the N² cross product, and false positives are impossible — recall
    is the only approximation, tuned by (band_bits, n_bands).

    ``max_bucket_size`` is the hot-bucket guard for skewed corpora: a
    bucket of B vectors costs B²/2 pair evaluations, and it is one
    kernel group, so its memory is ``PAIR_TILE × B`` doubles per
    temporary (as ``near_dup_pairs`` says for clusters). One degenerate
    bucket (near-duplicate floods, zero vectors, an uninformative band)
    could recreate the quadratic blow-up this operator exists to avoid.
    Buckets over the cap are DROPPED — standard LSH-dedup hygiene:
    members of a flooded bucket almost always co-occur in another,
    smaller bucket (that is what multiple bands are for), so the recall
    cost is marginal. None disables the cap and bounds nothing: it is
    for test-sized inputs only (the oracle-matched exact-recall
    configuration of ``dedup_embedding_cosine``, whose largest bucket
    at sf0.1 holds 220 vectors). All-zero vectors, for one, share a
    bucket in every band, so an uncapped production run can hold an
    unbounded group in one Python worker; pass a cap there.

    Recall physics: P(bit agrees) = 1 − θ/π. At production near-dup
    thresholds (cosine ≥ 0.8, p ≥ 0.8/bit) defaults like b=8/L=16 prune
    candidates ~10× with >99.9% recall. The catalog query runs
    threshold 0.4 (this synthetic corpus has no closer pairs), where
    p = 0.63 vs 0.5 for random pairs — thin separation, so exact recall
    needs b=4/L=32 and prunes only ~15%: the honest floor for dense
    vectors at a near-random threshold. The plan is the scale-correct
    one regardless; tighten the threshold and the same plan prunes hard.
    """
    from data_warehouse_migration_spark.operators.layout import (
        widen_narrow_input,
    )
    from data_warehouse_migration_spark.operators.semdedup import near_dup_pairs

    # One narrow parquet split would serialize the banding kernel on
    # one core; no-op at production input widths
    # (operators/layout.widen_narrow_input).
    buckets = _lsh_buckets(
        widen_narrow_input(vectors),
        dim,
        id_col,
        vec_col,
        band_bits,
        n_bands,
        seed,
        max_bucket_size,
    ).withColumn(
        "cluster", F.col("band").cast("long") * (1 << band_bits) + F.col("key")
    )
    return (
        near_dup_pairs(buckets, id_col, vec_col, threshold, round_to)
        .select(
            F.col("_a_id").alias("id_a"),
            F.col("_b_id").alias("id_b"),
            F.col("cos").alias("cosine"),
        )
        .distinct()
    )


def hyperplane_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH buckets + exact rescoring.

    Signature bit i = sign(v · h_i) with h_i a seeded Gaussian hyperplane
    generated once on the driver (see :func:`_gaussian_planes` for why
    Gaussian, not cheaper correlated directions); the bucket is all
    ``n_planes`` bits, packed 31 to an int. Same-bucket candidates are
    exact-rescored; recall is tunable via ``n_planes`` (fewer planes →
    bigger buckets → higher recall & cost). The bucket join shuffles
    only (bucket, id) pairs — the 100 TB-safe shape.

    ``dim`` is required: it is fixed by the embedding model, and
    inferring it would cost a driver action inside what must stay a
    pure plan-building function.
    """
    planes = _gaussian_planes(n_planes, dim, seed)

    def bucketed(df: DataFrame, side: str) -> DataFrame:
        vec = f"{side}_vec"
        return with_band_keys(
            df.select(F.col(id_col).alias(f"{side}_id"), F.col(vec_col).alias(vec)),
            planes,
            31,
            vec,
            "bucket",
        )

    q = F.broadcast(bucketed(queries, "q"))
    c = bucketed(vectors, "n")
    pairs = q.join(c, (F.col("q_id") != F.col("n_id")) & (q["bucket"] == c["bucket"]))
    return rescore_topk(pairs, k, round_to)


def _centroid_frame(spark, centroids: list[list[float]]) -> DataFrame:
    """The codebook as ``(c_id, c_vec)`` rows in ``c_id`` order, which
    is the order :func:`cross_cosine` breaks ties in."""
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(centroids)],
        "c_id int, c_vec array<double>",
    )


def _assign_nearest(
    vectors: DataFrame, c: DataFrame, side: str, keep: int, id_col: str, vec_col: str
) -> DataFrame:
    """``({side}_id, {side}_vec, cluster)``: each vector's ``keep``
    nearest centroids of ``c`` (cosine, lowest-id ties)."""
    sid, svec = f"{side}_id", f"{side}_vec"
    df = vectors.select(F.col(id_col).alias(sid), F.col(vec_col).alias(svec))
    return cross_cosine(
        df, c, svec, "c_vec", "__sim", [sid, svec, "c_id"], top=keep
    ).select(sid, svec, F.col("c_id").alias("cluster"))


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    round_to: int = 6,
    centroids: list[list[float]] | None = None,
    train_iters: int = 3,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer —
    the other classic ANN scale path next to :func:`hyperplane_lsh_topk`.

    Index build: centroids come from the Lloyd's-iteration trainer
    (``operators/clustering.kmeans``, deterministic lowest-id init,
    ``train_iters`` sweeps — per-iteration driver traffic is k×dim
    floats only), or pass ``centroids`` to reuse a trained/offline
    codebook. Every corpus vector is assigned to its nearest centroid
    (one N×C cosine pass, C tiny, centroids held in the cosine
    kernel). Query: probe the ``n_probe`` nearest centroid lists and
    exact-rescore only those — expected cost |Q| × N × n_probe/
    n_centroids instead of |Q| × N. (Training minimizes Euclidean
    distance while probing ranks by cosine — the classic IVF-flat
    pairing; on near-constant-norm embeddings the two orderings agree.)

    100 TB: train on a hash_sample of the corpus (centroid quality
    needs a sample, not the population), then the corpus shuffles ONCE
    on cluster id at build time and is written bucketed by cluster;
    each query touches n_probe buckets. Hot clusters (skewed data) are
    the known IVF failure mode — split them by re-quantizing the big
    list (or salt the bucket join, operators/skew.py).
    """
    if centroids is None:
        from data_warehouse_migration_spark.operators.clustering import kmeans

        centroids, _ = kmeans(
            vectors, k=n_centroids, max_iter=train_iters,
            id_col=id_col, vec_col=vec_col,
        )
    c = _centroid_frame(vectors.sparkSession, centroids)

    corpus = _assign_nearest(vectors, c, "n", 1, id_col, vec_col)
    probes = _assign_nearest(queries, c, "q", n_probe, id_col, vec_col)

    pairs = probes.join(corpus, "cluster").filter(F.col("q_id") != F.col("n_id"))
    return rescore_topk(pairs, k, round_to)


def write_ivf_index(
    vectors: DataFrame,
    index_dir: str,
    n_centroids: int = 16,
    train_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Materialize the IVF index AT REST — the corpus's one build-time
    shuffle, paid once instead of per query batch:

    - ``{index_dir}/centroids``: the trained codebook (k rows);
    - ``{index_dir}/lists/cluster=J/``: every corpus vector in its
      inverted list, written ``partitionBy('cluster')`` — so a probe
      reads ONLY the probed lists' files via partition pruning, which
      is the literal meaning of "inverted file" on a data lake.

    Returns the centroids (also persisted) for offline reuse."""
    if centroids is None:
        from data_warehouse_migration_spark.operators.clustering import kmeans

        centroids, _ = kmeans(
            vectors, k=n_centroids, max_iter=train_iters,
            id_col=id_col, vec_col=vec_col,
        )
    c = _centroid_frame(vectors.sparkSession, centroids)
    assigned = _assign_nearest(vectors, c, "n", 1, id_col, vec_col)
    (
        assigned.repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{index_dir}/lists")
    )
    c.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/centroids")
    return centroids


def read_ivf_centroids(spark, index_dir: str) -> list[list[float]]:
    rows = spark.read.parquet(f"{index_dir}/centroids").orderBy("c_id").collect()
    return [[float(x) for x in r["c_vec"]] for r in rows]


def ivf_topk_from_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Probe a persisted :func:`write_ivf_index`: rank centroids per
    query (the k×dim codebook rides in the cosine kernel), collect the
    UNION of probed cluster ids (≤ n_centroids ints — driver-sized by
    construction), and scan ``lists/`` with ``cluster IN (…)`` so
    partition pruning skips every unprobed list's files
    (test-asserted via the scanned-file set). Scoring/top-k math is
    identical to :func:`ivf_topk` — same results when built from the
    same codebook. Returns a MATERIALIZED local frame (q×k rows —
    driver-small by construction), which lets the probe assignment be
    persisted across its two consumers and released before return."""
    centroids = read_ivf_centroids(spark, index_dir)
    c = _centroid_frame(spark, centroids)
    # Persist the (small) probe assignment: it feeds BOTH the probed-
    # cluster-id collect and the scoring join — unpersisted, the
    # query×centroid assignment ran twice per lookup (review finding).
    probes = _assign_nearest(queries, c, "q", n_probe, id_col, vec_col).persist()
    try:
        probed = sorted(
            {r["cluster"] for r in probes.select("cluster").distinct().collect()}
        )
        lists = spark.read.parquet(f"{index_dir}/lists").filter(
            F.col("cluster").isin(probed)
        )
        out = rescore_topk(
            probes.join(lists, "cluster").filter(F.col("q_id") != F.col("n_id")),
            k,
            round_to,
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        probes.unpersist()


def pseudo_embedding(text: Column, dim: int = 16) -> Column:
    """Deterministic text → dense vector stand-in for an embedding
    model: component j = md5(j '|' text)'s first 8 hex nibbles scaled
    to [-1, 1). The MODEL is the stub (the container ships no encoder,
    the multimodal-decode principle); the PLUMBING — schema
    array<double>, per-chunk vectorization, index build, top-k
    retrieval — is real, engine-portable, and value-attested (the
    DuckDB oracle recomputes every component bit-for-bit, which no
    real float32 model inference would allow).

    Swap-in contract for a real encoder: replace this Column with an
    Arrow-batched ``pandas_udf`` returning array<float> (the
    operators/multimodal.py pattern); everything downstream
    (brute-force / LSH / IVF / PQ top-k) is unchanged.

    Cost shape: dim md5 calls per row, computed inside codegen —
    row-local, zero shuffle, linear scan.
    """
    comps = [
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{j}|"), text)), 1, 8), 16, 10
            ).cast("double")
            / F.lit(float(2**31))
            - F.lit(1.0)
        )
        for j in range(dim)
    ]
    return F.array(*comps)
