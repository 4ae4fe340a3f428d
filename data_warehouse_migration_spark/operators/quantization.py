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

Every squared distance is ``nearest_centroid``'s ``Σ (v − c)·(v − c)``
on the numpy kernels of operators/vector_kernels.py.
:func:`train_pq_codebooks` is the package's one Lloyd's trainer
(``clustering.train_codebooks``) keyed by ``m`` subspaces;
:func:`pq_encode` is one ``mapInArrow``; :func:`pq_topk` holds the
per-query lookup tables (|Q|·m·k doubles) in the kernel, as
``similarity.cross_cosine`` holds queries, streams the codes through
one ``mapInArrow`` and keeps k per query in a window: no explode, join
or group-by over corpus × queries, and the corpus never decompresses.
"""

from __future__ import annotations

from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from data_warehouse_migration_spark.operators import vector_kernels
from data_warehouse_migration_spark.operators.clustering import (
    kmeans,
    static_tiny_jobs,
    train_codebooks,
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
    each of length ``dim // m`` (``dim`` must divide by ``m``), trained
    jointly by ``clustering.train_codebooks``; not rounded.

    Subvectors are assigned by k-means' rule (``nearest_centroid``):
    the lowest code on a tie, and a NULL distance (a NULL vector or
    component, or a short subvector) sorts first, so such a subvector
    goes to the lowest code whose distance is NULL — code 0 when every
    centroid has the full length. Its non-NULL components count towards
    that code's means.
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    return train_codebooks(vectors, k, m, dim // m, train_iters, id_col, vec_col)


def _replace(frame: DataFrame, kernel, vec_col: str, out_col: str, dtype) -> DataFrame:
    """``frame`` with ``vec_col`` replaced by the kernel's ``out_col``."""
    fields = [f for f in frame.schema.fields if f.name != vec_col]
    return frame.mapInArrow(
        partial(kernel, vec_col=vec_col, out_col=out_col),
        StructType(fields + [StructField(out_col, dtype)]),
    )


def _encode(frame: DataFrame, books, vec_col: str, out_col: str = "codes") -> DataFrame:
    kernel = partial(vector_kernels.pq_codes, books=books)
    return _replace(frame, kernel, vec_col, out_col, ArrayType(IntegerType()))


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """``(id_col, codes array<int>)``: nearest-centroid code per
    subspace, by k-means' rule (see :func:`train_pq_codebooks`), in one
    zero-shuffle ``mapInArrow`` with the codebooks in the kernel."""
    return _encode(vectors.select(id_col, vec_col), codebooks, vec_col, out_col)


def adc_pairs(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: list[list[float]] | None = None,
    n_probe: int = 0,
) -> DataFrame:
    """``(q_id, n_id, adc_dist)``, unrounded: approximate squared L2
    Σ_j lut[q][j][code_j] of every query and corpus row of ``codes``
    (``id_col``, ``codes``, and ``cluster`` with ``coarse``). The
    queries are collected here, when the plan is built; their tables
    (vector_kernels.lookup_tables; with ``coarse``, one per probed list
    of the ``n_probe`` nearest, on the query's residual) ride in one
    ``mapInArrow`` over the codes (vector_kernels.adc)."""
    q = queries.select(id_col, vec_col).toArrow()
    query, probe, luts, null = vector_kernels.lookup_tables(
        q, vec_col=vec_col, books=codebooks, coarse=coarse, n_probe=n_probe
    )
    kernel = partial(
        vector_kernels.adc,
        q_ids=q.column(id_col).combine_chunks().take(pa.array(query)),
        probe=probe,
        luts=luts,
        null=null,
        id_col=id_col,
    )
    cols = [id_col, "codes"] + (["cluster"] if coarse is not None else [])
    schema = StructType(
        [
            StructField("q_id", queries.schema[id_col].dataType),
            StructField("n_id", codes.schema[id_col].dataType),
            StructField("adc_dist", DoubleType()),
        ]
    )
    return codes.select(*cols).mapInArrow(kernel, schema)


def _adc_topk(scored: DataFrame, k: int, round_to: int) -> DataFrame:
    from data_warehouse_migration_spark.operators.similarity import top_k

    scored = scored.filter(F.col("q_id") != F.col("n_id"))
    return top_k(scored, k, round_to, score="adc_dist", descending=False)


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
    corpus: :func:`adc_pairs` rounded, lowest first, the neighbor id
    breaking ties (``similarity.top_k``)."""
    return _adc_topk(adc_pairs(codes, queries, codebooks, id_col, vec_col), k, round_to)


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
    RESIDUAL (vector − its centroid) is product-quantized: residuals
    within a list are small and centered, so the same code bits buy
    ~one extra bit of precision. Queries probe their ``n_probe``
    nearest lists and ADC-score only those lists' codes against their
    residual to each list's centroid (:func:`adc_pairs`).

    Every step is a zero-shuffle ``mapInArrow`` on the kernels. Scale:
    write the codes bucketed by cluster at rest (m bytes per vector);
    the tables are |Q|·n_probe·m·pq_k doubles. Skew: hot lists
    re-quantize or salt (operators/skew.py), same note as plain IVF.
    """
    coarse, assigned = kmeans(
        vectors, k=n_centroids, max_iter=train_iters,
        id_col=id_col, vec_col=vec_col,
    )
    residuals = _replace(
        assigned.select(id_col, "cluster", vec_col),
        partial(vector_kernels.residuals, centroids=coarse, cluster_col="cluster"),
        vec_col,
        "residual",
        ArrayType(DoubleType()),
    )
    books = train_pq_codebooks(
        residuals, dim=dim, m=m, k=pq_k,
        id_col=id_col, vec_col="residual", train_iters=train_iters,
    )
    codes = _encode(residuals, books, "residual")
    scored = adc_pairs(codes, queries, books, id_col, vec_col, coarse, n_probe)
    return _adc_topk(scored, k, round_to)


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
    with 4× smaller corpus rows: the codes stream once through the
    cosine kernel, which decodes them (``similarity.cross_cosine`` with
    ``decode``; ``code·scale`` then ``+ lo``, the two IEEE steps of the
    ``zip_with`` decode it replaced, so the vectors are bit-identical),
    and top-k is a per-query window. Decoding in the kernel drops the
    2·dim per-dimension ``F.lit`` literals and the interpreted
    ``zip_with``: in 6 interleaved fresh-JVM pairs (sf0.1, 4 cores) the
    first run of the query took 10.5 s (median) against 11.4 s with
    the ``zip_with``, lower in 5 of 6 pairs; warm runs were equal
    within noise (2.90 against 2.93 s). Near-lossless (8 bits/dim):
    recall vs the exact ranking is ~1.0."""
    from data_warehouse_migration_spark.operators.similarity import (
        cross_cosine,
        top_k,
    )

    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    n = codes.select(F.col(id_col).alias("n_id"), F.col("codes"))
    decode = (_sq8_scale(lo, hi), lo)
    scored = cross_cosine(
        n, q, "codes", "q_vec", "cosine", ["q_id", "n_id"], decode=decode
    )
    return top_k(scored.filter(F.col("q_id") != F.col("n_id")), k, round_to)
