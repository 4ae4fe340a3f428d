"""SemDeDup — semantic deduplication in embedding space (Abbas et al.
2023, arXiv:2303.09540): k-means cluster the corpus embeddings, then
within each cluster remove every vector whose cosine similarity to a
lower-id cluster member meets the threshold, keeping one
representative per semantic near-dup group.

Why it is its own operator and not `cosine_near_dup_pairs`: all-pairs
cosine is O(N²) and dead at corpus scale. The paper's observation is
that semantic duplicates land in the SAME k-means cluster, so the
pair search only needs to run within clusters — O(Σ cᵢ²), which the
operator controls by choosing k so that E[cᵢ] = N/k stays bounded
(the paper uses k ≈ 11k clusters for 100M+ docs). The cluster
assignment itself is the zero-shuffle Arrow-batched pass of
operators/clustering.assign_clusters, and the pair search shuffles on
the cluster id only: one ``groupBy("cluster").applyInArrow`` whose
numpy kernel (operators/vector_kernels.cluster_pairs) scores each
cluster's pairs in 512-row tiles and emits only candidates near
``tau``; Spark applies the rounded threshold and keeps the lowest id.

Scale contract (ENFORCED, r7 — previously advisory): the O(Σ cᵢ²)
bound only holds if no single cluster grows quadratic-hot, so

- ``k`` defaults to ``max(8, ceil(N / target_cluster_size))`` —
  derived from the corpus, never a fixed constant that silently
  stops scaling when N grows 1000× (the paper's own k-scaling duty);
- every cluster is checked against ``max_cluster_size`` (default 8×
  the expected size — a genuinely hot cluster, not sampling noise);
  oversized clusters are RECURSIVELY RE-CLUSTERED (per-cluster
  sub-k-means, the paper's "re-cluster oversized clusters" remedy)
  up to ``max_split_depth`` times;
- a cluster still oversized after the depth budget — the degenerate
  case, e.g. millions of bit-identical vectors that no centroid
  split can separate — RAISES with the offending sizes instead of
  silently running an N² pair search.

The size check is a per-round ``groupBy(cluster).count().collect()``
— bounded by the number of clusters, never by N — and splitting runs
one sub-k-means per hot cluster (hot clusters are the skewed FEW by
definition; a corpus where EVERY cluster overflows needs a larger
``k``, which the derived default already provides).

Determinism: kmeans is the deterministic lowest-id-init Lloyd's with
rounded centroids; sub-cluster ids are allocated dense after the
parent range in ascending parent order, so every engine/rerun
produces the identical kept set — which is what lets a DuckDB oracle
re-derive it bit-for-bit (queries/llm_ops.semdedup_embeddings; the
oracle mirrors the derived-k formula in a params CTE. Splits never
trigger on the well-spread attested corpora — max observed cluster
is within 1.1× expected at every test SF — so the single-pass oracle
stays exact; the split path is pinned by tests/test_semdedup.py on
synthetic hot-cluster data instead).
"""

from __future__ import annotations

import math
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from data_warehouse_migration_spark.operators.clustering import (
    kmeans,
    static_tiny_jobs,
)
from data_warehouse_migration_spark.operators.vector_kernels import cluster_pairs


def derive_k(n_vectors: int, target_cluster_size: int = 1024, k_min: int = 8) -> int:
    """The default cluster count: enough clusters that the EXPECTED
    cluster size stays at ``target_cluster_size`` whatever the corpus
    grows to (N=100M, target=1024 → k≈98k — the same order as the
    paper's 11k-for-100M with its ~9k-doc clusters)."""
    return max(k_min, math.ceil(n_vectors / target_cluster_size))


def _split_oversized(
    assigned: DataFrame,
    sizes: dict[int, int],
    hot: list[int],
    next_id: int,
    max_iter: int,
    id_col: str,
    vec_col: str,
    target_cluster_size: int,
) -> tuple[DataFrame, int]:
    """One split round: re-cluster each hot cluster with its own
    deterministic sub-k-means and re-id the sub-clusters densely after
    ``next_id`` in ascending parent order."""
    cols = [id_col, vec_col, "cluster"]
    out = assigned.filter(~F.col("cluster").isin([int(c) for c in hot])).select(*cols)
    for parent in hot:
        sub = assigned.filter(F.col("cluster") == int(parent)).select(id_col, vec_col)
        sub_k = max(2, math.ceil(sizes[parent] / target_cluster_size))
        _, sub_assigned = kmeans(
            sub,
            k=sub_k,
            max_iter=max_iter,
            id_col=id_col,
            vec_col=vec_col,
            round_centroids=7,
        )
        out = out.unionByName(
            sub_assigned.select(
                id_col, vec_col, (F.col("cluster") + F.lit(next_id)).alias("cluster")
            )
        )
        next_id += sub_k
    return out, next_id


def near_dup_pairs(
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    tau: float,
    round_to: int,
) -> DataFrame:
    """Same-cluster pairs ``(_a_id, _b_id, cos)`` with ``_a_id <
    _b_id`` and ``round(cos, round_to) ≥ tau``.

    One ``groupBy("cluster").applyInArrow``: per cluster the numpy
    kernel (operators/vector_kernels.cluster_pairs) computes every
    pair's cosine — bit for bit the Spark fold kept as the test
    reference ``_fold_pairs`` in tests/test_semdedup.py — and emits
    only candidates within ``10**-round_to`` of ``tau``
    (or NaN). Spark then applies the exact rounded filter, so the
    rounding stays Spark's HALF_UP ``round``. :func:`semdedup` calls
    it only after the enforced ``max_cluster_size`` check, which
    bounds a cluster's kernel memory to ``PAIR_TILE ×
    max_cluster_size`` doubles per temporary."""
    id_type = assigned.schema[id_col].dataType
    schema = StructType(
        [
            StructField("_a_id", id_type),
            StructField("_b_id", id_type),
            StructField("cos", DoubleType()),
        ]
    )
    kernel = partial(
        cluster_pairs,
        id_col=id_col,
        vec_col=vec_col,
        threshold=tau - 10.0**-round_to,
    )
    return (
        assigned.select("cluster", id_col, vec_col)
        .groupBy("cluster")
        .applyInArrow(kernel, schema)
        .withColumn("cos", F.round("cos", round_to))
        .filter(F.col("cos") >= tau)
    )


def semdedup(
    vectors: DataFrame,
    k: int | None = None,
    max_iter: int = 3,
    tau: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    target_cluster_size: int = 1024,
    max_cluster_size: int | None = None,
    max_split_depth: int = 2,
) -> DataFrame:
    """Per-vector verdict ``(id, cluster, dup_of, kept)``.

    ``dup_of`` = the lowest-id same-cluster member with
    round(cosine, round_to) ≥ tau, NULL for kept representatives.
    A vector is removed even if its ``dup_of`` was itself removed —
    the paper's "keep one per group" via the transitive-free lowest-id
    rule (every removed vector names a keeper or an earlier member of
    the same chain; the minimum of each chain is always kept).

    ``k=None`` derives ``derive_k(N, target_cluster_size)``;
    ``max_cluster_size=None`` derives 8× the expected cluster size.
    See the module docstring for the enforced hot-cluster contract.
    """
    from data_warehouse_migration_spark.operators.layout import (
        widen_narrow_input,
    )

    # Count the RAW frame, before widening: N is partitioning-
    # independent, and counting through the widen exchange would pay
    # the repartition inside the sizing job for nothing (r16, §5
    # driver-job trimming).
    if k is None or max_cluster_size is None:
        n_vectors = vectors.count()
    # A narrow input (one parquet split) would serialize every stage
    # of the Lloyd's loop AND the broadcast-probe side of the pair
    # join on one core; widening is a no-op at production widths.
    vectors = widen_narrow_input(vectors)
    if k is None:
        k = derive_k(n_vectors, target_cluster_size)
    if max_cluster_size is None:
        max_cluster_size = 8 * max(target_cluster_size, math.ceil(n_vectors / k))

    _, assigned = kmeans(
        vectors,
        k=k,
        max_iter=max_iter,
        id_col=id_col,
        vec_col=vec_col,
        round_centroids=7,
    )
    # Hot-cluster enforcement: split until every cluster fits the cap,
    # raise if the depth budget runs out. The collect is k-bounded.
    next_id = k
    for depth in range(max_split_depth + 1):
        # k-bounded collect over one shuffle: statically planned
        # (clustering.static_tiny_jobs — AQE replan is a wasted driver
        # round trip on corpus-size-independent results).
        with static_tiny_jobs(assigned.sparkSession):
            sizes = {
                r["cluster"]: r["n"]
                for r in assigned.groupBy("cluster")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        hot = sorted(c for c, n in sizes.items() if n > max_cluster_size)
        if not hot:
            break
        if depth == max_split_depth:
            raise ValueError(
                "semdedup: cluster(s) still exceed max_cluster_size="
                f"{max_cluster_size} after {max_split_depth} split rounds: "
                f"{[(c, sizes[c]) for c in hot]} — the within-cluster pair "
                "join would be quadratic-hot. The vectors in these clusters "
                "are centroid-inseparable (e.g. near-identical); dedup them "
                "with exact/content hashing first or raise the cap "
                "explicitly."
            )
        assigned, next_id = _split_oversized(
            assigned,
            sizes,
            hot,
            next_id,
            max_iter,
            id_col,
            vec_col,
            target_cluster_size,
        )
    dup = (
        near_dup_pairs(assigned, id_col, vec_col, tau, round_to)
        .groupBy(F.col("_b_id").alias(id_col))
        .agg(F.min("_a_id").alias("dup_of"))
    )
    return (
        assigned.select(id_col, "cluster")
        .join(dup, id_col, "left")
        .withColumn("kept", F.col("dup_of").isNull())
    )
