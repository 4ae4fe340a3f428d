"""SemDeDup invariants (operators/semdedup.py). The gate query
attests exact values vs DuckDB; these pin the structural guarantees
on synthetic data where ground truth is known by construction.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_warehouse_migration_spark.operators.semdedup import semdedup


def _vecs(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_semdedup_removes_planted_duplicates(spark):
    """Two tight groups of near-identical vectors + singletons: each
    group keeps exactly its lowest id; singletons survive. The k
    lowest ids are one per intended cluster — the deterministic
    lowest-id init means a DEGENERATE id layout (all of one group
    first) can split a group across clusters and miss its pairs, the
    paper's known recall caveat; real corpora don't sort by cluster."""
    def jitter(base, i, eps=1e-4):
        return [x + eps * i for x in base]

    g1 = [1.0, 0.0, 0.0, 0.0]
    g2 = [0.0, 1.0, 0.0, 0.0]
    rows = (
        [(0, g1), (1, g2)]
        + [(2, [0.0, 0.0, 1.0, 0.0]), (3, [0.0, 0.0, 0.0, 1.0])]
        + [(10 + i, jitter(g1, i + 1)) for i in range(2)]  # dup_of → 0
        + [(20 + i, jitter(g2, i + 1)) for i in range(2)]  # dup_of → 1
    )
    out = semdedup(_vecs(spark, rows), k=4, max_iter=3, tau=0.99).collect()
    verdict = {r.vec_id: r for r in out}
    assert sorted(i for i in verdict if verdict[i].kept) == [0, 1, 2, 3]
    assert all(verdict[i].dup_of == 0 for i in (10, 11))
    assert all(verdict[i].dup_of == 1 for i in (20, 21))


def test_semdedup_chain_minimum_always_kept(spark):
    """The lowest id of every cluster is kept (dup_of only ever points
    DOWN, so the chain minimum has no candidate keeper), and every
    removed vector names a strictly lower same-cluster id."""
    rows = [
        (i, [math.cos(i / 7.0), math.sin(i / 7.0), 0.1 * (i % 3), 1.0])
        for i in range(40)
    ]
    out = semdedup(_vecs(spark, rows), k=3, max_iter=2, tau=0.95)
    bad_direction = out.filter(
        F.col("dup_of").isNotNull() & (F.col("dup_of") >= F.col("vec_id"))
    ).count()
    assert bad_direction == 0
    cluster_min_removed = (
        out.withColumn(
            "cmin", F.min("vec_id").over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("cluster")
            )
        )
        .filter((F.col("vec_id") == F.col("cmin")) & ~F.col("kept"))
        .count()
    )
    assert cluster_min_removed == 0


def test_semdedup_orthogonal_corpus_keeps_everything(spark):
    rows = [(i, [1.0 if j == i else 0.0 for j in range(8)]) for i in range(8)]
    out = semdedup(_vecs(spark, rows), k=2, max_iter=2, tau=0.5)
    assert out.filter(~F.col("kept")).count() == 0


def test_hot_cluster_is_split_not_quadratic(spark):
    """Scale contract (r7, VERDICT r6 #2): a pathological input where
    one k-means cluster swallows (almost) everything must be
    recursively re-clustered under ``max_cluster_size`` — and on a
    SEPARABLE corpus the split succeeds: every final cluster fits the
    cap, and the keep rule still removes the planted duplicates."""
    import random

    rng = random.Random(11)
    # Two tight separable blobs, both initially captured by whichever
    # centroid the 2 lowest ids seed near (k=2 is forced too small).
    def blob(base, n, start):
        return [
            (start + i, [x + 1e-3 * rng.random() for x in base])
            for i in range(n)
        ]

    rows = blob([1.0, 0.0, 0.0, 0.0], 30, 0) + blob([0.0, 1.0, 0.0, 0.0], 30, 100)
    out = semdedup(
        _vecs(spark, rows),
        k=1,  # deliberately degenerate: everything in one cluster
        max_iter=2,
        tau=0.999999,
        target_cluster_size=30,
        max_cluster_size=35,
        max_split_depth=2,
    )
    sizes = [r["count"] for r in out.groupBy("cluster").count().collect()]
    assert max(sizes) <= 35, sizes  # the cap is enforced post-split
    # Each blob keeps its lowest id (dup search still runs per cluster).
    kept = sorted(r.vec_id for r in out.filter(F.col("kept")).collect())
    assert kept[0] == 0 and 100 in kept


def test_inseparable_hot_cluster_raises(spark):
    """Identical vectors cannot be centroid-split: after the depth
    budget the operator must raise loudly instead of silently running
    the N² within-cluster pair join."""
    import pytest

    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(20)]
    with pytest.raises(ValueError, match="max_cluster_size"):
        semdedup(
            _vecs(spark, rows),
            k=1,
            max_iter=1,
            tau=0.9,
            max_cluster_size=5,
            max_split_depth=1,
        )


def test_derived_defaults_match_fixed_k_on_small_corpus(spark):
    """k=None derives max(8, ceil(N/1024)) — for every attested test
    corpus that IS 8, so derived-k verdicts must equal the historical
    fixed k=8 run (the oracle-equivalence guarantee the r7 contract
    change relies on)."""
    import math

    rows = [
        (i, [math.cos(i / 5.0), math.sin(i / 3.0), 0.1 * (i % 7), 1.0])
        for i in range(60)
    ]
    derived = semdedup(_vecs(spark, rows), max_iter=2, tau=0.95)
    fixed = semdedup(_vecs(spark, rows), k=8, max_iter=2, tau=0.95)
    assert derived.exceptAll(fixed).count() == 0
    assert fixed.exceptAll(derived).count() == 0


# --- the numpy pair kernel against the self-join it replaced. ``_fold_pairs``
# is semdedup's former pair stage: an a.join(b, "cluster") self-join
# with the fold cosine of tests/vector_folds.py (per-vector norms, 0.0
# when the denominator is 0). Every case below must match it bit for
# bit (float.hex), both raw and after Spark's round + filter.

_NAN, _INF = float("nan"), float("inf")


def _fold_pairs(assigned, tau=None, round_to=None):
    from vector_folds import dot, l2_norm

    sized = assigned.withColumn("_nrm", l2_norm(F.col("embedding")))
    a = sized.select(
        "cluster",
        F.col("vec_id").alias("_a_id"),
        F.col("embedding").alias("_a_vec"),
        F.col("_nrm").alias("_a_nrm"),
    )
    b = sized.select(
        "cluster",
        F.col("vec_id").alias("_b_id"),
        F.col("embedding").alias("_b_vec"),
        F.col("_nrm").alias("_b_nrm"),
    )
    den = F.col("_a_nrm") * F.col("_b_nrm")
    cos = F.when(den == 0, F.lit(0.0)).otherwise(
        dot(F.col("_a_vec"), F.col("_b_vec")) / den
    )
    pairs = a.join(b, "cluster").filter(F.col("_a_id") < F.col("_b_id"))
    if round_to is None:
        pairs = pairs.withColumn("cos", cos).filter(F.col("cos").isNotNull())
    else:
        pairs = pairs.withColumn("cos", F.round(cos, round_to)).filter(
            F.col("cos") >= tau
        )
    return pairs.select("_a_id", "_b_id", "cos")


def _pair_case(name):
    """(rows of (vec_id, embedding, cluster), element type, tau)."""
    import random

    rng = random.Random(3)
    if name == "random_float32":
        rows = []
        for c in range(3):
            base = [rng.uniform(-1, 1) for _ in range(8)]
            for i in range(60):
                v = base if i % 3 else [rng.uniform(-1, 1) for _ in range(8)]
                rows.append((100 * c + i, [x + rng.gauss(0, 0.05) for x in v], c))
        return rows, "float", 0.9
    if name == "threshold_edge":
        # cos = tau + δ around the HALF_UP rounding boundary of round(·, 6).
        tau = 0.4
        rows = [(0, [1.0, 0.0], 0)]
        for i, d in enumerate((-6e-7, -5e-7, -5.000001e-7, -4e-7, 0.0, 4e-7)):
            c = tau + d
            rows.append((i + 1, [c, math.sqrt(1 - c * c)], 0))
        return rows, "double", tau
    if name == "zero_vector":
        rows = [(0, [0.0, 0.0, 0.0], 0), (1, [0.0, 0.0, 0.0], 0), (2, [1.0, 0.0, 0.0], 0)]
        return rows, "float", 0.0
    if name == "non_finite":
        rows = [
            (0, [_NAN, 1.0], 0),
            (1, [1.0, 1.0], 0),
            (2, [_INF, 0.0], 0),
            (3, [-_INF, 0.0], 0),
            (4, [1e200, 1e200], 0),
            (5, [1e-200, 1e-200], 0),
            (6, [0.0, 0.0], 0),
        ]
        return rows, "double", 0.4
    if name == "nulls":
        rows = [
            (0, None, 0),
            (1, [1.0, None], 0),
            (2, [1.0, 1.0], 0),
            (3, [1.0, 1.0], 0),
            (None, [1.0, 1.0], 0),
            (3, [1.0, 1.0], 0),  # a repeated id never pairs with itself
            (4, [0.0, 0.0], 0),
        ]
        return rows, "float", 0.0
    if name == "ragged":
        # Different lengths: NULL cosine, except 0.0 when a norm is 0.
        rows = [
            (0, [1.0, 1.0], 0),
            (1, [1.0, 1.0, 0.0], 0),
            (2, [0.0, 0.0, 0.0, 0.0], 0),
            (3, [0.0], 0),
            (4, [], 0),
            (5, [2.0, 2.0], 0),
        ]
        return rows, "double", 0.0
    if name == "tile":
        # One cluster wider than a 512-row tile, with planted
        # near-duplicates inside and across the tile boundary.
        rows = [(i, [rng.uniform(-1, 1) for _ in range(4)], 0) for i in range(700)]
        for dup, src in ((650, 3), (511, 512), (699, 600), (20, 10)):
            rows[dup] = (dup, [x + 1e-4 for x in rows[src][1]], 0)
        rows += [(1000 + i, [rng.uniform(-1, 1) for _ in range(4)], 1) for i in range(5)]
        return rows, "float", 0.999
    raise KeyError(name)


def _pair_rows(df):
    return sorted((r._a_id, r._b_id, r.cos.hex()) for r in df.collect())


_PAIR_CASES = [
    "random_float32",
    "threshold_edge",
    "zero_vector",
    "non_finite",
    "nulls",
    "ragged",
    "tile",
]


@pytest.mark.parametrize("case", _PAIR_CASES)
def test_pair_kernel_bit_identical_to_fold(spark, case):
    from functools import partial

    from data_warehouse_migration_spark.operators.semdedup import near_dup_pairs
    from data_warehouse_migration_spark.operators.vector_kernels import (
        cluster_pairs,
    )

    rows, elem, tau = _pair_case(case)
    assigned = spark.createDataFrame(
        rows, f"vec_id int, embedding array<{elem}>, cluster int"
    ).repartition(2)
    # Raw cosines of every non-NULL pair (threshold −inf keeps them all).
    raw = assigned.groupBy("cluster").applyInArrow(
        partial(
            cluster_pairs, id_col="vec_id", vec_col="embedding", threshold=-_INF
        ),
        "_a_id int, _b_id int, cos double",
    )
    assert _pair_rows(raw) == _pair_rows(_fold_pairs(assigned))
    # The wired stage: kernel candidates, then Spark's round + filter.
    got = _pair_rows(near_dup_pairs(assigned, "vec_id", "embedding", tau, 6))
    assert got == _pair_rows(_fold_pairs(assigned, tau, 6))
    if case in ("random_float32", "threshold_edge", "tile"):
        assert got  # the case exercises the filter, not just its absence


def test_pair_kernel_tiles_match_one_block():
    """The 512-row tiling is a memory bound only: tiled and untiled
    runs of the same cluster emit the same pairs."""
    import random

    import numpy as np

    from data_warehouse_migration_spark.operators import vector_kernels as vk

    rng = random.Random(5)
    rows = np.array([[rng.uniform(-1, 1) for _ in range(6)] for _ in range(1100)])
    lengths = np.full(len(rows), 6)
    ids = np.arange(len(rows))
    tiled = vk.cosine_pairs(rows, lengths, ids, 0.5)
    saved = vk.PAIR_TILE
    vk.PAIR_TILE = 4096
    try:
        whole = vk.cosine_pairs(rows, lengths, ids, 0.5)
    finally:
        vk.PAIR_TILE = saved
    key = lambda out: sorted(zip(out[0], out[1], (c.hex() for c in out[2])))  # noqa: E731
    assert key(tiled) == key(whole) and len(tiled[0]) > 0
