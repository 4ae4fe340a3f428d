"""The cosine and hyperplane-sign kernels
(operators/vector_kernels.pair_cosine / cross_cosine / band_keys)
against the Spark folds they replaced (tests/vector_folds.py): bit for
bit by ``float.hex``, with NULLs in the same positions."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from vector_folds import band_keys, cosine, projection

from data_warehouse_migration_spark.operators import vector_kernels
from data_warehouse_migration_spark.operators.similarity import (
    _gaussian_planes,
    brute_force_topk,
    cross_cosine,
    with_band_keys,
    with_cosine,
)

_NAN, _INF = float("nan"), float("inf")


def _cosine_case(name):
    """(rows of (pair_id, a, b), element type)."""
    rng = random.Random(13)
    if name in ("random_float32", "random_double"):
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(16)], [rng.gauss(0, 1) for _ in range(16)])
            for i in range(300)
        ]
        return rows, "float" if name == "random_float32" else "double"
    if name == "ties":
        # Equal scores from different pairs: scaled, repeated, negated
        # and orthogonal vectors.
        a = [0.3, -0.7, 0.2]
        rows = [
            (0, a, a),
            (1, a, [2 * x for x in a]),
            (2, a, [0.5 * x for x in a]),
            (3, a, [-x for x in a]),
            (4, [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),
            (5, [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]),
            (6, [1.0, 1.0, 0.0], [1.0, 0.0, 1.0]),
            (7, [0.0, 1.0, 1.0], [1.0, 1.0, 0.0]),
        ]
        return rows, "double"
    if name == "zero_vector":
        rows = [
            (0, [0.0, 0.0, 0.0], [0.0, 0.0, 0.0]),
            (1, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),
            (2, [1.0, 2.0, 3.0], [-0.0, 0.0, -0.0]),
            (3, [-0.0, -0.0, -0.0], [-1.0, 0.0, 0.0]),
        ]
        return rows, "float"
    if name == "non_finite":
        rows = [
            (0, [_NAN, 1.0], [1.0, 1.0]),
            (1, [1.0, 1.0], [_INF, 0.0]),
            (2, [-_INF, 0.0], [_INF, 0.0]),
            (3, [1e200, 1e200], [1.0, 1.0]),
            (4, [1e-200, 1e-200], [1e-200, 1e-200]),
            (5, [0.0, 0.0], [_NAN, _NAN]),
            (6, [1e200, 1e200], [1e200, 1e200]),
        ]
        return rows, "double"
    if name == "nulls":
        rows = [
            (0, None, [1.0, 1.0]),
            (1, [1.0, 1.0], None),
            (2, [1.0, None], [1.0, 1.0]),
            (3, [0.0, 0.0], [None, 1.0]),
            (4, None, None),
            (5, [0.0, 0.0], [0.0, 0.0]),
            (6, [1.0, 2.0], [2.0, 1.0]),
        ]
        return rows, "float"
    if name == "ragged":
        # Different lengths: NULL cosine, except 0.0 when a norm is 0.
        rows = [
            (0, [1.0, 1.0], [1.0, 1.0, 0.0]),
            (1, [0.0, 0.0, 0.0, 0.0], [1.0, 1.0]),
            (2, [], []),
            (3, [], [1.0]),
            (4, [2.0, 2.0], [2.0, 2.0]),
            (5, [1.0, 2.0, 3.0], [3.0]),
        ]
        return rows, "double"
    raise KeyError(name)


def _hex(x):
    return None if x is None else x.hex()


@pytest.mark.parametrize(
    "case",
    ["random_float32", "random_double", "ties", "zero_vector", "non_finite", "nulls", "ragged"],
)
def test_pair_cosine_bit_identical_to_fold(spark, case):
    rows, elem = _cosine_case(case)
    df = spark.createDataFrame(
        rows, f"pair_id int, a array<{elem}>, b array<{elem}>"
    ).repartition(2)
    got = {r.pair_id: _hex(r.cos) for r in with_cosine(df, "a", "b", "cos").collect()}
    want = {
        r.pair_id: _hex(r.cos)
        for r in df.select("pair_id", cosine(F.col("a"), F.col("b")).alias("cos")).collect()
    }
    assert got == want
    assert len(got) == len(rows)


@pytest.mark.parametrize(
    "case",
    ["random_float32", "random_double", "ties", "zero_vector", "non_finite", "nulls", "ragged"],
)
def test_cross_cosine_bit_identical_to_fold(spark, case):
    """Every ``a`` of the case against every ``b`` held in the kernel."""
    rows, elem = _cosine_case(case)
    rows = rows[:40]
    a = spark.createDataFrame(
        [(i, x) for i, x, _ in rows], f"a_id int, a array<{elem}>"
    ).repartition(2)
    b = spark.createDataFrame([(i, y) for i, _, y in rows], f"b_id int, b array<{elem}>")
    got = {
        (r.a_id, r.b_id): _hex(r.cos)
        for r in cross_cosine(a, b, "a", "b", "cos", ["a_id", "b_id"]).collect()
    }
    want = {
        (r.a_id, r.b_id): _hex(r.cos)
        for r in a.crossJoin(b)
        .select("a_id", "b_id", cosine(F.col("a"), F.col("b")).alias("cos"))
        .collect()
    }
    assert got == want
    assert len(got) == len(rows) ** 2


def test_cross_cosine_top_is_spark_order(spark):
    """``top`` keeps what ``row_number() OVER (ORDER BY cos DESC,
    b_id)`` keeps: NaN first, NULL last, exact ties to the lower id."""
    small = [
        (0, [1.0, 2.0, 0.0]),
        (1, [2.0, 4.0, 0.0]),  # ties with 0
        (2, [_NAN, 1.0, 0.0]),  # NaN
        (3, [1.0, 1.0]),  # NULL: other length
        (4, [-1.0, 0.0, 0.5]),
        (5, None),  # NULL
        (6, [0.0, 0.0, 0.0]),  # 0.0
        (7, [0.5, 1.0, 0.0]),  # ties with 0
    ]
    a = spark.createDataFrame(
        [(0, [1.0, 2.0, 0.0]), (1, [-2.0, 0.0, 1.0]), (2, [0.0, 0.0, 0.0]), (3, None)],
        "a_id int, a array<double>",
    )
    b = spark.createDataFrame(small, "b_id int, b array<double>")
    w = Window.partitionBy("a_id").orderBy(F.col("cos").desc(), F.col("b_id"))
    ranked = (
        a.crossJoin(b)
        .withColumn("cos", cosine(F.col("a"), F.col("b")))
        .withColumn("r", F.row_number().over(w))
    )
    for top in (1, 3, 8):
        got = cross_cosine(a, b, "a", "b", "cos", ["a_id", "b_id"], top=top)
        want = ranked.filter(F.col("r") <= top)
        assert sorted((r.a_id, r.b_id, _hex(r.cos)) for r in got.collect()) == sorted(
            (r.a_id, r.b_id, _hex(r.cos)) for r in want.collect()
        )


def test_brute_force_topk_matches_fold_ranking(spark, sf_dir):
    """The wired exact top-k: same neighbors, rounded cosine bits and
    ranks as the fold it ran on before."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    got = sorted(
        (r.q_id, r.n_id, r.cosine.hex(), r.rank)
        for r in brute_force_topk(emb, q, k=5).collect()
    )
    pairs = q.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")).join(
        emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec")),
        F.col("q_id") != F.col("n_id"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    fold = (
        pairs.withColumn("cosine", F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    want = sorted((r.q_id, r.n_id, r.cosine.hex(), r.rank) for r in fold.collect())
    assert got == want and len(got) == 8 * 5


def test_band_keys_kernel_matches_fold(spark, sf_dir):
    """Row-for-row key equality on the fixture, plus every projection
    by ``float.hex``."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    planes = _gaussian_planes(32 * 4, 64, seed=42)
    fold = vecs.select(
        "vec_id",
        band_keys(F.col("embedding"), planes, 4).alias("k"),
        F.array(*[projection(F.col("embedding"), h) for h in planes]).alias("p"),
    ).collect()
    kernel = with_band_keys(vecs.select("vec_id", "embedding"), planes, 4, "embedding", "k")
    assert {r.vec_id: r.k for r in kernel.collect()} == {r.vec_id: r.k for r in fold}

    fold = sorted(fold)
    embs = {r.vec_id: r.embedding for r in vecs.collect()}
    rows = np.array([embs[r.vec_id] for r in fold], dtype=np.float32).astype(np.float64)
    proj = vector_kernels.projections(rows, np.asarray(planes))
    assert [[x.hex() for x in p] for p in proj.tolist()] == [
        [x.hex() for x in r.p] for r in fold
    ]


def test_band_keys_sign_of_a_cancelling_projection(spark, sf_dir):
    """A projection that cancels to exactly 0.0 when summed left to
    right (bit 1), next to 199 fixture rows in one Arrow batch. A BLAS
    ``v @ planes.T`` over that (200, 64) × (64, 128) batch keeps the
    product's rounding error in a fused multiply-add and gets
    −1.3e-16 (bit 0); the kernel must say what the fold says. NaN,
    NULL and short vectors ride along."""
    x = 1.6369616873214543  # fl(x·x) rounds x·x up
    planes = _gaussian_planes(32 * 4, 64, seed=42)
    planes[0] = [x * x, x] + [0.0] * 62
    special = [
        (-1, [-1.0, x] + [0.0] * 62),
        (-2, [_NAN] + [0.0] * 63),
        (-3, None),
        (-4, [1.0, None] + [0.0] * 62),
        (-5, [1.0]),
    ]
    fixture = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .limit(199)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    df = fixture.unionByName(
        spark.createDataFrame(special, "vec_id int, embedding array<double>")
    ).coalesce(1)
    fold = df.select(
        "vec_id",
        band_keys(F.col("embedding"), planes, 4).alias("k"),
        projection(F.col("embedding"), planes[0]).alias("p0"),
    ).collect()
    got = {r.vec_id: r.k for r in with_band_keys(df, planes, 4, "embedding", "k").collect()}
    assert got == {r.vec_id: r.k for r in fold}
    cancel = next(r for r in fold if r.vec_id == -1)
    assert cancel.p0 == 0.0 and cancel.k[0] >> 3 == 1
