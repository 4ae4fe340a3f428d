"""The PQ kernels of operators/vector_kernels.py against the fold
expressions they replaced (tests/vector_folds.py, all on the squared-L2
fold ``sq_dist_to``): the codes, the IVF-PQ probe ranking and residuals,
and the unrounded ADC sums, bit for bit (``float.hex``), on the inputs
of tests/test_clustering.py::_assign_case."""

from __future__ import annotations

import pytest
import vector_folds as folds
from pyspark.sql import functions as F
from test_clustering import _CASES, _SPLIT, _assign_case, _books, _hex

from data_warehouse_migration_spark.operators import vector_kernels
from data_warehouse_migration_spark.operators.clustering import assign_clusters
from data_warehouse_migration_spark.operators.quantization import (
    _encode,
    adc_pairs,
    pq_encode,
)


def _case(spark, case):
    rows, elem, cents = _assign_case(case)
    df = spark.createDataFrame(rows, f"vec_id int, embedding array<{elem}>")
    m, d = _SPLIT[case]
    return df.repartition(2), cents, _books(cents, m, d)


def _pairs(df):
    return sorted((r.q_id, r.n_id, _hex(r.adc_dist)) for r in df.collect())


@pytest.mark.parametrize("case", _CASES)
def test_pq_encode_matches_fold(spark, case):
    df, _, books = _case(spark, case)
    got = sorted((r.vec_id, r.codes) for r in pq_encode(df, books).collect())
    want = sorted((r.vec_id, r.codes) for r in folds.pq_encode(df, books).collect())
    assert got == want


@pytest.mark.parametrize("case", _CASES)
def test_adc_matches_fold(spark, case):
    df, _, books = _case(spark, case)
    codes = pq_encode(df, books)
    got = adc_pairs(codes, df, books)
    assert _pairs(got) == _pairs(folds.adc_pairs(codes, df, books))


@pytest.mark.parametrize("case", _CASES)
def test_ivf_pq_probes_residuals_and_adc_match_fold(spark, case):
    df, coarse, books = _case(spark, case)
    n_probe = 2
    query, probe, _, _ = vector_kernels.lookup_tables(
        df.orderBy("vec_id").toArrow(),
        vec_col="embedding",
        books=books,
        coarse=coarse,
        n_probe=n_probe,
    )
    ids = [r.vec_id for r in df.orderBy("vec_id").collect()]
    got = sorted((ids[q], int(c)) for q, c in zip(query, probe))
    want = sorted(
        (r.q_id, r.cluster)
        for r in folds.ivf_probes(df, coarse, n_probe).collect()
    )
    assert got == want

    assigned = assign_clusters(df, coarse).select("vec_id", "cluster", "embedding")
    residuals = assigned.mapInArrow(
        lambda it: vector_kernels.residuals(
            it,
            centroids=coarse,
            vec_col="embedding",
            cluster_col="cluster",
            out_col="residual",
        ),
        "vec_id int, cluster int, residual array<double>",
    )
    want_res = assigned.select(
        "vec_id",
        folds.residual(F.col("embedding"), coarse, F.col("cluster")).alias("r"),
    )

    def hexed(frame, col):
        return sorted(
            (r.vec_id, None if r[col] is None else [_hex(x) for x in r[col]])
            for r in frame.collect()
        )

    assert hexed(residuals, "residual") == hexed(want_res, "r")

    codes = _encode(residuals, books, "residual", "codes")
    got = adc_pairs(codes, df, books, coarse=coarse, n_probe=n_probe)
    want = folds.adc_pairs(codes, df, books, coarse=coarse, n_probe=n_probe)
    assert _pairs(got) == _pairs(want)


def test_sq8_decode_in_kernel_matches_zip_with_decode(spark):
    """The cosine kernel's SQ8 decode (``code·scale + lo``) against the
    ``zip_with`` decode it replaced, scored by the same kernel: bit for
    bit, with a NULL code, a short code vector and a NULL row."""
    import random

    from data_warehouse_migration_spark.operators.similarity import cross_cosine

    rng = random.Random(3)
    lo = [rng.uniform(-1, 0) for _ in range(8)]
    scale = [rng.uniform(0, 0.01) for _ in range(7)] + [0.0]
    rows = [(i, [rng.randrange(256) for _ in range(8)]) for i in range(40)]
    rows += [(40, [1, None, 3, 4, 5, 6, 7, 8]), (41, [1, 2, 3]), (42, None)]
    codes = spark.createDataFrame(rows, "n_id int, codes array<int>").repartition(2)
    q = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(3)],
        "q_id int, q_vec array<double>",
    )
    decoded = F.zip_with(
        F.zip_with(
            F.col("codes"), folds.double_array_literal(scale),
            lambda c, s: c.cast("double") * s,
        ),
        folds.double_array_literal(lo),
        lambda cs, lv: cs + lv,
    )
    names = ["q_id", "n_id"]
    got = cross_cosine(codes, q, "codes", "q_vec", "cos", names, decode=(scale, lo))
    want = cross_cosine(
        codes.select("n_id", decoded.alias("n_vec")), q, "n_vec", "q_vec", "cos", names
    )

    def rows_of(df):
        return sorted((r.q_id, r.n_id, _hex(r.cos)) for r in df.collect())

    assert rows_of(got) == rows_of(want)
