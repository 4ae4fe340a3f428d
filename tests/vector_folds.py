"""The Spark higher-order-function folds that operators/vector_kernels
replaced, kept as test references: every kernel must match them bit
for bit (``float.hex``), NULLs included.

Each sum is ``aggregate(..., 0.0, acc + x)`` over ``zip_with`` /
``transform`` products, so it runs left to right in float64 and is
NULL when a vector or a component is NULL or the lengths differ
(``zip_with`` pads the shorter side with NULL).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


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
    from data_warehouse_migration_spark.operators.clustering import (
        double_array_literal,
    )

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
