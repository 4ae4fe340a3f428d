"""The four-branch ``scd2_merge`` that ``operators/scd2.scd2_merge``
replaced, kept as a test reference: the one-pass merge must give the
same rows (as a multiset) on every input, including inputs the chain
never produces (repeated snapshot keys, NULL keys, several active
versions of one key).

It routes the snapshot against the active versions with a left join,
then builds the next state as the union of four branches: expired
history untouched, active versions of changed keys expired (left-semi
join), the other active versions (left-anti join) and the new versions.
Both the semi and the anti join re-expand the routed subtree, so the
plan scans the dimension six times and hashes the snapshot three times.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_warehouse_migration_spark.functions.jde import row_hash
from data_warehouse_migration_spark.operators.scd2 import SCD2_COLS


def scd2_merge_reference(
    dim: DataFrame | None,
    snapshot: DataFrame,
    keys: str | list[str],
    attrs: list[str],
    now,
    first_version_from=None,
) -> DataFrame:
    keys = [keys] if isinstance(keys, str) else list(keys)
    now = now if isinstance(now, Column) else F.lit(now)
    first_from = (
        now
        if first_version_from is None
        else (
            first_version_from
            if isinstance(first_version_from, Column)
            else F.lit(first_version_from)
        )
    )

    snap = snapshot.select(*keys, *attrs).withColumn("RowHash", row_hash(*attrs))

    if dim is None:
        return (
            snap.withColumn("ValidFrom", first_from.cast("timestamp"))
            .withColumn("ValidTo", F.lit(None).cast("timestamp"))
            .withColumn("IsActive", F.lit(True))
        )

    active = dim.filter(F.col("IsActive"))
    inactive = dim.filter(~F.col("IsActive"))

    lookup = active.select(*keys, F.col("RowHash").alias("__cur_hash"))
    routed = snap.join(lookup, keys, "left")
    incoming = routed.filter(
        F.col("__cur_hash").isNull() | (F.col("__cur_hash") != F.col("RowHash"))
    )
    new_versions = (
        incoming.withColumn(
            "ValidFrom",
            F.when(F.col("__cur_hash").isNull(), first_from.cast("timestamp"))
            .otherwise(now.cast("timestamp")),
        )
        .drop("__cur_hash")
        .withColumn("ValidTo", F.lit(None).cast("timestamp"))
        .withColumn("IsActive", F.lit(True))
    )

    changed_keys = incoming.filter(F.col("__cur_hash").isNotNull()).select(*keys)
    expired = (
        active.join(changed_keys, keys, "left_semi")
        .withColumn("ValidTo", now.cast("timestamp"))
        .withColumn("IsActive", F.lit(False))
    )
    surviving_active = active.join(changed_keys, keys, "left_anti")

    out_cols = [*keys, *attrs, *SCD2_COLS]
    return (
        inactive.select(out_cols)
        .unionByName(expired.select(out_cols))
        .unionByName(surviving_active.select(out_cols))
        .unionByName(new_versions.select(out_cols))
    )
