"""The complete reference pipeline, Spark-first: JDE landing CSV →
Bronze Parquet → Silver (decoded) → Gold star schema.

This is the end-to-end parity showcase for
``justinarndt/data-warehouse-migration``:

- Bronze: metadata-driven CSV→Parquet copy (PL_Ingest_Bronze.json)
- Silver: DF_Clean_JDE — Julian decode, implicit decimals, safe-divide
  UnitPrice, business renames (DF_Clean_JDE.json:69-89)
- Gold:
  - Dim_Date via sequence+explode (dim_date.sql)
  - Dim_Customer via SCD2 merge with SHA-256 change detection
    (DF_SCD2_Customer.json) — atomic swap, no dual-sink window
  - Fact_Sales via point-in-time join to the customer version valid
    at order time (DF_Load_FactSales.json + fact_sales.sql:11-13)
  - verification counts + top-10 star query
    (load_gold_data.sql:101-128)

Every stage is a function over (spark, layout, run timestamp) so the
orchestrator (plans.pipeline) sequences them like PL_Master.

Jobs: every table the chain reads it wrote itself, so each read goes
through ``writers.read_back`` with the schema recorded at the write and
runs no footer-merge job (only a prior ``Dim_Customer`` written by
another process is inferred). The verification counts are the live
files' Parquet-footer row counts (``readers.parquet_row_count``), read
on the driver. What is left is the work: one write per table, the
SCD2 merge's key and surrogate-key exchanges, the point-in-time join
and the top-10 star query.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from data_warehouse_migration_spark.functions.calendar import build_dim_date
from data_warehouse_migration_spark.functions.jde import (
    date_key,
    implicit_decimal,
    julian_to_date,
)
from data_warehouse_migration_spark.operators.joins import point_in_time_join
from data_warehouse_migration_spark.operators.scd2 import (
    assign_surrogate_keys,
    scd2_merge,
)
from data_warehouse_migration_spark.sources.medallion import MedallionLayout
from data_warehouse_migration_spark.sources.readers import parquet_row_count
from data_warehouse_migration_spark.sources.registry import SourceEntry, ingest_bronze
from data_warehouse_migration_spark.sources.writers import (
    atomic_overwrite_parquet,
    read_back,
    write_parquet,
)

#: The reference's source registry (config/source_config.json:1-12) with
#: the declared schemas of DF_Clean_JDE.json:58-64 / DF_SCD2_Customer.json
#: (ABAC01/category is a STRING code — CSV inference would int-ify it).
SOURCES = [
    SourceEntry(
        "F0101.csv", "jde/F0101", "Address Book Master",
        schema="ABAN8 INT, ABALPH STRING, ABAT1 STRING, ABAC01 STRING, ABUPMJ INT",
    ),
    SourceEntry(
        "F4211.csv", "jde/F4211", "Sales Order Detail",
        schema="SDDOCO INT, SDDCTO STRING, SDAN8 INT, SDLITM STRING,"
               " SDTRDJ INT, SDUORG INT, SDAEXP INT",
    ),
]

MONEY = DecimalType(18, 2)


def silver_clean_f4211(spark: SparkSession, layout: MedallionLayout) -> DataFrame:
    """DF_Clean_JDE: decode + rename F4211 → Silver CleanSalesOrders."""
    bronze = read_back(spark, layout.bronze("jde/F4211"))
    order_date = julian_to_date("SDTRDJ")
    qty = implicit_decimal("SDUORG")
    amount = implicit_decimal("SDAEXP")
    unit_price = (
        F.when(F.col("SDUORG") != 0, F.col("SDAEXP").cast(MONEY) / F.col("SDUORG"))
        .otherwise(F.lit(0))
        .cast(MONEY)
    )
    silver = bronze.select(
        F.col("SDDOCO").alias("OrderNumber"),
        F.col("SDDCTO").alias("OrderType"),
        F.col("SDAN8").alias("CustomerID"),
        F.col("SDLITM").alias("ItemNumber"),
        order_date.alias("OrderDate"),
        date_key(order_date).alias("DateKey"),
        qty.alias("Quantity"),
        amount.alias("ExtendedAmount"),
        unit_price.alias("UnitPrice"),
    )
    write_parquet(silver, layout.silver("CleanSalesOrders"))
    return read_back(spark, layout.silver("CleanSalesOrders"))


def silver_clean_f0101(spark: SparkSession, layout: MedallionLayout) -> DataFrame:
    """Customer snapshot: decoded business view of F0101."""
    bronze = read_back(spark, layout.bronze("jde/F0101"))
    silver = bronze.select(
        F.col("ABAN8").alias("CustomerID"),
        F.col("ABALPH").alias("CustomerName"),
        F.col("ABAT1").alias("SearchType"),
        F.col("ABAC01").alias("CategoryCode"),
        julian_to_date("ABUPMJ").alias("UpdatedDate"),
    )
    write_parquet(silver, layout.silver("CleanCustomers"))
    return read_back(spark, layout.silver("CleanCustomers"))


def gold_dim_date(spark: SparkSession, layout: MedallionLayout) -> DataFrame:
    dim = build_dim_date(spark)
    write_parquet(dim, layout.gold("Dim_Date"))
    return read_back(spark, layout.gold("Dim_Date"))


def gold_dim_customer(
    spark: SparkSession,
    layout: MedallionLayout,
    now: dt.datetime,
) -> DataFrame:
    """SCD2 merge of the current customer snapshot into Dim_Customer.

    Incremental and idempotent-per-snapshot: re-running with an
    unchanged snapshot adds zero versions (hash-driven routing).
    """
    snapshot = read_back(spark, layout.silver("CleanCustomers"))
    path = layout.gold("Dim_Customer")
    existing = read_back(spark, path) if os.path.exists(path) else None
    attrs = ["CustomerName", "SearchType", "CategoryCode"]
    merged = scd2_merge(
        existing,
        snapshot.select("CustomerID", *attrs),
        keys="CustomerID",
        attrs=attrs,
        now=now,
        # First versions cover all history so historical facts attribute
        # (the reference's load-time ValidFrom silently drops them).
        first_version_from=dt.datetime(1900, 1, 1),
    )
    dim = assign_surrogate_keys(
        merged, "CustomerKey", order_by=["CustomerID", "ValidFrom"]
    )
    # The next state reads the current state → stage and swap atomically.
    atomic_overwrite_parquet(dim, path)
    return read_back(spark, path)


def gold_fact_sales(
    spark: SparkSession,
    layout: MedallionLayout,
    now: dt.datetime,
) -> DataFrame:
    """Point-in-time fact load (DF_Load_FactSales + fact_sales.sql:11-13):
    each sale attributed to the customer version valid at order time;
    DateKey validated against Dim_Date by left-semi check."""
    silver = read_back(spark, layout.silver("CleanSalesOrders"))
    dim_c = read_back(spark, layout.gold("Dim_Customer")).select(
        "CustomerID", "CustomerKey", "ValidFrom", "ValidTo"
    )
    dim_d = read_back(spark, layout.gold("Dim_Date")).select("DateKey")

    # PIT on the *date* axis (reference wraps ValidFrom/To in toDate,
    # DF_Load_FactSales.json:119) — compare dates, not timestamps.
    dim_c_dates = dim_c.select(
        "CustomerID",
        "CustomerKey",
        F.to_date("ValidFrom").alias("ValidFrom"),
        F.to_date("ValidTo").alias("ValidTo"),
    )
    attributed = point_in_time_join(
        silver, dim_c_dates, on="CustomerID", ts="OrderDate", how="left"
    )
    # FK-existence check against Dim_Date (J4 keeps no date payload →
    # left_semi, SURVEY.md §2.3).
    fact = (
        attributed.join(F.broadcast(dim_d), attributed.DateKey == dim_d.DateKey,
                        "left_semi")
        .withColumn("LoadDate", F.lit(now).cast("timestamp"))
        .select(
            "CustomerKey", "DateKey", "OrderNumber", "OrderType", "ItemNumber",
            "Quantity", "ExtendedAmount", "UnitPrice", "LoadDate",
        )
    )
    fact = assign_surrogate_keys(fact, "SalesKey", order_by=["OrderNumber"])
    write_parquet(fact, layout.gold("Fact_Sales"))
    return read_back(spark, layout.gold("Fact_Sales"))


def verification(spark: SparkSession, layout: MedallionLayout) -> dict:
    """The reference's warehouse checks (load_gold_data.sql:101-128):
    per-table counts (from the Parquet footers, no Spark job) + top-10
    star join by ExtendedAmount."""
    counts = {
        name: parquet_row_count(layout.gold(name))
        for name in ["Dim_Date", "Dim_Customer", "Fact_Sales"]
    }
    fact = read_back(spark, layout.gold("Fact_Sales"))
    dim_c = read_back(spark, layout.gold("Dim_Customer"))
    dim_d = read_back(spark, layout.gold("Dim_Date"))
    top = (
        fact.join(F.broadcast(dim_c), "CustomerKey")
        .join(F.broadcast(dim_d), "DateKey")
        .select("OrderNumber", "CustomerName", "FullDate", "ExtendedAmount")
        .orderBy(F.col("ExtendedAmount").desc(), "OrderNumber")
        .limit(10)
    )
    return {"counts": counts, "top10": top.collect()}


def run_warehouse(
    spark: SparkSession,
    root: str,
    now: dt.datetime | None = None,
    run_date: str | None = None,
) -> dict:
    """Full PL_Master equivalent. Returns the verification payload."""
    from data_warehouse_migration_spark.plans.pipeline import Stage, run_pipeline

    layout = MedallionLayout(root)
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    stages = [
        Stage("bronze", lambda: ingest_bronze(spark, layout, SOURCES, run_date)),
        Stage("silver_f4211", lambda: silver_clean_f4211(spark, layout)),
        Stage("silver_f0101", lambda: silver_clean_f0101(spark, layout)),
        Stage("gold_dim_date", lambda: gold_dim_date(spark, layout)),
        Stage("gold_dim_customer", lambda: gold_dim_customer(spark, layout, now)),
        Stage("gold_fact_sales", lambda: gold_fact_sales(spark, layout, now)),
        Stage("verification", lambda: verification(spark, layout)),
    ]
    result = run_pipeline(stages)
    if not result.ok:
        raise RuntimeError(f"stage {result.failed} failed: {result.error}")
    return result.outputs["verification"]
