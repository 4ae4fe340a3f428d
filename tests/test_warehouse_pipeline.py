"""End-to-end reference-parity test: landing CSV → Bronze → Silver →
Gold star schema, including SCD2 evolution across two runs and
point-in-time attribution to an expired version — the full behavior of
the reference pipeline (SURVEY.md §3)."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from data_warehouse_migration_spark.plans import jde_warehouse as W
from data_warehouse_migration_spark.plans.fixtures import generate_landing
from data_warehouse_migration_spark.plans.pipeline import Stage, run_pipeline
from data_warehouse_migration_spark.sources.medallion import MedallionLayout

T1 = dt.datetime(2024, 1, 1)
T2 = dt.datetime(2024, 6, 1)


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh"))
    generate_landing(root, n_customers=20, n_orders=60, seed=42)
    out = W.run_warehouse(spark, root, now=T1)
    return root, out


def test_counts_and_star_query(spark, warehouse):
    root, out = warehouse
    counts = out["counts"]
    assert counts["Dim_Date"] == 7671  # reference cardinality
    assert counts["Dim_Customer"] == 20
    # orders whose DateKey is inside Dim_Date (1999 edge row drops out)
    assert 55 <= counts["Fact_Sales"] <= 60
    top10 = out["top10"]
    assert len(top10) == 10
    amounts = [r.ExtendedAmount for r in top10]
    assert amounts == sorted(amounts, reverse=True)
    assert all(r.CustomerName is not None or True for r in top10)


def test_silver_decode_values(spark, warehouse):
    root, _ = warehouse
    layout = MedallionLayout(root)
    silver = spark.read.parquet(layout.silver("CleanSalesOrders"))
    # Implicit decimals decoded: Quantity = SDUORG/100 ∈ [1,100] (or 0 edge)
    row = silver.filter(F.col("Quantity") > 0).first()
    assert Decimal("1.00") <= row.Quantity <= Decimal("100.00")
    assert row.UnitPrice >= Decimal("10.00")
    # safe-divide edge: SDUORG=0 row has UnitPrice 0
    zero = silver.filter(F.col("Quantity") == 0).collect()
    assert len(zero) == 1 and zero[0].UnitPrice == Decimal("0.00")
    # century-0 row decoded into 1999
    assert silver.filter(F.year("OrderDate") == 1999).count() == 1


def test_fact_excludes_dates_outside_dim_date(spark, warehouse):
    root, _ = warehouse
    layout = MedallionLayout(root)
    fact = spark.read.parquet(layout.gold("Fact_Sales"))
    assert fact.filter(F.col("DateKey") < 20200101).count() == 0


def test_scd2_second_run_and_pit_attribution(spark, warehouse):
    root, _ = warehouse
    layout = MedallionLayout(root)

    dim1 = spark.read.parquet(layout.gold("Dim_Customer"))
    assert dim1.filter(F.col("IsActive")).count() == 20

    # Mutate one customer's category in the landing file, re-run SCD2.
    import csv

    path = f"{root}/landing/F0101.csv"
    with open(path) as fh:
        rows = list(csv.DictReader(fh))
    victim = rows[1]["ABAN8"]
    rows[1]["ABAC01"] = "999"
    with open(path, "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=list(rows[0].keys()))
        w.writeheader()
        w.writerows(rows)

    from data_warehouse_migration_spark.sources.registry import ingest_bronze

    ingest_bronze(spark, layout, W.SOURCES)
    W.silver_clean_f0101(spark, layout)
    dim2 = W.gold_dim_customer(spark, layout, now=T2)

    assert dim2.count() == 21  # one new version
    versions = dim2.filter(F.col("CustomerID") == int(victim)).orderBy("ValidFrom")
    v = versions.collect()
    assert len(v) == 2
    assert not v[0].IsActive and v[0].ValidTo == T2
    assert v[1].IsActive and v[1].CategoryCode == "999"
    # surrogate keys stay dense & unique after re-assignment
    assert dim2.select("CustomerKey").distinct().count() == 21

    # PIT: reload facts — sales (dated 2023) must attribute to the
    # EXPIRED version (ValidFrom=T1), not the current one.
    fact2 = W.gold_fact_sales(spark, layout, now=T2)
    old_key = v[0].CustomerKey
    new_key = v[1].CustomerKey
    keys = {r.CustomerKey for r in fact2.select("CustomerKey").distinct().collect()}
    if fact2.filter(F.col("CustomerKey") == old_key).count() > 0:
        assert new_key not in keys or old_key in keys
    victim_sales = (
        spark.read.parquet(layout.silver("CleanSalesOrders"))
        .filter(F.col("CustomerID") == int(victim))
        .count()
    )
    if victim_sales:
        assert fact2.filter(F.col("CustomerKey") == old_key).count() > 0
        assert fact2.filter(F.col("CustomerKey") == new_key).count() == 0



#: Jobs per stage of one night on the ``generate_landing`` fixture, as
#: upper bounds. Every read of a table the chain wrote passes the
#: recorded schema (no footer-merge job), the Bronze row counts come
#: from the write, and the verification counts from the Parquet
#: footers, so one more inference read or count fails here.
NIGHT_JOB_BUDGET = {
    "ingest_bronze": 2,
    "silver_clean_f4211": 1,
    "silver_clean_f0101": 1,
    "gold_dim_date": 1,
    "gold_dim_customer": 3,
    "gold_fact_sales": 4,
    "verification": 3,
}


def test_nightly_job_budget_schemas_and_footer_counts(spark, tmp_path):
    import os

    from data_warehouse_migration_spark.sources.readers import parquet_row_count
    from data_warehouse_migration_spark.sources.registry import ingest_bronze
    from data_warehouse_migration_spark.sources.writers import read_back

    root = str(tmp_path)
    landed = generate_landing(root, n_customers=30, n_orders=90, seed=5)
    layout = MedallionLayout(root)
    sc, st = spark.sparkContext, spark.sparkContext.statusTracker()
    ungrouped = set(st.getJobIdsForGroup(None))
    for night, now in enumerate([T1, T2]):
        calls = {
            "ingest_bronze": lambda: ingest_bronze(spark, layout, W.SOURCES, str(now.date())),
            "silver_clean_f4211": lambda: W.silver_clean_f4211(spark, layout),
            "silver_clean_f0101": lambda: W.silver_clean_f0101(spark, layout),
            "gold_dim_date": lambda: W.gold_dim_date(spark, layout),
            "gold_dim_customer": lambda: W.gold_dim_customer(spark, layout, now),
            "gold_fact_sales": lambda: W.gold_fact_sales(spark, layout, now),
            "verification": lambda: W.verification(spark, layout),
        }
        jobs = {}
        try:
            for stage, call in calls.items():
                group = f"budget{night}:{stage}"
                sc.setJobGroup(group, stage)
                out = call()
                jobs[stage] = len(st.getJobIdsForGroup(group))
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        over = {s: (n, NIGHT_JOB_BUDGET[s]) for s, n in jobs.items()
                if n > NIGHT_JOB_BUDGET[s]}
        assert not over, f"night {night}: jobs over budget {over}"
        assert set(st.getJobIdsForGroup(None)) == ungrouped, "ungrouped jobs"

    tables = {
        "bronze F0101": layout.bronze("jde/F0101"),
        "bronze F4211": layout.bronze("jde/F4211"),
        "silver CleanSalesOrders": layout.silver("CleanSalesOrders"),
        "silver CleanCustomers": layout.silver("CleanCustomers"),
        "gold Dim_Date": layout.gold("Dim_Date"),
        "gold Dim_Customer": layout.gold("Dim_Customer"),
        "gold Fact_Sales": layout.gold("Fact_Sales"),
    }
    assert os.path.islink(tables["gold Dim_Customer"])
    for name, path in tables.items():
        inferred = spark.read.parquet(path)
        assert read_back(spark, path).schema == inferred.schema, name
        assert parquet_row_count(path) == inferred.count(), name
    assert dict(read_back(spark, tables["bronze F0101"]).dtypes)["ingest_date"] == "date"
    assert out["counts"] == {
        "Dim_Date": parquet_row_count(tables["gold Dim_Date"]),
        "Dim_Customer": landed["F0101"],
        "Fact_Sales": spark.read.parquet(tables["gold Fact_Sales"]).count(),
    }

def test_orchestrator_retry_and_failure_hook():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ValueError("transient")
        return "ok"

    res = run_pipeline([Stage("flaky", flaky, retries=2, retry_interval_s=0)])
    assert res.ok and res.outputs["flaky"] == "ok"

    alerts = []
    res2 = run_pipeline(
        [
            Stage("good", lambda: 1, retries=0),
            Stage("bad", lambda: 1 / 0, retries=1, retry_interval_s=0),
            Stage("never", lambda: 2, retries=0),
        ],
        on_failure=alerts.append,
    )
    assert not res2.ok and res2.failed == "bad"
    assert res2.succeeded == ["good"]
    assert alerts and alerts[0]["stage"] == "bad"
    assert "never" not in res2.outputs


def test_orchestrator_slow_success_is_not_rerun():
    """A stage that completes over its (soft) timeout succeeds on that
    attempt — its side effects must not be re-executed — and the
    overrun is recorded. Retry attempts get a fresh clock."""
    import time as _time

    calls = {"n": 0}

    def slow_effectful():
        calls["n"] += 1
        _time.sleep(0.05)
        return "done"

    res = run_pipeline(
        [Stage("slow", slow_effectful, retries=2, timeout_s=0.01)]
    )
    assert res.ok and calls["n"] == 1          # ran exactly once
    assert res.outputs["slow"] == "done"
    assert res.overruns["slow"] > 0.01

    # fresh per-attempt clock: a retry after a slow failure can still
    # finish inside budget and must not inherit the earlier elapsed time
    calls2 = {"n": 0}

    def fail_slow_then_fast():
        calls2["n"] += 1
        if calls2["n"] == 1:
            _time.sleep(0.05)
            raise ValueError("transient")
        return "ok"

    res2 = run_pipeline(
        [Stage("retry", fail_slow_then_fast, retries=1,
               retry_interval_s=0, timeout_s=0.04)]
    )
    assert res2.ok and res2.outputs["retry"] == "ok"
    assert "retry" not in res2.overruns
