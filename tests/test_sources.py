"""Reader drift tolerance, registry config loading, atomic writer."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from data_warehouse_migration_spark.sources.readers import read_csv, read_parquet
from data_warehouse_migration_spark.sources.registry import load_source_config
from data_warehouse_migration_spark.sources.writers import atomic_overwrite_parquet


def test_read_parquet_declared_schema_drift(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 9.5)], "id int, name string, extra double"
    ).write.parquet(path)
    declared = StructType(
        [
            StructField("id", IntegerType()),
            StructField("name", StringType()),
            StructField("missing_col", StringType()),  # absent in file
        ]
    )
    df = read_parquet(spark, path, declared)
    assert df.columns == ["id", "name", "missing_col"]  # extra dropped
    row = df.first()
    assert row.id == 1 and row.name == "a" and row.missing_col is None


def test_read_csv_permissive_malformed_cell(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("a,b\n1,x\nnotanint,y\n")
    df = read_csv(spark, str(p), schema="a INT, b STRING")
    rows = {r.b: r.a for r in df.collect()}
    assert rows == {"x": 1, "y": None}  # malformed → NULL, not failure


def test_load_source_config(tmp_path):
    cfg = tmp_path / "source_config.json"
    cfg.write_text(json.dumps([
        {"sourceFile": "F0101.csv", "sinkPath": "jde/F0101",
         "description": "Address Book"},
    ]))
    entries = load_source_config(str(cfg))
    assert entries[0].source_file == "F0101.csv"
    assert entries[0].sink_path == "jde/F0101"


def test_atomic_overwrite_swaps_and_cleans(spark, tmp_path):
    path = str(tmp_path / "tbl")
    atomic_overwrite_parquet(spark.range(5), path)
    assert spark.read.parquet(path).count() == 5
    # overwrite with derived state reading the same path
    current = spark.read.parquet(path)
    atomic_overwrite_parquet(current.withColumn("x", F.lit(1)), path)
    df = spark.read.parquet(path)
    assert df.count() == 5 and "x" in df.columns
    # path is a pointer (symlink) whose flip is one atomic rename; the
    # default keeps the superseded version on disk (in-flight scans
    # that resolved the old target keep their files) — GC is
    # vacuum_versions' job, on the operator's schedule
    assert os.path.islink(path)
    live = os.path.basename(os.path.realpath(path))
    versions = sorted(d for d in os.listdir(tmp_path) if ".__v_" in d)
    assert len(versions) == 2 and live in versions
    # keep_old=False is the no-concurrent-readers fast path: the
    # superseded version (and the kept one from before) minus live
    atomic_overwrite_parquet(df.withColumn("y", F.lit(2)), path, keep_old=False)
    live2 = os.path.basename(os.path.realpath(path))
    versions2 = sorted(d for d in os.listdir(tmp_path) if ".__v_" in d)
    assert live2 in versions2 and live not in versions2


def test_partitioned_write_prunes_partitions_on_read(spark, tmp_path, sf_dir):
    """Time-partitioned bronze layout (reference: Table/Y/M/D) must
    enable partition pruning: a run-date filter shows up as a
    PartitionFilter and non-matching directories are never scanned."""
    from pyspark.sql import functions as F

    from data_warehouse_migration_spark.sources.writers import write_parquet

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "bronze_orders")
    write_parquet(orders, path, partition_by=["order_year"])

    one_year = spark.read.parquet(path).filter(F.col("order_year") == 1996)
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(order_year" in plan, plan
    expected = orders.filter(F.col("order_year") == 1996).count()
    assert one_year.count() == expected


def test_read_increment_high_watermark(spark, tmp_path):
    """Three scheduled runs over a growing table: each reads only rows
    newer than the persisted bookmark; re-running with no new data
    reads nothing and keeps the watermark."""
    import datetime as dt

    from data_warehouse_migration_spark.sources.readers import read_increment

    path = str(tmp_path / "inc")
    day = lambda d: dt.datetime(2024, 1, d)  # noqa: E731

    spark.createDataFrame(
        [(1, day(1)), (2, day(2))], "id int, ts timestamp"
    ).write.parquet(path)
    batch1, mark1 = read_increment(spark, path, "ts")
    assert {r.id for r in batch1.collect()} == {1, 2}
    assert mark1 == day(2)

    spark.createDataFrame(
        [(3, day(3)), (4, day(4))], "id int, ts timestamp"
    ).write.mode("append").parquet(path)
    batch2, mark2 = read_increment(spark, path, "ts", mark1)
    assert {r.id for r in batch2.collect()} == {3, 4}
    assert mark2 == day(4)

    batch3, mark3 = read_increment(spark, path, "ts", mark2)
    assert batch3.count() == 0
    assert mark3 == day(4)  # empty increment keeps the bookmark


def test_write_sorted_produces_disjoint_sorted_files(spark, tmp_path, sf_dir):
    import os

    from pyspark.sql import functions as F

    from data_warehouse_migration_spark.sources.writers import write_sorted

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "sorted")
    write_sorted(orders, path, ["o_orderkey"], partitions=4)

    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 4
    # each file internally sorted, and file key-ranges disjoint
    ranges = []
    for f in files:
        pdf = spark.read.parquet(f"{path}/{f}").select("o_orderkey").toPandas()
        ks = pdf["o_orderkey"].tolist()
        assert ks == sorted(ks)
        ranges.append((min(ks), max(ks)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # range-partitioned → whole-file skipping
    # nothing lost
    assert spark.read.parquet(path).count() == orders.count()


def test_read_jsonl_declared_schema_drift(spark, tmp_path):
    """JSONL with a declared schema: extra fields ignored, missing
    fields null, malformed lines null out — never fail (the raw-corpus
    ingest contract)."""
    from data_warehouse_migration_spark.sources.readers import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "extra": true}\n'
        '{"doc_id": 2, "text": "second"}\n'
        '{"doc_id": 3}\n'
        "not json at all\n"
    )
    df = read_jsonl(spark, str(p), "doc_id bigint, text string")
    rows = {r.doc_id: r.text for r in df.collect()}
    assert rows[1] == "hello world"
    assert rows[2] == "second"
    assert rows[3] is None
    assert None in rows  # malformed line arrives as an all-null row
    assert df.columns == ["doc_id", "text"]  # extra field pruned


def test_stage_to_parquet_rejects_second_frame_under_same_key(
    spark, tmp_path, monkeypatch
):
    """ADVICE r8 #3: two DIFFERENT frames staged under one name+scope
    in a process must raise, not silently overwrite — the first
    consumer's lazy read-back would otherwise serve the second
    frame's data. Re-staging the SAME frame (a bench re-run) stays
    allowed."""
    from data_warehouse_migration_spark.sources import writers

    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path))
    monkeypatch.setattr(writers, "_STAGED_KEYS", {})
    a = spark.range(5).withColumnRenamed("id", "k")
    out = writers.stage_to_parquet(a, "t", scope="s1")
    assert out.count() == 5
    # identical plan: idempotent re-run
    writers.stage_to_parquet(
        spark.range(5).withColumnRenamed("id", "k"), "t", scope="s1"
    )
    with pytest.raises(ValueError, match="already staged"):
        writers.stage_to_parquet(spark.range(7), "t", scope="s1")
    # distinct scope: no clash
    writers.stage_to_parquet(spark.range(7), "t", scope="s2")


def test_stage_root_sweep_removes_only_dead_pid_dirs(tmp_path):
    """VERDICT r8 "what's wrong" #3: scratch left by a SIGKILL'd
    process is cleared at the next process's first stage use; live
    (and non-pid) siblings survive."""
    from data_warehouse_migration_spark.sources.writers import (
        _sweep_dead_stage_roots,
    )

    base = tmp_path / "stages"
    base.mkdir()
    # a pid that is certainly dead: fork+exit and reap it
    dead = os.fork()
    if dead == 0:
        os._exit(0)
    os.waitpid(dead, 0)
    # Use our OWN pid as the alive fixture, not getppid(): under a
    # daemonized runner (nohup/setsid/container pid-1) the parent is
    # init, so pid{getppid()} collides with the hardcoded pid1 dir
    # below and the test fails before asserting anything (VERDICT r9
    # "what's wrong" #1).
    (base / f"pid{dead}").mkdir()
    (base / f"pid{os.getpid()}").mkdir()  # alive: this very process
    (base / "pid1").mkdir()  # init: alive, likely unsignalable
    (base / "not_a_pid_dir").mkdir()
    _sweep_dead_stage_roots(str(base))
    assert not (base / f"pid{dead}").exists()
    assert (base / f"pid{os.getpid()}").exists()
    assert (base / "pid1").exists()
    assert (base / "not_a_pid_dir").exists()


def _clear_job_group(sc):
    for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def test_ingest_bronze_jobs_carry_the_callers_job_group(spark, tmp_path):
    """The pool threads inherit the caller's job group: every Bronze
    write is in it, none is ungrouped, and the CSV is not re-parsed
    for the row counts (one write job per entry)."""
    from data_warehouse_migration_spark.plans import jde_warehouse as W
    from data_warehouse_migration_spark.plans.fixtures import generate_landing
    from data_warehouse_migration_spark.sources.medallion import MedallionLayout
    from data_warehouse_migration_spark.sources.registry import ingest_bronze

    root = str(tmp_path)
    want = generate_landing(root, n_customers=12, n_orders=30, seed=3)
    sc, st = spark.sparkContext, spark.sparkContext.statusTracker()
    ungrouped = set(st.getJobIdsForGroup(None))
    sc.setJobGroup("test:ingest_bronze", "ingest_bronze")
    try:
        counts = ingest_bronze(spark, MedallionLayout(root), W.SOURCES, "2024-01-01")
    finally:
        _clear_job_group(sc)
    assert counts == {"jde/F0101": want["F0101"], "jde/F4211": want["F4211"]}
    assert len(st.getJobIdsForGroup("test:ingest_bronze")) == len(W.SOURCES)
    assert set(st.getJobIdsForGroup(None)) == ungrouped


def test_read_back_uses_the_written_schema_until_another_commit(spark, tmp_path):
    """A table written whole by this process reads back with its recorded
    schema (no footer-merge job, same schema as inference, partition
    column typed as inference types it); once any other writer commits
    to the path, the read-back infers again."""
    from data_warehouse_migration_spark.sources.writers import read_back, write_parquet

    path = str(tmp_path / "t")
    df = spark.range(5).select(
        F.col("id").cast("int").alias("a"), F.lit("x").alias("b"),
        F.lit("2024-01-01").alias("d"),
    )
    write_parquet(df, path, partition_by=["d"])
    sc, st = spark.sparkContext, spark.sparkContext.statusTracker()
    sc.setJobGroup("test:read_back", "read_back")
    try:
        schema = read_back(spark, path).schema
    finally:
        _clear_job_group(sc)
    assert st.getJobIdsForGroup("test:read_back") == []
    assert schema == spark.read.parquet(path).schema
    assert schema["d"].dataType.simpleString() == "date"

    # another writer replaces the table with a different schema
    spark.range(3).select(F.col("id").alias("z")).write.mode("overwrite").parquet(path)
    assert read_back(spark, path).columns == ["z"]
    # an append keeps no record: the next read-back infers
    write_parquet(df.drop("d"), path)
    write_parquet(spark.range(2).select(F.col("id").cast("int").alias("a"),
                                        F.lit(1).alias("c")),
                  path, mode="append")
    got = read_back(spark, path)
    assert got.schema == spark.read.parquet(path).schema
