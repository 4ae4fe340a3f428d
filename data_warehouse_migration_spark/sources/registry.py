"""Metadata-driven ingestion registry (SURVEY.md §2.12 C2-C3).

The reference's ``config/source_config.json`` is an array of
``{sourceFile, sinkPath, description}`` consumed by a Lookup feeding a
ForEach of Copy activities with ``batchCount: 4``
(PL_Ingest_Bronze.json:7-113). Here: dataclass entries + a driver loop
(optionally a 4-thread pool — Spark jobs from different threads run
concurrently on the same session, the local analogue of parallel Copy
activities; each pool thread carries the caller's job group, local
properties and tags).
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from data_warehouse_migration_spark.sources.medallion import MedallionLayout
from data_warehouse_migration_spark.sources.readers import read_csv
from data_warehouse_migration_spark.sources.writers import write_parquet


@dataclass(frozen=True)
class SourceEntry:
    source_file: str
    sink_path: str
    description: str = ""
    schema: StructType | str | None = None  # declared schema (optional)


def load_source_config(path: str) -> list[SourceEntry]:
    """Read a source_config.json-shaped file."""
    with open(path) as fh:
        raw = json.load(fh)
    return [
        SourceEntry(
            source_file=e["sourceFile"],
            sink_path=e["sinkPath"],
            description=e.get("description", ""),
        )
        for e in raw
    ]


def ingest_bronze(
    spark: SparkSession,
    layout: MedallionLayout,
    entries: list[SourceEntry],
    run_date: str | None = None,
    max_parallel: int = 4,
) -> dict[str, int]:
    """CSV→Parquet Bronze copy per registry entry (S1→S3→S2).

    Output is Hive-partitioned by ``ingest_date`` (the run date) so
    downstream reads prune to one date. Returns row counts per entry
    (the reference's Copy activity reports the same metric), observed
    on the write itself: no second parse of the CSV to count it.
    """
    run_date = MedallionLayout.run_date(run_date)

    def copy(entry: SourceEntry) -> tuple[str, int]:
        df = read_csv(spark, layout.landing(entry.source_file), schema=entry.schema)
        rows = Observation(f"ingest_bronze:{entry.sink_path}")
        out = df.withColumn("ingest_date", F.lit(run_date)).observe(
            rows, F.count(F.lit(1)).alias("rows")
        )
        write_parquet(
            out,
            layout.bronze(entry.sink_path),
            mode="overwrite",
            partition_by=["ingest_date"],
        )
        return entry.sink_path, rows.get["rows"]

    if max_parallel > 1 and len(entries) > 1:
        with ThreadPoolExecutor(max_workers=max_parallel) as pool:
            results = list(pool.map(inheritable_thread_target(spark)(copy), entries))
    else:
        results = [copy(e) for e in entries]
    return dict(results)
