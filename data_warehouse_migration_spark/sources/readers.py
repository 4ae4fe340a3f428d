"""Declared-schema readers with drift tolerance (SURVEY.md §1.3).

Every reference dataflow source sets ``allowSchemaDrift: true,
validateSchema: false`` (DF_Clean_JDE.json:66-67) — a *declared*
projection over possibly-wider files: extra columns tolerated, the
declared ones selected and cast. Spark equivalents below; both keep
column pruning effective (the select reaches the scan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
) -> DataFrame:
    """Landing-zone CSV: header, ``"`` quote, ``\\`` escape
    (ds_bronze_csv.json:21-24). With a declared schema, parse is
    PERMISSIVE (drift-tolerant: malformed cells → NULL, never fail);
    without, infer — the reference's config dataset does the same
    (``"schema": []``, header-inferred).
    """
    reader = (
        spark.read.option("header", header)
        .option("quote", '"')
        .option("escape", "\\")
        .option("mode", "PERMISSIVE")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def _project(df: DataFrame, declared: StructType | None) -> DataFrame:
    """The declared projection: select+cast the declared columns,
    matched case-insensitively; a missing one becomes NULL of its
    declared type."""
    if declared is None:
        return df
    have = {f.name.lower(): f.name for f in df.schema.fields}
    cols = []
    for field in declared.fields:
        src = have.get(field.name.lower())
        col = F.lit(None) if src is None else F.col(src)
        cols.append(col.cast(field.dataType).alias(field.name))
    return df.select(*cols)


def read_parquet(
    spark: SparkSession,
    path: str,
    declared: StructType | None = None,
) -> DataFrame:
    """Parquet with optional declared projection: select+cast only the
    declared columns (drift = extra columns tolerated, missing column =
    NULL of declared type — matching ADF's drift posture rather than
    failing the read)."""
    return _project(spark.read.parquet(path), declared)


def parquet_row_count(path: str) -> int:
    """Row count of the Parquet table at ``path``, summed from the
    footers of its live files on the driver: no Spark job.

    Live files are the ones a scan lists: the tree under ``path``
    (symlinks followed, partition directories included) minus hidden
    names, those starting with ``.`` or with ``_`` (unless they hold a
    ``key=value`` partition). Each footer holds its row groups' row
    counts, the same numbers ``DataFrame.count()`` adds up. Local
    filesystems only, like the atomic swap in ``sources.writers``.
    """
    import pyarrow.parquet as pq

    def live(name: str) -> bool:
        return not name.startswith(".") and (not name.startswith("_") or "=" in name)

    total = 0
    for dirpath, dirnames, filenames in os.walk(os.path.realpath(path)):
        dirnames[:] = [d for d in dirnames if live(d)]
        for name in filenames:
            if live(name):
                total += pq.read_metadata(os.path.join(dirpath, name)).num_rows
    return total


def read_orc(
    spark: SparkSession,
    path: str,
    declared: StructType | None = None,
) -> DataFrame:
    """ORC with the same optional declared-projection drift posture as
    :func:`read_parquet` — extra columns tolerated, missing columns
    NULL of the declared type. ORC is the other columnar format lake
    interchange commonly arrives in (Hive-era lakes); Spark's native
    reader gives the same predicate pushdown + column pruning as
    parquet, which pytest pins via a round-trip through
    ``writers.write_orc``."""
    return _project(spark.read.orc(path), declared)


def read_increment(
    spark,
    path: str,
    ts_col: str,
    high_watermark=None,
):
    """Incremental batch read: rows strictly newer than the previous
    run's high watermark, plus this batch's new watermark.

    The batch counterpart of Structured Streaming's source offset
    tracking, for pipelines that re-run on a schedule instead of
    holding a cluster: the caller persists ``new_high_watermark``
    (a one-value bookmark, not data) and passes it back next run.
    The ``ts_col > watermark`` predicate pushes down to the scan, and
    with time-partitioned layouts (``write_parquet(partition_by=…)``)
    prunes whole partitions — an incremental run reads only new files.

    Returns ``(df, new_high_watermark)``; watermark is ``None`` when
    the source is empty. Late rows timestamped ≤ the old watermark are
    skipped by design (exactly-once per row) — sources with true
    late data need the streaming path's watermark semantics instead.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    if high_watermark is not None:
        df = df.filter(F.col(ts_col) > F.lit(high_watermark))
    new_mark = df.agg(F.max(ts_col).alias("m")).collect()[0].m
    return df, (new_mark if new_mark is not None else high_watermark)


_EXT_MIME = {
    "wav": "audio/wav",
    "bmp": "image/bmp",
    "png": "image/png",
    "jpg": "image/jpeg",
    "jpeg": "image/jpeg",
    "gif": "image/gif",
    "mp3": "audio/mpeg",
    "mp4": "video/mp4",
    "webm": "video/webm",
    "bin": "application/octet-stream",
}


def read_binary_assets(
    spark: SparkSession,
    path: str,
    path_glob: str | None = None,
) -> DataFrame:
    """Multimodal ingestion source: Spark's ``binaryFile`` format over a
    directory of media files → the asset schema the feature extractor
    consumes (``operators/multimodal.extract_media_features``):

    ``asset_id bigint`` (xxhash64 of the file path — stable across
    runs and cluster sizes), ``mime string`` (from the extension, the
    ingest-time heuristic; a real pipeline overrides from sidecar
    metadata), ``payload binary``, plus passthrough ``source_uri``,
    ``n_bytes``, ``modified_at``.

    Scale posture: binaryFile is a standard FileFormat — files
    partition across executors by size (``maxPartitionBytes``), the
    scan carries ``pathGlobFilter`` pushdown, and column pruning means
    a metadata-only query (count, size audit) never reads payload
    bytes. One file = one row; giant assets are the skew case →
    repartition by asset_id before decode (the extractor exposes
    ``target_partitions``).
    """
    reader = spark.read.format("binaryFile")
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    raw = reader.load(path)
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    mime_map = F.create_map(
        *[F.lit(x) for kv in _EXT_MIME.items() for x in kv]
    )
    return raw.select(
        F.xxhash64(F.col("path")).alias("asset_id"),
        F.coalesce(
            mime_map[ext], F.lit("application/octet-stream")
        ).alias("mime"),
        F.col("content").alias("payload"),
        F.col("path").alias("source_uri"),
        F.col("length").alias("n_bytes"),
        F.col("modificationTime").alias("modified_at"),
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """JSON-Lines source — the interchange format most raw LLM corpora
    arrive in (one document object per line). With a declared schema the
    parse is PERMISSIVE drift-tolerant like :func:`read_csv` (unknown
    fields ignored, malformed lines → nulls, never fail); without one,
    Spark samples to infer.

    Scale posture: JSONL splits by line, so files parallelize like CSV;
    the declared schema avoids the full inference pass (which reads the
    data twice) and keeps column pruning effective. Convert to parquet
    at bronze (``ingest_bronze``) — JSON parsing is the most expensive
    scan in any pipeline and should happen exactly once.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.option("mode", "PERMISSIVE").json(path)
