"""The row-wise harness seam (operators/rows.map_rows): column order,
empty partitions, and NULL inputs through strict and quarantining
harnesses."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql.types import StructType

from data_warehouse_migration_spark.operators.rows import map_rows


def test_columns_come_out_in_schema_order(spark):
    df = spark.createDataFrame([(1, "ab"), (2, "cde")], "k bigint, s string")
    schema = "n_chars int, k bigint, upper string"
    out = map_rows(df, ["s", "k"], lambda s, k: (len(s), k, s.upper()), schema)
    assert out.columns == ["n_chars", "k", "upper"]
    assert out.schema == StructType.fromDDL(schema)
    assert sorted(map(tuple, out.collect())) == [(2, 1, "AB"), (3, 2, "CDE")]


def test_empty_partition_yields_declared_schema(spark):
    df = spark.createDataFrame([(1, "a")], "k bigint, s string").where("k < 0")
    schema = "k bigint, s string, n int"

    def never(k, s):
        raise AssertionError("per_row ran on an empty input")

    out = map_rows(df.repartition(3), ["k", "s"], never, schema)
    assert out.collect() == []
    assert out.schema == StructType.fromDDL(schema)


def test_null_reaches_per_row_as_none(spark):
    df = spark.createDataFrame(
        [(1, "a", b"x"), (None, None, None), (3, "c", b"z")],
        "k bigint, s string, b binary",
    ).coalesce(1)
    out = map_rows(
        df,
        ["k", "s", "b"],
        lambda k, s, b: (repr(k), repr(s), repr(b)),
        "k string, s string, b string",
    )
    assert sorted(map(tuple, out.collect())) == [
        ("1", "'a'", "b'x'"),
        ("3", "'c'", "b'z'"),
        ("None", "None", "None"),
    ]


def test_null_text_through_strict_harness_raises(spark):
    from data_warehouse_migration_spark.operators.web_extract import (
        bz2_archive_features,
    )

    docs = spark.createDataFrame(
        [(1, "hello"), (2, None)], "doc_id bigint, text string"
    )
    with pytest.raises(Exception, match="NoneType"):
        bz2_archive_features(docs).collect()


def test_null_payload_is_quarantined_not_fatal(spark):
    from data_warehouse_migration_spark.operators.multimodal import (
        extract_media_features_quarantine,
    )

    assets = spark.createDataFrame(
        [(1, "image/bmp", None), (2, "application/pdf", b"%PDF-1.7 2")],
        "asset_id bigint, mime string, payload binary",
    )
    rows = {
        r.asset_id: r
        for r in extract_media_features_quarantine(assets).collect()
    }
    assert rows[1].status == "quarantined"
    assert rows[1].reason.startswith("TypeError: ")
    assert (rows[1].n_bytes, rows[1].checksum, rows[1].width) == (None, None, None)
    # a non-NULL bad payload keeps its byte count and digest
    assert rows[2].status == "quarantined"
    assert rows[2].reason.startswith("NotImplementedError: ")
    assert rows[2].n_bytes == 10
    assert rows[2].checksum == hashlib.md5(b"%PDF-1.7 2").hexdigest()
