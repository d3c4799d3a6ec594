"""sources/parquet.py: the schema memo of read_parquet (reused for an
unchanged file version, re-inferred after a rewrite or a nanosAsLong
flip), the schema-drift check on every read_table, and read-backs with a
given schema."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from northwind_etl_spark.sources import parquet as P


def test_read_parquet_reinfers_after_rewrite(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert P.read_parquet(spark, path).columns == ["a"]
    # same version: the memo answers, with the same schema and rows
    again = P.read_parquet(spark, path)
    assert again.columns == ["a"] and again.count() == 3
    pq.write_table(pa.table({"b": ["x", "y"], "c": [1.5, 2.5]}), path)
    df = P.read_parquet(spark, path)
    assert df.columns == ["b", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [("x", 1.5), ("y", 2.5)]


def test_read_parquet_directory_layout_reinfers(spark, tmp_path):
    path = str(tmp_path / "d")
    spark.range(4).write.parquet(path)
    assert P.read_parquet(spark, path).columns == ["id"]
    spark.range(4).selectExpr("id AS k", "id * 2 AS v").write.mode(
        "overwrite"
    ).parquet(path)
    assert P.read_parquet(spark, path).columns == ["k", "v"]


def test_read_parquet_with_schema_matches_inference(spark, tmp_path):
    path = str(tmp_path / "w")
    df = spark.range(5).selectExpr(
        "CAST(id AS INT) AS i", "CAST(id AS DECIMAL(19,4)) AS m", "'s' AS s"
    )
    df.write.parquet(path)
    given = P.read_parquet(spark, path, schema=df.schema)
    inferred = spark.read.parquet(path)
    assert given.schema == inferred.schema
    assert sorted(given.collect()) == sorted(inferred.collect())


def test_read_table_raises_on_schema_drift(spark, sf_dir, tmp_path):
    table_dir = tmp_path / "sf"
    table_dir.mkdir()
    region = str(table_dir / "region.parquet")
    shutil.copy(f"{sf_dir}/region.parquet", region)
    assert P.read_table(spark, str(table_dir), "region").count() == 5
    # rewritten with a drifted column set: the memo must not hide it
    pq.write_table(pa.table({"r_regionkey": [1], "r_title": ["x"]}), region)
    with pytest.raises(ValueError, match="schema drift in region"):
        P.read_table(spark, str(table_dir), "region")


def test_events_read_after_nanos_flipped_off(spark, sf_dir):
    from northwind_etl_spark.streaming.events_stream import read_events_stream

    path = f"{sf_dir}/events.parquet"
    n = P.read_events(spark, sf_dir).count()
    key_nanos = P._file_version(spark, path)
    orig = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        # the conf is part of the file version: no memo hit across it
        assert P._file_version(spark, path) != key_nanos
        ev = P.read_events(spark, sf_dir)
        assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
        assert ev.count() == n
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        stream = read_events_stream(spark, sf_dir)
        assert dict(stream.dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", orig)
