"""Storage-layout utilities: compaction, clustered writes, incremental
partition overwrite (sources/files.py::write_reload(partition_by=))."""

from __future__ import annotations

import glob
import tempfile

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from northwind_etl_spark.sources.files import write_reload
from northwind_etl_spark.sources.layout import compact, write_clustered


def test_compact_reduces_file_count(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = tempfile.mkdtemp(prefix="compact_") + "/t"
    li.repartition(16).write.parquet(out)
    assert len(glob.glob(f"{out}/part-*.parquet")) == 16
    n = spark.read.parquet(out).count()
    compact(spark, out, target_files=2)
    assert len(glob.glob(f"{out}/part-*.parquet")) == 2
    assert spark.read.parquet(out).count() == n


def test_clustered_write_produces_disjoint_ranges(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = tempfile.mkdtemp(prefix="clustered_") + "/t"
    write_clustered(li, out, cluster_by=["l_orderkey"], num_files=4)
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(f)
        t = md.read(columns=["l_orderkey"]).column(0)
        ranges.append((min(t.to_pylist()), max(t.to_pylist())))
    ranges.sort()
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # non-overlapping key ranges → stats-based skipping
    assert spark.read.parquet(out).count() == li.count()


def test_incremental_overwrite_touches_only_new_partitions(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "ship_month", F.date_format("l_shipdate", "yyyy-MM")
    )
    out = tempfile.mkdtemp(prefix="incr_") + "/t"
    li.write.partitionBy("ship_month").parquet(out)
    before = spark.read.parquet(out).count()
    batch = li.where(F.col("ship_month") == "1996-06").withColumn(
        "l_quantity", F.lit(0.0)
    )
    mode = "spark.sql.sources.partitionOverwriteMode"
    session_mode = spark.conf.get(mode)
    write_reload(batch, out, partition_by=["ship_month"])
    # dynamic overwrite is the writer's option, not a session-wide flip
    assert spark.conf.get(mode) == session_mode
    after = spark.read.parquet(out)
    assert after.count() == before
    assert (
        after.where(F.col("ship_month") == "1996-06")
        .agg(F.sum("l_quantity"))
        .first()[0]
        == 0.0
    )
    assert (
        after.where(F.col("ship_month") == "1996-07")
        .agg(F.sum("l_quantity"))
        .first()[0]
        > 0
    )
