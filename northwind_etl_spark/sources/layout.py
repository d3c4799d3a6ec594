"""Storage-layout operators — the reference's load stage (L1/L2
truncate/delete-reload) grown up for partitioned, append-heavy,
100 TB storage.

- ``compact``: rewrite a directory into N right-sized files — small
  files are the silent killer of big parquet tables (one task per
  file, metadata bloat).
- ``write_clustered``: range-partition + sort within partitions on the
  cluster keys before writing, so parquet row-group min/max stats
  become selective and scans skip aggressively (poor-man's Z-order
  for the single-key case).

Reloading only the partitions present in an incoming batch is
``sources/files.py::write_reload(partition_by=)``: dynamic partition
overwrite as a per-writer option, so no session conf is flipped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def compact(spark: SparkSession, path: str, *, target_files: int) -> None:
    """Rewrite `path` into `target_files` files (read → coalesce →
    staged write → swap via overwrite)."""
    df = spark.read.parquet(path)
    staging = f"{path}__compact"
    # coalesce (not repartition): merging files needs no shuffle
    df.coalesce(target_files).write.mode("overwrite").parquet(staging)
    spark.read.parquet(staging).write.mode("overwrite").parquet(path)
    # drop the staging dir via the Hadoop FS API (works on any DFS)
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(spark._jsc.hadoopConfiguration())
    fs.delete(jvm.org.apache.hadoop.fs.Path(staging), True)


def parquet_footer_stats(spark: SparkSession, paths: list[str]) -> DataFrame:
    """REAL per-file parquet footer stats — (file_name, n_rows,
    n_row_groups, compressed_bytes) — via DISTRIBUTED pyarrow footer
    reads: the driver holds only the path list (the manifest, bounded
    by file count), each task opens its files' FOOTERS only (O(files)
    metadata IO, never the data pages) — exactly how a compaction
    planner inventories a 100 TB table without scanning it.

    compressed_bytes is the sum of column-chunk total_compressed_size
    over all row groups — the same quantity DuckDB's parquet_metadata()
    exposes, which tests/test_inventory.py uses as the cross-engine
    oracle (the registry entries model their inventories from table
    data instead, so the driver's view-only DuckDB harness can replay
    them; this operator is the real-footer counterpart).
    """
    import os

    def read_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                comp = sum(
                    md.row_group(g).column(c).total_compressed_size
                    for g in range(md.num_row_groups)
                    for c in range(md.num_columns)
                )
                out.append(
                    (os.path.basename(p), md.num_rows, md.num_row_groups, comp)
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "file_name",
                    "n_rows",
                    "n_row_groups",
                    "compressed_bytes",
                ],
            )

    plist = spark.createDataFrame([(p,) for p in paths], "path STRING")
    par = min(len(paths), spark.sparkContext.defaultParallelism) or 1
    return plist.repartition(par).mapInPandas(
        read_footers,
        schema=(
            "file_name STRING, n_rows LONG, n_row_groups LONG,"
            " compressed_bytes LONG"
        ),
    )


def write_clustered(
    df: DataFrame, path: str, *, cluster_by: list[str], num_files: int
) -> None:
    """Range-partition on cluster keys + sort within partitions, so each
    output file covers a narrow, non-overlapping key range."""
    (
        df.repartitionByRange(num_files, *[F.col(c) for c in cluster_by])
        .sortWithinPartitions(*cluster_by)
        .write.mode("overwrite")
        .parquet(path)
    )
