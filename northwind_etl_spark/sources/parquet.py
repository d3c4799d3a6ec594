"""Parquet table source.

Spark-side analog of the reference's extract stage (``pd.read_sql``
scans, ``etl_category.py:13`` / ``etl_orders.py:25``): a declarative
scan that Catalyst can push projections and predicates into — `.explain`
on any downstream query shows ``PushedFilters`` / ``ReadSchema`` instead
of the reference's hand-written column lists (``etl_product.py:12-23``).

Scale notes: parquet scans parallelize by row-group; predicate pushdown
prunes row-groups via min/max stats; at 100 TB you would additionally
partition the files by a date column and let partition pruning drop
whole directories — the read path here is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import harden, repartition_width

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# parquet TIMESTAMP(NANOS) → Spark has no nanosecond timestamp type;
# with nanosAsLong we get raw int64 ns and convert by exact integer
# arithmetic (ns DIV 1000 → µs, matching DuckDB's truncation).  Float
# division would silently lose precision above 2^53 — epoch-ns is ~2^60.
_NS_TO_NTZ = (
    "timestampadd(MICROSECOND, CAST((ts DIV 1000) % 1000000 AS INT), "
    " timestampadd(SECOND, CAST(ts DIV 1000000000 AS INT), "
    "  TIMESTAMP_NTZ '1970-01-01 00:00:00'))"
)


# Opt-in (SPARK_GRAFT_CACHE_TABLES=1): cache each table in memory,
# repartitioned across all cores.  The test files carry ONE parquet row
# group, so raw scans are single-threaded no matter how many cores
# exist; for repeated-query workloads (bench, interactive) paying one
# shuffle to spread + cache beats re-scanning serially every query.
# Default OFF: one-shot correctness runs shouldn't pay the cache build,
# and at 100 TB you get parallelism from file layout, not caching.
_cache: dict[tuple[str, str, str], DataFrame] = {}


def _cache_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_CACHE_TABLES", "0") == "1"


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table; `events` gets its ns-timestamp normalized.

    Column names are validated against the schema registry (the
    reference declares every schema by hand — schemas.py mirrors that;
    a drifted file fails loudly here instead of mid-query).
    """
    if _cache_enabled():
        key = (spark.sparkContext.applicationId, sf_dir, name)
        if key not in _cache:
            df = _read_table_raw(spark, sf_dir, name)
            par = repartition_width(spark)
            _cache[key] = df.repartition(par).cache()
        return _cache[key]
    return _read_table_raw(spark, sf_dir, name)


# Parquet schema inference is a Spark job (a footer read on the
# executors), ~80 ms warm — paid on EVERY spark.read.parquet without a
# schema.  Source tables are re-read by every query, so the schema Spark
# inferred once is reused for as long as the files are unchanged.  Key:
# the path, (name, size, mtime) of the file or of every data file of a
# directory layout, and the nanosAsLong conf (it changes the inferred
# type of TIMESTAMP(NANOS) columns).  A rewritten file has a new key and
# is inferred afresh.
_SCHEMAS: dict[tuple, StructType] = {}


def data_file_stats(path: str) -> list[tuple[str, int, int]]:
    """(name, size, mtime_ns) of the local parquet file `path`, or of
    every data file of a directory layout: files and directories whose
    name starts with a dot or an underscore are skipped, as Spark's
    reader skips them (``_SUCCESS``, ``.crc``, ``_spark_metadata``).
    Raises OSError when the path is missing or not local."""
    files = [path]
    if os.path.isdir(path):
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
            files += [
                os.path.join(root, f)
                for f in sorted(names)
                if not f.startswith((".", "_"))
            ]
    stats = []
    for f in files:
        st = os.stat(f)
        stats.append((f, st.st_size, st.st_mtime_ns))
    return stats


def _file_version(spark: SparkSession, path: str) -> tuple | None:
    try:
        stats = data_file_stats(path)
    except OSError:  # not a local path, or racing a rewrite: always infer
        return None
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    return (path, tuple(stats), nanos)


def read_parquet(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """``spark.read.parquet(path)`` without a schema-inference job where
    the schema is known: given `schema` (data the caller just wrote), it
    is used as is; otherwise the schema inferred for the same file
    version earlier in the process is reused, and only a file version
    not seen before is inferred."""
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    key = _file_version(spark, path)
    known = _SCHEMAS.get(key) if key is not None else None
    if known is not None:
        return spark.read.schema(known).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _SCHEMAS[key] = df.schema
    return df


def _read_table_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return read_events(spark, sf_dir)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    _validate(name, df)
    return df


def _validate(name: str, df: DataFrame) -> None:
    from ..schemas import TABLES

    expected = [f.name for f in TABLES[name].fields] if name in TABLES else None
    if expected is not None and list(df.columns) != expected:
        raise ValueError(
            f"schema drift in {name}: file has {df.columns}, registry {expected}"
        )


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with `ts` as TIMESTAMP_NTZ (µs), exactly as DuckDB reads it."""
    harden(spark)
    raw = read_parquet(spark, f"{sf_dir}/events.parquet")
    if dict(raw.dtypes)["ts"] in ("bigint", "long"):
        raw = raw.withColumn("ts", F.expr(_NS_TO_NTZ))
    return raw


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql use."""
    for name in TABLE_NAMES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
