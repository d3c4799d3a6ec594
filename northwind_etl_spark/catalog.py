"""Catalog introspection — the Spark analog of the reference's metadata
queries (A5: sys.foreign_keys walk in Project Plan5.md:17-26, used to
find which tables reference Dim_Product before reloading it).

Spark enforces no FK constraints, so "what references this dim" becomes
a declared relationship registry + the anti-join audit
(operators/joins.py::anti_join_audit) for actual integrity checking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Declared FK relationships of the test star schema (fact_key, dim,
# dim_key) — the metadata the reference read from sys.foreign_keys.
RELATIONSHIPS: list[tuple[str, str, str, str]] = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def list_registered_tables(spark: SparkSession) -> DataFrame:
    """spark.catalog view of temp views/tables (A6-style introspection)."""
    return spark.createDataFrame(
        [(t.name, t.tableType or "TEMP", bool(t.isTemporary)) for t in spark.catalog.listTables()],
        "name STRING, table_type STRING, is_temporary BOOLEAN",
    )


def referencing_tables(table: str) -> list[tuple[str, str, str]]:
    """Tables whose declared FKs point at `table` — the question the
    reference asked sys.foreign_keys before a reload."""
    return [
        (child, child_key, parent_key)
        for child, child_key, parent, parent_key in RELATIONSHIPS
        if parent == table
    ]
