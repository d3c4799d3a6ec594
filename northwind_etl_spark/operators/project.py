"""Projection family: rename (P1), select/reorder (P2).

Reference: ``df.rename(columns={...})`` (``etl_category.py:26-28``),
``df = df[[...]]`` (``etl_category.py:31``).  The reference's drop
(P4, ``df.drop(col, axis=1)``, ``etl_orders.py:42,69``) is Spark's own
``DataFrame.drop``, called inline (``extended_price_3factor``).  In
Spark these are pure logical-plan nodes: Catalyst's ColumnPruning
collapses them into the scan, so a projection over parquet reads only
the projected columns (check ReadSchema in `.explain("formatted")`).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame


def rename_columns(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """P1 — warehouse-convention renames (etl_category.py:26-28)."""
    missing = set(mapping) - set(df.columns)
    if missing:
        raise ValueError(f"rename of absent columns: {sorted(missing)}")
    return df.withColumnsRenamed(dict(mapping))


def select_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """P2 — keep exactly the target columns, in order (etl_category.py:31)."""
    return df.select(*cols)
