"""Data-quality guards: V1 arity check and V2 empty-input guard.

Reference V1: ``if len(data_to_insert[0]) != 9: raise``
(``etl_orders.py:123-124``) → structural column assertion here.
Reference V2: ``if df.empty: return`` (``etl_category.py:38``) →
``df.isEmpty()`` (a cheap limit-1 job, not a full count).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def assert_columns(df: DataFrame, expected: Sequence[str]) -> DataFrame:
    """V1 — schema arity/order check, statically against the plan."""
    if list(df.columns) != list(expected):
        raise ValueError(f"schema mismatch: {df.columns} != {list(expected)}")
    return df


def is_empty(df: DataFrame) -> bool:
    """V2 — empty-input guard; isEmpty scans at most one row."""
    return df.isEmpty()
