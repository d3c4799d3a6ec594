"""Null-coercing casts (P5).

Reference: ``pd.to_numeric(errors='coerce').astype('Int64')``
(``etl_product.py:45-46``) — invalid values become NULL instead of
raising.  Spark's exact equivalent is ``try_cast``: identical semantics
whether or not the session runs ANSI mode (Spark 4 defaults ANSI on,
where a plain cast would *throw*) — so we always use try_cast and the
behavior is config-independent, as SURVEY.md §7 requires.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def coerce_columns(df: DataFrame, casts: Mapping[str, str]) -> DataFrame:
    """Apply {column: target_type} null-coercing casts in one projection."""
    return df.withColumns({name: F.col(name).try_cast(dtype) for name, dtype in casts.items()})
