"""Aggregation family: group-by aggregates (A1), counts (A2/S3).

Reference A1 (the flagship): 3-table join → GROUP BY CategoryName →
SUM(ExtendedPrice) → ORDER BY DESC (``Project Plan7.md:23-36``).
Reference A2/S3: bare COUNT(*) checks (``Project Plan6.md:156``,
``connection_test.py:13``).

Spark executes these as partial (map-side) + final hash aggregates —
the map-side combine is what keeps a 100 TB group-by's shuffle
proportional to |groups|, not |rows|.  Money sums go through
derive.decimal_sum for order-independent results (see derive.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def table_count(df: DataFrame, alias: str = "n_rows") -> DataFrame:
    """A2/S3 — COUNT(*) as a 1-row DataFrame (not an action), so it
    composes and the oracle can check it."""
    return df.agg(F.count(F.lit(1)).alias(alias))
