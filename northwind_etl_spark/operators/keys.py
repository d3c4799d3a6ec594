"""Surrogate key generation (K1).

The reference delegates keys to SQL Server ``IDENTITY(1,1)``
(``Project Plan2.md:37``, ``Project Plan5.md:225,239``): dense,
sequential, assigned in insert order.  Spark has no identity columns;
``dense_keys`` gives dimensions dense 1..N keys in natural-key order,
computed by the two-phase distributed ranking (operators/ranking.py::
global_row_number — range exchange, a per-partition local sort and
record counter, and per-partition offsets attached as one literal
array).  Bit-identical to ``row_number() OVER (ORDER BY natural_key)``
when the order is total (which a natural KEY is by definition), but
with NO ``Exchange SinglePartition``: the original single-window form
was this repo's one documented scale-limited operator, and the r09
registry-wide plan lint flagged it — at 100 TB even "dimension" tables
(part, customer) are billions of rows, and a one-task global sort is a
silent single-core funnel.  Facts get no surrogate key: the
reference's own fact key, OrderFactKey BIGINT IDENTITY, is never read
by any query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dense_keys(df: DataFrame, key_name: str, order_by: str | list[str]) -> DataFrame:
    """Dense 1..N keys by natural-key order (must be a total order —
    natural keys are).  Scale-safe: no single-partition exchange."""
    from .ranking import global_row_number

    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    ranked = global_row_number(df, order_cols, rank_col=key_name)
    return ranked.withColumn(key_name, F.col(key_name).cast("int"))
