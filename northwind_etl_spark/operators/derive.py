"""Derived columns (P3) and money-exact aggregation expressions.

Reference P3: ``ExtendedPrice = Quantity * UnitPrice * (1 - Discount)``
(``etl_orders.py:39``), vectorized pandas arithmetic.  Here it is a
Catalyst expression inside whole-stage codegen — never a UDF.

Money determinism: the driver hash-compares our results against a DuckDB
oracle, and double summation is order-dependent — a parallel aggregation
cannot promise bit-equal doubles.  So every money aggregate goes through
``decimal_sum``: cast each term to DECIMAL(38,6) (exact, deterministic
per-value), sum exactly (order-independent), round, and surface a DOUBLE.
Both engines produce identical bits.  This costs ~nothing at the scan
(decimal sum is still a JVM codegen aggregate) and removes the only
nondeterminism a 1000-executor aggregation would otherwise have.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def revenue_expr() -> Column:
    """The reference's P3 formula on the test schema (FIXTURES.md §C):
    revenue = l_extendedprice * (1 - l_discount)."""
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


def unit_price_expr() -> Column:
    """Per-unit price recovered from lineitem (extendedprice = qty * unitprice),
    so the literal 3-factor form of etl_orders.py:39 is expressible:
    Quantity * UnitPrice * (1 - Discount) == revenue_expr()."""
    return F.col("l_extendedprice") / F.nullif(F.col("l_quantity"), F.lit(0.0))


# Order-independent money aggregates live in functions/money.py; re-exported
# here because they are conceptually part of the derive/aggregate family.
from ..functions.money import decimal_avg, decimal_sum  # noqa: E402,F401
