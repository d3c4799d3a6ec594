"""Star-schema pipelines — the reference's three ETL lifecycles (§3)
re-expressed as lazy DataFrame plans over the driver's test tables
(mapping per FIXTURES.md §C).

- dim_category  ← etl_category.py (extract → rename P1 → project P2 →
                  surrogate keys K1);      source table: region
- dim_part      ← etl_product.py (adds null-coercing casts P5);
                  source table: part
- fact_order_metrics ← etl_orders.py (source join J1 → derived metric P3
                  → broadcast key lookup J2 → drop P4 → rename P1 →
                  project P2); sources: orders ⋈ lineitem, dim_part

The reference's inter-job ordering (dims before facts,
``Project Plan2.md:9-11``) is plain call order here, exactly as it is
plain script order there.  Each builder is a *plan*, not a load — callers
write with sources.files.write_reload to get L1/L2 semantics.

Scale: dims use dense_keys (the two-phase distributed ranking: one
range exchange, no single-partition sort — see operators/keys.py);
the fact build never shuffles the fact table at
all — J1 shuffles on the join key only if AQE declines to broadcast
`orders`, and J2 is an explicit broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.casts import coerce_columns
from ..operators.derive import revenue_expr
from ..operators.joins import broadcast_lookup, inner_join
from ..operators.keys import dense_keys
from ..operators.project import rename_columns, select_columns
from ..operators.quality import assert_columns
from ..sources.parquet import read_table


def dim_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region → Dim_Category-shaped dim (etl_category.py lifecycle)."""
    src = read_table(spark, sf_dir, "region")
    renamed = rename_columns(
        src, {"r_regionkey": "Source_CategoryID", "r_name": "CategoryName"}
    )
    keyed = dense_keys(renamed, "CategoryKey", "Source_CategoryID")
    return assert_columns(
        select_columns(keyed, ["CategoryKey", "Source_CategoryID", "CategoryName"]),
        ["CategoryKey", "Source_CategoryID", "CategoryName"],
    )


def dim_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → Dim_Part (etl_product.py lifecycle: rename + casts + keys).

    The P5 casts mirror etl_product.py:45-46's coerce semantics:
    p_size already int (cast is a no-op by design — the reference's cast
    of UnitsInStock also usually was), p_retailprice to double.
    """
    src = read_table(spark, sf_dir, "part")
    renamed = rename_columns(
        src,
        {
            "p_partkey": "Source_PartKey",
            "p_name": "PartName",
            "p_brand": "Brand",
            "p_type": "PartType",
            "p_size": "PartSize",
            "p_retailprice": "RetailPrice",
        },
    )
    coerced = coerce_columns(renamed, {"PartSize": "int", "RetailPrice": "double"})
    keyed = dense_keys(coerced, "PartKey", "Source_PartKey")
    final_cols = [
        "PartKey",
        "Source_PartKey",
        "PartName",
        "Brand",
        "PartType",
        "PartSize",
        "RetailPrice",
    ]
    return assert_columns(select_columns(keyed, final_cols), final_cols)


def fact_order_metrics(
    spark: SparkSession, sf_dir: str, dim: DataFrame | None = None
) -> DataFrame:
    """orders ⋈ lineitem → revenue → PartKey lookup (etl_orders.py lifecycle).

    ExtendedPrice = Quantity * UnitPrice * (1 - Discount)
    (etl_orders.py:39) ≡ l_extendedprice * (1 - l_discount) here.
    """
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lineitem = read_table(spark, sf_dir, "lineitem")
    # J1 — source-side inner join (etl_orders.py:22-23)
    joined = inner_join(lineitem, orders, on=lineitem.l_orderkey == orders.o_orderkey)
    # P3 — derived metric (etl_orders.py:39)
    derived = joined.withColumn("ExtendedPrice", revenue_expr())
    # J2 — surrogate-key lookup against the *loaded* dimension
    # (etl_orders.py:47-63 reads the dim back from the reporting DB)
    if dim is None:
        dim = dim_part(spark, sf_dir)
    looked_up = broadcast_lookup(
        derived,
        dim,
        fact_key="l_partkey",
        dim_key="Source_PartKey",
        carry=["PartKey"],
    )
    # P1 + P2 — warehouse renames and final projection (etl_orders.py:72-83)
    renamed = rename_columns(
        looked_up,
        {
            "l_orderkey": "Source_OrderKey",
            "l_partkey": "Source_PartKey",
            "l_linenumber": "LineNumber",
            "o_orderdate": "OrderDate",
            "l_shipdate": "ShipDate",
            "l_quantity": "Quantity",
            "l_discount": "Discount",
        },
    )
    final_cols = [
        "Source_OrderKey",
        "Source_PartKey",
        "PartKey",
        "LineNumber",
        "OrderDate",
        "ShipDate",
        "Quantity",
        "Discount",
        "ExtendedPrice",
    ]
    return assert_columns(select_columns(renamed, final_cols), final_cols)


def revenue_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1, the flagship (Project Plan7.md:23-36), on the star schema:
    fact ⋈ dim_part grouped by Brand — the categorical rollup the
    reference runs by CategoryName."""
    dim = dim_part(spark, sf_dir)
    fact = fact_order_metrics(spark, sf_dir, dim=dim)
    return (
        fact.join(F.broadcast(dim.select("PartKey", "Brand")), "PartKey")
        .groupBy("Brand")
        .agg(
            F.round(F.sum(F.col("ExtendedPrice").cast("decimal(38,6)")), 2)
            .cast("double")
            .alias("TotalSalesRevenue")
        )
        .orderBy(F.desc("TotalSalesRevenue"), F.asc("Brand"))
    )
