"""Schema registry: explicit StructType per table.

The reference declares every target schema by hand in T-SQL DDL
(``Project Plan2.md:36-42``, ``Project Plan5.md:224-250``); we mirror
that discipline with a StructType registry: source reads are checked
against it (sources/parquet.py::_validate, column names) and writes are
schema-checked.  Reads still infer the parquet schema, once per file
version: sources/parquet.py::read_parquet runs Spark's inference on the
first read of a source file (and again after it is rewritten) and
reuses that schema afterwards; reads of data the engine has just
written pass the written schema and never infer.  Type mapping per SURVEY.md
§1.2 (MONEY→Decimal(19,4) at sinks, computed in double in-flight;
IDENTITY→row_number surrogate keys, see operators/keys.py).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- driver test tables (/root/testdata/sf*/; FIXTURES.md §B) -----------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]
)

# events.ts arrives as either parquet TIMESTAMP(NANOS) (read as raw
# long under spark.sql.legacy.parquet.nanosAsLong, converted exactly in
# sources/parquet.py::read_events) or plain timestamp[us] (left as-is).
# Both the batch and streaming readers guard on the file's *physical*
# type before applying this raw-long schema; never assume one layout.
EVENTS_RAW = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TABLES: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS_RAW,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

# --- star-schema targets (reference DDL re-expressed; FIXTURES.md §A) ---
# Dim_Category ← Project Plan2.md:36-42 (8 rows in reference);
# here built from `region` (FIXTURES.md §C mapping).
DIM_CATEGORY = T.StructType(
    [
        T.StructField("CategoryKey", T.IntegerType(), False),
        T.StructField("Source_CategoryID", T.IntegerType()),
        T.StructField("CategoryName", T.StringType()),
    ]
)

# Dim_Product ← Project Plan5.md:224-235; here `part` → Dim_Part.
DIM_PART = T.StructType(
    [
        T.StructField("PartKey", T.IntegerType(), False),
        T.StructField("Source_PartKey", T.LongType()),
        T.StructField("PartName", T.StringType()),
        T.StructField("Brand", T.StringType()),
        T.StructField("PartType", T.StringType()),
        T.StructField("PartSize", T.IntegerType()),
        T.StructField("RetailPrice", T.DoubleType()),
    ]
)

# Fact_OrderMetrics ← Project Plan5.md:238-250; ExtendedPrice formula
# from etl_orders.py:39 re-expressed as revenue (FIXTURES.md §C).
FACT_ORDER_METRICS = T.StructType(
    [
        T.StructField("Source_OrderKey", T.LongType()),
        T.StructField("Source_PartKey", T.LongType()),
        T.StructField("PartKey", T.IntegerType()),
        T.StructField("LineNumber", T.IntegerType()),
        T.StructField("OrderDate", T.TimestampNTZType()),
        T.StructField("ShipDate", T.TimestampNTZType()),
        T.StructField("Quantity", T.DoubleType()),
        T.StructField("Discount", T.DoubleType()),
        T.StructField("ExtendedPrice", T.DoubleType()),
    ]
)
