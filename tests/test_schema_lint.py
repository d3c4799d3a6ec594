"""Red-team cases for the output-schema rules of
``entry_lint.lint_entry``: no DECIMAL column, nested or not (the
driver's canonicalizer has never hashed a cross-engine DECIMAL equal,
and the local oracle harness str()s Decimals identically on both sides
so it can never catch the class), and no array/map/struct column.
The registry walk is the ``registry_lint`` fixture (tests/entry_lint.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .entry_lint import lint_entry


def test_registry_emits_no_decimal(registry_lint):
    hits = registry_lint[0]["decimal"]
    assert not hits, "\n".join(hits)


def test_redteam_planted_decimal_flagged(spark):
    planted = spark.range(3).select(
        F.col("id").cast("decimal(38,12)").alias("v")
    )
    assert lint_entry(planted, "planted") == [
        "planted: DECIMAL output column v: decimal(38,12)"
    ]


def test_redteam_nested_decimal_flagged(spark):
    nested = spark.range(3).select(
        F.array(F.struct(F.col("id").cast("decimal(10,2)").alias("d"))).alias(
            "a"
        ),
        F.create_map(
            F.lit("k"), F.col("id").cast("decimal(5,1)")
        ).alias("m"),
    )
    hits = lint_entry(nested, "nested")
    assert hits == [
        "nested: non-scalar output column a: array<struct<d:decimal(10,2)>>",
        "nested: DECIMAL output column a[].d: decimal(10,2)",
        "nested: non-scalar output column m: map<string,decimal(5,1)>",
        "nested: DECIMAL output column m<value>: decimal(5,1)",
    ]


def test_internal_decimal_is_fine_after_final_cast(spark):
    ok = spark.range(3).select(
        (F.col("id").cast("decimal(38,12)") * F.lit(2))
        .cast("double")
        .alias("v")
    )
    assert lint_entry(ok, "ok") == []
