"""The plan rules and the plan-shape ledger over the registry walk of
the ``registry_lint`` fixture, and red-team cases that plant each
banned shape and demand a hit.  test_tpch.py pins TPC-H plan shapes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from northwind_etl_spark.cache import persist_stage, release_stages

from .entry_lint import REGENERATE, build_entry, lint_entry, plan_shape, shape_diffs


def test_registry_lints(registry_lint):
    diffs = registry_lint[1]
    if diffs is None:
        pytest.skip("the plan-shape ledger pins another scale factor")
    assert not diffs, "plan shapes moved:\n" + "\n".join(diffs)


def test_registry_plan_lint(registry_lint):
    hits = registry_lint[0]["plan"]
    assert not hits, "\n".join(hits)


def test_registry_single_partition_funnel_lint(registry_lint):
    hits = registry_lint[0]["funnel"]
    assert not hits, "\n".join(hits)


def test_lint_redteam_cartesian_product(spark):
    a = spark.range(10).toDF("x")
    b = spark.range(10).toDF("y")
    planted = a.hint("shuffle_replicate_nl").crossJoin(b)
    hits = lint_entry(planted, "planted")
    assert any("CartesianProduct" in h for h in hits), hits


def test_lint_redteam_cartesian_inside_persisted_stage(spark):
    """A banned node hidden in a persisted stage is still a hit: the
    walk enters the stage's cached plan."""
    a = spark.range(10).toDF("x")
    b = spark.range(10).toDF("y")
    stage = persist_stage(a.hint("shuffle_replicate_nl").crossJoin(b))
    try:
        hits = lint_entry(stage.groupBy("x").count(), "planted")
    finally:
        release_stages()
    assert any("CartesianProduct" in h for h in hits), hits


def test_ledger_redteam_planted_shuffle_join(spark, sf_dir):
    """One more shuffle join in an entry's plan turns the ledger
    comparison red, naming the node classes that moved."""
    name = "q1_pricing_summary"
    df = build_entry(spark, name, sf_dir)
    ledger = {name: plan_shape(df)}
    assert shape_diffs({name: plan_shape(df)}, ledger) == []
    grown = df.join(df.hint("shuffle_merge"), "count_order")
    diffs = shape_diffs({name: plan_shape(grown)}, ledger)
    assert any(f"{name}: ShuffleExchange" in d for d in diffs), diffs
    assert any(f"{name}: SortMergeJoin 0 -> 1" in d for d in diffs), diffs
    assert all(REGENERATE in d for d in diffs), diffs


def test_lint_redteam_raw_row_global_window(spark, sf_dir):
    from pyspark.sql import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    planted = li.withColumn(
        "rn", F.row_number().over(Window.orderBy("l_orderkey", "l_linenumber"))
    )
    hits = lint_entry(planted, "planted")
    assert any("SinglePartition" in h for h in hits), hits


def test_lint_redteam_row_python_udf(spark):
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.execution.pythonUDF.arrow.enabled", "false")
    try:
        f = F.udf(lambda x: x + 1, LongType(), useArrow=False)
        planted = spark.range(10).select(f("id").alias("y"))
        hits = lint_entry(planted, "planted")
        assert any("BatchEvalPython" in h for h in hits), hits
    finally:
        spark.conf.unset("spark.sql.execution.pythonUDF.arrow.enabled")


def test_lint_allows_bounded_global_agg(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ok = li.agg(F.count(F.lit(1)).alias("n"))
    assert lint_entry(ok, "global_count") == []
    topk = li.orderBy(F.desc("l_extendedprice")).limit(5)
    assert lint_entry(topk, "topk") == []
