"""Distributed global ranking (operators/ranking.py): equality with the
single-window form, partitioning invariance, the no-SinglePartition
plan contract, and offsets attached without a Python-RDD join."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from northwind_etl_spark.operators.ranking import (
    global_row_number,
    global_running_sum,
)
from northwind_etl_spark.operators.skyline import skyline_2d


def _vocab(spark, sf_dir):
    from northwind_etl_spark.operators.text import term_frequencies

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return term_frequencies(docs)


def test_equals_single_window_form(spark, sf_dir):
    vocab = _vocab(spark, sf_dir)
    order = [F.desc("term_count"), F.asc("term")]
    two_phase = global_row_number(vocab, order, rank_col="rk")
    single = vocab.withColumn(
        "rk", F.row_number().over(Window.orderBy(*order)).cast("long")
    )
    a = sorted(map(tuple, two_phase.select("term", "term_count", "rk").collect()))
    b = sorted(map(tuple, single.select("term", "term_count", "rk").collect()))
    assert a == b


def test_ranks_are_dense_and_partitioning_invariant(spark, sf_dir):
    vocab = _vocab(spark, sf_dir)
    order = [F.desc("term_count"), F.asc("term")]
    out = global_row_number(vocab, order, rank_col="rk")
    n = vocab.count()
    ranks = sorted(r["rk"] for r in out.select("rk").collect())
    assert ranks == list(range(1, n + 1))
    again = global_row_number(vocab.repartition(16), order, rank_col="rk")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_few_partitions_edge(spark):
    df = spark.createDataFrame([(i,) for i in range(5)], "v long")
    out = global_row_number(df, [F.asc("v")], rank_col="rk", partitions=1)
    got = {r["v"]: r["rk"] for r in out.collect()}
    assert got == {i: i + 1 for i in range(5)}


def test_no_single_partition_exchange(spark, sf_dir):
    """The whole point: the ranking plan must not contain the global
    window's Exchange SinglePartition (the one-task sort)."""
    vocab = _vocab(spark, sf_dir)
    out = global_row_number(
        vocab, [F.desc("term_count"), F.asc("term")], rank_col="rk"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    # and the single-window form DOES (the trap being avoided)
    single = vocab.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.desc("term_count"), F.asc("term"))
        ),
    )
    trap = single._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in trap


def _keyed(spark, n):
    # spark.range, not createDataFrame: the plan tests below must see no
    # Python-RDD scan that the operator did not put there itself
    return spark.range(n).selectExpr(
        "id", "CAST((id * 7919) % 97 AS INT) AS k", "CAST(id % 5 - 2 AS INT) AS v"
    )


@pytest.mark.parametrize(
    "n, partitions", [(400, 1), (400, 3), (400, 16), (0, 4), (1, 4), (3, 16)]
)
def test_equals_single_window_form_across_shapes(spark, n, partitions):
    """1, 3 and 16 partitions; empty input; one row; more partitions
    than rows."""
    df = _keyed(spark, n)
    order = [F.desc("k"), F.asc("id")]
    got = global_row_number(df, order, rank_col="rk", partitions=partitions)
    assert got.columns == df.columns + ["rk"]
    want = df.withColumn(
        "rk", F.row_number().over(Window.orderBy(*order)).cast("long")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_running_sum_equals_single_window_form(spark):
    df = _keyed(spark, 300)
    frame = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("running_sum", F.sum("v").over(frame).cast("long"))
    for p in (1, 3, 16):
        got = global_running_sum(df, ["k", "id"], "v", partitions=p)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )


def _outside_cached_stages(plan: str) -> str:
    """The plan text without the subtrees under InMemoryRelation nodes
    (a persisted stage's own plan, computed once)."""
    kept, cut = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-|"))
        if cut is not None and depth > cut:
            continue
        cut = depth if "InMemoryRelation" in line else None
        kept.append(line)
    return "\n".join(kept)


def test_range_operator_plans_have_no_python_rdd_or_window(spark):
    """Offsets ride a literal array: no createDataFrame relation (a
    Python RDD scan that every action re-runs as a job) and no join.
    The row number needs no window at all; the running sum and the
    skyline compute their per-partition window once, inside the
    persisted stage, so no action on the result re-runs it."""
    df = _keyed(spark, 200)
    ranked = global_row_number(df, ["k", "id"], rank_col="rk")
    summed = global_running_sum(df, ["k", "id"], "v")
    sky = skyline_2d(df, "k", "v")
    for out in (ranked, summed, sky):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan
        assert "Window" not in _outside_cached_stages(plan)
        assert "hashpartitioning(__pid" not in _outside_cached_stages(plan)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "hashpartitioning(__pid" not in plan
