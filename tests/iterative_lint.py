"""Loop-invariant-input lint for iterative operators.

Round-7 lesson (VERDICT.md "What's wrong" #2): every iterative graph
operator persists its loop-invariant edge relation — except the one
that forgot (label_propagation), which silently re-derived a 5-table
join per round and became the slowest query in the whole bench (23 s
vs its siblings' single digits).  The convention is one forgotten line
away from a 6x regression, so it is now ASSERTED, not trusted.

The check: build the operator's plan at two iteration counts and count
UNCACHED base-relation leaves (LogicalRelation nodes reachable through
`children()` — InMemoryRelation keeps its cached plan in a FIELD, not
a child, so anything under a persist is invisible to the walk, which
is exactly the point).  A loop whose invariant inputs are persisted
has the same uncached-leaf count at any iteration count; an unpersisted
loop input multiplies with the rounds.  Eagerly-checkpointing loops
(BFS/SSSP/pointer jumping) cut lineage at runtime and can't be linted
this way — their persist discipline is pinned by their own plan tests.

Used by tests/test_iterative_lint.py (including a red-team case that
no-ops persist_stage and demands the lint FAIL) and as a pre-pass in
scripts/preflight.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def uncached_relation_leaves(df: DataFrame) -> int:
    """Number of base-relation scan leaves in the optimized logical
    plan that are NOT hidden behind an InMemoryRelation."""
    count = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "LogicalRelation":
            count += 1
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return count


def _parquet_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.select(
        F.col("l_orderkey").cast("string").alias("src"),
        F.col("l_partkey").cast("string").alias("dst"),
    ).limit(500)


def lint_iterative_operators(spark: SparkSession, sf_dir: str) -> list[str]:
    """Returns a list of failure strings — empty means every linted
    iterative operator's uncached-scan count is iteration-invariant."""
    from northwind_etl_spark.operators.graph import (
        label_propagation,
        pagerank_fixed_point,
    )

    cases = {
        "label_propagation": lambda e, k: label_propagation(
            e, "src", "dst", iterations=k, checkpoint_every=100
        ),
        "pagerank_fixed_point": lambda e, k: pagerank_fixed_point(
            e, "src", "dst", iterations=k, checkpoint_every=100
        ),
    }
    failures = []
    edges = _parquet_edges(spark, sf_dir)
    for name, build in cases.items():
        spark.catalog.clearCache()
        lo = uncached_relation_leaves(build(edges, 2))
        hi = uncached_relation_leaves(build(edges, 4))
        if lo != hi:
            failures.append(
                f"{name}: uncached base scans grow with iterations "
                f"({lo} at k=2 -> {hi} at k=4) — a loop-invariant "
                f"input is not persisted"
            )
        spark.catalog.clearCache()
    return failures
