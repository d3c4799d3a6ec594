"""Loop-invariant-input lint for iterative operators.

Round-7 lesson (VERDICT.md "What's wrong" #2): every iterative graph
operator persists its loop-invariant edge relation — except the one
that forgot (label_propagation), which silently re-derived a 5-table
join per round and became the slowest query in the whole bench (23 s
vs its siblings' single digits).  The convention is one forgotten line
away from a 6x regression, so it is now ASSERTED, not trusted.

The check wraps `cache.fixed_point`, which every iterative operator
loops through, and counts the UNCACHED base-relation leaves of each
round's step output (LogicalRelation nodes reachable through
`children()` — InMemoryRelation keeps its cached plan in a FIELD, not
a child, and a checkpoint plans as a LogicalRDD, so anything behind a
persist or a checkpoint is invisible to the walk, which is exactly the
point).  Every count must be zero, for `ROUNDS` rounds of every case in
`lint_cases`; a case that never calls the helper fails too.

Used by tests/test_iterative_lint.py (including a red-team case that
no-ops persist_stage and localCheckpoint and demands the lint flag
every case) and as a pre-pass in scripts/preflight.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# round 2 also reads the state the helper truncated after round 1
ROUNDS = 2


class _Linted(Exception):
    """Stops a case's loop once its rounds are recorded."""


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


def lint_cases(spark: SparkSession, sf_dir: str) -> dict:
    """One call per linted loop, on a parquet edge list (src, dst, w)."""
    from northwind_etl_spark.operators import graph as G
    from northwind_etl_spark.operators.dedup import duplicate_clusters

    e = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            F.col("l_orderkey").cast("string").alias("src"),
            F.col("l_partkey").cast("string").alias("dst"),
            F.col("l_linenumber").cast("long").alias("w"),
        )
        .limit(500)
    )
    source = e.first()["src"]
    return {
        "pagerank_fixed_point": lambda: G.pagerank_fixed_point(e, iterations=3),
        "label_propagation": lambda: G.label_propagation(e, iterations=2),
        "hits_fixed_point": lambda: G.hits_fixed_point(e, iterations=2),
        "k_core": lambda: G.k_core(e, rounds=2),
        "bfs_hops": lambda: G.bfs_hops(e, source),
        "sssp_weighted": lambda: G.sssp_weighted(e, source),
        "duplicate_clusters": lambda: duplicate_clusters(
            e.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
        ),
    }


def lint_iterative_operators(spark: SparkSession, sf_dir: str) -> list[str]:
    """Returns a list of failure strings — empty means every case loops
    through cache.fixed_point and no round reads an uncached scan."""
    import northwind_etl_spark.cache as cache

    helper = cache.fixed_point
    leaves: list[list[int]] = []  # per round, per state frame

    def recording(state, step, **kw):
        def recorded(s):
            out = step(s)
            dfs = out if isinstance(out, tuple) else (out,)
            leaves.append([uncached_relation_leaves(df) for df in dfs])
            if len(leaves) == ROUNDS:
                raise _Linted
            return out

        return helper(state, recorded, **kw)

    failures = []
    cache.fixed_point = recording
    try:
        for name, run in lint_cases(spark, sf_dir).items():
            spark.catalog.clearCache()
            leaves.clear()
            try:
                run()
            except _Linted:
                pass
            if not leaves:
                failures.append(f"{name}: does not loop through cache.fixed_point")
            failures += [
                f"{name}: round {k} reads {n} uncached base scans — a"
                " loop-invariant input is not persisted"
                for k, n in enumerate(leaves, 1)
                if any(n)
            ]
    finally:
        cache.fixed_point = helper
        spark.catalog.clearCache()
    return failures
