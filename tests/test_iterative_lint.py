"""The loop-invariant-input lint itself (tests/iterative_lint.py):
green on the shipped operators, and RED when the persist discipline is
broken (the r07 label_propagation regression replayed on purpose)."""

from __future__ import annotations

from .iterative_lint import (
    lint_cases,
    lint_iterative_operators,
    uncached_relation_leaves,
)


def test_iterative_operators_persist_loop_invariants(spark, sf_dir):
    assert lint_iterative_operators(spark, sf_dir) == []


def test_lint_goes_red_when_persist_is_removed(spark, sf_dir, monkeypatch):
    """Red-team the lint: with BOTH materialization disciplines
    no-op'd — persist_stage (the r07 LPA bug shape) and
    localCheckpoint (which r13 moved the loop-invariant truncation
    to) — the lint MUST flag every linted loop."""
    # patch the CLASSIC DataFrame class — the runtime type in Spark 4
    # (pyspark.sql.DataFrame is the dispatch facade; patching it does
    # not override the classic subclass's own method)
    from pyspark.sql.classic.dataframe import DataFrame

    import northwind_etl_spark.cache as cache

    monkeypatch.setattr(cache, "persist_stage", lambda df, **kw: df)
    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    failures = lint_iterative_operators(spark, sf_dir)
    flagged = {f.split(":")[0] for f in failures if ": round" in f}
    assert flagged == set(lint_cases(spark, sf_dir)) and len(flagged) == 7


def test_uncached_leaf_counter_sees_through_persist(spark, sf_dir):
    """InMemoryRelation hides its cached plan from children() — the
    property the whole lint rests on."""
    spark.catalog.clearCache()
    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    assert uncached_relation_leaves(df) == 1
    cached = df.persist()
    try:
        assert uncached_relation_leaves(cached.select("r_name")) == 0
    finally:
        cached.unpersist()
