"""A rerun of the same queries reuses the generated classes it compiled
the first time: the session's codegen cache holds the working set of a
repeated batch (session.py::ENGINE_CONFS).

This module sorts before every other test that runs these operations,
so its first pass is the session's first run of them.
"""

from __future__ import annotations

from northwind_etl_spark.plans import queries
from northwind_etl_spark.plans.pipeline import run_star_pipeline

# The star load and three star_etl queries: about 150 distinct generated
# classes, more than Spark's default cache of 100 holds, visited in the
# same order on every pass.
QUERY_OPS = (
    "merge_upsert_orders",
    "stream_tumbling_event_counts",
    "stream_session_stats",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass_compiles(spark, sf_dir: str, out_dir: str) -> int:
    before = _compiles(spark)
    assert run_star_pipeline(spark, sf_dir, out_dir).ok
    for name in QUERY_OPS:
        queries.QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    return _compiles(spark) - before


def test_second_pass_reuses_generated_classes(spark, sf_dir, tmp_path):
    first = _pass_compiles(spark, sf_dir, str(tmp_path / "first"))
    second = _pass_compiles(spark, sf_dir, str(tmp_path / "second"))
    # a working set the default cache holds would show nothing
    assert first > 100, first
    # with a cache smaller than the working set the LRU evicts every
    # class before its reuse and the second pass compiles as much as
    # the first
    assert second <= 0.05 * first, (first, second)
