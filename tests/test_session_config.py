"""Cluster parameterization of the session factory: the conf map a
mock cluster spec produces, without touching local-harness behavior
(no session is started here — config construction only)."""

from __future__ import annotations

from northwind_etl_spark.session import (
    DEFAULT_SHUFFLE_PARTITIONS,
    ClusterSpec,
    ENGINE_CONFS,
    session_confs,
)


def test_local_defaults_unchanged():
    confs = session_confs(None)
    assert confs["spark.sql.shuffle.partitions"] == str(DEFAULT_SHUFFLE_PARTITIONS)
    assert "spark.executor.instances" not in confs
    for k, v in ENGINE_CONFS.items():
        assert confs[k] == v


def test_cluster_spec_confs():
    spec = ClusterSpec(
        master="yarn",
        executor_instances=1000,
        executor_cores=4,
        executor_memory="16g",
        driver_memory="32g",
    )
    confs = session_confs(spec)
    assert confs["spark.executor.instances"] == "1000"
    assert confs["spark.executor.cores"] == "4"
    assert confs["spark.executor.memory"] == "16g"
    assert confs["spark.driver.memory"] == "32g"
    # default: 2x total executor cores, for AQE to coalesce downward
    assert confs["spark.sql.shuffle.partitions"] == str(2 * 1000 * 4)
    # engine confs ride along to the cluster unchanged
    for k, v in ENGINE_CONFS.items():
        assert confs[k] == v


def test_cluster_spec_overrides():
    spec = ClusterSpec(
        master="k8s://https://example:6443",
        executor_instances=10,
        executor_cores=8,
        executor_memory="8g",
        shuffle_partitions=4096,
        dynamic_allocation=True,
        extra={"spark.kubernetes.container.image": "engine:latest"},
    )
    confs = session_confs(spec)
    assert confs["spark.sql.shuffle.partitions"] == "4096"
    assert confs["spark.dynamicAllocation.enabled"] == "true"
    assert confs["spark.kubernetes.container.image"] == "engine:latest"


def test_local_session_behavior_unchanged(spark):
    # the session-scoped fixture built by get_spark() with no spec must
    # carry the same engine confs as before the refactor
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.sparkContext.master.startswith("local[")


def test_read_events_rehardens_hostile_session_confs(spark, sf_dir):
    """The driver hands us ITS session; read_events/read_events_stream
    must survive a session whose nanosAsLong/timezone confs were
    flipped after startup (harden() re-applies them per call)."""
    from northwind_etl_spark.sources.parquet import read_events

    orig_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    orig_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ev = read_events(spark, sf_dir)
        n = ev.count()
        assert n > 0
        assert dict(ev.dtypes)["ts"].startswith("timestamp")
        # idempotent: second call in the same (re-hardened) session
        assert read_events(spark, sf_dir).count() == n
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", orig_nanos)
        spark.conf.set("spark.sql.session.timeZone", orig_tz)


def test_fixture_session_codegen_cache_size(spark):
    # a static conf: only a session built by get_spark carries it
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
