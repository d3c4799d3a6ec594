"""Structured Streaming twins: drained with availableNow into memory
sinks through the registry's drain (run_available_now: state partitions
sized from the source), checked against the batch operators' results
(same semantics)."""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from northwind_etl_spark.operators.sessionize import tumbling_counts
from northwind_etl_spark.sources.parquet import read_events
from northwind_etl_spark.streaming import events_stream as ES


def test_windowed_counts_stream_matches_batch(spark, sf_dir):
    stream = ES.read_events_stream(spark, sf_dir)
    result = ES.run_available_now(
        ES.windowed_counts_stream(stream), "wc_stream",
        source=ES.events_path(sf_dir), output_mode="complete",
    ).collect()
    batch = {
        (r.window_start, r.event_type): r.n_events
        for r in tumbling_counts(read_events(spark, sf_dir)).collect()
    }
    got = {(r.window_start, r.event_type): r.n_events for r in result}
    assert got == batch


def test_session_window_stream_runs(spark, sf_dir):
    stream = ES.read_events_stream(spark, sf_dir)
    rows = ES.run_available_now(
        ES.session_window_stream(stream), "sw_stream",
        source=ES.events_path(sf_dir), output_mode="append",
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1


def test_stream_static_enrichment(spark, sf_dir):
    stream = ES.read_events_stream(spark, sf_dir)
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0)],
        "event_type STRING, weight DOUBLE",
    )
    enriched = ES.run_available_now(
        ES.enrich_with_static(stream, dim, on="event_type"),
        "enrich_stream",
        source=ES.events_path(sf_dir),
        output_mode="append",
    )
    n_events = read_events(spark, sf_dir).count()
    assert enriched.count() == n_events  # left join conserves the stream
    assert "weight" in enriched.columns


def test_stream_dedup_drops_duplicates(spark, sf_dir):
    stream = ES.read_events_stream(spark, sf_dir)
    # duplicate every event by unioning the stream with itself
    doubled = stream.union(stream)
    deduped = ES.run_available_now(
        ES.stream_dedup(doubled), "dedup_stream",
        source=ES.events_path(sf_dir), output_mode="append",
    )
    n_unique = read_events(spark, sf_dir).count()
    assert deduped.count() == n_unique


def test_foreachbatch_partition_upsert(spark, sf_dir):
    import tempfile

    base = tempfile.mkdtemp(prefix="upsert_")
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    ES.upsert_by_partition_stream(ES.read_events_stream(spark, sf_dir), out, ckpt)
    loaded = spark.read.parquet(out)
    assert loaded.count() == read_events(spark, sf_dir).count()
    assert "event_date" in loaded.columns
    # re-run with same checkpoint: no new input → table unchanged
    ES.upsert_by_partition_stream(ES.read_events_stream(spark, sf_dir), out, ckpt)
    assert spark.read.parquet(out).count() == loaded.count()


def test_checkpointed_file_sink_is_exactly_once(spark, sf_dir):
    """Production sink shape: parquet file sink + checkpoint. A restart
    with the same checkpoint must not reprocess already-committed input
    (exactly-once at the sink)."""
    import tempfile

    base = tempfile.mkdtemp(prefix="ckpt_sink_")
    out, ckpt = f"{base}/out", f"{base}/ckpt"

    def run_once():
        q = (
            ES.read_events_stream(spark, sf_dir)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_first = spark.read.parquet(out).count()
    run_once()  # same checkpoint, no new input files → no new rows
    n_second = spark.read.parquet(out).count()
    assert n_first == read_events(spark, sf_dir).count()
    assert n_second == n_first


def test_stateful_running_counts(spark, sf_dir):
    stream = ES.read_events_stream(spark, sf_dir)
    # update mode: a user active in several micro-batches lands once
    # per batch with a growing total, so MAX per key is the final state
    rows = ES.run_available_now(
        ES.running_user_counts_stream(stream), "ruc_stream",
        source=ES.events_path(sf_dir), output_mode="update",
        python_stateful=True,
    ).groupBy("user_id").agg(F.max("events_seen").alias("events_seen")).collect()
    got = {r.user_id: r.events_seen for r in rows}
    batch = {
        r.user_id: r.n
        for r in read_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == batch


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """Watermarked stream-stream interval join (purchase←clicks within
    30 min) must emit exactly the batch interval join's matches when
    drained with availableNow."""
    stream = ES.read_events_stream(spark, sf_dir)
    got = {
        (r.purchase_id, r.click_id)
        for r in ES.run_available_now(
            ES.purchase_click_attribution_stream(stream),
            "ss_join_stream",
            source=ES.events_path(sf_dir),
            output_mode="append",
        ).collect()
    }
    ev = read_events(spark, sf_dir)
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    batch = {
        (r.pid, r.cid)
        for r in p.join(
            c,
            (F.col("pu") == F.col("cu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 30 MINUTES")),
        ).collect()
    }
    assert got == batch and len(batch) > 0


def test_checkpoint_restart_processes_only_new_files(spark):
    """The incremental-ingest contract: a restarted stream with the
    same checkpoint picks up ONLY files that arrived since the last
    run — batch 1's input is not reprocessed, batch 2's delta lands
    exactly once."""
    import tempfile

    from pyspark.sql import functions as F

    base = tempfile.mkdtemp(prefix="ckpt_delta_")
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"

    batch1 = spark.range(0, 100).select(
        F.col("id").alias("event_id"), F.lit("a").alias("tag")
    )
    batch1.write.mode("append").parquet(src)

    def run_once():
        q = (
            spark.readStream.schema("event_id LONG, tag STRING")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == 100

    batch2 = spark.range(1000, 1050).select(
        F.col("id").alias("event_id"), F.lit("b").alias("tag")
    )
    batch2.write.mode("append").parquet(src)
    run_once()  # restart: must process ONLY the 50 new rows
    loaded = spark.read.parquet(out)
    assert loaded.count() == 150
    # exactly once: no event_id duplicated, both tags present
    assert loaded.select("event_id").distinct().count() == 150
    assert loaded.where(F.col("tag") == "b").count() == 50


def test_incremental_state_stream_multi_batch_equals_direct(spark):
    """The mergeable-state contract under real batch splitting: three
    source files forced into separate micro-batches
    (maxFilesPerTrigger=1) must merge to EXACTLY the direct aggregate
    over the union."""
    import tempfile

    from pyspark.sql import functions as F

    from northwind_etl_spark.operators import incremental as I
    from northwind_etl_spark.streaming.events_stream import (
        read_incremental_state,
    )

    base = tempfile.mkdtemp(prefix="incr_state_")
    src, root, ckpt = f"{base}/src", f"{base}/state", f"{base}/ckpt"
    for lo, hi in ((0, 40), (40, 75), (75, 100)):
        spark.range(lo, hi).select(
            (F.col("id") % 7).alias("user_id"),
            (F.col("id") * 1.5 + 0.123456789).alias("value"),
        ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("user_id LONG, value DOUBLE").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    from northwind_etl_spark.operators import incremental as I2

    def merge(batch_df, batch_id):
        import os

        part = I2.partial_states(batch_df, ["user_id"], "value")
        prev = [
            int(d[1:])
            for d in (os.listdir(root) if os.path.isdir(root) else [])
            if d.startswith("v") and d[1:].isdigit() and int(d[1:]) < batch_id
        ]
        merged = (
            I2.merge_states(spark.read.parquet(f"{root}/v{max(prev)}"), part)
            if prev
            else part
        )
        merged.write.mode("overwrite").parquet(f"{root}/v{batch_id}")
        # replay idempotence: recomputing the SAME version must land on
        # identical state (same predecessor, same batch)
        merged.write.mode("overwrite").parquet(f"{root}/v{batch_id}")

    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    import os

    n_batches = len([d for d in os.listdir(root) if d.startswith("v")])
    assert n_batches == 3  # the split actually happened

    final = read_incremental_state(spark, root, prefix="value")
    direct = I.finalize(
        I.partial_states(
            spark.read.parquet(src), ["user_id"], "value"
        ),
        prefix="value",
    )
    key = lambda d: sorted(map(tuple, d.collect()))  # noqa: E731
    assert key(final) == key(direct)


def test_two_level_window_stream_multi_batch_equals_batch(spark, sf_dir):
    """Chained stateful aggregation under REAL batch splitting: events
    written as three time-ordered files, streamed one file per
    trigger, hourly->6h cascade drained append-mode.  The final sink
    must equal the batch rollup of every 6h window whose end <= final
    watermark (max ts - 2h), independent of the split."""
    import tempfile

    from pyspark.sql import functions as F

    from northwind_etl_spark.sources.parquet import read_events
    from northwind_etl_spark.streaming.events_stream import (
        run_available_now,
        two_level_window_stream,
    )

    # watermarks require TIMESTAMP (not NTZ): run the whole fixture in
    # ltz (the session tz is fixed, so window boundaries are identical)
    ev = read_events(spark, sf_dir).select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    src = tempfile.mkdtemp(prefix="two_level_src_")
    parts = ev.orderBy("ts").withColumn(
        "__b", F.ntile(3).over(
            __import__("pyspark.sql.window", fromlist=["Window"])
            .Window.orderBy("ts")
        )
    )
    for b in (1, 2, 3):
        parts.where(F.col("__b") == b).drop("__b").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_available_now(
        two_level_window_stream(stream), "two_level_mb",
        source=src, output_mode="append",
    )

    wm = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("v")
    ).first()["v"]
    want = (
        ev.groupBy(
            F.window("ts", "6 hours").alias("w6"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(38,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .where(F.col("w6.end") <= F.lit(wm))
        .select(
            F.col("w6.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_adaptive_stream_partitions_scales():
    assert ES.adaptive_stream_partitions(0) == 1
    assert ES.adaptive_stream_partitions(1) == 1
    assert ES.adaptive_stream_partitions(32 << 20) == 1
    assert ES.adaptive_stream_partitions((32 << 20) + 1) == 2
    # linear at scale: 1 TiB of source -> 32768 partitions at the
    # 32 MiB target
    assert ES.adaptive_stream_partitions(1 << 40) == 32768


def test_source_parquet_bytes_file_dir_missing(tmp_path):
    f = tmp_path / "single.parquet"
    f.write_bytes(b"x" * 1234)
    assert ES.source_parquet_bytes(str(f)) == 1234

    d = tmp_path / "dataset.parquet"
    sub = d / "k=1"
    sub.mkdir(parents=True)
    (d / "part-0.parquet").write_bytes(b"a" * 100)
    (sub / "part-1.parquet").write_bytes(b"b" * 50)
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".hidden.crc").write_bytes(b"c" * 999)
    (d / "_spark_metadata").mkdir()
    (d / "_spark_metadata" / "0").write_bytes(b"m" * 77)
    # data files only: 100 + 50; markers, dotfiles and metadata dirs
    # excluded, as Spark's reader excludes them
    assert ES.source_parquet_bytes(str(d)) == 150

    # a source that cannot be sized could not have streamed either
    with pytest.raises(OSError):
        ES.source_parquet_bytes(str(tmp_path / "absent.parquet"))


def test_stream_reads_directory_layout_source(spark, sf_dir, tmp_path):
    """A DIRECTORY-layout events.parquet must stream the same rows as
    the single-file fixture (the first r13 scale-lane run drained 0
    rows: the symlink watch-dir made the file source see a
    subdirectory, which it silently skips)."""
    import shutil

    from northwind_etl_spark.plans.queries import stream_tumbling_event_counts

    copy_dir = tmp_path / "sfdir"
    evdir = copy_dir / "events.parquet"
    evdir.mkdir(parents=True)
    shutil.copy(f"{sf_dir}/events.parquet", evdir / "part-00000.parquet")
    (evdir / "_SUCCESS").write_bytes(b"")

    got = sorted(
        tuple(r) for r in stream_tumbling_event_counts(spark, str(copy_dir)).collect()
    )
    want = sorted(
        tuple(r) for r in stream_tumbling_event_counts(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_drain_state_partitions(spark, tmp_path):
    """The drain's state-partition count: one partition per started
    STREAM_PART_BYTES of source data, floored at the session's
    parallelism for python-stateful operators."""
    small = tmp_path / "small.parquet"
    small.write_bytes(b"x")
    big = tmp_path / "big.parquet"
    with open(big, "wb") as fh:  # sparse: the size without the bytes
        fh.truncate(3 * ES.STREAM_PART_BYTES + 1)
    cores = spark.sparkContext.defaultParallelism

    assert ES._state_partitions(spark, str(small), False) == 1
    assert ES._state_partitions(spark, str(big), False) == 4
    assert ES._state_partitions(spark, str(small), True) == max(1, cores)
    assert ES._state_partitions(spark, str(big), True) == max(4, cores)


def test_failed_drain_restores_shuffle_partitions_and_drops_sink(spark, sf_dir):
    """The drain's partition count is set on the session only around
    its query: a query that raises leaves the session value as it was,
    and its memory sink is dropped like a finished one's."""
    key = "spark.sql.shuffle.partitions"
    stream = ES.read_events_stream(spark, sf_dir)
    before = spark.conf.get(key)
    assert before != "1"  # the drain below runs at 1
    failing = stream.withColumn("boom", F.raise_error(F.lit("boom")))
    with pytest.raises(StreamingQueryException):
        ES.run_available_now(
            failing, "failing_drain",
            source=ES.events_path(sf_dir), output_mode="append",
        )
    assert spark.conf.get(key) == before
    assert not any(
        t.name.startswith("failing_drain_") for t in spark.catalog.listTables()
    )
