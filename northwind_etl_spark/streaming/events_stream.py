"""Structured Streaming twins of the batch event operators
(operators/sessionize.py): same semantics, plus watermarks for late
data and incremental state.

The harness data is static parquet, so tests drive these with
``trigger(availableNow=True)`` into a memory sink — the exact same
query graph would run against a Kafka/file stream in production by
swapping the source; that swap is the whole streaming upgrade path
promised in SURVEY.md §7.

Scale notes: windowed aggregations keyed by (window, event_type) and
session windows keyed by user_id both shuffle once onto state-store
partitions; watermarks bound state size — without them a 100 TB/day
stream would accumulate state forever.
"""

from __future__ import annotations

import atexit
import hashlib
import itertools
import os
import shutil
import tempfile
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..schemas import EVENTS_RAW
from ..session import harden
from ..sources.parquet import _NS_TO_NTZ, data_file_stats, read_parquet

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_SINK_SEQ = itertools.count(1)
_SPILL_ROOT: list[str] = []


def events_path(sf_dir: str) -> str:
    """The events parquet of a scale-factor dir: a single file or a
    directory-layout dataset."""
    return os.path.join(sf_dir, "events.parquet")


def _events_stream_dir(sf_dir: str) -> str:
    """The file stream source wants a *directory* to watch; the test
    data ships one file per table in a shared dir.  Expose the events
    file through a per-sf symlink directory (what a real deployment
    would have natively: one landing directory per stream).

    A DIRECTORY-layout events.parquet (the standard production shape,
    ADVICE r12's layout) is already a landing directory — watch it
    directly.  Symlinking it under the watch dir instead would make
    the file source see a SUBDIRECTORY, which it silently skips (it
    only descends into key=value partition dirs): the r13 scale lane
    caught exactly that as a 0-row drain."""
    target = events_path(sf_dir)
    if os.path.isdir(target):
        return target
    d = os.path.join(
        tempfile.gettempdir(), f"nes_events_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}"
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    # lexists, not exists: exists() follows the link, so a dangling
    # symlink (tempdir outlived a recreated sf_dir) would read as
    # "absent" and the re-create below would hit FileExistsError
    if os.path.lexists(link):
        if os.path.islink(link) and os.readlink(link) == target:
            return d
        os.unlink(link)
    os.symlink(target, link)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet with the same ts
    normalization as the batch reader (sources/parquet.py::read_events).

    A file stream needs its schema declared up-front, so probe the
    file's *physical* ts type with a one-file batch read: only when ts
    is int64 (parquet TIMESTAMP(NANOS) under nanosAsLong) do we force
    the raw-long schema and the exact ns→µs conversion; a file that
    already stores timestamp[us] streams with its native schema.
    Forcing the long schema unconditionally mis-reads µs as ns (÷10⁹)
    and lands every event in Jan 1970.
    """
    harden(spark)
    probe = read_parquet(spark, events_path(sf_dir))
    ts_is_raw_ns = dict(probe.dtypes)["ts"] in ("bigint", "long")
    schema = EVENTS_RAW if ts_is_raw_ns else probe.schema
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(_events_stream_dir(sf_dir))
    )
    # watermarks require TIMESTAMP (LTZ); the session is hardened to UTC
    # so NTZ→LTZ is a deterministic relabel, and window bounds are cast
    # back to NTZ on output to match the batch operators bit-for-bit.
    ts_expr = F.expr(_NS_TO_NTZ) if ts_is_raw_ns else F.col("ts")
    return raw.withColumn("ts", ts_expr.cast("timestamp"))


def windowed_counts_stream(events: DataFrame, *, duration: str = "1 hour") -> DataFrame:
    """Tumbling-window counts + value sum with a 2-hour watermark: late
    events beyond the watermark are dropped, state is bounded.  The sum
    follows the engine's decimal contract (functions/money.py) so the
    streamed aggregate is order-independent and oracle-comparable —
    micro-batch arrival order must not change the answer."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("__sv"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            F.round("__sv", 2).cast("double").alias("sum_value"),
        )
    )


def session_window_stream(events: DataFrame, *, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (gap-close semantics identical to the
    batch sessionize): state closes `gap` after the last event."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def purchase_click_attribution_stream(
    events: DataFrame, *, horizon_minutes: int = 30, how: str = "inner"
) -> DataFrame:
    """Stream–stream interval join: each purchase joins the clicks by
    the SAME user in the preceding `horizon_minutes` — streaming
    last-touch attribution, the canonical two-stream use case.

    Both sides carry watermarks and the join condition bounds the time
    range, so state for either side is dropped once the watermark
    passes the horizon — without the range bound a stream–stream join
    must keep EVERY past row and state grows forever (the reason Spark
    rejects unbounded stream–stream joins outright in append mode
    without watermarks).  One shuffle per side on user_id; matches emit
    as soon as both sides arrive.

    how='left_outer' adds the unattributed purchases: a purchase with
    no qualifying click emits once with NULL click columns — but only
    after the watermark passes the point where a matching click could
    still arrive (no future click can satisfy click_ts <= purchase_ts
    once the watermark exceeds purchase_ts).  Purchases newer than the
    final watermark stay in state and are NOT emitted — on an unbounded
    stream they'd emit later; an availableNow drain ends before their
    eviction, and a batch-equality oracle must mirror that cutoff.
    """
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", "2 hours")
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("purchase_ts", "2 hours")
    joined = purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon_minutes} MINUTES")),
        how,
    )
    return joined.select(
        F.col("p_user_id").alias("user_id"),
        "purchase_id",
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "click_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
    )


def enrich_with_static(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: each micro-batch joins against the (possibly
    refreshed) static dimension — the standard streaming enrichment
    pattern (no state, broadcast-able dim, watermark not required)."""
    return events.join(F.broadcast(dim), on=on, how="left")


def stream_dedup(events: DataFrame, *, key_cols: list[str] | None = None) -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark keeps state
    only for the watermark horizon — the unbounded-stream version of
    operators/dedup.py::dedup_exact (state for all-time keys would OOM
    on an infinite stream; the watermark bounds it)."""
    keys = key_cols or ["event_id"]
    return events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(keys)


_STATE_SCHEMA = "total LONG"
_OUT_SCHEMA = "user_id LONG, events_seen LONG"


def running_user_counts_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a running
    per-user event count that survives across micro-batches — the
    minimal template for bespoke streaming state (the reference has no
    analog; north-star custom-stateful requirement)."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (total,) = state.get() if state.exists else (0,)
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "events_seen": [total]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def upsert_by_partition_stream(
    events: DataFrame, out_path: str, ckpt_path: str
) -> None:
    """foreachBatch upsert: each micro-batch dynamically overwrites only
    the (event-date) partitions it touches — idempotent incremental
    loading of a partitioned table from a stream, without a lakehouse
    format.  Replays of a batch rewrite the same partitions to the same
    content (exactly-once at partition granularity)."""
    from ..sources.files import write_reload

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        dated = batch_df.withColumn("event_date", F.to_date("ts"))
        write_reload(dated, out_path, partition_by=["event_date"])

    q = (
        events.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def incremental_state_stream(
    events: DataFrame,
    state_root: str,
    ckpt_path: str,
    *,
    keys: list[str],
    value: str,
    source: str,
) -> None:
    """foreachBatch incremental aggregate maintenance — the streaming
    form of operators/incremental.py's mergeable-state pattern: each
    micro-batch is partialized into (decimal-sum, count, min, max)
    states and merged with the previous state TABLE, never with raw
    history.  A day of delta costs a delta-sized aggregation plus a
    state-table-sized merge, independent of total history size.

    Idempotence: each batch writes state version ``v{batch_id}``
    derived from the newest version BELOW batch_id, so a replayed
    batch (failure between sink write and checkpoint commit)
    recomputes the same version from the same predecessor instead of
    double-counting — exactly-once at state-version granularity, the
    same contract as upsert_by_partition_stream's partition overwrite.

    `source` is the parquet path the stream reads; it sizes the drain's
    shuffle partitions as in run_available_now.
    """
    from ..operators import incremental as I

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        part = I.partial_states(batch_df, keys, value)
        prev_versions = []
        if os.path.isdir(state_root):
            for d in os.listdir(state_root):
                if d.startswith("v") and d[1:].isdigit() and int(d[1:]) < batch_id:
                    prev_versions.append(int(d[1:]))
        if prev_versions:
            prev = spark.read.parquet(f"{state_root}/v{max(prev_versions)}")
            merged = I.merge_states(prev, part)
        else:
            merged = part
        merged.write.mode("overwrite").parquet(f"{state_root}/v{batch_id}")

    _drain(
        events.writeStream.foreachBatch(merge).option(
            "checkpointLocation", ckpt_path
        ),
        events.sparkSession,
        source,
    )


def read_incremental_state(
    spark: SparkSession, state_root: str, *, prefix: str
) -> DataFrame:
    """Finalize the newest state version (presentation columns, one
    rounding — operators/incremental.py::finalize)."""
    import os

    from ..operators import incremental as I

    versions = [
        int(d[1:])
        for d in os.listdir(state_root)
        if d.startswith("v") and d[1:].isdigit()
    ]
    if not versions:
        raise FileNotFoundError(f"no state versions under {state_root}")
    state = spark.read.parquet(f"{state_root}/v{max(versions)}")
    return I.finalize(state, prefix=prefix)


def source_parquet_bytes(path: str) -> int:
    """Data bytes of a parquet source that may be a single file OR a
    standard directory-layout dataset (ADVICE r12: os.path.getsize on
    a directory returns the inode size, ~4 KB, silently degrading the
    adaptive partition count to 1 in exactly the production layout).
    Counts the data files sources/parquet.py::data_file_stats lists;
    raises OSError on a missing or non-local path, which no stream
    could have read either."""
    return sum(size for _name, size, _mtime in data_file_stats(path))


STREAM_PART_BYTES = 32 << 20


def adaptive_stream_partitions(input_bytes: int) -> int:
    """Shuffle/state partition count for a streaming drain, DERIVED
    FROM THE SOURCE SIZE (optimization guide §2: make partitioning
    scale-adaptive, never a constant tuned for one deployment).

    Batch plans get this adaptivity from AQE partition coalescing;
    Structured Streaming has NO AQE — whatever
    ``spark.sql.shuffle.partitions`` says at query start becomes the
    state-store partition count for the checkpoint's lifetime.  A
    vanilla session therefore maintains 32+ HDFS-backed state stores
    per stateful operator (a stream–stream outer join keeps FOUR
    stores per partition) to drain a few-MB fixture, while a
    100 TB/day stream would be stuck with the same constant.  Sizing
    by source bytes fixes both ends: floor 1, no cap, linear in the
    input, at ``STREAM_PART_BYTES`` (32 MiB) of source bytes per
    partition.

    Partition count never changes WHAT a streaming query emits — the
    keyed state operators are partitioning-independent by contract
    (each entry's oracle pins the semantics, not the layout); only
    task/state-store overhead moves.
    """
    return max(1, -(-int(input_bytes) // STREAM_PART_BYTES))


def _state_partitions(
    spark: SparkSession, source: str, python_stateful: bool
) -> int:
    """The drain's state-partition count: the byte rule on `source`,
    floored at the session's parallelism for python-stateful operators
    (applyInPandasWithState walks its groups serially inside each
    partition's Python worker, so that drain is bound by per-key
    compute, not by state-store overhead)."""
    n = adaptive_stream_partitions(source_parquet_bytes(source))
    if python_stateful:
        n = max(n, spark.sparkContext.defaultParallelism)
    return n


def _drain(
    writer: DataStreamWriter,
    spark: SparkSession,
    source: str,
    *,
    python_stateful: bool = False,
) -> None:
    """Run `writer` once with availableNow at the state-partition count
    sized from `source`, and wait for it to finish.

    The count is set on the session around the query only: a
    streaming query captures ``spark.sql.shuffle.partitions`` at start
    and pins it into its checkpoint, and the session value is restored
    before returning (also when the query raises), so batch plans are
    untouched.

    Concurrency note (ADVICE r12): ``spark.sql.shuffle.partitions`` is
    SESSION-GLOBAL, so a plan built concurrently in another thread of
    the same session during this window would capture the temporary
    value.  The engine's drains are single-threaded (bench/driver run
    queries sequentially); a caller that overlaps streaming drains
    with other plan construction must serialize them (or build the
    other plans in a cloned session via ``spark.newSession()``, which
    has its own conf).
    """
    n_parts = _state_partitions(spark, source, python_stateful)
    old = spark.conf.get(_SHUFFLE_PARTITIONS)
    spark.conf.set(_SHUFFLE_PARTITIONS, str(n_parts))
    try:
        writer.trigger(availableNow=True).start().awaitTermination()
    finally:
        spark.conf.set(_SHUFFLE_PARTITIONS, old)


def spill_dir(base_name: str) -> str:
    """Per-drain parquet spill dir under one session-scoped root that
    is removed at interpreter exit — bench warmup + reps and repeated
    driver checks must not accumulate full-result copies in /tmp
    across rounds.  (The dirs can't be removed eagerly: the returned
    DataFrame reads them lazily for its whole lifetime.)"""
    if not _SPILL_ROOT:
        root = tempfile.mkdtemp(prefix="nes_drain_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SPILL_ROOT.append(root)
    return tempfile.mkdtemp(prefix=f"{base_name}_", dir=_SPILL_ROOT[0])


def run_available_now(
    df: DataFrame,
    name: str,
    *,
    source: str,
    output_mode: str,
    python_stateful: bool = False,
) -> DataFrame:
    """availableNow-drain a streaming DataFrame read from the parquet
    path `source` into a uniquely-named memory sink (repeat calls in
    one session must not collide), spill the result to a temp parquet
    dir, and FREE the sink (also when the query raises).  The state-partition count comes from the
    size of `source` (adaptive_stream_partitions), floored at the
    session's parallelism when `python_stateful` (_state_partitions).

    Without the spill+drop, every drain leaves its full result pinned
    in driver memory for the session lifetime (the memory sink holds
    all rows behind the temp view) — bench reps and repeated driver
    checks would stack whole-table copies.  The parquet hop keeps the
    result distributed (no collect) and the returned DataFrame owns
    its own storage.

    Output-mode contract (the memory sink APPENDS each micro-batch's
    emitted rows to its table): windowed aggregations must drain in
    ``complete`` mode — the sink then replaces the table every batch,
    so a window updated across several micro-batches lands exactly
    once.  In ``update`` mode the same window would land twice
    (partial state + final state) as soon as the source splits into
    >1 batch (multi-file input, maxFilesPerTrigger); ``update`` is only
    safe when the caller post-aggregates the sink (e.g. monotone
    running counts reduced with MAX per key).  ``append`` is for
    operators that emit each row exactly once (stream–stream inner
    joins, dropDuplicatesWithinWatermark, watermark-closed session
    windows) — correct across any batch split by construction.
    """
    spark = df.sparkSession
    sink = f"{name}_{next(_SINK_SEQ)}"
    spill = spill_dir(name)
    try:
        _drain(
            df.writeStream.format("memory").queryName(sink).outputMode(output_mode),
            spark,
            source,
            python_stateful=python_stateful,
        )
        out = spark.table(sink)
        out.write.mode("overwrite").parquet(spill)
    finally:  # a failed drain must not pin its partial rows either
        spark.catalog.dropTempView(sink)
    return read_parquet(spark, spill, schema=out.schema)


def two_level_window_stream(
    events: DataFrame, *, inner: str = "1 hour", outer: str = "6 hours"
) -> DataFrame:
    """CHAINED stateful aggregation (Spark 3.4+ multiple-stateful-
    operator support): hourly tumbling counts/decimal-sums re-windowed
    into 6-hour rollups in ONE streaming query — the pre-aggregation
    cascade a metrics pipeline runs so the wide window never touches
    raw events (state for the outer level is bounded by inner-window
    rows, not event rows).

    Append-mode semantics (measured, pinned by the oracle): on an
    availableNow drain the final watermark is max(ts) − 2 h, and the
    sink holds exactly the OUTER windows whose END ≤ that watermark —
    every inner window of such an outer window has already closed, so
    their counts equal the batch rollup over raw events (verified by
    the hash-matched `stream_two_level_counts` entry)."""
    lvl1 = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", inner).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("__n1"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("__sv"),
        )
    )
    return (
        lvl1.groupBy(F.window(F.col("w"), outer).alias("w6"), "event_type")
        .agg(F.sum("__n1").alias("n_events"), F.sum("__sv").alias("__sv6"))
        .select(
            F.col("w6.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            F.round("__sv6", 2).cast("double").alias("sum_value"),
        )
    )
