"""Distributed global ranking — dense global row numbers WITHOUT the
single-task global window.

The trap: ``row_number().over(Window.orderBy(...))`` (no partitionBy)
is correct and fine on a vocabulary of thousands, but Catalyst compiles
it to ``Exchange SinglePartition`` + one task sorting the entire
relation — at a 100 TB corpus's vocabulary (10⁸+ terms) that is THE
scale-killer, and it's silent: the plan runs, it just runs on one core
with one task's memory.

The fix is the classic two-phase shape (the DataFrame rendering of
``RDD.zipWithIndex``):

1. ``repartitionByRange`` on the order keys — a range exchange whose
   bounds come from a distributed sample, so partition i holds keys
   strictly before partition i+1 (unique total order ⇒ well-defined);
2. per-partition LOCAL ranking inside the persisted stage —
   ``sortWithinPartitions`` on the order keys, then the low 33 bits of
   ``monotonically_increasing_id`` (its per-partition record counter);
   no window, so no second exchange on the partition id;
3. per-partition counts — P rows, driver-sized by construction —
   turned into cumulative offsets and attached as ONE ``array<bigint>``
   literal indexed by the captured ``spark_partition_id``; global rank
   = local rank + offset.

The result is bit-identical to the single-window form when the order
is total (pinned in tests/test_ranking.py), costs one range exchange
and no SinglePartition, and the only driver-side data is the P-row
count list.  No join attaches the offsets: a ``createDataFrame`` offset
relation is a Python RDD scan, and every action on the result would
run an extra job for it.

North-star use: stable vocabulary ids for tokenizer export
(`term_vocabulary_ids`), global sort positions for deterministic
sharding — anywhere "number every row of a huge sorted relation" comes
up.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrays import lit_long_array
from ..session import repartition_width

# monotonically_increasing_id = partition index << 33 | record number
_RECORD_BITS = (1 << 33) - 1


def _offsets_by_pid(per_pid: list[tuple[int, int]]) -> Column:
    """The exclusive prefix sums of the (pid, n) pairs (pid ascending)
    as an array<bigint> literal, read at each row's own ``__pid``:
    partitions absent from the list hold no rows, so their slot is
    never read."""
    offsets = [0] * (max((pid for pid, _ in per_pid), default=0) + 1)
    running = 0
    for pid, n in per_pid:
        offsets[pid] = running
        running += n
    return F.element_at(lit_long_array(offsets), F.col("__pid") + 1)


def global_row_number(
    df: DataFrame,
    order_cols: list[Column | str],
    *,
    rank_col: str = "global_rank",
    partitions: int | None = None,
) -> DataFrame:
    """Append 1-based `rank_col` following `order_cols` — which must be
    a TOTAL order (include a unique tie-breaker; with ties across a
    range-partition boundary the split, and therefore the ranks, would
    be sample-dependent)."""
    from ..cache import persist_stage

    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    p = partitions or repartition_width(df.sparkSession)
    # persisted: the counts action and the ranking plan must see the
    # SAME range split and local numbering (the range exchange runs
    # once, and the nondeterministic record counter is fixed)
    ranged = persist_stage(
        df.repartitionByRange(p, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__local",
            F.monotonically_increasing_id().bitwiseAND(F.lit(_RECORD_BITS)) + 1,
        )
    )
    counts = (
        ranged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy("__pid")
        .collect()
    )
    offset = _offsets_by_pid([(r["__pid"], r["__n"]) for r in counts])
    return ranged.withColumn(
        rank_col, (F.col("__local") + offset).cast("long")
    ).drop("__pid", "__local")


def global_running_sum(
    df: DataFrame,
    order_cols: list[Column | str],
    value_col: str,
    *,
    out_col: str = "running_sum",
    partitions: int | None = None,
) -> DataFrame:
    """Append the INCLUSIVE prefix sum of `value_col` following
    `order_cols` (a TOTAL order — same contract as global_row_number)
    WITHOUT a single-partition window: range-partition on the order,
    local cumulative window per partition (computed once, inside the
    persisted stage), then one bounded collect of per-partition totals
    whose exclusive prefix becomes a literal offset array.  Driver
    state is P rows — the two-phase ranking pattern extended from
    ranks to sums (rank = prefix sum of 1).

    `value_col` must be an INTEGRAL type: the per-partition offsets
    travel as BIGINTs, so a decimal/float column would be silently
    truncated — rejected up front instead.  (Decimal prefix sums need
    a decimal offset channel; add it when a caller exists.  Float
    prefix sums are order-dependent and never exact.)
    """
    from ..cache import persist_stage

    vtype = df.schema[value_col].dataType.simpleString()
    if vtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"global_running_sum: {value_col!r} is {vtype}; only"
            " integral value columns merge exactly through the BIGINT"
            " offset channel"
        )
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    p = partitions or repartition_width(df.sparkSession)
    local = F.sum(value_col).over(
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranged = persist_stage(
        df.repartitionByRange(p, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__local", local)
    )
    totals = (
        ranged.groupBy("__pid")
        .agg(F.sum(value_col).cast("long").alias("__s"))
        .orderBy("__pid")
        .collect()
    )
    offset = _offsets_by_pid([(r["__pid"], r["__s"] or 0) for r in totals])
    return ranged.withColumn(
        out_col, (F.col("__local").cast("long") + offset).cast("long")
    ).drop("__pid", "__local")
