"""Range joins (north-star custom-operator family: "range join").

Spark plans a raw non-equi time predicate as BroadcastNestedLoopJoin
(small side) or a cartesian sort-merge — both collapse at scale.  The
scalable shape is the standard time-binning trick: quantize time into
fixed-width buckets so bucket equality becomes a hash-join/groupBy key,
then verify the exact predicate inside each bucket.

- point_in_interval_join: point ⋈ interval containment.  Intervals
  explode into every bucket they cover; points map to exactly ONE
  bucket, so a matching pair meets in exactly one bucket and the
  equi-join emits NO duplicates — no dedup pass needed.
- interval_overlap_pairs: all overlapping interval pairs (cross-entity
  concurrency).  Both sides explode; a pair can share several buckets,
  so pairs are expanded array-locally per bucket (the dedup.py
  _bucket_pairs idiom — never a self-join) and dedup'd on the pair key.

Buckets are date_trunc units, and all arithmetic stays in the
timestamp domain (date_trunc / sequence-by-interval / greatest /
least): TIMESTAMP_NTZ never converts through an epoch number, so
results are independent of the session timezone — the same contract
that makes session_stats oracle-stable.

Bucket width trades shuffle volume (rows × covered buckets) against
bucket occupancy (verify work per bucket); pick the unit near the
typical interval length so most intervals explode into O(1) buckets.
Skewed hot buckets are bounded by max_bucket, same cost-cap contract
as the LSH candidate stages.

Long-interval contract: an interval explodes into one row per covered
bucket, so a pathological interval (years long at 'hour' granularity)
costs thousands of shuffle rows by itself.  If the interval-length
distribution is heavy-tailed, either use a coarser unit ('day'/'week')
— correctness is granularity-independent, any shared covered bucket
witnesses the overlap — or pre-split outliers: a long interval may be
cut into chunks (each chunk keeps the ORIGINAL bounds as payload) and
the pair-dedup step already collapses the duplicate hits.  Neither is
automatic here; the operator is deliberately one explode with a
measurable cost model (time it at scale with scripts/make_scale_dir.py
plus bench.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_UNIT_INTERVAL = {
    "minute": "INTERVAL 1 MINUTE",
    "hour": "INTERVAL 1 HOUR",
    "day": "INTERVAL 1 DAY",
    "week": "INTERVAL 7 DAY",
}


def _covered_buckets(start: Column, end: Column, unit: str) -> Column:
    """Every bucket_width-aligned bucket the [start, end] interval
    touches, as an array of truncated timestamps."""
    step = F.expr(_UNIT_INTERVAL[unit])
    return F.sequence(F.date_trunc(unit, start), F.date_trunc(unit, end), step)


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bucket: str = "hour",
    how: str = "inner",
) -> DataFrame:
    """Rows of `points` ⋈ the `intervals` rows containing them
    (start <= point <= end, inclusive).  Returns points columns +
    interval columns; a point inside k intervals appears k times."""
    if bucket not in _UNIT_INTERVAL:
        raise ValueError(f"point_in_interval_join: bucket must be one of {list(_UNIT_INTERVAL)}")
    if how not in ("inner", "left"):
        raise ValueError(f"point_in_interval_join: how must be inner/left, got {how!r}")
    p = points.withColumn("__b", F.date_trunc(bucket, F.col(point_ts)))
    iv = intervals.withColumn(
        "__b", F.explode(_covered_buckets(F.col(start_ts), F.col(end_ts), bucket))
    )
    cond = (
        (p["__b"] == iv["__b"])
        & (F.col(point_ts) >= F.col(start_ts))
        & (F.col(point_ts) <= F.col(end_ts))
    )
    return p.join(iv, cond, how).drop("__b")


def interval_overlap_pairs(
    intervals: DataFrame,
    *,
    id_cols: list[str],
    start_ts: str,
    end_ts: str,
    bucket: str = "hour",
    max_bucket: int = 256,
    on_overflow: str = "error",
) -> DataFrame:
    """All pairs of intervals that overlap in time ([s,e] inclusive,
    a.start <= b.end AND b.start <= a.end), each pair once with side a
    ordered before side b by id_cols (struct ordering).

    One shuffle on the time bucket; pair expansion is array-local per
    bucket (sorted, width-capped — degenerate hot buckets are a bounded
    cost, not an O(n²) blowup); overlap verified from the carried
    bounds, so no join back to the input.  Output: id_cols suffixed
    _a/_b plus the overlap window [overlap_start, overlap_end].

    This is an EXACT operator, so a bucket wider than max_bucket must
    not silently drop intervals (repo rule: no silent caps).
    on_overflow picks the contract:
    - "error" (default): any bucket holding > max_bucket intervals
      fails the job with the bucket and its size in the message — raise
      max_bucket, coarsen the bucket unit, or opt into truncation.
    - "truncate": keep the first max_bucket start-ordered intervals per
      bucket (the pre-r05 behavior) — an explicit approximation for
      cost-capped exploratory runs, never the default.
    """
    if bucket not in _UNIT_INTERVAL:
        raise ValueError(f"interval_overlap_pairs: bucket must be one of {list(_UNIT_INTERVAL)}")
    if on_overflow not in ("error", "truncate"):
        raise ValueError(
            f"interval_overlap_pairs: on_overflow must be error/truncate, got {on_overflow!r}"
        )
    item = F.struct(
        *[F.col(c) for c in id_cols],
        F.col(start_ts).alias("__s"),
        F.col(end_ts).alias("__e"),
    )
    binned = intervals.select(
        item.alias("__it"),
        F.explode(_covered_buckets(F.col(start_ts), F.col(end_ts), bucket)).alias("__b"),
    )

    # bucket items sorted by START (ids as deterministic tiebreak): for
    # start-ordered items i < j, overlap reduces to items[j].__s <=
    # items[i].__e (the other inequality is implied), so the filter runs
    # INSIDE the array expression and non-overlapping candidates are
    # never materialized as pair structs — on dense buckets this is the
    # difference between exploding C(k,2) rows and exploding only the
    # true overlaps.
    def by_start(l: Column, r: Column) -> Column:
        return (
            F.when(l["__s"] < r["__s"], F.lit(-1))
            .when(l["__s"] > r["__s"], F.lit(1))
            .when(l < r, F.lit(-1))  # struct order: id_cols lead
            .when(l > r, F.lit(1))
            .otherwise(F.lit(0))
        )

    collected = F.array_sort(F.collect_list("__it"), by_start)
    if on_overflow == "error":
        # The raise lives in the slice-length expression so Catalyst
        # cannot prune it away: any bucket over the cap fails the job
        # loudly instead of silently dropping intervals.
        length = F.when(F.size(collected) <= max_bucket, F.size(collected)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("interval_overlap_pairs: bucket "),
                    F.col("__b").cast("string"),
                    F.lit(" holds "),
                    F.size(collected).cast("string"),
                    F.lit(
                        f" intervals > max_bucket={max_bucket}; raise max_bucket,"
                        " use a coarser bucket unit, or pass"
                        " on_overflow='truncate' to cap explicitly"
                    ),
                )
            ).cast("int")
        )
    else:
        length = F.lit(max_bucket)
    buckets = (
        binned.groupBy("__b")
        .agg(F.slice(collected, 1, length).alias("items"))
        .where(F.size("items") > 1)
    )
    n = F.size("items")

    def emit(i: Column):
        x = F.element_at(F.col("items"), i)
        return F.transform(
            F.filter(
                F.slice(F.col("items"), i + 1, n - i),
                lambda y: y["__s"] <= x["__e"],
            ),
            # canonical pair order is by id_cols (struct natural order),
            # not by start — swap at emit
            lambda y: F.struct(
                F.when(x < y, x).otherwise(y).alias("a"),
                F.when(x < y, y).otherwise(x).alias("b"),
            ),
        )

    pairs = F.flatten(F.transform(F.sequence(F.lit(1), n - 1), emit))
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(
            *[F.col(f"p.a.{c}").alias(f"{c}_a") for c in id_cols],
            *[F.col(f"p.b.{c}").alias(f"{c}_b") for c in id_cols],
            F.greatest("p.a.__s", "p.b.__s").alias("overlap_start"),
            F.least("p.a.__e", "p.b.__e").alias("overlap_end"),
        )
        # a pair spanning k shared buckets expands k times — dedup on the pair key
        .dropDuplicates([f"{c}_a" for c in id_cols] + [f"{c}_b" for c in id_cols])
    )
