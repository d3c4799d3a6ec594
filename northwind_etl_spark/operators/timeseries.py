"""Hypertable-style time-series rollup: bucketed downsampling with
gap-filling — the "hypertable rollup" custom operator from the
north-star list, composed entirely from built-in DataFrame ops.

Shape (one keyed shuffle + one co-partitioned join + one window):
1. `date_trunc(unit)` bucket aggregation — the only full shuffle, with
   map-side partial aggregation;
2. a per-entity dense bucket SPINE built executor-side with
   `sequence(min_bucket, max_bucket, interval)` + `explode` — never a
   driver-side loop or a cross join against a calendar table.  The
   explode factor is span/unit per entity, the same bound a TimescaleDB
   `time_bucket_gapfill` pays;
3. a left join of aggregates onto the spine — both sides hash on the
   entity key, so at scale this co-partitions with the agg exchange;
4. optional LOCF (`last(value, ignorenulls=True)` over an unbounded
   preceding window per entity) — one window pass, state bounded per
   entity like any keyed window.

100 TB reading: the spine size is |entities| × (span/unit), data-
independent of event volume; skew only follows entity skew, which the
bucket agg already shuffled on.  A year of daily buckets for 1 B
entities is 365 B spine rows — if that dominates, coarsen the unit or
restrict the span, same knobs as any gap-filling rollup.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import repartition_width

_UNIT_INTERVAL = {
    "hour": "INTERVAL 1 HOUR",
    "day": "INTERVAL 1 DAY",
    "week": "INTERVAL 7 DAY",
    "month": None,  # months are irregular: spine uses add_months instead
}


def downsample_gapfill(
    df: DataFrame,
    entity_cols: Sequence[str],
    ts_col: str,
    value_col: str | Column,
    unit: str = "day",
    agg: str = "sum",
    fill: float | None = 0.0,
    locf_col: str | None = None,
) -> DataFrame:
    """Per-entity `unit`-bucket aggregate of `value_col`, densified so
    every bucket between each entity's first and last active bucket is
    present.  Missing buckets get `fill` (None keeps them NULL); if
    `locf_col` is set, a carry-forward column (last observed aggregate)
    is added alongside.

    Returns entity_cols + [bucket, value] (+ [locf_col]).
    """
    if unit not in _UNIT_INTERVAL:
        raise ValueError(f"unit must be one of {sorted(_UNIT_INTERVAL)}, got {unit!r}")
    agg_fn = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max, "count": F.count}[agg]
    ecols = [F.col(c) for c in entity_cols]
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket")

    per_bucket = (
        df.select(*ecols, bucket, F.col(value_col).alias("__v") if isinstance(value_col, str) else value_col.alias("__v"))
        .groupBy(*entity_cols, "bucket")
        .agg(agg_fn("__v").alias("value"))
    )

    interval = _UNIT_INTERVAL[unit]
    if interval is not None:
        spine_seq = F.expr(f"sequence(min_b, max_b, {interval})")
    else:
        spine_seq = F.expr(
            "transform(sequence(0, CAST(months_between(max_b, min_b) AS INT)),"
            " i -> add_months(min_b, i))"
        )
    spine = (
        per_bucket.groupBy(*entity_cols)
        .agg(F.min("bucket").alias("min_b"), F.max("bucket").alias("max_b"))
        .select(*entity_cols, F.explode(spine_seq).alias("bucket"))
    )

    dense = spine.join(per_bucket, [*entity_cols, "bucket"], "left")
    out_value = F.col("value")
    if locf_col is not None:
        w = (
            Window.partitionBy(*entity_cols)
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        dense = dense.withColumn(locf_col, F.last("value", ignorenulls=True).over(w))
    if fill is not None:
        # type the fill literal as the aggregate's own type: a raw
        # double literal would widen COALESCE(long_count, 0.0) — and any
        # integral/decimal aggregate — to DOUBLE, silently changing the
        # output schema of the gap-filled column.
        vtype = dense.schema["value"].dataType
        integral = vtype.simpleString() in ("tinyint", "smallint", "int", "bigint")
        if integral and float(fill) != int(fill):
            raise ValueError(
                f"downsample_gapfill: fill={fill!r} is fractional but agg={agg!r}"
                f" produces {vtype.simpleString()}; pick an integral fill"
            )
        dense = dense.withColumn("value", F.coalesce(out_value, F.lit(fill).cast(vtype)))
    return dense.select(*entity_cols, "bucket", "value", *([locf_col] if locf_col else []))


def ewma_by_key(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    alpha: float = 0.3,
    bucket: str = "day",
) -> DataFrame:
    """Exponentially-weighted moving average of a per-bucket series,
    per key — the smoothing operator of the hypertable family
    (recursive y_t = alpha*x_t + (1-alpha)*y_{t-1}, seeded y_1 = x_1).

    A recursion cannot be a window frame, and factoring it into a
    power-weighted window sum loses precision exponentially with
    series length.  Instead the DOWNSAMPLED series (bounded: one point
    per bucket, so |series| = time-range/bucket regardless of event
    volume — the same bound the hot-key mitigations lean on) is
    collected per key and folded with a Catalyst `aggregate`
    expression, seeded with the first element and folding the rest.
    A SQL oracle can run the IDENTICAL fold (DuckDB list_reduce over
    the same ordered list), making the result bit-exact across
    engines — no rounding tolerance needed, we round only for
    presentation.

    Per-bucket sums accumulate in DECIMAL (order-independent) before
    the double fold, per the house determinism contract.
    """
    daily = (
        df.groupBy(
            F.col(key_col), F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
        )
        .agg(
            F.sum(F.col(value_col).cast("decimal(38,6)"))
            .cast("double")
            .alias("x")
        )
    )
    series = daily.groupBy(key_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("bucket", "x"))),
            lambda s: s["x"],
        ).alias("xs")
    )
    a = float(alpha)
    folded = F.aggregate(
        F.slice("xs", 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.element_at("xs", 1),
        lambda acc, x: F.lit(a) * x + F.lit(1.0 - a) * acc,
    )
    return series.select(
        F.col(key_col),
        F.size("xs").alias("n_buckets"),
        F.round(folded, 6).alias("ewma_value"),
    )


def time_weighted_avg(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key time-weighted average: each observation's value holds
    until the key's next observation (step interpolation), weighted by
    that duration in microseconds; the final observation has no
    duration and is excluded.  The metric a dashboard actually wants
    for irregularly-sampled series — a plain AVG over-weights bursts.

    One keyed window (lead) + one keyed aggregation, same single
    hash-partitioning both stages.  Exactness contract: durations are
    exact integral microseconds on both engines (unix_micros /
    epoch_us), the value×duration product is one IEEE double multiply,
    and the weighted sum goes through the DECIMAL(38,6) money-sum
    domain — so the DuckDB oracle lands on identical doubles.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, value_col)
    us = F.unix_micros(F.col(ts_col))
    stepped = (
        df.select(key_col, ts_col, value_col)
        .withColumn("__dur_us", F.lead(us).over(w) - us)
        .where(F.col("__dur_us").isNotNull())
    )
    weighted = (F.col(value_col) * F.col("__dur_us")).cast("decimal(38,6)")
    return stepped.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.round(
            F.sum(weighted).cast("double") / F.sum("__dur_us").cast("double"), 6
        ).alias("twa_value"),
    )


def lttb_downsample(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    k: int,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013)
    — THE visualization-grade series reducer: per key, keep exactly
    min(k, n) points chosen so the drawn line preserves the series'
    visual shape (peaks, troughs, trend breaks), where naive
    every-m-th sampling flattens extremes.  First and last points are
    always kept; each of the k-2 interior buckets contributes the
    point forming the LARGEST triangle with the previously selected
    point and the NEXT bucket's centroid — a sequential geometric
    recurrence, which is why no single SQL statement expresses it
    (DuckDB included): the entry is rows-only by declared design, and
    correctness is pinned by a pure-Python reference replayed
    point-for-point plus planted-geometry fixtures
    (tests/test_lttb.py).

    Engine shape: ONE shuffle (repartition on the key) with the sort
    done by Spark (sortWithinPartitions on key, ts, value — JVM-side,
    spillable), then a single mapInPandas pass that walks each
    partition's key-runs with O(k) numpy bucket reductions per key.
    The r06 form was groupBy().applyInPandas — semantically identical,
    but it builds one pandas DataFrame PER KEY, and at sf0.1 (~10k
    user series of a few hundred points) the per-group pandas
    overhead dominated: 12.7 s benched, ~1 ms/group of pure framing.
    The run-walking form amortizes that to one frame per Arrow batch
    (measured 12.7 s → 1.35 s at sf0.1, 9.4×); groups that straddle Arrow batch
    boundaries are carried over explicitly, so results are identical
    (the pure-Python-reference parity tests + a forced-tiny-batch
    straddling test pin this).  Per-key memory
    is the series itself, so the operator is meant for
    ALREADY-DOWNSAMPLED or naturally bounded per-key series (the
    hypertable-rollup output upstream; the same boundedness contract
    as EWMA).  Ties on triangle area resolve to the earliest point;
    buckets are the standard even index split, so the result is a
    pure function of the (ts, value) order — deterministic under any
    partitioning (tie-broken by ts, then value).
    """
    import numpy as np
    import pandas as pd

    if k < 3:
        raise ValueError("k must be >= 3 (first + last + one bucket)")
    kt = df.schema[key_col].dataType.simpleString()
    tt = df.schema[ts_col].dataType.simpleString()
    vt = df.schema[value_col].dataType.simpleString()
    schema = f"{key_col} {kt}, {ts_col} {tt}, {value_col} {vt}, sel_index int"
    cols = [key_col, ts_col, value_col]

    def pick_one(pdf: pd.DataFrame) -> pd.DataFrame:
        """One key's series, already sorted by (ts, value)."""
        n = len(pdf)
        if n <= k:
            idx = np.arange(n)
        else:
            y = pdf[value_col].astype("float64").to_numpy()
            x = np.arange(n, dtype="float64")
            # bucket b (0-based, b = 0..k-3) covers indices
            # [1 + b*(n-2)//(k-2), 1 + (b+1)*(n-2)//(k-2))
            bounds = 1 + (np.arange(k - 1, dtype="int64") * (n - 2)) // (
                k - 2
            )
            chosen = [0]
            prev = 0
            for b in range(k - 2):
                lo, hi = int(bounds[b]), int(bounds[b + 1])
                nlo, nhi = hi, (int(bounds[b + 2]) if b + 2 < k - 1 else n)
                cx, cy = x[nlo:nhi].mean(), y[nlo:nhi].mean()
                # 2*area vs (prev, candidate, next-centroid)
                area = np.abs(
                    (x[lo:hi] - x[prev]) * (cy - y[prev])
                    - (cx - x[prev]) * (y[lo:hi] - y[prev])
                )
                prev = lo + int(np.argmax(area))  # argmax: earliest tie
                chosen.append(prev)
            chosen.append(n - 1)
            idx = np.asarray(chosen)
        out = pdf.iloc[idx][cols].copy()
        out["sel_index"] = idx.astype("int32")
        return out

    def pick_runs(batches):
        def process(frame: pd.DataFrame):
            codes, _ = pd.factorize(frame[key_col], use_na_sentinel=False)
            change = np.flatnonzero(codes[1:] != codes[:-1]) + 1
            starts = np.concatenate([[0], change])
            ends = np.concatenate([change, [len(frame)]])
            return pd.concat(
                [pick_one(frame.iloc[s:e]) for s, e in zip(starts, ends)],
                ignore_index=True,
            )

        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            # hold back the trailing key-run: its tail may be in the
            # next Arrow batch (rows arrive key-sorted per partition)
            codes, _ = pd.factorize(pdf[key_col], use_na_sentinel=False)
            firsts = np.flatnonzero(codes != codes[-1])
            cut = int(firsts[-1]) + 1 if len(firsts) else 0
            carry = pdf.iloc[cut:].copy()
            if cut:
                yield process(pdf.iloc[:cut])
        if carry is not None and len(carry):
            yield process(carry)

    par = repartition_width(df.sparkSession)
    arranged = (
        df.select(*cols)
        .repartition(par, F.col(key_col))
        .sortWithinPartitions(key_col, ts_col, value_col)
    )
    return arranged.mapInPandas(pick_runs, schema=schema)


def cusum_alarms_by_key(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    slack: str = "0",
    threshold: str = "0",
    bucket: str = "day",
) -> DataFrame:
    """One-sided CUSUM change-point monitor per key (Page 1954):
    S_t = max(0, S_{t-1} + (x_t − mean − k)), alarm while S_t > h —
    the drift detector the z-score window can't express (CUSUM
    accumulates small persistent shifts; a z-score only sees single
    outliers).  `slack` k and `threshold` h are DECIMAL STRINGS in
    value units.

    Returns (key, n_buckets, n_alarms, cusum_final).

    Exactness: the recursion runs in the SCALED INTEGER domain —
    micros of the per-bucket decimal sums, with every term multiplied
    by n (the series length) so the self-referential mean Σx/n never
    divides: S'_t = max(0, S'_{t-1} + n·x_t − Σx − n·k), alarm while
    S'_t > n·h.  The scaled decision sequence is EXACTLY the original
    one (multiplying a recursion through by n > 0 preserves max(0,·)
    and every comparison), and every step is BIGINT arithmetic both
    engines fold identically — the oracle replays the fold with
    DuckDB list_reduce over the same ordered list (the EWMA pattern,
    upgraded from doubles to exact integers).  `cusum_final` is
    released as S'/(n·10⁶) — ONE correctly-rounded double division.

    The downsampled series is bounded (one point per bucket), so the
    per-key collect is time-range-bounded regardless of event volume
    — the hypertable-family contract.
    """
    from decimal import Decimal

    k_micro = int(Decimal(slack) * 1_000_000)
    h_micro = int(Decimal(threshold) * 1_000_000)
    if k_micro < 0 or h_micro < 0:
        raise ValueError("slack and threshold must be non-negative")
    daily = df.groupBy(
        F.col(key_col), F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    ).agg(
        (F.sum(F.col(value_col).cast("decimal(38,6)")) * F.lit(1_000_000))
        .cast("decimal(38,0)")
        .cast("long")
        .alias("xq")
    )
    series = daily.groupBy(key_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("bucket", "xq"))),
            lambda s: s["xq"],
        ).alias("xs")
    )
    # The promised pack-factor guard (ADVICE r09): a key with >= 2048
    # buckets would overflow the alarm counter into S' (P = 2048
    # below).  The length is data-dependent, so the guard raises
    # IN-PLAN — mirrored in the oracle — instead of silently
    # corrupting n_alarms and cusum_final.
    series = series.withColumn(
        "xs",
        F.when(F.size("xs") < 2048, F.col("xs")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("cusum_alarms_by_key: series length "),
                    F.size("xs").cast("string"),
                    F.lit(" >= pack factor 2048 — alarm counter would"
                          " overflow into S'"),
                )
            )
        ),
    )
    n = F.size("xs").cast("long")
    total = F.aggregate(
        "xs", F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    # The accumulator packs (S', alarm_count) into ONE BIGINT as
    # S'·P + a with P = 2048 (a < P enforced by the raise above; S'·P
    # stays far under 2^63 for any per-bucket micro sum this fixture
    # family can produce).  A struct accumulator
    # would be the natural shape, but DuckDB 1.0's list_reduce
    # mis-evaluates the SECOND struct field when the lambda references
    # correlated outer columns (found building this oracle: the s
    # branch folds correctly, the a branch sees stale values), so both
    # engines fold the identical packed-integer recursion instead.
    pack = F.lit(2048).cast("long")
    zero = F.lit(0).cast("long")

    def step(acc: F.Column, x: F.Column) -> F.Column:
        # acc is non-negative and P = 2^11, so shiftright IS the
        # unpack floor-division — exact LONG arithmetic (the old
        # (acc − acc%P)/P routed through a double, lossy past 2^53)
        s_prev = F.shiftright(acc, 11)
        s_new = F.greatest(
            zero,
            s_prev + n * x - total - n * F.lit(k_micro),
        )
        return (
            s_new * pack
            + acc % pack
            + F.when(s_new > n * F.lit(h_micro), 1).otherwise(0)
        ).cast("long")

    folded = F.aggregate("xs", zero, step)
    s_final = F.shiftright(folded, 11)
    return series.select(
        F.col(key_col),
        n.alias("n_buckets"),
        (folded % pack).cast("long").alias("n_alarms"),
        (
            s_final.cast("double")
            / (n * F.lit(1_000_000)).cast("double")
        ).alias("cusum_final"),
    )


def theil_sen_mann_kendall(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    bucket: str = "day",
) -> DataFrame:
    """Robust per-key trend: Mann–Kendall S (Mann 1945) and the
    Theil–Sen slope (Sen 1968) over the per-bucket downsampled series
    — the monotone-trend detector an OLS fit gets wrong under
    outliers (one corrupted day can flip an OLS slope; the median
    pairwise slope has a 29% breakdown point).

    Returns (key, n_buckets, n_pairs, mk_s, sen_slope):
      mk_s      = Σ_{i<j} sign(y_j − y_i)         (exact BIGINT)
      sen_slope = median pairwise slope, value units per day (DOUBLE)

    Exactness: the series is quantized to micros (the cusum recipe:
    per-bucket DECIMAL sums → BIGINT), so MK's sign sum is pure
    integer work.  The Theil–Sen median needs an ORDER on rationals
    dy/dx — a sort key, not a comparator — so the selection orders by
    the correctly-rounded DOUBLE quotient with (dy, dx) integer
    tie-breaks: a deterministic total order both engines replay
    bit-identically (two rationals within one ulp may swap relative
    to true rational order; the order itself — hence the released
    statistic — is still exact and engine-independent, documented as
    the operator's quantization).  Lower median at even counts.

    Scale shape: the bucket agg bounds the series at one row per
    (key, bucket) — pair expansion is days²-bounded per key no matter
    the raw event volume, and the pairs stage is persisted ONCE for
    its two consumers (the MK aggregate and the median selection).

    ``bucket`` must be day-or-coarser: the time index is derived via
    datediff(to_date(bucket)), so a sub-day bucket ('hour', 'minute')
    would alias distinct buckets onto one day index — same-day pairs
    silently vanish from both MK S and the Theil–Sen median while
    n_buckets still counts them, and the per-day slope unit stops
    matching the series.  Rejected up front rather than silently
    mis-measured (the global_running_sum type-check pattern).
    """
    from ..cache import persist_stage

    if bucket.lower() not in {"day", "week", "month", "quarter", "year"}:
        raise ValueError(
            "theil_sen_mann_kendall: bucket must be day-or-coarser "
            "(day/week/month/quarter/year); got "
            f"{bucket!r} — a sub-day bucket aliases distinct buckets "
            "to one day index and the 'per day' slope unit no longer "
            "matches the series"
        )

    daily = df.groupBy(
        F.col(key_col).alias("__k"),
        F.date_trunc(bucket, F.col(ts_col)).alias("__b"),
    ).agg(
        (F.sum(F.col(value_col).cast("decimal(38,6)")) * F.lit(1_000_000))
        .cast("decimal(38,0)")
        .cast("long")
        .alias("yq")
    )
    daily = persist_stage(
        daily.select(
            "__k",
            F.expr("datediff(to_date(__b), DATE'1970-01-01')")
            .cast("long")
            .alias("di"),
            "yq",
        )
    )
    # daily has THREE consumers (both pair sides + n_buckets): persist
    # so the raw-event aggregation — the only full scan — runs once
    a = daily.select(
        F.col("__k"), F.col("di").alias("di_a"), F.col("yq").alias("yq_a")
    )
    b = daily.select(
        F.col("__k"), F.col("di").alias("di_b"), F.col("yq").alias("yq_b")
    )
    pairs = persist_stage(
        a.join(b, "__k")
        .where(F.col("di_a") < F.col("di_b"))
        .select(
            "__k",
            (F.col("yq_b") - F.col("yq_a")).alias("dy"),
            (F.col("di_b") - F.col("di_a")).alias("dx"),
        )
    )
    stats = pairs.groupBy("__k").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            # integer sign — signum(double) would round dy past 2^53
            F.when(F.col("dy") > 0, 1)
            .when(F.col("dy") < 0, -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("mk_s"),
    )
    n_buckets = daily.groupBy("__k").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets")
    )
    # slope in value units/day: dy is micros, one c.r. double chain
    slope = (
        F.col("dy").cast("double")
        / F.col("dx").cast("double")
        / F.lit(1_000_000.0)
    )
    w = Window.partitionBy("__k").orderBy(
        F.asc("__slope"), F.asc("dy"), F.asc("dx")
    )
    ranked = pairs.withColumn("__slope", slope).withColumn(
        "__rn", F.row_number().over(w)
    )
    med = ranked.join(stats, "__k").where(
        F.col("__rn") == F.expr("(n_pairs + 1) DIV 2")
    )
    return (
        med.select(
            F.col("__k"),
            "n_pairs",
            "mk_s",
            F.col("__slope").alias("sen_slope"),
        )
        .join(n_buckets, "__k")
        .select(
            F.col("__k").alias(key_col),
            "n_buckets",
            "n_pairs",
            "mk_s",
            "sen_slope",
        )
        .orderBy(key_col)
    )


def runs_test_daily(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    bucket: str = "day",
) -> DataFrame:
    """Wald–Wolfowitz runs test on the per-bucket value series — the
    randomness audit that catches serial dependence (trends, regime
    blocks, meandering) a Benford or distribution check can't see:
    classify each bucket above/below the series median (ties to the
    median are dropped, the standard convention), count sign runs R,
    and z-score it against the known run-count distribution

        μ = 2·n₁·n₀/(n₁+n₀) + 1,   σ² = (μ−1)(μ−2)/(n₁+n₀−1).

    Exactness: the series is micros-quantized (the cusum recipe); the
    LOWER MEDIAN is taken fully in-plan — rank (n+1) DIV 2 of the
    (yq, bucket) total order — so no driver-side float round-trip can
    desync the above/below classification across engines; R is an
    exact lag count; μ/σ/z are one fixed chain of correctly-rounded
    double steps (σ² = 0 degenerates pin z to 0.0 on both engines).

    All windows run over the bucket-count-bounded aggregate — the
    hypertable contract.  Returns one row
    (n_buckets, n_above, n_below, n_runs, z_stat).
    """
    daily = df.groupBy(
        F.date_trunc(bucket, F.col(ts_col)).alias("__b")
    ).agg(
        (F.sum(F.col(value_col).cast("decimal(38,6)")) * F.lit(1_000_000))
        .cast("decimal(38,0)")
        .cast("long")
        .alias("yq")
    )
    w_rank = Window.orderBy(F.asc("yq"), F.asc("__b"))
    ranked = daily.withColumn("__r", F.row_number().over(w_rank))
    nrow = daily.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    med = (
        ranked.join(F.broadcast(nrow))
        .where(F.col("__r") == F.expr("(nb + 1) DIV 2"))
        .select(F.col("yq").alias("med"))
    )
    signs = (
        daily.join(F.broadcast(med))
        .where(F.col("yq") != F.col("med"))
        .select("__b", (F.col("yq") > F.col("med")).cast("int").alias("s"))
    )
    w_seq = Window.orderBy(F.asc("__b"))
    # Degenerate series (every bucket equals the median) leave `signs`
    # empty; the bare aggregates would then emit NULL n1/n0/n_runs on a
    # schema that documents counts.  Coalesce to explicit zeros (and
    # pin n_runs to 0 when n_used = 0 — "one run" of nothing is not a
    # run) so the degenerate row is typed, not NULL-typed.
    runs = signs.withColumn("__prev", F.lag("s").over(w_seq)).agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.coalesce(F.sum("s"), F.lit(0)).cast("long").alias("n1"),
        F.coalesce(F.sum(F.lit(1) - F.col("s")), F.lit(0))
        .cast("long")
        .alias("n0"),
        F.when(F.count(F.lit(1)) == 0, F.lit(0))
        .otherwise(
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("__prev").isNotNull()
                    & (F.col("s") != F.col("__prev")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("n_runs"),
    )
    out = runs.join(F.broadcast(nrow))
    n1 = F.col("n1").cast("double")
    n0 = F.col("n0").cast("double")
    # degenerate n1 = n0 = 0: pin the denominator to 1 so ANSI mode
    # doesn't raise on 0/0 — mu becomes 1, var 0, and the var > 0
    # branch below pins z to 0.0 (DuckDB's double 0/0 is NULL, whose
    # CASE condition also falls to the 0.0 branch — same released row)
    denom = F.when(n1 + n0 > 0, n1 + n0).otherwise(F.lit(1.0))
    mu = F.lit(2.0) * n1 * n0 / denom + F.lit(1.0)
    # n_used <= 1 pins the var denominator to 1 the same way (the
    # numerator is already 0 there since n1*n0 = 0), so var = 0 and
    # z falls to the 0.0 branch on both engines
    vdenom = F.when(n1 + n0 > 1, n1 + n0 - F.lit(1.0)).otherwise(F.lit(1.0))
    var = (mu - F.lit(1.0)) * (mu - F.lit(2.0)) / vdenom
    return out.select(
        F.col("nb").alias("n_buckets"),
        F.col("n1").alias("n_above"),
        F.col("n0").alias("n_below"),
        "n_runs",
        F.when(
            var > 0,
            (F.col("n_runs").cast("double") - mu) / F.sqrt(var),
        )
        .otherwise(F.lit(0.0))
        .alias("z_stat"),
    )


def burn_rate_windows(
    df: DataFrame,
    ts_col: str,
    violation_col: str,
    *,
    error_budget: float = 0.05,
    tail_minutes: int = 5,
) -> DataFrame:
    """Multi-window SLO burn-rate alerting (the SRE-workbook pattern):
    per hour, burn = violation_fraction / error_budget over the FULL
    window AND over its trailing `tail_minutes` sub-window; the alert
    fires only when BOTH burn > 1 — the long window proves sustained
    budget spend, the short one proves it is still happening (no alert
    on an incident that already ended).

    `violation_col` is a 0/1 int column (the SLI predicate, computed
    by the caller so the SLO stays declarative).  ONE hash aggregation
    per hour computes all four counts (the tail counts are conditional
    sums on minute(ts), map-side combined); burn fractions are single
    divisions of exact longs, rounded once — cross-engine identical.
    Returns (window_start, n, n_viol, burn_full, n_tail, n_tail_viol,
    burn_tail, alert) ordered by window_start."""
    v = F.col(violation_col)
    tail = F.minute(F.col(ts_col)) >= 60 - tail_minutes
    agg = df.groupBy(
        F.date_trunc("hour", F.col(ts_col)).alias("window_start")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("long").alias("n_viol"),
        F.sum(F.when(tail, 1).otherwise(0)).cast("long").alias("n_tail"),
        F.sum(F.when(tail, v).otherwise(0))
        .cast("long")
        .alias("n_tail_viol"),
    )
    burn_full = F.round(
        F.col("n_viol").cast("double")
        / F.col("n").cast("double")
        / F.lit(error_budget),
        6,
    )
    burn_tail = F.round(
        F.col("n_tail_viol").cast("double")
        / F.nullif(F.col("n_tail").cast("double"), F.lit(0.0))
        / F.lit(error_budget),
        6,
    )
    return agg.select(
        "window_start",
        "n",
        "n_viol",
        burn_full.alias("burn_full"),
        "n_tail",
        "n_tail_viol",
        burn_tail.alias("burn_tail"),
        (
            (burn_full > 1.0)
            & F.coalesce(burn_tail > 1.0, F.lit(False))
        ).alias("alert"),
    ).orderBy("window_start")


def acf_by_lag(
    daily: DataFrame,
    day_col: str,
    value_col: str,
    *,
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation function of a daily series at lags 1..max_lag —
    the periodicity detector that complements the weekday seasonal
    profile (weekday_revenue_seasonality averages BY weekday; the ACF
    measures how much lag-7 structure there is to average): one row
    per lag with the Pearson correlation of (x_t, x_{t+lag}) pairs.

    Exactness (the closed_form_corr_ols discipline): `value_col` must
    already be an EXACT decimal (the caller's daily aggregate); the
    five moments per lag are summed in the decimal domain
    (order-independent), then one cast to double each and a fixed
    IEEE chain (·, −, /, sqrt) both engines replay identically; a
    zero-variance side yields NULL on both (the explicit guard — raw
    double division would give NaN on Spark and raise nothing).

    Shape: daily × lag-spine cross (a broadcast of max_lag literal
    rows), ONE equi-join back to the daily frame on the shifted day,
    one groupBy(lag) — pair count bounded by days·max_lag, i.e.
    calendar-bounded regardless of row volume (the hypertable
    argument: at 100 TB the daily aggregate IS the reduction)."""
    lags = daily.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    left = daily.select(
        F.col(day_col).alias("__d"), F.col(value_col).alias("__x")
    ).join(F.broadcast(lags))
    shifted = left.select(
        "lag", F.expr("date_add(__d, lag)").alias("__dt"), "__x"
    )
    pairs = shifted.join(
        daily.select(
            F.col(day_col).alias("__dt"), F.col(value_col).alias("__y")
        ),
        "__dt",
    )
    x, y = F.col("__x"), F.col("__y")
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
    )
    nd = F.col("n_pairs").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx, syy = F.col("__sxx").cast("double"), F.col("__syy").cast("double")
    cov_n = nd * sxy - sx * sy
    var_x = nd * sxx - sx * sx
    var_y = nd * syy - sy * sy
    den = F.sqrt(var_x) * F.sqrt(var_y)
    return s.select(
        "lag",
        "n_pairs",
        F.round(F.when(den != 0.0, cov_n / den), 6).alias("acf"),
    ).orderBy("lag")


def lttb_downsample_exact(
    daily: DataFrame,
    key_col: str,
    ts_col: str,
    cents_col: str,
    *,
    k: int = 7,
) -> DataFrame:
    """EXACT-arithmetic LTTB for small k — the ORACLE-VERIFIED twin of
    `lttb_downsample` (which keeps the Arrow/mapInPandas throughput
    path): with k=7 the sequential recurrence is only k−2 = 5 picks
    deep, so it UNROLLS — closing the "no single SQL statement
    expresses it" caveat the float form carries (a bounded chain of
    steps does, and the DuckDB oracle replays it as 5 chained CTEs).

    Exactness discipline: values are integer CENTS (BIGINT), x is the
    0-based day index, and the doubled-triangle area is scaled by the
    next-bucket size so it stays a cross product of integers —
    (xi−xp)·(CSy − C·yp) − (CSx − C·xp)·(yi−yp) — computed as
    DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0) (overflow-free for
    any n·max|cents| < 10^19 per factor; calendar-bounded series sit
    far below).  The scale factor C (the centroid bucket's row count)
    is constant within a step, so argmax is unchanged; ties resolve to
    the EARLIEST index on both engines (the fold keeps the incumbent
    on equality; the oracle ranks (a2 DESC, i ASC)).

    Shape: ONE keyed aggregation collects each key's day-sorted
    (ts, cents) array, and the whole recurrence runs as a SQL
    `aggregate` fold over sequence(0, k−3) INSIDE that row — no
    per-step join, no window, no broadcast barrier (a first cut
    chained 5 keyed joins + rank-1 windows: 6.4 s at sf0.1 against
    ~1.4 s for this shape — per-stage latency dominated, not data).
    Per-key cost is O((n/(k−2))²) from re-inlining the centroid sum
    per candidate (SQL lambdas have no let-binding); n is the DAILY
    series length — calendar-bounded by the upstream hypertable
    reduction, the same boundedness contract as EWMA/LTTB-float.
    Series with n ≤ k pass through whole (sel_index = i).

    Returns (key, ts, cents, sel_index int), ≤ k rows per key.
    """
    if k < 3:
        raise ValueError("k must be >= 3 (first + last + one bucket)")
    nb = k - 2

    g = daily.groupBy(key_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(ts_col).alias("t"),
                    F.col(cents_col).cast("long").alias("v"),
                )
            )
        ).alias("__arr")
    )

    n = "size(__arr)"
    # 0-based indexed twin of the series array for the folds
    arr2 = (
        "transform(__arr, (x, j) -> "
        "named_struct('i', CAST(j AS BIGINT), 'v', x.v))"
    )

    def bs(b: str) -> str:
        """bucket boundary bS(b) = 1 + (b·(n−2)) DIV {nb} as SQL."""
        return f"(1 + ((({b}) * ({n} - 2)) DIV {nb}))"

    # centroid range of step b: [bS(b+1), bS(b+2)) for b < nb−1,
    # else [bS(nb), n); C/CSx closed-form, CSy one array fold
    nlo = bs("b + 1")
    nhi = f"IF(b < {nb - 1}, {bs('b + 2')}, {n})"
    cc = f"({nhi} - {nlo})"
    csx = f"((({nlo} + {nhi} - 1) * ({nhi} - {nlo})) DIV 2)"
    csy = (
        f"aggregate(slice({arr2}, CAST({nlo} + 1 AS INT), "
        f"CAST({cc} AS INT)), CAST(0 AS BIGINT), (s, x) -> s + x.v)"
    )

    a2 = (
        "abs(CAST(CAST(c.i - acc.pi AS DECIMAL(19,0))"
        f" * CAST({csy} - {cc} * acc.py AS DECIMAL(19,0))"
        " AS DECIMAL(38,0))"
        f" - CAST(CAST({csx} - {cc} * acc.pi AS DECIMAL(19,0))"
        " * CAST(c.v - acc.py AS DECIMAL(19,0)) AS DECIMAL(38,0)))"
    )
    clo, chi = bs("b"), bs("b + 1")
    # candidates of bucket b scored once each (transform), then a
    # keep-incumbent-on-tie fold = earliest-index tie-break
    best = (
        f"aggregate(transform(slice({arr2}, CAST({clo} + 1 AS INT), "
        f"CAST({chi} - {clo} AS INT)), "
        f"c -> named_struct('a2', {a2}, 'bi', c.i, 'bv', c.v)), "
        "named_struct('a2', CAST(-1 AS DECIMAL(38,0)), "
        "'bi', CAST(-1 AS BIGINT), 'bv', CAST(0 AS BIGINT)), "
        "(w, c) -> IF(c.a2 > w.a2, c, w))"
    )
    fold = (
        f"aggregate(sequence(0, {nb - 1}), "
        "named_struct('pi', CAST(0 AS BIGINT), "
        "'py', element_at(__arr, 1).v, "
        "'picks', array(CAST(0 AS BIGINT))), "
        f"(acc, b) -> named_struct("
        f"'pi', {best}.bi, 'py', {best}.bv, "
        f"'picks', concat(acc.picks, array({best}.bi))))"
    )
    picks = (
        f"IF({n} <= {k}, sequence(CAST(0 AS BIGINT), CAST({n} - 1 AS "
        f"BIGINT)), concat({fold}.picks, array(CAST({n} - 1 AS BIGINT))))"
    )

    sel = g.select(
        key_col,
        "__arr",
        F.explode(F.expr(picks)).alias("__p"),
    )
    return sel.select(
        key_col,
        F.expr("element_at(__arr, CAST(__p + 1 AS INT)).t").alias(ts_col),
        F.expr("element_at(__arr, CAST(__p + 1 AS INT)).v").alias(
            cents_col
        ),
        F.col("__p").cast("int").alias("sel_index"),
    )


def stl_weekday_profile(
    daily: DataFrame, day_col: str, cents_col: str
) -> DataFrame:
    """STL-style additive decomposition of a daily integer-cents
    series (trend = centered MA-7 with NULL edges, seasonal = weekday
    mean of the scale-7 EXACT detrended series d7 = 7·cents − Σ±3,
    residual = the rest) — see daily_revenue_stl_profile for the
    entry-level story.  Division happens only at release (one fixed
    double chain per column, NULL-mirrored); a pure
    base+weekday-effect series decomposes to EXACT zero residuals
    (pinned in tests).  The ±3 window runs over the calendar-bounded
    daily aggregate (a bounded-child global window)."""
    w7 = Window.orderBy(day_col).rowsBetween(-3, 3)
    with_t = daily.select(
        F.col(day_col).alias("day"),
        F.col(cents_col).alias("cents"),
        F.dayofweek(day_col).alias("weekday"),
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.sum(cents_col).over(w7),
        ).alias("__s7"),
    )
    with_d = with_t.select(
        "day",
        "cents",
        "weekday",
        "__s7",
        (F.lit(7) * F.col("cents") - F.col("__s7")).alias("__d7"),
    )
    seasonal = (
        with_d.where(F.col("__s7").isNotNull())
        .groupBy("weekday")
        .agg(
            F.sum("__d7").alias("__sw"),
            F.count(F.lit(1)).cast("long").alias("__nw"),
        )
    )
    joined = with_d.join(F.broadcast(seasonal), "weekday", "left")
    trend = F.col("__s7").cast("double") / F.lit(700.0)
    seas = F.col("__sw").cast("double") / (
        F.col("__nw").cast("double") * F.lit(700.0)
    )
    revenue = F.col("cents").cast("double") / F.lit(100.0)
    return joined.select(
        "day",
        revenue.alias("revenue"),
        F.round(trend, 6).alias("trend"),
        F.round(seas, 6).alias("seasonal"),
        F.round(revenue - trend - seas, 6).alias("residual"),
    ).orderBy("day")


def seasonal_naive_mase_report(
    daily: DataFrame, day_col: str, cents_col: str
) -> DataFrame:
    """MASE of the lag-7 seasonal-naive forecast against the lag-1
    naive baseline over ONE shared day set (rows where the lag-7
    value exists) — see seasonal_naive_mase for the entry-level
    story.  Exact BIGINT cent errors; three double divisions at
    release, NULL-guarded for short series and a flat baseline."""
    w = Window.orderBy(day_col)
    lagged = daily.select(
        F.col(cents_col).alias("cents"),
        F.lag(cents_col, 7).over(w).alias("__l7"),
        F.lag(cents_col, 1).over(w).alias("__l1"),
    )
    agg = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.abs(F.col("cents") - F.col("__l7"))).alias("__s7"),
        F.sum(
            F.when(
                F.col("__l7").isNotNull(),
                F.abs(F.col("cents") - F.col("__l1")),
            )
        ).alias("__s1"),
        F.sum(F.when(F.col("__l7").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("__n7"),
    )
    mae7 = F.when(
        F.col("__n7") > 0,
        F.col("__s7").cast("double") / F.col("__n7").cast("double"),
    )
    mae1 = F.when(
        F.col("__n7") > 0,
        F.col("__s1").cast("double") / F.col("__n7").cast("double"),
    )
    return agg.select(
        "n_days",
        F.round(mae7 / F.lit(100.0), 6).alias("mae_seasonal"),
        F.round(mae1 / F.lit(100.0), 6).alias("mae_naive"),
        F.round(F.when(mae1 != 0.0, mae7 / mae1), 6).alias("mase"),
    )
