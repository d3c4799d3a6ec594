"""Resampling inference at shuffle scale: deterministic half-sample
replication (McCarthy 1969's random-group / balanced half-sample
idea, md5-keyed instead of randomized).

Why half-samples: for simple random halves WITHOUT replacement the
replicate mean's sampling variance is σ²/m · (1 − m/N) = σ²/N at
m = N/2 — exactly the full-sample mean's variance — so the spread of
the B replicate means estimates the estimator's true sampling
distribution with no rescaling step (the subtlety that makes naive
subsampling CIs wrong).  A classical multinomial bootstrap needs
per-row Poisson draws; the half-sample scheme needs ONE md5 parity
bit per (row, replica), which is a pure function of the data — same
replicas on any engine, any partitioning, any rerun, and therefore
SQL-oracle-replayable.

Scale shape: the replicate axis is an in-row explode (B small
integers per row, map-side), the means are ONE hash aggregation with
B·|groups| output rows, and everything downstream (percentiles of B
means) is a B-row problem.  Exactness: per-replica sums are exact
DECIMAL, each mean is ONE correctly-rounded double division, and the
percentile picks are row_number selections over the B-row frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import repartition_width


def half_sample_members(key: Column, b: Column) -> Column:
    """Deterministic membership bit for (row key, replica b): the
    parity of md5(key ‖ '|' ‖ b)'s first 32 bits — the same formula
    the oracle replays."""
    digest = F.md5(
        F.concat(key.cast("string"), F.lit("|"), b.cast("string"))
    )
    return F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % 2 == 0


def half_sample_means(
    df: DataFrame,
    value_col: str,
    key_col: str,
    *,
    replicas: int = 64,
    sum_decimal: str = "decimal(38,6)",
) -> DataFrame:
    """(b, n_b, mean_b) for `replicas` deterministic half-samples:
    replica b keeps the rows whose md5(key|b) parity is even.  Sums
    are exact decimal; mean_b is one correctly-rounded division."""
    if replicas < 2:
        raise ValueError("replicas must be >= 2")
    # Repartition BEFORE the ×B explode: the fan-out plus the md5
    # parity filter and the partial agg all run before the first
    # exchange, so without this the operator's parallelism is
    # whatever the input file layout happens to be (the sf fixtures
    # are single-row-group files — one task does ×64 the work).  One
    # cheap shuffle of the pre-explode (key, value) pairs decouples
    # the operator from layout and from the table-cache opt-in.
    par = repartition_width(df.sparkSession)
    b = F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("b")
    exploded = (
        df.select(F.col(key_col).alias("__k"), F.col(value_col).alias("__v"))
        .repartition(par, F.col("__k"))
        .select("__k", "__v", b)
    )
    kept = exploded.where(half_sample_members(F.col("__k"), F.col("b")))
    return kept.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        (
            F.sum(F.col("__v").cast(sum_decimal)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_b"),
    )


def half_sample_ci(
    df: DataFrame,
    value_col: str,
    key_col: str,
    *,
    replicas: int = 64,
    alpha: float = 0.05,
    sum_decimal: str = "decimal(38,6)",
) -> DataFrame:
    """One row: (replicas, n, mean_full, ci_lo, ci_hi) — the
    percentile interval of the half-sample replicate means at level
    1−alpha (k_lo = ceil(alpha/2·B)-th smallest mean, k_hi =
    ceil((1−alpha/2)·B)-th).  The percentile window runs over exactly
    B rows — bounded by construction, the documented exception to the
    no-global-window rule."""
    import math

    from pyspark.sql import Window

    means = half_sample_means(
        df, value_col, key_col, replicas=replicas, sum_decimal=sum_decimal
    )
    k_lo = max(1, math.ceil(alpha / 2 * replicas))
    k_hi = min(replicas, math.ceil((1 - alpha / 2) * replicas))
    w = Window.orderBy(F.col("mean_b"), F.col("b"))
    ranked = means.withColumn("__rn", F.row_number().over(w))
    picks = ranked.agg(
        F.max(F.when(F.col("__rn") == k_lo, F.col("mean_b"))).alias("ci_lo"),
        F.max(F.when(F.col("__rn") == k_hi, F.col("mean_b"))).alias("ci_hi"),
    )
    full = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(F.col(value_col).cast(sum_decimal)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_full"),
    )
    return full.join(F.broadcast(picks)).select(
        F.lit(replicas).cast("int").alias("replicas"),
        "n",
        "mean_full",
        "ci_lo",
        "ci_hi",
    )
