"""Skyline (Pareto-frontier) query — the classic multi-criteria OLAP
operator (Börzsönyi et al., ICDE 2001): keep every row no other row
dominates, where q dominates p iff q is >= p in BOTH dimensions and
> in at least one (maximize-maximize convention here).

The naive form is a quadratic NOT EXISTS self-join (the oracle runs
exactly that).  The distributed-exact shape used here is the
sort-based 2D algorithm:

1. collapse to distinct x: ``ymax(x) = max y`` — one map-side-combined
   aggregation; only survivors of their own x-group can be on the
   skyline, so everything after this step works on the distinct-x
   relation;
2. a point (x, ymax) is on the frontier iff ymax beats the running
   maximum of ymax over all STRICTLY larger x — a prefix-max in x-desc
   order, computed without a single-task global window by the
   global_row_number discipline: ``repartitionByRange`` on x desc,
   per-partition local prefix max (window keyed by the captured
   ``spark_partition_id``, computed once inside the persisted stage),
   then the P per-partition maxima (collected — P values, driver-sized
   by construction) attached back as one literal array of
   prior-partition prefixes indexed by the partition id;
3. join the surviving (x, ymax) frontier keys back to the input and
   keep rows with y == ymax(x) — exact-value equality, no float
   arithmetic anywhere (comparisons stay in the input's own type:
   decimal, date, int).

Cost: one aggregation + one range exchange over DISTINCT x + one
equi-join — no quadratic candidate set exists at any scale.  Ties are
exact: equal (x, y) duplicates are mutually non-dominating and all
kept; an x-group's non-maximal rows are dominated by its maximal one;
equal ymax at different x keeps only the larger x (the smaller is
dominated).  NULL in either dimension is excluded up front (NULL
neither dominates nor is dominated in three-valued logic — callers
wanting NULL semantics must decide them explicitly).

Dimensions beyond 2: the sort-based trick is 2D-specific; the d-dim
generalization is local-skyline-per-partition (mapInPandas numpy BNL)
then a global pass over the pruned union, with the repo's max-candidate
raise discipline — not implemented until a caller needs it.

Verified: tests/test_skyline.py (vs the naive dominance filter on
random + adversarial tie fixtures) and the oracle-checked
`order_value_skyline` entry (DuckDB runs the quadratic NOT EXISTS
definition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import repartition_width


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    partitions: int | None = None,
) -> DataFrame:
    """Rows of `df` on the maximize-maximize Pareto frontier of
    (x_col, y_col), with all input columns preserved."""
    from ..cache import persist_stage

    spark = df.sparkSession
    x, y = F.col(x_col), F.col(y_col)
    base = df.where(x.isNotNull() & y.isNotNull())
    ym = base.groupBy(x_col).agg(F.max(y_col).alias("__ymax"))

    p = partitions or repartition_width(spark)
    # local prefix max over strictly-larger x within the partition
    w = (
        Window.partitionBy("__pid")
        .orderBy(x.desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranged = persist_stage(
        ym.repartitionByRange(p, x.desc())
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__lpref", F.max("__ymax").over(w))
    )
    # prior-partition prefix maxima: P rows, driver-sized by
    # construction (the range exchange made pid order = x-desc order).
    # They travel as strings and are cast back in the literal: Spark's
    # string form of a value casts back to the same value for every
    # orderable atomic type, with no Python-side type conversion.
    before = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    per_pid = (
        ranged.groupBy("__pid")
        .agg(F.max("__ymax").alias("__pmax"))
        .select("__pid", F.max("__pmax").over(before).cast("string").alias("__p"))
        .collect()
    )
    ytype = ym.schema["__ymax"].dataType
    prior = [None] * (max((r["__pid"] for r in per_pid), default=0) + 1)
    for r in per_pid:
        prior[r["__pid"]] = r["__p"]
    prior_col = F.element_at(
        F.array(*[F.lit(v).cast(ytype) for v in prior]), F.col("__pid") + 1
    )
    ymax = F.col("__ymax")
    frontier = ranged.where(
        (F.col("__lpref").isNull() | (ymax > F.col("__lpref")))
        & (prior_col.isNull() | (ymax > prior_col))
    ).select(x_col, "__ymax")
    return base.join(frontier, x_col).where(y == F.col("__ymax")).drop("__ymax")
