"""End-to-end ETL runner — the reference's §3 lifecycles composed with
real sinks, preserving its one subtle ordering semantic: the fact
build's key lookup reads the *loaded* dimension back from storage
(etl_orders.py:47-50 reads Dim_Product from the reporting DB, not from
the in-memory frame), and dims load before facts
(Project Plan2.md:9-11; nothing enforced it there — plain call order
here, exactly as there).

Each load applies the reference's guards: V2 empty-input skip
(etl_category.py:38), V1 schema-arity assert (etl_orders.py:123-124),
then the manual post-load checks from Project Plan6/7 as hard
invariants: row-count conservation through the left-join lookup and
zero NULL surrogate keys.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality import is_empty
from ..sources.files import write_reload
from ..sources.parquet import read_parquet, read_table
from . import star


@dataclass
class PipelineReport:
    loaded: dict[str, int] = field(default_factory=dict)
    invariants: dict[str, bool] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return all(self.invariants.values())


def run_star_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> PipelineReport:
    """dim_category → dim_part → fact_order_metrics, with overwrite
    sinks (L1/L2) and the reference's verification checks."""
    report = PipelineReport()

    # --- dimension loads (etl_category.py / etl_product.py lifecycles);
    # read-backs pass the written frame's schema: no inference job
    loaded: dict[str, DataFrame] = {}
    for name, builder in [("dim_category", star.dim_category), ("dim_part", star.dim_part)]:
        df = builder(spark, sf_dir)
        if is_empty(df):  # V2 guard
            report.invariants[f"{name}_nonempty"] = False
            continue
        write_reload(df, f"{out_dir}/{name}")
        loaded[name] = read_parquet(spark, f"{out_dir}/{name}", schema=df.schema)
        report.loaded[name] = loaded[name].count()
        report.invariants[f"{name}_nonempty"] = True

    # --- fact load (etl_orders.py lifecycle) against the *loaded* dim
    dim_loaded = loaded.get("dim_part")
    if dim_loaded is None:  # nothing loaded: the lookup reads what is there
        dim_loaded = spark.read.parquet(f"{out_dir}/dim_part")
    fact = star.fact_order_metrics(spark, sf_dir, dim=dim_loaded)
    if is_empty(fact):
        report.invariants["fact_nonempty"] = False
        return report
    report.invariants["fact_nonempty"] = True
    write_reload(fact, f"{out_dir}/fact_order_metrics")
    fact_loaded = read_parquet(
        spark, f"{out_dir}/fact_order_metrics", schema=fact.schema
    )
    # row count and null-key audit in one pass over the loaded fact
    n_rows, n_null = fact_loaded.agg(
        F.count(F.lit(1)), F.count(F.when(F.col("PartKey").isNull(), 1))
    ).first()
    report.loaded["fact_order_metrics"] = n_rows

    # --- post-load invariants (Project Plan6.md:155-159, Plan7.md:3-8)
    lineitem_n = read_table(spark, sf_dir, "lineitem").count()
    report.invariants["rowcount_conserved"] = n_rows == lineitem_n
    report.invariants["zero_null_keys"] = n_null == 0
    return report
