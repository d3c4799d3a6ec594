#!/usr/bin/env python
"""Regenerate the plan-shape ledger tests/plan_shapes.json.

Usage: python scripts/plan_shapes.py

Builds every registry entry in the Tier-1 fixture's session and scale
factor (tests/conftest.py) and writes each plan's node counts
(tests/entry_lint.py::plan_shape), one line per entry.  In the diff a
count should move only where the change means it to.
"""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))


def main() -> None:
    from conftest import SF_DIR
    from entry_lint import LEDGER, plan_shape, registry_entries, write_ledger

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from northwind_etl_spark.session import get_spark

    spark = get_spark("northwind-etl-spark-tests")
    spark.sparkContext.setLogLevel("ERROR")
    if spark.sparkContext.defaultParallelism < 2:
        # a 1-partition input already satisfies an aggregate's
        # distribution there, so some exchanges disappear
        # (bloom_fpr_eval's ShuffleExchange count moves)
        sys.exit("plan shapes are pinned from 2 cores up; set SPARK_GRAFT_CPUS >= 2")
    shapes = {name: plan_shape(df) for name, df in registry_entries(spark, SF_DIR)}
    write_ledger(SF_DIR, shapes)
    spark.stop()
    print(f"{len(shapes)} entries -> {os.path.relpath(LEDGER, _ROOT)}")


if __name__ == "__main__":
    main()
