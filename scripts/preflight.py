#!/usr/bin/env python
"""Run registry entries exactly the way the correctness driver does —
vanilla session from a neutral cwd, the static entry lints of
tests/entry_lint.py (the rules Tier-1 applies) on every entry, oracle
compare where an oracle exists, rows-only otherwise — and print one
status line per entry plus a summary.  It does not compare plan shapes
with the ledger: that is pinned at the Tier-1 scale factor only.

Usage: python scripts/preflight.py [--sf DIR] [N | name ...]

Without names it runs the iterative-operator lint pre-pass plus the
first N (default 50) entries; with names it runs just those entries.
DIR defaults to $SPARK_GRAFT_SF_DIR.  Exits 1 on any failure.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))


def _lint_prepass(spark, sf_dir: str) -> list[str]:
    # loop-invariant-input lint (r07 LPA lesson — an unpersisted loop
    # input is a silent 6x scale regression).  It reads the passed
    # sf_dir so it works wherever the data lives; a lint-harness crash
    # is REPORTED as a failure, not an abort.
    from iterative_lint import lint_iterative_operators

    try:
        failures = lint_iterative_operators(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001 — report, don't abort
        failures = [f"iterative-lint harness error: {exc!r}"]
    for f in failures:
        print(f"LINT {f}", flush=True)
    print(
        f"iterative-operator lint: {'OK' if not failures else 'FAILED'}",
        flush=True,
    )
    return failures


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("entries", nargs="*", help="N, or entry names")
    args = ap.parse_args()
    if not args.sf:
        ap.error("--sf DIR (or $SPARK_GRAFT_SF_DIR) is required")
    sf_dir = os.path.abspath(args.sf)
    window_mode = len(args.entries) <= 1 and all(
        e.isdigit() for e in args.entries
    )

    # Run from a NEUTRAL cwd before the JVM starts: python workers put
    # their cwd on sys.path, so preflighting from the repo root lets
    # workers `import northwind_etl_spark` even though the driver
    # harness runs from elsewhere — that masked a worker-side
    # ModuleNotFoundError for a whole round (r07 mdct: an
    # lru_cache-wrapped global pickles by reference).  From /tmp-like
    # cwd, preflight fails exactly where the driver would.
    import tempfile

    os.chdir(tempfile.mkdtemp(prefix="preflight-"))

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    from oracle_harness import compare, duck_connection
    from entry_lint import lint_entry

    lint_failures = _lint_prepass(spark, sf_dir) if window_mode else []
    qs, osql = E.queries(), E.oracle_sql()
    con = duck_connection(sf_dir)
    if window_mode:
        names = list(qs)[: int(args.entries[0]) if args.entries else 50]
    else:
        names = args.entries
    bad = []
    for name in names:
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, sf_dir)
            hits = lint_entry(df, name)
            if hits:
                raise AssertionError(f"entry lint: {hits}")
            if name in osql:
                r = compare(df, con, osql[name])
                ok, detail = r["ok"], {
                    k: r[k] for k in ("count_match", "schema_match", "value_match")
                }
            else:
                rows = df.count()
                ok, detail = True, {"rows_only": rows}
        except Exception as exc:  # noqa: BLE001 — report, don't abort
            ok, detail = False, {"err": repr(exc)[:300]}
        dt = round(time.perf_counter() - t0, 1)
        status = "ok " if ok else "FAIL"
        print(f"{status} {name:42s} {dt:6.1f}s {detail}", flush=True)
        if not ok:
            bad.append(name)
    print(f"\n{len(names) - len(bad)}/{len(names)} green; failures: {bad}")
    sys.exit(1 if (bad or lint_failures) else 0)


if __name__ == "__main__":
    main()
