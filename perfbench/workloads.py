"""The benchmark's workloads: their operations and output checks.

An operation is `full_load` (the star pipeline into a fresh output
directory) or the name of a registry query.  A cycle runs every
operation of a workload once, in an order the run's seed shuffles.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass(frozen=True)
class Workload:
    """Why each workload exists is in BENCHMARK.json and README.md."""

    name: str
    sf: float
    table_cache: bool
    ops: tuple[str, ...]
    # at least this many steady cycles per run; star_etl's are the
    # shorter and the more spread, so it takes two and a run of either
    # workload lasts about a minute
    steady_cycles: int


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            name="star_etl",
            sf=0.01,
            table_cache=False,
            ops=(
                "full_load",
                "merge_upsert_orders",
                "scd2_incremental_merge",
                "stream_tumbling_event_counts",
                "stream_session_stats",
            ),
            steady_cycles=2,
        ),
        Workload(
            name="iterative_curation",
            sf=0.01,
            table_cache=True,
            ops=(
                "duplicate_cluster_sizes",
                "nation_trade_pagerank",
                "semantic_dedup_verdicts",
            ),
            steady_cycles=1,
        ),
    ]
}


def run_op(spark, name: str, data_dir: str, out_dir: str, collect: bool, tracer):
    """Execute one operation; returns (output, final DataFrame or None).
    A query's result is collected for checking, or else written to the
    noop sink, which executes it in full without moving rows.  The
    action is an `operators` span: its time outside jobs is the driver
    planning and scheduling the executed plan."""
    if name == "full_load":
        from northwind_etl_spark.plans import pipeline

        shutil.rmtree(out_dir, ignore_errors=True)
        return pipeline.run_star_pipeline(spark, data_dir, out_dir), None
    from northwind_etl_spark.plans import queries

    df = queries.QUERIES[name](spark, data_dir)
    span = tracer.begin("operators", "action")
    try:
        if not collect:
            df.write.format("noop").mode("overwrite").save()
            return None, df
        return [tuple(r) for r in df.collect()], df
    finally:
        tracer.end(span)


# --- output checks --------------------------------------------------------


class _Collected:
    """What `oracle_harness.compare` reads from a Spark DataFrame, for
    rows that were already collected inside the timed operation."""

    def __init__(self, columns: list[str], rows: list[tuple]):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list[tuple]:
        return self._rows


class _Cursor:
    def __init__(self, cols: list[str], rows: list[tuple]):
        self.description = [(c,) for c in cols]
        self._rows = rows

    def fetchall(self) -> list[tuple]:
        return self._rows


class OracleCache:
    """DuckDB oracle results keyed by their SQL, computed once per input
    set and kept on disk: the graph oracles take far longer in DuckDB
    than the Spark operation they check.  Stands in for the DuckDB
    connection that `oracle_harness.compare` queries."""

    def __init__(self, path: str, data_dir: str):
        self.path = path
        self.data_dir = data_dir
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}
        if os.path.exists(path):
            with open(path, "rb") as fh:
                self.results = pickle.load(fh)

    def missing(self, sqls: list[str]) -> list[str]:
        return [s for s in sqls if s not in self.results]

    def ensure(self, sqls: list[str]) -> None:
        missing = self.missing(sqls)
        if not missing:
            return
        from tests.oracle_harness import duck_connection

        con = duck_connection(self.data_dir)
        con.execute("SET memory_limit = '3GB'")
        con.execute(f"SET temp_directory = '{os.path.dirname(self.path)}/duckdb-tmp'")
        con.execute("SET threads = 2")
        for sql in missing:
            cur = con.execute(sql)
            self.results[sql] = ([c[0] for c in cur.description], cur.fetchall())
        con.close()
        tmp = self.path + ".tmp"
        with open(tmp, "wb") as fh:
            pickle.dump(self.results, fh)
        os.replace(tmp, self.path)

    def execute(self, sql: str) -> _Cursor:
        return _Cursor(*self.results[sql])


def content_hash(columns: list[str], rows: list[tuple]) -> str:
    from tests.oracle_harness import _canon

    return hashlib.sha256(repr(_canon(rows, columns)).encode()).hexdigest()


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def expected_loads(sf: float) -> dict[str, int]:
    """Rows `full_load` must load at scale `sf` (see datagen sizes)."""
    return {
        "dim_category": 5,
        "dim_part": int(200_000 * sf),
        "fact_order_metrics": 4 * int(1_500_000 * sf),
    }


def check_op(wl: Workload, name: str, out, df, oracle: OracleCache, expected: dict) -> str | None:
    """None when the output is right, else what is wrong with it."""
    if name == "full_load":
        want = expected_loads(wl.sf)
        if not out.ok:
            return f"pipeline invariants failed: {out.invariants}"
        if out.loaded != want:
            return f"loaded {out.loaded}, expected {want}"
        return None
    from northwind_etl_spark.plans.oracles import ORACLES
    from tests.oracle_harness import compare

    if name in ORACLES:
        r = compare(_Collected(list(df.columns), out), oracle, ORACLES[name])
        return None if r["ok"] else f"oracle mismatch: {r}"
    key = f"{name}@sf{wl.sf:g}"
    want = expected.get(key)
    got = {"rows": len(out), "sha256": content_hash(list(df.columns), out)}
    if want is None:
        return f"no expected hash for {key}; got {got}"
    return None if got == want else f"expected {want}, got {got}"


def oracle_sqls(wl: Workload) -> list[str]:
    from northwind_etl_spark.plans.oracles import ORACLES

    return [ORACLES[n] for n in wl.ops if n in ORACLES]
