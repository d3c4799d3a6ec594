#!/usr/bin/env python3
"""Benchmark of the northwind_etl_spark engine.

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One fresh process, `local[nproc]`,
one closed-loop client.  The run builds its inputs from the seed (cached
under perfbench/.work), sets up twice (each in a fresh JVM), runs one
cold cycle and then steady cycles until --seconds have been measured
(at least the workload's steady_cycles), checks every operation's
output, and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
`--record FILE` also writes the full record (samples, provenance) that
perfbench/compare.py reads.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import json
import os
import platform
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
# per-process scratch: session temp files, event logs, ETL outputs
RUN_DIR = os.path.join(WORK, f"run-{os.getpid()}")
# a run that is still going after this long is stopped with its JVM
WATCHDOG_S = 170.0
# set-ups per run, each in a fresh JVM; setup_s is their median
N_SETUPS = 2
# prctl option from <linux/prctl.h>
PR_SET_CHILD_SUBREAPER = 36


T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _prepare_env(trace: bool) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout and
    size the session to the host; must run before the JVM starts."""
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    tmp = os.path.join(RUN_DIR, "tmp")
    for d in (tmp, os.path.join(RUN_DIR, "local"), os.path.join(RUN_DIR, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
    }
    if trace:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + os.path.join(RUN_DIR, "eventlog")
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"'{a}'" for a in args) + " pyspark-shell"
    # the JVM that spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier:
        kids = [c for c, p in parent.items() if p in frontier]
        out += kids
        frontier = kids
    return out


def _alive(pid: int) -> bool:
    """Whether pid is still running.  A child of this process has ended
    once it is reaped (a killed JVM is a zombie while its threads are
    still exiting); any other process, once it is a zombie."""
    try:
        return os.waitpid(pid, os.WNOHANG)[0] == 0
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _become_subreaper() -> None:
    """Make descendants orphaned by the end of their parent (the Python
    workers of a stopped JVM) children of this process, so that the run
    can wait for them and reap them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap_children() -> None:
    """Reap every child of this process that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _end_processes(pids: list[int], grace_s: float) -> None:
    """Wait up to grace_s for pids to end, kill those still running, and
    wait until they have ended.  Reaps ended children, so call it only
    when no subprocess still to be waited for is running."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        _reap_children()
        left = [p for p in pids if _alive(p)]
        if not left:
            _reap_children()
            return
        if not killed and time.monotonic() >= deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
            deadline = time.monotonic() + 10.0
        elif killed and time.monotonic() >= deadline:
            _log(f"processes {left} did not end after SIGKILL")
            return
        time.sleep(0.02)


def _start_watchdog() -> None:
    """Kill this run's process tree if it overruns (a JVM that fails to
    start can leave PySpark waiting for it forever)."""

    def fire() -> None:
        _log(f"run exceeded {WATCHDOG_S:.0f}s; stopping it")
        _end_processes(_descendants(os.getpid()), grace_s=0.0)
        shutil.rmtree(RUN_DIR, ignore_errors=True)
        os._exit(3)

    timer = threading.Timer(WATCHDOG_S, fire)
    timer.daemon = True
    timer.start()


def _engine_available() -> str | None:
    sys.path.insert(0, ROOT)
    sys.path.insert(1, HERE)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import northwind_etl_spark  # noqa: F401
        from tests import oracle_harness  # noqa: F401
    except ImportError as ex:
        return str(ex)
    return None


def _commit() -> str | None:
    """HEAD of the checkout's git repository; None outside one, which
    makes compare.py refuse the record."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def _cpu_s() -> float:
    """CPU seconds used so far by this process, the driver JVM and the
    JVM's Python workers, with the children each of them has reaped
    (exited workers, JVMs of earlier set-ups).  Unlike wall time, it
    leaves out what the hypervisor steals."""
    from pyspark import SparkContext

    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return total
    tick = os.sysconf("SC_CLK_TCK")
    for pid in [proc.pid, *_descendants(proc.pid)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(f) for f in fields[11:15]) / tick
    return total


def _proc_stat() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def _steal_between(a: list[int], b: list[int]) -> float:
    """Share of the host's CPU time the hypervisor took between two
    /proc/stat readings."""
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if sum(d) else 0.0


def _stored_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _start_session():
    from northwind_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _fill_table_cache(spark, data_dir: str) -> None:
    from northwind_etl_spark.sources.parquet import TABLE_NAMES, read_table

    for t in TABLE_NAMES:
        read_table(spark, data_dir, t).count()


def _shutdown() -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    process it started (the Python worker daemon and its workers, which
    outlive it for a moment) have ended.  Does nothing without a JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    children = _descendants(proc.pid) if proc is not None else []
    try:
        session = SparkSession._instantiatedSession
        if session is not None:
            session.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except Exception as ex:  # noqa: BLE001 - the JVM is stopped below either way
        _log(f"stopping the session failed: {type(ex).__name__}: {str(ex)[:200]}")
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        # started after the first look, e.g. by the session's stop
        children += _descendants(proc.pid)
    _end_processes(children, grace_s=30.0)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    def __init__(self, wl, seed: int, data_dir: str, oracle, expected, tracer):
        self.wl = wl
        self.data_dir = data_dir
        self.oracle = oracle
        self.expected = expected
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.op_samples: list[tuple[str, float]] = []
        self.op_extra: list[dict] = []
        self.n_op = 0
        self.check_s = 0.0
        self.check_cpu_s = 0.0

    def cycle(
        self, spark, *, check: bool = False, traced: bool = False
    ) -> tuple[float, list[tuple[str, float]]]:
        """One cycle in seeded order; returns its wall time and op times.
        A checking cycle collects every output and checks it between
        operations, outside the timings."""
        from workloads import check_op, run_op

        order = self.rng.sample(list(self.wl.ops), len(self.wl.ops))
        times = []
        for name in order:
            self.attempted += 1
            self.n_op += 1
            span = self.tracer.begin("op", name, op=self.n_op) if traced else None
            t0 = time.perf_counter()
            try:
                out, df = run_op(
                    spark, name, self.data_dir, os.path.join(RUN_DIR, "etl_out"), check, self.tracer
                )
            except Exception as ex:  # noqa: BLE001 - a failed op is counted, not fatal
                self.tracer.end(span)
                self.failures.append(f"{name}: {type(ex).__name__}: {str(ex)[:300]}")
                _log(f"{name} FAILED\n{traceback.format_exc(limit=3)}")
                continue
            dt = time.perf_counter() - t0
            self.tracer.end(span)
            times.append((name, dt))
            if traced:
                self.op_extra.append(_plan_facts(df, spark))
            c0, t0 = _cpu_s(), time.perf_counter()
            err = (
                check_op(self.wl, name, out, df, self.oracle, self.expected)
                if check or name == "full_load"
                else None
            )
            self.check_s += time.perf_counter() - t0
            self.check_cpu_s += _cpu_s() - c0
            if err is not None:
                self.failures.append(f"{name}: {err[:500]}")
                _log(f"{name} WRONG OUTPUT: {err[:500]}")
        # drop what the cycle persisted, so the next one pays for it too
        from northwind_etl_spark import cache

        t0 = time.perf_counter()
        cache.release_stages()
        release = time.perf_counter() - t0
        return sum(t for _, t in times) + release, times


def _plan_facts(df, spark) -> dict:
    """Untimed facts about an operation's final plan, read after it ran."""
    facts = {"stored_mb": _stored_mb(spark)}
    if df is None:
        return facts
    qe = df._jdf.queryExecution()
    # the noop write planned its own copy; plan this one to fill its tracker
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        facts[f"{phase}_ms"] = float(p.get().durationMs()) if p.isDefined() else 0.0
    facts["exchanges"] = sum(1 for line in plan.splitlines() if "Exchange" in line)
    return facts


# run by a child Python: argv is ROOT, HERE, the cache path, the data dir;
# stdin the JSON list of oracle SQL
_BUILD_ORACLE = (
    "import json, sys; sys.path[:0] = sys.argv[1:3]; from workloads import OracleCache; "
    "OracleCache(sys.argv[3], sys.argv[4]).ensure(json.load(sys.stdin))"
)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main(argv: list[str] | None = None) -> int:
    """Run the benchmark; on every way out, stop the JVM and wait for
    every process the run started to end."""
    _become_subreaper()
    # a run stopped from outside still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(argv)
    finally:
        if "pyspark" in sys.modules:
            _shutdown()
        _end_processes(_descendants(os.getpid()), grace_s=10.0)
        shutil.rmtree(RUN_DIR, ignore_errors=True)


def _run(argv: list[str] | None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the full record to this JSON file")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    missing = _engine_available()
    if missing is not None:
        _log(f"the engine is not importable from {ROOT}: {missing}")
        return 2
    from workloads import WORKLOADS, OracleCache, load_expected, oracle_sqls

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    _prepare_env(trace)
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1" if wl.table_cache else "0"

    # inputs: generated from the seed and kept until another seed is run
    import datagen

    t0 = time.perf_counter()
    data_root = os.path.join(WORK, "data")
    name = f"sf{wl.sf:g}-seed{args.seed}"
    data_dir = os.path.join(data_root, name)
    if not os.path.isdir(data_dir):
        for old in glob.glob(os.path.join(data_root, f"sf{wl.sf:g}-seed*")):
            shutil.rmtree(old, ignore_errors=True)
        datagen.write_tables(wl.sf, args.seed, data_dir)
    inputs_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    oracle_path = os.path.join(WORK, f"oracle-sf{wl.sf:g}.pkl")
    oracle = OracleCache(oracle_path, data_dir)
    if oracle.missing(oracle_sqls(wl)):
        # built in a child process, so DuckDB's memory stays out of peak_rss_mb
        child = subprocess.run(
            [sys.executable, "-c", _BUILD_ORACLE, ROOT, HERE, oracle_path, data_dir],
            input=json.dumps(oracle_sqls(wl)),
            text=True,
        )
        if child.returncode != 0:
            _log(f"building the oracle results failed (exit {child.returncode})")
            return 1
        oracle = OracleCache(oracle_path, data_dir)
    oracle_s = time.perf_counter() - t0
    expected = load_expected()
    _log("inputs ready")
    _start_watchdog()

    from spans import Tracer, add_stream_listener, install

    tracer = Tracer()
    if trace:
        install(tracer)

    # set-up: JVM launch and session start, then the table cache fill
    # where the workload uses it; every set-up starts a fresh JVM
    setups, setups_cpu, starts, fills = [], [], [], []
    spark = None
    for _ in range(N_SETUPS):
        if spark is not None:
            _shutdown()
        c0, t0 = _cpu_s(), time.perf_counter()
        spark = _start_session()
        t1 = time.perf_counter()
        if wl.table_cache:
            _fill_table_cache(spark, data_dir)
        t2 = time.perf_counter()
        setups_cpu.append(_cpu_s() - c0)
        setups.append(t2 - t0)
        starts.append(t1 - t0)
        fills.append(t2 - t1)
    cache_mb = _stored_mb(spark)
    _log(f"{len(setups)} set-ups done")
    if trace:
        add_stream_listener(spark, tracer)

    # CPU windows leave out the output checks' CPU
    runner = Runner(wl, args.seed, data_dir, oracle, expected, tracer)
    cpu0, st0 = _cpu_s(), _proc_stat()
    cold_s, _ = runner.cycle(spark, check=True)
    cold_cpu = _cpu_s() - cpu0 - runner.check_cpu_s
    cold_steal = _steal_between(st0, _proc_stat())
    _log("cold cycle done")
    tracer.enabled = trace
    cycles, cycle_cpu, steal = [], [], []
    t0 = time.perf_counter()
    while len(cycles) < wl.steady_cycles or time.perf_counter() - t0 < args.seconds:
        cpu0, st0, chk0 = _cpu_s(), _proc_stat(), runner.check_cpu_s
        wall, times = runner.cycle(spark, traced=trace)
        cycle_cpu.append(_cpu_s() - cpu0 - (runner.check_cpu_s - chk0))
        steal.append(_steal_between(st0, _proc_stat()))
        cycles.append(wall)
        runner.op_samples += times
    tracer.enabled = False
    peak_mb = _peak_rss_mb(spark)
    _log("steady cycles done")
    _shutdown()
    _log("session stopped")

    op_times = [t for _, t in runner.op_samples]
    by_op: dict[str, list[float]] = {}
    for name, t in runner.op_samples:
        by_op.setdefault(name, []).append(t)
    from stats import tail_percentile

    tail = tail_percentile(op_times) if op_times else None
    # wall time is what a user waits for; CPU time beside it leaves out
    # the hypervisor's steal (its share is in the record)
    e2e = {
        "setup_s": (_median(setups), "s"),
        "cycle_s": (_median(cycles), "s"),
        "cycle_cpu_s": (_median(cycle_cpu), "s"),
    }
    # in the record only, without a bound: the cold cycle is one sample a
    # run, and on a shared 4-core host these three spread by 0.22-0.25
    # across runs
    advisory = {
        "setup_cpu_s": _median(setups_cpu),
        "cold_cycle_s": cold_s,
        "cold_cycle_cpu_s": cold_cpu,
    }
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "commit": _commit(),
        "spark_version": __import__("pyspark").__version__,
        "python": platform.python_version(),
        "sf": wl.sf,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "failures": runner.failures,
        "session_start_samples_s": starts,
        "inputs_s": inputs_s,
        "oracle_build_s": oracle_s,
        "check_s": runner.check_s,
        "check_cpu_s": runner.check_cpu_s,
        "setup_samples_s": setups,
        "setup_cpu_samples_s": setups_cpu,
        "cycle_samples_s": cycles,
        "cycle_cpu_samples_s": cycle_cpu,
        "cold_cycle_steal_share": cold_steal,
        "cycle_steal_share": steal,
        "op_samples_s": runner.op_samples,
        "op_p50_by_name_s": {k: _median(v) for k, v in sorted(by_op.items())},
        "op_tail": {"n": len(op_times), "percentile": tail[0], "value_s": tail[1]}
        if tail
        else {"n": len(op_times), "percentile": None},
        # advisory: G1's heap sizing moves it by 15% between identical runs
        "peak_rss_mb": peak_mb,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "advisory": advisory,
    }
    if trace:
        from layers import UNATTRIBUTED_LIMIT, per_layer_metrics

        metrics, detail = per_layer_metrics(
            tracer,
            os.path.join(RUN_DIR, "eventlog"),
            n_cycles=len(cycles),
            session_start_s=_median(starts),
            cache_build_s=_median(fills) if wl.table_cache else 0.0,
            cache_mb=cache_mb,
            op_extra=runner.op_extra,
            cycle_s=_median(cycles),
            cycle_cpu_s=_median(cycle_cpu),
        )
        record["per_layer"] = {k: v for k, (v, _) in metrics.items()}
        if detail["unattributed_over_limit"]:
            _log(
                f"CHECK: over {UNATTRIBUTED_LIMIT:.0%} of the wall time of "
                f"{', '.join(detail['unattributed_over_limit'])} is outside every layer span and job"
            )
        record["trace_detail"] = detail
        spans_path = os.path.join(WORK, f"trace-{wl.name}-seed{args.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump(
                {"spans": [s.__dict__ for s in tracer.spans], **detail}, fh, indent=1
            )
        _log(f"spans written to {os.path.relpath(spans_path, ROOT)}")
        shown = metrics
    else:
        shown = e2e
    if args.record:
        with open(args.record, "w") as fh:
            json.dump(record, fh, indent=1)
    _log(
        f"{wl.name} seed={args.seed}: {runner.attempted} ops, {len(runner.failures)} failed, "
        f"{len(cycles)} steady cycles, steal {100 * _median(steal):.0f}%, "
        f"inputs {inputs_s:.1f}s, "
        f"oracle build {oracle_s:.1f}s, checks {runner.check_s:.1f}s, total {time.perf_counter() - t_start:.1f}s"
    )
    for name, t in sorted(record["op_p50_by_name_s"].items()):
        _log(f"  {name}: {t:.3f}s")
    print(
        json.dumps(
            {
                "correct": not runner.failures,
                "attempted": runner.attempted,
                "failed": len(runner.failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
