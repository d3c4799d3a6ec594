"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side, around calls into the
engine's public entry points; nothing inside the engine changes.  Job,
stage and task metrics come from a Spark event log, attributed to
operations by time window (stream drains run their jobs on the query's
own thread, so job groups would miss them), and streaming progress
comes from a `StreamingQueryListener`.  Spans stay in memory until the
run ends.

Self time: a span's duration minus what its child spans and the Spark
jobs inside it cover; the jobs' covered time is the `operators` layer.
An operation's own self time, the `driver` layer, is the part of it
that no layer span and no job covers: what the tracing leaves
unexplained.  The layer self times of one operation sum to its wall
time by construction (`residual` checks the arithmetic); the
`driver` share is the check that can fail.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from dataclasses import dataclass, field

from stats import clip, self_time, union_length


PIPELINE = "pipeline.run_star_pipeline"


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    progress: list[dict] = field(default_factory=list)

    def begin(self, layer: str, name: str, op: int | None = None) -> Span | None:
        if not self.enabled:
            return None
        parent = self.stack[-1] if self.stack else None
        span = Span(
            sid=len(self.spans),
            parent=parent.sid if parent else None,
            op=op if op is not None else (parent.op if parent else None),
            layer=layer,
            name=name,
            start=time.time(),
        )
        self.spans.append(span)
        self.stack.append(span)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.time()
        # pop through any span an exception left open
        while self.stack and self.stack.pop() is not span:
            pass

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + n

    def wrap(self, layer: str, name: str, fn, counter: str | None = None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self.begin(layer, name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(span)
            if counter is not None:
                self.count(counter, out if isinstance(out, int) else 1)
            return out

        return traced


def _patch_everywhere(module, attr: str, wrapped) -> None:
    """Replace `module.attr` and every engine module's imported alias
    of it (`from ..x import attr` binds the function by name)."""
    orig = getattr(module, attr)
    setattr(module, attr, wrapped)
    for name, mod in list(sys.modules.items()):
        if name.startswith("northwind_etl_spark") and getattr(mod, attr, None) is orig:
            setattr(mod, attr, wrapped)


def install(tracer: Tracer) -> None:
    """Wrap the layers' public entry points; once per process."""
    from pyspark.sql.classic.dataframe import DataFrame

    from northwind_etl_spark import cache
    from northwind_etl_spark.plans import pipeline, queries, star
    from northwind_etl_spark.sources import files, parquet

    for name, fn in list(queries.QUERIES.items()):
        queries.QUERIES[name] = tracer.wrap("plans", f"QUERIES[{name}]", fn)
    for name in ("dim_category", "dim_part", "fact_order_metrics", "revenue_by_category"):
        setattr(star, name, tracer.wrap("plans", f"star.{name}", getattr(star, name)))
    pipeline.run_star_pipeline = tracer.wrap("plans", PIPELINE, pipeline.run_star_pipeline)
    _patch_everywhere(
        files, "write_reload", tracer.wrap("sources", "write_reload", files.write_reload)
    )
    _patch_everywhere(
        parquet, "read_table", tracer.wrap("sources", "read_table", parquet.read_table)
    )
    _patch_everywhere(
        cache,
        "persist_stage",
        tracer.wrap("cache", "persist_stage", cache.persist_stage, "cache.stages_persisted"),
    )
    _patch_everywhere(
        cache,
        "release_stages",
        tracer.wrap("cache", "release_stages", cache.release_stages, "cache.stages_released"),
    )
    DataFrame.localCheckpoint = tracer.wrap(
        "cache", "localCheckpoint", DataFrame.localCheckpoint, "cache.local_checkpoints"
    )


def add_stream_listener(spark, tracer: Tracer) -> None:
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if not tracer.enabled:
                return
            p = event.progress
            tracer.progress.append(
                {
                    "run": str(p.runId),
                    "rows": int(p.numInputRows),
                    "trigger_ms": float(p.durationMs.get("triggerExecution", 0)),
                    "add_batch_ms": float(p.durationMs.get("addBatch", 0)),
                    "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Progress())


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    state_by_run: dict[str, int] = {}
    for p in progress:
        state_by_run[p["run"]] = max(state_by_run.get(p["run"], 0), p["state_rows"])
    return {
        "streaming.microbatches": len(progress),
        "streaming.input_rows": sum(p["rows"] for p in progress),
        "streaming.trigger_s": sum(p["trigger_ms"] for p in progress) / 1e3,
        "streaming.add_batch_s": sum(p["add_batch_ms"] for p in progress) / 1e3,
        "streaming.state_rows": sum(state_by_run.values()),
    }


# --- event log ------------------------------------------------------------


@dataclass
class Job:
    start: float
    end: float
    stages: list[tuple[str, int]]


@dataclass
class Stage:
    start: float
    tasks: int = 0
    tasks_failed: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    output_bytes: int = 0
    python_s: float = 0.0


def _python_time_s(accumulables: list[dict]) -> float:
    """A task's time in Python workers: its updates (ms) to the runner's
    "time to start / initialize / run Python workers" SQL metrics.
    Stage-level values are running totals of a plan node's metric over
    every stage that ran it, so only task updates add up."""
    total = 0.0
    for acc in accumulables:
        name = str(acc.get("Name", "")).lower()
        if name.startswith("time to") and name.endswith("python workers"):
            try:
                total += float(acc.get("Update", 0)) / 1e3
            except (TypeError, ValueError):
                pass
    return total


def read_event_logs(log_dir: str) -> tuple[list[Job], dict[tuple[str, int], Stage]]:
    jobs: list[Job] = []
    stages: dict[tuple[str, int], Stage] = {}
    open_jobs: dict[tuple[str, int], tuple[float, list]] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    ids = [(app, s) for s in ev.get("Stage IDs", [])]
                    open_jobs[(app, ev["Job ID"])] = (ev["Submission Time"] / 1e3, ids)
                elif kind == "SparkListenerJobEnd":
                    start, ids = open_jobs.pop((app, ev["Job ID"]), (None, []))
                    if start is not None:
                        jobs.append(Job(start, ev["Completion Time"] / 1e3, ids))
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stages.setdefault(
                        (app, info["Stage ID"]),
                        Stage(start=info.get("Submission Time", 0) / 1e3),
                    )
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault((app, ev["Stage ID"]), Stage(start=0.0))
                    st.tasks += 1
                    info = ev.get("Task Info", {})
                    if info.get("Failed"):
                        st.tasks_failed += 1
                    st.python_s += _python_time_s(info.get("Accumulables", []))
                    m = ev.get("Task Metrics") or {}
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics", {})
                    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    st.input_rows += m.get("Input Metrics", {}).get("Records Read", 0)
                    st.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return jobs, stages


# --- attribution ----------------------------------------------------------


def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.start <= t < s.end and (best is None or s.start >= best.start):
            best = s
    return best


def op_breakdown(op_span: Span, spans: list[Span], jobs: list[Job]) -> dict:
    """Layer self times of one operation, keyed by layer; `operators` is
    job time not inside a child span, `driver` the op's own gap."""
    tree = [s for s in spans if s.op == op_span.op and s.sid != op_span.sid]
    job_iv = clip([(j.start, j.end) for j in jobs], op_span.start, op_span.end)
    by_parent: dict[int, list[tuple[float, float]]] = {}
    for a, b in job_iv:
        owner = _innermost(tree, a) or op_span
        by_parent.setdefault(owner.sid, []).append((a, b))
    layers: dict[str, float] = {}
    for s in [op_span, *tree]:
        kids = [(c.start, c.end) for c in tree if c.parent == s.sid]
        own_jobs = by_parent.get(s.sid, [])
        by_kids = union_length(clip(kids, s.start, s.end))
        by_all = union_length(clip(kids + own_jobs, s.start, s.end))
        layer = "driver" if s is op_span else s.layer
        layers[layer] = layers.get(layer, 0.0) + self_time(s.start, s.end, kids + own_jobs)
        # job time under this span that no child span covers
        layers["operators"] = layers.get("operators", 0.0) + by_all - by_kids
    wall = op_span.end - op_span.start
    return {
        "op": op_span.name,
        "wall_s": wall,
        "layers_s": layers,
        "residual": (sum(layers.values()) - wall) / wall if wall else 0.0,
        "job_union_s": union_length(job_iv),
        "jobs": len(job_iv),
        # jobs launched while building a plan; the pipeline runner is not a plan
        "build_jobs": sum(
            1
            for j in jobs
            if op_span.start <= j.start < op_span.end
            and any(
                s.layer == "plans" and s.name != PIPELINE and s.start <= j.start < s.end
                for s in tree
            )
        ),
    }
