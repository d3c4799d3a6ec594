"""Per-layer metrics of a traced run, per traced cycle.

Layers are the engine's packages: `session`, `sources`, `plans`,
`operators`, `cache` and `streaming`.  Spans come from `spans.Tracer`,
jobs, stages and tasks from the Spark event log, streaming progress
from the listener.
"""

from __future__ import annotations

import statistics

from spans import op_breakdown, read_event_logs, streaming_metrics

# an operation may spend at most this share of its wall time outside
# every layer span and job
UNATTRIBUTED_LIMIT = 0.10


def per_layer_metrics(
    tracer,
    log_dir: str,
    *,
    n_cycles: int,
    session_start_s: float,
    cache_build_s: float,
    cache_mb: float,
    op_extra: list[dict],
    cycle_s: float,
    cycle_cpu_s: float,
):
    jobs, stages = read_event_logs(log_dir)
    spans = tracer.spans
    ops = [s for s in spans if s.layer == "op"]
    breakdowns = [op_breakdown(o, spans, jobs) for o in ops]
    windows = [(o.start, o.end) for o in ops]

    def in_ops(t: float) -> bool:
        return any(a <= t < b for a, b in windows)

    op_jobs = [j for j in jobs if in_ops(j.start)]
    op_stages = [s for s in stages.values() if in_ops(s.start)]
    listed = sum(len(j.stages) for j in op_jobs)
    skipped = sum(
        1
        for j in op_jobs
        for key in j.stages
        if key not in stages or not (j.start <= stages[key].start <= j.end)
    )
    layer_s: dict[str, float] = {}
    for b in breakdowns:
        for layer, v in b["layers_s"].items():
            layer_s[layer] = layer_s.get(layer, 0.0) + v
    spans_s = lambda layer, name: sum(  # noqa: E731
        s.end - s.start for s in spans if s.layer == layer and s.name == name and s.op
    )
    counters = tracer.counters
    n = max(1, n_cycles)
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_start_s, "s"),
        "sources.table_cache_build_s": (cache_build_s, "s"),
        "sources.table_cache_mb": (cache_mb, "MB"),
        "sources.scan_bytes": (sum(s.input_bytes for s in op_stages) / n, "bytes"),
        "sources.scan_rows": (sum(s.input_rows for s in op_stages) / n, "count"),
        "sources.write_s": (spans_s("sources", "write_reload") / n, "s"),
        "sources.bytes_written": (sum(s.output_bytes for s in op_stages) / n, "bytes"),
        "sources.self_s": (layer_s.get("sources", 0.0) / n, "s"),
        "plans.build_self_s": (layer_s.get("plans", 0.0) / n, "s"),
        "plans.analysis_ms": (sum(e.get("analysis_ms", 0.0) for e in op_extra) / n, "ms"),
        "plans.optimization_ms": (
            sum(e.get("optimization_ms", 0.0) for e in op_extra) / n,
            "ms",
        ),
        "plans.planning_ms": (sum(e.get("planning_ms", 0.0) for e in op_extra) / n, "ms"),
        "plans.build_jobs": (sum(b["build_jobs"] for b in breakdowns) / n, "count"),
        "plans.exchanges": (sum(e.get("exchanges", 0) for e in op_extra) / n, "count"),
        "operators.jobs": (len(op_jobs) / n, "count"),
        "operators.stages": (len(op_stages) / n, "count"),
        "operators.stages_skipped_ratio": (skipped / listed if listed else 0.0, "ratio"),
        "operators.tasks": (sum(s.tasks for s in op_stages) / n, "count"),
        "operators.driver_gap_s": (
            sum(
                b["wall_s"] - b["job_union_s"] - b["layers_s"].get("plans", 0.0)
                for b in breakdowns
            )
            / n,
            "s",
        ),
        "operators.job_busy_s": (sum(b["job_union_s"] for b in breakdowns) / n, "s"),
        "operators.executor_cpu_s": (sum(s.cpu_s for s in op_stages) / n, "s"),
        "operators.gc_s": (sum(s.gc_s for s in op_stages) / n, "s"),
        "operators.shuffle_read_bytes": (sum(s.shuffle_read for s in op_stages) / n, "bytes"),
        "operators.shuffle_write_bytes": (
            sum(s.shuffle_write for s in op_stages) / n,
            "bytes",
        ),
        "operators.spill_bytes": (sum(s.spill for s in op_stages) / n, "bytes"),
        "operators.python_udf_s": (sum(s.python_s for s in op_stages) / n, "s"),
        "operators.tasks_failed": (sum(s.tasks_failed for s in op_stages) / n, "count"),
        "cache.stages_persisted": (counters.get("cache.stages_persisted", 0) / n, "count"),
        "cache.local_checkpoints": (counters.get("cache.local_checkpoints", 0) / n, "count"),
        "cache.stages_released": (counters.get("cache.stages_released", 0) / n, "count"),
        "cache.stored_mb": (
            max((e["stored_mb"] for e in op_extra), default=cache_mb) - cache_mb,
            "MB",
        ),
        "cache.self_s": (layer_s.get("cache", 0.0) / n, "s"),
        "driver.self_s": (layer_s.get("driver", 0.0) / n, "s"),
    }
    for k, v in streaming_metrics(tracer.progress).items():
        m[k] = (v / n, "s" if k.endswith("_s") else "count")
    # the `driver` layer is what no span or job covers
    unattributed = [b["layers_s"].get("driver", 0.0) / b["wall_s"] for b in breakdowns if b["wall_s"]]
    m["trace.unattributed_pct"] = (100 * max(unattributed, default=0.0), "%")
    # against the untraced runs' cycle_s and cycle_cpu_s these give the
    # tracing overhead (compare.py --overhead)
    m["trace.cycle_s"] = (cycle_s, "s")
    m["trace.cycle_cpu_s"] = (cycle_cpu_s, "s")
    detail = {
        "ops": breakdowns,
        "unattributed_over_limit": sorted(
            {b["op"] for b, u in zip(breakdowns, unattributed) if u > UNATTRIBUTED_LIMIT}
        ),
        "op_wall_median_s": statistics.median([b["wall_s"] for b in breakdowns])
        if breakdowns
        else 0.0,
    }
    return m, detail
