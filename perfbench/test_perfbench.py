"""Self-tests of the benchmark's arithmetic; no Spark needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from compare import Refused, check_provenance, compare, tracing_overhead, verdict  # noqa: E402
from spans import Job, Span, op_breakdown  # noqa: E402
from stats import percentile, self_time, tail_percentile, union_length  # noqa: E402

# --- percentile rule --------------------------------------------------------


def test_percentile_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == 50.0
    assert percentile(xs, 90) == 90.0
    assert percentile(xs, 100) == 100.0
    assert percentile([3.0], 99) == 3.0


@pytest.mark.parametrize(
    "n, expected_p",
    [
        (19, None),  # even the median has only 9.5 samples beyond it
        (20, 50.0),
        (39, 50.0),  # p75 would leave 9.75 beyond
        (40, 75.0),
        (99, 75.0),
        (100, 90.0),
        (999, 90.0),
        (1000, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected_p):
    got = tail_percentile([float(i) for i in range(n)])
    if expected_p is None:
        assert got is None
    else:
        assert got[0] == expected_p


def test_tail_percentile_value():
    xs = [float(i) for i in range(1, 101)]
    assert tail_percentile(xs) == (90.0, 90.0)


# --- span self time ----------------------------------------------------------


def test_union_length_merges_overlaps():
    assert union_length([(1, 3), (2, 5), (7, 8)]) == 5
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([]) == 0


def test_self_time_subtracts_covered_part_only():
    # children cover 1..5 and, clipped to the span, 8..10
    assert self_time(0, 10, [(1, 3), (2, 5), (8, 12)]) == 4
    assert self_time(0, 10, []) == 10


def _span(sid, parent, layer, name, start, end, op=1):
    return Span(sid=sid, parent=parent, op=op, layer=layer, name=name, start=start, end=end)


def test_op_breakdown_layers_sum_to_wall():
    op = _span(0, None, "op", "q", 0.0, 10.0)
    build = _span(1, 0, "plans", "QUERIES[q]", 0.5, 6.0)
    read = _span(2, 1, "sources", "read_table", 1.0, 1.5)
    ckpt = _span(3, 1, "cache", "localCheckpoint", 2.0, 4.0)
    jobs = [
        Job(2.5, 3.5, []),  # inside the checkpoint
        Job(4.5, 5.0, []),  # eager job during the build
        Job(7.0, 9.0, []),  # the final execution
        Job(8.5, 9.5, []),  # overlaps the one before
    ]
    b = op_breakdown(op, [op, build, read, ckpt], jobs)
    layers = b["layers_s"]
    assert sum(layers.values()) == pytest.approx(10.0)
    assert b["residual"] == pytest.approx(0.0)
    assert layers["operators"] == pytest.approx(1.0 + 0.5 + 2.5)
    assert layers["cache"] == pytest.approx(2.0 - 1.0)
    assert layers["sources"] == pytest.approx(0.5)
    assert layers["plans"] == pytest.approx(5.5 - 0.5 - 2.0 - 0.5)
    assert layers["driver"] == pytest.approx(10.0 - 5.5 - 2.5)
    assert b["job_union_s"] == pytest.approx(1.0 + 0.5 + 2.5)
    assert b["build_jobs"] == 2


def test_op_breakdown_ignores_other_ops():
    op = _span(0, None, "op", "a", 0.0, 2.0, op=1)
    other = _span(1, None, "op", "b", 2.0, 4.0, op=2)
    b = op_breakdown(op, [op, other], [Job(2.5, 3.0, [])])
    assert b["layers_s"] == {"driver": pytest.approx(2.0), "operators": 0.0}


# --- compare tool ------------------------------------------------------------

SPEC = {
    "end_to_end": [
        {"name": "cycle_cpu_s", "unit": "s", "better": "lower", "bound": 0.1},
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    ]
}


def _pairs(parent, change):
    return list(zip(parent, change))


def test_verdict_improved():
    parent = [10.0 + 0.05 * i for i in range(10)]
    change = [9.0 + 0.05 * i for i in range(10)]
    assert verdict(_pairs(parent, change), "lower", 0.1)["verdict"] == "improved"


def test_verdict_improvement_needs_ten_pairs():
    parent = [10.0 + 0.05 * i for i in range(9)]
    change = [9.0 + 0.05 * i for i in range(9)]
    assert verdict(_pairs(parent, change), "lower", 0.1)["verdict"] == "unchanged"


def test_verdict_improvement_needs_nine_tenths_of_wins():
    parent = [10.0 + 0.05 * i for i in range(10)]
    change = [9.0 + 0.05 * i for i in range(8)] + [20.0, 20.0]
    assert verdict(_pairs(parent, change), "lower", 0.5)["verdict"] != "improved"


def test_verdict_improvement_must_beat_parent_spread():
    # the change wins every pair, but by less than the parent's own spread
    parent = [10.0, 10.5, 11.0, 11.5, 12.0, 10.0, 10.5, 11.0, 11.5, 12.0]
    change = [p - 0.1 for p in parent]
    assert verdict(_pairs(parent, change), "lower", 0.25)["verdict"] == "unchanged"


def test_verdict_worse():
    parent = [10.0 + 0.01 * i for i in range(10)]
    change = [12.0 + 0.01 * i for i in range(10)]
    v = verdict(_pairs(parent, change), "lower", 0.1)
    assert v["verdict"] == "worse"
    assert v["worse_by"] == pytest.approx(0.2, abs=0.01)


def test_verdict_higher_is_better():
    parent = [100.0 + i for i in range(10)]
    change = [80.0 + i for i in range(10)]
    assert verdict(_pairs(parent, change), "higher", 0.1)["verdict"] == "worse"
    assert verdict(_pairs(change, parent), "higher", 0.1)["verdict"] == "improved"


def test_verdict_unresolved_when_spread_exceeds_bound():
    parent = [10.0, 14.0, 8.0, 12.0, 9.0, 13.0, 11.0, 7.0, 15.0, 10.0]
    change = [11.0, 9.0, 14.0, 8.0, 12.0, 10.0, 15.0, 9.0, 13.0, 11.0]
    assert verdict(_pairs(parent, change), "lower", 0.1)["verdict"] == "unresolved"


def test_verdict_wide_spread_but_every_change_run_better():
    parent = [20.0, 28.0, 24.0]
    change = [10.0, 14.0, 12.0]
    assert verdict(_pairs(parent, change), "lower", 0.1)["verdict"] == "unchanged"


def _rec(workload, seed, cycle, setup, commit="abc", nproc=4, spark="4.1.2"):
    return {
        "workload": workload,
        "seed": seed,
        "trace": 0,
        "nproc": nproc,
        "commit": commit,
        "spark_version": spark,
        "end_to_end": {"cycle_cpu_s": cycle, "cycle_s": cycle / 2, "setup_s": setup},
    }


def test_compare_pairs_by_seed_per_workload():
    parent = [_rec("w", s, 10.0 + 0.01 * s, 1.0) for s in range(10)]
    change = [_rec("w", s, 8.0 + 0.01 * s, 1.0, commit="def") for s in reversed(range(10))]
    out = compare(parent, change, SPEC)
    assert out["w"]["cycle_cpu_s"]["verdict"] == "improved"
    assert out["w"]["cycle_cpu_s"]["wins"] == 10
    assert out["w"]["setup_s"]["verdict"] == "unchanged"


@pytest.mark.parametrize(
    "bad",
    [
        {"nproc": None},
        {"commit": None},
        {"spark_version": None},
        {"nproc": 8},
        {"spark_version": "4.0.0"},
    ],
)
def test_compare_refuses_bad_provenance(bad):
    parent = [_rec("w", s, 10.0, 1.0) for s in range(3)]
    change = [_rec("w", s, 10.0, 1.0, commit="def") for s in range(3)]
    change[1].update(bad)
    with pytest.raises(Refused):
        check_provenance(parent, change)


def test_compare_refuses_mixed_commits_on_one_side():
    parent = [_rec("w", 0, 10.0, 1.0), _rec("w", 1, 10.0, 1.0, commit="zzz")]
    change = [_rec("w", s, 10.0, 1.0, commit="def") for s in range(2)]
    with pytest.raises(Refused):
        check_provenance(parent, change)


def test_tracing_overhead_sets_traced_against_untraced_cycles():
    plain = [_rec("w", s, c, 1.0) for s, c in enumerate([10.0, 11.0, 12.0])]
    traced = [
        {"workload": "w", "trace": 1, "per_layer": {"trace.cycle_cpu_s": c, "trace.cycle_s": w}}
        for c, w in ((11.0, 5.5), (12.1, 6.6))
    ]
    out = tracing_overhead(plain + traced)
    assert out["w"]["cycle_cpu_s"]["overhead"] == pytest.approx(11.55 / 11.0 - 1)
    assert out["w"]["cycle_s"]["overhead"] == pytest.approx(6.05 / 5.5 - 1)
    assert out["w"]["cycle_cpu_s"]["runs"] == [3, 2]


def test_unattributed_share_flags_uncovered_operations(tmp_path):
    from layers import per_layer_metrics
    from spans import Tracer

    tracer = Tracer(enabled=True)
    covered = tracer.begin("op", "covered", op=1)
    tracer.end(tracer.begin("plans", "QUERIES[covered]"))
    tracer.end(covered)
    loose = tracer.begin("op", "loose", op=2)
    tracer.end(tracer.begin("plans", "QUERIES[loose]"))
    tracer.end(loose)
    # fix the times: the first op is 95% inside its plan span, the second 50%
    for s, (a, b) in zip(tracer.spans, [(0, 10), (0, 9.5), (10, 20), (10, 15)]):
        s.start, s.end = a, b
    m, detail = per_layer_metrics(
        tracer,
        str(tmp_path),
        n_cycles=1,
        session_start_s=1.0,
        cache_build_s=0.0,
        cache_mb=0.0,
        op_extra=[],
        cycle_s=20.0,
        cycle_cpu_s=30.0,
    )
    assert m["trace.unattributed_pct"][0] == pytest.approx(50.0)
    assert m["driver.self_s"][0] == pytest.approx(0.5 + 5.0)
    assert detail["unattributed_over_limit"] == ["loose"]
