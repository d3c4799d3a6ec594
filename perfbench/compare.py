#!/usr/bin/env python3
"""Compare benchmark records of a parent commit and a change.

    python3 perfbench/compare.py --parent p1.json p2.json ... --change c1.json ...
    python3 perfbench/compare.py --overhead r1.json r2.json ...

Records are the files `run.py --record` writes; traced runs are left
out of the verdicts.  `--overhead` instead sets the traced runs'
median cycle time, wall and CPU, against the untraced runs' medians,
per workload.  Runs pair up by
workload and seed.  For every workload and end-to-end metric the
verdict is one of:

- improved: at least ten pairs, the change wins at least nine tenths
  of them (ties count for neither side), and the medians differ by more
  than the parent's own quartile spread;
- unresolved: either side's quartile spread is wider than the metric's
  bound and not every change run beats every parent run;
- worse: the change's median is worse than the parent's by more than
  the bound;
- unchanged: otherwise.

Bounds and directions come from BENCHMARK.json.  Records whose core
count, commit or Spark version is missing, or whose core count or
Spark version differ, or whose commit differs within one side, are
refused.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import quartile_spread  # noqa: E402

PROVENANCE = ("nproc", "commit", "spark_version")
MIN_PAIRS = 10
WIN_SHARE = 0.9


class Refused(ValueError):
    pass


def check_provenance(parent: list[dict], change: list[dict]) -> None:
    for side, recs in (("parent", parent), ("change", change)):
        if not recs:
            raise Refused(f"no {side} records")
        for r in recs:
            missing = [k for k in PROVENANCE if not r.get(k)]
            if missing:
                raise Refused(f"a {side} record lacks {missing}")
        if len({r["commit"] for r in recs}) > 1:
            raise Refused(f"{side} records come from several commits")
    for key in ("nproc", "spark_version"):
        values = {r[key] for r in parent + change}
        if len(values) > 1:
            raise Refused(f"records differ in {key}: {sorted(map(str, values))}")


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def verdict(
    pairs: list[tuple[float, float]], better: str, bound: float
) -> dict:
    """Verdict for one metric from (parent, change) value pairs."""
    parent = [p for p, _ in pairs]
    change = [c for _, c in pairs]
    lower = better == "lower"
    wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
    losses = sum(1 for p, c in pairs if (c > p if lower else c < p))
    pm, cm = statistics.median(parent), statistics.median(change)
    q1, q3 = _quartiles(parent)
    worse_by = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
    spread = max(quartile_spread(parent), quartile_spread(change))
    all_better = max(change) < min(parent) if lower else min(change) > max(parent)
    if (
        len(pairs) >= MIN_PAIRS
        and wins >= WIN_SHARE * len(pairs)
        and worse_by < 0
        and abs(cm - pm) > q3 - q1
    ):
        v = "improved"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "unchanged"
    return {
        "verdict": v,
        "pairs": len(pairs),
        "wins": wins,
        "losses": losses,
        "parent_median": pm,
        "parent_quartiles": [q1, q3],
        "change_median": cm,
        "change_quartiles": list(_quartiles(change)),
        "worse_by": worse_by,
        "spread": spread,
    }


def pair_up(parent: list[dict], change: list[dict]) -> dict[str, list[tuple[dict, dict]]]:
    """Pairs per workload: by seed where both sides ran it, else in order."""
    out: dict[str, list[tuple[dict, dict]]] = {}
    for wl in sorted({r["workload"] for r in parent} & {r["workload"] for r in change}):
        ps = [r for r in parent if r["workload"] == wl]
        cs = [r for r in change if r["workload"] == wl]
        by_seed = {r["seed"]: r for r in cs}
        if all(r["seed"] in by_seed for r in ps) and len(by_seed) == len(cs) == len(ps):
            out[wl] = [(p, by_seed[p["seed"]]) for p in ps]
        else:
            out[wl] = list(zip(ps, cs))
    return out


def compare(parent: list[dict], change: list[dict], spec: dict) -> dict:
    check_provenance(parent, change)
    result: dict[str, dict] = {}
    for wl, pairs in pair_up(parent, change).items():
        result[wl] = {}
        for m in spec["end_to_end"]:
            vals = [
                (p["end_to_end"][m["name"]], c["end_to_end"][m["name"]])
                for p, c in pairs
                if m["name"] in p.get("end_to_end", {}) and m["name"] in c.get("end_to_end", {})
            ]
            if vals:
                result[wl][m["name"]] = verdict(vals, m["better"], m["bound"])
    return result


def tracing_overhead(records: list[dict]) -> dict[str, dict]:
    """Per workload and cycle metric (`cycle_s`, `cycle_cpu_s`): median
    of the traced runs over median of the untraced runs."""
    out: dict[str, dict] = {}
    for wl in sorted({r["workload"] for r in records}):
        for name in ("cycle_s", "cycle_cpu_s"):
            plain = [
                r["end_to_end"][name]
                for r in records
                if r["workload"] == wl and not r["trace"] and name in r["end_to_end"]
            ]
            traced = [
                r["per_layer"][f"trace.{name}"]
                for r in records
                if r["workload"] == wl and r["trace"] and f"trace.{name}" in r["per_layer"]
            ]
            if plain and traced:
                base, with_trace = statistics.median(plain), statistics.median(traced)
                out.setdefault(wl, {})[name] = {
                    "untraced": base,
                    "traced": with_trace,
                    "overhead": with_trace / base - 1,
                    "runs": [len(plain), len(traced)],
                }
    return out


def _load(paths: list[str]) -> list[dict]:
    recs = []
    for p in paths:
        with open(p) as fh:
            recs.append(json.load(fh))
    return recs


def _untraced(recs: list[dict]) -> list[dict]:
    return [r for r in recs if not r.get("trace")]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="compare parent and change benchmark records")
    ap.add_argument("--parent", nargs="+")
    ap.add_argument("--change", nargs="+")
    ap.add_argument("--overhead", nargs="+", help="records of one commit, traced and not")
    ap.add_argument(
        "--benchmark",
        default=os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json"),
    )
    args = ap.parse_args(argv)
    if args.overhead:
        result = tracing_overhead(_load(args.overhead))
        for wl, by_metric in result.items():
            for name, v in by_metric.items():
                print(
                    f"{wl:20s} {name:12s} untraced {v['untraced']:.3f}s, traced "
                    f"{v['traced']:.3f}s: overhead {100 * v['overhead']:+.1f}% "
                    f"({v['runs'][0]} and {v['runs'][1]} runs)"
                )
        return 0
    if not (args.parent and args.change):
        ap.error("give --parent and --change records, or --overhead")
    with open(args.benchmark) as fh:
        spec = json.load(fh)
    try:
        result = compare(_untraced(_load(args.parent)), _untraced(_load(args.change)), spec)
    except Refused as ex:
        print(f"refused: {ex}", file=sys.stderr)
        return 2
    for wl, metrics in result.items():
        for name, v in metrics.items():
            print(
                f"{wl:20s} {name:14s} {v['verdict']:10s} "
                f"parent {v['parent_median']:.4g} [{v['parent_quartiles'][0]:.4g}, "
                f"{v['parent_quartiles'][1]:.4g}]  change {v['change_median']:.4g} "
                f"[{v['change_quartiles'][0]:.4g}, {v['change_quartiles'][1]:.4g}]  "
                f"worse by {100 * v['worse_by']:+.1f}%  wins {v['wins']}/{v['pairs']}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
