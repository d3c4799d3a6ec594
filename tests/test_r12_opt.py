"""Focused tests for the r12 OPTIMIZATION-round operator changes:
the multi-quantile selection loop (group_quantiles / quantiles) and
the early distinct-walk exit in every selection variant (the
scale-adaptive streaming partition rule is tested in
tests/test_streaming.py).  Every change must be result-identical — these tests pin that, including with the early
walk forced on and forced off."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from northwind_etl_spark.operators import selection as SEL


def _df(spark, vals, group=None):
    if group is None:
        return spark.createDataFrame([(float(v),) for v in vals], ["x"])
    return spark.createDataFrame(
        [(g, float(v)) for g, v in zip(group, vals)], ["g", "x"]
    )


def test_group_quantiles_matches_repeated_single_calls(spark):
    rng = random.Random(7)
    vals = [rng.uniform(-1e4, 1e4) for _ in range(3000)]
    groups = [rng.choice(["a", "b", "c"]) for _ in vals]
    df = _df(spark, vals, groups)
    qs = [0.05, 0.5, 0.95]
    multi = SEL.group_quantiles(df, "x", "g", qs)
    for qq in qs:
        single = SEL.group_kth_smallest(df, "x", "g", q=qq)
        got = sorted((g, v, k, n) for g, q2, v, k, n in multi if q2 == qq)
        assert got == sorted(single)


def test_group_quantiles_matches_numpy(spark):
    rng = random.Random(13)
    vals = [rng.gauss(0, 100) for _ in range(5000)]
    groups = [rng.choice(["g1", "g2"]) for _ in vals]
    df = _df(spark, vals, groups)
    res = SEL.group_quantiles(df, "x", "g", [0.25, 0.75])
    import math

    for g, qq, v, k, n in res:
        mine = sorted(x for x, gg in zip(vals, groups) if gg == g)
        assert n == len(mine)
        assert k == max(1, math.ceil(qq * n))
        assert v == mine[k - 1]


def test_quantiles_single_group_matches_kth(spark):
    rng = random.Random(3)
    vals = [rng.uniform(0, 1e6) for _ in range(4000)]
    df = _df(spark, vals)
    qres = SEL.quantiles(df, "x", [0.5, 0.9])
    for qq in (0.5, 0.9):
        v, k, n = SEL.kth_smallest(df, "x", q=qq)
        assert qres[qq] == (v, k, n)


@pytest.mark.parametrize("walk_max", [0, 10**9])
def test_early_walk_on_off_identical(spark, monkeypatch, walk_max):
    """Forcing the walk always-on (huge threshold) and always-off
    (zero) must give the same exact answers — the walk is an exact
    finisher, never an approximation."""
    rng = random.Random(42)
    vals = [rng.uniform(-5e5, 5e5) for _ in range(2500)]
    groups = [rng.choice(["p1", "p2", "p3"]) for _ in vals]
    df = _df(spark, vals, groups)
    monkeypatch.setattr(SEL, "_WALK_MAX", walk_max)
    got_g = SEL.group_kth_smallest(df, "x", "g", q=0.5)
    got_s = SEL.kth_smallest(_df(spark, vals), "x", q=0.5)
    for g, v, k, n in got_g:
        mine = sorted(x for x, gg in zip(vals, groups) if gg == g)
        assert v == mine[k - 1]
    allv = sorted(vals)
    assert got_s[0] == allv[got_s[1] - 1]


def test_weighted_early_walk_identical(spark, monkeypatch):
    rows = [(float(v), (v * 7) % 5 + 1) for v in range(997)]
    df = spark.createDataFrame(rows, ["x", "w"])
    baseline = None
    for walk_max in (0, 10**9):
        monkeypatch.setattr(SEL, "_WALK_MAX", walk_max)
        got = SEL.weighted_kth_smallest(df, "x", "w")
        if baseline is None:
            baseline = got
        assert got == baseline
    # exact check vs expanded multiset
    expanded = sorted(
        x for x, w in rows for _ in range(int(w))
    )
    v, k, tw = baseline
    assert tw == sum(int(w) for _, w in rows)
    assert v == expanded[k - 1]


def test_group_quantiles_validates(spark):
    df = _df(spark, [1.0, 2.0], ["a", "a"])
    with pytest.raises(ValueError):
        SEL.group_quantiles(df, "x", "g", [])
    with pytest.raises(ValueError):
        SEL.group_quantiles(df, "x", "g", [0.5, 0.5])
