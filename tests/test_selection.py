"""Sortless exact-selection proofs (operators/selection.py): vs
numpy.partition on random data, tie-heavy data, boundary ks, negative
ranges, and the quantile convention; the multi-quantile loop
(group_quantiles / quantiles), the early distinct-walk exit forced on
and off, the struct-isin walk over many and integer group keys, NULL
group-key rejection, and the one-group face running the same jobs as
the ungrouped one."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from northwind_etl_spark.operators import selection as SEL
from northwind_etl_spark.operators.selection import exact_quantile, kth_smallest


def _df(spark, values, group=None):
    if group is None:
        return spark.createDataFrame([(float(v),) for v in values], ["x"])
    return spark.createDataFrame(
        [(g, float(v)) for g, v in zip(group, values)], ["g", "x"]
    )


def test_matches_numpy_on_random(spark):
    rng = np.random.RandomState(7)
    vals = rng.lognormal(6, 2, size=5000)
    df = _df(spark, vals).repartition(11)
    for k in (1, 17, 2500, 4999, 5000):
        got, kk, n = kth_smallest(df, "x", k)
        assert (kk, n) == (k, 5000)
        assert got == float(np.partition(vals, k - 1)[k - 1])


def test_median_default_and_ties(spark):
    # heavy ties: the k-th lands inside a run of equal values and the
    # interval must collapse to the point
    vals = [1.0] * 100 + [2.0] * 5 + [3.0] * 100
    got, k, n = kth_smallest(_df(spark, vals), "x")
    assert (k, n) == (103, 205)
    assert got == 2.0
    got2, _, _ = kth_smallest(_df(spark, [42.0] * 999), "x")
    assert got2 == 42.0


def test_negative_and_single(spark):
    vals = [-5.5, -1.25, 0.0, 3.5]
    assert kth_smallest(_df(spark, vals), "x", 1)[0] == -5.5
    assert kth_smallest(_df(spark, vals), "x", 4)[0] == 3.5
    assert kth_smallest(_df(spark, [7.0]), "x")[0] == 7.0


def test_nulls_excluded_and_empty_raises(spark):
    df = spark.createDataFrame([(1.0,), (None,), (3.0,)], ["x"])
    got, k, n = kth_smallest(df, "x")
    assert (got, k, n) == (1.0, 1, 2)
    with pytest.raises(ValueError, match="empty"):
        kth_smallest(spark.createDataFrame([], "x double"), "x")


def test_quantile_convention(spark):
    vals = list(range(1, 101))
    df = _df(spark, vals)
    assert exact_quantile(df, "x", 0.25)[0] == 25.0
    assert exact_quantile(df, "x", 0.999)[0] == 100.0
    assert exact_quantile(df, "x", 0.0)[0] == 1.0


def test_adjacent_doubles_stagnation_path(spark):
    # two adjacent representable doubles force the float-stagnation
    # fallback (the interval cannot split between them)
    a = 1.0
    b = np.nextafter(a, 2.0)
    vals = [a] * 10 + [float(b)] * 10
    assert kth_smallest(_df(spark, vals), "x", 10)[0] == a
    assert kth_smallest(_df(spark, vals), "x", 11)[0] == float(b)


def test_nonfinite_rejected(spark):
    df = spark.createDataFrame([(1.0,), (float("nan"),)], ["x"])
    with pytest.raises(ValueError, match="non-finite"):
        kth_smallest(df, "x")
    df2 = spark.createDataFrame([(1.0,), (float("inf"),)], ["x"])
    with pytest.raises(ValueError, match="non-finite"):
        kth_smallest(df2, "x")


def test_boundary_heavy_values(spark):
    # values engineered onto early bin edges: exact powers of the bin
    # width so floor((v-lo)/width) sits on integer boundaries
    vals = [float(i) for i in range(0, 2048, 2)]
    df = _df(spark, vals).repartition(9)
    for k in (1, 512, 1024):
        got, _, _ = kth_smallest(df, "x", k)
        assert got == float(np.partition(np.array(vals), k - 1)[k - 1])


def test_group_kth_matches_numpy(spark):
    from northwind_etl_spark.operators.selection import group_kth_smallest

    rng = np.random.RandomState(3)
    rows = []
    sizes = {"a": 701, "b": 40, "c": 1, "d": 1000}
    data = {}
    for gname, n in sizes.items():
        vals = rng.lognormal(4, 2, size=n)
        data[gname] = vals
        rows += [(gname, float(x)) for x in vals]
    df = spark.createDataFrame(rows, ["g", "x"]).repartition(7)
    got = group_kth_smallest(df, "x", "g", q=0.9)
    assert [r[0] for r in got] == ["a", "b", "c", "d"]
    for gname, val, kk, n in got:
        want_k = max(1, int(np.ceil(0.9 * sizes[gname])))
        assert (kk, n) == (want_k, sizes[gname])
        assert val == float(np.partition(data[gname], want_k - 1)[want_k - 1])


def test_group_kth_ties_and_stagnation(spark):
    from northwind_etl_spark.operators.selection import group_kth_smallest

    a = 1.0
    b = float(np.nextafter(a, 2.0))
    rows = (
        [("t", 5.0)] * 9                       # all-ties group
        + [("s", a)] * 10 + [("s", b)] * 10    # adjacent-doubles group
        + [("u", float(i)) for i in range(100)]
    )
    df = spark.createDataFrame(rows, ["g", "x"])
    with pytest.raises(ValueError, match="outside"):
        group_kth_smallest(df, "x", "g", k=10)  # k=10 > n=9 for 't'
    got = {r[0]: r for r in group_kth_smallest(df, "x", "g", k=9)}
    assert got["t"][1] == 5.0                  # all-ties collapses
    assert got["s"][1] == a                    # 9th of 10+10 adjacent
    assert got["u"][1] == 8.0


def test_group_median_mad_matches_numpy(spark):
    """group_median_mad equals the definitional lower-median /
    lower-median-of-deviations computed in numpy, on random data with
    planted ties, negatives, and uneven group sizes."""
    from northwind_etl_spark.operators.selection import group_median_mad

    rng = np.random.default_rng(7)
    rows = []
    data = {}
    for g, n in (("a", 101), ("b", 64), ("c", 7), ("d", 1)):
        vals = np.round(rng.normal(0, 50, n), 2)
        vals[: n // 3] = np.round(vals[: n // 3])  # plant ties
        data[g] = vals
        rows += [(g, float(v)) for v in vals]
    df = spark.createDataFrame(rows, ["g", "v"])
    got = group_median_mad(df, "v", "g")

    def lower_median(a):
        k = (len(a) + 1) // 2
        return float(np.sort(a)[k - 1])

    for g, med, mad, n in got:
        a = data[g]
        assert n == len(a)
        exp_med = lower_median(a)
        assert med == exp_med, (g, med, exp_med)
        exp_mad = lower_median(np.abs(a - exp_med))
        assert mad == exp_mad, (g, mad, exp_mad)
    assert [g for g, *_ in got] == ["a", "b", "c", "d"]


def test_group_median_mad_planted_outlier(spark):
    """A single gross outlier cannot move median/MAD (50% breakdown):
    the robust pair flags it while remaining at the clean values."""
    from northwind_etl_spark.operators.selection import group_median_mad

    clean = [("g", float(v)) for v in range(1, 12)]  # 1..11, med 6
    df = spark.createDataFrame(clean + [("g", 1e9)], ["g", "v"])
    ((grp, med, mad, n),) = group_median_mad(df, "v", "g")
    assert (grp, n) == ("g", 12)
    assert med == 6.0  # lower median of 12 values = 6th smallest
    # deviations from 6 sorted: [0,1,1,2,2,3,3,4,4,5,5, 1e9-6]
    # -> lower median (6th smallest) = 3
    assert mad == 3.0
    assert abs(1e9 - med) > 3 * mad  # the outlier is flagged


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


def test_group_selection_rejects_null_group_keys(spark):
    df = spark.createDataFrame(
        [("a", 1.0), (None, 2.0), ("a", 3.0)], ["g", "x"]
    )
    with pytest.raises(ValueError, match="NULL group key"):
        SEL.group_kth_smallest(df, "x", "g")


def test_group_selection_walk_isin_many_groups(spark):
    """Many (group, quantile) keys exercise the flat struct-isin walk
    predicate; answers must equal the per-group numpy sort."""
    rng = random.Random(23)
    rows = [
        (f"g{rng.randrange(40)}", rng.uniform(-1e3, 1e3))
        for _ in range(6000)
    ]
    df = spark.createDataFrame(rows, ["g", "x"])
    res = SEL.group_quantiles(df, "x", "g", [0.1, 0.5, 0.9])

    by_g: dict[str, list[float]] = {}
    for g, x in rows:
        by_g.setdefault(g, []).append(x)
    for g in by_g:
        by_g[g].sort()
    assert len(res) == 3 * len(by_g)
    for g, qq, v, k, n in res:
        assert n == len(by_g[g])
        assert k == max(1, math.ceil(qq * n))
        assert v == by_g[g][k - 1]


def test_group_selection_int_group_keys_walk(spark):
    """Integer group keys go through the same struct-isin walk (the
    literal structs are cast to the frame's exact key type)."""
    rows = [(i % 5, float((i * 13) % 101)) for i in range(500)]
    df = spark.createDataFrame(rows, ["g", "x"])
    res = SEL.group_kth_smallest(df, "x", "g", q=0.5)
    for g, v, k, n in res:
        mine = sorted(x for gg, x in rows if gg == g)
        assert v == mine[k - 1]


def _jobs(spark, name, fn):
    """(fn(), number of Spark jobs fn ran) — counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(name, "selection job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(name))


def test_one_group_face_runs_the_ungrouped_jobs(spark):
    """A one-group group_kth_smallest is the same loop as kth_smallest:
    same answer, same Spark jobs.  One far outlier puts every other
    value into the first pass's bottom bin, so the search needs two
    histogram passes before it walks."""
    rng = random.Random(5)
    vals = [rng.uniform(0.0, 1.0) for _ in range(5000)] + [1e9]
    df = _df(spark, vals, ["only"] * len(vals))
    ((g, *grouped),), g_jobs = _jobs(
        spark, "sel_grouped", lambda: SEL.group_kth_smallest(df, "x", "g")
    )
    plain, p_jobs = _jobs(
        spark, "sel_plain", lambda: SEL.kth_smallest(df, "x")
    )
    k = (len(vals) + 1) // 2
    assert g == "only"
    assert tuple(grouped) == plain == (sorted(vals)[k - 1], k, len(vals))
    assert g_jobs == p_jobs, (g_jobs, p_jobs)
