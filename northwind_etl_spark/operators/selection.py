"""Exact distributed selection (k-th smallest, exact median and
quantiles, plain, per group or weighted) without a sort.

The naive exact median is ORDER BY + OFFSET — a single-task total sort
(the `Exchange SinglePartition` trap global ranking already documents).
`percentile_approx` avoids the sort but is approximate.  This module
gets the EXACT order statistic by the classic multi-pass selection in
bounded memory (Munro & Paterson, 1980): a driver-side binary search
over value space.  Each pass is one histogram aggregation (map-side
combined, 1024 bins per group), the driver keeps only the bin counts,
picks the bin holding the k-th element, and narrows to that bin.  A
double's exponent+mantissa range collapses in a handful of passes
(each divides the candidate interval by 1024); ties collapse the
interval to a point immediately.

One loop, `_select`, serves every public function.  Its rows are
(key, v, w): the key is the group `g` and/or the quantile tag `__t`
(`group_quantiles`/`quantiles` explode a literal array of the q's, one
copy of each row per q), and is empty for the ungrouped
single-statistic faces; `v` is the value and `w` its mass — 1 per row,
or the validated integer weight of `weighted_kth_smallest`.  Every
count is sum(w), and every key advances through the same passes.

Per-pass bounds are plan literals: with several keys, each live key's
lo/width and its chosen bin come from literal maps keyed by the key
struct, looked up by each row's own key; a single key uses the plain
literals.  No pass builds a DataFrame on the driver or joins one in,
and the loop persists nothing: each pass's bin filters sit directly on
the caller's plan, in the same stage as its scan.

Floating-point discipline: rows are filtered by the SAME bin
expression that produced the counts (`floor((v - lo)/width) ==
chosen`, identical literals), never by re-derived `lo + chosen·width`
bounds — product-form bounds and floor classification can round
differently at bin edges, which would desynchronize the rank
bookkeeping from the surviving rows.  The next pass's [lo, hi] is
then the measured min/max of the chosen bin (authoritative, not
arithmetic).  Non-finite values (NaN/±inf) have no place on the
histogram number line; the first-stats job counts them and raises —
the caller decides how to clean them (the ANSI order-statistic
convention of silently sorting NaN greatest is exactly the kind of
silent semantics this repo's oracles exist to preclude).

Per pass: one histogram aggregation that also measures each bin's
value range and approximate distinct count; driver state: at most
1024 histogram rows per key.

Verified: tests/test_selection.py (vs numpy on random data,
all-duplicates, k=1/k=n, negative values, adjacent-double stagnation,
NaN/inf rejection, the quantile convention, per-group and multi-
quantile answers, the early walk forced on and off, NULL group keys,
and the single-group face running the same jobs as the ungrouped
one), tests/test_weighted_resample_golden.py (weighted selection) and
the oracle-checked registry entries that call this module (DuckDB
ORDER BY … OFFSET or row_number — the unambiguous definition of the
k-th element).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.arrays import lit_double_array

_BINS = 1024

# Early-exit threshold (r12 optimization round, guide §1.2 "remove
# unnecessary passes"): once the surviving candidate set's APPROXIMATE
# distinct-value count (HLL, computed inside the same histogram
# aggregation — map-side combinable, no extra job) drops to this, stop
# narrowing and walk the per-distinct-value counts directly.  The walk
# collects one row per distinct value — the same driver cost class as
# the 1024-bin histogram itself — and it is EXACT regardless of the
# estimate's error: an under-estimate only makes that collect a few
# percent larger, an over-estimate only costs one more histogram pass.
# Measured on the sf0.1 bench this removes 1-2 full passes (jobs) from
# every selection call (orders prices resolve after ONE pass instead
# of three).
_WALK_MAX = 2048

# Histogram passes before the loop walks whatever candidates remain
# (the walk is exact at any size; it only collects more rows).
_MAX_PASSES = 12


def _rank(k: int | None, q: float | None):
    """`kfor(key, n)` for the k=/q= faces: k itself, else
    max(1, ceil(q·n)) (the `quantile_disc` convention), else the lower
    median (n + 1) // 2."""
    if k is not None and q is not None:
        raise ValueError("pass k or q, not both")
    if q is not None:
        return lambda _key, n: max(1, math.ceil(q * n))
    if k is None:
        return lambda _key, n: (n + 1) // 2
    return lambda _key, n: k


def kth_smallest(
    df: DataFrame, col: str, k: int | None = None, *, q: float | None = None
) -> tuple[float, int, int]:
    """Exact k-th smallest value of `col` (1-based k).  Exactly one of
    `k` / `q` may be given; default is the lower median.  With `q`,
    k = max(1, ceil(q·n)) — the `quantile_disc` convention.  Returns
    (value, k, n).

    NULLs are excluded (order statistics over present values);
    NaN/±inf raise.  The driver never holds more than the 1024-bin
    histogram.
    """
    ((_key, val, kk, n),) = _select(df, col, _rank(k, q))
    return val, kk, n


def exact_quantile(df: DataFrame, col: str, q: float) -> tuple[float, int, int]:
    """Exact discrete quantile — kth_smallest(q=q)."""
    return kth_smallest(df, col, q=q)


def group_kth_smallest(
    df: DataFrame,
    col: str,
    group_col: str,
    *,
    k: int | None = None,
    q: float | None = None,
) -> list[tuple]:
    """Exact per-group order statistic — every group's k-th smallest
    (or q-quantile, k = max(1, ceil(q·n_g))) WITHOUT a per-group sort.

    All unresolved groups advance together: each pass is ONE histogram
    aggregation over (group, bin), each group's bin reading its own
    lo/width from the pass's literal map.  Groups resolve (and leave
    the scan) as soon as their interval collapses or stagnates, or as
    soon as their surviving distinct-value count is small enough to
    walk exactly (_WALK_MAX).  Group keys must be non-NULL.

    Returns [(group, value, k, n)] sorted by group.  Intended for
    LOW-cardinality groups (priorities, sources, partitions of an
    experiment); for millions of groups use hist_quantiles
    (operators/incremental.py), which trades exactness for one pass.
    """
    rows = _select(df, col, _rank(k, q), group_col=group_col)
    return [(gk, val, kk, n) for (gk,), val, kk, n in rows]


def group_quantiles(
    df: DataFrame, col: str, group_col: str, qs: list[float]
) -> list[tuple]:
    """Exact per-group order statistics for SEVERAL quantiles in ONE
    selection loop (r12 optimization round, guide §1.2: remove whole
    passes before tuning anything else).  Every (group, quantile) pair
    advances together; each pass is still a single (group, q, bin)
    histogram aggregation — for m quantiles this replaces m sequential
    loops with one loop over an m-times-tagged base.  The tag expansion
    multiplies the SCANNED rows by m, but every pass is map-side-
    combined into ≤ groups·m·1024 histogram rows, and the job count —
    the actual latency driver — drops by ~m×.

    Returns [(group, q, value, k, n)] sorted by (group, q), with k/n
    exactly as group_kth_smallest(q=q) would report per quantile.
    """
    rows = _select(df, col, _by_q, group_col=group_col, qs=_checked(qs))
    return [(gk, qq, val, kk, n) for (gk, qq), val, kk, n in rows]


def quantiles(
    df: DataFrame, col: str, qs: list[float]
) -> dict[float, tuple[float, int, int]]:
    """Several exact quantiles of one ungrouped column in ONE loop —
    the single-group face of group_quantiles.  Returns
    {q: (value, k, n)}."""
    rows = _select(df, col, _by_q, qs=_checked(qs))
    return {qq: (val, kk, n) for (qq,), val, kk, n in rows}


def _checked(qs: list[float]) -> list[float]:
    qs = [float(qq) for qq in qs]
    if not qs:
        raise ValueError("qs must be non-empty")
    if len(set(qs)) != len(qs):
        raise ValueError("duplicate quantiles in qs")
    return qs


def _by_q(key: tuple, n: int) -> int:
    """`kfor` of the multi-quantile faces: a key's tag is its q."""
    return max(1, math.ceil(key[-1] * n))


def group_median_mad(df: DataFrame, col: str, group_col: str) -> list[tuple]:
    """Exact per-group robust location/scale — (lower) median and MAD
    (median absolute deviation) — by composing two `group_kth_smallest`
    passes.  Median and MAD have a 50% breakdown point where
    mean/stddev have 0%: a single corrupt shard can move the mean
    arbitrarily but cannot move these, which is why robust z-scores
    (|v − med| > c·MAD) are the outlier rule for dirty corpora.

    Pass 1 selects each group's median; the deviations |v − med| are a
    derived column (med read from a literal map keyed by group, double
    IEEE arithmetic that an oracle can replay exactly); pass 2 selects
    the median deviation.  Everything inherits the selection operator's
    scale shape — one histogram aggregation per pass, driver state
    O(#groups), no per-group sort anywhere.

    Returns [(group, median, mad, n)] sorted by group.
    """
    med = group_kth_smallest(df, col, group_col)
    g = F.col(group_col)
    g_t = df.select(g).schema[0].dataType
    med_of = F.create_map(
        *[x for gk, m, _, _ in med for x in (F.lit(gk).cast(g_t), F.lit(m))]
    )
    dev = (
        df.select(g.alias("g"), F.col(col).cast("double").alias("v"))
        .where(F.col("v").isNotNull())
        .select("g", F.abs(F.col("v") - med_of[F.col("g")]).alias("adev"))
    )
    mad = group_kth_smallest(dev, "adev", "g")
    n_by_g = {gk: n for gk, _, _, n in med}
    med_by_g = {gk: v for gk, v, _, _ in med}
    return sorted(
        (gk, med_by_g[gk], v, n_by_g[gk]) for gk, v, _, n in mad
    )


def weighted_kth_smallest(
    df: DataFrame, col: str, weight_col: str, k: int | None = None
) -> tuple[float, int, int]:
    """Exact WEIGHTED order statistic: the smallest value v with
    Σ_{x ≤ v} w(x) ≥ k, for NON-NEGATIVE INTEGER weights (exactness
    contract: cumulative weights are exact longs — fractional weights
    would reintroduce summation-order float drift).  Default k is the
    weighted lower median, k = (W + 1) DIV 2.  Returns (value, k, W).

    The same selection loop as kth_smallest with the weight as each
    row's mass.  Zero-weight rows carry no mass and are dropped up
    front; negative OR fractional weights raise — both are validated
    on the RAW column before the long cast, which would otherwise
    truncate 0.9 to zero mass and -0.5 past the negative check
    (ADVICE r08); NULL values or weights are excluded.
    """
    ((_key, val, kk, n),) = _select(
        df, col, _rank(k, None), weight_col=weight_col
    )
    return val, kk, n


def _select(
    df: DataFrame,
    col: str,
    kfor,
    *,
    group_col: str | None = None,
    weight_col: str | None = None,
    qs: list[float] | None = None,
) -> list[tuple]:
    """The selection loop behind every public function.  Rows are keyed
    by `by`: the group `g` (group faces) and/or the quantile tag `__t`
    (multi-quantile faces: one copy of each row per q, tagged with q).
    With neither there is one key, (), and every aggregation is global.
    For each key it finds the value holding the k-th unit of mass,
    where `kfor(key, n)` gives k from the key's total mass n.  Returns
    [(key, value, k, n)] sorted by key.
    """
    v, w, badw = F.col("v"), F.col("w"), F.col("badw")
    if weight_col is None:
        mass, bad_mass, keep = F.lit(1).cast("long"), F.lit(False), v.isNotNull()
    else:
        # validate the RAW weight, not its long cast: the cast turns
        # 0.9 into zero mass (dropped) and -0.5 into 0 (past a
        # negative check), breaking the non-negative-INTEGER contract
        raw = F.col(weight_col)
        mass = raw.cast("long")
        bad_mass = (raw < 0) | (
            raw.isNotNull() & (raw.cast("double") != mass.cast("double"))
        )
        keep = v.isNotNull() & w.isNotNull() & ((w != 0) | badw)
    by, cols = [], []
    if group_col is not None:
        by.append("g")
        cols.append(F.col(group_col).alias("g"))
    if qs is not None:
        # one copy of every row per quantile, tagged with its q
        by.append("__t")
        cols.append(F.explode(lit_double_array(qs)).alias("__t"))
    base = df.select(
        *cols, F.col(col).alias("v"), mass.alias("w"), bad_mass.alias("badw")
    ).where(keep)

    def key_of(r) -> tuple:
        return tuple(r[c] for c in by)

    # ONE first-stats job: each key's mass, range, distinct estimate,
    # and the non-finite and bad-weight census.  (A global aggregate
    # returns one all-NULL row on empty input.)
    nonfinite = F.isnan(v) | (v == float("inf")) | (v == float("-inf"))
    first = [
        r
        for r in base.groupBy(*by)
        .agg(
            F.sum(w).alias("n"),
            F.min(v).alias("lo"),
            F.max(v).alias("hi"),
            F.approx_count_distinct(v).alias("nd"),
            F.sum(nonfinite.cast("long")).alias("bad"),
            F.sum(badw.cast("long")).alias("badw"),
        )
        .collect()
        if r.n is not None
    ]
    if not first:
        raise ValueError(
            f"selection of {col!r} on an empty relation (no non-NULL"
            f"{' non-zero-weight' if weight_col else ''} values)"
        )
    if group_col is not None and any(r.g is None for r in first):
        # a NULL key never equals a map or walk key (NULL = x is NULL),
        # so it would surface as an AssertionError deep in the loop
        raise ValueError(
            f"NULL group key in {group_col!r} — selection groups must be"
            " non-null (filter or coalesce the group column first)"
        )
    if any(r.badw for r in first):
        raise ValueError(
            f"{sum(r.badw for r in first)} negative or fractional"
            f" weight(s) in {weight_col!r} — the exactness contract is"
            " non-negative INTEGER weights (negative makes cumulative"
            " weight non-monotone; fractional would be silently"
            " truncated by the long cast)"
        )
    if any(r.bad for r in first):
        groups = sorted({r.g for r in first if r.bad}) if group_col else None
        raise ValueError(
            f"non-finite value(s) in {col!r}"
            f"{f' for groups {groups}' if group_col else ''}; filter"
            " NaN/inf first — they have no place on the histogram number"
            " line"
        )

    state = {}
    for r in first:
        kk = kfor(key_of(r), r.n)
        if not 1 <= kk <= r.n:
            raise ValueError(
                f"k={kk} outside 1..{r.n}"
                f"{f' for group {r.g!r}' if group_col else ''}"
            )
        state[key_of(r)] = {
            "k": kk, "n": r.n, "rem": kk, "nd": r.nd,
            "lo": float(r.lo), "hi": float(r.hi), "done": None,
        }

    # Per-key values enter the plan as literals.  Several keys read
    # theirs from a literal map keyed by struct(by), each key cast to
    # the frame's own struct type so field types match exactly (the
    # values were collected from that very column, so the cast is
    # lossless); keys are non-NULL, so struct equality is exact.  A
    # single key (every ungrouped face) takes plain literals — the
    # constants Catalyst would fold its map to, without the driver cost
    # of building the map.
    single = len(state) == 1
    if not single:
        key_col = F.struct(*by)
        key_t = base.select(key_col).schema[0].dataType
        lit_key = {
            kk: F.struct(*[F.lit(x).alias(c) for x, c in zip(kk, by)]).cast(key_t)
            for kk in state
        }

    def per_key(values: dict) -> Column:
        """Each row's own entry of {key: value}; NULL for rows whose
        key is not in it."""
        if single:
            return F.lit(*values.values())
        return F.create_map(
            *[x for kk, val in values.items() for x in (lit_key[kk], F.lit(val))]
        )[key_col]

    def walk(frame: DataFrame, keys: list) -> None:
        """Resolve `keys` by walking their per-distinct-value masses —
        `frame` must still CONTAIN their rows."""
        if not keys:
            return
        if not single:
            # one flat membership test, not an OR-chain of per-key
            # conjunctions (>10 foldable literals fold to an InSet)
            frame = frame.where(key_col.isin([lit_key[kk] for kk in keys]))
        per = {}
        for r in frame.groupBy(*by, "v").agg(F.sum(w).alias("m")).collect():
            per.setdefault(key_of(r), []).append((r.v, r.m))
        for kk in keys:
            s = state[kk]
            cum = 0
            for val, m in sorted(per.get(kk, [])):
                cum += m
                if cum >= s["rem"]:
                    s["done"] = float(val)
                    break
            if s["done"] is None:  # pragma: no cover
                raise AssertionError("selection invariant violated")

    # Keys whose whole value set is already walkable resolve NOW —
    # zero histogram passes (the lag/price columns with a few thousand
    # distinct doubles end here after ONE first-stats job).
    walk(base, [kk for kk, s in state.items() if s["nd"] <= _WALK_MAX])

    cur = base
    for _ in range(_MAX_PASSES):
        bounds, stagnant = {}, []
        for kk, s in state.items():
            if s["done"] is not None:
                continue
            if s["lo"] == s["hi"]:
                s["done"] = s["lo"]
                continue
            width = (s["hi"] - s["lo"]) / _BINS
            if width == 0 or not math.isfinite(width):
                stagnant.append(kk)  # the interval can no longer split
            else:
                bounds[kk] = (s["lo"], width)
        walk(cur, stagnant)
        if not bounds:
            break
        lo = per_key({kk: lw[0] for kk, lw in bounds.items()})
        width = per_key({kk: lw[1] for kk, lw in bounds.items()})
        # THE bin expression — used for both counting and filtering,
        # so classification and survival can never disagree.  Rows of
        # keys that left the search fall into a NULL bin no pass reads.
        b = F.least(
            F.lit(_BINS - 1),
            F.greatest(F.lit(0), F.floor((v - lo) / width).cast("int")),
        )
        # ONE job per pass: per-(key, bin) mass AND measured value
        # range — the chosen bin's min/max are the key's next bounds,
        # so no separate survivors scan is needed — plus the bin's
        # approximate distinct count for the early walk.
        stats = {}
        for r in (
            cur.groupBy(*by, b.alias("b"))
            .agg(
                F.sum(w).alias("m"),
                F.min(v).alias("lo"),
                F.max(v).alias("hi"),
                F.approx_count_distinct(v).alias("nd"),
            )
            .collect()
        ):
            stats.setdefault(key_of(r), {})[r.b] = (
                r.m, float(r.lo), float(r.hi), r.nd
            )
        chosen, walkable = {}, []
        for kk in bounds:
            s, hist = state[kk], stats[kk]
            cum = 0
            for i in sorted(hist):
                if cum + hist[i][0] >= s["rem"]:
                    break
                cum += hist[i][0]
            chosen[kk] = i
            s["rem"] -= cum
            _m, new_lo, new_hi, nd = hist[i]
            # float stagnation OR few distinct survivors: walk now
            if (new_lo, new_hi) == (s["lo"], s["hi"]) or nd <= _WALK_MAX:
                walkable.append(kk)
            s["lo"], s["hi"] = new_lo, new_hi
        cur = cur.where(b == per_key(chosen))
        walk(cur, walkable)

    # passes exhausted: finish the rest — all still in cur, since they
    # were in its last pass's bounds
    walk(cur, [kk for kk, s in state.items() if s["done"] is None])
    return sorted(
        (kk, s["done"], s["k"], s["n"]) for kk, s in state.items()
    )
