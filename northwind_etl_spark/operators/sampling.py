"""Dataset splitting and sampling — the selection operators a
training-data pipeline runs after dedup/quality filtering.

- ``hash_split``: deterministic, engine-independent train/eval split by
  md5 of a key column.  No RNG, no state: the same row lands in the
  same split on any engine, any partitioning, any rerun — exactly what
  reproducible dataset builds need (and SQL-oracle-checkable).
- ``stratified_sample``: per-stratum Bernoulli sampling via
  ``sampleBy`` with a fixed seed — balanced subsets (e.g. per-language)
  without a shuffle; fractions hold in expectation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def split_bucket_expr(key: Column | str, *, buckets: int = 100) -> Column:
    """Stable bucket in [0, buckets): first 8 hex chars of md5(key) mod
    buckets.  conv() of 8 hex chars fits in a long — no overflow."""
    c = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
        % buckets
    ).alias("split_bucket")


def hash_split(
    df: DataFrame, key: str, *, train_pct: int = 80, buckets: int = 100
) -> DataFrame:
    """Label every row train/eval by its stable hash bucket."""
    bucket = split_bucket_expr(key, buckets=buckets)
    return df.withColumn("split_bucket", bucket).withColumn(
        "split",
        F.when(F.col("split_bucket") < train_pct, F.lit("train")).otherwise(
            F.lit("eval")
        ),
    )


def stratified_sample(
    df: DataFrame, stratum_col: str, fractions: dict[str, float], *, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sample (map-only, no shuffle)."""
    return df.sampleBy(stratum_col, fractions, seed=seed)


def stratified_sample_deterministic(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    *,
    key: str,
    salt: str = "strat",
    resolution: int = 1_000_000,
) -> DataFrame:
    """Per-stratum Bernoulli sample with DETERMINISTIC md5 inclusion —
    the weighted_sample hash→uniform trick with a per-stratum constant
    probability: keep ⇔ (md5(salt|key) mapped onto [0, 1)) <
    fractions[stratum].  Inclusion is a pure function of (salt, key,
    stratum), so the sample is reproducible across engines, runs, and
    partitionings, and the SAMPLE ITSELF is SQL-oracle-checkable —
    unlike sampleBy (stratified_sample above), whose RNG stream is
    engine-specific and pins only the sample's size.  Rows whose
    stratum is absent from `fractions` are dropped (sampleBy
    semantics: NULL probability compares false).  Map-only, no
    shuffle; the salt decorrelates this sample from any other md5
    sampler sharing the key column."""
    kc = F.concat(F.lit(f"{salt}|"), F.col(key).cast("string"))
    u = (
        F.conv(F.substring(F.md5(kc), 1, 8), 16, 10).cast("long")
        % resolution
    ) / F.lit(float(resolution))
    p = F.lit(None).cast("double")
    for s_val, f_val in fractions.items():
        p = F.when(F.col(stratum_col) == s_val, F.lit(float(f_val))).otherwise(p)
    return df.where(u < p)


def weighted_sample(
    df: DataFrame,
    key: str,
    weight: Column,
    *,
    resolution: int = 1_000_000,
) -> DataFrame:
    """Deterministic per-row Bernoulli sampling with a ROW-DEPENDENT
    keep probability — the quality-weighted downsampling step of a
    training-data pipeline (keep pristine documents at p≈1, sample
    boilerplate-heavy ones at p≈0.1) without any RNG.

    keep ⇔ (md5-hash of key mapped uniformly onto [0, 1)) < weight.
    The hash→uniform map reuses split_bucket_expr's md5/conv trick at
    `resolution` buckets, so inclusion is a pure function of (key,
    weight): reproducible on any engine, any partitioning, any rerun,
    and SQL-oracle-checkable — DuckDB computes the identical md5
    arithmetic.  Map-only, no shuffle, no state; at 100 TB this is a
    scan with a codegen predicate.

    `weight` must evaluate into [0, 1]; rows with NULL weight are
    dropped (NULL comparison is false in both engines).
    """
    u = (
        F.conv(
            F.substring(F.md5(F.col(key).cast("string")), 1, 8), 16, 10
        ).cast("long")
        % resolution
    ) / F.lit(float(resolution))
    return df.where(u < weight)


def group_split(
    df: DataFrame,
    group: Column | str,
    *,
    train_pct: int = 80,
    buckets: int = 100,
) -> DataFrame:
    """LEAKAGE-SAFE train/eval split: the md5 bucket is computed on the
    GROUP key (a user id, a domain, a duplicate-cluster key), so every
    row of a group lands on the same side BY CONSTRUCTION — the
    GroupKFold discipline that keeps near-identical rows from straddling
    train and eval and inflating benchmark scores (the standard
    contamination channel hash_split-by-row leaves open).

    Scale shape: identical to hash_split — one map-side expression, no
    shuffle, no state; determinism and cross-engine replay come from
    the same md5-hex-prefix contract as split_bucket_expr."""
    g = F.col(group) if isinstance(group, str) else group
    bucket = split_bucket_expr(g.cast("string"), buckets=buckets)
    return df.withColumn("split_bucket", bucket).withColumn(
        "split",
        F.when(F.col("split_bucket") < train_pct, F.lit("train")).otherwise(
            F.lit("eval")
        ),
    )


def group_kfold(df: DataFrame, group: Column | str, *, k: int = 5) -> DataFrame:
    """GroupKFold assignment: fold i in [0, k) from the group key's md5
    bucket, so all rows of a group share one fold.  Map-only."""
    g = F.col(group) if isinstance(group, str) else group
    return df.withColumn(
        "fold", split_bucket_expr(g.cast("string"), buckets=k).cast("int")
    )


def group_sample(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    *,
    k: int = 20,
) -> DataFrame:
    """Deterministic k-per-group sample — exactly min(k, |group|) rows
    per group, selected by ranking md5(id) (id tie-break), so the
    sample is a pure function of the data: same rows on any engine,
    any partitioning, any rerun.  The balanced-subset selector (k docs
    per source/language) a corpus build runs after quality filtering.

    Implemented as the PLAIN row_number window: Spark ≥3.5 plans a
    `row_number() <= k` filter with WindowGroupLimit(Partial) below
    the exchange — every map task keeps only its local k per group
    before anything shuffles, so a 10⁹-row group never sorts whole in
    one task.  This replaces the r06 two-phase salted window (phase 1
    per (group, hash-salt) slice, phase 2 over survivors), which was
    measured 2.3× SLOWER on a 24 M-row hot group (14.3 s vs 6.2 s —
    the manual mitigation re-derives exactly what WindowGroupLimit
    already did; PLANS.md "group_topk probe").  Results are identical
    by the same lattice argument both directions — the oracle has
    always been this single-window definition, and
    tests/test_cms.py pins equality and partitioning invariance.
    Implemented BY delegating to sort.py::group_topk (md5-expression
    ordering), so tests/test_operators.py's Partial-WindowGroupLimit
    plan assertion on group_topk covers this path too —
    tests/test_cms.py additionally plan-asserts the sampler's own
    built plan (expression ordering must not defeat the rewrite).
    """
    from .sort import group_topk

    h = F.md5(F.col(id_col).cast("string"))
    return group_topk(
        df.select(*group_cols, id_col),
        group_cols,
        [h, F.col(id_col)],
        k,
        rank_col="sample_rank",
    )


def mixture_sample(
    df: DataFrame,
    source_col: str,
    id_col: str,
    *,
    shares: dict[str, int],
    salt_buckets: int = 8,
) -> DataFrame:
    """Deterministic data-mixing sample: the LARGEST subcorpus whose
    source composition is exactly the integer ratio `shares`
    (e.g. {'web': 4, 'code': 2, 'books': 1}) — the mixture step a
    training-corpus build runs after quality/dedup to hit a target
    data diet.

    Exact by integer arithmetic, no floats anywhere: with w_s the
    share and n_s the source's row count, the number of whole mixture
    units that fit is m = min_s (n_s DIV w_s) and each source
    contributes k_s = w_s * m rows — so k_s <= n_s always, the
    realized ratio is EXACTLY w_a : w_b, and any larger subcorpus
    would break the ratio (m is tight by the pigeonhole at the
    arg-min source).  Sources not in `shares` are excluded; a weighted
    source missing from the data forces m = 0 (an impossible mix is
    surfaced as emptiness, never silently re-weighted).

    Row selection within a source is the same pure-function-of-data
    rule as `group_sample`: rank by (md5(id), id), take the first k_s
    — and the ranking reuses the two-phase salted discipline (rank
    within (source, hash-salt) capped at k_s, then rank the
    <= salt_buckets*k_s survivors), so a billion-row source is ranked
    by `salt_buckets` tasks, not one.  Everything else is driver-free:
    counts, m, and quotas stay in-plan as 1-row / |sources|-row
    broadcasts.  Returns (id, source, sample_rank); the oracle replays
    the single-window form of the identical arithmetic.
    """
    from pyspark.sql import Window

    if not shares:
        raise ValueError("shares must name at least one source")
    if any(int(w) < 1 for w in shares.values()):
        raise ValueError("shares must be positive integers")
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(s, int(w)) for s, w in sorted(shares.items())],
        f"{source_col} string, __w long",
    )
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    weighted = counts.join(F.broadcast(wdf), source_col)
    # m = whole mixture units; a weighted source absent from the data
    # contributes n_s = 0 via the right join -> m = 0.
    m = (
        wdf.join(counts, source_col, "left")
        .select(
            F.expr("coalesce(__n, CAST(0 AS LONG)) DIV __w").alias("__u")
        )
        .agg(F.min("__u").alias("__m"))
    )
    quota = weighted.crossJoin(F.broadcast(m)).select(
        source_col, (F.col("__w") * F.col("__m")).alias("__k")
    )
    h = F.md5(F.col(id_col).cast("string"))
    base = df.join(F.broadcast(quota), source_col).select(
        source_col, F.col(id_col), F.col("__k"), h.alias("__h")
    )
    salted = base.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("__h")), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy(source_col, "__salt").orderBy("__h", id_col)
    survivors = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= F.col("__k"))
        .drop("__r1", "__salt")
    )
    w2 = Window.partitionBy(source_col).orderBy("__h", id_col)
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w2))
        .where(F.col("sample_rank") <= F.col("__k"))
        .select(id_col, source_col, F.col("sample_rank").cast("int"))
    )


def mixture_sample_by_budget(
    df: DataFrame,
    source_col: str,
    id_col: str,
    weight_col: str,
    *,
    shares: dict[str, int],
    salt_buckets: int = 8,
) -> DataFrame:
    """Token-budget data mixing — `mixture_sample` with the share unit
    changed from rows to a per-row weight (token count, byte size):
    per-source budget k_s = w_s * m with m = min_s (W_s DIV w_s) over
    total weights W_s, and a source contributes its (md5(id), id)-order
    PREFIX of documents whose cumulative weight stays within k_s (the
    greedy prefix rule of packing.py — realized weight never exceeds
    the budget; the ratio is exact in budget and approximate only at
    the granularity of one document, which is the honest best a
    row-atomic sampler can do).

    Weights must be nonnegative; NULL weights count as 0 (a weightless
    row is free to include).  Same engine shape as mixture_sample: two
    tiny in-plan broadcasts + ONE keyed window pass — the cumulative
    sum and the rank come from the same window, and the two-phase salt
    trick is NOT applicable to a running sum, so this variant carries
    the documented keyed-window hot-source ceiling (a source's rows
    sort in one task; use mixture_sample for row-unit mixes of very
    hot sources).  Returns (id, source, weight, cum_weight).
    """
    from pyspark.sql import Window

    if not shares:
        raise ValueError("shares must name at least one source")
    if any(int(w) < 1 for w in shares.values()):
        raise ValueError("shares must be positive integers")
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(s, int(w)) for s, w in sorted(shares.items())],
        f"{source_col} string, __w long",
    )
    wt = F.coalesce(F.col(weight_col).cast("long"), F.lit(0))
    totals = df.groupBy(source_col).agg(F.sum(wt).alias("__t"))
    m = (
        wdf.join(totals, source_col, "left")
        .select(
            F.expr("coalesce(__t, CAST(0 AS LONG)) DIV __w").alias("__u")
        )
        .agg(F.min("__u").alias("__m"))
    )
    quota = wdf.crossJoin(F.broadcast(m)).select(
        source_col, (F.col("__w") * F.col("__m")).alias("__k")
    )
    base = df.join(F.broadcast(quota), source_col).select(
        source_col,
        F.col(id_col),
        wt.alias("weight"),
        F.col("__k"),
        F.md5(F.col(id_col).cast("string")).alias("__h"),
    )
    w = Window.partitionBy(source_col).orderBy("__h", id_col)
    return (
        base.withColumn("cum_weight", F.sum("weight").over(w))
        .where(F.col("cum_weight") <= F.col("__k"))
        .select(id_col, source_col, "weight", "cum_weight")
    )


def weighted_reservoir(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    k: int,
    *,
    salt: str = "wres",
) -> DataFrame:
    """Deterministic weighted reservoir sample (Efraimidis–Spirakis
    2006, A-Res): each row draws u_i from a keyed md5 map and the k
    rows with the largest u_i^(1/w_i) are the sample — inclusion
    probability proportional to weight, one pass, mergeable (the top-k
    of per-partition top-k's IS the global top-k, the group_topk
    argument).

    Exactness: maximizing u^(1/w) ≡ maximizing ln(u)/w, so the sort
    key is ln(u_q)/w with the ln taken from the SAME frozen 1024-cell
    DECIMAL grid as the DP noise map (functions/lnlut.py — zero
    runtime libm): u = (h + 0.5)/2^32 from the md5 map, grid index
    (1024·h + 512) DIV 2^32 in exact integer arithmetic, and the key
    is ONE correctly-rounded double division of the exact decimal ln
    by the integer weight — bit-identical on any IEEE engine, so the
    oracle replays the full sample, keys included.  Quantizing u onto
    1024 cells perturbs inclusion odds by at most one cell width
    (the dp_noisy_counts argument); ties across equal grid cells
    break by (key DESC, id ASC), a total order.

    Weights must be POSITIVE integers (the weighted_kth_smallest
    contract): zero-weight rows can never be sampled and are dropped;
    negative or fractional weights raise upstream of the plan.

    100 TB shape: map-only key computation + TakeOrderedAndProject —
    no shuffle at all beyond the top-k's bounded exchange.
    """
    from ..functions.lnlut import laplace_ln_lut_col

    if k < 1:
        raise ValueError("k must be >= 1")
    w = F.col(weight_col)
    ident = F.col(key_col)
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", ident.cast("string"), F.lit(salt))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    g = ((h * F.lit(1024) + F.lit(512)) - (h * F.lit(1024) + F.lit(512))
         % F.lit(4294967296)) / F.lit(4294967296)
    lut = laplace_ln_lut_col()
    key = F.element_at(lut, g.cast("int") + F.lit(1)).cast("double") / w.cast(
        "double"
    )
    return (
        df.where(w.isNotNull() & (w > 0))
        .select(
            ident.alias("sample_id"),
            w.cast("long").alias("weight"),
            key.alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), F.asc("sample_id"))
        .limit(k)
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    n: int,
    *,
    value_decimals: int = 2,
) -> DataFrame:
    """Neyman-optimal stratified sample allocation: n_h ∝ N_h·S_h
    (stratum size × stratum std — Neyman 1934), the allocation that
    minimizes the variance of the stratified mean at fixed total n.
    Returns (stratum, n_rows, std, alloc_share, n_alloc) with
    Σ n_alloc == n by largest-remainder rounding (ties to stratum
    name — a total order).

    Exactness: per-stratum sums are exact decimals (the value column
    is quantized to `value_decimals` first — one correctly-rounded
    double→decimal cast, the l-diversity binning move); mean/var/std
    follow the corr/OLS recipe (exact sums cast to double ONCE, then
    only correctly-rounded IEEE ops, greatest(var, 0) against the
    one-ulp artifact).  N_h·S_h is re-quantized to DECIMAL(28,6) — one
    c.r. rounding — so the ACROSS-STRATA total is an order-independent
    decimal sum, then shares and remainders are fixed double chains.
    Every window runs over the |strata|-row aggregate (bounded; the
    plan lint's aggregate-child rule).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    from pyspark.sql import Window

    dec = f"decimal(24,{value_decimals})"
    v = F.col(value_col).cast(dec)
    per = df.where(F.col(value_col).isNotNull()).groupBy(
        F.col(stratum_col).alias("stratum")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(v).alias("__s1"),
        F.sum(v * v).alias("__s2"),
    )
    n_d = F.col("n_rows").cast("double")
    mean = F.col("__s1").cast("double") / n_d
    var = F.col("__s2").cast("double") / n_d - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    per = per.withColumn(
        "__nhsh", (n_d * std).cast("decimal(28,6)")
    ).withColumn("std", std)
    w_all = Window.partitionBy()
    total = F.sum("__nhsh").over(w_all)
    # Degenerate guard (ADVICE r09): if EVERY stratum has zero std the
    # Neyman weights all vanish (total == 0) and the share would be
    # 0/0 = NaN, silently breaking the sum(n_alloc) == n invariant.
    # Fall back to proportional-to-size allocation — the textbook
    # limit when the variance signal carries no information.
    total_rows = F.sum("n_rows").over(w_all)
    share = F.when(
        total == F.lit(0),
        n_d / total_rows.cast("double"),
    ).otherwise(F.col("__nhsh").cast("double") / total.cast("double"))
    per = per.withColumn("alloc_share", share)
    base = F.floor(F.lit(float(n)) * F.col("alloc_share")).cast("long")
    rem = F.lit(float(n)) * F.col("alloc_share") - base.cast("double")
    per = (
        per.withColumn("__base", base)
        .withColumn("__rem", rem)
        .withColumn("__left", F.lit(n) - F.sum("__base").over(w_all))
        .withColumn(
            "__rk",
            F.row_number().over(
                w_all.orderBy(F.desc("__rem"), F.asc("stratum"))
            ),
        )
    )
    return per.select(
        "stratum",
        "n_rows",
        "std",
        "alloc_share",
        (
            F.col("__base")
            + F.when(F.col("__rk") <= F.col("__left"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_alloc"),
    ).orderBy("stratum")


def largest_remainder_allocation(
    df: DataFrame,
    class_col: str,
    weight_col: str,
    *,
    budget_num: int = 1,
    budget_den: int = 2,
) -> DataFrame:
    """Hamilton largest-remainder apportionment of an integer budget
    across classes, proportional to each class's total weight — the
    budget-split step of a mixture plan once eligibility filtering
    has decided WHAT may be sampled (license gates, dedup verdicts).
    Complements mixture_sample_by_budget (which picks the concrete
    row prefix for GIVEN per-class budgets) and neyman_allocation
    (variance-optimal, needs per-stratum stds): largest-remainder is
    the proportional splitter with the smallest worst-case deviation
    that still sums EXACTLY to the budget.

    The budget itself is scale-free and in-plan: B = (W · budget_num)
    DIV budget_den of the total weight W (default half) — no driver
    scalar, the q11/q22 1-row broadcast pattern.  All integer
    arithmetic: base_c = (B·w_c) DIV W, remainders rank by
    ((B·w_c) mod W) DESC with the class name as tie-break, and the
    first (B − Σ base) classes get +1.  Σ final_alloc == B by
    construction (asserted by the planted tests, recomputable by any
    consumer from the released columns).

    Returns (class_col, weight, base_alloc, extra, final_alloc)
    ordered by class.  Scale shape: one hash agg to |classes| rows;
    the ranking window runs over the class list, never the data.
    """
    from pyspark.sql import Window

    from ..cache import persist_stage

    # TWO consumers hang off the per-class aggregate (the budget total
    # and the quota projection) — persist so the upstream corpus scan
    # runs once, not once per branch
    per = persist_stage(
        df.groupBy(F.col(class_col).alias("clazz")).agg(
            F.sum(F.col(weight_col).cast("long")).alias("__w")
        )
    )
    # __wt/__bt, not w/W: Spark resolution is case-insensitive by
    # default, so a bare W beside w is an AMBIGUOUS_REFERENCE
    tot = per.agg(
        F.sum("__w").alias("__wt"),
        F.expr(f"(SUM(__w) * {budget_num}) DIV {budget_den}").alias("__bt"),
        F.max("__w").alias("__wmax"),
    )
    # overflow guard: the worst per-class product is __bt * __wmax;
    # once it would exceed int64 (B ~ W/2, so W past ~4.3e9 trips it)
    # raise in-plan on BOTH engines (oracle-mirrored) instead of
    # letting each fail with its own engine-specific overflow error.
    # Folded into the consumed __bt (the Catalyst-pruning lesson).
    bt_checked = F.when(
        F.col("__bt")
        <= F.expr("9223372036854775807L DIV GREATEST(__wmax, 1L)"),
        F.col("__bt"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "largest_remainder_allocation: budget*weight exceeds"
                    " int64 (total weight "
                ),
                F.col("__wt").cast("string"),
                F.lit(") — rescale weights before apportioning"),
            )
        )
    )
    quoted = per.join(
        F.broadcast(tot.select(bt_checked.alias("__bt"), "__wt"))
    ).select(
        "clazz",
        "__w",
        "__bt",
        F.expr("(__bt * __w) DIV __wt").alias("__base"),
        F.expr("(__bt * __w) % __wt").alias("__rem"),
    )
    rk = Window.orderBy(F.desc("__rem"), F.asc("clazz"))
    spill = Window.partitionBy()
    ranked = quoted.withColumn("__rk", F.row_number().over(rk)).withColumn(
        "__left", F.col("__bt") - F.sum("__base").over(spill)
    )
    return ranked.select(
        F.col("clazz").alias(class_col),
        F.col("__w").alias("weight"),
        F.col("__base").cast("long").alias("base_alloc"),
        F.when(F.col("__rk") <= F.col("__left"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("extra"),
        (
            F.col("__base")
            + F.when(F.col("__rk") <= F.col("__left"), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("final_alloc"),
    ).orderBy(class_col)


def split_balance_z(
    df: DataFrame,
    key: str,
    *,
    group_col: str | None = None,
    train_pct: int = 50,
    buckets: int = 100,
) -> DataFrame:
    """Sample-ratio-mismatch (SRM) check for the md5 hash split — the
    first gate every experiment readout runs: with an intended
    train_pct/100 split, is the OBSERVED assignment consistent with
    the binomial expectation?  z = (n_train − N·p) / sqrt(N·p·(1−p));
    |z| > 3 flags the split (a biased key, a filtered funnel, a
    collision) before any downstream metric is trusted.  Exact long
    counts, one division + one sqrt — cross-engine identical; grouped
    by `group_col` when given (per-segment SRM), else one row.

    Scale shape: one hash aggregation over the split flags; the z
    arithmetic runs on |groups| rows."""
    p = train_pct / 100.0
    flagged = hash_split(df, key, train_pct=train_pct, buckets=buckets)
    keys = [group_col] if group_col else []
    agg = flagged.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
    )
    z = (
        F.col("n_train").cast("double") - F.col("n_total").cast("double") * p
    ) / F.sqrt(F.col("n_total").cast("double") * p * (1.0 - p))
    out = agg.select(
        *keys,
        "n_total",
        "n_train",
        (F.col("n_total") - F.col("n_train")).cast("long").alias("n_eval"),
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) > 3.0).alias("srm_flag"),
    )
    return out.orderBy(*keys) if keys else out


def floored_allocation(
    df: DataFrame,
    class_col: str,
    weight_col: str,
    *,
    floor_pct: int = 5,
    budget_num: int = 1,
    budget_den: int = 2,
) -> DataFrame:
    """Hamilton apportionment WITH per-class floors — the mixture-
    schedule shape real data plans use: every source is guaranteed
    floor_pct% of the budget (low-resource languages never starve),
    and the REMAINDER is split proportionally by largest-remainder.
    B = (W·budget_num) DIV budget_den as in
    largest_remainder_allocation; floor_c = (B·floor_pct) DIV 100 per
    class; the leftover B − n_classes·floor_c apportions over the
    weights via the same exact-integer Hamilton rule (inheriting its
    in-plan int64 overflow guard).  floor_pct·n_classes must stay
    <= 100 — validated in-plan through the consumed floor.

    Returns (class_col, weight, floor_alloc, prop_alloc, final_alloc)
    ordered by class; Σ final_alloc == B by construction."""
    from ..cache import persist_stage

    per = persist_stage(
        df.groupBy(F.col(class_col).alias("clazz")).agg(
            F.sum(F.col(weight_col).cast("long")).alias("__w")
        )
    )
    tot = per.agg(
        F.sum("__w").alias("__wt"),
        F.expr(f"(SUM(__w) * {budget_num}) DIV {budget_den}").alias("__bt"),
        F.count(F.lit(1)).alias("__nc"),
    )
    # per-class floor + in-plan feasibility check (folded into the
    # consumed floor value, the guard-pruning lesson)
    floor_c = F.expr(f"(__bt * {floor_pct}) DIV 100")
    feasible = F.lit(floor_pct) * F.col("__nc") <= F.lit(100)
    floor_checked = F.when(feasible, floor_c).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"floored_allocation: floor_pct={floor_pct} x "),
                F.col("__nc").cast("string"),
                F.lit(" classes exceeds 100% of the budget"),
            )
        )
    )
    spec = tot.select(
        "__bt",
        floor_checked.alias("__floor"),
        (F.col("__bt") - floor_checked * F.col("__nc")).alias("__rest"),
    )
    # Hamilton over the REMAINDER: same integer quota/remainder rule
    # as largest_remainder_allocation, budget = __rest
    from pyspark.sql import Window

    wtot = per.agg(
        F.sum("__w").alias("__wt"), F.max("__w").alias("__wmax")
    )
    quoted = per.join(F.broadcast(spec)).join(F.broadcast(wtot)).select(
        "clazz",
        "__w",
        "__floor",
        "__bt",
        F.when(
            F.col("__rest")
            <= F.expr("9223372036854775807L DIV GREATEST(__wmax, 1L)"),
            F.col("__rest"),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "floored_allocation: rest*weight exceeds int64"
                        " (total weight "
                    ),
                    F.col("__wt").cast("string"),
                    F.lit(") — rescale weights before apportioning"),
                )
            )
        )
        .alias("__rb"),
        F.col("__wt"),
    )
    quoted = quoted.select(
        "clazz",
        "__w",
        "__floor",
        "__bt",
        F.expr("(__rb * __w) DIV __wt").alias("__base"),
        F.expr("(__rb * __w) % __wt").alias("__rem"),
        "__rb",
    )
    rk = Window.orderBy(F.desc("__rem"), F.asc("clazz"))
    spill = Window.partitionBy()
    ranked = quoted.withColumn("__rk", F.row_number().over(rk)).withColumn(
        "__left", F.col("__rb") - F.sum("__base").over(spill)
    )
    extra = F.when(F.col("__rk") <= F.col("__left"), F.lit(1)).otherwise(
        F.lit(0)
    )
    return ranked.select(
        F.col("clazz").alias(class_col),
        F.col("__w").alias("weight"),
        F.col("__floor").cast("long").alias("floor_alloc"),
        (F.col("__base") + extra).cast("long").alias("prop_alloc"),
        (F.col("__floor") + F.col("__base") + extra)
        .cast("long")
        .alias("final_alloc"),
    ).orderBy(class_col)
