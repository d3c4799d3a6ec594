"""Feature-engineering operators for ML data prep: exact
equal-frequency discretization (quantile binning) built on the
repo's scalable total-order machinery.

The reference has no feature-prep surface (it is a 3-script pandas
ETL, `/root/reference/etl_orders.py:7-137` is the closest analogue);
this module belongs to the north-star LLM/ML-pipeline family next to
`text.py::hashed_features` (hashing-trick features) and
`sampling.py` (deterministic splits).

Design note — why rank-then-divide and not boundary lookup: the
textbook implementation computes n_bins-1 quantile BOUNDARIES and
broadcasts them, but exact boundaries each cost a multi-pass
selection (operators/selection.py), and ties ON a boundary make bin
populations ambiguous.  Ranking over a TOTAL order (value, id) makes
the bin assignment a pure function of the rank — bin sizes are exact
to ±1 BY CONSTRUCTION, ties broken deterministically — and the rank
itself comes from `ranking.global_row_number`: range-partition, sort
WITHIN partitions, add per-partition offsets.  No global
single-partition sort anywhere; the only driver state is the
partition-count list.  This is ntile() semantics at scale (and the
oracle replays it with literal NTILE-free ROW_NUMBER arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quantile_bin(
    df: DataFrame,
    col: str,
    id_col: str,
    *,
    n_bins: int,
    bin_col: str = "bin",
) -> DataFrame:
    """Append `bin_col` in [0, n_bins): equal-frequency bin of `col`
    under the total order (col, id_col) — bin = (rank-1)*n_bins DIV n,
    so every bin holds floor(n/n_bins) or ceil(n/n_bins) rows exactly.

    Rows with NULL `col` are passed through with a NULL bin (they have
    no place in the value order); `id_col` must be unique — it is the
    tie-breaker that makes ranks, and therefore bins, deterministic
    under any partitioning.  Cost: one range exchange + local sorts +
    one count job (the same work global_row_number already does); the
    (rank-1)*n_bins product stays in long range up to ~10^15/n_bins
    rows.
    """
    from .ranking import global_row_number

    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    present = df.where(F.col(col).isNotNull())
    absent = df.where(F.col(col).isNull())
    ranked = global_row_number(
        present, [F.col(col), F.col(id_col)], rank_col="__rn"
    )
    n = present.count()
    if n == 0:
        return df.withColumn(bin_col, F.lit(None).cast("int"))
    binned = ranked.withColumn(
        bin_col,
        F.expr(f"CAST(((__rn - 1) * {int(n_bins)}) DIV {int(n)} AS INT)"),
    ).drop("__rn")
    return binned.unionByName(
        absent.withColumn(bin_col, F.lit(None).cast("int"))
    )


def target_encode_smoothed(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    *,
    m: int,
) -> DataFrame:
    """Smoothed target encoding per category (the empirical-Bayes
    blend, Micci-Barreca 2001):  enc_c = (S_c + m*G) / (n_c + m)
    with G the global target mean and integer pseudo-count m.

    Computed in the CROSS-MULTIPLIED form so no division nests inside
    another:  enc_c = (S_c*N + m*S) / (N*(n_c + m)) — every factor an
    exact decimal/integer (targets quantized once to DECIMAL(24,6),
    the established double→decimal recipe), ONE correctly-rounded
    double division at the end, so the oracle engine reproduces every
    encoding bit-for-bit.  Widths are sized for ~10^13 rows and
    |target| ≤ 10^11 (combined decimal products stay within the
    38-digit rule both engines enforce); one hash aggregation + a
    1-row broadcast — output is |categories| rows.  NULL categories
    encode like any other group; NULL targets are excluded from both
    S and n (SUM/COUNT semantics, identical in SQL).
    """
    if m < 1:
        raise ValueError("m must be a positive pseudo-count")
    tq = F.col(target_col).cast("decimal(24,6)")
    per_cat = df.groupBy(cat_col).agg(
        F.sum(tq).cast("decimal(24,6)").alias("__s"),
        F.count(tq).cast("decimal(13,0)").alias("__n"),
    )
    glob = per_cat.agg(
        F.sum("__s").cast("decimal(24,6)").alias("__s_all"),
        F.sum("__n").cast("decimal(13,0)").alias("__n_all"),
    )
    md = F.lit(int(m)).cast("decimal(13,0)")
    return per_cat.crossJoin(F.broadcast(glob)).select(
        cat_col,
        F.col("__n").cast("long").alias("n"),
        (
            (F.col("__s") * F.col("__n_all") + md * F.col("__s_all")).cast(
                "double"
            )
            / (F.col("__n_all") * (F.col("__n") + md)).cast("double")
        ).alias("encoding"),
    )


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    id_col: str,
) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe variant for
    training rows:  enc_i = (S_c - x_i) / (n_c - 1), NULL when the row
    is alone in its category (nothing to borrow) or its own target is
    NULL.  One window aggregation on the category partitioning (the
    same exactness recipe as above: quantize once, exact decimal
    numerator, one final double division).  Per-category state is two
    numbers, so a hot category costs its partial aggregation, not a
    sort."""
    from pyspark.sql import Window

    w = Window.partitionBy(cat_col)
    tq = F.col(target_col).cast("decimal(24,6)")
    s = F.sum(tq).over(w).cast("decimal(24,6)")
    n = F.count(tq).over(w).cast("long")
    return df.select(
        F.col(id_col),
        F.col(cat_col),
        F.when(
            tq.isNotNull() & (n > 1),
            (s - tq).cast("double") / (n - F.lit(1)).cast("double"),
        ).alias("loo_encoding"),
    )


def quantile_bin_summary(
    df: DataFrame,
    col: str,
    id_col: str,
    *,
    n_bins: int,
) -> DataFrame:
    """(bin, n, lo, hi) per equal-frequency bin — the discretization
    table a feature store publishes: row counts exact to ±1 and the
    observed value range of each bin.  One aggregation over the binned
    relation; output is n_bins rows."""
    binned = quantile_bin(df, col, id_col, n_bins=n_bins)
    return (
        binned.where(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min(col).alias("lo"),
            F.max(col).alias("hi"),
        )
    )


def contingency_stats(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Chi-squared independence statistic and mutual information for a
    pair of bounded-cardinality categoricals — the two classic
    feature-selection scores ("does this feature carry label
    signal?"), from ONE contingency aggregation.

    Exactness discipline (the repo's quantized-ln / fixed-IEEE
    recipe): the (x, y) cell counts, row/column marginals, and N are
    exact integers; every cross-engine-fragile quantity is either an
    exact decimal product or a SINGLE correctly-rounded double step —
      chi2 cell:  d = n_xy*N - n_x*n_y  (exact DECIMAL(38,0) diff,
                  cast to double exactly while |d| < 2^53),
                  cell = (d*d) / ((N*n_x)*n_y)  (the denominator as
                  a left-assoc chain of exact-integer doubles — three
                  correctly-rounded IEEE multiplies, identical in any
                  engine),
                  then quantized to DECIMAL(26,12) BEFORE the sum so
                  the total is reduction-order-independent.  Cells the
                  data never exhibits (O = 0) still contribute their
                  expectation E = n_x*n_y/N — folded in ANALYTICALLY as
                  N - sum_observed(n_x*n_y)/N (because the E's sum to N
                  over the full grid), so no zero-cell spine join, the
                  same trick t-closeness uses for absent values;
      MI cell:    ln(n_xy*N / (n_x*n_y))  (one division, one ln,
                  quantized to DECIMAL(14,12)), weighted by the exact
                  integer n_xy, summed in decimal, divided by N once.
    Domain bound stated honestly: exact-double casts need
    n_xy*N < 2^53 — fine to ~9*10^7 rows per table pair here, and at
    larger N the same shape runs with the products kept in DECIMAL
    and ONE widened final division (the t-closeness layout).

    Scale shape: one hash aggregation over rows -> |X|*|Y| cells, then
    windows on the CELL table (bounded by the category product, which
    is what makes contingency analysis meaningful at all).  Returns
    one row: (n, dof, chi2, mi_nats).
    """
    from pyspark.sql import Window

    cells = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).groupBy(x_col, y_col).agg(F.count(F.lit(1)).alias("n_xy"))
    dec = "decimal(19,0)"
    n_x = F.sum("n_xy").over(Window.partitionBy(x_col)).cast("long")
    n_y = F.sum("n_xy").over(Window.partitionBy(y_col)).cast("long")
    n_all = F.sum("n_xy").over(
        Window.partitionBy()
    ).cast("long")
    m = cells.select(
        F.col("n_xy"),
        F.col(x_col),
        F.col(y_col),
        n_x.alias("__nx"),
        n_y.alias("__ny"),
        n_all.alias("__n"),
    )
    d = (
        F.col("n_xy").cast(dec) * F.col("__n").cast(dec)
        - F.col("__nx").cast(dec) * F.col("__ny").cast(dec)
    ).cast("double")
    denom = (
        F.col("__n").cast("double")
        * F.col("__nx").cast("double")
        * F.col("__ny").cast("double")
    )
    chi_cell = ((d * d) / denom).cast("decimal(26,12)")
    ratio = (F.col("n_xy").cast(dec) * F.col("__n").cast(dec)).cast(
        "double"
    ) / (F.col("__nx").cast(dec) * F.col("__ny").cast(dec)).cast("double")
    mi_cell = F.log(ratio).cast("decimal(14,12)") * F.col("n_xy").cast(
        "decimal(13,0)"
    )
    exy = (F.col("__nx").cast(dec) * F.col("__ny").cast(dec)).cast(
        "decimal(38,0)"
    )
    return m.agg(
        F.max("__n").alias("n"),
        (
            (F.count_distinct(F.col(x_col)) - F.lit(1))
            * (F.count_distinct(F.col(y_col)) - F.lit(1))
        ).cast("long").alias("dof"),
        (
            F.sum(chi_cell).cast("double")
            + (
                F.max("__n").cast("double")
                - F.sum(exy).cast("double") / F.max("__n").cast("double")
            )
        ).alias("chi2"),
        (
            F.sum(mi_cell).cast("double")
            / F.max("__n").cast("double")
        ).alias("mi_nats"),
    )


def cohen_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    categorical raters (Cohen 1960): kappa = (p_o - p_e)/(1 - p_e)
    with p_o the observed agreement rate and p_e the agreement
    expected from the raters' marginals.  The inter-annotator /
    model-vs-gold QA statistic a labeling pipeline monitors.

    Exactness: the contingency cells, marginals, diagonal sum and N
    are exact integers; p_o = agree/N and
    p_e = (Σ_c n_a(c)·n_b(c)) / N² are each ONE correctly-rounded
    division of exact-integer doubles (Σ n_a·n_b and N² stay < 2^53
    to ~9·10^7 rows — the contingency_stats domain bound), and kappa
    is the fixed chain (p_o - p_e)/(1 - p_e).  Bit-replayable on any
    IEEE engine.  Rows with a NULL on either side are excluded (no
    rating, no agreement claim).  Degenerate marginals: p_e == 1.0
    (both raters use one shared category) forces p_o == 1.0, and
    kappa is pinned to 0.0 — forced agreement carries no
    chance-corrected information (ADVICE r08; mirrored in the
    oracle).

    Scale shape: ONE hash aggregation to cells, then two bounded
    category-level reductions.  Returns one row:
    (n, agree, p_o, p_e, kappa).
    """
    cells = (
        df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    from ..cache import persist_stage

    cells = persist_stage(cells)
    totals = cells.agg(
        F.sum("n_ab").cast("long").alias("n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), F.col("n_ab")).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    ma = cells.groupBy("__a").agg(F.sum("n_ab").cast("long").alias("na"))
    mb = cells.groupBy("__b").agg(F.sum("n_ab").cast("long").alias("nb"))
    # categories one rater never uses contribute 0 to p_e; an empty
    # inner join must therefore yield 0, not NULL
    pe_num = (
        ma.join(mb, ma["__a"] == mb["__b"])
        .agg(
            F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
            .cast("long")
            .alias("pe_num")
        )
    )
    joined = totals.join(F.broadcast(pe_num))
    n_d = F.col("n").cast("double")
    po = F.col("agree").cast("double") / n_d
    pe = F.col("pe_num").cast("double") / (n_d * n_d)
    # Degenerate marginals (ADVICE r08): p_e == 1.0 forces agreement —
    # it happens exactly when both raters use ONE shared category, so
    # p_o == 1.0 too and (p_o - p_e)/(1 - p_e) is 0/0.  The observed
    # agreement then carries zero information beyond chance; kappa's
    # chance-corrected share is pinned to 0.0 (documented convention,
    # mirrored in the oracle SQL) instead of NULL/NaN.
    return joined.select(
        "n",
        "agree",
        po.alias("p_o"),
        pe.alias("p_e"),
        F.when(pe < F.lit(1.0), (po - pe) / (F.lit(1.0) - pe))
        .otherwise(F.lit(0.0))
        .alias("kappa"),
    )


def krippendorff_alpha_nominal(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Krippendorff's alpha for two raters on a nominal scale, no
    missing data (Krippendorff 2004) — the chance-corrected agreement
    that, unlike Cohen's kappa, derives expected disagreement from the
    POOLED value distribution of both raters (so it stays comparable
    when the panel grows or units go missing; this is the 2-rater
    complete-data specialization):

        D_o = d / n                          (disagreeing units)
        D_e = (P − S) / P,  P = 2n(2n−1),  S = Σ_v n_v(n_v−1)
        α   = 1 − D_o / D_e

    with n_v the pooled count of value v over BOTH raters.  All
    integers (two hash aggs), then a fixed chain of correctly-rounded
    double steps — casts to DOUBLE happen BEFORE any multiplication,
    so nothing overflows BIGINT at any n.  Returns one row
    (n_units, n_disagree, d_o, d_e, alpha); degenerate D_e = 0 (all
    ratings one value) pins alpha to 0.0 like the kappa guard.
    """
    from ..cache import persist_stage

    # ONE full-data pass to the label-pair-bounded cell counts; the
    # disagreement total AND the pooled value distribution both derive
    # from the cells (persisted — two consumers)
    cells = persist_stage(
        df.select(
            F.col(a_col).cast("string").alias("a"),
            F.col(b_col).cast("string").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    base = cells.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.when(F.col("a") != F.col("b"), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    pooled = (
        cells.select(F.col("a").alias("v"), "cnt")
        .unionAll(cells.select(F.col("b").alias("v"), "cnt"))
        .groupBy("v")
        .agg(F.sum("cnt").cast("long").alias("nv"))
        .agg(
            F.sum(
                F.col("nv").cast("decimal(38,0)")
                * (F.col("nv") - 1).cast("decimal(38,0)")
            ).alias("s")
        )
    )
    out = base.join(F.broadcast(pooled))
    nd = F.col("n").cast("double")
    dd = F.col("d").cast("double")
    p = F.lit(2.0) * nd * (F.lit(2.0) * nd - F.lit(1.0))
    sd = F.col("s").cast("double")
    d_o = dd / nd
    d_e = (p - sd) / p
    return out.select(
        F.col("n").alias("n_units"),
        F.col("d").alias("n_disagree"),
        d_o.alias("d_o"),
        d_e.alias("d_e"),
        F.when(p - sd == 0, F.lit(0.0))
        .otherwise(F.lit(1.0) - d_o / d_e)
        .alias("alpha"),
    )


def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    max_n: int = 1 << 26,
) -> DataFrame:
    """Mutual information between two discrete columns, decomposed per
    x-value (the rows sum to MI):  MI = Σ_xy (c_xy/N)·ln(c_xy·N /
    (c_x·c_y)) — the dependence audit behind feature selection and
    leakage screens (MI ≈ 0 → the columns carry no shared signal).

    Exactness: ln of a ratio that can exceed 1 splits into two frozen
    grid cells — ln(a/b) = LUT(a/(a+b)) − LUT(b/(a+b)), both
    arguments in (0,1) — with a = c_xy·N and b = c_x·c_y
    cross-multiplied exactly; Σ c_xy·Δln is an exact DECIMAL sum
    divided by N in ONE double step per x (the PSI/JSD recipe).
    Overflow guard: c_xy·N·1024 must fit BIGINT, so N is capped at
    2^26 with an in-plan raise folded into the joint count.

    Returns (x, n_x, mi_part) per x-value, ordered; Σ mi_part = MI.
    """
    from ..cache import persist_stage
    from ..functions.lnlut import laplace_ln_lut_col

    lim = int(max_n)
    pairs = df.select(
        F.col(x_col).alias("x"), F.col(y_col).alias("y")
    )
    # ONE full-data pass: the joint (x, y) counts; the marginals and
    # the grand total are rollups of the bounded joint aggregate
    # (persisted — it has three consumers)
    cxy = persist_stage(
        pairs.groupBy("x", "y").agg(
            F.count(F.lit(1)).cast("long").alias("cxy")
        )
    )
    cx = cxy.groupBy("x").agg(F.sum("cxy").cast("long").alias("cx"))
    cy = cxy.groupBy("y").agg(F.sum("cxy").cast("long").alias("cy"))
    n = cxy.agg(F.sum("cxy").cast("long").alias("nn"))
    joined = (
        cxy.join(F.broadcast(cx), "x")
        .join(F.broadcast(cy), "y")
        .join(F.broadcast(n))
        .select(
            "x",
            "cx",
            F.when(F.col("nn") < lim, F.col("cxy"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("mutual_information: N = "),
                        F.col("nn").cast("string"),
                        F.lit(f" >= {lim} — grid-index products would"
                              " overflow BIGINT"),
                    )
                )
            )
            .alias("cxy"),
            F.expr("cxy * nn").alias("a"),
            F.expr("cx * cy").alias("b"),
            "nn",
        )
    )
    lut = laplace_ln_lut_col()

    def lnq(num: str) -> F.Column:
        g = F.expr(f"least(1023, ({num} * 1024) DIV (a + b))").cast("int")
        return F.element_at(lut, g + F.lit(1))

    terms = joined.select(
        "x",
        "cx",
        "nn",
        (F.col("cxy").cast("decimal(20,0)") * (lnq("a") - lnq("b")))
        .alias("t"),
    )
    return (
        terms.groupBy(F.col("x").alias(x_col))
        .agg(
            F.max("cx").cast("long").alias(f"n_{x_col}"),
            (F.sum("t").cast("double") / F.max("nn").cast("double"))
            .alias("mi_part"),
        )
        .orderBy(x_col)
    )
