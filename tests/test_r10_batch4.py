"""Planted-fixture semantics for the r10 batch-4 eval/audit operators
(exact AUC, cumulative gains, mutual information, Krippendorff's
alpha, runs test).  Cross-engine parity is pinned by their registry
oracles; these tests pin the statistics on fixtures with hand-derived
answers."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- AUC


def _scored(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, s LONG, pos INT")


def test_auc_perfect_random_and_reversed(spark):
    from northwind_etl_spark.operators.mleval import auc_exact

    # perfect separation: every positive scores above every negative
    perfect = [(i, 10 + i, 1) for i in range(3)] + [
        (10 + i, i, 0) for i in range(3)
    ]
    r = auc_exact(_scored(spark, perfect), "s", "pos").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc"]) == (3, 3, 1.0)
    # reversed: AUC 0
    rev = [(i, -i, 1) for i in range(1, 4)] + [(10 + i, i, 0) for i in range(1, 4)]
    assert auc_exact(_scored(spark, rev), "s", "pos").collect()[0][
        "auc"
    ] == 0.0
    # all scores tied: midranks give exactly 0.5
    tied = [(i, 7, i % 2) for i in range(10)]
    assert auc_exact(_scored(spark, tied), "s", "pos").collect()[0][
        "auc"
    ] == pytest.approx(0.5)


def test_auc_hand_computed_with_ties(spark):
    from northwind_etl_spark.operators.mleval import auc_exact

    # scores: neg {1, 2, 2}, pos {2, 3}: pairs won = (2>1)=1, (3>all)=3,
    # ties (2==2 twice) = 2 halves -> U = 4 + 1 = 5; AUC = 5/6
    rows = [(1, 1, 0), (2, 2, 0), (3, 2, 0), (4, 2, 1), (5, 3, 1)]
    r = auc_exact(_scored(spark, rows), "s", "pos").collect()[0]
    assert r["auc"] == pytest.approx(5.0 / 6.0)


def test_auc_row_guard_raises(spark):
    from northwind_etl_spark.operators.mleval import auc_exact

    rows = [(i, i, i % 2) for i in range(8)]
    with pytest.raises(Exception, match="shard the eval"):
        auc_exact(_scored(spark, rows), "s", "pos", max_rows=4).collect()


# -------------------------------------------------------------- gains


def test_gains_monotone_and_totals(spark):
    from northwind_etl_spark.operators.mleval import cumulative_gains

    # 20 docs, top half by score all positive -> bins 0-4 lift 2.0,
    # bins 5-9 lift 0, gain reaches 1.0 at bin 4 and stays
    rows = [(i, 100 - i, 1 if i < 10 else 0) for i in range(20)]
    out = cumulative_gains(
        _scored(spark, rows), "s", "doc_id", "pos"
    ).collect()
    assert [r["bin"] for r in out] == list(range(10))
    assert [r["n_docs"] for r in out] == [2] * 10
    assert out[4]["gain"] == pytest.approx(1.0)
    assert out[9]["gain"] == pytest.approx(1.0)
    assert out[0]["lift"] == pytest.approx(2.0)
    assert out[9]["lift"] == pytest.approx(0.0)
    gains = [r["gain"] for r in out]
    assert gains == sorted(gains)


# ----------------------------------------------------------------- MI


def test_mutual_information_independent_and_determined(spark):
    from northwind_etl_spark.operators.features import mutual_information

    # independent uniform 2x2 grid -> MI = 0 (within grid quantization)
    ind = [(x, y) for x in ("a", "b") for y in (0, 1) for _ in range(25)]
    df = spark.createDataFrame(ind, "x STRING, y INT")
    out = mutual_information(df, "x", "y").collect()
    assert sum(r["mi_part"] for r in out) == pytest.approx(0.0, abs=2e-3)
    # y fully determined by x -> MI = ln 2 for uniform binary x
    det = [("a", 0)] * 50 + [("b", 1)] * 50
    df2 = spark.createDataFrame(det, "x STRING, y INT")
    out2 = mutual_information(df2, "x", "y").collect()
    assert sum(r["mi_part"] for r in out2) == pytest.approx(
        math.log(2.0), abs=2e-3
    )


def test_mutual_information_guard(spark):
    from northwind_etl_spark.operators.features import mutual_information

    df = spark.createDataFrame([("a", 0)] * 10, "x STRING, y INT")
    with pytest.raises(Exception, match="overflow BIGINT"):
        mutual_information(df, "x", "y", max_n=5).collect()


# -------------------------------------------------- Krippendorff alpha


def test_krippendorff_agreement_extremes(spark):
    from northwind_etl_spark.operators.features import (
        krippendorff_alpha_nominal,
    )

    # perfect agreement -> alpha = 1
    agree = [("x", "x")] * 5 + [("y", "y")] * 5
    df = spark.createDataFrame(agree, "a STRING, b STRING")
    r = krippendorff_alpha_nominal(df, "a", "b").collect()[0]
    assert r["alpha"] == pytest.approx(1.0) and r["n_disagree"] == 0
    # systematic disagreement on a balanced pool -> alpha < 0
    dis = [("x", "y")] * 5 + [("y", "x")] * 5
    r2 = krippendorff_alpha_nominal(
        spark.createDataFrame(dis, "a STRING, b STRING"), "a", "b"
    ).collect()[0]
    assert r2["alpha"] < 0
    # degenerate single-value pool pins alpha to 0 (D_e = 0)
    one = [("x", "x")] * 4
    r3 = krippendorff_alpha_nominal(
        spark.createDataFrame(one, "a STRING, b STRING"), "a", "b"
    ).collect()[0]
    assert r3["alpha"] == 0.0


def test_krippendorff_hand_value(spark):
    from northwind_etl_spark.operators.features import (
        krippendorff_alpha_nominal,
    )

    # 4 units: 3 agree on x, 1 pair (x, y): n=4, d=1
    # pooled: n_x=7, n_y=1 -> S = 42 + 0 = 42; P = 8*7 = 56
    # D_o = 1/4; D_e = 14/56 = 1/4; alpha = 1 - 1 = 0
    rows = [("x", "x")] * 3 + [("x", "y")]
    r = krippendorff_alpha_nominal(
        spark.createDataFrame(rows, "a STRING, b STRING"), "a", "b"
    ).collect()[0]
    assert r["d_o"] == pytest.approx(0.25)
    assert r["d_e"] == pytest.approx(0.25)
    assert r["alpha"] == pytest.approx(0.0)


# ------------------------------------------------------------ runs test


def _days_df(spark, ys):
    rows = [
        (f"2024-{1 + d // 28:02d}-{1 + d % 28:02d} 00:00:00", float(y))
        for d, y in enumerate(ys)
    ]
    return spark.createDataFrame(rows, "ts_s STRING, value DOUBLE").select(
        F.col("ts_s").cast("timestamp_ntz").alias("ts"), "value"
    )


def test_runs_test_alternating_vs_blocked(spark):
    from northwind_etl_spark.operators.timeseries import runs_test_daily

    # perfectly alternating high/low (all values distinct; the lower
    # median is the smallest high, day 0, which drops): 20 remaining
    # days alternate -> maximum runs, strongly positive z
    alt = [100.0 + d if d % 2 == 0 else float(d) for d in range(21)]
    r = runs_test_daily(_days_df(spark, alt), "ts", "value").collect()[0]
    assert (r["n_above"], r["n_below"], r["n_runs"]) == (10, 10, 20)
    assert r["z_stat"] > 3.0
    # two clean blocks around a distinct median day
    blocks = [1.0] * 10 + [5.0] + [10.0] * 10
    r2 = runs_test_daily(_days_df(spark, blocks), "ts", "value").collect()[0]
    assert (r2["n_above"], r2["n_below"], r2["n_runs"]) == (10, 10, 2)
    assert r2["z_stat"] < -3.0  # far fewer runs than random


def test_runs_test_median_days_dropped(spark):
    from northwind_etl_spark.operators.timeseries import runs_test_daily

    ys = [1.0, 2.0, 3.0, 2.0, 5.0]  # lower median = 2 -> two days drop
    r = runs_test_daily(_days_df(spark, ys), "ts", "value").collect()[0]
    assert r["n_buckets"] == 5
    assert r["n_above"] + r["n_below"] == 3


# ------------------------------------------- review-pass regressions


def test_auc_single_class_pins_to_half(spark):
    from northwind_etl_spark.operators.mleval import auc_exact

    allpos = [(i, i, 1) for i in range(5)]
    r = auc_exact(_scored(spark, allpos), "s", "pos").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc"]) == (5, 0, 0.5)


def test_gains_no_positives_pins_to_zero(spark):
    from northwind_etl_spark.operators.mleval import cumulative_gains

    rows = [(i, 100 - i, 0) for i in range(20)]
    out = cumulative_gains(
        _scored(spark, rows), "s", "doc_id", "pos"
    ).collect()
    assert all(r["gain"] == 0.0 and r["lift"] == 0.0 for r in out)


def test_cuped_constant_covariate_pins_theta(spark):
    from decimal import Decimal

    from northwind_etl_spark.operators.modelfit import cuped_adjusted_means

    rows = [
        ("control", Decimal(5), Decimal(2)),
        ("control", Decimal(5), Decimal(4)),
        ("treatment", Decimal(5), Decimal(8)),
        ("treatment", Decimal(5), Decimal(10)),
    ]
    df = spark.createDataFrame(
        rows, "arm STRING, x DECIMAL(16,6), y DECIMAL(16,6)"
    )
    out = {r["arm"]: r for r in cuped_adjusted_means(df).collect()}
    assert out["control"]["theta"] == 0.0
    assert out["control"]["mean_adjusted"] == out["control"]["mean_post"]


def test_running_sum_rejects_non_integral(spark):
    from northwind_etl_spark.operators.ranking import global_running_sum

    df = spark.createDataFrame(
        [(1, 0.5), (2, 0.5)], "k INT, amount DOUBLE"
    )
    with pytest.raises(ValueError, match="integral"):
        global_running_sum(df, ["k"], "amount")


def test_runs_test_degenerate_all_median_is_zero_typed(spark):
    """Every bucket equals the median -> the sign sequence is empty.
    The counts must be explicit zeros (not NULL-typed) with z pinned
    to 0.0 — the r10 ADVICE regression."""
    from northwind_etl_spark.operators.timeseries import runs_test_daily

    r = runs_test_daily(
        _days_df(spark, [4.0] * 6), "ts", "value"
    ).collect()[0]
    assert r["n_buckets"] == 6
    assert (r["n_above"], r["n_below"], r["n_runs"]) == (0, 0, 0)
    assert r["z_stat"] == 0.0
