"""Planted-fixture semantics for the r10 batch-3 operators (robust
trend, Kaplan–Meier survival, URL canonicalization, CUPED, PSI,
nDCG, JSD).  Cross-engine value parity is pinned by their registry
oracles (tests/test_oracle_parity.py); these tests pin BEHAVIOR —
robustness claims, censoring semantics, guard raises, normalization
rules — on fixtures where the right answer is derivable by hand."""

from __future__ import annotations

import math
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from northwind_etl_spark.functions.lnlut import LAPLACE_LN_LUT


def _lnq(num: int, den: int) -> Decimal:
    """The frozen grid cell both engines use for ln(num/den)."""
    return Decimal(LAPLACE_LN_LUT[min(1023, (num * 1024) // den)])


# ---------------------------------------------------------- Theil–Sen


def _trend_df(spark, ys):
    rows = [
        ("a", f"2024-01-{d + 1:02d} 00:00:00", float(y))
        for d, y in enumerate(ys)
    ]
    return spark.createDataFrame(
        rows, "event_type STRING, ts_s STRING, value DOUBLE"
    ).select(
        "event_type",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"),
        "value",
    )


def test_theil_sen_robust_to_single_outlier(spark):
    from northwind_etl_spark.operators.timeseries import (
        theil_sen_mann_kendall,
    )

    # perfect slope-1 line with one wild outlier: OLS slope moves far
    # from 1; the median pairwise slope stays exactly 1.0
    ys = [float(i) for i in range(9)]
    ys[4] = 1000.0
    out = theil_sen_mann_kendall(
        _trend_df(spark, ys), "event_type", "ts", "value"
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_buckets"] == 9 and r["n_pairs"] == 36
    assert r["sen_slope"] == pytest.approx(1.0)
    # MK S: all 36 pairs rise except the 4 pairs (4, j>4) that fall
    assert r["mk_s"] == 36 - 2 * 4


def test_theil_sen_lower_median_and_mk_ties(spark):
    from northwind_etl_spark.operators.timeseries import (
        theil_sen_mann_kendall,
    )

    # constant series: every dy = 0 -> mk_s = 0, slope 0
    out = theil_sen_mann_kendall(
        _trend_df(spark, [5.0] * 4), "event_type", "ts", "value"
    ).collect()[0]
    assert out["mk_s"] == 0 and out["sen_slope"] == 0.0
    # 4 points, 6 pairs -> lower median is rank (6+1)//2 = 3
    out2 = theil_sen_mann_kendall(
        _trend_df(spark, [0.0, 1.0, 3.0, 6.0]), "event_type", "ts", "value"
    ).collect()[0]
    slopes = sorted(
        (yj - yi) / (j - i)
        for i, yi in enumerate([0.0, 1.0, 3.0, 6.0])
        for j, yj in enumerate([0.0, 1.0, 3.0, 6.0])
        if i < j
    )
    assert out2["sen_slope"] == pytest.approx(slopes[2])  # rank 3, 1-based


# ------------------------------------------------------- Kaplan–Meier


def _surv_df(spark, rows):
    return spark.createDataFrame(rows, "duration LONG, observed INT")


def test_km_matches_hand_computation(spark):
    from northwind_etl_spark.operators.survival import km_log_survival

    # classic 6-subject fixture: events at 1,1,3; censored at 2,3,4
    rows = [(1, 1), (1, 1), (2, 0), (3, 1), (3, 0), (4, 0)]
    out = km_log_survival(_surv_df(spark, rows)).collect()
    assert [(r["t"], r["n_risk"], r["d_events"]) for r in out] == [
        (1, 6, 2),
        (3, 3, 1),
    ]
    # censor counted in the t=3 risk set, and in the row itself
    assert out[1]["n_censored_at_t"] == 1
    ls1 = float(_lnq(4, 6))
    ls3 = float(_lnq(4, 6) + _lnq(2, 3))
    assert out[0]["log_survival"] == pytest.approx(ls1)
    assert out[1]["log_survival"] == pytest.approx(ls3)


def test_km_horizon_censors_late_events(spark):
    from northwind_etl_spark.operators.survival import km_log_survival

    rows = [(1, 1), (5, 1), (9, 1)]
    out = km_log_survival(_surv_df(spark, rows), horizon=5).collect()
    # the t=9 event becomes a censor AT 5; the t=5 event stays an event
    assert [(r["t"], r["n_risk"], r["d_events"]) for r in out] == [
        (1, 3, 1),
        (5, 2, 1),
    ]


def test_km_negative_duration_raises(spark):
    from northwind_etl_spark.operators.survival import km_log_survival

    with pytest.raises(Exception, match="negative duration"):
        km_log_survival(_surv_df(spark, [(-1, 1), (2, 1)])).collect()


# ------------------------------------------------------ canonical URL


@pytest.mark.parametrize(
    "raw,canon",
    [
        # variants of one page collapse
        ("https://WWW.Shop.example.com:443/p/7/?b=2&a=1",
         "https://www.shop.example.com/p/7?a=1&b=2"),
        ("https://www.shop.example.com/p/7?a=1&b=2&utm_source=s2",
         "https://www.shop.example.com/p/7?a=1&b=2"),
        ("HTTPS://www.shop.example.com/p/7/?a=1&b=2#sec3",
         "https://www.shop.example.com/p/7?a=1&b=2"),
        # http default port, root path slash KEPT, all params dropped
        ("http://Host.example.org:80/?utm_campaign=x",
         "http://host.example.org/"),
        # RFC 3986: empty path unifies with '/' — both homepage forms
        # land on one dedup key
        ("http://host.example.org", "http://host.example.org/"),
        ("https://Host.example.org:443", "https://host.example.org/"),
        # non-default port kept; non-tracking params survive sorted
        ("https://h.example.org:8443/a/?z=1&gclid=abc&b=2",
         "https://h.example.org:8443/a?b=2&z=1"),
    ],
)
def test_canonical_url_rules(spark, raw, canon):
    from northwind_etl_spark.operators.web import canonical_url

    got = (
        spark.range(1)
        .select(canonical_url(F.lit(raw)).alias("c"))
        .collect()[0]["c"]
    )
    assert got == canon


# -------------------------------------------------------------- CUPED


def test_cuped_removes_covariate_imbalance(spark):
    from northwind_etl_spark.operators.modelfit import cuped_adjusted_means

    # y = 2x with NO true arm effect, arms badly imbalanced in the
    # covariate: the raw means show a phantom 16-unit lift; CUPED's
    # pooled theta is exactly 2 on this noiseless fixture and the
    # adjustment removes the imbalance completely
    rows = [
        ("control", Decimal(1), Decimal(2)),
        ("control", Decimal(2), Decimal(4)),
        ("treatment", Decimal(9), Decimal(18)),
        ("treatment", Decimal(10), Decimal(20)),
    ]
    df = spark.createDataFrame(
        rows, "arm STRING, x DECIMAL(16,6), y DECIMAL(16,6)"
    )
    out = {r["arm"]: r for r in cuped_adjusted_means(df).collect()}
    assert out["control"]["theta"] == pytest.approx(2.0)
    raw_diff = out["treatment"]["mean_post"] - out["control"]["mean_post"]
    adj_diff = (
        out["treatment"]["mean_adjusted"] - out["control"]["mean_adjusted"]
    )
    assert raw_diff == pytest.approx(16.0)  # phantom: 2*(9.5-1.5)
    assert adj_diff == pytest.approx(0.0)  # the true (null) effect


# ---------------------------------------------------------------- PSI


def test_psi_zero_on_identical_and_positive_on_shift(spark):
    from northwind_etl_spark.operators.drift import psi_by_group

    same = [("g", w, b) for w in (0, 1) for b in range(10) for _ in range(5)]
    df = spark.createDataFrame(same, "g STRING, w INT, b INT")
    out = psi_by_group(df, "g", "w", "b").collect()[0]
    assert out["psi"] == pytest.approx(0.0, abs=1e-9)
    # all mass moves bucket 0 -> bucket 9
    moved = [("g", 0, 0)] * 50 + [("g", 1, 9)] * 50
    df2 = spark.createDataFrame(moved, "g STRING, w INT, b INT")
    out2 = psi_by_group(df2, "g", "w", "b").collect()[0]
    assert out2["psi"] > 5.0  # ~2·(50/60 − 1/60)·ln(51) >> alert level


def test_psi_window_size_guard(spark):
    from northwind_etl_spark.operators.drift import psi_by_group

    df = spark.createDataFrame(
        [("g", 0, 0)] * 5 + [("g", 1, 0)] * 5, "g STRING, w INT, b INT"
    )
    # guard arms on n + B >= max_window (default 2^31); plant a tiny
    # limit so the in-plan raise actually fires
    with pytest.raises(Exception, match="window size"):
        psi_by_group(df, "g", "w", "b", max_window=4).collect()


# --------------------------------------------------------------- nDCG


def test_ndcg_perfect_prefix_is_one(spark):
    # the registry entry's math on a self-ideal list: when the ranked
    # rels equal the ideal rels position-by-position, ndcg == 1 at
    # every cut — pinned via the frozen discount literals
    from northwind_etl_spark.plans.queries import _NDCG_W

    rels = [3, 3, 2, 2, 1]
    dcg = idcg = Decimal(0)
    for i, r in enumerate(rels):
        dcg += r * Decimal(_NDCG_W[i])
        idcg += r * Decimal(_NDCG_W[i])
    assert float(dcg) / float(idcg) == 1.0


def test_ndcg_entry_bounds(spark, sf_dir):
    from northwind_etl_spark.plans.queries import bm25_ndcg_eval

    out = bm25_ndcg_eval(spark, sf_dir).collect()
    assert len(out) == 10
    assert [r["pos"] for r in out] == list(range(1, 11))
    for r in out:
        assert 0.0 < r["ndcg"] <= 1.0 + 1e-12
    assert out[0]["ndcg"] == pytest.approx(
        out[0]["rel"] / max(out[0]["ideal_rel"], 1)
    )


# ---------------------------------------------------------------- JSD


def test_jsd_identical_sources_near_zero_disjoint_near_ln2(spark):
    from northwind_etl_spark.plans.queries import source_term_jsd_pairs

    # identical corpora: quantized JSD within one grid cell of 0
    import tempfile, os

    tmp = tempfile.mkdtemp(prefix="jsd-")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma", "en", "s1", 10),
         (2, "alpha beta gamma", "en", "s2", 10),
         (3, "delta epsilon zeta", "en", "s3", 10)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    docs.write.parquet(os.path.join(tmp, "documents.parquet"))
    out = {
        (r["source_a"], r["source_b"]): r["jsd"]
        for r in source_term_jsd_pairs(spark, tmp).collect()
    }
    assert out[("s1", "s2")] == pytest.approx(0.0, abs=2e-3)
    # disjoint support: JSD -> ln 2 (quantization keeps it close)
    assert out[("s1", "s3")] == pytest.approx(math.log(2.0), abs=2e-3)
    assert out[("s2", "s3")] == pytest.approx(math.log(2.0), abs=2e-3)


# ------------------------------------------- r10 ADVICE regressions


def test_theil_sen_rejects_subday_bucket(spark):
    from northwind_etl_spark.operators.timeseries import (
        theil_sen_mann_kendall,
    )

    # sub-day buckets alias distinct buckets onto one day index
    # (datediff drops the time-of-day), silently dropping same-day
    # pairs while n_buckets still counts them — rejected up front
    df = _trend_df(spark, [1.0, 2.0, 3.0])
    for bad in ("hour", "minute", "second", "HOUR"):
        with pytest.raises(ValueError, match="day-or-coarser"):
            theil_sen_mann_kendall(df, "event_type", "ts", "value",
                                   bucket=bad)
    # coarser-than-day buckets keep distinct day indices and stay
    # legal (15 days span 3 ISO weeks -> 3 buckets, 3 pairs)
    out = theil_sen_mann_kendall(
        _trend_df(spark, [float(i) for i in range(15)]),
        "event_type", "ts", "value", bucket="week",
    ).collect()
    assert len(out) == 1 and out[0]["n_buckets"] == 3


def test_canonical_url_keeps_bare_ref_param(spark):
    from northwind_etl_spark.operators.web import canonical_url

    # bare ?ref= is content-identifying (GitHub ?ref=branch): two
    # different refs must stay two dedup keys, while the referral
    # tracking forms ref_src/ref_url still strip
    urls = [
        "https://github.example.com/r/tree?ref=main",
        "https://github.example.com/r/tree?ref=dev",
        "https://github.example.com/r/tree?ref=main&ref_src=twsrc",
        "https://news.example.com/a?ref_url=feed&id=7",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url STRING")
    got = [r["c"] for r in
           df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got[0] == "https://github.example.com/r/tree?ref=main"
    assert got[1] == "https://github.example.com/r/tree?ref=dev"
    assert got[0] != got[1]          # distinct branches stay distinct
    assert got[2] == got[0]          # ref_src decoration strips
    assert got[3] == "https://news.example.com/a?id=7"


def test_cuped_per_user_sum_overflow_raises(spark, tmp_path):
    """experiment_cuped_readout raises in-plan (not NULL-overflow) when
    a per-user half-period sum exceeds the DECIMAL(16,6) range — the
    cusum guard pattern, mirrored in the oracle."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from northwind_etl_spark.plans.queries import experiment_cuped_readout

    rows = [
        # user 1: post-period sum = 2e10 -> overflows DECIMAL(16,6)
        (1, "2024-01-01 00:00:00", 1, "click", 5.0, "{}"),
        (2, "2024-06-30 00:00:00", 1, "click", 2.0e10, "{}"),
        (3, "2024-01-02 00:00:00", 2, "view", 1.0, "{}"),
        (4, "2024-06-29 00:00:00", 2, "view", 2.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts_s STRING, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    with pytest.raises(SparkRuntimeException,
                       match="exceeds DECIMAL\\(16,6\\) range"):
        experiment_cuped_readout(spark, str(tmp_path)).collect()


def test_cuped_readout_in_range_sums_unchanged(spark, tmp_path):
    """Sanity twin of the guard test: in-range sums flow through the
    guard branch untouched (2 arms, finite doubles)."""
    from northwind_etl_spark.plans.queries import experiment_cuped_readout

    rows = []
    eid = 0
    for uid in range(8):
        for ts, val in (("2024-01-05 00:00:00", 3.5),
                        ("2024-06-20 00:00:00", 7.25)):
            eid += 1
            rows.append((eid, ts, uid, "click", val + uid, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts_s STRING, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = experiment_cuped_readout(spark, str(tmp_path)).collect()
    assert {r["arm"] for r in out} == {"control", "treatment"}
    assert all(math.isfinite(r["mean_adjusted"]) for r in out)
