"""Regression tests for the r11 ADVICE items fixed in round 12:

- dedup.py::delta_candidate_pairs guard is delta-SCOPED (a hot bucket
  the delta never probes must not raise) and oracle-mirrored.
- sampling.py::largest_remainder_allocation raises in-plan before
  budget*weight overflows int64, mirrored in the DuckDB oracles.
- web.py::longest_prefix_match resolves duplicate-prefix rule
  conflicts deterministically (max verdict — 'allow' beats
  'deny'/'disallow', RFC 9309's least-restrictive tie rule).
- minhash_band_recall_eval releases BOTH operating points (tau 0.5
  and 0.8) from one pair generation.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

_BASE_TEXT = (
    "the quick brown fox jumps over the lazy dog near the river bank today"
)


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id LONG, text STRING"
    )


# ------------------------------------------ delta-scoped bucket guard


def test_delta_guard_ignores_unprobed_hot_bucket(spark):
    """A (band, bucket) group that exceeds max_bucket but contains NO
    delta doc must not trip the guard — the r11 guard scanned the full
    store and would have raised here."""
    from northwind_etl_spark.operators import dedup as D

    hot = {i: _BASE_TEXT for i in range(1, 7)}  # 6-doc hot bucket
    hot[100] = "unrelated text streaming shuffle partitions broadcast join"
    hot[101] = "unrelated text streaming shuffle partitions broadcast joins"
    sigs = D.minhash_signatures_md5(
        _docs_df(spark, hot), "text", "doc_id", num_hashes=12, shingle_n=3
    )
    banded = D.band_keys_md5(sigs, "doc_id", bands=4, num_hashes=12)
    delta = banded.where(F.col("doc_id") >= 100)  # never probes the hot bucket
    rows = D.delta_candidate_pairs(
        banded, delta, "doc_id", max_bucket=3
    ).collect()
    # the two unrelated docs share no shingles, so no pairs — but the
    # plan must EXECUTE without tripping on the unprobed hot bucket
    assert rows == [] or all(r["id_a"] >= 100 for r in rows)


def test_delta_guard_still_raises_on_probed_hot_bucket(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from northwind_etl_spark.operators import dedup as D

    hot = {i: _BASE_TEXT for i in range(1, 7)}
    sigs = D.minhash_signatures_md5(
        _docs_df(spark, hot), "text", "doc_id", num_hashes=12, shingle_n=3
    )
    banded = D.band_keys_md5(sigs, "doc_id", bands=4, num_hashes=12)
    delta = banded.where(F.col("doc_id") == 6)  # probes the hot bucket
    with pytest.raises(SparkRuntimeException, match="exceeds max_bucket"):
        D.delta_candidate_pairs(
            banded, delta, "doc_id", max_bucket=3
        ).collect()


def test_delta_guard_oracle_mirrors_raise():
    """The DuckDB guard CTE errors on an oversized probed bucket, so a
    hot corpus fails BOTH engines instead of diverging."""
    con = duckdb.connect()
    with pytest.raises(duckdb.Error, match="exceeds max_bucket"):
        con.execute(
            """
            WITH band(doc_id, band, bucket) AS (
              SELECT i, 0, 'x' FROM generate_series(1, 300) g(i)),
            delta AS (SELECT * FROM band WHERE doc_id > 290),
            probe AS (SELECT DISTINCT band, bucket FROM delta),
            guard AS (
              SELECT COALESCE(MAX(CASE WHEN c <= 256 THEN 0
                         ELSE error('delta_candidate_pairs: band bucket '
                                    || 'size ' || CAST(c AS VARCHAR)
                                    || ' exceeds max_bucket=256') END), 0)
                       AS z
              FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
                    FROM band b
                    WHERE EXISTS (SELECT 1 FROM probe p
                                  WHERE p.band = b.band
                                    AND p.bucket = b.bucket)
                    GROUP BY b.band, b.bucket))
            SELECT z FROM guard
            """
        ).fetchall()
    con.close()


# --------------------------------- largest-remainder overflow guard


def test_largest_remainder_overflow_raises(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from northwind_etl_spark.operators.sampling import (
        largest_remainder_allocation,
    )

    # W ~ 6e9 -> B ~ 3e9, B * wmax ~ 1.2e19 > 2^63-1
    df = spark.createDataFrame(
        [("a", 4_000_000_000), ("b", 2_000_000_000)],
        "clazz STRING, w LONG",
    )
    with pytest.raises(SparkRuntimeException, match="exceeds int64"):
        largest_remainder_allocation(df, "clazz", "w").collect()


def test_largest_remainder_safe_weights_unaffected(spark):
    from northwind_etl_spark.operators.sampling import (
        largest_remainder_allocation,
    )

    df = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 2)], "clazz STRING, w LONG"
    )
    rows = {
        r["clazz"]: r
        for r in largest_remainder_allocation(df, "clazz", "w").collect()
    }
    assert sum(r["final_alloc"] for r in rows.values()) == 5  # B = 10 DIV 2
    assert rows["a"]["final_alloc"] >= rows["c"]["final_alloc"]


def test_largest_remainder_overflow_oracle_mirrors_raise():
    con = duckdb.connect()
    with pytest.raises(duckdb.Error, match="exceeds int64"):
        con.execute(
            """
            WITH per(clazz, w) AS (VALUES ('a', 4000000000),
                                          ('b', 2000000000)),
            tot AS (SELECT SUM(w) AS wt, (SUM(w) * 1) // 2 AS bt,
                           MAX(w) AS wmax FROM per),
            tchk AS (SELECT wt,
                            CASE WHEN bt <= 9223372036854775807
                                         // greatest(wmax, 1)
                                 THEN bt
                                 ELSE error('largest_remainder_allocation:'
                                            || ' budget*weight exceeds '
                                            || 'int64') END AS bt
                     FROM tot)
            SELECT bt FROM tchk
            """
        ).fetchall()
    con.close()


# ------------------------------------- LPM duplicate-prefix conflict


def test_lpm_duplicate_prefix_conflict_prefers_allow(spark):
    from northwind_etl_spark.operators.web import longest_prefix_match

    rules = spark.createDataFrame(
        [("/p", "disallow"), ("/p", "allow")],  # conflicting duplicates
        "prefix STRING, verdict STRING",
    )
    df = spark.createDataFrame([(1, "/p/doc")], "doc_id LONG, path STRING")
    out = longest_prefix_match(df, rules, "path").collect()
    assert out[0]["verdict"] == "allow"  # max verdict = least restrictive


# ----------------------------------- band recall: two operating points


def test_band_recall_eval_two_taus(spark, sf_dir):
    from northwind_etl_spark.plans.queries import QUERIES

    rows = QUERIES["minhash_band_recall_eval"](spark, sf_dir).collect()
    taus = [r["tau"] for r in rows]
    assert taus == [0.5, 0.8]
    by_tau = {r["tau"]: r for r in rows}
    # truth at 0.8 is a subset of truth at 0.5; candidates identical
    assert by_tau[0.8]["n_true_pairs"] <= by_tau[0.5]["n_true_pairs"]
    assert by_tau[0.8]["n_candidates"] == by_tau[0.5]["n_candidates"]
    assert by_tau[0.8]["n_hits"] <= by_tau[0.5]["n_hits"]
