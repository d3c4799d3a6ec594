"""Planted-fixture tests for the r12 batch (§2c-undecies) and the r12
rows-only conversions: containment dedup, copy-rate lineage, top-k
churn, SRM gate, burn-rate alerting, floored apportionment,
deterministic stratified sampling, frozen-sign ANN, and the
frozen-seed PQ/IVF recall evals."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id LONG, text STRING"
    )


# ----------------------------------------------------- containment


def test_containment_catches_subset_jaccard_misses(spark):
    from northwind_etl_spark.operators import dedup as D

    short = "alpha beta gamma delta epsilon zeta eta theta"
    long = short + (
        " iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
        " phi chi psi omega one two three four five six seven eight"
    )
    df = _docs_df(spark, {1: short, 2: long, 3: "unrelated words entirely"})
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in D.ngram_containment(
            df, "text", "doc_id", threshold=0.8, min_shingles=3
        ).collect()
    }
    # short ⊂ long: containment of 1 in 2 is 1.0; the reverse is low
    assert cont.get((1, 2)) == 1.0
    assert (2, 1) not in cont
    jac = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard(df, "text", "doc_id", threshold=0.8).collect()
    }
    assert (1, 2) not in jac  # the case Jaccard structurally misses


def test_containment_min_shingles_floor(spark):
    from northwind_etl_spark.operators import dedup as D

    df = _docs_df(
        spark, {1: "alpha beta gamma", 2: "alpha beta gamma delta epsilon"}
    )
    # doc 1 has exactly 1 shingle -> below min_shingles=5, dropped
    out = D.ngram_containment(
        df, "text", "doc_id", threshold=0.5, min_shingles=5
    ).collect()
    assert all(r["id_a"] != 1 for r in out)


# ----------------------------------------------------- copy lineage


def test_exact_copy_rate_planted(spark):
    from northwind_etl_spark.operators.dedup import exact_copy_rate

    rows = [
        (1, "original text one", "s1"),
        (2, "original text one", "s2"),  # copy of 1 in another source
        (3, "original text one", "s2"),  # second copy
        (4, "unique text", "s2"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, source STRING"
    )
    out = {
        r["source"]: r
        for r in exact_copy_rate(df, "text", "doc_id", "source").collect()
    }
    assert out["s1"]["n_copies"] == 0
    assert out["s2"]["n_docs"] == 3 and out["s2"]["n_copies"] == 2
    assert out["s2"]["copy_rate"] == round(2 / 3, 6)


# ----------------------------------------------------- top-k churn


def test_topk_churn_statuses(spark):
    from northwind_etl_spark.operators.heavyhitters import topk_churn

    rows = (
        [("a", "held")] * 10
        + [("b", "held")] * 10
        + [("a", "out")] * 5
        + [("b", "in")] * 8
        + [("a", "moved")] * 4
        + [("b", "moved")] * 9
    )
    # side a ranks: held 1, out 2, moved 3;  side b: held 1, moved 2, in 3
    df = spark.createDataFrame(rows, "side STRING, key STRING")
    out = {r["key"]: r for r in topk_churn(df, "key", "side", k=3).collect()}
    assert out["held"]["status"] == "held"
    assert out["out"]["status"] == "out" and out["out"]["rank_b"] is None
    assert out["in"]["status"] == "in" and out["in"]["rank_a"] is None
    assert out["moved"]["status"] == "moved"


def test_topk_churn_bad_side_raises(spark):
    from northwind_etl_spark.operators.heavyhitters import topk_churn

    df = spark.createDataFrame(
        [("a", "x"), ("c", "y")], "side STRING, key STRING"
    )
    # the raise fires inside the broadcast-exchange job, so depending
    # on where materialization happens it surfaces as
    # SparkRuntimeException OR a wrapped Py4J broadcast error — match
    # the message, not the wrapper class
    with pytest.raises(Exception, match="outside"):
        topk_churn(df, "key", "side", k=5).collect()


# ----------------------------------------------------- SRM gate


def test_srm_balanced_split_not_flagged(spark):
    from northwind_etl_spark.operators.sampling import split_balance_z

    df = spark.range(0, 5000).select(F.col("id").alias("k"))
    row = split_balance_z(df, "k", train_pct=50).collect()[0]
    assert row["n_total"] == 5000
    assert row["n_train"] + row["n_eval"] == 5000
    assert not row["srm_flag"]  # md5 buckets of 0..4999 are uniform


def test_srm_z_formula(spark):
    from northwind_etl_spark.operators.sampling import split_balance_z

    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    row = split_balance_z(df, "k", train_pct=50).collect()[0]
    n, t = row["n_total"], row["n_train"]
    expect = round((t - n * 0.5) / ((n * 0.5 * 0.5) ** 0.5), 6)
    assert row["z"] == expect


# ----------------------------------------------------- burn rate


def test_burn_rate_alert_needs_both_windows(spark):
    from northwind_etl_spark.operators.timeseries import burn_rate_windows

    rows = []
    # hour 10: violations everywhere INCLUDING the tail -> alert
    for m in range(0, 60, 5):
        rows.append((f"2024-01-01 10:{m:02d}:00", 1))
        rows.append((f"2024-01-01 10:{m:02d}:30", 0))
    # hour 11: violations only OUTSIDE the tail -> no alert
    for m in range(0, 55, 5):
        rows.append((f"2024-01-01 11:{m:02d}:00", 1))
    rows += [("2024-01-01 11:56:00", 0), ("2024-01-01 11:58:00", 0)]
    df = spark.createDataFrame(rows, "t STRING, viol INT").select(
        F.col("t").cast("timestamp").alias("ts"), "viol"
    )
    out = {
        str(r["window_start"]): r
        for r in burn_rate_windows(
            df, "ts", "viol", error_budget=0.1, tail_minutes=5
        ).collect()
    }
    h10 = out["2024-01-01 10:00:00"]
    h11 = out["2024-01-01 11:00:00"]
    assert h10["alert"] and h10["burn_full"] > 1 and h10["burn_tail"] > 1
    assert not h11["alert"] and h11["burn_full"] > 1
    assert h11["burn_tail"] == 0.0


def test_burn_rate_empty_tail_no_alert(spark):
    from northwind_etl_spark.operators.timeseries import burn_rate_windows

    df = spark.createDataFrame(
        [("2024-01-01 09:10:00", 1)], "t STRING, viol INT"
    ).select(F.col("t").cast("timestamp").alias("ts"), "viol")
    row = burn_rate_windows(df, "ts", "viol", error_budget=0.1).collect()[0]
    assert row["n_tail"] == 0 and row["burn_tail"] is None
    assert not row["alert"]  # tail burn NULL coalesces to no-alert


# ----------------------------------------------------- floored mixture


def test_floored_allocation_sums_to_budget(spark):
    from northwind_etl_spark.operators.sampling import floored_allocation

    df = spark.createDataFrame(
        [("a", 1000), ("b", 10), ("c", 10)], "clazz STRING, w LONG"
    )
    rows = {
        r["clazz"]: r
        for r in floored_allocation(
            df, "clazz", "w", floor_pct=10, budget_num=1, budget_den=2
        ).collect()
    }
    B = 1020 // 2
    assert sum(r["final_alloc"] for r in rows.values()) == B
    floor = B * 10 // 100
    assert all(r["floor_alloc"] == floor for r in rows.values())
    # tiny classes still get their floor; the big class gets the rest
    assert rows["b"]["final_alloc"] >= floor
    assert rows["a"]["final_alloc"] > rows["b"]["final_alloc"]


def test_floored_allocation_infeasible_floor_raises(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from northwind_etl_spark.operators.sampling import floored_allocation

    df = spark.createDataFrame(
        [(f"c{i}", 10) for i in range(25)], "clazz STRING, w LONG"
    )
    with pytest.raises(SparkRuntimeException, match="exceeds 100"):
        floored_allocation(df, "clazz", "w", floor_pct=5).collect()


# ----------------------------------------------------- det. stratified


def test_stratified_deterministic_repeatable_and_bounded(spark):
    from northwind_etl_spark.operators.sampling import (
        stratified_sample_deterministic,
    )

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "xx") for i in range(2000)],
        "doc_id LONG, lang STRING",
    )
    out1 = stratified_sample_deterministic(
        df, "lang", {"en": 0.5}, key="doc_id"
    )
    ids1 = {r["doc_id"] for r in out1.collect()}
    ids2 = {
        r["doc_id"]
        for r in stratified_sample_deterministic(
            df, "lang", {"en": 0.5}, key="doc_id"
        ).collect()
    }
    assert ids1 == ids2  # pure function of (salt, key)
    assert all(i % 2 == 0 for i in ids1)  # absent stratum dropped
    assert 350 <= len(ids1) <= 650  # ~50% of the 1000 en rows


# ----------------------------------------------------- frozen-sign ANN


def test_ann_lsh_frozen_self_hit_and_recall(spark, sf_dir):
    from northwind_etl_spark.operators.similarity import (
        ann_lsh_topk_frozen,
        knn_bruteforce,
    )
    from northwind_etl_spark.sources.parquet import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    approx = ann_lsh_topk_frozen(
        emb, qvec, k=10, n_planes=6, multiprobe_hamming=2
    ).collect()
    assert approx[0]["vec_id"] == 0 and approx[0]["cosine"] == 1.0
    exact = {r["vec_id"] for r in knn_bruteforce(emb, qvec, k=10).collect()}
    got = {r["vec_id"] for r in approx}
    assert len(exact & got) >= 5  # multiprobe recall on the fixture


# ----------------------------------------------------- PQ / IVF evals


def test_pq_frozen_recall_bounds(spark, sf_dir):
    from northwind_etl_spark.operators.annquality import pq_frozen_recall
    from northwind_etl_spark.sources.parquet import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    rows = pq_frozen_recall(emb, query_mod=100).collect()
    assert rows, "no queries at vec_id % 100 == 0"
    for r in rows:
        assert 0 <= r["n_hits"] <= 10
        assert r["recall_at_10"] == round(r["n_hits"] / 10.0, 6)
    # 8x16 codewords over 64 dims keeps coarse structure: the average
    # recall must clearly beat the ~2% random-top-10 overlap
    avg = sum(r["recall_at_10"] for r in rows) / len(rows)
    assert avg >= 0.2


def test_ivf_medoid_recall_scan_fraction(spark, sf_dir):
    from northwind_etl_spark.operators.annquality import ivf_medoid_recall
    from northwind_etl_spark.sources.parquet import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    rows = ivf_medoid_recall(emb, query_mod=100, nprobe=3).collect()
    assert rows
    for r in rows:
        # nprobe=3 of 8 clusters must actually prune the scan
        assert 0 < r["scan_frac"] < 1.0
        assert 0 <= r["recall_at_10"] <= 1.0
    # the query's own cluster is always probed -> its self-hit survives
    assert all(r["n_hits"] >= 1 for r in rows)


def test_annquality_missing_seed_vectors_raise(spark):
    from northwind_etl_spark.operators.annquality import pq_frozen_recall

    emb = spark.createDataFrame(
        [(0, [0.1] * 64), (1, [0.2] * 64)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    with pytest.raises(ValueError, match="seed"):
        pq_frozen_recall(emb, k_codewords=16)


# ----------------------------------------------------- canonical pick


def test_dedup_canonical_longest_wins(spark):
    from northwind_etl_spark.operators import dedup as D

    base = "the quick brown fox jumps over the lazy dog near the river"
    texts = {
        5: base,
        6: base + " extra tail words here",  # longest -> canonical
        7: base,
    }
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in texts.items()],
        "doc_id LONG, text STRING, n_chars LONG",
    )
    sigs = D.minhash_signatures_md5(
        docs, "text", "doc_id", num_hashes=12, shingle_n=3
    )
    banded = D.band_keys_md5(sigs, "doc_id", bands=4, num_hashes=12)
    pairs = D.delta_candidate_pairs(banded, banded, "doc_id")
    clusters = D.duplicate_clusters(pairs.select("id_a", "id_b"))
    member = clusters.join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    )
    picked = (
        member.groupBy("cluster")
        .agg(
            F.max_by(
                F.col("id"), F.struct(F.col("n_chars"), -F.col("id"))
            ).alias("canonical_id")
        )
        .collect()
    )
    assert len(picked) == 1 and picked[0]["canonical_id"] == 6


# ----------------------------------------------------- batch 2


def test_gini_extremes(spark):
    from northwind_etl_spark.operators.profiling import gini_by_weight

    eq = spark.createDataFrame(
        [(f"c{i}", 10) for i in range(10)], "clazz STRING, w LONG"
    )
    row = gini_by_weight(eq, "clazz", "w").collect()[0]
    assert row["gini"] == 0.0  # perfectly equal shares
    conc = spark.createDataFrame(
        [("rich", 1000)] + [(f"p{i}", 0) for i in range(9)],
        "clazz STRING, w LONG",
    )
    row = gini_by_weight(conc, "clazz", "w").collect()[0]
    # one class holds everything: G = (n-1)/n = 0.9
    assert row["gini"] == 0.9


def test_gini_overflow_guard(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from northwind_etl_spark.operators.profiling import gini_by_weight

    # sized so the Σ i·w aggregate itself still fits int64 (4.9e18)
    # but the guard's n²·wmax bound (9.6e18) does not — the diagnosable
    # margin where the custom raise fires before any engine overflow
    df = spark.createDataFrame(
        [("a", 100_000_000_000_000_000), ("b", 2_400_000_000_000_000_000)],
        "clazz STRING, w LONG",
    )
    with pytest.raises(SparkRuntimeException, match="exceeds int64"):
        gini_by_weight(df, "clazz", "w").collect()


def test_hill_recovers_pareto_alpha(spark):
    from northwind_etl_spark.operators.profiling import hill_tail_index

    # exact Pareto(alpha=2) quantiles: x_i = (i/n)^(-1/2); the Hill
    # estimator over the top-100 must land near 2
    n = 5000
    vals = [(float((i / n) ** -0.5),) for i in range(1, n + 1)]
    df = spark.createDataFrame(vals, "x DOUBLE")
    row = hill_tail_index(df, "x", k=100).collect()[0]
    assert 1.6 <= row["alpha"] <= 2.4
    assert row["k"] == 100 and row["threshold"] > 0


def test_ks_detects_planted_shift(spark):
    from northwind_etl_spark.operators.profiling import ks_by_group

    # two-group case: group-vs-rest IS the two-sample KS between them
    rows = [("base", float(i % 100)) for i in range(2000)]
    rows += [("shifted", float(i % 100) + 50.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    out = {r["g"]: r for r in ks_by_group(df, "v", "g", flag_at=0.1).collect()}
    assert out["shifted"]["drifted"] and out["shifted"]["ks"] >= 0.4
    # identical distributions: neither side drifts
    rows2 = [("a", float(i % 100)) for i in range(2000)]
    rows2 += [("b", float(i % 100)) for i in range(2000)]
    df2 = spark.createDataFrame(rows2, "g STRING, v DOUBLE")
    out2 = {r["g"]: r for r in ks_by_group(df2, "v", "g").collect()}
    assert not out2["a"]["drifted"] and out2["a"]["ks"] == 0.0


def test_changelog_compose_algebra(spark):
    from northwind_etl_spark.operators.lakehouse import changelog_compose

    # key 1: insert then delete -> vanishes; key 2: insert then update
    # -> net insert(new); key 3: update then update back -> vanishes;
    # key 4: update then delete -> delete(old); key 5: delete then
    # re-insert with a NEW value -> update; key 6: only in l12
    l12 = spark.createDataFrame(
        [
            (1, "insert", None, 10.0),
            (2, "insert", None, 20.0),
            (3, "update", 30.0, 31.0),
            (4, "update", 40.0, 41.0),
            (5, "delete", 50.0, None),
            (6, "update", 60.0, 61.0),
        ],
        "k LONG, change_type STRING, old_value DOUBLE, new_value DOUBLE",
    )
    l23 = spark.createDataFrame(
        [
            (1, "delete", 10.0, None),
            (2, "update", 20.0, 21.0),
            (3, "update", 31.0, 30.0),
            (4, "delete", 41.0, None),
            (5, "insert", None, 55.0),
        ],
        "k LONG, change_type STRING, old_value DOUBLE, new_value DOUBLE",
    )
    net = {
        r["k"]: (r["change_type"], r["old_value"], r["new_value"])
        for r in changelog_compose(l12, l23, "k").collect()
    }
    assert 1 not in net and 3 not in net
    assert net[2] == ("insert", None, 21.0)
    assert net[4] == ("delete", 40.0, None)
    assert net[5] == ("update", 50.0, 55.0)
    assert net[6] == ("update", 60.0, 61.0)


def test_rbo_bounds_and_identity(spark, sf_dir):
    from northwind_etl_spark.plans.queries import QUERIES

    rows = QUERIES["matryoshka_rbo_eval"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["rbo"] <= 1.000001
        # identical rankings at every depth give the truncated-RBO
        # maximum (1 - p) * sum(p^(d-1)) = 1 - p^10
        if r["overlap_at_10"] == 10:
            assert r["rbo"] <= round(1 - 0.9**10, 6) + 1e-6


def test_hill_undersized_input_nulls_not_ansi_raise(spark):
    """With fewer than k+1 qualifying rows the threshold slot is out of
    bounds: F.get returns NULL (matching DuckDB's a[k+1]) where
    element_at would RAISE under ANSI — the cross-engine divergence
    class the r12 self-review caught."""
    from northwind_etl_spark.operators.profiling import hill_tail_index

    small = spark.createDataFrame(
        [(float(i + 1),) for i in range(10)], "x DOUBLE"
    )
    row = hill_tail_index(small, "x", k=100).collect()[0]
    assert row["threshold"] is None and row["alpha"] is None
