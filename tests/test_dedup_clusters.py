"""Duplicate-cluster resolution (connected components) and sampling."""

from __future__ import annotations

from pyspark.sql import functions as F

from northwind_etl_spark.operators.dedup import duplicate_clusters, keep_canonical
from northwind_etl_spark.operators.sampling import hash_split, stratified_sample


def test_duplicate_clusters_transitive(spark):
    # chain 1-2-3, pair 10-11, singleton 99 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a LONG, id_b LONG"
    )
    labels = {r.id: r.cluster for r in duplicate_clusters(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_duplicate_clusters_lineage_bounded(spark):
    """Iteration k must read iteration k−1's checkpoint, not re-execute
    it: the returned plan's join depth stays constant (one pass), not
    proportional to the number of iterations."""
    # chain 1-2-3-...-8: diameter 7 forces multiple propagation passes
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a LONG, id_b LONG"
    )
    labels = duplicate_clusters(pairs, max_iters=10)
    assert {r.cluster for r in labels.collect()} == {1}
    # pointer jumping: diameter-7 chain must converge in O(log d)
    # passes (≤4), far under the naive 7-pass propagation bound (an
    # unconverged run raises)
    fast = duplicate_clusters(pairs, max_iters=4)
    assert {r.cluster for r in fast.collect()} == {1}
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    # a checkpointed result plans as a scan of existing partitions; the
    # full multi-pass join cascade must NOT be in the lineage
    assert plan.count("Join") <= 1, plan


def test_duplicate_clusters_raises_on_nonconvergence(spark):
    """Verdict r09: under-convergence must be machine-visible — a
    planted chain graph whose diameter exceeds max_iters raises (a
    normal return IS the convergence certificate)."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a LONG, id_b LONG"
    )
    with pytest.raises(RuntimeError, match="still changing"):
        duplicate_clusters(pairs, max_iters=2)


def test_keep_canonical_drops_non_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [1, 2, 3, 10, 11, 99]], "doc_id LONG, text STRING"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a LONG, id_b LONG")
    kept = keep_canonical(docs, duplicate_clusters(pairs), "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 10, 99]


def test_hash_split_deterministic_and_proportional(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = hash_split(docs, "doc_id").select("doc_id", "split")
    b = hash_split(docs.repartition(7), "doc_id").select("doc_id", "split")
    assert a.subtract(b).count() == 0  # partitioning-independent
    n = docs.count()
    n_train = a.where(F.col("split") == "train").count()
    assert 0.7 * n <= n_train <= 0.9 * n


def test_stratified_sample_bounds(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    frac = {lang: 0.5 for lang in ["en", "de", "fr", "es", "zh"]}
    sampled = stratified_sample(docs, "lang", frac)
    per = {r.lang: r.n for r in sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, total in totals.items():
        got = per.get(lang, 0)
        assert 0.2 * total <= got <= 0.8 * total, (lang, got, total)
    # seeded → reproducible
    again = stratified_sample(docs, "lang", frac).count()
    assert again == sampled.count()


def test_remove_duplicated_spans_planted(spark):
    """Planted shared 5-gram: the covered window vanishes from both
    docs, the unique remainder survives in order, and a fully-shared
    doc collapses to md5('')."""
    import hashlib

    from northwind_etl_spark.operators.dedup import remove_duplicated_spans

    shared = "one two three four five"
    rows = [
        (1, f"alpha {shared} beta"),
        (2, f"{shared} gamma delta"),
        (3, shared),                      # fully covered -> empty
        (4, "totally unique text here"),  # untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_duplicated_spans(df).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert (out[1].kept_tokens, out[1].cleaned_md5) == (2, md5("alpha beta"))
    assert (out[2].kept_tokens, out[2].cleaned_md5) == (
        2,
        md5("gamma delta"),
    )
    assert (out[3].kept_tokens, out[3].cleaned_md5) == (0, md5(""))
    assert (out[4].kept_tokens, out[4].cleaned_md5) == (
        4,
        md5("totally unique text here"),
    )
