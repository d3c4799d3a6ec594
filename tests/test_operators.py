"""Unit tests per operator family (SURVEY.md §2a), on small literal
DataFrames — the reference's manual spot checks (§5) as automated
invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from northwind_etl_spark.functions.texttools import rolling_hash_expr, shingles_expr
from northwind_etl_spark.operators.aggregate import table_count
from northwind_etl_spark.operators.casts import coerce_columns
from northwind_etl_spark.operators.dedup import dedup_exact, dedup_hash
from northwind_etl_spark.operators.derive import revenue_expr
from northwind_etl_spark.operators.joins import (
    anti_join_audit,
    broadcast_lookup,
    inner_join,
    semi_join,
)
from northwind_etl_spark.operators.keys import dense_keys
from northwind_etl_spark.operators.project import rename_columns, select_columns
from northwind_etl_spark.operators.quality import assert_columns, is_empty
from northwind_etl_spark.operators.sort import top_k


def test_rename_select_drop(spark):
    df = spark.createDataFrame([(1, "a", 2.0)], "x INT, y STRING, z DOUBLE")
    out = rename_columns(df, {"x": "id", "y": "name"})
    assert out.columns == ["id", "name", "z"]
    assert select_columns(out, ["z", "id"]).columns == ["z", "id"]
    with pytest.raises(ValueError, match="absent"):
        rename_columns(df, {"nope": "q"})


def test_null_coercing_casts(spark):
    df = spark.createDataFrame([("12",), ("oops",), (None,)], "v STRING")
    out = coerce_columns(df, {"v": "int"}).collect()
    assert [r.v for r in out] == [12, None, None]


def test_derive_revenue_formula(spark):
    df = spark.createDataFrame(
        [(100.0, 0.1)], "l_extendedprice DOUBLE, l_discount DOUBLE"
    )
    assert df.select(revenue_expr().alias("rev")).first().rev == pytest.approx(90.0)


def test_joins_family(spark):
    fact = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k INT, v INT")
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "dk INT, name STRING")
    inner = inner_join(fact, dim, fact.k == dim.dk)
    assert inner.count() == 2
    looked = broadcast_lookup(fact, dim, fact_key="k", dim_key="dk", carry=["name"])
    assert looked.count() == 3  # left join conserves fact cardinality
    assert looked.where(F.col("name").isNull()).count() == 1
    missing = anti_join_audit(fact, dim, fact_key="k", dim_key="dk")
    assert [r.k for r in missing.collect()] == [3]
    present = semi_join(fact, dim, left_key="k", right_key="dk")
    assert sorted(r.k for r in present.collect()) == [1, 2]


def test_surrogate_keys(spark):
    df = spark.createDataFrame([(30,), (10,), (20,)], "nk INT")
    dense = dense_keys(df, "sk", "nk").orderBy("sk").collect()
    assert [(r.sk, r.nk) for r in dense] == [(1, 10), (2, 20), (3, 30)]


def test_quality_guards(spark):
    df = spark.createDataFrame([(1, None), (2, 5)], "a INT, k INT")
    assert_columns(df, ["a", "k"])
    with pytest.raises(ValueError, match="schema mismatch"):
        assert_columns(df, ["k", "a"])
    assert not is_empty(df)
    assert is_empty(df.where(F.lit(False)))


def test_aggregate_and_topk(spark):
    df = spark.createDataFrame([(1,), (2,), (2,)], "v INT")
    assert table_count(df).first().n_rows == 3
    top = top_k(df, [F.desc("v")], 2).collect()
    assert [r.v for r in top] == [2, 2]


def test_dedup_exact_and_hash(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "doc_id INT, text STRING"
    )
    kept = dedup_exact(df, ["text"], "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]
    hashed = dedup_hash(df, "text", "doc_id")
    assert {r.doc_id: r.n_copies for r in hashed.collect()} == {1: 2, 3: 1}
    # normalization: whitespace/case variants collapse
    df2 = spark.createDataFrame([(1, "A  b"), (2, "a b ")], "doc_id INT, text STRING")
    assert dedup_hash(df2, "text", "doc_id").count() == 1


def test_shingles_and_rolling_hash(spark):
    df = spark.createDataFrame([("a b c d",), ("x",)], "text STRING")
    sh = df.select(shingles_expr("text", 3).alias("s")).collect()
    assert sh[0].s == ["a b c", "b c d"]
    assert sh[1].s == []
    h = df.select(rolling_hash_expr("text").alias("h")).collect()
    # h("a b c d") = fold over chars, deterministic
    expected = 0
    for c in "a b c d":
        expected = (expected * 31 + ord(c)) % 1_000_000_007
    assert h[0].h == expected


def test_sliding_counts_window_membership(spark):
    """Each event lands in exactly duration/slide windows; counts per
    window match a hand-computed membership on planted timestamps."""
    import datetime as dt

    from northwind_etl_spark.operators.sessionize import sliding_counts

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)   # slide-aligned
    t1 = dt.datetime(2024, 3, 1, 12, 7, 0)   # inside 12:00 bucket
    t2 = dt.datetime(2024, 3, 1, 12, 59, 59)
    ev = spark.createDataFrame(
        [(1, t0, "click", 1.0), (2, t1, "click", 1.0), (3, t2, "click", 1.0)],
        "event_id LONG, ts TIMESTAMP_NTZ, event_type STRING, value DOUBLE",
    )
    rows = sliding_counts(ev, duration="1 hour", slide="15 minutes").collect()
    got = {r.window_start: r.n_events for r in rows}
    # every event in exactly 4 windows
    assert sum(got.values()) == 12
    # t0 and t1 share their 4 windows (same slide bucket); the window
    # starting 12:00 contains all three events
    assert got[dt.datetime(2024, 3, 1, 12, 0, 0)] == 3
    # the window starting 11:15 contains only t0/t1
    assert got[dt.datetime(2024, 3, 1, 11, 15, 0)] == 2
    # the window starting 12:45 contains only t2
    assert got[dt.datetime(2024, 3, 1, 12, 45, 0)] == 1


def test_duplicated_ngram_coverage_interval_union(spark):
    """Planted fixture pins the exact semantics: only CROSS-document
    n-grams count (within-doc repeats alone don't), and overlapping
    duplicated spans merge via interval union, not naive n-per-hit."""
    from northwind_etl_spark.operators.dedup import duplicated_ngram_coverage

    shared = "alpha beta gamma"  # the planted 3-gram, in docs 1 and 2
    rows = [
        # doc 1: shared gram at positions 2 AND 3 (overlapping via the
        # extra 'alpha'): tokens = x y alpha alpha beta gamma z
        # -> grams at 2 ('alpha alpha beta') no, recompute below
        (1, f"x y {shared} z w"),
        (2, f"p q r {shared}"),
        # doc 3: repeats a gram WITHIN itself only -> must not appear
        (3, "solo solo solo solo solo"),
        # doc 4: too short for any 3-gram
        (4, "a b"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in duplicated_ngram_coverage(df, "text", "doc_id", n=3).collect()
    }
    # docs 3 (within-doc only) and 4 (too short) are absent
    assert set(out) == {1, 2}
    # doc 1: tokens x y alpha beta gamma z w -> one hit at start=2,
    # covers 3 of 7 tokens
    assert out[1]["n_tokens"] == 7
    assert out[1]["dup_positions"] == 1
    assert out[1]["covered_tokens"] == 3
    assert abs(out[1]["coverage_frac"] - round(3 / 7, 6)) < 1e-9
    # doc 2: hit at start=3 of 6 tokens
    assert out[2]["covered_tokens"] == 3
    assert out[2]["n_tokens"] == 6


def test_duplicated_ngram_coverage_overlap_merges(spark):
    """Two duplicated grams whose spans overlap contribute the union
    length (lead-window merge), not 2*n."""
    from northwind_etl_spark.operators.dedup import duplicated_ngram_coverage

    # docs 1 and 2 share the 4-token run 'a b c d' -> with n=3 both
    # 'a b c' (start 0) and 'b c d' (start 1) are duplicated; union
    # covers 4 tokens, not 6.
    rows = [(1, "a b c d x y"), (2, "z a b c d")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in duplicated_ngram_coverage(df, "text", "doc_id", n=3).collect()
    }
    assert out[1]["dup_positions"] == 2
    assert out[1]["covered_tokens"] == 4
    assert out[2]["dup_positions"] == 2
    assert out[2]["covered_tokens"] == 4


def test_gopher_quality_filter_rules(spark):
    """Each Gopher rule trips on its planted violator and only that
    rule; the clean doc passes everything."""
    from northwind_etl_spark.operators.text import gopher_quality_filter

    good = (
        "the quick brown fox jumps over a lazy dog and wolves run far "
        "of every hill to reach is what it takes while birds sing songs "
        "green trees sway gently under bright skies near calm rivers today"
    )
    rows = [
        (1, good),                                   # passes all
        (2, "the cat sat"),                          # too short
        (3, ("internationalization " * 30) + "the of and is it in a to"),  # long words
        (4, "zebra yak xylophone wombat viper urchin toad snake raven quail "
            "panda otter newt mole lion koala jackal ibex hyena gecko"),   # no stopwords
        (5, ("spam " * 40) + "the of and is it in a to word mix here now"),  # repetition
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in gopher_quality_filter(df, "text", "doc_id").collect()}
    assert out[1]["passes"]
    assert not out[2]["ok_len"] and not out[2]["passes"]
    assert not out[3]["ok_word_len"] and not out[3]["passes"]
    assert not out[4]["ok_stopwords"] and not out[4]["passes"]
    assert not out[5]["ok_repetition"] and not out[5]["passes"]


def test_weighted_sample_edges(spark):
    from pyspark.sql import functions as F

    from northwind_etl_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, float(w)) for i, w in enumerate([0.0] * 5 + [1.0] * 5)], ["id", "w"]
    )
    kept = weighted_sample(df, "id", F.col("w")).collect()
    ids = {r["id"] for r in kept}
    assert ids == {5, 6, 7, 8, 9}  # w=1 always kept, w=0 never
    # NULL weight drops the row
    dfn = spark.createDataFrame([(1, None)], "id INT, w DOUBLE")
    assert weighted_sample(dfn, "id", F.col("w")).count() == 0
    # deterministic: same rows on repeat
    again = {r["id"] for r in weighted_sample(df, "id", F.col("w")).collect()}
    assert again == ids


def test_pack_sequences_quota_properties(spark):
    """Every document lands in exactly one batch; within a (bucket,
    shard) the batches partition the cumulative token line, so no
    batch exceeds budget + its own largest member (quota slack)."""
    import random

    from northwind_etl_spark.operators.packing import (
        batch_fill_stats,
        pack_sequences,
    )

    rnd = random.Random(7)
    rows = [(i, rnd.randint(5, 60)) for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    packed = pack_sequences(
        df, "doc_id", "n_tokens", budget=100, bucket_width=16, n_shards=2
    )
    got = packed.collect()
    assert len(got) == 400 and len({r["doc_id"] for r in got}) == 400
    stats = batch_fill_stats(packed, "n_tokens").collect()
    assert sum(r["n_docs"] for r in stats) == 400
    per_batch_max = {
        (r["bucket"], r["shard"], r["batch_id"]): 0 for r in stats
    }
    for r in got:
        k = (r["bucket"], r["shard"], r["batch_id"])
        per_batch_max[k] = max(per_batch_max[k], r["n_tokens"])
    for r in stats:
        k = (r["bucket"], r["shard"], r["batch_id"])
        assert r["batch_tokens"] <= 100 + per_batch_max[k], (r, per_batch_max[k])


def test_weighted_sample_monotone_in_weight(spark):
    """Raising every row's keep probability can only ADD rows — the
    per-row hash threshold is fixed, so the kept set at weight w is a
    subset of the kept set at any w' >= w (the property that makes
    re-sampling at a new rate incremental instead of a reshuffle)."""
    from pyspark.sql import functions as F

    from northwind_etl_spark.operators.sampling import weighted_sample

    df = spark.range(500).select(F.col("id"))
    low = {
        r["id"] for r in weighted_sample(df, "id", F.lit(0.3)).collect()
    }
    high = {
        r["id"] for r in weighted_sample(df, "id", F.lit(0.7)).collect()
    }
    assert low <= high
    # and rates land near their targets on 500 rows
    assert 0.2 < len(low) / 500 < 0.4
    assert 0.6 < len(high) / 500 < 0.8


def test_funnel_ordering_and_window_semantics(spark, monkeypatch, tmp_path):
    """Planted users pin the funnel rules: clicks BEFORE the first view
    don't count, clicks outside the 12 h hop window don't count, and
    the purchase anchor is the first QUALIFYING click, not any click."""
    import datetime as dt

    from northwind_etl_spark.plans.queries import conversion_funnel_counts

    t0 = dt.datetime(2024, 1, 1, 8, 0, 0)

    def ev(uid, kind, minutes):
        return (
            len(rows), t0 + dt.timedelta(minutes=minutes), uid, kind, 1.0, "{}"
        )

    rows = []
    # u1: view -> click(+1h) -> purchase(+2h): full funnel
    rows.append(ev(1, "view", 0)); rows.append(ev(1, "click", 60))
    rows.append(ev(1, "purchase", 120))
    # u2: click BEFORE first view, none after: stops at step 1
    rows.append(ev(2, "click", 0)); rows.append(ev(2, "view", 60))
    # u3: click 13h after view (outside hop): stops at step 1
    rows.append(ev(3, "view", 0)); rows.append(ev(3, "click", 13 * 60))
    # u4: qualifying click at +1h, purchase 13h after THAT click: step 2
    rows.append(ev(4, "view", 0)); rows.append(ev(4, "click", 60))
    rows.append(ev(4, "purchase", 60 + 13 * 60))
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    # point the events reader at the planted table
    import northwind_etl_spark.plans.queries as Q

    monkeypatch.setattr(
        Q, "_t", lambda spark_, sf_dir, name: spark_.read.parquet(path)
    )
    got = {
        r["step"]: r["n_users"]
        for r in conversion_funnel_counts(spark, "ignored").collect()
    }
    assert got == {1: 4, 2: 2, 3: 1}


def test_group_topk_plans_partial_window_group_limit(spark):
    """The operator's whole scale contract: the engine must insert a
    PARTIAL WindowGroupLimit below the exchange (map-side per-group
    top-k pruning).  If an engine change or a rank-expression edit
    defeats the rewrite, this fails loudly."""
    from pyspark.sql import functions as F

    from northwind_etl_spark.operators.sort import group_topk

    df = spark.range(0, 3000).select(
        (F.col("id") % 7).alias("g"),
        (F.col("id") * 131 % 97).alias("v"),
        F.col("id").alias("tie"),
    )
    got = group_topk(df, ["g"], [F.col("v").desc(), F.col("tie")], 5)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert got.count() == 35


def test_group_topk_small_groups_complete(spark):
    from pyspark.sql import functions as F

    from northwind_etl_spark.operators.sort import group_topk

    df = spark.createDataFrame(
        [(1, 10, 0), (1, 20, 1), (2, 5, 2)], "g long, v long, tie long"
    )
    out = group_topk(df, ["g"], [F.col("v").desc(), F.col("tie")], 5)
    assert out.count() == 3  # k larger than any group: nothing dropped


def test_int8_quant_error_bound(spark):
    """Quantization error must respect the half-step bound
    (|err| <= scale/254 per element + fp slack) and zero vectors
    quantize cleanly."""
    from pyspark.sql import functions as F

    from northwind_etl_spark.functions.vectors import int8_quant_exprs

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    ex = int8_quant_exprs("embedding")
    rows = {
        r.vec_id: r
        for r in df.select(
            "vec_id", ex["scale"].alias("s"), ex["mse"].alias("m")
        ).collect()
    }
    assert rows[2].s == 0.0 and rows[2].m == 0.0
    half_step = rows[1].s / 254
    assert rows[1].m <= half_step * half_step * 1.0000001


def test_hourly_ohlc_semantics(spark):
    """OHLC bars: open/close follow the (ts, event_id) total order
    including same-timestamp ties; high/low plain extrema."""
    import datetime as dt

    from northwind_etl_spark.plans import queries as Q

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, base, 5.0),
        (3, base, 9.0),           # same ts as event 1: id breaks the tie
        (2, base.replace(minute=30), 1.0),
        (4, base.replace(minute=59), 7.0),
        (5, base.replace(hour=11), 2.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP_NTZ, value DOUBLE"
    )
    import pyspark.sql.functions as F

    out = {
        r.window_start: r
        for r in df.groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min_by("value", F.struct("ts", "event_id")).alias("open"),
            F.max_by("value", F.struct("ts", "event_id")).alias("close"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
        )
        .collect()
    }
    h10 = out[base]
    assert h10.n_events == 4
    assert h10.open == 5.0   # event 1 wins the tie at 10:00:00
    assert h10.close == 7.0  # 10:59
    assert h10.high == 9.0 and h10.low == 1.0
    h11 = out[base.replace(hour=11)]
    assert h11.open == h11.close == 2.0 and h11.n_events == 1
