"""Planted-fixture semantics for the r11 operators (mergeable
Misra-Gries top-k, md5-MinHash incremental candidates, longest-prefix
robots match, license rollup, int8 ANN recall helpers).  Cross-engine
value parity is pinned by their registry oracles
(tests/test_oracle_parity.py); these tests pin BEHAVIOR — the MG
error bound, delta==full-restricted equivalence, LPM override chains,
guard raises — on fixtures where the right answer is derivable by
hand."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# ------------------------------------------------- mergeable top-k


def _items_df(spark, counts: dict[str, int]):
    rows = []
    i = 0
    for item, c in counts.items():
        for _ in range(c):
            rows.append((i, item))
            i += 1
    return spark.createDataFrame(rows, "rid LONG, item STRING")


def test_mergeable_topk_bound_holds_on_skew(spark):
    from northwind_etl_spark.operators.heavyhitters import (
        mergeable_topk_sketch,
    )

    counts = {f"t{i:02d}": 3 + i for i in range(30)}
    counts["whale"] = 500
    counts["shark"] = 200
    df = _items_df(spark, counts)
    out = mergeable_topk_sketch(
        df, "item", k=5, shards=4, shard_key="rid"
    ).collect()
    assert len(out) == 5
    exact = counts
    got = {r["item"]: r for r in out}
    # the two dominant items must survive any MG compress with k=5
    assert "whale" in got and "shark" in got
    for r in out:
        true = exact[r["item"]]
        assert r["est_count"] <= true <= r["est_count"] + r["err_bound"], (
            r,
            true,
        )
    # estimates ranked by est keep the true giants on top
    assert out[0]["item"] == "whale" and out[1]["item"] == "shark"


def test_mergeable_topk_exact_when_shards_small(spark):
    from northwind_etl_spark.operators.heavyhitters import (
        mergeable_topk_sketch,
    )

    # <= k distinct values per shard -> no compress anywhere: the
    # summary IS the exact counts and err_bound = 0
    counts = {"a": 7, "b": 5, "c": 3}
    df = _items_df(spark, counts)
    out = mergeable_topk_sketch(
        df, "item", k=10, shards=3, shard_key="rid"
    ).collect()
    assert {r["item"]: r["est_count"] for r in out} == counts
    assert all(r["err_bound"] == 0 for r in out)


# ------------------------------------- md5 MinHash + delta candidates


def _docs_df(spark, texts: dict[int, str]):
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(texts.items())], "doc_id LONG, text STRING"
    )


_BASE_TEXT = "the quick brown fox jumps over the lazy dog near the river bank today"


def test_minhash_md5_twins_collide_all_bands(spark):
    from northwind_etl_spark.operators import dedup as D

    texts = {
        1: _BASE_TEXT,
        2: _BASE_TEXT,  # exact twin: identical shingles -> identical sig
        3: "completely different words about spark catalyst tungsten engines",
    }
    sigs = D.minhash_signatures_md5(
        _docs_df(spark, texts), "text", "doc_id", num_hashes=12, shingle_n=3
    )
    banded = D.band_keys_md5(sigs, "doc_id", bands=4, num_hashes=12)
    pairs = D.delta_candidate_pairs(banded, banded, "doc_id").collect()
    got = {(r["id_a"], r["id_b"]): r["n_shared_bands"] for r in pairs}
    assert got.get((1, 2)) == 4  # all four bands collide
    assert (1, 3) not in got and (2, 3) not in got


def test_delta_candidates_equal_full_restricted(spark):
    """Incremental maintenance invariant: candidates(store, delta) ==
    full-corpus candidates restricted to pairs touching a delta id."""
    from northwind_etl_spark.operators import dedup as D

    texts = {
        1: _BASE_TEXT,
        2: _BASE_TEXT + " extra",
        3: _BASE_TEXT,
        4: "unrelated text streaming shuffle partitions broadcast join",
        5: _BASE_TEXT + " extra",
        6: "unrelated text streaming shuffle partitions broadcast join",
    }
    sigs = D.minhash_signatures_md5(
        _docs_df(spark, texts), "text", "doc_id", num_hashes=12, shingle_n=3
    )
    banded = D.band_keys_md5(sigs, "doc_id", bands=4, num_hashes=12)
    delta_ids = {5, 6}
    delta = banded.where(F.col("doc_id").isin(*delta_ids))
    inc = {
        (r["id_a"], r["id_b"], r["n_shared_bands"])
        for r in D.delta_candidate_pairs(banded, delta, "doc_id").collect()
    }
    full = {
        (r["id_a"], r["id_b"], r["n_shared_bands"])
        for r in D.delta_candidate_pairs(banded, banded, "doc_id").collect()
        if r["id_a"] in delta_ids or r["id_b"] in delta_ids
    }
    assert inc == full and len(inc) > 0


def test_delta_candidates_hot_bucket_raises(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from northwind_etl_spark.operators import dedup as D

    texts = {i: _BASE_TEXT for i in range(1, 7)}  # 6 identical docs
    sigs = D.minhash_signatures_md5(
        _docs_df(spark, texts), "text", "doc_id", num_hashes=12, shingle_n=3
    )
    banded = D.band_keys_md5(sigs, "doc_id", bands=4, num_hashes=12)
    with pytest.raises(SparkRuntimeException, match="exceeds max_bucket"):
        D.delta_candidate_pairs(
            banded, banded, "doc_id", max_bucket=3
        ).collect()


# -------------------------------------------- longest-prefix match


def test_longest_prefix_match_override_chain(spark):
    from northwind_etl_spark.operators.web import longest_prefix_match

    rules = spark.createDataFrame(
        [
            ("/", "allow"),
            ("/static", "deny"),
            ("/static/css", "allow"),
            ("/p", "allow"),
            ("/p/private", "deny"),
        ],
        "prefix STRING, verdict STRING",
    )
    df = spark.createDataFrame(
        [
            (1, "/static/css/site.css"),  # deny overridden back to allow
            (2, "/static/js/app.js"),  # deny
            (3, "/p/private/doc9"),  # allow overridden to deny
            (4, "/p/123"),  # allow
            (5, "/"),  # root allow
            (6, "no-leading-slash"),  # matches nothing
        ],
        "doc_id LONG, path STRING",
    )
    out = {
        r["doc_id"]: (r["matched_prefix"], r["verdict"])
        for r in longest_prefix_match(
            df, rules, "path", default=F.lit("default-allow")
        ).collect()
    }
    assert out[1] == ("/static/css", "allow")
    assert out[2] == ("/static", "deny")
    assert out[3] == ("/p/private", "deny")
    assert out[4] == ("/p", "allow")
    assert out[5] == ("/", "allow")
    assert out[6] == (None, "default-allow")


# ------------------------------------------------- license rollup


def test_license_rollup_fractions_and_eligibility(spark):
    from northwind_etl_spark.operators.web import license_rollup

    rows = [
        ("a.org", "cc-by", 10),
        ("a.org", "cc0", 20),
        ("a.org", "mystery-license", 5),  # neither permissive nor blocked
        ("b.org", "cc-by", 10),
        ("b.org", "noai", 1),
    ]
    df = spark.createDataFrame(rows, "host STRING, lic STRING, w LONG")
    out = {
        r["host"]: r
        for r in license_rollup(df, "host", "lic", weight_col="w").collect()
    }
    a, b = out["a.org"], out["b.org"]
    assert (a["n_docs"], a["n_permissive"], a["n_blocked"]) == (3, 2, 0)
    assert a["weight"] == 35 and a["train_eligible"] is True
    assert a["permissive_frac"] == pytest.approx(2 / 3, abs=1e-6)
    assert b["train_eligible"] is False and b["blocked_frac"] == 0.5


# ------------------------------------------------ int8 ANN helpers


def test_int8_cosine_exact_properties(spark):
    from northwind_etl_spark.functions.vectors import (
        int8_codes_expr,
        int8_cosine_expr,
        int_dot_expr,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, -3.0]),
            (2, [2.0, 4.0, -6.0]),  # same direction -> quant cosine 1
            (3, [0.0, 0.0, 0.0]),  # zero vector -> NULL cosine
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    coded = df.select(
        "vec_id", int8_codes_expr("embedding").alias("codes")
    )
    rows = {r["vec_id"]: r["codes"] for r in coded.collect()}
    assert rows[1] == [42, 85, -127]  # floor(x/3*127 + .5)
    assert rows[2] == [42, 85, -127]  # scale-invariant codes
    assert rows[3] == [0, 0, 0]
    a = coded.where(F.col("vec_id") == 1).select(
        F.col("codes").alias("ca")
    )
    pairs = (
        coded.crossJoin(F.broadcast(a))
        .select(
            "vec_id",
            int8_cosine_expr("codes", "ca").alias("cq"),
            int_dot_expr("codes", "ca").alias("dq"),
        )
        .collect()
    )
    got = {r["vec_id"]: (r["cq"], r["dq"]) for r in pairs}
    assert got[1][0] == pytest.approx(1.0)
    assert got[2][0] == pytest.approx(1.0)
    assert got[3][0] is None and got[3][1] == 0
    assert got[1][1] == 42 * 42 + 85 * 85 + 127 * 127


# ------------------------------------------- largest-remainder budget


def test_largest_remainder_sums_exactly_and_ranks_ties(spark):
    from northwind_etl_spark.operators.sampling import (
        largest_remainder_allocation,
    )

    # weights 5/3/2 with budget = half of 10 = 5: quotas 2.5/1.5/1.0
    # -> bases 2/1/1 (sum 4), one leftover unit goes to the LARGEST
    # remainder; a/b tie on remainder 5 resolves by class name
    rows = (
        [("a", 1)] * 5 + [("b", 1)] * 3 + [("c", 1)] * 2
    )
    df = spark.createDataFrame(rows, "cls STRING, w LONG")
    out = {
        r["cls"]: r
        for r in largest_remainder_allocation(df, "cls", "w").collect()
    }
    assert sum(r["final_alloc"] for r in out.values()) == 5
    assert out["a"]["final_alloc"] == 3  # remainder tie -> 'a' wins
    assert out["b"]["final_alloc"] == 1
    assert out["c"]["final_alloc"] == 1
    assert all(
        r["final_alloc"] in (r["base_alloc"], r["base_alloc"] + 1)
        for r in out.values()
    )


def test_largest_remainder_proportional_on_exact_split(spark):
    from northwind_etl_spark.operators.sampling import (
        largest_remainder_allocation,
    )

    # exact divisibility -> zero remainders, no +1 units at all
    rows = [("x", 4)] * 10 + [("y", 2)] * 10 + [("z", 2)] * 10
    df = spark.createDataFrame(rows, "cls STRING, w LONG")
    out = {
        r["cls"]: r
        for r in largest_remainder_allocation(df, "cls", "w").collect()
    }
    assert {k: v["final_alloc"] for k, v in out.items()} == {
        "x": 20,
        "y": 10,
        "z": 10,
    }
    assert all(v["extra"] == 0 for v in out.values())


def test_license_token_budget_excludes_blocked(spark, sf_dir):
    from northwind_etl_spark.plans.queries import license_token_budget

    out = license_token_budget(spark, sf_dir).collect()
    classes = {r["license"] for r in out}
    assert "noai" not in classes and "all-rights-reserved" not in classes
    total = sum(r["weight"] for r in out)
    budget = sum(r["final_alloc"] for r in out)
    assert budget == total // 2  # Σ final == B by construction


# --------------------------------------------------- measured quality


def test_rp_lsh_recall_high_on_planted_twins(spark, sf_dir):
    from northwind_etl_spark.plans.queries import rp_lsh_recall_eval

    r = rp_lsh_recall_eval(spark, sf_dir).collect()[0]
    # a 1e-3 nudge on one of 64 dims almost never flips a sign bit
    assert r["n_true_pairs"] > 0
    assert r["recall"] >= 0.9, r
    assert 0.0 <= r["precision"] <= 1.0


def test_kll_eval_within_tolerance_and_err_consistent(spark, sf_dir):
    from northwind_etl_spark.plans.queries import kll_quantile_error_eval

    rows = kll_quantile_error_eval(spark, sf_dir).collect()
    assert len(rows) == 20  # 5 priorities x 4 quantiles
    for r in rows:
        assert r["within_tol"] == (r["rank_err_pct"] <= 5.0)
        got = abs(100.0 * r["n_below"] / r["n_rows"] - r["pct"])
        assert abs(got - r["rank_err_pct"]) < 1e-5


# ------------------------------------------------- md5 SimHash twin


def test_simhash_md5_matches_hand_votes(spark):
    """Two-token doc: the fingerprint must equal the hand-computed
    vote of the two md5 bit patterns (bit 63 first)."""
    import hashlib

    from northwind_etl_spark.operators import dedup as D

    toks = ["alpha", "beta"]
    df = _docs_df(spark, {1: " ".join(toks)})
    got = D.simhash_fingerprints_md5(df, "text", "doc_id").collect()[0][
        "simhash_bits"
    ]

    def h64(tok):
        hx = hashlib.md5(tok.encode()).hexdigest()
        return (int(hx[:8], 16) << 32) | int(hx[8:16], 16)

    votes = [0] * 64
    for t in toks:
        h = h64(t)
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    want = "".join("1" if votes[b] > 0 else "0" for b in range(63, -1, -1))
    assert got == want and len(got) == 64


def test_simhash_md5_twins_and_near_twins(spark):
    from northwind_etl_spark.operators import dedup as D

    texts = {
        1: _BASE_TEXT,
        2: _BASE_TEXT,  # identical -> hamming 0
        3: _BASE_TEXT.replace("river", "ocean"),  # one word -> small hamming
    }
    fps = {
        r["doc_id"]: r["simhash_bits"]
        for r in D.simhash_fingerprints_md5(
            _docs_df(spark, texts), "text", "doc_id"
        ).collect()
    }
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    assert fps[1] == fps[2]
    assert 0 < ham(fps[1], fps[3]) <= 16  # one token of ~14 flips few bits


# --------------------------------------------------- erasure impact


def test_minhash_erasure_planted_partners(spark, tmp_path):
    """doc 17 (17 % 17 == 0) erased; its twin 18 must be released with
    partners_lost=1, partners_left=0; the untouched twin pair 19/20
    must NOT appear (they lose nothing)."""
    from pyspark.sql import functions as SF

    from northwind_etl_spark.plans.queries import minhash_erasure_impact

    other = "unrelated streaming shuffle catalyst tungsten adaptive plans"
    texts = {
        17: _BASE_TEXT,
        18: _BASE_TEXT,
        19: other,
        20: other,
        21: "a third island of words never repeated anywhere else today",
    }
    df = spark.createDataFrame(
        [(k, v, "en", "src0", len(v)) for k, v in sorted(texts.items())],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in
           minhash_erasure_impact(spark, str(tmp_path)).collect()}
    assert set(out) == {18}
    assert out[18]["partners_lost"] == 1 and out[18]["partners_left"] == 0


# ---------------------------------------------- temperature budget


def test_temperature_budget_flattens_shares(spark, tmp_path):
    from northwind_etl_spark.plans.queries import source_temperature_budget

    rows = []
    did = 0
    # srcA: 100 docs x 10 tokens; srcB: 4 docs x 10 tokens
    for n, src in ((100, "srcA"), (4, "srcB")):
        for _ in range(n):
            did += 1
            t = "tok " * 10
            rows.append((did, t.strip(), "en", src, len(t)))
    spark.createDataFrame(
        rows,
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["source"]: r for r in
           source_temperature_budget(spark, str(tmp_path)).collect()}
    a, b = out["srcA"], out["srcB"]
    assert a["raw_tokens"] == 1000 and b["raw_tokens"] == 40
    total_alloc = a["final_alloc"] + b["final_alloc"]
    assert total_alloc == (a["temp_weight"] + b["temp_weight"]) // 2
    raw_share_b = 40 / 1040
    temp_share_b = b["final_alloc"] / total_alloc
    # sqrt tempering lifts the low-resource source: 40/1040 = 3.8% raw
    # -> sqrt(40)/(sqrt(1000)+sqrt(40)) = 16.7% tempered
    assert temp_share_b > 2 * raw_share_b
