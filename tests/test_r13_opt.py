"""Focused tests for the r13 OPTIMIZATION-round changes.  Every change
must be result-identical — these tests pin that:

- the one-parse literal builders (functions/arrays.py) equal the old
  element-wise F.lit spelling value-for-value (the equality the r12
  header comment promised — ADVICE r12);
- the SimHash expression rewrites and BPE's one-fold encode equal
  their older spellings.  (Its selection tests live in
  tests/test_selection.py.)
"""

from __future__ import annotations

import random
from decimal import Decimal

from pyspark.sql import functions as F

from northwind_etl_spark.functions.arrays import (
    lit_decimal_array,
    lit_double_array,
    lit_double_matrix,
    lit_long_array,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_lit_double_array_equals_elementwise_lits(spark):
    rng = random.Random(5)
    vals = [rng.uniform(-1e12, 1e12) for _ in range(200)] + [
        0.0, -0.0, 1e-300, 1.7976931348623157e308, 5e-324, 123456.789
    ]
    fast = _one(spark, lit_double_array(vals))
    slow = _one(spark, F.array(*[F.lit(float(v)) for v in vals]))
    assert len(fast) == len(slow) == len(vals)
    for a, b, v in zip(fast, slow, vals):
        # bit-identical doubles, not approx: repr() round-trips and
        # string->double casts are correctly rounded
        assert a == b == v
        assert str(a) == str(b) == str(float(v))


def test_lit_long_array_equals_elementwise_lits(spark):
    vals = [0, 1, -1, 2**62, -(2**62), 42]
    fast = _one(spark, lit_long_array(vals))
    slow = _one(
        spark, F.array(*[F.lit(int(v)).cast("long") for v in vals])
    )
    assert fast == slow == vals


def test_lit_decimal_array_equals_elementwise_lits(spark):
    strs = ["0.000000000001", "-3.141592653589", "99.999999999999", "0E-12"]
    fast = _one(spark, lit_decimal_array(strs, 14, 12))
    slow = _one(
        spark,
        F.array(
            *[F.lit(s).cast("decimal(14,12)") for s in strs]
        ),
    )
    assert fast == slow == [Decimal(s) for s in strs]


def test_lit_double_matrix_equals_elementwise_lits(spark):
    rng = random.Random(11)
    rows = [[rng.gauss(0, 10) for _ in range(8)] for _ in range(16)]
    fast = _one(spark, lit_double_matrix(rows))
    slow = _one(
        spark,
        F.array(
            *[F.array(*[F.lit(float(v)) for v in row]) for row in rows]
        ),
    )
    assert fast == slow
    for frow, row in zip(fast, rows):
        assert list(frow) == [float(v) for v in row]






def test_simhash_expr_rewrite_identical(spark):
    """The r13 SQL-string spelling of the packed simhash (16 packed
    sums + 64-term fingerprint OR) must equal the untouched
    Column-API unpacked path bit-for-bit."""
    from northwind_etl_spark.operators.dedup import simhash_fingerprints

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),
        (3, "one two three four five six seven"),
        (4, "lorem ipsum dolor sit amet consectetur"),
        (5, "alpha alpha alpha beta"),
        (6, "x"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fast = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(df, "text", "doc_id").collect()
    }
    slow = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(
            df, "text", "doc_id", packed=False
        ).collect()
    }
    assert fast == slow


def test_simhash_md5_expr_rewrite(spark):
    """The r13 SQL-string spelling of the md5 simhash twin must equal
    a pure-Python replay of the definition (md5 leading 16 hex chars
    as two 32-bit halves, ±count votes, bit 63 first)."""
    import hashlib

    from northwind_etl_spark.operators.dedup import simhash_fingerprints_md5

    rows = [
        (1, "alpha beta gamma  beta"),
        (2, "delta epsilon zeta eta theta"),
        (3, "one one one two"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["simhash_bits"]
        for r in simhash_fingerprints_md5(df, "text", "doc_id").collect()
    }

    def expected(text: str) -> str:
        counts: dict[str, int] = {}
        for tok in text.split():
            counts[tok] = counts.get(tok, 0) + 1
        votes = [0] * 64
        for tok, c in counts.items():
            hx = hashlib.md5(tok.encode()).hexdigest()
            h_hi, h_lo = int(hx[:8], 16), int(hx[8:16], 16)
            for b in range(64):
                src = h_hi if b >= 32 else h_lo
                bit = (src >> (b % 32)) & 1
                votes[b] += c if bit == 1 else -c
        return "".join(
            "1" if votes[b] > 0 else "0" for b in range(63, -1, -1)
        )

    assert got == {i: expected(t) for i, t in rows}


def test_bpe_one_fold_encode_equals_chained(spark):
    """The r13 single nested-fold merge application must equal the
    chained per-merge folds — including tokens carrying SQL-hostile
    characters (quotes, backslashes) through the SQL literals."""
    from northwind_etl_spark.operators.bpe import (
        _apply_all_merges_expr,
        _apply_merge,
    )

    words = [
        "banana", "bandana", "aaa", "ab", "o'brien", "a\\b'c", "x",
    ]
    df = spark.createDataFrame([(w,) for w in words], ["word"]).select(
        "word",
        F.lit(1).alias("freq"),
        F.split(F.col("word"), "(?!^)(?=.)").alias("syms"),
    )
    merges = [("a", "n"), ("an", "a"), ("'", "b"), ("\\", "b")]
    chained = df
    for left, right in merges:
        chained = _apply_merge(chained, left, right)
    got_chained = {
        r["word"]: r["syms"] for r in chained.collect()
    }
    one_fold = df.select(
        "word", _apply_all_merges_expr(merges).alias("syms")
    )
    got_fold = {r["word"]: r["syms"] for r in one_fold.collect()}
    assert got_fold == got_chained
    # spot-check the classic run semantics: a,a,a -> (aa),a under ("a","a")
    run = spark.createDataFrame([("aaa",)], ["word"]).select(
        "word",
        F.lit(1).alias("freq"),
        F.split(F.col("word"), "(?!^)(?=.)").alias("syms"),
    )
    got = run.select(
        _apply_all_merges_expr([("a", "a")]).alias("syms")
    ).first()["syms"]
    assert got == ["aa", "a"]

