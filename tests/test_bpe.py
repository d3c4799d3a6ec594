"""BPE merge learning (operators/bpe.py) vs a pure-Python reference
implementation of the canonical algorithm (Sennrich et al. get_stats /
merge loop) — the iterative-algorithm analog of an oracle check: both
engines must produce the IDENTICAL merge sequence, counts included.
"""

from __future__ import annotations

from collections import Counter

import pytest

from northwind_etl_spark.operators.bpe import (
    _persistent_rdd_ids,
    bpe_word_types,
    learn_bpe_merges,
)


def _reference_bpe(texts: list[str], n_merges: int, min_freq: int):
    """Canonical BPE on word types: overlapping pair counts, greedy
    left-to-right non-overlapping merge, tie-break by (-count, then
    lexicographic 'left right' flattened key) — the same contract the
    Spark implementation documents."""
    words = Counter()
    for t in texts:
        for w in t.split():
            if w:
                words[w] += 1
    vocab = {w: list(w) for w in words}
    merges = []
    for rank in range(n_merges):
        stats: Counter = Counter()
        for w, freq in words.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += freq
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1]))
        (left, right), count = best
        if count < min_freq:
            break
        merges.append((rank, left, right, left + right, count))
        for w in vocab:
            syms = vocab[w]
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


@pytest.mark.parametrize(
    "texts,n",
    [
        (["low lower lowest", "low low lowest", "newer newest new"], 8),
        (["aaaa aaa aa a", "aaaa aaa"], 5),  # run-collapse edge: greedy pairs
        (["abc abd abe", "abc abc"], 6),
    ],
)
def test_bpe_matches_reference(spark, texts, n):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in learn_bpe_merges(df, "text", n_merges=n, min_freq=2)
        .orderBy("rank")
        .collect()
    ]
    want = _reference_bpe(texts, n, 2)
    assert got == want


def test_bpe_fold_is_left_to_right_nonoverlapping(spark):
    """The in-plan merge fold must consume runs greedily left-to-right:
    merging (a, a) over 'aaaa' gives (aa)(aa); over 'aaa' gives (aa)a."""
    from pyspark.sql import functions as F

    from northwind_etl_spark.operators.bpe import _apply_merge

    df = spark.createDataFrame([("aaaa", 1), ("aaa", 1)], ["word", "freq"]).select(
        "word", "freq", F.split("word", "(?!^)(?=.)").alias("syms")
    )
    out = {r["word"]: r["syms"] for r in _apply_merge(df, "a", "a").collect()}
    assert out["aaaa"] == ["aa", "aa"]
    assert out["aaa"] == ["aa", "a"]


def test_bpe_word_types_weighting(spark):
    df = spark.createDataFrame([(0, "cat cat dog")], ["doc_id", "text"])
    rows = {r["word"]: r["freq"] for r in bpe_word_types(df, "text").collect()}
    assert rows == {"cat": 2, "dog": 1}


def test_bpe_early_stop_below_min_freq(spark):
    df = spark.createDataFrame([(0, "ab cd ef")], ["doc_id", "text"])
    out = learn_bpe_merges(df, "text", n_merges=10, min_freq=2).collect()
    assert out == []  # every pair occurs once


def test_bpe_leaves_no_persistent_blocks(spark):
    """learn_bpe_merges must release its word-type persist AND its
    localCheckpoint blocks on return — checkpoint blocks bypass the SQL
    cache manager and would otherwise linger until async GC."""
    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    texts = ["low lower lowest newer newest " * 5] * 4
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    # 11 merges: the checkpoint after merge 10 supersedes the one
    # after merge 5 (CHECKPOINT_EVERY = 5)
    out = learn_bpe_merges(df, "text", n_merges=11, min_freq=2)
    assert out.count() == 11
    assert _persistent_rdd_ids(sc) - before == set()


def test_bpe_failed_round_leaves_no_persistent_blocks(spark, monkeypatch):
    """A round that raises must still release the word-type persist
    and the live checkpoint's blocks."""
    from northwind_etl_spark.operators import bpe

    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    texts = ["low lower lowest newer newest " * 5] * 4
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    apply_merge = bpe._apply_merge
    calls = []

    def failing_merge(current, left, right):
        calls.append((left, right))
        if len(calls) > bpe.CHECKPOINT_EVERY + 1:  # after one checkpoint
            raise RuntimeError("round failed")
        return apply_merge(current, left, right)

    monkeypatch.setattr(bpe, "_apply_merge", failing_merge)
    with pytest.raises(RuntimeError, match="round failed"):
        learn_bpe_merges(df, "text", n_merges=11, min_freq=2)
    assert _persistent_rdd_ids(sc) - before == set()


def test_encode_with_merges_matches_reference_vocab(spark):
    """Encoding with the learned merges must give each doc the symbol
    count the reference implementation's final vocab implies."""
    from northwind_etl_spark.operators.bpe import encode_with_merges

    before = _persistent_rdd_ids(spark.sparkContext)
    texts = ["low lower lowest", "low low lowest", "newer newest new"]
    n = 8
    merges = _reference_bpe(texts, n, 2)
    pairs = [(m[1], m[2]) for m in merges]
    # reference final vocab
    vocab = {}
    for t in texts:
        for w in t.split():
            vocab.setdefault(w, list(w))
    for left, right in pairs:
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    want = {
        di: sum(len(vocab[w]) for w in t.split())
        for di, t in enumerate(texts)
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["n_symbols"]
        for r in encode_with_merges(df, pairs, "text", "doc_id").collect()
    }
    assert got == want
    # intermediate checkpoint blocks are freed; only the tracked
    # stage-cache entry (the word->symbol map) remains, and
    # release_stages clears it.  Compared by RDD id against the blocks
    # held before the call: earlier tests' blocks, and the cleaner
    # dropping them meanwhile, are not this call's.
    from northwind_etl_spark.cache import release_stages

    release_stages()
    assert _persistent_rdd_ids(spark.sparkContext) - before == set()


def test_bpe_symbols_survive_escaped_string_literals(spark):
    """Merge symbols reach the fold as SQL text; a quote or a backslash
    in a symbol must mean the same thing whichever way the session's
    parser reads string literals."""
    from northwind_etl_spark.cache import release_stages
    from northwind_etl_spark.operators.bpe import encode_with_merges

    texts = ["o'b o'b o'b a\\b a\\b a\\b", "o'b a\\b"]
    n = 4
    want = _reference_bpe(texts, n, 2)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    conf = "spark.sql.parser.escapedStringLiterals"
    orig = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        got = [
            (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
            for r in learn_bpe_merges(df, "text", n_merges=n, min_freq=2)
            .orderBy("rank")
            .collect()
        ]
        encoded = {
            r["doc_id"]: r["n_symbols"]
            for r in encode_with_merges(
                df, [(m[1], m[2]) for m in want], "text", "doc_id"
            ).collect()
        }
    finally:
        spark.conf.set(conf, orig)
        release_stages()
    assert got == want
    # every word merges down to one symbol: "o'b" and "a\b" each take
    # two of the four merges
    assert encoded == {0: 6, 1: 2}
