"""Distributed BPE merge learning — byte-pair-encoding vocabulary
induction (Sennrich et al. 2016) as an iterative DataFrame algorithm,
the tokenizer-training stage of an LLM data pipeline.

Why this shape survives 100 TB:
- the corpus is collapsed to weighted WORD TYPES first (one
  tokenize+groupBy pass): every later iteration runs on a vocab-sized
  table (|distinct words|), not the corpus — the classic BPE trick,
  and the reason learning merges is cheap no matter how big the text
  is.  100 TB of text has a word-type table in the low billions at
  worst, and merging only shrinks its symbol count;
- each iteration is ONE aggregation (adjacent-pair counts, map-side
  combined) + ONE driver-side argmax (a single row — the only collect)
  + ONE narrow map (the array fold below).  k merges = k small jobs;
- the left-to-right non-overlapping merge is an `aggregate` (fold)
  expression over the symbol array — pure Catalyst, no UDF: append
  each symbol, and when the accumulator tail equals the pair's left
  and the incoming symbol equals its right, replace the tail with the
  merged symbol.  Because merged = left+right and right is non-empty,
  a just-merged tail can no longer equal `left`, so the fold cannot
  double-consume a symbol — it reproduces the reference greedy scan
  exactly (a run a,a,a merges to (aa),a, not a,(aa));
- lineage is truncated by localCheckpoint every `CHECKPOINT_EVERY`
  iterations (same discipline as operators/dedup.py::duplicate_clusters
  — without it the symbol column's plan grows by one fold per merge
  and the optimizer chokes long before 100 iterations).

Pair counting follows the canonical `get_stats` semantics: every
adjacent position counts, so a run a,a,a contributes (a,a) twice —
the merge step, not the count step, is what is non-overlapping.

Tie-break contract: highest pair count, then lexicographically
smallest (left, right) pair key.  Deterministic on any partitioning —
tests pin equality against a pure-Python reference implementation.

Reference parity note: the reference repo has no tokenizer induction
(it is a SQL-Server-to-pandas ETL; see Project Plan7.md:23-36) — this
is north-star LLM-pipeline surface, cited to the public BPE algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.texttools import tokens_expr

__all__ = ["learn_bpe_merges", "bpe_word_types", "encode_with_merges"]

# separator used for the flattened "left right" pair key; words are
# whitespace-tokenized so a space can never appear inside a symbol
PAIR_SEP = chr(32)
# merges between two lineage truncations of the word-type table
CHECKPOINT_EVERY = 5


def bpe_word_types(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) types with the word pre-split into single-char
    symbols — the working set every merge iteration runs on."""
    words = df.select(F.explode(tokens_expr(F.col(text_col))).alias("word"))
    # (?!^)(?=.) — split between chars only: Spark's split keeps
    # trailing empty fields (limit=-1), so a bare (?!^) would append
    # an empty symbol to every word
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("freq")).select(
        "word", "freq", F.split(F.col("word"), "(?!^)(?=.)").alias("syms")
    )


def _pair_counts(types_df: DataFrame) -> DataFrame:
    """Adjacent-symbol-pair counts weighted by word frequency; shuffle
    size is |distinct pairs| thanks to map-side combine."""
    k = F.size("syms") - F.lit(1)
    # sequence(1, 0) yields DESCENDING [1, 0], not empty — guard
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = F.transform(
        idx,
        lambda i: F.concat_ws(
            PAIR_SEP, F.element_at("syms", i), F.element_at("syms", i + 1)
        ),
    )
    return (
        types_df.select("freq", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
    )


def _sql_str(s: str) -> str:
    """A Spark SQL expression for the string `s` that parses the same
    under either `spark.sql.parser.escapedStringLiterals` setting: its
    UTF-8 bytes as a hex binary literal, cast back to string (the
    optimizer folds it to a plain literal).  A quoted literal with
    backslash escapes is read back verbatim when that conf is true."""
    return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"


# The one-merge fold over a symbol array, as a SQL template (r13,
# guide §1.2 / the pq playbook: the Column-API spelling cost ~15 py4j
# round-trips per merge per call site; the parsed string is one).
# {L}/{R}/{M} are _sql_str expressions; {acc}/{x} are lambda variable
# names the caller picks (nested folds need distinct names — Spark
# resolves lambda variables by NAME, so a reused name in a nested
# scope would shadow the outer binding).
_MERGE_FOLD = (
    "aggregate({syms}, CAST(array() AS ARRAY<STRING>),"
    " ({acc}, {x}) -> CASE WHEN size({acc}) > 0"
    " AND element_at({acc}, -1) = {L} AND {x} = {R}"
    " THEN concat(slice({acc}, 1, size({acc}) - 1), array({M}))"
    " ELSE concat({acc}, array({x})) END)"
)


def _apply_merge(types_df: DataFrame, left: str, right: str) -> DataFrame:
    """Left-to-right non-overlapping replacement of (left, right) with
    left+right in every symbol array — a Catalyst fold, no UDF."""
    fold = F.expr(
        _MERGE_FOLD.format(
            syms="syms",
            acc="acc",
            x="x",
            L=_sql_str(left),
            R=_sql_str(right),
            M=_sql_str(left + right),
        )
    )
    return types_df.select("word", "freq", fold.alias("syms"))


def _apply_all_merges_expr(merges: list[tuple[str, str]]) -> "F.Column":
    """ALL merges applied in rank order as ONE nested fold: the outer
    aggregate walks the merge list, the inner aggregate is the same
    left-to-right non-overlapping replacement _apply_merge does — the
    sequential composition is identical, but the plan is a single
    projection instead of k chained selects + periodic localCheckpoints
    (r13: the encode path's 12 chained folds cost ~2 s of driver
    planning and two checkpoint jobs per call; pinned equal to the
    chained spelling in tests/test_r13_opt.py and to the pure-Python
    reference in tests/test_bpe.py)."""
    if not merges:
        return F.col("syms")
    merge_lits = ",".join(
        f"named_struct('l', {_sql_str(left)}, 'r', {_sql_str(right)})"
        for left, right in merges
    )
    # distinct lambda variable names per nesting level: Spark resolves
    # lambda variables by NAME, so reusing one in a nested scope would
    # shadow the outer binding (m would become unreachable)
    inner = (
        "aggregate(acc0, CAST(array() AS ARRAY<STRING>),"
        " (a1, x1) -> CASE WHEN size(a1) > 0"
        " AND element_at(a1, -1) = m.l AND x1 = m.r"
        " THEN concat(slice(a1, 1, size(a1) - 1), array(concat(m.l, m.r)))"
        " ELSE concat(a1, array(x1)) END)"
    )
    return F.expr(
        f"aggregate(array({merge_lits}), syms, (acc0, m) -> {inner})"
    )


def _persistent_rdd_ids(sc) -> set[int]:
    ids: set[int] = set()
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def _unpersist_rdd_ids(sc, ids: set[int]) -> None:
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        t = it.next()
        if t._1() in ids:
            t._2().unpersist(False)


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    *,
    n_merges: int = 20,
    min_freq: int = 2,
) -> DataFrame:
    """Learn `n_merges` BPE merges over the corpus; returns a DataFrame
    (rank, left, right, merged, pair_count) in merge order.  Stops
    early when the best remaining pair's count drops below `min_freq`.
    """
    from ..cache import checkpoint_stage

    spark = df.sparkSession
    sc = spark.sparkContext
    types_df = bpe_word_types(df, text_col).persist()
    merges: list[tuple[int, str, str, str, int]] = []
    # local checkpoint blocks are NOT tracked by the SQL cache manager
    # and outlive the call until async ContextCleaner GC — track their
    # RDD ids explicitly so (a) at most ONE checkpoint's blocks are
    # ever live (the superseded one is released as soon as its
    # successor materializes) and (b) the session is block-clean on
    # return, also when a round raises, instead of "eventually, after
    # GC".
    ckpt_ids: set[int] = set()
    try:
        types_df.count()  # materialize the one corpus pass
        current = types_df
        for rank in range(n_merges):
            top = (
                _pair_counts(current)
                .orderBy(F.desc("pair_count"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not top or top[0]["pair_count"] < min_freq:
                break
            left, right = top[0]["pair"].split(PAIR_SEP)
            merges.append(
                (rank, left, right, left + right, int(top[0]["pair_count"]))
            )
            current = _apply_merge(current, left, right)
            if (rank + 1) % CHECKPOINT_EVERY == 0:
                before = _persistent_rdd_ids(sc)
                current = checkpoint_stage(current)  # eager: blocks exist now
                new_ids = _persistent_rdd_ids(sc) - before
                _unpersist_rdd_ids(sc, ckpt_ids)
                ckpt_ids = new_ids
    finally:
        # the returned DataFrame is built from the collected merge
        # list, so nothing references the last checkpoint's blocks
        types_df.unpersist()
        _unpersist_rdd_ids(sc, ckpt_ids)
    return spark.createDataFrame(
        merges,
        "rank INT, left STRING, right STRING, merged STRING, pair_count BIGINT",
    )


def encode_with_merges(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge list (rank order) and return per-doc
    encoded statistics: (id, n_words, n_symbols) where n_symbols is
    the post-BPE symbol count — the token count a trainer would see.

    Same word-type trick as learning: the k merges run over the
    DISTINCT words, and documents join the resulting word →
    symbol-count map — the corpus itself is never folded.  The join is
    per word occurrence; broadcast-ability follows vocab size, left to
    AQE.

    r13 optimization round: the k merges are ONE nested fold
    (_apply_all_merges_expr) instead of k chained selects with
    periodic localCheckpoints — the same sequential composition per
    word, but the vocab table is now touched in a single projection
    (the chained spelling cost ~2 s of driver plan-build/analysis and
    two checkpoint jobs per call at k=12; at scale it saved nothing —
    each checkpoint was a full pass over the vocab table).
    """
    words = df.select(
        F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("word")
    )
    types_df = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq")).select(
        "word", F.split(F.col("word"), "(?!^)(?=.)").alias("syms")
    )
    from ..cache import persist_stage

    # land the vocab-sized word→symbol-count map in the TRACKED stage
    # cache (caller releases via release_stages);
    # the returned plan reads the persisted map
    sym_counts = persist_stage(
        types_df.select(
            "word", F.size(_apply_all_merges_expr(merges)).alias("n_syms")
        )
    )
    return (
        words.join(sym_counts, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_symbols"),
        )
    )
