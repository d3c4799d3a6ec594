"""Train/eval contamination detection (north-star §2b): find training
documents that share n-gram shingles with held-out evaluation
documents — the decontamination step every LLM training pipeline runs
before a data release.

Scale shape (the part that must be right at 100 TB of train data):

- eval corpora are small relative to train (benchmarks are thousands of
  docs, train is billions), so the eval side is aggregated into
  per-shingle posting lists FIRST and the train side streams against
  them with one hash-shuffle on shingle — the train corpus is never
  collected, never self-joined, and never aggregated per-pair before
  the shingle-level filter.
- hot shingles are dropped on the eval side before the join (max_df):
  a boilerplate shingle present in thousands of eval docs would
  multiply every matching train doc by thousands of pairs while
  carrying no contamination signal — the same guard as
  dedup.py::ngram_jaccard.
- posting lists are additionally width-capped (max_bucket) so one
  degenerate shingle is a bounded cost, mirroring _bucket_pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.texttools import shingles_expr
from ..session import repartition_width


def cross_corpus_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    min_shared: int = 2,
    max_df: int = 500,
) -> DataFrame:
    """(train_id, eval_id, n_shared) for pairs sharing ≥ min_shared
    distinct word-n-gram shingles.  Exact set semantics (shingles_expr
    is distinct per doc) — fully SQL-oracle-checkable."""
    par = repartition_width(train.sparkSession)
    tr = train.repartition(par, F.col(id_col)).select(
        F.col(id_col).alias("train_id"),
        F.explode(shingles_expr(F.col(text_col), shingle_n)).alias("shingle"),
    )
    ev = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode(shingles_expr(F.col(text_col), shingle_n)).alias("shingle"),
    )
    # hot-shingle df-cutoff: the full posting list must be seen to know
    # a shingle is hot, THEN the whole shingle is dropped (a slice-cap
    # would silently keep a biased prefix of a no-signal shingle)
    ev_postings = (
        ev.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("eval_id")).alias("eids"))
        .where(F.size("eids") <= max_df)
    )
    pairs = tr.join(ev_postings, "shingle").select(
        "train_id", F.explode("eids").alias("eval_id")
    )
    return (
        pairs.groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
