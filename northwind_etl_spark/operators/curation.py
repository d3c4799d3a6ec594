"""Training-data curation: DSIR importance weighting and greedy
max-coverage selection — the "which documents do we keep?" operators
that sit between dedup/quality-filtering and the final mixture sample.

- ``dsir_importance_weights`` (Xie et al. 2023, "Data Selection for
  Language Models via Importance Resampling", reduced to its hashed
  n-gram core): score every raw document by how target-like its hashed
  token distribution is, log w(d) = Σ_b tf_d(b)·(ln p_target(b) −
  ln p_raw(b)) with add-one-smoothed bucket unigram models.  The ln is
  the only transcendental, and it sits in a hash path — so both
  probabilities are quantized onto the SAME frozen 1024-cell grid the
  DP noise map uses (functions/lnlut.py: ln((g+0.5)/1024) pre-rounded
  to DECIMAL(14,12)), making this a QUANTIZED DSIR with zero runtime
  libm on either engine: grid index (c+1)·1024 DIV (N+B) is exact
  integer arithmetic, the per-bucket log-ratio is an exact decimal
  difference, the per-doc sum is an order-independent decimal sum, and
  the released score is ONE final correctly-rounded cast to DOUBLE.
  Quantization cost: each ln is off by at most half a grid cell of its
  true value (the dp_noisy_counts argument), uniformly across buckets —
  ranking fidelity loss is negligible at B=256 and it buys bit-exact
  cross-engine evidence.

  100 TB shape: ONE shuffle to (doc, bucket, tf); the two bucket
  models are B-row aggregates (B=256) broadcast back onto it; the
  per-doc reduce is a hash agg keyed by doc.  The raw corpus is never
  joined to itself and never leaves the executors.

- ``greedy_coverage_select`` (the classic (1−1/e) greedy for submodular
  max-coverage — Nemhauser et al. 1978; facility-location-style data
  selection): pick k documents, each round the one covering the most
  NOT-yet-covered vocabulary, ties to the smallest doc_id.  Iterative
  by nature: k bounded rounds, each ONE anti-join + ONE hash agg +
  a 1-row argmax collect (driver state = the k selected ids).  The
  covered-set relation is persisted per round and bounded by |vocab|.
  The oracle unrolls the same k rounds as CTEs (the PageRank/k-core
  pattern), so selection order, marginal gains, and cumulative
  coverage are all exact cross-engine evidence.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.lnlut import LAPLACE_LN_GRID, LAPLACE_LN_LUT, laplace_ln_lut_col


def _ln_lut_col() -> F.Column:
    return laplace_ln_lut_col()


def _grid_index(count_sql: str, total_sql: str) -> F.Column:
    """floor(p * GRID) for p = count/total as EXACT integral division
    end to end, via SQL DIV on longs (ADVICE r09: the previous
    (a − a%b)/b idiom routed the long numerator through a DOUBLE
    division — exact only while the numerator stays under 2^53; a
    bucket holding > 2^43 tokens, plausible at the claimed 100 TB
    scale, could mis-floor by one grid cell).  Takes SQL snippets so
    DIV can be expressed (the Column API has no integral-divide).
    Clamped to the last cell (p == 1.0 would index one past the end).
    The oracle uses DuckDB's native `//` — the same true floor."""
    a = f"(CAST(({count_sql}) AS BIGINT) * {LAPLACE_LN_GRID})"
    g = F.expr(f"{a} DIV CAST(({total_sql}) AS BIGINT)").cast("int")
    return F.least(F.lit(LAPLACE_LN_GRID - 1), g)


def dsir_importance_weights(
    df: DataFrame,
    target: DataFrame | None = None,
    *,
    target_filter: F.Column | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Per-document quantized DSIR log importance weight of `df`
    (the raw corpus) toward the target distribution.  Returns
    (id_col, n_tokens, log_weight DOUBLE); higher = more target-like.

    Pass the target ONE of two ways:
    - `target_filter` (a boolean Column over `df`'s rows) when the
      target is a subset of the raw corpus — the common DSIR setup
      ("match the high-quality slice").  The corpus is then tokenized
      and bucket-aggregated ONCE: the target model aggregates the SAME
      persisted (doc, bucket, tf) stage under the filter.  At sf0.1
      the wall time is flat (the shared token stage dominates either
      way), but at 100 TB this is the difference between one corpus
      scan and two.
    - `target` (a separate DataFrame) when the target corpus is
      genuinely different data; it gets its own tokenization pass.
    """
    from ..cache import persist_stage
    from .text import _doc_term_counts

    if n_buckets < 2 or n_buckets > 4096:
        raise ValueError("n_buckets must be in [2, 4096]")
    if (target is None) == (target_filter is None):
        raise ValueError("pass exactly one of target / target_filter")

    def bucketed(frame: DataFrame) -> DataFrame:
        tc = _doc_term_counts(frame, text_col, id_col)
        bucket = (
            F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10)
            .cast("long")
            % F.lit(n_buckets)
        ).cast("int")
        return tc.groupBy(F.col(id_col), bucket.alias("bucket")).agg(
            F.sum("tf").cast("long").alias("tf")
        )

    if target_filter is not None:
        # one tokenization feeds BOTH models: tag each doc with its
        # target membership and carry the tag through the bucket agg
        flags = df.select(
            F.col(id_col), target_filter.alias("__tgt")
        )
        raw_db = persist_stage(
            bucketed(df).join(flags, id_col)
        )
    else:
        raw_db = persist_stage(bucketed(df))

    def model(frame_db: DataFrame, name: str) -> DataFrame:
        """(bucket, lnp) — add-one-smoothed bucket model, ln from the
        frozen grid.  A dense spine guarantees all B buckets exist
        (unseen buckets get the +1 smoothing mass)."""
        spark = frame_db.sparkSession
        spine = spark.range(n_buckets).select(
            F.col("id").cast("int").alias("bucket")
        )
        counts = (
            spine.join(
                frame_db.groupBy("bucket").agg(
                    F.sum("tf").cast("long").alias("c")
                ),
                "bucket",
                "left",
            )
            .select("bucket", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
        )
        total = counts.agg(
            (F.sum("c") + F.lit(n_buckets)).cast("long").alias("t")
        )
        g = _grid_index("c + 1", "t")
        return (
            counts.join(F.broadcast(total))
            .select(
                "bucket",
                F.element_at(_ln_lut_col(), g + F.lit(1)).alias(
                    f"lnp_{name}"
                ),
            )
        )

    target_db = (
        raw_db.where(F.col("__tgt"))
        if target_filter is not None
        else bucketed(target)
    )
    models = model(target_db, "t").join(model(raw_db, "r"), "bucket")
    scored = raw_db.join(F.broadcast(models), "bucket").groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.sum(
            F.col("tf").cast("decimal(20,0)")
            * (F.col("lnp_t") - F.col("lnp_r"))
        )
        .cast("decimal(38,12)")
        .cast("double")
        .alias("log_weight"),
    )
    return scored


def greedy_coverage_select(
    df: DataFrame,
    k: int,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy max-coverage selection of k documents over the distinct
    whitespace-token universe.  Returns one row per round:
    (round, doc_id, gain, covered_total) where gain is the round's
    marginal new-token count and covered_total the cumulative distinct
    tokens covered.  Deterministic: ties break to the smallest id."""
    from ..cache import checkpoint_stage, persist_stage
    from ..functions.texttools import tokens_expr

    if k < 1:
        raise ValueError("k must be >= 1")
    spark = df.sparkSession
    dt = persist_stage(
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(tokens_expr(F.col(text_col))).alias("__term"),
        ).distinct()
    )
    covered: DataFrame | None = None
    rows = []
    covered_total = 0
    for rnd in range(1, k + 1):
        cand = dt if covered is None else dt.join(
            covered, "__term", "left_anti"
        )
        top = (
            cand.groupBy("__id")
            .agg(F.count(F.lit(1)).alias("g"))
            .orderBy(F.desc("g"), F.asc("__id"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["g"] == 0:
            break  # universe exhausted before k rounds
        sel, gain = top[0]["__id"], int(top[0]["g"])
        covered_total += gain
        rows.append((rnd, sel, gain, covered_total))
        new_cov = dt.where(F.col("__id") == F.lit(sel)).select("__term")
        merged = (
            new_cov if covered is None else covered.union(new_cov)
        ).distinct()
        # the eager checkpoint bounds lineage across rounds, and each
        # round's anti-join reads its materialized blocks, not a replay
        covered = checkpoint_stage(merged)
    return spark.createDataFrame(
        rows, "round INT, doc_id BIGINT, gain BIGINT, covered_total BIGINT"
    )


def interleave_schedule(
    df: DataFrame, source_col: str, *, k_steps: int = 1000
) -> DataFrame:
    """Deterministic mixture-interleaving CURRICULUM: the first
    `k_steps` training steps' source schedule, with each source s
    served n_s times (largest-remainder share of its corpus row count)
    at maximally even spacing — occurrence j of source s lands at
    position p = ceil(j*K/n_s), collisions resolved by source name.
    This is the step-level counterpart of mixture_sample (WHICH rows
    to train on → WHEN each source's turn comes), the schedule an
    interleaved data loader follows so no source floods a training
    window.

    The step index is computed in CLOSED FORM, not by a global window
    over the K exploded rows (the plan lint's single-partition funnel
    rule): step(s, j) = 1 + (j-1) + Σ_{s'≠s} |{j': p' < p}| +
    Σ_{s'<s} |{j': p' = p}|, where |{j': p' <= x}| = (x*n_s') DIV K
    exactly (ceil inversion on integers).  Every term is integral
    arithmetic both engines replay; the result is a permutation of
    1..K (pinned in tests).

    Returns (step, source, occurrence) ordered by step.
    """
    if k_steps < 1:
        raise ValueError("k_steps must be >= 1")
    k = int(k_steps)
    counts = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    n_tot = F.sum("c").over(w_all)
    base = F.expr(f"(c * {k}) DIV n_tot").cast("long")
    rem = (F.col("c") * k) % F.col("n_tot")
    quotas = (
        counts.withColumn("n_tot", n_tot)
        .withColumn("base", base)
        .withColumn("rem", rem)
        .withColumn("leftover", F.lit(k) - F.sum("base").over(w_all))
        .withColumn(
            "rk",
            F.row_number().over(
                w_all.orderBy(F.desc("rem"), F.asc("source"))
            ),
        )
        .select(
            "source",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            ).alias("n_s"),
        )
        .where(F.col("n_s") > 0)
    )
    occ = quotas.select(
        "source",
        "n_s",
        F.explode(F.sequence(F.lit(1), F.col("n_s").cast("int"))).alias("j"),
    ).withColumn("p", F.expr(f"(j * {k} + n_s - 1) DIV n_s").cast("long"))
    others = quotas.select(
        F.col("source").alias("o_source"), F.col("n_s").alias("o_n")
    )
    # LEFT join: with a single source there are no "others" and the
    # rank term is plain j — an inner join would drop every row
    contrib = (
        occ.join(
            F.broadcast(others),
            F.col("o_source") != F.col("source"),
            "left",
        )
        .withColumn("lt", F.expr(f"((p - 1) * o_n) DIV {k}"))
        .withColumn("le", F.expr(f"(p * o_n) DIV {k}"))
        .groupBy("source", "j", "p")
        .agg(
            F.sum(
                F.coalesce(
                    F.col("lt")
                    + F.when(
                        F.col("o_source") < F.col("source"),
                        F.col("le") - F.col("lt"),
                    ).otherwise(0),
                    F.lit(0),
                )
            )
            .cast("long")
            .alias("ahead")
        )
    )
    return (
        contrib.select(
            (F.col("j") + F.col("ahead")).cast("long").alias("step"),
            "source",
            F.col("j").cast("long").alias("occurrence"),
        )
        .orderBy("step")
    )
