"""Measured ANN quality for the PQ and IVF index families — the
hash-checkable twins of operators/pq.py and operators/ivf.py.

The production PQ/IVF paths train their codebooks/centroids with
sampled k-means (deterministic, but a SQL engine cannot replay Lloyd
averaging: double SUM order differs per engine).  These evals instead
FREEZE the quantizer seeds as data: codewords/centroids are the first
vectors of the corpus BY ID (k-medoid-style seeding), so every
assignment, every ADC term, and every probe decision is a pure
sequential-fold expression both engines compute bit-for-bit — the
int8_ann_recall_eval discipline extended to the two structured index
families.  Recall here measures the INDEX MECHANICS (subspace
quantization loss, cluster-probe pruning loss) under a fixed seeding;
the trained paths keep their planted-recall pytests.

Driver state: the codebook/centroid rows are fetched with ONE bounded
collect (16 or 8 rows — the same cost class as the ann_lsh/ivf query
-vector fetch, documented there) and embedded as plan literals.

Float discipline (the knn/int8 oracle rules):
- every distance/dot is a SEQUENTIAL left fold over array order;
- per-subspace ADC terms combine by EXPLICIT left-associated addition
  (s ascending), never an unordered SUM aggregate;
- argmin ties break to the smaller codeword/centroid id via
  lexicographic (distance, id) struct comparison;
- rankings order on the raw doubles with the id tie-break.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrays import lit_double_array
from ..functions.vectors import cosine_expr, dot_expr


def _l2sq_to_literal(vec_col, lit_vals: list[float], offset: int, width: int):
    """Σ (x_i − c_i)² over vec_col[offset : offset+width] vs literal
    slice, as one sequential fold (zip_with then aggregate — the same
    element order DuckDB's list_sum(list_transform(...)) walks)."""
    sub = F.slice(vec_col, offset + 1, width)
    lits = lit_double_array(lit_vals[offset : offset + width])
    diffs = F.zip_with(
        sub,
        lits,
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _fetch_seed_vectors(
    emb: DataFrame, n: int, id_col: str, vec_col: str
) -> list[list[float]]:
    rows = (
        emb.where(F.col(id_col) < n)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    if len(rows) < n:
        raise ValueError(
            f"annquality: corpus has only {len(rows)} of the {n} seed"
            f" vectors (ids 0..{n - 1}) the frozen quantizer needs"
        )
    return [[float(x) for x in r[vec_col]] for r in rows]


def _recall_frame(
    scored: DataFrame, q: DataFrame, exact_col: str, approx_col: str, k: int
) -> DataFrame:
    """(query_id, n_hits, recall_at_k) from per-(query, vec) exact and
    approximate scores — two row_numbers over ONE window partitioning,
    hits where both ranks <= k."""
    we = Window.partitionBy("query_id").orderBy(
        F.desc(exact_col), F.asc("vec_id")
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.desc(approx_col), F.asc("vec_id")
    )
    ranked = scored.select(
        "query_id",
        "vec_id",
        F.row_number().over(we).alias("re"),
        F.row_number().over(wa).alias("ra"),
    )
    hits = (
        ranked.where((F.col("re") <= k) & (F.col("ra") <= k))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0).cast("long")).cast("double")
                / F.lit(float(k)),
                6,
            ).alias(f"recall_at_{k}"),
        )
        .orderBy("query_id")
    )


def pq_frozen_recall(
    emb: DataFrame,
    *,
    m: int = 8,
    dsub: int = 8,
    k_codewords: int = 16,
    query_mod: int = 50,
    query_max: int | None = None,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@topk of frozen-codebook PQ-ADC inner-product retrieval vs
    exact dot product: the corpus is coded per subspace to its nearest
    of `k_codewords` codewords (codeword c = the sub-vector of corpus
    vector id c — medoid-style frozen seeding), the query scores each
    vector by the asymmetric-distance sum Σ_s <q_s, codeword(assign_s)>,
    and recall@topk is measured against the exact ranking.  Quantifies
    the PQ family's quantization loss as a hash-checked driver row."""
    cb = _fetch_seed_vectors(emb, k_codewords, id_col, vec_col)
    # r12 optimization round (guide §1.2 — DRIVER time is part of the
    # query): the codebook used to be embedded as m×k separate fold
    # expressions over per-codeword literal arrays (~2k F.lit py4j
    # round-trips + a huge tree for Catalyst to analyze — measured
    # ~10 s of BUILD time per call at m=8, k=16, vs ~1.5 s of actual
    # execution).  r13 round two: the r12 form still embedded the
    # 1024-double codebook literal SIXTEEN times (one per lut{s} and
    # a{s} column), leaving ~2.4 s of analysis time per call — the
    # lut/assignment columns are now single nested-transform ARRAY
    # columns, so the codebook literal appears exactly TWICE.  Both
    # are hand-built SQL (nested lambdas need explicit distinct
    # variable names — PySpark's generated names collide across
    # nesting levels); the folds walk the same slices in the same
    # order with the same CAST/arithmetic, so every distance, LUT
    # entry and (d, c) tie-break is bit-identical (pq_ann_recall_eval
    # stays oracle-hash-green; tests/test_r12_batch.py unchanged).
    from ..functions.arrays import lit_double_matrix_sql

    cbm = lit_double_matrix_sql(cb)
    dot_fold = (
        f"aggregate(zip_with(slice(v, s * {dsub} + 1, {dsub}),"
        f" slice(element_at({cbm}, c + 1), s * {dsub} + 1, {dsub}),"
        " (x, y) -> CAST(x AS DOUBLE) * y),"
        " 0.0D, (acc, z) -> acc + z)"
    )
    l2_fold = (
        f"aggregate(zip_with(slice(v, s * {dsub} + 1, {dsub}),"
        f" slice(element_at({cbm}, c + 1), s * {dsub} + 1, {dsub}),"
        " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " 0.0D, (acc, z) -> acc + z)"
    )
    lut_expr = F.expr(
        f"transform(sequence(0, {m - 1}), s ->"
        f" transform(sequence(0, {k_codewords - 1}), c -> {dot_fold}))"
    )
    # per-subspace assignment: argmin over (dist, c) structs — the
    # lexicographic array_min breaks distance ties to the smaller c
    assign_expr = F.expr(
        f"transform(sequence(0, {m - 1}), s ->"
        f" array_min(transform(sequence(0, {k_codewords - 1}), c ->"
        f" named_struct('d', {l2_fold}, 'c', c))).c)"
    )

    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    qpred = F.col("vec_id") % query_mod == 0
    if query_max is not None:
        qpred = qpred & (F.col("vec_id") < query_max)
    # per-query ADC lookup tables, computed ONCE on the tiny broadcast
    # side: lut[s][c] = <q_s, codeword c_s>.  Computing these per
    # (query, vector) pair instead — the naive expression — multiplies
    # the scoring cost by k_codewords (measured 15× at sf0.1); with
    # the LUT the pair side does m element_at lookups and m−1 adds.
    from ..cache import persist_stage

    # persisted for the same reason as `coded` below: the broadcast
    # does NOT stop Catalyst's CollapseProject, so without the barrier
    # the m×k LUT folds re-evaluate per (query, vector) pair
    q = persist_stage(
        base.where(qpred).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            lut_expr.alias("lut"),
        )
    )
    # persist the per-VECTOR assignment: without the barrier Catalyst
    # collapses this projection into the post-join one and re-evaluates
    # all m×k distance folds PER (query, vector) PAIR — measured 3× the
    # whole eval's cost at sf0.1.  5k rows × 8 ints; released via
    # release_stages like every shared stage.
    coded = persist_stage(base.select("vec_id", "v", assign_expr.alias("a")))
    # ADC: explicit left-associated sum over subspaces (s ascending)
    adc = " + ".join(
        f"element_at(element_at(lut, {s + 1}), element_at(a, {s + 1}) + 1)"
        for s in range(m)
    )
    scored = coded.join(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        dot_expr(F.col("v"), F.col("qv")).alias("dot_exact"),
        F.expr(adc).alias("dot_adc"),
    )
    return _recall_frame(scored, q, "dot_exact", "dot_adc", topk)


def ivf_medoid_recall(
    emb: DataFrame,
    *,
    n_centroids: int = 8,
    nprobe: int = 3,
    query_mod: int = 50,
    query_max: int | None = None,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@topk + scan fraction of medoid-seeded IVF cosine
    retrieval vs exact: vectors assign to the nearest of `n_centroids`
    frozen medoids (centroid j = corpus vector id j, squared-L2,
    (d, j) tie-break); a query probes its `nprobe` nearest centroids
    and scans only vectors assigned there.  The probe test is the
    rank-by-inequality-count formula (strictly-closer centroids + 1),
    identical on both engines — no row_number on the probe path, so
    distance ties cannot diverge.  Quantifies the pruning loss AND the
    pruning win (scan_frac) as one hash-checked driver row per query."""
    cents = _fetch_seed_vectors(emb, n_centroids, id_col, vec_col)
    dim = len(cents[0])
    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    # per-vector assignment over full-dim L2
    cand = F.array(
        *[
            F.struct(
                _l2sq_to_literal(F.col("v"), cents[j], 0, dim).alias("d"),
                F.lit(j).alias("c"),
            )
            for j in range(n_centroids)
        ]
    )
    assigned = base.select(
        "vec_id", "v", F.array_min(cand).getField("c").alias("a")
    )
    # query frame carries its 8 centroid distances (computed ONCE on
    # the tiny broadcast side, not per pair)
    qpred = F.col("vec_id") % query_mod == 0
    if query_max is not None:
        qpred = qpred & (F.col("vec_id") < query_max)
    q = base.where(qpred).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        *[
            _l2sq_to_literal(F.col("v"), cents[j], 0, dim).alias(f"dq{j}")
            for j in range(n_centroids)
        ],
    )
    scored = assigned.join(F.broadcast(q))
    dq_a = F.element_at(
        F.array(*[F.col(f"dq{j}") for j in range(n_centroids)]),
        F.col("a") + 1,
    )
    closer = reduce(
        lambda acc, j: acc
        + F.when(
            (F.col(f"dq{j}") < dq_a)
            | ((F.col(f"dq{j}") == dq_a) & (F.lit(j) < F.col("a"))),
            1,
        ).otherwise(0),
        range(1, n_centroids),
        F.when(
            (F.col("dq0") < dq_a)
            | ((F.col("dq0") == dq_a) & (F.lit(0) < F.col("a"))),
            1,
        ).otherwise(0),
    )
    probed = scored.select(
        "query_id",
        "vec_id",
        cosine_expr(F.col("v"), F.col("qv")).alias("cos_f"),
        (closer + 1 <= nprobe).alias("scanned"),
    )
    we = Window.partitionBy("query_id").orderBy(
        F.desc("cos_f"), F.asc("vec_id")
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.desc(F.when(F.col("scanned"), F.col("cos_f"))), F.asc("vec_id")
    )
    ranked = probed.select(
        "query_id",
        "vec_id",
        "scanned",
        F.row_number().over(we).alias("re"),
        F.when(F.col("scanned"), F.row_number().over(wa)).alias("ra"),
    )
    per_q = ranked.groupBy("query_id").agg(
        F.sum(
            F.when((F.col("re") <= topk) & (F.col("ra") <= topk), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_hits"),
        F.sum(F.when(F.col("scanned"), 1).otherwise(0))
        .cast("long")
        .alias("n_scanned"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    return (
        q.select("query_id")
        .join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0).cast("long")).cast("double")
                / F.lit(float(topk)),
                6,
            ).alias(f"recall_at_{topk}"),
            F.coalesce("n_scanned", F.lit(0).cast("long")).alias("n_scanned"),
            F.round(
                F.coalesce("n_scanned", F.lit(0).cast("long")).cast("double")
                / F.col("n_total").cast("double"),
                6,
            ).alias("scan_frac"),
        )
        .orderBy("query_id")
    )
