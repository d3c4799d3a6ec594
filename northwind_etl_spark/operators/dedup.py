"""Deduplication family (north-star §2b): exact, hash, MinHash+LSH,
SimHash, n-gram Jaccard.

Everything here is shuffle-aware by construction:

- exact / hash dedup: one hash-partitioned groupBy on the dedup key —
  at 100 TB this shuffles only (key, min_id) pairs after map-side
  combine, not documents.
- MinHash+LSH: the classic MapReduce shape — per-doc signatures are
  embarrassingly parallel; candidate generation is a groupBy on
  (band_id, band_hash) so only docs sharing a band bucket ever meet.
  No O(n²) pair enumeration exists anywhere.
- SimHash: explode→aggregate per doc; candidate pairs via banding the
  64-bit fingerprint into 4 × 16-bit bands (Hamming-distance-tolerant
  blocking), then exact Hamming verify within buckets.
- n-gram Jaccard: |∩| from shingle posting lists (one shuffle on
  shingle, pairs expanded array-locally, hot shingles dropped at
  max_df), |∪| from per-doc set sizes — shuffle-on-key throughout,
  skew-tolerant under AQE.

Candidate generation everywhere is bucket-grouped array expansion, not
self-joins: the upstream signature subtree is computed once and
degenerate buckets are cost-capped (max_bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import checkpoint_stage, persist_stage
from ..functions.texttools import shingles_from_tokens
from ..session import repartition_width

# -- exact ----------------------------------------------------------------


def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Deterministic exact dedup: keep MIN(id) per key group.

    Canonical-winner semantics (unlike dropDuplicates) so results are
    oracle-reproducible: SELECT key, MIN(id) GROUP BY key.
    """
    return df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))


def dedup_hash(df: DataFrame, text_col: str, id_col: str, *, normalize: bool = True) -> DataFrame:
    """Content-hash dedup: md5 of (optionally normalized) text.

    At scale this beats dedup_exact on long documents — the shuffle key
    is a 16-byte digest, not the document body.
    """
    t = F.col(text_col)
    if normalize:
        t = F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")
    return (
        df.withColumn("content_hash", F.md5(t))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


# -- MinHash + LSH --------------------------------------------------------


def _exploded_shingles(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(id, shingle) rows derived from the shared persisted token-array
    stage (operators/text.py::_doc_tokens) — ONE corpus tokenization
    serves the whole dedup family AND the text-analysis family (the
    cache manager keys the stage on its canonicalized plan, so
    minhash, ngram-jaccard, simhash, tf-idf, surprisal, and repetition
    stats over the same corpus all hit the same entry).

    The stage's repartition matters twice over: locally the documents
    file is a single parquet split (string work would run on one
    core); at 100 TB it hash-distributes by id so downstream per-id
    aggregations need no second shuffle.
    """
    from .text import _doc_tokens

    toks = _doc_tokens(df, text_col, id_col)
    return toks.select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("__toks"), shingle_n)).alias("shingle"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 32,
    shingle_n: int = 3,
    keep_shingles: bool = False,
) -> DataFrame:
    """Per-doc MinHash signature: k independent hashes via xxhash64 with
    distinct seeds, as explode → k MIN aggregates.

    This shape beats k× array_min(transform(...)) by a wide margin: the
    shingle set is materialized once (not re-derived per hash), the MINs
    are map-side-combined, and the explode parallelizes long documents
    across cores.  All codegen, no UDFs.

    keep_shingles=True additionally re-collects the (distinct) shingle
    set as a sorted array column `__sh` in the SAME aggregation pass —
    the corpus is tokenized and shuffled exactly once, and downstream
    consumers (LSH candidates AND exact-Jaccard verify) all hang off
    this one exchange, which Catalyst's ReuseExchange dedups.
    """
    sh = _exploded_shingles(df, text_col, id_col, shingle_n)
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"__h{i}")
        for i in range(num_hashes)
    ]
    if keep_shingles:
        # shingles_expr is distinct per doc, so collect_set == the
        # original shingle array (sorted for determinism)
        aggs.append(F.sort_array(F.collect_set("shingle")).alias("__sh"))
    agg = sh.groupBy(id_col).agg(*aggs)
    cols = [
        F.col(id_col),
        F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("signature"),
    ]
    if keep_shingles:
        cols.append(F.col("__sh"))
    return agg.select(*cols)


def _bucket_pairs(banded: DataFrame, id_col: str, *, max_bucket: int) -> DataFrame:
    """(id_a, id_b) pairs per (band, bucket) WITHOUT a self-join: group
    each bucket's ids into a sorted, width-capped array and expand the
    pairs array-locally.

    Two wins over the banded self-join: the upstream (signatures) is
    computed once, not once per join side (no reliance on
    ReusedExchange), and the max_bucket cap makes degenerate buckets
    (boilerplate-heavy corpora) a bounded cost instead of an O(n²) blowup.
    """
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.slice(F.sort_array(F.collect_list(id_col)), 1, max_bucket).alias("ids"))
        .where(F.size("ids") > 1)
    )
    n = F.size("ids")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(F.col("ids"), i + 1, n - i),
                lambda y: F.struct(
                    F.element_at(F.col("ids"), i).alias("id_a"), y.alias("id_b")
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    *,
    bands: int = 8,
    num_hashes: int = 32,
    max_bucket: int = 256,
) -> DataFrame:
    """Band the signature, bucket by (band, band-hash), emit candidate
    pairs from same-bucket doc sets via array-local expansion."""
    rows_per_band = num_hashes // bands
    banded = signatures.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("signature")[i]
                                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    return _bucket_pairs(banded, id_col, max_bucket=max_bucket)


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    shingle_n: int = 3,
    max_bucket: int = 256,
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → exact
    Jaccard verify on the candidate pairs only.

    ``max_bucket`` is forwarded to the candidate stage: on
    boilerplate-heavy corpora many documents share band buckets, and
    the cap bounds per-bucket pair expansion at the cost of recall
    inside degenerate buckets (measured by the dedup_hot probe table
    in PLANS.md).

    Verification joins the (small) candidate-pair set against per-doc
    shingle *arrays* and computes |∩| with array_intersect — two joins
    against a set that LSH already shrank, instead of a second
    explode/self-join pass over the corpus.  The arrays come from the
    SAME aggregation that built the signatures (keep_shingles=True), so
    the corpus is tokenized/shingled/shuffled once and every consumer
    reuses that exchange — not re-derived per branch.  Returns (id_a,
    id_b, jaccard) for pairs with jaccard ≥ threshold.
    """
    sigs = persist_stage(
        minhash_signatures(
            df, text_col, id_col, num_hashes=num_hashes, shingle_n=shingle_n,
            keep_shingles=True,
        )
    )
    # The explicit persist is what actually makes "tokenize once" true:
    # the three consumers (banding, verify-a, verify-b) are separate
    # plan branches, and AQE's stage cache does NOT dedup them (the
    # candidate branch prunes __sh, so the canonicalized aggregates
    # differ — verified empirically: 3 parquet scans without persist).
    # persist() is keyed on the canonicalized plan in the cache
    # manager, so repeated calls share one entry (no growth) and
    # eviction falls back to recompute, never to wrong results.  At
    # 100 TB this materializes ids+signatures+shingle sets — the
    # standard cost of a multi-consumer pipeline stage, far below
    # re-tokenizing the corpus twice more.
    cands = lsh_candidate_pairs(
        sigs.select(id_col, "signature"), id_col, bands=bands,
        num_hashes=num_hashes, max_bucket=max_bucket,
    )
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - inter
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.round(inter.cast("double") / F.nullif(union.cast("double"), F.lit(0.0)), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -- SimHash --------------------------------------------------------------


def simhash_fingerprints(
    df: DataFrame, text_col: str, id_col: str, *, packed: bool = True
) -> DataFrame:
    """64-bit SimHash per doc: token hashes vote ±1 per bit position;
    fingerprint bit b = 1 iff the vote sum is positive.

    ``packed=True`` (default) algebraically rewrites the vote: with
    S_b = Σ bit_b(h) over token occurrences and T = the occurrence
    count, vote_b = 2·S_b − T, so only the S_b sums are needed — and
    four of them fit in 15-bit lanes of one bigint (per-doc lane sum
    ≤ T), cutting the aggregate count from 64 conditional sums to 16
    packed sums + one count.  That in turn makes a (id, hash)
    pre-aggregation counterproductive: summing straight over the
    exploded token stream is ONE aggregation (map-side partials
    collapse rows for free) and measured 3× faster than the two-stage
    shape at sf0.1 (0.53 s vs 1.57 s warm; PLANS.md).  Identical output
    (tests/test_rows_only_queries.py proves bit-equality); the
    precondition T < 2^15 per doc is enforced by an in-plan assert —
    corpora with ≥32768-token documents must use ``packed=False``.

    ``packed=False`` keeps the two-stage shape — explode → collapse to
    (id, hash, count) → 64 count-weighted conditional sums — because
    with 64 when-expressions per input row, shrinking the row count
    first is what matters.  Both aggregations are exchange-free after
    the one repartition on id: hash-partitioning by id satisfies
    groupBy(id, h) and groupBy(id) clustering alike.
    """
    # Deliberately NOT built on the shared _doc_tokens cache: simhash
    # consumes tokens exactly once, and exploding from a cached
    # array<string> column is measurably slower than the codegen'd
    # tokenize-and-explode stream straight off the scan (array columns
    # fall off the columnar cache fast path) — the shared stage only
    # pays off where a query re-reads tokens on multiple branches.
    from ..functions.texttools import tokens_expr

    par = repartition_width(df.sparkSession)
    toks = df.repartition(par, F.col(id_col)).select(
        F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("tok")
    )
    if not packed:
        hashed = (
            toks.select(id_col, F.xxhash64("tok").alias("h"))
            .groupBy(id_col, "h")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        votes = [
            F.sum(
                F.when(
                    F.col("h").bitwiseAND(F.shiftleft(F.lit(1).cast("long"), b)) != 0,
                    F.col("c"),
                ).otherwise(-F.col("c"))
            ).alias(f"b{b}")
            for b in range(64)
        ]
        agg = hashed.groupBy(id_col).agg(*votes)
        fp = None
        for b in range(64):
            bit = F.when(
                F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
            fp = bit if fp is None else fp.bitwiseOR(bit)
        return agg.select(F.col(id_col), fp.alias("simhash"))

    # packed: group g (0..15) holds bits {g, g+16, g+32, g+48} in
    # 15-bit lanes {0..3}; per row the lane value is the bit itself, so
    # the per-doc lane sum is S_b <= T < 2^15 — no cross-lane carry,
    # and the top lane peaks below 2^62 (no sign overflow).
    # r13 optimization round (guide §1.2, the pq/lit-array playbook):
    # the 16 packed sums and the 64-term fingerprint reconstruction
    # are built as PARSED SQL strings — the Column-API spelling cost
    # ~700 py4j round-trips of plan-build latency per call for the
    # same operators (shiftleft/shiftrightunsigned/&/| map 1:1), and
    # the parsed tree is expression-identical (pinned bit-for-bit by
    # tests/test_r13_opt.py::test_simhash_expr_rewrite_identical).
    hashed = toks.select(id_col, F.xxhash64("tok").alias("h"))

    def packed_sum(g: int) -> str:
        lanes = " + ".join(
            f"shiftleft((shiftrightunsigned(h, {g + 16 * lane})"
            f" & CAST(1 AS BIGINT)), {15 * lane})"
            for lane in range(4)
        )
        return f"sum({lanes}) AS g{g}"

    agg = hashed.groupBy(id_col).agg(
        *[F.expr(packed_sum(g)) for g in range(16)],
        F.count(F.lit(1)).alias("t"),
    )
    bits = []
    for b in range(64):
        g, lane = b % 16, b // 16
        s_b = (
            f"(shiftrightunsigned(g{g}, {15 * lane})"
            " & CAST(32767 AS BIGINT))"
        )
        bits.append(
            f"(CASE WHEN 2 * {s_b} - t > 0"
            f" THEN shiftleft(CAST(1 AS BIGINT), {b})"
            " ELSE CAST(0 AS BIGINT) END)"
        )
    fp = F.expr("(" + " | ".join(bits) + ")")
    # assert_true returns NULL on pass; the when() forces it to
    # evaluate inside the same projection (an unused column would be
    # pruned), failing the job loudly if a doc overflows the lanes
    guard = F.assert_true(
        F.col("t") < F.lit(32768),
        F.lit("simhash packed lanes overflow: document has >= 32768 tokens; "
              "use simhash_fingerprints(packed=False)"),
    )
    return agg.select(F.col(id_col), F.when(guard.isNull(), fp).alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame, text_col: str, id_col: str, *, max_hamming: int = 3, max_bucket: int = 256
) -> DataFrame:
    """Near-dups by SimHash: block on 4×16-bit bands (any pair within
    Hamming distance 3 of 64 bits shares ≥1 exact band — pigeonhole),
    verify Hamming distance inside buckets.

    Pair expansion is array-local per bucket (same no-self-join shape as
    lsh_candidate_pairs), carrying each side's fingerprint through the
    struct so Hamming verification needs no extra join.
    """
    fps = simhash_fingerprints(df, text_col, id_col)
    banded = fps.select(
        F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("fp")).alias("item"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF).cast("long"))
                        .alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("item", "bb.band", "bb.bucket")
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.slice(F.sort_array(F.collect_list("item")), 1, max_bucket).alias("items"))
        .where(F.size("items") > 1)
    )
    n = F.size("items")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(F.col("items"), i + 1, n - i),
                lambda y: F.struct(
                    F.element_at(F.col("items"), i)["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    F.bit_count(
                        F.element_at(F.col("items"), i)["fp"].bitwiseXOR(y["fp"])
                    ).alias("hamming"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def duplicate_clusters(pairs: DataFrame, *, max_iters: int = 10) -> DataFrame:
    """Connected components over near-dup pairs → (doc, cluster) with
    cluster = min doc id reachable; the step that turns pairwise
    near-dup hits into a keep/drop decision (keep each cluster's min).

    Iterative min-label propagation with pointer jumping: each pass
    (1) takes the min label across edges, then (2) jumps to the label
    of that label — doubling effective reach per pass, so convergence
    is O(log diameter) instead of O(diameter).  Both steps are
    monotone min-reaching updates, so any interleaving converges to
    the per-component min.

    Scale contract per iteration:
    - the passes run through `cache.fixed_point`: `labels` is
      checkpointed eagerly each pass, so pass k reads pass k−1's
      materialized partitions instead of re-executing the whole
      lineage, and the checkpoint IS the pass's one real job; the
      convergence probe (a `__changed` flag computed inside the same
      pass) then scans the already-materialized partitions;
    - `edges` is checkpointed once up front since every pass re-reads it.

    RAISES RuntimeError (from `cache.fixed_point`) if max_iters passes
    still changed a label (verdict r09: a warning is invisible to any
    downstream DataFrame consumer, so an under-merged contraction
    could silently under-delete at scale where component diameters
    grow): two members of one true cluster may carry different labels,
    so keep_canonical would keep both.  Raise max_iters (the diameter
    bound) in that case.  A normal return therefore IS the convergence certificate —
    the entries built on this operator (golden_customer_records,
    entity_resolution_clusters, duplicate_cluster_sizes, the corpus
    pipeline) assert convergence by construction.
    """
    # Both directions from ONE scan of `pairs` (r13, guide §2.3): the
    # union spelling evaluated the caller's pair pipeline — typically
    # the expensive blocked-candidates + verify chain — TWICE inside
    # the edges job (profiled ~5 s of golden_customer_records' 8.3 s
    # was this pre-loop).  explode(array(fwd, rev)) emits the same row
    # multiset from a single pass; distinct is unchanged.
    edges = checkpoint_stage(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    labels = checkpoint_stage(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster", F.col("id"))
    )
    # r13 optimization round: four restructurings of this loop were
    # implemented, MEASURED on the sf0.1 consumers, and reverted —
    # recorded here so a later round does not re-attempt them blind
    # (the r12 CC-contraction discipline):
    # (1) a second pointer jump per pass: passes only dropped 13 → 12
    #     on the customer pair graph while every pass gained a join —
    #     net slower (8.3 → 15.1 s on golden_customer_records);
    # (2) fusing TWO min+jump steps into one materialized pass (half
    #     the checkpoints/probes): the unmaterialized half-step feeds
    #     THREE consumers (neighbor join, self, parents), so it is
    #     recomputed up to 3× per pass — dense near-dup graphs
    #     regressed ~20% (entity_resolution 3.0 → 3.6 s), chains were
    #     flat;
    # (3) repartition-by-id before each checkpoint so the next pass's
    #     three id-keyed consumers reuse the partitioning: the forced
    #     fixed-width exchanges defeat AQE's coalescing of these tiny
    #     shuffles — 7.0 → 11.6 s warm on the same graph;
    # (4) edge-relation contraction after pass 1 (r12): restarts the
    #     propagation on the contracted domain, net negative on
    #     chain-shaped graphs.
    # The shipped loop is the measured optimum of the five: per pass
    # ONE neighbor-min aggregation + two label joins, one eager
    # checkpoint (the pass's job), one block-local convergence probe.
    def step(labels: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster").alias("n_cluster"))
        )
        stepped = labels.join(
            neighbor_min, labels.id == neighbor_min.src, "left"
        ).select(
            "id",
            F.col("cluster").alias("__old"),
            F.least(
                F.col("cluster"), F.coalesce(F.col("n_cluster"), F.col("cluster"))
            ).alias("__mid"),
        )
        # pointer jump: follow __mid to ITS current label (pre-pass
        # labels — still a valid min-reaching step), doubling reach
        parents = labels.select(
            F.col("id").alias("__p_id"), F.col("cluster").alias("__p_cluster")
        )
        jumped = F.least(
            F.col("__mid"), F.coalesce(F.col("__p_cluster"), F.col("__mid"))
        )
        return stepped.join(
            parents, F.col("__mid") == F.col("__p_id"), "left"
        ).select(
            "id",
            jumped.alias("cluster"),
            (jumped != F.col("__old")).alias("__changed"),
        )

    # looked up per call, so tests/iterative_lint.py can wrap it
    from ..cache import fixed_point

    return fixed_point(
        labels,
        step,
        rounds=max_iters,
        done=lambda s: s.where(F.col("__changed")).limit(1).count() == 0,
    ).drop("__changed")


def keep_canonical(df: DataFrame, clusters: DataFrame, id_col: str) -> DataFrame:
    """Apply a dedup decision: drop every doc that belongs to a cluster
    but is not its canonical (min-id) member."""
    losers = clusters.where(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# -- n-gram Jaccard (exact, candidate-pair-bounded) -----------------------


def ngram_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_df: int = 500,
) -> DataFrame:
    """Jaccard over word-n-gram shingle sets for all pairs sharing ≥1
    shingle with document frequency ≤ max_df: explode → posting lists
    per shingle → array-local pair expansion → |∩| per pair →
    |∪| = |A|+|B|−|∩|.  Equivalent ANSI SQL exists (oracle-checkable).

    max_df is the standard hot-shingle guard: a shingle appearing in n
    docs yields O(n²) pairs from its posting list, so one piece of
    boilerplate shared by thousands of docs would otherwise dominate the
    whole job — and a shingle that common carries no near-dup signal
    anyway.  Dropping it makes |∩| (and thus jaccard) a conservative
    under-count for pairs that shared only ultra-common shingles; the
    oracle SQL applies the identical cutoff so parity is exact.

    The per-doc shingle-array stage is persist()'ed for the same reason
    as the minhash signature stage: its three consumers (set sizes,
    posting lists, and nothing else — sizes joins twice) are separate
    plan branches AQE will not dedup, and without the persist the
    corpus is tokenized once per branch (verified: 3 parquet scans).
    """
    inter, sizes = _shingle_intersections(
        df, text_col, id_col, shingle_n=shingle_n, max_df=max_df
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int,
    max_df: int,
):
    """Shared pair-intersection machinery for the exact shingle-set
    family (ngram_jaccard, ngram_containment): returns (inter, sizes)
    where inter is |A∩B| per unordered candidate pair (id_a < id_b,
    only pairs sharing >= 1 live shingle) and sizes is the per-doc
    shingle-set size.  One shuffle groups each shingle's (sorted) doc
    list, pairs expand array-locally; posting lists longer than max_df
    are dropped BEFORE expansion, bounding the worst case at max_df^2
    per shingle (the hot-shingle discipline documented on
    ngram_jaccard)."""
    from .text import _doc_tokens

    docsh = persist_stage(
        _doc_tokens(df, text_col, id_col)
        .select(
            F.col(id_col),
            shingles_from_tokens(F.col("__toks"), shingle_n).alias("__sh"),
        )
    )
    sizes = docsh.select(F.col(id_col), F.size("__sh").alias("set_size"))
    postings = (
        docsh.select(F.col(id_col), F.explode("__sh").alias("shingle"))
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .where((F.size("ids") > 1) & (F.size("ids") <= max_df))
    )
    n = F.size("ids")
    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(F.col("ids"), i + 1, n - i),
                lambda y: F.struct(
                    F.element_at(F.col("ids"), i).alias("id_a"), y.alias("id_b")
                ),
            ),
        )
    )
    inter = (
        postings.select(F.explode(pair_arr).alias("p"))
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return inter, sizes


def ngram_containment(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_df: int = 500,
    min_shingles: int = 5,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT C(A in B) = |A∩B| / |A| — the
    near-dup signal Jaccard structurally misses: a short document
    fully quoted inside a long one has Jaccard |A|/|B| (tiny) but
    containment 1.0, and substring-level training-data dedup (Lee et
    al. 2022) is precisely about such subset duplication.  Same
    candidate generation and hot-shingle discipline as ngram_jaccard
    (shared _shingle_intersections stage — posting lists capped at
    max_df before array-local pair expansion, never O(n^2)); each
    unordered intersection then emits BOTH directed rows and keeps
    those with round(C, 6) >= threshold.  min_shingles floors the
    denominator: a 1-shingle doc is "contained" in anything it
    touches, which is noise, not duplication.

    Returns (id_a, id_b, containment) — containment OF id_a IN id_b,
    directed.  Equivalent ANSI SQL exists (oracle-checkable)."""
    inter, sizes = _shingle_intersections(
        df, text_col, id_col, shingle_n=shingle_n, max_df=max_df
    )
    directed = inter.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src"),
                    F.col("id_b").alias("dst"),
                    F.col("n_inter"),
                ),
                F.struct(
                    F.col("id_b").alias("src"),
                    F.col("id_a").alias("dst"),
                    F.col("n_inter"),
                ),
            )
        ).alias("d")
    ).select("d.src", "d.dst", "d.n_inter")
    ssz = sizes.select(
        F.col(id_col).alias("src"), F.col("set_size").alias("size_src")
    )
    return (
        directed.join(ssz, "src")
        .where(F.col("size_src") >= min_shingles)
        .withColumn(
            "containment",
            F.round(F.col("n_inter") / F.col("size_src"), 6),
        )
        .where(F.col("containment") >= threshold)
        .select(
            F.col("src").alias("id_a"),
            F.col("dst").alias("id_b"),
            "containment",
        )
    )


def exact_copy_rate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
) -> DataFrame:
    """Exact-duplicate LINEAGE audit per group (source): within each
    md5(text) duplicate group the earliest (min-id) doc is the
    original; every later doc is a copy/re-upload.  Per group_col:
    how many docs, how many are copies of an earlier doc (possibly
    from another group), and the copy rate — the per-source
    re-publication signal a crawl-curation pipeline uses to damp
    mirror-heavy sources.  Two hash aggregations (md5 -> min id, then
    the group rollup); the shuffle carries 16-byte digests, never
    text.  Copy fractions are one division of exact longs."""
    keyed = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("__id"),
        F.md5(F.col(text_col)).alias("__h"),
    )
    firsts = keyed.groupBy("__h").agg(F.min("__id").alias("__first"))
    flagged = keyed.join(firsts, "__h").select(
        "grp",
        F.when(F.col("__id") > F.col("__first"), 1)
        .otherwise(0)
        .alias("__copy"),
    )
    agg = flagged.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__copy").cast("long").alias("n_copies"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_copies",
        F.round(
            F.col("n_copies").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("copy_rate"),
    ).orderBy(group_col)


def duplicated_ngram_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 5,
) -> DataFrame:
    """Exact cross-document n-gram span coverage — the substring-dedup
    signal of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (the suffix-array pass), re-expressed set-based: a
    position is "duplicated" when the n-gram starting there also occurs
    in at least one OTHER document.  Per doc, reports how much of the
    token stream those duplicated spans cover — the score a pipeline
    thresholds to drop boilerplate-heavy documents.

    Shape (all JVM-side, no UDF):
      1. one tokenization pass (positions via transform over a guarded
         sequence; docs shorter than n produce no grams);
      2. grams travel as md5 DIGESTS, never strings: the gram→doc-count
         aggregation and the join back both shuffle 32-hex-char keys
         regardless of n — at 100 TB the shuffle width is fixed, and
         the oracle applies the identical md5 so results stay exact
         (no collision asymmetry between engines);
      3. duplicated = COUNT(DISTINCT doc) > 1, computed by groupBy with
         partial aggregation;
      4. coverage = union length of the equal-length intervals
         [start, start+n): sorted by start per doc, each interval
         contributes min(next_start − start, n) — ONE lead() window
         keyed by doc (per-doc state is bounded by doc length, so the
         keyed-window hot-key ceiling does not apply).

    Returns (doc_id, n_tokens, dup_positions, covered_tokens,
    coverage_frac) for documents with at least one duplicated span.
    """
    from pyspark.sql import Window

    from ..functions.texttools import tokens_expr

    toks = df.select(
        F.col(id_col), tokens_expr(F.col(text_col)).alias("__toks")
    )
    k = F.size("__toks") - F.lit(n - 1)
    # sequence(0, -1) yields DESCENDING [0, -1], not empty — guard
    idx = F.when(k >= 1, F.sequence(F.lit(0), k - 1)).otherwise(
        F.array().cast("array<int>")
    )
    grams = toks.select(
        F.col(id_col),
        F.size("__toks").alias("n_tokens"),
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.md5(F.array_join(F.slice("__toks", i + 1, n), " ")),
            )
        ).alias("start", "gram_h"),
    )
    grams = persist_stage(grams)
    dup = (
        grams.groupBy("gram_h")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .where(F.col("nd") > 1)
        .select("gram_h")
    )
    hits = grams.join(dup, "gram_h").select(id_col, "n_tokens", "start")
    w = Window.partitionBy(id_col).orderBy("start")
    covered = hits.withColumn("nxt", F.lead("start").over(w)).withColumn(
        "cov",
        F.when(F.col("nxt").isNull(), F.lit(n)).otherwise(
            F.least(F.col("nxt") - F.col("start"), F.lit(n))
        ),
    )
    return covered.groupBy(id_col).agg(
        F.first("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("dup_positions"),
        F.sum("cov").alias("covered_tokens"),
        F.round(F.sum("cov") / F.first("n_tokens"), 6).alias("coverage_frac"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 5,
) -> DataFrame:
    """Lee et al.'s substring dedup COMPLETED: not just the coverage
    signal (duplicated_ngram_coverage above) but the REMOVAL — every
    token position covered by a cross-document duplicated n-gram span
    is dropped and the survivors are reassembled in order (whitespace
    normalized to single spaces, the tokenization contract).

    Shape: the same md5-digest gram aggregation as the coverage
    signal, then covered positions exploded per hit ([start, start+n)
    — bounded by n·dup_positions rows), ONE distinct, one LEFT ANTI
    against the (doc, pos, token) stream, and a per-doc
    sort-and-join rebuild (array_sort on (pos, token) structs — per-doc
    state bounded by doc length).  All JVM-side; the oracle replays
    every step including the rebuilt text's md5.

    Returns (doc_id, n_tokens, kept_tokens, cleaned_md5) for EVERY
    document — docs losing everything keep md5('') and docs with no
    duplicated span keep the md5 of their normalized token stream.
    """
    from ..functions.texttools import tokens_expr

    toks = persist_stage(
        df.select(F.col(id_col), tokens_expr(F.col(text_col)).alias("__toks"))
    )
    k = F.size("__toks") - F.lit(n - 1)
    idx = F.when(k >= 1, F.sequence(F.lit(0), k - 1)).otherwise(
        F.array().cast("array<int>")
    )
    grams = persist_stage(
        toks.select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    idx,
                    lambda i: F.md5(
                        F.array_join(F.slice("__toks", i + 1, n), " ")
                    ),
                )
            ).alias("start", "gram_h"),
        )
    )
    dup = (
        grams.groupBy("gram_h")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .where(F.col("nd") > 1)
        .select("gram_h")
    )
    covered = (
        grams.join(dup, "gram_h")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    stream = toks.select(
        F.col(id_col), F.posexplode("__toks").alias("pos", "tok")
    )
    kept = (
        stream.join(covered, [id_col, "pos"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.count("tok").alias("__kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("__text"),
        )
    )
    # anchor on the full doc spine: fully-covered docs lose every row
    # in the anti join and must still emit (0 kept, md5(''))
    spine = toks.select(F.col(id_col), F.size("__toks").alias("n_tokens"))
    return spine.join(kept, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("__kept", F.lit(0)).cast("long").alias("kept_tokens"),
        F.md5(F.coalesce("__text", F.lit(""))).alias("cleaned_md5"),
    )


# --------------------------------------------------------------- r11:
# incremental MinHash maintenance (md5 scheme, fully SQL-replayable)


def minhash_signatures_md5(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 12,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature in the md5-hex domain: sig_i =
    lexicographic MIN over shingles of md5('i|' <shingle>).

    The oracle-PAIRABLE twin of minhash_signatures (whose xxhash64
    seeds no SQL engine replays): md5 exists verbatim in DuckDB and
    hex strings compare bytewise identically in both engines, so the
    entire signature — and everything downstream of it (band keys,
    candidate pairs, recall measurements) — becomes cross-engine
    checkable.  Same permutation-min estimator, same explode → k MIN
    aggregates shape (the shingle set materializes once, the MINs
    combine map-side); ~2× the hash cost of xxhash64, which buys the
    dedup family its first hash-verified correctness entries.
    """
    sh = _exploded_shingles(df, text_col, id_col, shingle_n)
    agg = sh.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(
                f"__m{i}"
            )
            for i in range(num_hashes)
        ]
    )
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias(
            "signature"
        ),
    )


def band_keys_md5(
    signatures: DataFrame, id_col: str, *, bands: int, num_hashes: int
) -> DataFrame:
    """(id, band, bucket) band keys: bucket = md5 of the band's '|'
    -joined signature slice.  This IS the storable signature store
    schema — one row per (doc, band), keyed by (band, bucket) on
    disk, which is what makes the delta path below incremental."""
    r = num_hashes // bands
    return signatures.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col("signature")[i]
                                    for i in range(b * r, (b + 1) * r)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def delta_candidate_pairs(
    store: DataFrame,
    delta: DataFrame,
    id_col: str,
    *,
    max_bucket: int = 256,
) -> DataFrame:
    """Incremental LSH candidate maintenance — the IVM pattern applied
    to the most expensive pipeline stage: given the persisted band-key
    STORE for the already-deduplicated corpus and the band keys of a
    newly-arrived DELTA (delta ⊆ store once appended), emit only the
    candidate pairs that TOUCH the delta: delta×base and delta×delta.
    Base×base pairs were decided when the base was ingested and are
    never recomputed — per batch the join probes |delta| band keys
    against the (band, bucket)-keyed store instead of re-banding the
    corpus, so daily maintenance cost tracks the delta, not history.

    Pair emission dedups across bands with n_shared_bands kept (the
    dedup pipeline's verify stage prioritizes multi-band collisions).
    The max_bucket cap bounds degenerate buckets: unlike
    lsh_candidate_pairs (which TRUNCATES oversized posting lists and
    surfaces a capped flag), this operator RAISES in-plan when any
    (band, bucket) the delta actually probes holds more than
    max_bucket store rows — silent truncation would make the
    incremental result diverge from a full re-band, which is the one
    invariant an IVM operator must keep.  The size check is
    delta-scoped (a semi-join restricts it to buckets present in the
    delta), so the guard's cost — like the probe's — tracks the
    delta, not the historical store.
    Returns (id_a, id_b, n_shared_bands), id_a < id_b, both orders
    normalized so delta-delta pairs emit once.
    """
    other = store.select(
        F.col(id_col).alias("__oid"), "band", "bucket"
    )
    mine = delta.select(F.col(id_col).alias("__did"), "band", "bucket")
    joined = mine.join(other, ["band", "bucket"]).where(
        # base×delta keeps both orders out of the store side only via
        # id inequality; delta×delta appears twice (once per probe
        # side) and normalizes below
        F.col("__did") != F.col("__oid")
    )
    pairs = joined.select(
        "band",
        F.least("__did", "__oid").alias("id_a"),
        F.greatest("__did", "__oid").alias("id_b"),
    ).distinct()
    out = pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_bands")
    )
    # cap guard: a (band, bucket) whose store side exceeds max_bucket
    # would make the probe cost data-dependent-unbounded; raise
    # in-plan (folded through the consumed count) instead of silently
    # truncating — the hot-key discipline every dedup operator keeps.
    # Delta-scoped: only buckets the delta probes are sized, so the
    # guard never scans store-only buckets (cost tracks the delta).
    probed = mine.select("band", "bucket").distinct()
    sizes = (
        other.join(probed, ["band", "bucket"], "left_semi")
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__bsz"))
    )
    guard = sizes.agg(
        F.max(
            F.when(F.col("__bsz") <= max_bucket, F.lit(0)).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("delta_candidate_pairs: band bucket size "),
                        F.col("__bsz").cast("string"),
                        F.lit(f" exceeds max_bucket={max_bucket}"),
                    )
                )
            )
        ).alias("__zero")
    )
    return out.join(F.broadcast(guard)).select(
        # coalesce: sizes is empty (MAX -> NULL) only when the bucket
        # join matched nothing, in which case `out` is empty too —
        # but keep the null out of the id arithmetic regardless
        (F.col("id_a") + F.coalesce(F.col("__zero"), F.lit(0))).alias(
            "id_a"
        ),
        "id_b",
        "n_shared_bands",
    )


def simhash_fingerprints_md5(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """64-bit SimHash in the md5 domain — the ORACLE-VERIFIED twin of
    simhash_fingerprints (whose xxhash64 no SQL engine replays), the
    same move minhash_signatures_md5 made for the MinHash family:
    token votes ±count per bit, bit b set iff the vote sum is
    positive, with the 64 hash bits taken from md5's leading 16 hex
    chars as TWO 32-bit halves (conv of 16 hex chars would overflow
    BIGINT under ANSI; two 8-char halves each fit).

    The fingerprint is released as a 64-char '0'/'1' STRING, bit 63
    first — strings band by substring and compare bytewise
    identically in both engines, which is what makes the banding and
    hamming stages downstream hash-checkable.  Two-stage shape
    (collapse to (id, tok, count) first, then 64 count-weighted
    conditional sums); ~2x the packed xxhash64 path, the cost of
    cross-engine verifiability — production dedup keeps the packed
    path, this twin keeps it honest.
    """
    from ..functions.texttools import tokens_expr

    par = repartition_width(df.sparkSession)
    toks = df.repartition(par, F.col(id_col)).select(
        F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("tok")
    )
    hashed = (
        toks.groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.col(id_col),
            F.col("c"),
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
            .cast("long")
            .alias("h_hi"),
            F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10)
            .cast("long")
            .alias("h_lo"),
        )
    )
    # r13 optimization round (guide §1.2, the pq/lit-array playbook):
    # the 64 vote aggregates and the 64-char bit concat are built as
    # parsed SQL strings instead of ~600 py4j Column-API round-trips —
    # operator-for-operator the same expressions (pinned bit-for-bit
    # by tests/test_r13_opt.py::test_simhash_md5_expr_rewrite).
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftrightunsigned("
            f"{'h_hi' if b >= 32 else 'h_lo'}, {b % 32})"
            " & CAST(1 AS BIGINT)) = 1 THEN c ELSE -c END)"
            f" AS v{b}"
        )
        for b in range(64)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    fp = F.expr(
        "concat("
        + ",".join(
            f"(CASE WHEN v{b} > 0 THEN '1' ELSE '0' END)"
            for b in range(63, -1, -1)
        )
        + ")"
    )
    return agg.select(F.col(id_col), fp.alias("simhash_bits"))
