"""Distributed graph analytics: fixed-point PageRank and
degree-ordered triangle enumeration.

Both operators are designed around the two things that kill graph
jobs at 100 TB:

- **Iterative lineage.** PageRank is a loop of (join ranks⋈edges →
  groupBy dst) rounds; without checkpointing, round k's plan contains
  all k-1 predecessors and the scheduler DAG grows quadratically.
  Every loop here runs through `cache.fixed_point`, which truncates
  each round's state (`cache.checkpoint_stage`).
- **Wedge explosion.** Enumerating triangles from raw adjacency does
  Σ deg(v)² work; orienting every edge from its lower-(degree, id)
  endpoint to the higher one first bounds per-node fan-out by
  O(sqrt(m)) (each triangle is then found exactly once, at its
  lowest-order apex) — the classic Schank/Wagner ordering that
  MapReduce triangle counters use.

Cross-engine exactness: PageRank runs in FIXED-POINT INTEGER
arithmetic — ranks are BIGINTs scaled by `scale`, every step is
`DIV`/`*`/`SUM` on integers, so the result is bit-identical under any
partitioning, any summation order, and in any engine replaying the
same recurrence (the DuckDB oracle unrolls the identical iterations).
Floating-point PageRank cannot be hash-compared across engines;
integer PageRank can.  Convention: every node gets the same base mass
`scale·(den−num)/den` (unnormalized form — no division by N, so the
recurrence needs no global scalar); dangling-node mass is dropped,
and both engines replay that same rule.  Overflow bound: the damped
in-sum is below total system mass ≈ N·scale, so `num · sum` must stay
under 2^63 — at 10^9 nodes use scale ≤ 10^8 (documented tradeoff:
scale is the rank resolution).

Verified: tests/test_graph.py (hand-computed PageRank on a 4-node
chain+loop fixture, triangle enumeration on planted cliques, the
oriented form vs the naive 3-way join) and the oracle-checked
`nation_trade_pagerank` / `nation_trade_triangles` entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_fixed_point(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    iterations: int = 8,
    damping: tuple[int, int] = (85, 100),
    scale: int = 10**12,
) -> DataFrame:
    """PageRank over a directed edge list, exact in scaled integers.

    rank_0(v) = scale;
    rank_k(v) = scale·(den−num) DIV den
              + (num · Σ_{u→v} (rank_{k−1}(u) DIV outdeg(u))) DIV den

    Returns (node, rank) with rank a BIGINT in units of 1/scale.
    """
    from ..cache import checkpoint_stage, fixed_point, persist_stage

    num, den = damping
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    # Loop-invariant, so joined ONCE and materialized (cache.py's
    # rule): the edge list already carries its source's out-degree.
    # nodes is consumed once (the output zero-fill) and needs no barrier.
    e = persist_stage(e)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    edges_od = checkpoint_stage(e.join(outdeg, "src"), eager=False)

    base = (scale * (den - num)) // den
    if iterations < 1:
        return nodes.select(
            "node", F.lit(scale).cast("long").alias("rank")
        )
    # The state is the SPARSE in-mass m_k(v) = Σ_{u→v} rank_{k−1}(u)
    # DIV od(u): rank_{k−1}(u) = base + (num·coalesce(m_{k−1}(u), 0))
    # DIV den is a per-edge expression of m (a node absent from m has
    # mass 0, so the left join supplies the zero-fill).  Each round is
    # ONE left join + one groupBy, round 1 needs no join (rank_0 =
    # scale), and zeros are filled once on output — the dense
    # recurrence's exact arithmetic (tests/test_graph.py's reference).
    m = edges_od.groupBy(F.col("dst").alias("node")).agg(
        F.sum(F.expr(f"{scale}L DIV od")).alias("m")
    )
    contrib = F.expr(
        f"(({base}L + (({num} * coalesce(m, 0L)) DIV {den})) DIV od)"
    )

    def step(m: DataFrame) -> DataFrame:
        return (
            edges_od.join(
                m.withColumnRenamed("node", "__mn"),
                F.col("src") == F.col("__mn"),
                "left",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(contrib).alias("m"))
        )

    m = fixed_point(m, step, rounds=iterations - 1)
    return nodes.join(
        m.withColumnRenamed("node", "__mn"),
        F.col("node") == F.col("__mn"),
        "left",
    ).select(
        "node",
        (
            F.lit(base).cast("long")
            + F.expr(f"({num} * coalesce(m, 0L)) DIV {den}")
        ).alias("rank"),
    )


def canonical_edges(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Undirected canonical form: (least, greatest), self-loops
    dropped, duplicates collapsed."""
    a, b = F.col(a_col), F.col(b_col)
    return (
        edges.where(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
    )


def triangles_oriented(edges: DataFrame) -> DataFrame:
    """Every triangle of a canonical undirected edge list (a < b),
    exactly once, as lexicographically sorted (n1, n2, n3).

    Orientation u→v iff (deg(u), u) < (deg(v), v); wedges are built
    only from each node's FORWARD neighbors, then closed against the
    oriented edges — per-node work O(outdeg²) with outdeg ≤ O(√m).
    """
    from ..cache import persist_stage

    e = canonical_edges(edges, "a", "b")
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select("b"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Orient by (deg, node): each undirected edge becomes exactly one
    # directed edge toward the higher-order endpoint.
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    oriented = persist_stage(
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("dega") < F.col("degb"))
                | ((F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))),
                F.struct(
                    F.col("a").alias("src"),
                    F.col("dega").alias("sdeg"),
                    F.col("b").alias("dst"),
                    F.col("degb").alias("ddeg"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("b").alias("src"),
                    F.col("degb").alias("sdeg"),
                    F.col("a").alias("dst"),
                    F.col("dega").alias("ddeg"),
                )
            )
            .alias("o")
        )
        .select("o.src", "o.dst", "o.sdeg", "o.ddeg")
    )

    e1 = oriented.select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        F.col("ddeg").alias("vdeg"),
    )
    e2 = oriented.select(
        F.col("src").alias("u"),
        F.col("dst").alias("w"),
        F.col("ddeg").alias("wdeg"),
    )
    wedges = e1.join(e2, "u").where(
        (F.col("vdeg") < F.col("wdeg"))
        | ((F.col("vdeg") == F.col("wdeg")) & (F.col("v") < F.col("w")))
    )
    closed = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
    )
    tri = closed.select(
        F.array_sort(F.array("u", "v", "w")).alias("t")
    )
    return tri.select(
        F.col("t")[0].alias("n1"),
        F.col("t")[1].alias("n2"),
        F.col("t")[2].alias("n3"),
    )


def triangles_naive(edges: DataFrame) -> DataFrame:
    """The trap form the oriented algorithm must equal: plain a<b<c
    three-way self-join on the canonical edges (this is also what the
    DuckDB oracle runs)."""
    e = canonical_edges(edges, "a", "b")
    e1 = e.select(F.col("a").alias("n1"), F.col("b").alias("n2"))
    e2 = e.select(F.col("a").alias("n2"), F.col("b").alias("n3"))
    e3 = e.select(F.col("a").alias("n1"), F.col("b").alias("n3"))
    return e1.join(e2, "n2").join(e3, ["n1", "n3"]).select("n1", "n2", "n3")


def bfs_hops(
    edges: DataFrame,
    source,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Single-source shortest HOP distances by frontier BFS — the
    third iterative-graph shape next to pointer-jumping (connected
    components) and fixed-point iteration (PageRank): a frontier that
    advances level by level against a growing visited set.

    Per round: frontier ⋈ edges (the frontier is the small side —
    Catalyst/AQE broadcasts it), distinct, then LEFT ANTI against
    visited (first arrival IS the shortest hop count, since every
    level-d node is emitted before any level-d+1 node).  Rounds are
    bounded by the graph's diameter: the loop stops at the first empty
    frontier.

    Exactness: hop counts are small integers — bit-identical in any
    engine replaying the same reachability (the DuckDB oracle closes
    the same edges with a depth-bounded recursive CTE + MIN(d)).
    Unreachable nodes are absent from the result (both engines).

    Returns (node, hops) with hops an INT, source at hops=0.
    """
    from ..cache import fixed_point, persist_stage

    spark = edges.sparkSession
    e = persist_stage(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    )
    start = spark.range(1).select(
        F.lit(source).alias("node"), F.lit(0).cast("int").alias("hops")
    )

    # The state is (frontier, every level before it): the union runs
    # here, over two checkpointed scans, so the frontier's join is not
    # computed a second time inside the visited set's checkpoint.
    def step(state: tuple) -> tuple:
        frontier, before = state
        visited = before.unionByName(frontier)
        new = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        return new, visited

    _, visited = fixed_point(
        (start, start.limit(0)), step, done=lambda s: s[0].isEmpty()
    )
    return visited


def sssp_weighted(
    edges: DataFrame,
    source,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Weighted single-source shortest paths by distributed
    Bellman-Ford — the min-plus companion to `bfs_hops`: per round,
    every reached node relaxes its out-edges (one keyed join), and
    dist' = MIN per node over {dist} ∪ {relaxations} (one groupBy).
    Stops at the first round that improves nothing; rounds are bounded
    by |V|−1 for non-negative integer weights.  The same aggregation
    flags each node that is new or cheaper than last round, so the
    convergence probe only scans the checkpointed rows.

    Exactness: costs are BIGINT sums of integer weights — min-plus has
    no rounding, so any engine replaying the same recurrence matches
    bit-for-bit (the oracle unrolls d_{k+1}(v) = min(d_k(v),
    min_{u→v}(d_k(u)+w)) as chained CTEs, the pagerank_fixed_point
    discipline; extra iterations past the fixed point are no-ops, so
    a ≥diameter unroll equals the early-stopped loop).  Unreachable
    nodes are absent.  Returns (node, cost).
    """
    from ..cache import fixed_point, persist_stage

    spark = edges.sparkSession
    e = persist_stage(
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
    )
    start = spark.range(1).select(
        F.lit(source).alias("node"), F.lit(0).cast("long").alias("cost")
    )

    def step(dist: DataFrame) -> DataFrame:
        # rename before joining: after round 1 dist derives from e, so
        # qualified refs (dist["cost"], e["w"]) become ambiguous
        relax = (
            dist.withColumnRenamed("node", "__dn")
            .withColumnRenamed("cost", "__dc")
            .join(e, F.col("__dn") == F.col("src"))
            .select(
                F.col("dst").alias("node"),
                (F.col("__dc") + F.col("w")).alias("cost"),
                F.lit(None).cast("long").alias("__old"),
            )
        )
        # __old is the node's previous cost (NULL when newly reached)
        return (
            dist.select("node", "cost", F.col("cost").alias("__old"))
            .unionByName(relax)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"), F.min("__old").alias("__old"))
            .select(
                "node",
                "cost",
                (F.col("__old").isNull() | (F.col("cost") < F.col("__old")))
                .alias("__changed"),
            )
        )

    dist = fixed_point(
        start,
        step,
        done=lambda d: d.where(F.col("__changed")).limit(1).count() == 0,
    )
    return dist.drop("__changed")


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    iterations: int = 4,
) -> DataFrame:
    """SYNCHRONOUS label propagation (Raghavan et al. 2007) — the
    fourth iterative-graph shape here (mode-of-neighbors fixed
    iteration, next to pointer-jumping, PageRank's fixed point, and
    frontier BFS): every node starts labeled with its own id; each
    round it adopts the most frequent label among its IN-neighbors
    (pass both directions for undirected semantics), ties broken to
    the LARGEST label, isolated nodes keep theirs.

    Determinism contract: the synchronous schedule + max-label
    tie-break make round k a pure function of round k-1 — no RNG, no
    visit order — so a fixed iteration count is bit-replayable in SQL
    (the oracle unrolls the identical rounds; the entity_resolution /
    SSSP evidence pattern).  Classic LPA iterates to convergence with
    random asynchronous order; the fixed-round synchronous variant
    trades that for cross-engine exactness and a bounded plan.  The
    MAX-label tie-break (any fixed rule works for LPA) is chosen
    because it makes the per-round argmax ONE struct-max hash
    aggregation — max(struct(count, label)) is lexicographic, so it
    yields the highest count then the largest label, type-generically
    (node ids here are strings) and with NO per-node window sort, no
    second aggregation, no join (the min-label form needs a
    max-count filter + MIN join — measured 2× slower end-to-end:
    11.4 s → 5.7 s at sf0.1).

    Per round: one join on the label relation + the count/argmax
    aggregation pair fused on one shuffle, then a union with the
    isolated nodes (`cache.fixed_point` truncates each round).  At
    100 TB each round is keyed shuffles of the label/count relations
    (O(|V|) and O(|V|·labels-seen) rows) against the edge relation;
    skew follows in-degree skew, which the count aggregation absorbs
    map-side.
    """
    from ..cache import checkpoint_stage, fixed_point

    s, d = F.col(src_col), F.col(dst_col)
    # Loop-invariant and joined EVERY round: materialized once
    # (cache.py's rule; forgetting it made nation_trade_communities
    # 23 s in the sf0.1 bench vs its siblings' single digits).
    e = checkpoint_stage(edges.select(s.alias("__s"), d.alias("__d")), eager=False)
    nodes = (
        e.select(F.col("__s").alias("node"))
        .union(e.select("__d"))
        .distinct()
    )
    # A node with no in-neighbor keeps its own label forever: that set
    # is loop-invariant, so it is materialized once and UNIONed onto
    # each round's argmax (exchange-free) instead of left-joining the
    # argmax back onto every label (tests/test_graph.py's reference).
    isolated = checkpoint_stage(
        nodes.join(
            e.select(F.col("__d").alias("node")).distinct(),
            "node",
            "left_anti",
        ).withColumn("label", F.col("node")),
        eager=False,
    )

    def step(labels: DataFrame) -> DataFrame:
        pick = (
            e.join(labels.withColumnRenamed("node", "__s"), "__s")
            .groupBy(F.col("__d").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("__c"))
            .groupBy("node")
            .agg(F.max(F.struct("__c", "label")).alias("__b"))
            .select("node", F.col("__b.label").alias("label"))
        )
        return pick.unionByName(isolated)

    return fixed_point(
        nodes.withColumn("label", F.col("node")), step, rounds=iterations
    )


def k_core(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    k: int = 2,
    rounds: int = 4,
) -> DataFrame:
    """k-core peeling (Seidman 1983; Batagelj-Zaveršnik's distributed
    formulation) over an UNDIRECTED edge list (pass both directions,
    the label_propagation convention): repeatedly delete every node
    with degree < k, `rounds` fixed synchronous iterations.

    Fixed-round determinism contract (the LPA/pagerank evidence
    pattern): each round is a pure function of the last — degree
    count, threshold filter, edge restriction — so the oracle unrolls
    the IDENTICAL rounds as CTEs and must hash-match.  The true k-core
    is this iteration's fixed point; tests assert round r and r+1
    agree on the fixtures, so the fixed count is the exact k-core
    there, and a caller can raise `rounds` ad libitum (peeling is
    monotone — rounds only remove).

    Returns (node, deg): the surviving nodes with their degree inside
    the surviving subgraph.  Loop discipline: the base edge relation
    is persisted ONCE (the iterative-lint rule); the shrinking edge
    set is the `cache.fixed_point` state.  At 100 TB each round is one
    count shuffle + two semi-joins on the (shrinking) edge relation;
    skew follows degree skew, absorbed map-side by the count
    aggregation.
    """
    from ..cache import fixed_point, persist_stage

    if k < 1:
        raise ValueError("k must be >= 1")

    def step(cur: DataFrame) -> DataFrame:
        deg = cur.groupBy(F.col("__s").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        keep = deg.where(F.col("deg") >= k).select("node")
        return cur.join(
            keep.withColumnRenamed("node", "__s"), "__s", "leftsemi"
        ).join(keep.withColumnRenamed("node", "__d"), "__d", "leftsemi")

    cur = fixed_point(
        persist_stage(
            edges.select(
                F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
            )
        ),
        step,
        rounds=rounds,
    )
    return (
        cur.groupBy(F.col("__s").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .where(F.col("deg") >= k)
    )


def hits_fixed_point(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    iterations: int = 4,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    list, exact in UNNORMALIZED integers — the PageRank discipline
    applied to the two-score mutual recursion:

        h_0(u) = 1
        a_k(v) = Σ_{u→v} h_{k−1}(u)
        h_k(u) = Σ_{u→v} a_k(v)

    Classic HITS L2-normalizes every round; that division is
    float-territory and kills cross-engine hashing.  Skipping it
    changes only the SCALE of the scores, never their ratios or
    ranking (each round is a linear map), so the released BIGINTs are
    ranking-equivalent to the normalized iterate — and bit-identical
    under any partitioning, summation order, and in DuckDB's oracle
    unrolling the same recurrence.

    Overflow contract: unnormalized scores grow like ‖AᵀA‖^k, bounded
    by N^(2k), so the node cap is DERIVED from `iterations` —
    max_nodes = floor(2^(62/(2k))) (215 at the default 4 rounds) — and
    enforced by an IN-PLAN raise (the cusum guard pattern — node count
    is data-dependent, so a silent overflow would corrupt the hash, not
    crash).  HITS on an UNBOUNDED-key graph at 100 TB needs the
    normalized float variant (rows-only contract); this operator's
    domain is bounded-dimension graphs (nations, categories, hosts).

    Each round is two (join + groupBy) passes over the checkpointed
    edge relation; the (hubs, auths) pair is the `cache.fixed_point`
    state.
    Returns (node, hub, auth) — BIGINTs after `iterations` rounds.
    """
    from ..cache import checkpoint_stage, fixed_point, persist_stage

    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    max_nodes = int(2 ** (62 / (2 * iterations)))
    # loop-invariant, joined twice per round: materialized once
    e = checkpoint_stage(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        eager=False,
    )
    nodes = persist_stage(
        e.select(F.col("src").alias("node")).union(e.select("dst")).distinct()
    )
    # in-plan node-count guard FOLDED INTO h_0 itself (a standalone
    # guard column would be pruned by Catalyst before evaluation):
    # every initial hub mass evaluates the raise branch, so an
    # oversized graph fails before any overflowing round is acted on
    nguard = nodes.agg(F.count(F.lit(1)).alias("__nn"))
    hubs = nodes.join(F.broadcast(nguard)).select(
        "node",
        F.when(F.col("__nn") <= max_nodes, F.lit(1).cast("long"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("hits_fixed_point: "),
                    F.col("__nn").cast("string"),
                    F.lit(f" nodes > {max_nodes} — unnormalized scores"
                          f" would overflow BIGINT at {iterations}"
                          " iterations"),
                )
            )
        )
        .alias("hub"),
    )
    # SPARSE scores: a node absent from a score relation has score 0,
    # which adds nothing to the next round's sums (the join against
    # `e` drops the row ⇔ adding 0), so no round zero-fills against
    # `nodes`; zeros are filled ONCE on output.
    def step(state: tuple) -> tuple:
        hubs, _ = state
        auths = (
            hubs.join(e, F.col("node") == F.col("src"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("auth"))
        )
        hubs = (
            auths.join(e, F.col("node") == F.col("dst"))
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("hub"))
        )
        return hubs, auths

    hubs, auths = fixed_point((hubs, None), step, rounds=iterations)
    ha = hubs.withColumnRenamed("node", "__hn")
    aa = auths.withColumnRenamed("node", "__an")
    return (
        nodes.join(ha, F.col("node") == F.col("__hn"), "left")
        .join(aa, F.col("node") == F.col("__an"), "left")
        .select(
            "node",
            F.coalesce(F.col("hub"), F.lit(0).cast("long")).alias("hub"),
            F.coalesce(F.col("auth"), F.lit(0).cast("long")).alias("auth"),
        )
    )
