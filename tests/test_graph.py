"""Graph-analytics proofs (operators/graph.py): PageRank against a
hand-computed integer fixture and the dense reference loop, triangle
enumeration on planted cliques, the oriented form vs the naive
three-way join (on the fixture AND the real trade graph),
canonicalization, BFS/SSSP/LPA/k-core/HITS on planted graphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from northwind_etl_spark.operators.graph import (
    bfs_hops,
    canonical_edges,
    hits_fixed_point,
    k_core,
    label_propagation,
    pagerank_fixed_point,
    sssp_weighted,
    triangles_naive,
    triangles_oriented,
)


def test_pagerank_hand_computed(spark):
    # A→B, A→C, B→C, C→A; scale 100, damping 1/2, base = 50.
    # r1 = {A:100, B:75, C:125}; r2 = {A:112, B:75, C:112}.
    edges = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A")], ["src", "dst"]
    )
    r1 = {
        r.node: r.rank
        for r in pagerank_fixed_point(
            edges, iterations=1, damping=(50, 100), scale=100
        ).collect()
    }
    assert r1 == {"A": 100, "B": 75, "C": 125}
    r2 = {
        r.node: r.rank
        for r in pagerank_fixed_point(
            edges, iterations=2, damping=(50, 100), scale=100
        ).collect()
    }
    assert r2 == {"A": 112, "B": 75, "C": 112}


def test_pagerank_partitioning_invariant(spark):
    edges = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"), ("D", "A")],
        ["src", "dst"],
    )
    a = {
        r.node: r.rank
        for r in pagerank_fixed_point(edges, iterations=6).collect()
    }
    b = {
        r.node: r.rank
        for r in pagerank_fixed_point(
            edges.repartition(13), iterations=6
        ).collect()
    }
    assert a == b


def test_pagerank_checkpoint_bounds_lineage(spark):
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "A")], ["src", "dst"]
    )

    def logical_nodes(df):
        return len(df._jdf.queryExecution().logical().treeString().splitlines())

    out = pagerank_fixed_point(edges, iterations=9)
    # 2-cycle with damping 85/100 converges toward the fixed point
    # r = 0.15*scale + 0.85*r → r = scale; both nodes equal.
    got = {r.node: r.rank for r in out.collect()}
    assert got["A"] == got["B"]
    # every round is truncated: the plan does not grow with the rounds
    assert logical_nodes(out) == logical_nodes(
        pagerank_fixed_point(edges, iterations=4)
    )


def _tri_set(df):
    return {(r.n1, r.n2, r.n3) for r in df.collect()}


@pytest.fixture(scope="module")
def clique_graph(spark):
    # K4 on {a,b,c,d} (4 triangles) + a dangling path e-f-g (none),
    # fed in messy form: reversed duplicates and a self-loop.
    k4 = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    ]
    messy = k4 + [("b", "a"), ("d", "c"), ("e", "e"), ("e", "f"), ("f", "g")]
    return spark.createDataFrame(messy, ["a", "b"])


def test_canonical_edges(clique_graph):
    got = {(r.a, r.b) for r in canonical_edges(clique_graph).collect()}
    assert got == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
        ("e", "f"), ("f", "g"),
    }


def test_triangles_on_cliques(clique_graph):
    want = {
        ("a", "b", "c"), ("a", "b", "d"),
        ("a", "c", "d"), ("b", "c", "d"),
    }
    assert _tri_set(triangles_oriented(clique_graph)) == want
    assert _tri_set(triangles_naive(clique_graph)) == want


def test_oriented_equals_naive_on_trade_graph(spark, sf_dir):
    from northwind_etl_spark.plans.queries import (
        _above_mean,
        _nation_trade_pairs,
    )

    pairs = _nation_trade_pairs(spark, sf_dir)
    upairs = (
        pairs.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            "cnt",
        )
        .groupBy("a", "b")
        .agg(F.sum("cnt").alias("ucnt"))
    )
    edges = _above_mean(upairs, "ucnt").select("a", "b")
    got = _tri_set(triangles_oriented(edges))
    want = _tri_set(triangles_naive(edges))
    assert got == want and len(got) > 100


def test_bfs_hops_planted(spark):
    """BFS distances on a hand-checked digraph: a chain with a
    shortcut (shortest wins), a cycle (terminates, no revisit), and an
    unreachable component (absent from the result)."""
    edges = spark.createDataFrame(
        [
            ("s", "a"), ("a", "b"), ("b", "c"), ("c", "d"),  # chain
            ("s", "c"),                                      # shortcut: c at 1
            ("d", "s"),                                      # cycle back
            ("x", "y"),                                      # unreachable
        ],
        ["src", "dst"],
    )
    got = {r.node: r.hops for r in bfs_hops(edges, "s").collect()}
    assert got == {"s": 0, "a": 1, "c": 1, "b": 2, "d": 2}
    # shortcut beat the chain (c would be 3 without it; d rides c+1)
    assert "x" not in got and "y" not in got


def test_bfs_hops_isolated_source(spark):
    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("b", "c")], ["src", "dst"]
    )
    # a source with no outgoing edges: just itself at 0
    got = {r.node: r.hops for r in bfs_hops(edges, "zzz").collect()}
    assert got == {"zzz": 0}


def test_sssp_weighted_planted(spark):
    """Bellman-Ford on a hand-checked digraph: the cheapest path is
    NOT the fewest-hops path, zero-weight edges work, cycles
    terminate, unreachable nodes are absent."""
    edges = spark.createDataFrame(
        [
            ("s", "a", 10),      # direct but expensive
            ("s", "b", 1),
            ("b", "c", 1),
            ("c", "a", 1),       # s->b->c->a = 3 beats s->a = 10
            ("a", "d", 0),       # zero-weight edge
            ("d", "s", 1),       # cycle back
            ("x", "y", 1),       # unreachable island
        ],
        ["src", "dst", "w"],
    )
    got = {r.node: r.cost for r in sssp_weighted(edges, "s").collect()}
    assert got == {"s": 0, "b": 1, "c": 2, "a": 3, "d": 3}
    assert "x" not in got and "y" not in got


def test_sssp_equals_bfs_on_unit_weights(spark):
    """With all weights 1, SSSP cost must equal BFS hop count."""
    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("s", "b"), ("b", "c")], ["src", "dst"]
    ).withColumn("w", F.lit(1))
    sp = {r.node: r.cost for r in sssp_weighted(edges, "s").collect()}
    hp = {r.node: r.hops for r in bfs_hops(edges, "s").collect()}
    assert sp == hp


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques with a single bridge edge: LPA must converge each
    clique to its maximum member label and keep the cliques apart."""
    def clique(members):
        return [(a, b) for a in members for b in members if a != b]

    # bridge at the max-labeled members: foreign labels then lose every
    # count-tie inside the opposite clique (with a low-member bridge the
    # lexicographically dominant foreign label wins sparse ties and the
    # synchronous schedule churns — the documented LPA tie sensitivity)
    edges = clique(["a1", "a2", "a3", "a4"]) + clique(
        ["b1", "b2", "b3", "b4"]
    ) + [("a4", "b4"), ("b4", "a4")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r.node: r.label for r in label_propagation(df, iterations=4).collect()}
    # round 1 scatters boundary labels; majority counts pull everything
    # back — by round 4 both cliques are uniform at their max member
    assert {out[n] for n in ("a1", "a2", "a3", "a4")} == {"a4"}
    assert {out[n] for n in ("b1", "b2", "b3", "b4")} == {"b4"}


def test_label_propagation_isolated_and_determinism(spark):
    # triangle (odd cycle: converges under the synchronous schedule —
    # a 2-cycle would oscillate, the documented synchronous-LPA
    # property) + a self-looped isolated node
    tri = [("x", "y"), ("y", "x"), ("y", "z"), ("z", "y"),
           ("x", "z"), ("z", "x"), ("w", "w")]
    df = spark.createDataFrame(tri, "src string, dst string")
    a = sorted(map(tuple, label_propagation(df, iterations=3).collect()))
    b = sorted(
        map(tuple, label_propagation(df.repartition(7), iterations=3).collect())
    )
    assert a == b
    d = dict(a)
    assert d["x"] == d["y"] == d["z"] == "z"  # triangle collapses to max
    assert d["w"] == "w"


def test_k_core_triangle_survives_pendant_chain_peels(spark):
    """Triangle (a,b,c) + pendant chain c-d-e: the 2-core is exactly
    the triangle; one round kills e, the next kills d."""
    und = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src STRING, dst STRING"
    )
    got = {r.node: r.deg for r in k_core(edges, k=2, rounds=4).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_k_core_fixed_point_and_k1(spark):
    und = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src STRING, dst STRING"
    )
    r4 = sorted(map(tuple, k_core(edges, k=2, rounds=4).collect()))
    r5 = sorted(map(tuple, k_core(edges, k=2, rounds=5).collect()))
    assert r4 == r5  # fixed point reached
    # k=1 keeps every non-isolated node
    r1 = {r.node for r in k_core(edges, k=1, rounds=2).collect()}
    assert r1 == {"a", "b", "c", "d", "e"}
    with pytest.raises(ValueError):
        k_core(edges, k=0)


def test_k_core_empty_after_peel(spark):
    """A bare chain has no 2-core — peeling must empty it, not loop."""
    und = [("a", "b"), ("b", "c"), ("c", "d")]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src STRING, dst STRING"
    )
    assert k_core(edges, k=2, rounds=4).count() == 0


def _dense_pagerank_reference(spark, edges, *, iterations, damping, scale):
    """The pre-r13 DENSE loop (ranks zero-filled against nodes every
    round), kept as the reference the sparse rewrite must equal."""
    num, den = damping
    e = edges.select("src", "dst")
    nodes = e.select(F.col("src").alias("node")).union(e.select("dst")).distinct()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    edges_od = e.join(outdeg, "src")
    base = (scale * (den - num)) // den
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    for _ in range(iterations):
        contribs = (
            ranks.join(edges_od, F.col("node") == F.col("src"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("rank DIV od")).alias("m"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr(f"({num} * coalesce(m, 0L)) DIV {den}")
            ).alias("rank"),
        )
    return ranks


@pytest.mark.parametrize("iterations", [1, 3, 8])
def test_pagerank_sparse_equals_dense_reference(spark, iterations):
    """The r13 sparse-mass pagerank must be bit-identical to the old
    dense loop — including dangling nodes (in-edges only) and source
    nodes (out-edges only, absent from every m relation)."""
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
            ("d", "a"),            # d: out-only (never in m)
            ("c", "e"),            # e: dangling (no out-edges)
            ("f", "e"), ("f", "b"),
        ],
        ["src", "dst"],
    )
    got = sorted(
        (r["node"], r["rank"])
        for r in pagerank_fixed_point(edges, iterations=iterations).collect()
    )
    want = sorted(
        (r["node"], r["rank"])
        for r in _dense_pagerank_reference(
            spark, edges, iterations=iterations,
            damping=(85, 100), scale=10**12,
        ).collect()
    )
    assert got == want


@pytest.mark.parametrize("iterations", [1, 4])
def test_lpa_union_equals_leftjoin_reference(spark, iterations):
    """The r13 isolated-union LPA must equal the old per-round
    left-join form — including a node with NO in-neighbor (directed
    edge input), which keeps its own label every round."""
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),
            ("b", "c"), ("c", "b"),
            ("x", "a"),            # x: no in-edges, out only
            ("d", "e"), ("e", "d"),
        ],
        ["src", "dst"],
    )
    got = sorted(
        (r["node"], r["label"])
        for r in label_propagation(edges, iterations=iterations).collect()
    )

    # old left-join reference
    e = edges.select(F.col("src").alias("__s"), F.col("dst").alias("__d"))
    labels = (
        e.select(F.col("__s").alias("node"))
        .union(e.select("__d"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(iterations):
        pick = (
            e.join(labels.withColumnRenamed("node", "__s"), "__s")
            .groupBy(F.col("__d").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("__c"))
            .groupBy("node")
            .agg(F.max(F.struct("__c", "label")).alias("__b"))
            .select("node", F.col("__b.label").alias("__new"))
        )
        labels = labels.join(pick, "node", "left").select(
            "node", F.coalesce("__new", "label").alias("label")
        )
    want = sorted((r["node"], r["label"]) for r in labels.collect())
    assert got == want


def test_hits_hand_graph(spark):
    # u1 -> v, u2 -> v, u2 -> w : v is the big authority, u2 the big hub
    e = spark.createDataFrame(
        [("u1", "v"), ("u2", "v"), ("u2", "w")], "src STRING, dst STRING"
    )
    got = {
        r["node"]: (r["hub"], r["auth"])
        for r in hits_fixed_point(e, iterations=2).collect()
    }
    # by hand: a1(v)=2, a1(w)=1; h1(u1)=2, h1(u2)=3;
    #          a2(v)=5, a2(w)=3; h2(u1)=5, h2(u2)=8
    assert got == {
        "u1": (5, 0),
        "u2": (8, 0),
        "v": (0, 5),
        "w": (0, 3),
    }


def test_hits_node_count_guard_raises(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src STRING, dst STRING"
    )
    # the cap falls with the rounds: 2^(62/40) ≈ 2.9 -> cap 2 at 20
    with pytest.raises(Exception, match="3 nodes > 2"):
        hits_fixed_point(e, iterations=20).collect()


def test_hits_guard_scales_with_iterations(spark):
    e = spark.createDataFrame(
        [(f"n{i}", f"n{(i + 1) % 12}") for i in range(12)],
        "src STRING, dst STRING",
    )
    # 12 nodes: fine at 4 iterations (cap 215), over the derived cap
    # at 9 iterations (2^(62/18) ≈ 10.9 -> cap 10)
    assert hits_fixed_point(e, iterations=4).count() == 12
    with pytest.raises(Exception, match="12 nodes > 10"):
        hits_fixed_point(e, iterations=9).count()
    with pytest.raises(ValueError, match="iterations"):
        hits_fixed_point(e, iterations=0)
