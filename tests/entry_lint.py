"""Static lints for registry entries, and the plan shapes that the
ledger ``tests/plan_shapes.json`` pins.

``lint_entry(df, name)`` applies every rule a built entry must pass;
an empty list means clean.  Output schema (the driver's canonicalizer
reads it):

1. No DECIMAL column, nested or not: cross-engine DECIMALs never hash
   equal, and the local oracle harness str()s them alike on both sides,
   so only this rule catches the class.  Cast the released column to
   DOUBLE (or a scaled BIGINT).
2. No array, map or struct column: pandas ``sort_values`` dies on
   unhashable cells.

Physical plan, walked as ``executedPlan().toString()`` prints it
(``children()`` plus ``innerChildren()``, so persisted stages' cached
plans and subqueries count, and through AQE to its initial plan):

3. No ``CartesianProduct`` (an O(n*m) pair explosion at scale).
4. No ``BatchEvalPython``: Python crosses only Arrow-batched.
5. No ``Exchange SinglePartition`` over a child that is not row-bounded
   per task, unless the entry is in ``SINGLE_PARTITION_OK``.
6. ``BroadcastNestedLoopJoin`` exactly in the entries of
   ``BNLJ_WHITELIST``: a stale entry fails too, so the list cannot rot.

``lint_registry`` is Tier-1's one registry walk (the session fixture
``registry_lint``); ``scripts/preflight.py`` calls ``lint_entry`` per
entry and ``scripts/plan_shapes.py`` writes the ledger.
"""

from __future__ import annotations

import json
import os
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DataType, DecimalType, MapType, StructType

from northwind_etl_spark.cache import release_stages
from northwind_etl_spark.plans.queries import QUERIES

LEDGER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_shapes.json")
REGENERATE = "python scripts/plan_shapes.py"

# Node classes (SimpleName, 'Exec' suffix stripped) the ledger counts,
# next to the total node count.  RDDScan is the scan of a checkpoint.
SHAPE_NODES = (
    "ShuffleExchange", "BroadcastExchange", "SortMergeJoin", "BroadcastHashJoin",
    "Window", "ArrowEvalPython", "InMemoryTableScan", "RDDScan",
)

# Node classes whose output is bounded per task, so funneling them into
# one partition is safe at any input scale: partial/final aggregates
# emit one row per group per task (group cardinality is the operator's
# own documented bound), limits and top-k emit <= k, Expand sits over
# an aggregate in every rollup/cube plan, and literal frames are
# driver-bounded already.
_BOUNDED_CHILD = {
    "HashAggregate", "ObjectHashAggregate", "SortAggregate", "LocalLimit",
    "GlobalLimit", "TakeOrderedAndProject", "Expand", "WindowGroupLimit",
    "LocalTableScan",
}

# Entries allowed to keep a SinglePartition exchange over a child the
# class list above doesn't cover.  Every entry here needs a reason that
# names the bound; additions without one should be treated as bugs.
# The three remainder-ranking entries and the runs test also need their
# 1-row broadcast in BNLJ_WHITELIST below.
SINGLE_PARTITION_OK: dict[str, str] = {
    # exact Pareto frontier: a Sort hides the per-x aggregate from the
    # child check; rows are |distinct x|, the frontier's working set
    "order_value_skyline": "prefix-max over distinct-x aggregate rows",
    # the lag window's child is BNLJ(daily aggregate x 1-row in-plan
    # median): one row per day bucket, whatever the order volume
    "daily_revenue_runs_test": "sign sequence = day-bounded aggregate x 1-row median",
    # largest-remainder apportionment: the ranking window's child is
    # BNLJ(per-class aggregate x 1-row budget), rows bounded by |classes|
    "license_token_budget": "remainder ranking over |classes| x 1-row budget",
    "source_temperature_budget": "remainder ranking over |sources| x 1-row budget",
    "floored_mixture_budget": "remainder ranking over |classes| x 1-row floor/budget",
}

# Entries whose plan holds a BroadcastNestedLoopJoin, each reviewed:
# every build side is a no-grouping aggregate or a bounded literal
# frame (see each query's docstring).
BNLJ_WHITELIST: dict[str, str] = {
    "boilerplate_cleaned_docs": "corpus doc-count scalar",
    "table_diff_summary": "dirty-bucket count scalar",
    "source_length_drift": "global bin spine vs group grid",
    "bigram_surprisal_scores": "corpus c2/V scalars",
    "heavy_hitter_terms": "total-count threshold scalar",
    "nation_trade_pagerank": "node-count / teleport scalar",
    "nation_trade_triangles": "edge-threshold scalar",
    "copurchase_rules": "basket-count scalar",
    "q22_dormant_customers": "avg-balance scalar (designed)",
    "tfidf_scores": "n_docs scalar",
    "cross_join_flag_region": "designed tiny cross product",
    "q11_important_parts": "value-threshold scalar",
    "unigram_surprisal_scores": "corpus-total scalar",
    "knn_bruteforce_topk": "1-row query-vector broadcast",
    "hard_negative_mining": "bounded anchor frame broadcast (<=40 rows)",
    "blocking_quality_metrics": "truth-set total scalars",
    "tcloseness_class_distances": "global-N scalar",
    "nation_balance_target_encoding": "global-sum scalar",
    "mixture_sampled_docs": "1-row mixture-unit scalar",
    "mixture_budget_docs": "1-row budget-unit scalar",
    "funnel_wilson_bounds": "1-row step-count scalars",
    "bm25_keyword_topk": "1-row corpus-stats (N, Σdl, dfs)",
    "rrf_fused_topk": "1-row anchor vector (knn pattern)",
    "langid_agreement_kappa": "1-row totals ⨯ 1-row pe_num",
    "order_key_skew_profile": "1-row aggregate ⨯ 1-row top10",
    "revenue_half_sample_ci": "1-row full-mean ⨯ 1-row CI picks",
    "orders_customer_join_estimate": "three 1-row stat frames joined",
    "dsir_en_importance_weights": "two 1-row model-total scalars",
    "zorder_locality_report": "1-row min/max binning stats",
    "trade_community_modularity": "1-row m + above-mean threshold scalars",
    "trade_degree_assortativity": "above-mean threshold scalar",
    "doc_length_quantile_norm": "1-row pooled-N scalar",
    "term_pmi_collocations": "1-row corpus-N scalar",
    "shipdate_zonemap_skipping": "1-row sorted-endpoint arrays (sweep depth)",
    "training_manifest_shards": "mixture_sample's 1-row unit scalar",
    "mixture_schedule_steps": "non-equi probe vs source-count-bounded quotas",
    "signup_conversion_survival": "1-row observation-end scalar",
    "experiment_cuped_readout": "1-row midpoint scalar",
    "events_value_psi_drift": "1-row midpoint scalar",
    "bm25_ndcg_eval": "1-row corpus-stats (bm25 pattern)",
    "source_term_jsd_pairs": "totals ⨯ 100-row vocabulary grid",
    "type_value_mutual_info": "1-row N scalar ⨯ bucket marginals",
    "langid_agreement_alpha": "1-row totals ⨯ 1-row pooled-S",
    "quality_margin_auc": "1-row row-count guard scalar",
    "quality_margin_gains": "1-row row-count guard scalar",
    "daily_revenue_runs_test": "1-row median + 1-row day count",
    "user_topk_mergeable": "1-row err-bound scalar",
    "minhash_delta_candidates": "1-row hot-bucket guard scalar",
    "minhash_band_recall_eval": "three 1-row count frames + guard",
    "int8_ann_recall_eval": "query-panel broadcast (knn pattern; N/50 at test SF)",
    "robots_block_rate": "6-row rules table, startswith theta-join",
    "rp_lsh_recall_eval": "three 1-row count frames + 1-row guard",
    "license_token_budget": "1-row total/budget scalar",
    "minhash_erasure_impact": "1-row hot-bucket guard scalar",
    "source_temperature_budget": "1-row total/budget scalar",
    "matryoshka_recall_eval": "query-panel broadcast (int8 pattern)",
    "pq_ann_recall_eval": "query-panel broadcast + per-query LUT arrays",
    "ivf_ann_recall_eval": "query-panel broadcast + 8 centroid distances",
    "lsh_band_sweep_eval": "per-config 1-row count frames + guards",
    "term_topk_churn": "1-row two-side contract guard scalar",
    "floored_mixture_budget": "1-row floor/budget spec + 1-row weight totals",
    "length_ks_by_source": "|groups|-row spine cross join + 1-row total",
    "matryoshka_rbo_eval": "query-panel broadcast (int8 pattern)",
    "sliding_distinct_users_hll": "day-spine range join over ≤days·256 registers",
    "hll_click_purchase_overlap": "four 1-row estimate/exact frames joined",
    "ams_f2_sketch_eval": "1-row exact-F2 frame ⨯ 1-row estimate",
    "bloom_fpr_eval": "≤64-row word-signature broadcast + 1-row stats frames",
    "daily_revenue_acf": "7-row lag spine ⨯ calendar-bounded daily aggregate",
    "daily_revenue_pacf": "3-row lag spine (the ACF shape) + 1-row pivot",
}


def _decimal_paths(dt: DataType, path: str, hits: list[str]) -> None:
    if isinstance(dt, DecimalType):
        hits.append(f"{path}: {dt.simpleString()}")
    elif isinstance(dt, StructType):
        for f in dt.fields:
            _decimal_paths(f.dataType, f"{path}.{f.name}", hits)
    elif isinstance(dt, ArrayType):
        _decimal_paths(dt.elementType, f"{path}[]", hits)
    elif isinstance(dt, MapType):
        _decimal_paths(dt.keyType, f"{path}<key>", hits)
        _decimal_paths(dt.valueType, f"{path}<value>", hits)


def _plan_nodes(df: DataFrame) -> list[tuple[object, str]]:
    """Every node of the executed plan as (node, class name without
    'Exec'), through adaptive plans, cached stages and subqueries."""
    nodes = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName().removesuffix("Exec")
        if cls == "AdaptiveSparkPlan":
            stack.append(n.initialPlan())
            continue
        nodes.append((n, cls))
        for seq in (n.children(), n.innerChildren()):
            for i in range(seq.size()):
                stack.append(seq.apply(i))
    return nodes


def _first_non_pass_through(n) -> str:
    """Descend through nodes that cannot increase per-task row counts
    (projections, filters, sorts) to the node that determines how many
    rows each upstream task can emit into the exchange; returns its
    class name."""
    pass_through = {"Project", "Filter", "Sort", "ColumnarToRow", "InputAdapter", "WholeStageCodegen"}
    while True:
        cls = n.getClass().getSimpleName().removesuffix("Exec")
        if cls not in pass_through or n.children().size() != 1:
            return cls
        n = n.children().apply(0)


def _plan_hits(nodes: list[tuple[object, str]], name: str) -> tuple[list[str], list[str]]:
    """(plan-node hits, SinglePartition-funnel hits) of one plan walk."""
    hits: list[str] = []
    funnel: list[str] = []
    bnlj = False
    for n, cls in nodes:
        if cls == "CartesianProduct":
            hits.append(f"{name}: CartesianProduct in physical plan")
        elif cls == "BatchEvalPython":
            hits.append(
                f"{name}: row-at-a-time Python UDF (BatchEvalPython) — "
                "use Arrow-batched pandas_udf / mapInPandas"
            )
        elif cls == "BroadcastNestedLoopJoin":
            bnlj = True
        elif (
            cls == "ShuffleExchange"
            and str(n.outputPartitioning()) == "SinglePartition"
            and name not in SINGLE_PARTITION_OK
        ):
            child_cls = _first_non_pass_through(n.children().apply(0))
            if child_cls not in _BOUNDED_CHILD:
                funnel.append(
                    f"{name}: Exchange SinglePartition over {child_cls} "
                    "(unbounded per-task rows) — bound the input (partial "
                    "agg / top-k) or whitelist with a justification"
                )
    if bnlj and name not in BNLJ_WHITELIST:
        hits.append(
            f"{name}: unreviewed BroadcastNestedLoopJoin — review the build "
            "side and add it to BNLJ_WHITELIST with the reason"
        )
    elif not bnlj and name in BNLJ_WHITELIST:
        hits.append(f"{name}: stale BNLJ_WHITELIST entry (no BroadcastNestedLoopJoin)")
    return hits, funnel


# The rule groups of lint_entry's hits: DECIMAL output (rule 1),
# non-scalar output (2), banned or unreviewed plan nodes (3, 4, 6) and
# the SinglePartition funnel (5).  Each has its own registry test.
RULE_GROUPS = ("decimal", "non_scalar", "plan", "funnel")


def _rule_hits(df: DataFrame, name: str) -> list[tuple[str, str]]:
    """(rule group, hit) for every static-rule violation of ``df``."""
    hits: list[tuple[str, str]] = []
    for f in df.schema.fields:
        if isinstance(f.dataType, ArrayType | MapType | StructType):
            hits.append((
                "non_scalar",
                f"{name}: non-scalar output column {f.name}: "
                f"{f.dataType.simpleString()}",
            ))
        decimals: list[str] = []
        _decimal_paths(f.dataType, f.name, decimals)
        hits += [("decimal", f"{name}: DECIMAL output column {d}") for d in decimals]
    plan, funnel = _plan_hits(_plan_nodes(df), name)
    return hits + [("plan", h) for h in plan] + [("funnel", h) for h in funnel]


def lint_entry(df: DataFrame, name: str) -> list[str]:
    """Every static-rule violation of the built entry ``df``, one
    string each; empty means clean."""
    return [h for _, h in _rule_hits(df, name)]


def plan_shape(df: DataFrame) -> dict[str, int]:
    """Total node count and the count of each ``SHAPE_NODES`` class in
    the plan walk ``lint_entry`` uses."""
    nodes = _plan_nodes(df)
    counts = Counter(cls for _, cls in nodes)
    return {"nodes": len(nodes), **{c: counts[c] for c in SHAPE_NODES}}


def scale_factor(sf_dir: str) -> str:
    """The scale factor a test-data dir holds, by its name (``sf0.001``)."""
    return os.path.basename(os.path.normpath(sf_dir))


def load_ledger() -> tuple[str, dict[str, dict[str, int]]]:
    """(scale factor, shape per entry) of the committed ledger."""
    with open(LEDGER) as f:
        doc = json.load(f)
    return doc["scale_factor"], doc["entries"]


def shape_diffs(shapes: dict, ledger: dict) -> list[str]:
    """One line per count that differs between ``shapes`` and the
    ledger, entry by entry; an entry missing on one side has no counts."""
    diffs = []
    for name in {**ledger, **shapes}:
        old, new = ledger.get(name, {}), shapes.get(name, {})
        diffs += [
            f"{name}: {k} {old.get(k)} -> {new.get(k)} (regenerate: {REGENERATE})"
            for k in sorted(old.keys() | new.keys())
            if old.get(k) != new.get(k)
        ]
    return diffs


def write_ledger(sf_dir: str, shapes: dict[str, dict[str, int]]) -> None:
    """One entry per line, in registry order, so a diff shows the
    entries whose shape moved."""
    lines = [f"    {json.dumps(k)}: {json.dumps(v)}" for k, v in shapes.items()]
    with open(LEDGER, "w") as f:
        f.write(
            f'{{\n  "scale_factor": {json.dumps(scale_factor(sf_dir))},\n'
            '  "entries": {\n' + ",\n".join(lines) + "\n  }\n}\n"
        )


def build_entry(spark, name: str, sf_dir: str) -> DataFrame:
    """Builds registry entry ``name`` on an empty cache: stages that
    earlier entries or tests persisted are released first, since Spark's
    CacheManager would otherwise put them into this entry's plan
    wherever the plans match, and its shape would depend on what ran
    before."""
    release_stages()
    spark.catalog.clearCache()
    return QUERIES[name](spark, sf_dir)


def registry_entries(spark, sf_dir: str):
    """Yields (name, DataFrame) for every registry entry, each built
    once by ``build_entry``; releases the last one's stages at the end."""
    try:
        for name in QUERIES:
            yield name, build_entry(spark, name, sf_dir)
    finally:
        release_stages()


def lint_registry(
    spark, sf_dir: str
) -> tuple[dict[str, list[str]], list[str] | None]:
    """Builds every registry entry once and returns its lint hits per
    ``RULE_GROUPS`` group, and the plan shapes that differ from the
    ledger.  Those are None when the ledger pins another scale factor:
    table sizes steer the broadcast choices, so shapes only compare at
    the ledger's own."""
    hits: dict[str, list[str]] = {g: [] for g in RULE_GROUPS}
    shapes = {}
    for name, df in registry_entries(spark, sf_dir):
        for group, h in _rule_hits(df, name):
            hits[group].append(h)
        shapes[name] = plan_shape(df)
    ledger_sf, ledger = load_ledger()
    if ledger_sf != scale_factor(sf_dir):
        return hits, None
    return hits, shape_diffs(shapes, ledger)
