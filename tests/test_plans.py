"""Physical-plan shape assertions — the 100 TB discipline as tests.

A query that passes its oracle but scans all columns, skips pushdown, or
shuffles the fact table for a dimension join is still wrong at scale; these
tests pin the plan shapes (SURVEY.md §4, §6: each reference query = 1 agg
exchange + 1 sort exchange).
"""

from __future__ import annotations

from f1_bigdata_pyspark_spark.plans.explain import (
    assert_broadcast_join,
    assert_pushed_filters,
    count_shuffles,
    formatted_plan,
    oversized_broadcast_inputs,
)
from f1_bigdata_pyspark_spark.queries.registry import _REGISTRY


def q(name, spark, sf):
    return _REGISTRY[name].fn(spark, sf)


def test_pricing_summary_pushdown_and_shuffles(spark, sf_smoke):
    df = q("pricing_summary", spark, sf_smoke)
    assert_pushed_filters(df)
    # two-phase distinct: (keys, partkey) partial agg + final agg + sort —
    # and NO Expand (countDistinct's expand shuffles every raw row twice)
    assert count_shuffles(df) <= 3
    assert "Expand" not in formatted_plan(df)


def test_pricing_summary_prunes_columns(spark, sf_smoke):
    plan = formatted_plan(q("pricing_summary", spark, sf_smoke))
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan
    # only the 6 referenced columns may be read, not all 11
    assert "l_orderkey" not in scan_lines[0]
    assert "l_suppkey" not in scan_lines[0]


def test_group_metrics_two_shuffles(spark, sf_smoke):
    df = q("group_metrics_having", spark, sf_smoke)
    assert count_shuffles(df) <= 2


def test_slope_per_group_two_shuffles(spark, sf_smoke):
    df = q("slope_per_group", spark, sf_smoke)
    assert_pushed_filters(df)
    assert count_shuffles(df) <= 2


def test_star_join_broadcasts_dims(spark, sf_smoke):
    df = q("revenue_by_nation", spark, sf_smoke)
    assert_broadcast_join(df)
    plan = formatted_plan(df)
    # the fact table must not be exchanged for the dimension joins: the only
    # sort-merge/shuffled-hash join allowed is lineitem⋈orders
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_semi_anti_join_types(spark, sf_smoke):
    anti = formatted_plan(q("customers_without_orders", spark, sf_smoke))
    semi = formatted_plan(q("customers_with_big_orders", spark, sf_smoke))
    assert "LeftAnti" in anti
    assert "LeftSemi" in semi


def test_topk_is_take_ordered(spark, sf_smoke):
    plan = formatted_plan(q("top_k_orders", spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan, plan


def test_dedup_keep_first_single_shuffle(spark, sf_smoke):
    # partitioned row_number: exactly one exchange (by key) + final sort
    df = q("dedup_keep_first", spark, sf_smoke)
    assert count_shuffles(df) <= 2


# --- tpch_more / sessions plan shapes ------------------------------------


def test_forecast_revenue_is_scan_filter_agg(spark, sf_smoke):
    # TPC-H Q6 shape: all predicates pushed, single agg exchange, no join
    df = q("forecast_revenue", spark, sf_smoke)
    assert_pushed_filters(df)
    assert count_shuffles(df) <= 1
    assert "Join" not in formatted_plan(df)


def test_promo_share_broadcasts_part(spark, sf_smoke):
    df = q("promo_revenue_share", spark, sf_smoke)
    assert_broadcast_join(df)
    assert count_shuffles(df) <= 1  # only the final single-row agg


def test_small_quantity_co_partitioned_rejoin(spark, sf_smoke):
    # the per-part avg and the fact re-join share the l_partkey hash
    # partitioning: 2 exchanges total, never one per join side
    df = q("small_quantity_revenue", spark, sf_smoke)
    assert_broadcast_join(df)
    assert count_shuffles(df) <= 2


def test_large_volume_reduces_before_join(spark, sf_smoke):
    df = q("large_volume_customers", spark, sf_smoke)
    assert_broadcast_join(df)
    assert count_shuffles(df) <= 3


def test_nation_market_share_broadcasts_all_dims(spark, sf_smoke):
    df = q("nation_market_share", spark, sf_smoke)
    plan = formatted_plan(df)
    # supplier, nation, region all broadcast; lineitem⋈orders is the only
    # shuffled join
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert count_shuffles(df) <= 3


def test_user_sessions_single_user_partition(spark, sf_smoke):
    # window + both groupBys all reuse the user_id hash partitioning:
    # 1 data exchange + the final sort only
    df = q("user_sessions", spark, sf_smoke)
    assert count_shuffles(df) <= 2


def test_asof_join_single_shuffle(spark, sf_smoke):
    # tagged-union as-of join: one exchange on user_id + final 1-row agg
    df = q("asof_click_before_purchase", spark, sf_smoke)
    assert count_shuffles(df) <= 2


def test_single_agg_family_shuffle_budgets(all_query_dfs):
    """Every scan→(join)→groupBy→sort query stays within agg-exchange +
    sort-exchange; the multires rollup gets one extra for its second level.
    (r12: reads the shared one-pass frame build — this test alone rebuilt
    ~65 query frames, ~14 s of the suite.)"""
    budgets = {
        "dispersion_family": 2,
        "string_functions_probe": 2,
        "embedding_component_stats": 2,
        "hll_users_by_type": 3,  # countDistinct expand beside the sketches
        "sketch_merge_rollup": 4,  # daily sketches + union + exact-distinct side
        "grouping_sets_revenue": 2,
        "orders_trailing_90d": 2,
        "disjunctive_brand_revenue": 1,
        "value_tier_range_join": 2,
        "events_multires_rollup": 3,
        "regex_token_stats": 2,
        "rolling_fingerprint_stats": 3,  # countDistinct adds an expand
        "embedding_near_dup_pairs": 1,  # broadcast nested-loop pair join
        "ivf_kmeans_cells": 3,  # dim-mean agg + array rebuild + final cells
        "priority_order_exists": 2,
        "customer_order_distribution": 3,  # pre-agg + join + distribution
        "dormant_rich_customers": 3,
        "near_dup_clusters": 2,  # iteration plans checkpointed separately
        "corpus_curation_pipeline": 4,  # dedup window + shingle SMJ pair
        "portable_hll_users_by_type": 3,  # register agg + estimate + sort
        "portable_hll_merge_rollup": 5,  # daily + merge + 1-row broadcasts
        "top_revenue_supplier": 4,
        "min_cost_supplier_per_part": 4,
        "sole_big_supplier": 3,
        "skew_safe_event_stats": 3,  # salt stage adds one exchange
        "train_test_split_stats": 2,
        "datetime_argmax_probe": 2,
        "collect_agg_probe": 2,
        "sql_face_top_nations": 3,
        "user_state_history": 3,
        "map_functions_probe": 2,
        "window_family_probe": 2,
        "corpus_mixture_sample": 2,
        "redaction_stats": 2,
        "user_event_struct_roundtrip": 2,
        "session_window_overlap": 3,
        "referential_integrity_audit": 8,  # 4 edges x 1-row final agg each
        "orders_profile": 2,
        "local_supplier_revenue": 2,
        "bilateral_trade_volume": 2,
        "daily_revenue_spine": 2,
        "product_profit_by_nation": 2,  # li⋈orders SMJ + agg; dims broadcast
        "returnflag_priority_classes": 2,
        "supplier_count_by_part_attrs": 4,  # pair-dedup + distinct expand
        "dominant_part_suppliers": 4,  # two rollup levels + share join
        "price_equidepth_histogram": 1,  # post-window stages stay single-part
        "zorder_part_layout": 1,
        "incremental_daily_rollup": 3,  # two partial sides + merge agg
        "bloom_prefilter_revenue": 2,  # bloom probe is map-side only
        "approx_quantile_accuracy": 2,
        "negative_sampling_pairs": 2,
        "udtf_chunk_stats": 1,
        "bottomk_sample_merge": 2,  # daily-partition window + global merge
        "pandas_scalar_qnorm": 2,
        "bitmap_distinct_rollup": 4,  # daily partials + OR-merge + count + sort
        "variant_props_stats": 2,
        "tfidf_topk_retrieval": 4,  # tf + idf aggs + score agg + top-k
        "split_contamination_check": 8,  # shingle window + split branches
        "int8_quant_recall": 1,  # broadcast probes; one top-k exchange
        "bigram_pmi_topk": 9,  # pair window + uni/big/n aggs (tiny post-agg)
        "sequence_packing_stats": 1,  # post-window stages stay single-part
        "crossmodal_retrieval_topk": 0,  # broadcast join + TakeOrdered only
        "late_arrival_audit": 1,  # arrival-order window; agg stays single-part
        # edges repartitioned by src once; deg + 3 rank frames go through
        # the size policy (node-scaled -> co-partitioned joins, not
        # unconditional broadcasts) + iteration aggs + top-k
        "pagerank_suppliers": 10,
    }
    for name, budget in budgets.items():
        got = count_shuffles(all_query_dfs[name])
        assert got <= budget, (name, got, budget)


def test_dedup_keep_first_has_partial_agg(spark, sf_smoke):
    # keep-first must run as partial_min → exchange → final min (map-side
    # combine), not as a window that shuffles every raw row
    plan = formatted_plan(q("dedup_keep_first", spark, sf_smoke))
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan
    assert count_shuffles(q("dedup_keep_first", spark, sf_smoke)) <= 1


def test_trailing_90d_single_customer_partition(spark, sf_smoke):
    # the RANGE-frame window must ride ONE hash exchange keyed by customer
    # (frame state never crosses an executor); the only other exchange is
    # the final display sort — same discipline as user_sessions
    df = q("orders_trailing_90d", spark, sf_smoke)
    plan = formatted_plan(df)
    hash_parts = [
        ln for ln in plan.splitlines() if "hashpartitioning" in ln
    ]
    assert hash_parts, plan
    assert all("o_custkey" in ln for ln in hash_parts), plan
    assert count_shuffles(df) <= 2


def test_range_join_broadcasts_tiers(spark, sf_smoke):
    # the non-equi join must broadcast the tiny tier table, never shuffle
    # or nested-loop the fact side against itself
    assert_broadcast_join(q("value_tier_range_join", spark, sf_smoke))


def test_lm_perplexity_prunes_document_columns(spark, sf_smoke):
    """The LM scoring pass may read only (doc_id, source, text) — lang and
    n_chars must be pruned from every documents scan."""
    plan = formatted_plan(q("ngram_lm_perplexity", spark, sf_smoke))
    for ln in plan.splitlines():
        if "ReadSchema" in ln and "documents" in plan:
            assert "lang" not in ln
            assert "n_chars" not in ln


def test_duplicate_passages_hashes_before_shuffle(spark, sf_smoke):
    """Every exchange in the passage-dedup plan moves hashed rows — no
    shingle STRING may cross a shuffle (the MinHash discipline)."""
    df = q("duplicate_passages", spark, sf_smoke)
    plan = formatted_plan(df)
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert " s#" not in m.group(1), m.group(0)


def test_embedding_lsh_blocks_before_cosine(spark, sf_smoke):
    """The blocked embedding dedup must contain NO cartesian/nested-loop
    join: candidates come only from the (band, bucket) equi-join."""
    plan = formatted_plan(q("embedding_lsh_near_dup_pairs", spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mixture_allocation_single_corpus_shuffle(spark, sf_smoke):
    """Corpus-scale work is ONE token-count aggregate; the window math runs
    on the 20-row per-source rollup."""
    df = q("mixture_temperature_allocation", spark, sf_smoke)
    # agg exchange + post-agg single-partition window + final sort
    assert count_shuffles(df) <= 4


def test_join_strategy_hints_are_honored(spark, sf_smoke):
    """The join-hint API: MERGE and SHUFFLE_HASH hints steer the planner
    to the hinted physical join — the manual override for the cases where
    stats mislead the optimizer (the complement of the size-aware
    automatic policy in operators/join_policy)."""
    from f1_bigdata_pyspark_spark.catalog import load_table

    orders = load_table(spark, sf_smoke, "orders")
    li = load_table(spark, sf_smoke, "lineitem")

    merged = li.join(
        orders.hint("merge"), li.l_orderkey == orders.o_orderkey
    )
    assert "SortMergeJoin" in formatted_plan(merged)

    hashed = li.join(
        orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey
    )
    plan = formatted_plan(hashed)
    assert "ShuffledHashJoin" in plan, plan


import pytest


@pytest.fixture(scope="module")
def all_query_dfs(spark, sf_smoke):
    """The DataFrame of EVERY registered query, built ONCE (r12, round-11
    verdict #1 — the suite must fit the driver's verify budget). Building
    a query's frame runs its documented bounded driver probes (including
    the snapshot faces' table builds), ~1 s per query across 373 queries;
    the three registry-wide audits each used to pay that full pass
    themselves (403 + 216 + 201 s measured) — now one pass feeds all of
    them. Sound because every audit below only INSPECTS plans."""
    dfs = {}
    for name in sorted(_REGISTRY):
        dfs[name] = _REGISTRY[name].fn(spark, sf_smoke)
    return dfs


@pytest.fixture(scope="module")
def all_query_plans(all_query_dfs):
    """Formatted physical plan of every registered query, derived from the
    shared one-pass frame build above."""
    return {name: formatted_plan(df) for name, df in all_query_dfs.items()}


def test_no_query_plans_a_cartesian_product(all_query_plans):
    """Registry-wide scale invariant: NO declared query may compile to a
    CartesianProduct — every pair-space (near-dup verify, ANN, range
    join) must be bounded by an equi-join key (bucket, band, tier) or a
    broadcast. Scalar one-row crossJoins plan as BroadcastNestedLoopJoin
    and are fine; an unkeyed shuffle cartesian is never fine at 100 TB."""
    bad = [n for n, p in all_query_plans.items() if "CartesianProduct" in p]
    assert not bad, bad


def test_no_query_uses_row_at_a_time_python(all_query_plans):
    """Registry-wide UDF-tier invariant: Python appears in query plans
    ONLY behind Arrow batching (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas / MapInArrow / UDTF). BatchEvalPython — the
    row-at-a-time pickling path, 10-100x slower — must never appear."""
    bad = [n for n, p in all_query_plans.items() if "BatchEvalPython" in p]
    assert not bad, bad


# Documented global (unpartitioned) windows: each runs over POST-AGGREGATE
# or bounded cardinality (source rollups, remainder ranks, global deciles
# with a stated bound) — see the query docstrings. Anything NOT listed
# here that plans an unpartitioned Window over corpus-scale input is a
# scale regression. Verified against the detector below (the previous
# regex matched simple-mode plan strings, which `explain("formatted")`
# never emits — the audit was silently vacuous and this list had both
# stale entries and misses).
_GLOBAL_WINDOW_OK = {
    "pareto_rank",                 # post-agg, ~#groups rows
    "order_value_deciles",         # ntile over per-order rollup, bound stated
    "price_equidepth_histogram",   # split points over per-bucket rollup
    "supplier_rank_distribution",  # post-agg supplier ranks
    "mixture_temperature_allocation",  # remainder rank over #sources rows
    "stratified_quota_sample",     # per-stratum rank over bounded quota input
    "corpus_curation_v2",          # composes the quota draw above
    "priority_share",              # share-of-total over #priorities rows
    "late_arrival_audit",          # running max in ARRIVAL order (audit semantics)
    "bottomk_sample_merge",        # global min-k over per-day min-k rows
    "monthly_revenue",             # month-over-month lag over #months rows
    "customer_revenue_gini",       # rank over per-customer rollup (docstring)
    "int8_quant_recall",           # top-10 rank over one query's candidates
    "ivf_pq_adc_topk",             # rank over the query's 2 probed cells only
    "sequence_packing_stats",      # global pack offsets; per-shard at scale (docstring)
    "zorder_part_layout",          # layout demo positions over the part dim
    "value_ks_drift",              # ECDF over the BINNED domain (bin-grid bound)
    "seasonal_decomposition",      # 7-day MA over the bounded day grid
    "hybrid_rrf_retrieval",        # ranks over two LIMIT-50 legs only
    "kaplan_meier_survival",       # at-risk cumsum over the day grid
    "cumulative_unique_users",     # growth cumsum over the day grid
    "quality_classifier_auc",      # rank-sum over the ≤1001-cell score histogram
    "score_decile_gains",          # cumsum over score cells, capture over 10 deciles
    "daily_value_interpolation",   # neighbor lookup over the bounded day grid
    "parts_pareto_front",          # skyline cummin over the ≤50-cell size domain
    "kendall_tau_source_rankers",  # two ranks over the ~20-row source table
    "order_backlog_daily_peak",    # sweep-line running sum over the date grid
    "repeat_purchase_timing",      # percentile cumulative over the bounded day histogram
    "piecewise_trend_breakpoint",  # index/prefix/argmin windows over the day grid
    "moving_median_daily_revenue",  # 7-day median over the bounded day grid
    "source_quality_token_frontier",  # rank/cumsum over the ~20-row source rollup
}


def _unpartitioned_window_specs(plan: str):
    """True iff the formatted plan contains a windowspecdefinition with NO
    partition key. formatted-mode Arguments lines OMIT empty spec lists,
    so list-counting is ambiguous (partition-only and order-only windows
    both render two lists); the reliable signal is the spec itself —
    partition keys are bare expressions, order keys carry ASC/DESC."""
    import re

    def split_top(s):
        parts, depth, cur = [], 0, ""
        for ch in s:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append(cur.strip())
                cur = ""
            else:
                cur += ch
        if cur.strip():
            parts.append(cur.strip())
        return parts

    for m in re.finditer(
        r"windowspecdefinition\((.*?), specifiedwindowframe", plan
    ):
        args = split_top(m.group(1))
        if args and all(re.search(r"\b(ASC|DESC)\b", a) for a in args):
            return True  # only order keys -> no partition spec
    if re.search(r"windowspecdefinition\(specifiedwindowframe", plan):
        return True  # neither partition nor order keys
    return False


def test_unpartitioned_windows_are_documented(all_query_plans):
    """Any query planning a Window with an empty partition spec must be on
    the documented allowlist (post-agg / bounded cardinality). New queries
    that accidentally sort the corpus on one partition fail here. The
    allowlist is exact: stale entries (queries that no longer plan a
    global window) fail too, so the list cannot rot in either direction."""
    # entries naming a deleted/renamed query are invisible to the stale
    # loop below (it iterates plans, not the allowlist) — reject them first
    ghosts = _GLOBAL_WINDOW_OK - set(all_query_plans)
    assert not ghosts, f"allowlist entries naming no registered query: {ghosts}"
    offenders = []
    stale = []
    for name, plan in all_query_plans.items():
        is_global = _unpartitioned_window_specs(plan)
        if is_global and name not in _GLOBAL_WINDOW_OK:
            offenders.append(name)
        if not is_global and name in _GLOBAL_WINDOW_OK:
            stale.append(name)
    assert not offenders, f"undocumented global windows: {offenders}"
    assert not stale, f"stale allowlist entries: {stale}"


def test_no_oversized_broadcast_registry_wide(all_query_dfs):
    """Registry-wide broadcast-size invariant: no BroadcastExchange may be
    fed by a frame whose Catalyst size estimate exceeds the session's
    autoBroadcastJoinThreshold. Catalyst's auto-broadcast only fires
    under the threshold, so an over-threshold exchange can only come from
    an unconditional F.broadcast hint — the pattern that replicates a
    vocab/dimension to every executor regardless of how big it grows at
    100x the data (the round-3 bigram_pmi_topk defect). The scalar 1-row
    crossJoin broadcasts pass by construction (1-row estimates)."""
    offenders = {}
    for name, df in all_query_dfs.items():
        off = oversized_broadcast_inputs(df)
        if off:
            offenders[name] = off
    assert not offenders, offenders


def test_oversized_broadcast_detector_not_vacuous(spark, sf_smoke):
    """The walker must actually catch a forced broadcast: with an explicit
    1-byte threshold, a hinted dimension join is an offender (proving the
    plan walk finds BroadcastExchangeExec and reads its input's stats)."""
    from pyspark.sql import functions as F

    from f1_bigdata_pyspark_spark.catalog import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    orders = load_table(spark, sf_smoke, "orders")
    forced = li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
    off = oversized_broadcast_inputs(forced, threshold_bytes=1)
    assert off and all(size > 1 for _, size in off), off


def test_bigram_pmi_vocab_joins_degrade_over_threshold(spark, sf_smoke):
    """The PMI unigram vocabulary is 10^8-10^9 rows on a web corpus, so its
    joins must degrade to the co-partitioned shuffle join when the size
    policy says the frame is over threshold. Pin it: with a 1 KB session
    threshold the vocab joins plan as SortMergeJoin (only the 1-row
    scalar broadcasts remain) and the audit stays clean."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, "10485760")
    try:
        spark.conf.set(key, "1KB")
        df = q("bigram_pmi_topk", spark, sf_smoke)
        plan = formatted_plan(df)
        assert "SortMergeJoin" in plan, plan
        assert oversized_broadcast_inputs(df) == []
    finally:
        spark.conf.set(key, prev)


def test_shuffle_count_ceiling_across_registry(all_query_dfs):
    """Exchange-count tripwire: the heaviest composed pipelines
    (curation_v2, passage dedup, KMV, LSH quality) plan 11 exchanges;
    the registry median is 2. Any query exceeding 12 has almost
    certainly lost a partitioning-reuse or broadcast somewhere — fail
    loudly instead of silently shipping a shuffle storm."""
    offenders = {}
    for name, df in all_query_dfs.items():
        n = count_shuffles(df)
        if n > 12:
            offenders[name] = n
    assert not offenders, offenders


def test_readme_registry_count_is_fresh():
    """The README states the registered-query count; pin it to the live
    registry so the number can never drift again (round-4 advice: docs
    said 290 while the registry imported 291)."""
    import os
    import re

    readme = os.path.join(os.path.dirname(__file__), "..", "README.md")
    with open(readme, encoding="utf-8") as f:
        m = re.search(r"(\d+) queries, every one with a DuckDB", f.read())
    assert m, "README no longer states the registry count"
    assert int(m.group(1)) == len(_REGISTRY), (
        f"README says {m.group(1)} queries but the registry has "
        f"{len(_REGISTRY)} — update README.md (and SCALE.md's as-of note)"
    )

    scale = os.path.join(os.path.dirname(__file__), "..", "SCALE.md")
    with open(scale, encoding="utf-8") as f:
        m = re.search(r"\((\d+) registered queries\)", f.read())
    assert m, "SCALE.md no longer states the registry count"
    assert int(m.group(1)) == len(_REGISTRY), (
        f"SCALE.md says {m.group(1)} queries but the registry has "
        f"{len(_REGISTRY)} — update SCALE.md"
    )

    # round-5 verdict: SURVEY.md's counts drifted (317 vs 324) because only
    # README and SCALE were pinned — pin every count SURVEY states too.
    survey = os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    with open(survey, encoding="utf-8") as f:
        text = f.read()
    m = re.search(
        r"\*\*(\d+) registered queries, (\d+) with DuckDB oracles", text
    )
    assert m, "SURVEY.md no longer states the registry count"
    assert int(m.group(1)) == len(_REGISTRY) and int(m.group(2)) == len(
        _REGISTRY
    ), (
        f"SURVEY.md says {m.group(1)}/{m.group(2)} queries but the registry "
        f"has {len(_REGISTRY)} — update SURVEY.md's counts paragraph"
    )
    m = re.search(r"green over all (\d+)\.", text)
    assert m, "SURVEY.md no longer states the plan-audit count"
    assert int(m.group(1)) == len(_REGISTRY), (
        f"SURVEY.md plan-audit note says {m.group(1)} but the registry has "
        f"{len(_REGISTRY)} — update SURVEY.md"
    )


# r12 (round-11 verdict #7): unpartitioned windows must be SAFE BY
# CONSTRUCTION, not just documented — each one's subtree must contain an
# operator that bounds its input (an Aggregate, a Limit/TakeOrdered, or a
# local/range relation). Queries whose global window runs over input
# bounded by something the PLAN cannot show (a selective filter with a
# stated domain bound, arrival-order audit semantics) are listed here
# with the reason; everything else is structurally verified.
_GLOBAL_WINDOW_UNAGG_OK = {
    "late_arrival_audit",     # running max in ARRIVAL order over the raw
                              # feed — audit semantics, windows the stream
                              # itself (docstring states the bound)
    "order_value_deciles",    # exact global ntile IS the declared
                              # semantics: a total order over orders is
                              # inherent to the contract (sf-bounded
                              # diagnostic; at scale you'd declare
                              # approx_percentile instead)
    "price_equidepth_histogram",  # same: exact equi-depth split points
                              # need the global sort by declaration
    "sequence_packing_stats",  # global pack offsets by declaration;
                              # docstring states the per-shard scale form
    "zorder_part_layout",     # layout walk over the part dimension —
                              # a demo face over one dim table
}


def _plan_sections(plan: str):
    """Split a formatted plan into (tree_lines, {id: detail_chunk}) per
    plan section (main plan + each subquery — operator ids restart per
    section, so they must not be mixed)."""
    import re

    sections = re.split(r"(?m)^(?=== Physical Plan ==|Subquery:)", plan)
    out = []
    for sec in sections:
        lines = sec.splitlines()
        tree = []
        details: dict[int, list[str]] = {}
        cur = None
        for ln in lines:
            m = re.match(r"^\((\d+)\) (\w+)", ln)
            if m:
                cur = int(m.group(1))
                details[cur] = [ln]
                continue
            if cur is not None:
                details[cur].append(ln)
                continue
            tm = re.match(r"^([ :+\-]*)(?:\* )?(\w[\w .$\[\]]*?) \((\d+)\)", ln)
            if tm:
                tree.append((len(tm.group(1)), tm.group(2), int(tm.group(3))))
        if tree or details:
            out.append((tree, {k: "\n".join(v) for k, v in details.items()}))
    return out


_BOUNDING_OPS = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "GlobalLimit",
    "LocalLimit",
    "LocalTableScan",
    "Scan ExistingRDD",  # createDataFrame of driver-computed rows —
    # bounded by driver memory by construction (day grids, rank panels)
    "Range",
)


def _unbounded_global_windows(plan: str):
    """Walk one formatted plan for unpartitioned Window operators. Returns
    (offenders, unresolved): the windows with no bounding operator below
    them in their own plan section, as (op_id, first subtree operators),
    and the ids of Window detail chunks with no node in the parsed tree —
    windows the walk cannot see below."""
    offenders, unresolved = [], []
    for tree, details in _plan_sections(plan):
        by_id = {op_id: (depth, opname) for depth, opname, op_id in tree}
        order = [op_id for _, _, op_id in tree]
        for op_id, chunk in details.items():
            if not chunk.startswith(f"({op_id}) Window"):
                continue
            if not _unpartitioned_window_specs(chunk):
                continue
            if op_id not in by_id:
                unresolved.append(op_id)
                continue
            depth = by_id[op_id][0]
            idx = order.index(op_id)
            subtree = []
            for d2, opname2, id2 in tree[idx + 1:]:
                if d2 <= depth:
                    break
                subtree.append(opname2)
            if not any(s.startswith(b) for s in subtree for b in _BOUNDING_OPS):
                offenders.append((op_id, subtree[:6]))
    return offenders, unresolved


def test_unpartitioned_windows_sit_above_bounded_input(all_query_plans):
    """STRUCTURAL pin for the allowlist above: every Window operator whose
    spec has no partition key must have a bounding operator (aggregate,
    limit, local relation) somewhere BELOW it in its own plan section —
    the 'post-aggregate / bounded input' claim checked against the tree,
    not just the docstring. Exceptions with plan-invisible bounds are
    named in _GLOBAL_WINDOW_UNAGG_OK. Fails closed: a Window the tree
    parse cannot place fails the audit instead of being skipped."""
    offenders, unresolved = {}, {}
    for name, plan in all_query_plans.items():
        if name in _GLOBAL_WINDOW_UNAGG_OK:
            continue
        bad, blind = _unbounded_global_windows(plan)
        if bad:
            offenders[name] = bad
        if blind:
            unresolved[name] = blind
    assert not unresolved, (
        f"Window operators missing from the parsed plan tree: {unresolved}"
    )
    assert not offenders, f"global windows over unbounded input: {offenders}"


def test_unpartitioned_window_structural_detector_not_vacuous(spark, sf_smoke):
    """The structural walk must actually flag a global window over a raw
    scan (no aggregate below) — proving the tree parse, the per-operator
    spec check, and the subtree scan all engage — and must report, not
    skip, a Window whose tree node it cannot parse."""
    import re

    from pyspark.sql import Window

    from pyspark.sql import functions as F

    from f1_bigdata_pyspark_spark.catalog import load_table

    li = load_table(spark, sf_smoke, "lineitem").select("l_orderkey")
    bad = li.withColumn(
        "rk", F.row_number().over(Window.orderBy("l_orderkey"))
    )
    plan = formatted_plan(bad)
    hits, unresolved = _unbounded_global_windows(plan)
    assert hits and not unresolved, plan
    # the same plan with the Window's tree line unparseable
    blind_plan, n = re.subn(
        r"(?m)^([ :+\-]*(?:\* )?)Window \((\d+)\)$", r"\1Window #\2", plan
    )
    assert n == 1, plan
    assert _unbounded_global_windows(blind_plan) == ([], [hits[0][0]])
