"""Plan-quality audits (SURVEY §3: every operator's plan must show
pushed filters + pruned columns, broadcast dim joins, and no Python
row UDFs). These are regression tests on the PHYSICAL plan, not the
results — the properties that decide whether a query survives 100 TB.
"""

from __future__ import annotations

import re

import pytest

from lime_etl_spark.plans.registry import all_queries


def plan_of(spark, sf_dir, name: str) -> str:
    """Full formatted physical plan (untruncated), without executing."""
    df = all_queries()[name].builder(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def final_plan_of(spark, sf_dir, name: str) -> str:
    """Post-execution plan: AQE finalized, WholeStageCodegen spans visible."""
    df = all_queries()[name].builder(spark, sf_dir)
    df.collect()  # a write would wrap the plan in a fresh queryExecution
    return df._jdf.queryExecution().executedPlan().toString()


# crossJoin is the *definition* of brute-force ANN / all-pairs scoring.
CARTESIAN_OK = {
    "ann_bruteforce_topk",
    "knn_label_vote",
    "ann_hard_negatives",
    "ann_incremental_topk",  # scores queries × base/delta exhaustively
}


# Builders (and window walks) the sweep expects to raise because they
# need runtime state; {query name: "build" | "windows"}. Every other
# query's plan must build, so no query drops out of the gates unseen.
KNOWN_RAISING: dict = {}


class _Sweep(dict):
    """query name -> (plan, global_w, low_card_w); ``raised`` maps each
    query whose builder or window walk raised to that stage."""

    raised: dict


@pytest.fixture(scope="session")
def plan_sweep(spark, sf_dir):
    """ONE pass over the full registry building each query's plan and
    deriving every whole-registry gate input from it (plan string +
    the two window-shape counts). The four registry-wide gates used to
    rebuild all 433 plans EACH — ~3.3 min per sweep, 4 sweeps ≈ 13 min
    of the suite (r9 verdict #2: the driver's pytest window overran).
    Same assertions, one plan build."""
    out = _Sweep()
    out.raised = {}
    for name, spec in all_queries().items():
        plan = global_w = low_card_w = None
        try:
            df = spec.builder(spark, sf_dir)
        except Exception:  # noqa: BLE001 - checked against KNOWN_RAISING
            out.raised[name] = "build"
            out[name] = (plan, global_w, low_card_w)
            continue
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(mode)
        try:
            global_w = _unpartitioned_window_count(df)
            low_card_w = _low_card_fact_window_count(df)
        except Exception:  # noqa: BLE001 - checked against KNOWN_RAISING
            out.raised[name] = "windows"
        out[name] = (plan, global_w, low_card_w)
    spark.catalog.clearCache()
    return out


def test_plan_sweep_raises_only_for_known_builders(plan_sweep):
    """A builder that starts raising would silently drop out of every
    gate that reads the sweep; only the allowlisted ones may."""
    assert plan_sweep.raised == KNOWN_RAISING


def test_no_row_python_udfs_anywhere(plan_sweep):
    for name, (plan, _, _) in plan_sweep.items():
        if plan is None:
            continue
        assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"


def test_no_accidental_cartesian_products(plan_sweep):
    for name, (plan, _, _) in plan_sweep.items():
        if name in CARTESIAN_OK or plan is None:
            continue
        assert "CartesianProduct" not in plan, f"{name} has an accidental cross join"


def test_q6_filters_reach_the_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q6_revenue_forecast")
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate", plan), plan
    # column pruning: the scan reads only the 4 columns the query uses
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, cols


def test_q1_column_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert "l_comment" not in cols and "l_orderkey" not in cols
    assert len(cols) <= 7, cols


@pytest.mark.parametrize(
    "name", ["q3_shipping_priority", "q5_local_supplier_volume", "q10_returned_items",
             "q_top_parts_by_region", "q_market_share"]
)
def test_dim_joins_broadcast(spark, sf_dir, name):
    """Multi-join analytics must broadcast the dimension sides — a
    shuffle join against nation/region/customer at 100 TB is a bug."""
    plan = plan_of(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"
    # and the fact table is never the build (broadcast) side
    assert not re.search(r"BroadcastExchange[^\n]*\n[^\n]*lineitem", plan)


def test_aggregates_are_partial(spark, sf_dir):
    """groupBy aggs must show map-side partial aggregation."""
    for name in ("q1_pricing_summary", "ev_daily_kpis", "dedup_exact"):
        plan = plan_of(spark, sf_dir, name)
        assert "partial_" in plan, f"{name}: no partial (map-side) aggregation"


def test_exists_compiles_to_semi_join(spark, sf_dir):
    """EXISTS must be a hash/merge LEFT SEMI join on the equi key, not
    a nested-loop probe or a count-then-filter aggregate."""
    plan = plan_of(spark, sf_dir, "q4_late_ship_priority")
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*LeftSemi", plan), plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_not_exists_compiles_to_anti_join(spark, sf_dir):
    for name in ("q21_sole_blame_supplier", "q22_dormant_customers"):
        plan = plan_of(spark, sf_dir, name)
        assert re.search(
            r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*LeftAnti", plan
        ), f"{name}: NOT EXISTS is not an anti join"
        # the only tolerated nested-loop is the 1-row scalar broadcast
        # (q22's global average); never a loop join on a keyed probe
        assert not re.search(
            r"BroadcastNestedLoopJoin.*(LeftSemi|LeftAnti)", plan
        ), f"{name}: semi/anti join degenerated to nested loop"


@pytest.mark.parametrize(
    "name", ["q16_supplier_variety", "q17_small_qty_revenue", "q19_bracket_predicates"]
)
def test_filtered_part_dim_broadcasts(spark, sf_dir, name):
    """The pre-filtered part dim must be the broadcast build side, and
    the part-side predicates must prune the part scan."""
    plan = plan_of(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, f"{name}: part dim not broadcast"
    assert not re.search(r"BroadcastExchange[^\n]*\n[^\n]*lineitem", plan)
    assert re.search(r"PushedFilters: \[[^\]]*p_(brand|size)", plan), f"{name}: part filter not pushed"


def test_whole_stage_codegen_everywhere(spark, sf_dir):
    """The relational core must run inside whole-stage codegen spans
    (visible only in the AQE-finalized, post-execution plan)."""
    for name in ("q1_pricing_summary", "q3_shipping_priority", "q6_revenue_forecast"):
        plan = final_plan_of(spark, sf_dir, name)
        assert "*(" in plan, f"{name}: no WholeStageCodegen span"


def test_q13_outer_join_carries_aggregated_side(spark, sf_dir):
    """Q13's point at scale: the LEFT OUTER join must consume the
    pre-aggregated (custkey, count) rows, never raw orders — the
    HashAggregate must sit BELOW the outer join in the plan."""
    plan = plan_of(spark, sf_dir, "q13_order_count_distribution")
    join_at = plan.find("LeftOuter")
    assert join_at != -1, plan
    # In formatted explain the operator tree is printed top-down, so an
    # aggregate feeding the join appears as a numbered node; assert the
    # count aggregate over o_custkey exists at all, plus no raw orders
    # columns besides o_custkey survive into the join.
    assert re.search(r"partial_count", plan), "orders not pre-aggregated"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan.split("orders.parquet")[1])
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"o_custkey", "o_orderpriority"}, cols


def test_q2_region_probe_is_broadcast_semi(spark, sf_dir):
    """The European-supplier membership probe on the fact must be a
    broadcast LEFT SEMI (disqualified lineitems never shuffle)."""
    plan = plan_of(spark, sf_dir, "q2_min_price_supplier")
    assert re.search(r"BroadcastHashJoin[^\n]*LeftSemi", plan), plan[:2000]


def test_q9_all_dims_broadcast(spark, sf_dir):
    """part/supplier/nation are all broadcast; the only exchanges are
    the orders equi-join and the final small groupBy."""
    plan = plan_of(spark, sf_dir, "q9_product_profit")
    assert plan.count("BroadcastExchange") >= 3, "expected 3 broadcast dims"
    assert not re.search(r"BroadcastExchange[^\n]*\n[^\n]*lineitem", plan)
    assert re.search(r"PushedFilters: \[[^\]]*p_name", plan), "part LIKE not pushed"


def test_q20_single_pass_no_self_join(spark, sf_dir):
    """Period-vs-total must compute in ONE aggregate over one scan of
    the qualifying fact — a self-join or second lineitem scan is the
    regression this gate catches."""
    plan = plan_of(spark, sf_dir, "q20_concentrated_shippers")
    assert plan.count("lineitem.parquet") == 1, "lineitem scanned more than once"


def test_user_lifecycle_single_window_node(spark, sf_dir):
    """lag + lead must evaluate in ONE Window operator over one
    user_id exchange — two Window nodes would mean the per-user sort
    and shuffle ran twice for the same partitioning."""
    plan = plan_of(spark, sf_dir, "ev_user_lifecycle")
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_distribution_drift_partial_agg_then_tiny_window(spark, sf_dir):
    """The bucket counts must partial-aggregate map-side (the scan
    reduces to <= n_buckets rows per task BEFORE the exchange), and
    the totals window runs on a SinglePartition exchange of the
    already-aggregated frame — never on the raw scan."""
    plan = plan_of(spark, sf_dir, "dq_distribution_drift")
    aggs = len(re.findall(r"\(\d+\) HashAggregate", plan))
    assert aggs >= 2, plan  # partial + final
    assert "SinglePartition" in plan, plan
    # the single-partition exchange must sit ABOVE the final aggregate
    # (window over ~21 aggregated rows), not above the scan
    agg_pos = plan.find("HashAggregate")
    sp_pos = plan.find("SinglePartition")
    assert agg_pos != -1 and sp_pos != -1


def test_set_ops_compile_to_hash_semi_anti(spark, sf_dir):
    """INTERSECT/EXCEPT must lower to hash semi/anti joins on the
    distinct keysets — a sort-based or nested-loop lowering would
    turn the cohort queries into multi-exchange monsters at scale."""
    plan = plan_of(spark, sf_dir, "q_customer_set_ops")
    assert re.search(r"LeftSemi", plan), plan
    assert re.search(r"LeftAnti", plan), plan
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan, plan


def test_pit_join_is_hash_join_on_the_equi_key(spark, sf_dir):
    """The point-in-time lookup must hash-join on user_id with the
    validity-interval predicate evaluated inside the join — a
    nested-loop lowering would make dimension lookup O(facts x
    versions)."""
    plan = plan_of(spark, sf_dir, "etl_scd2_pit_join")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_open_orders_sweep_shape(spark, sf_dir):
    """The sweep must stay two-events-per-order: one Generate (the
    inline boundary array), partial daily aggregation before any
    exchange, and no join after the bounds build."""
    plan = plan_of(spark, sf_dir, "q_open_orders_sweep")
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan


def test_cdc_merge_windows_only_the_changelog(spark, sf_dir):
    """MERGE must window the changelog increment only; the base table
    is probed by one left-anti hash join, never sorted or windowed."""
    plan = plan_of(spark, sf_dir, "etl_cdc_merge")
    # Window\s excludes WindowGroupLimit — the rank<=1 pushdown Spark
    # adds around the real Window, which we WANT present
    assert len(re.findall(r"\(\d+\) Window\s", plan)) == 1, plan
    assert "WindowGroupLimit" in plan, plan
    assert "LeftAnti" in plan, plan
    # the changelog is an exploded single scan per use (2 uses: anti
    # probe keys + latest window), never a 4-way union per use
    assert len(re.findall(r"\(\d+\) Generate", plan)) <= 2, plan


def test_tfidf_reuses_the_tf_table_and_aggregates_partially(spark, sf_dir):
    """tf must be computed once (persisted — InMemoryRelation feeds
    both the df rollup and the scoring join), with map-side partial
    aggregation and exactly one top-k window."""
    plan = plan_of(spark, sf_dir, "txt_tfidf_topk")
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan, plan
    assert "partial_count" in plan, plan
    assert len(re.findall(r"\(\d+\) Window\s", plan)) == 1, plan


def test_markov_transitions_shape(spark, sf_dir):
    """One lag window over user_id, one tiny normalization window over
    the counter rollup; counts aggregate partially in between."""
    plan = plan_of(spark, sf_dir, "ev_markov_transitions")
    assert len(re.findall(r"\(\d+\) Window\s", plan)) == 2, plan
    assert "partial_count" in plan, plan


def test_checksum_scans_identity_columns_only(spark, sf_dir):
    """Each table's checksum scan must prune to the declared identity
    columns — reading doubles (or all columns) for a 3-column
    fingerprint is exactly the scan waste the op exists to avoid."""
    from lime_etl_spark.operators.etl import _CHECKSUM_SPECS

    plan = plan_of(spark, sf_dir, "dq_checksum_parity")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) == len(_CHECKSUM_SPECS), plan
    allowed = {c for _, cols in _CHECKSUM_SPECS for c in cols}
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= allowed, (cols, allowed)
    # global aggregates only: any exchange is a 1-row partial merge,
    # never a data-bearing hash repartition
    assert "hashpartitioning" not in plan, plan


def test_incremental_agg_pushes_the_cutoff_to_both_scans(spark, sf_dir):
    """The history/increment split must reach the parquet reader as a
    pushed date predicate on both branches (at scale the history side
    is a stored aggregate; the gate keeps the scan split honest)."""
    plan = plan_of(spark, sf_dir, "etl_incremental_agg")
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(o_orderdate", plan), plan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", plan), plan
    assert "partial_count" in plan, plan


def test_label_centroids_prunes_and_combines_mapside(spark, sf_dir):
    """The centroid scan reads only (embedding, label); the dim
    explosion is reduced by partial aggregation before the (label,
    pos) exchange."""
    plan = plan_of(spark, sf_dir, "emb_label_centroids")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"embedding", "label"}, cols
    assert "partial_count" in plan, plan
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan  # one posexplode


def test_winsorize_is_counters_only(spark, sf_dir):
    """The clip audit must be a shuffle-free global aggregate: the
    only 'joins' are 1-row threshold broadcasts (BNLJ), and no
    data-bearing hash repartition exists anywhere."""
    plan = plan_of(spark, sf_dir, "samp_winsorize_audit")
    assert "hashpartitioning" not in plan, plan
    assert "partial_count" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_rarity_score_reuses_token_table(spark, sf_dir):
    """The exploded token table must be computed once (persisted) and
    feed both the vocab rollup and the scoring join; the vocab rank is
    the single window."""
    plan = plan_of(spark, sf_dir, "cur_rarity_score")
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan, plan
    assert "partial_count" in plan, plan
    assert len(re.findall(r"\(\d+\) Window\s", plan)) == 1, plan


def test_double_fire_single_window_no_joins(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dq_double_fire")
    assert len(re.findall(r"\(\d+\) Window\s", plan)) == 1, plan
    assert len(re.findall(r"hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_fixed_k_pushes_group_limit(spark, sf_dir):
    """The docstring's claim — per-task top-k before the stratum
    exchange — must be visible as WindowGroupLimit in the plan."""
    plan = plan_of(spark, sf_dir, "samp_fixed_k")
    assert "WindowGroupLimit" in plan, plan
    assert len(re.findall(r"hashpartitioning", plan)) == 1, plan


def test_benford_counters_only(spark, sf_dir):
    """Digit histogram must reduce to ≤9 counter rows before the share
    window: partial counts, no join anywhere, and the only exchanges
    are the counter rollup + the 9-row window repartition."""
    plan = plan_of(spark, sf_dir, "dq_benford")
    assert "partial_count" in plan, plan
    assert "Join" not in plan, plan


def test_outlier_iqr_fences_broadcast(spark, sf_dir):
    """The per-group fences (5 rows) must broadcast back onto orders —
    a sort-merge join here would shuffle the fact on a 5-value key."""
    plan = plan_of(spark, sf_dir, "dq_outlier_iqr")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mad_medians_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_mad_price")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_yoy_window_rides_the_rollup(spark, sf_dir):
    """Dims broadcast; the lag window sits above the nation×year
    aggregate (partial agg present), never above order grain."""
    plan = plan_of(spark, sf_dir, "q_yoy_growth")
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert len(re.findall(r"\(\d+\) Window\s", plan)) == 1, plan


def test_rfm_ntiles_sort_only_the_customer_rollup(spark, sf_dir):
    """Since the r2 de-globalization the three quartiles run via the
    sharded-rank decomposition — as of r4 the one-pass multi-spec
    form (with_global_ntiles, functions/ranks.py): the fact is
    aggregated first (partial_count proves map-side reduce), the
    customer-grain windows are PARTITIONED by the per-spec quantile
    bucket (__mt_b*) with only bounded bucket-roster windows left
    unpartitioned (the exact-count allowlist in
    test_no_entity_grain_global_windows audits those); the MAX-date
    reference is a 1-row broadcast, not a collect."""
    plan = plan_of(spark, sf_dir, "q_rfm_segments")
    assert "__mt_b" in plan, plan  # sharded-rank path, not a global sort
    assert len(re.findall(r"\(\d+\) Window\s", plan)) >= 3, plan
    assert "partial_count" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_dau_mau_shape(spark, sf_dir):
    """Bounded 28× explode of the distinct pair set (Generate node),
    active-day semi probe broadcast; no cartesian day join."""
    plan = plan_of(spark, sf_dir, "ev_dau_mau")
    assert re.search(r"\(\d+\) Generate", plan), plan
    assert re.search(r"BroadcastHashJoin LeftSemi", plan), plan
    assert "SortMergeJoin" not in plan, plan


def test_event_path_single_user_shuffle(spark, sf_dir):
    """Both lags share one (user) window; only other exchange is the
    bounded path rollup."""
    plan = plan_of(spark, sf_dir, "ev_event_path3")
    assert len(re.findall(r"\(\d+\) Window\s", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_containment_persists_shingles(spark, sf_dir):
    """The shingle table feeds the self-join from both sides and the
    size rollup — must be computed once (InMemoryRelation)."""
    plan = plan_of(spark, sf_dir, "dedup_containment")
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan, plan


def test_charset_profile_single_shuffle_no_python(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "txt_charset_profile")
    assert len(re.findall(r"hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_kfold_rowlocal_then_single_rollup(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "samp_kfold")
    assert len(re.findall(r"hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan and "Window" not in plan, plan


def test_dim_stats_bounded_output_no_python(spark, sf_dir):
    """posexplode fan-out reduces straight to |dims| counter rows —
    partial agg present, no Python, no join."""
    plan = plan_of(spark, sf_dir, "emb_dim_stats")
    assert re.search(r"\(\d+\) Generate", plan), plan
    assert "partial_count" in plan, plan
    assert "Join" not in plan and "BatchEvalPython" not in plan, plan


def test_norm_audit_rowlocal_fold(spark, sf_dir):
    """Squared norm is a row-local array fold: one counter shuffle on
    label, no explode, no join."""
    plan = plan_of(spark, sf_dir, "emb_norm_audit")
    assert "Generate" not in plan, plan
    assert len(re.findall(r"hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_purchase_latency_one_pass_no_self_join(spark, sf_dir):
    """Both first-touch times come from ONE conditional aggregation —
    no per-type self-join of the events fact."""
    plan = plan_of(spark, sf_dir, "ev_purchase_latency")
    assert "Join" not in plan, plan
    assert plan.count("events.parquet") == 1, "events scanned more than once"


def test_join_skew_counters_only(spark, sf_dir):
    """Three per-key rollups + 1-row reduces; nothing but counters in
    any exchange, no join, no window."""
    plan = plan_of(spark, sf_dir, "dq_join_skew")
    assert "Join" not in plan and "Window" not in plan, plan
    assert "partial_count" in plan, plan


def test_repeated_spans_single_scan_via_exchange_reuse(spark, sf_dir):
    """The shared-span reduce and the coverage rollup both consume the
    (doc_id, h) pair aggregate: the final adaptive plan must serve the
    second consumer from the first's shuffle files (ReusedExchange),
    leaving exactly ONE scan of documents — the property that halves
    the corpus IO at 100 TB."""
    # hermetic: another test's persisted lineage over documents would
    # swap the parquet scan for an InMemoryRelation and break the
    # scan-count assertion (seen flaky only under the full suite)
    spark.catalog.clearCache()
    plan = final_plan_of(spark, sf_dir, "dedup_repeated_spans").split(
        "== Initial Plan =="
    )[0]
    assert "Reused" in plan, plan
    assert plan.count("documents.parquet") == 1, "documents scanned more than once"


def test_basket_pairs_broadcasts_counts_no_smj(spark, sf_dir):
    """Per-part counts and the 1-row total must broadcast onto the
    pair rollup (never shuffle-join at pair grain); the only hash
    exchanges are the orderkey distinct/self-join and the partkey
    pair rollup."""
    plan = plan_of(spark, sf_dir, "q_basket_pairs")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"l_orderkey", "l_partkey"}, keys


def test_cross_field_battery_is_shuffle_free(spark, sf_dir):
    """Row-local constraint counters: scalar aggregates only — no
    hash exchange, no join, no window anywhere in the plan."""
    plan = plan_of(spark, sf_dir, "dq_cross_field")
    assert "hashpartitioning" not in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan


def test_session_conversion_rides_one_user_shuffle(spark, sf_dir):
    """Sessionize windows + session rollup share the user_id
    exchange; only the calendar-bounded day rollup adds another."""
    plan = plan_of(spark, sf_dir, "ev_session_conversion")
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"user_id", "_groupingexpression"}, keys
    assert "Join" not in plan, plan


def test_pair_hist_broadcasts_sample_only_bucket_exchange(spark, sf_dir):
    """The md5 sample joins against itself via broadcast — the only
    hash exchange left is the ≤21-row bucket rollup."""
    plan = plan_of(spark, sf_dir, "emb_pair_distance_hist")
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"bucket"}, keys
    assert "CartesianProduct" not in plan, plan


def test_cardinality_profile_expands_per_table(spark, sf_dir):
    """Multi-distinct in one pass per table = one Expand per table
    (the documented trade; approx_count_distinct removes it at
    100 TB). No joins anywhere."""
    plan = plan_of(spark, sf_dir, "dq_cardinality_profile")
    assert "Expand" in plan, plan
    assert "Join" not in plan, plan


def test_abc_windows_run_at_rollup_grain(spark, sf_dir):
    """Hash exchanges are the per-part reduce plus the sharded-cumsum
    bucket repartition (r2 de-globalization: functions/ranks.
    with_global_cumsum) — the running-sum window and class thresholds
    never touch fact grain, and never a single-task global sort."""
    plan = plan_of(spark, sf_dir, "q_abc_classification")
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    # l_partkey = fact reduce; __cs_b = sharded-cumsum bucket; abc =
    # the 3-row class rollup (bounded)
    assert keys <= {"l_partkey", "__cs_b", "abc"}, keys
    assert "__cs_b" in keys, keys  # the sharded (not global) cumsum path
    assert "CartesianProduct" not in plan


def test_weighted_median_windows_on_cells(spark, sf_dir):
    """Cumulative-weight window partitions by brand over (brand,
    price) cells; part dim broadcasts; no sort-merge join."""
    plan = plan_of(spark, sf_dir, "q_weighted_median_price")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_fuzzy_match_blocks_never_cross_join(spark, sf_dir):
    """The Levenshtein verify runs inside suffix blocks via a
    broadcast equi-join — never a cartesian expansion; the only hash
    exchange is the per-dirty-key best-match window."""
    plan = plan_of(spark, sf_dir, "etl_fuzzy_key_match")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"dirty_id"}, keys


def test_ab_assignment_is_join_free(spark, sf_dir):
    """Hash assignment is row-local: no join anywhere; exchanges only
    for the per-user reduce and the 2-row arm rollup."""
    plan = plan_of(spark, sf_dir, "ev_ab_assignment_aa")
    assert "Join" not in plan, plan
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"arm", "user_id"}, keys


def test_nation_trend_broadcasts_dims_one_fact_scan(spark, sf_dir):
    """Customer/nation dims broadcast; the persisted monthly rollup
    serves both consumers so orders is scanned once per branch; no
    SMJ anywhere; exchanges only at rollup grain."""
    spark.catalog.clearCache()
    plan = plan_of(spark, sf_dir, "q_nation_revenue_trend")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"n_name"}, keys
    spark.catalog.clearCache()


def test_comovement_pair_join_is_broadcast(spark, sf_dir):
    """The nation-pair Pearson join runs on the tiny persisted
    monthly rollup via broadcast — never SMJ at fact grain."""
    spark.catalog.clearCache()
    plan = plan_of(spark, sf_dir, "q_nation_comovement")
    assert "SortMergeJoin" not in plan, plan
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"n_name", "nation_a"}, keys
    spark.catalog.clearCache()


def test_vocab_growth_reduces_at_vocab_grain(spark, sf_dir):
    """Token birth is a (token → min bucket) map-side-combining
    reduce; exchanges only on token/bucket, and the cumulative window
    sorts the bucket rollup, not the corpus."""
    plan = plan_of(spark, sf_dir, "txt_vocab_growth")
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"token", "bucket"}, keys
    assert "SortMergeJoin" not in plan, plan


def test_backlog_aging_pushes_status_filter(spark, sf_dir):
    """The O/P status filter must reach the parquet scan, and the
    only exchange is the priority×bucket rollup."""
    plan = plan_of(spark, sf_dir, "q_backlog_aging")
    assert re.search(r"PushedFilters: \[.*In\(o_orderstatus", plan), plan
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"o_orderpriority"}, keys


def test_discount_bands_single_pass_two_columns_plus_band(spark, sf_dir):
    """One scan, no join, rollup keyed by the band only; the scan
    reads exactly the three columns the banding needs."""
    plan = plan_of(spark, sf_dir, "q_discount_bands")
    assert "Join" not in plan, plan
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"discount_pct"}, keys
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_discount", "l_quantity", "l_extendedprice"}, cols


def test_active_days_hist_two_reduces_one_broadcast(spark, sf_dir):
    """Per-user reduce then histogram reduce; the user total joins
    back via broadcast, never a shuffle join."""
    plan = plan_of(spark, sf_dir, "ev_active_days_hist")
    assert "SortMergeJoin" not in plan, plan
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"user_id", "active_days"}, keys


def test_class_scatter_reduces_componentwise_then_label(spark, sf_dir):
    """The quantized component reduce carries (label,pos) counters —
    exchanges stay at label grain, no join beyond the 1-row scale
    broadcast."""
    plan = plan_of(spark, sf_dir, "emb_class_scatter")
    assert "SortMergeJoin" not in plan, plan
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"label", "pos"}, keys


def test_centroid_separation_pair_join_broadcast(spark, sf_dir):
    """Label-pair dot products join the persisted |labels|x dim
    centroid table to itself via broadcast."""
    spark.catalog.clearCache()
    plan = plan_of(spark, sf_dir, "emb_centroid_separation")
    assert "SortMergeJoin" not in plan, plan
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"label", "pos", "label_a"}, keys
    spark.catalog.clearCache()


def test_attention_waste_windows_by_shard_no_global_sort(spark, sf_dir):
    """The running-sum window partitions by (lang, shard) exactly
    like pack_sequences — no single-partition window, no join."""
    plan = plan_of(spark, sf_dir, "pack_attention_waste")
    assert "Join" not in plan, plan
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"lang", "shard"}, keys


def test_reweight_plan_broadcasts_total(spark, sf_dir):
    """Source counts reduce map-side; the 1-row total broadcasts."""
    plan = plan_of(spark, sf_dir, "samp_reweight_plan")
    assert "SortMergeJoin" not in plan, plan
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"source"}, keys


def test_tenure_mix_shuffles_on_user_and_week_only(spark, sf_dir):
    """Dedup and first-day reduce share the user_id key; the share
    window partitions the small weekly rollup."""
    plan = plan_of(spark, sf_dir, "ev_tenure_mix")
    assert "SortMergeJoin" not in plan, plan
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"user_id", "week_start", "tenure_bucket"}, keys


def test_type_affinity_dedups_before_pair_join(spark, sf_dir):
    """The session type-set dedup bounds the self-join; type counts
    and the 1-row session total broadcast — no SMJ at pair grain."""
    spark.catalog.clearCache()
    plan = plan_of(spark, sf_dir, "ev_type_affinity")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    spark.catalog.clearCache()


def test_covariance_reduces_pairs_map_side(spark, sf_dir):
    """The dim-pair explode collapses to dim×dim state via map-side
    combine (partial_sum before the exchange); per-dim moments join
    by broadcast only."""
    spark.catalog.clearCache()
    plan = plan_of(spark, sf_dir, "emb_covariance_topk")
    assert "SortMergeJoin" not in plan, plan
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= {"dim_i", "dim_j", "pos"}, keys
    assert "partial_sum" in plan, "pair products must combine map-side"
    spark.catalog.clearCache()


# --- grouped gates for the later insights3 batches -------------------------

# single-scan rollups: no join anywhere, shuffle keys at rollup grain only
SINGLE_SCAN = {
    "q_discount_bands": {"discount_pct"},
    "q_returns_by_discount": {"discount_pct"},
    "q_realized_discount_by_year": {"ship_year"},
    "q_monthly_whale_share": {"month_key"},
    "q_aov_trend": {"month_key"},
    "dq_linenumber_gaps": {"l_orderkey"},
    "ev_burstiness_profile": {"user_id", "event_type", "b_bucket"},
    "ev_transition_latency": {"user_id", "from_type", "to_type"},
    "ev_resurrection_gaps": {"user_id", "gap_days"},
}


@pytest.mark.parametrize("name", sorted(SINGLE_SCAN))
def test_single_scan_rollups_join_free(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "Join" not in plan, f"{name} has a join it shouldn't need"
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    # computed groupBy keys surface as the internal _groupingexpression alias
    assert keys <= SINGLE_SCAN[name] | {"_groupingexpression"}, (name, keys)


# broadcast-only joins: an SMJ here means a dim or rollup failed to broadcast
BROADCAST_ONLY = [
    "ev_time_to_nth_purchase",
    "samp_quota_waterfall",
    "emb_label_outliers",
    "txt_langid_margin",
    "q_priority_region_independence",
    "samp_split_balance",
    "txt_head_coverage",
    "ann_bucket_balance",
    "ann_probe_cost",
    "q_supplier_delay_scorecard",
    "q_ship_delay_trend",
    "cur_gate_rule_matrix",
]


@pytest.mark.parametrize("name", BROADCAST_ONLY)
def test_later_batches_never_sort_merge(spark, sf_dir, name):
    spark.catalog.clearCache()
    plan = plan_of(spark, sf_dir, name)
    assert "SortMergeJoin" not in plan, f"{name} fell back to SMJ"
    spark.catalog.clearCache()


# later additions (batches L-R): same grouped contracts
SINGLE_SCAN_2 = {
    "ev_habitual_users": {"user_id", "habit_bucket"},
    "txt_source_lang_purity": {"source"},
    "pack_oversize_docs": {"lang"},
    "ev_peakiness_by_weekday": {"wd", "h", "d"},
    "q_monthly_whale_share": {"month_key"},
}


@pytest.mark.parametrize("name", sorted(SINGLE_SCAN_2))
def test_single_scan_rollups_join_free_2(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "Join" not in plan, f"{name} has a join it shouldn't need"
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= SINGLE_SCAN_2[name] | {"_groupingexpression"}, (name, keys)


BROADCAST_ONLY_2 = [
    "q_reorder_cadence_by_segment",
    "q_customer_acquisition_curve",
    "emb_fisher_ratio",
    "ev_first_session_vs_rest",
    "ev_conversion_by_depth",
    "txt_rare_token_docs",
    "emb_exact_duplicates",
    "q_revenue_bridge_yoy",
    "samp_effective_epochs",
    "ev_steps_to_convert",
]


@pytest.mark.parametrize("name", BROADCAST_ONLY_2)
def test_later_batches_never_sort_merge_2(spark, sf_dir, name):
    spark.catalog.clearCache()
    plan = plan_of(spark, sf_dir, name)
    assert "SortMergeJoin" not in plan, f"{name} fell back to SMJ"
    spark.catalog.clearCache()


def test_bridge_pushes_year_filter(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_revenue_bridge_yoy")
    assert re.search(r"PushedFilters: \[.*l_shipdate", plan) or "PartitionFilters" in plan, (
        "year filter must reach the lineitem scan"
    )


SINGLE_SCAN_3 = {
    "ev_value_by_depth": {"user_id", "depth_bucket"},
    "ev_session_pace": {"user_id", "pace_bucket"},
    "ev_return_day_conversion": {"user_id", "day_kind"},
    "q_split_shipment_profile": {"l_orderkey", "span_bucket"},
}


@pytest.mark.parametrize("name", sorted(SINGLE_SCAN_3))
def test_single_scan_rollups_join_free_3(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "Join" not in plan, f"{name} has a join it shouldn't need"
    keys = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert keys <= SINGLE_SCAN_3[name] | {"_groupingexpression"}, (name, keys)


BROADCAST_ONLY_3 = [
    "q_priority_sla_audit",
    "cur_gate_sensitivity",
    "ann_bucket_label_purity",
    "txt_corpus_card",
    "dq_empty_days",
    "q_supplier_credit_exposure",
    "ev_type_mix_by_tenure",
    "q_winback_customers",
]


@pytest.mark.parametrize("name", BROADCAST_ONLY_3)
def test_later_batches_never_cartesian_3(spark, sf_dir, name):
    """These query shapes tolerate shuffle joins where both sides are
    fact-derived, but must never degenerate to a nested-loop/cartesian
    plan."""
    spark.catalog.clearCache()
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name} went cartesian"
    assert "BroadcastNestedLoopJoin" not in plan or name in (
        "cur_gate_sensitivity",  # |docs|×|thresholds| broadcast sweep is the design
        "txt_corpus_card",  # 1-row × 1-row stat join
        "q_winback_customers",  # 1-row final rollup cross
    ), f"{name} has an unexpected nested-loop join"
    spark.catalog.clearCache()


# --- entity-grain global-window gate (round 2) -------------------------------

# Ops whose logical plan legitimately contains an UNPARTITIONED Window
# node: each one's window input is audited BOUNDED — a bucket/shard
# roster from the sharded-rank decomposition (functions/ranks.py), a
# calendar rollup (|days|/|months|), or a vocab/source/digit roster —
# never entity-grain data that grows with the corpus. Anything NOT in
# this dict must have ZERO unpartitioned windows; adding a new global
# window means auditing its grain and registering it here.
GLOBAL_WINDOW_BOUNDED_OK = {
    # sharded-rank/cumsum helpers: ≤n_buckets offsets roster windows.
    # Multi-ntile consumers use with_global_ntiles (functions/ranks.py):
    # exactly ONE bounded roster window per ntile spec (the shared
    # global total is a 1-row broadcast aggregate, not a window), the
    # reduced rollup persisted once — so q_rfm_segments carries 3
    # (r/f/m) and cur_length_quality_grid 2 (len/qual), each over a
    # ≤64-row bucket roster, never entity-grain input.
    "cur_length_quality_grid": 2,
    "q_gini_revenue": 1,
    "q_revenue_deciles": 3,  # 2 helper rosters + the 10-row decile cum
    "q_rfm_segments": 3,  # one roster window per RFM ntile spec
    # 2 ≤64-row bucket-roster windows from with_global_ntile's sharded
    # decile + the 10-row qini cumulative over the decile rollup —
    # all bounded-grain, never user/event rows.
    "ev_uplift_deciles": 3,
    # same 2 ntile rosters + the 10-row q_cum and lag windows (cumsum
    # and lag frames differ, so Spark keeps two Window nodes)
    "ev_uplift_qini_auc": 4,
    "q_acctbal_spend_deciles": 2,  # sharded-ntile helper rosters
    "q_abc_classification": 1,
    "q_skyline_parts": 1,  # shard prefix-min roster
    "pack_shard_manifest": 1,
    "cur_budget_select": 1,  # sharded-cumsum offsets roster
    "samp_pps_systematic": 1,  # sharded-cumsum offsets roster
    "samp_horvitz_thompson": 1,  # same sharded-cumsum offsets roster
    "dq_id_time_monotonicity": 1,  # 256-row shard boundary stitch
    # calendar-bounded rollups (|days| / |months| grain)
    "dq_id_allocation_rate": 1,
    "ev_anomaly_zscore": 1,
    "ev_cumulative_adoption": 1,
    "ev_rolling_kpis": 1,
    "q_aov_trend": 1,
    "q_moving_annual_total": 1,
    "q_open_orders_sweep": 1,
    "dq_distribution_drift": 1,  # histogram-bucket roster
    "dq_benford": 1,  # 9-digit roster
    # vocab/source-bounded rosters
    "cur_rarity_score": 1,
    "txt_rare_token_docs": 2,
    "txt_vocab_coverage": 1,
    "txt_vocab_growth": 1,  # VOCAB_BUCKETS-row cumulative types
    "txt_zipf_audit": 1,
    "samp_mixture_stats": 1,  # |sources| share window
    "samp_source_interleave": 1,  # distinct-source dense_rank roster
    # SRM_EXPERIMENTS-row reduced frame (model state, never users):
    # the Holm rank row_number + the step-down running-MIN chain
    "ev_srm_holm": 2,
}


def _unpartitioned_window_count(df) -> int:
    """Walk the optimized logical plan (py4j) counting Window nodes
    with an empty partitionSpec — the 'move everything to one task'
    shape WindowExec warns about."""
    count = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            count += 1
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return count


def test_no_entity_grain_global_windows(plan_sweep):
    """Round-1 verdict item #3: a `Window.orderBy` with no partitionBy
    over entity-grain input (customers, docs, facts) single-tasks the
    sort at 100 TB. Every op must either partition its windows (the
    sharded-rank decomposition) or appear in the audited bounded-OK
    dict — with the exact count, so a NEW global window in a listed op
    also fails."""
    bad = {}
    for name, (_, n, _) in plan_sweep.items():
        if n is None:
            continue
        expected = GLOBAL_WINDOW_BOUNDED_OK.get(name, 0)
        if n != expected:
            bad[name] = (n, expected)
    assert not bad, f"unaudited unpartitioned windows (got, allowed): {bad}"


def _some_join_carries_keys(plan: str, want: set[str]) -> bool:
    """True if any join's 'Left keys [...]' group contains ALL of the
    wanted key names — order- and formatting-insensitive, so the gate
    pins semantics (the bucket columns ARE join keys), not the
    optimizer's key ordering, which Spark does not guarantee."""
    for m in re.finditer(r"Left keys \[\d+\]: \[([^\]]*)\]", plan):
        names = set(re.findall(r"(\w+)#\d+", m.group(1)))
        if want <= names:
            return True
    return False


def test_embedding_cosine_candidates_bucket_bounded(spark, sf_dir):
    """Round-3 gate: the pair-generation join for embedding near-dup
    must carry the sign-band bucket keys (band, bv) alongside label —
    a bare label-block self-join is quadratic per label at 100 TB and
    was the engine's last quadratic default."""
    plan = plan_of(spark, sf_dir, "dedup_embedding_cosine")
    assert _some_join_carries_keys(plan, {"band", "bv", "label"}), plan[:3000]


def test_embedding_leakage_candidates_bucket_bounded(spark, sf_dir):
    """Same gate for the train/eval leakage scan: cross pairs come
    from the (band, bv, label) bucket join, not an all-pairs block."""
    plan = plan_of(spark, sf_dir, "cur_embedding_leakage")
    assert _some_join_carries_keys(plan, {"band", "bv", "label"}), plan[:3000]


# --- low-cardinality fact-grain window gate (round 9) ------------------------

# Fixture columns whose distinct-value count is FIXED (a small roster
# that does not grow with the corpus): partitioning a window by only
# these over raw fact-grain input means one sorted task per value
# holding that value's entire history — the low-cardinality window
# skew r8's SCALE leg measured on ev_sprt_gate (3.82× wall at 16×
# rows). Counts at sf0.01: event_type 5, lang 5, source 20,
# o_orderpriority 5, o_orderstatus 3, l_returnflag 3, l_linestatus 2,
# c_mktsegment 5, r_name 5, label 10.
LOW_CARD_COLS = {
    "event_type",
    "lang",
    "source",
    "o_orderpriority",
    "o_orderstatus",
    "l_returnflag",
    "l_linestatus",
    "c_mktsegment",
    "r_name",
    "label",
}

# Ops whose plan legitimately carries a Window partitioned ONLY by
# low-cardinality roster columns with NO Aggregate between the Window
# and the scan: each entry is audited — the window input is bounded
# for a structural reason the Aggregate heuristic can't see. Exact
# counts, like GLOBAL_WINDOW_BOUNDED_OK: a NEW such window in a
# listed op fails too.
LOW_CARD_FACT_WINDOW_OK: dict[str, int] = {
    # `label` here is the connected-components CLUSTER id (high
    # cardinality — one per cluster), not the embeddings roster
    # column; the cluster-size count window is bounded by the max
    # near-dup cluster, and the localCheckpoint inside CC hides the
    # upstream reduction from the Aggregate heuristic.
    "samp_dedup_weighted": 1,
}


def _low_card_fact_window_count(df) -> int:
    """Walk the optimized logical plan counting Window nodes whose
    partitionSpec references ONLY fixed-roster columns (LOW_CARD_COLS)
    while no Aggregate/GlobalLimit reduces the frame between the
    Window and its scan — the one-giant-task-per-value shape. Windows
    with any high-cardinality partition component (user_id, shard, …)
    or over reduced frames (daily rollups per type) pass untouched."""
    import re as _re

    count = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and not node.partitionSpec().isEmpty():
            spec = node.partitionSpec()
            names = set()
            for i in range(spec.size()):
                names |= set(_re.findall(r"(\w+)#\d+", spec.apply(i).toString()))
            if names and names <= LOW_CARD_COLS:
                # reduced input? look for an Aggregate/Limit below
                reduced = False
                sub = [node.children().apply(i) for i in range(node.children().size())]
                while sub:
                    ch = sub.pop()
                    # WindowGroupLimit (rank-filter pushdown) bounds the
                    # per-group shuffle to O(k x map partitions) rows
                    if ch.nodeName() in ("Aggregate", "GlobalLimit", "WindowGroupLimit"):
                        reduced = True
                        continue  # this branch is bounded; don't descend
                    kids = ch.children()
                    for i in range(kids.size()):
                        sub.append(kids.apply(i))
                if not reduced:
                    count += 1
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return count


def test_no_low_cardinality_fact_grain_windows(plan_sweep):
    """Round-8 verdict #3: the exact-count unpartitioned-window gate
    was blind to `Window.partitionBy(event_type)` at event grain (the
    ev_sprt_gate shape it called out). Flag Window nodes whose
    partition key set is a subset of the fixed low-cardinality roster
    columns when nothing reduces the frame below them; every exception
    must be allowlisted with an audited bounded-input justification."""
    bad = {}
    for name, (_, _, n) in plan_sweep.items():
        if n is None:
            continue
        expected = LOW_CARD_FACT_WINDOW_OK.get(name, 0)
        if n != expected:
            bad[name] = (n, expected)
    assert not bad, f"low-cardinality fact-grain windows (got, allowed): {bad}"
