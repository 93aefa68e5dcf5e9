"""Round-3 batch-4 insights: market-basket lift, cross-field DQ
battery, new-vs-returning revenue split, hapax profile — oracle
cross-checks plus semantic invariants the hash compare can't express."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from lime_etl_spark.plans.registry import all_queries
from tests.oracle import assert_query_matches_oracle

NEW_QUERIES = [
    "q_basket_pairs",
    "dq_cross_field",
    "ev_new_vs_returning",
    "txt_hapax_ratio",
    "txt_zipf_audit",
    "emb_pair_distance_hist",
    "dq_temporal_consistency",
    "ann_mutual_knn",
    "samp_dedup_weighted",
    "dq_cardinality_profile",
    "ev_session_conversion",
    "ev_forecast_seasonal_naive",
    "emb_knn_label_consistency",
    "cur_dedup_funnel",
    "ev_retention_curve",
    "cur_tokenizer_fertility",
    "txt_context_fit",
    "q_customer_concentration_hhi",
    "q_supplier_part_coverage",
    "ev_type_mix_drift",
    "etl_gfs_retention_plan",
    "txt_source_tvd",
    "sketch_bloom_filter",
    "etl_scd3_current_prev",
    "q_decile_transition_matrix",
    "txt_skipgram_lift",
    "q_skyline_parts",
    "etl_partition_skew_report",
    "samp_neyman_alloc",
    "q_top_movers",
    "dq_id_space_audit",
    "etl_fuzzy_key_match",
    "etl_incremental_join",
    "ev_cumulative_adoption",
    "q_order_size_distribution",
    "etl_impute_median",
    "etl_try_cast_audit",
    "dq_duplicate_rows",
    "samp_time_split",
    "graph_triangles",
    "ev_survival_curve",
    "q_abc_classification",
    "txt_vocab_coverage",
    "ev_cohort_ltv",
    "graph_assortativity",
    "q_weighted_median_price",
    "ev_ab_assignment_aa",
    "txt_word_burstiness",
    "dq_protocol_violations",
    "q_seasonal_index",
    "samp_cap_per_user",
    "q_repeat_rate_by_segment",
    "dq_range_profile",
    "dedup_method_agreement",
    "q_gini_revenue",
    "etl_dim_churn_rate",
    "cur_length_quality_grid",
    "ev_w1_value_predictability",
    "dq_id_time_monotonicity",
    "dq_suspect_duplicate_orders",
    "ev_action_diversity",
    "ev_weekend_lift",
    "q_rank_stability_nations",
    "samp_bucket_uniformity",
    "q_moving_annual_total",
    "ev_engagement_decay",
    "cur_net_yield",
]


@pytest.mark.parametrize("name", NEW_QUERIES)
def test_matches_oracle(spark, sf_dir, name):
    assert_query_matches_oracle(spark, sf_dir, name)


def test_basket_lift_on_planted_affinity(spark, tmp_path):
    """Parts 1+2 always co-occur (4 orders), part 3 appears alone in 4
    more: lift(1,2) = N·n12/(n1·n2) = 8·4/(4·4) = 2; no pair involving
    part 3 surfaces (zero co-occurrence)."""
    rows = []
    ln = 0
    for ok in range(1, 5):  # orders 1-4: parts 1 and 2 together
        for pk in (1, 2):
            ln += 1
            rows.append((ok, pk, 1, ln, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.date(2024, 1, 1)))
    for ok in range(5, 9):  # orders 5-8: part 3 alone (twice → distinct collapses)
        for _ in range(2):
            ln += 1
            rows.append((ok, 3, 1, ln, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.date(2024, 1, 1)))
    li = spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber bigint,"
        " l_quantity double, l_extendedprice double, l_discount double, l_tax double,"
        " l_returnflag string, l_linestatus string, l_shipdate date",
    )
    d = str(tmp_path / "sf")
    li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    out = all_queries()["q_basket_pairs"].builder(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.part_a, r.part_b, r.n_both) == (1, 2, 4)
    assert r.lift == pytest.approx(2.0)


def test_cross_field_counts_planted_violations(spark, tmp_path):
    """One bad row per check is counted exactly once, clean rows zero."""
    li_rows = [
        (1, 1, 1, 1, 1.0, 10.0, 0.05, 0.02, "N", "O", dt.date(2024, 1, 1)),  # clean
        (1, 2, 1, 2, -1.0, 10.0, 0.05, 0.02, "N", "O", dt.date(2024, 1, 1)),  # neg qty
        (1, 3, 1, 3, 1.0, -5.0, 0.9, -0.1, "N", "O", dt.date(2024, 1, 1)),  # 3 checks
    ]
    o_rows = [
        (1, 1, "O", 100.0, dt.date(2024, 1, 1), "1-URGENT"),
        (2, 1, "O", -1.0, None, "1-URGENT"),  # neg total + null date
    ]
    li = spark.createDataFrame(
        li_rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber bigint,"
        " l_quantity double, l_extendedprice double, l_discount double, l_tax double,"
        " l_returnflag string, l_linestatus string, l_shipdate date",
    )
    o = spark.createDataFrame(
        o_rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string",
    )
    d = str(tmp_path / "sf")
    li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    o.write.mode("overwrite").parquet(f"{d}/orders.parquet")
    out = {
        (r.tbl, r.chk): r.n_violations
        for r in all_queries()["dq_cross_field"].builder(spark, d).collect()
    }
    assert out == {
        ("lineitem", "neg_quantity"): 1,
        ("lineitem", "neg_price"): 1,
        ("lineitem", "discount_range"): 1,
        ("lineitem", "neg_tax"): 1,
        ("orders", "neg_total"): 1,
        ("orders", "null_date"): 1,
    }


def test_new_vs_returning_mass_conservation(spark, sf_dir):
    """new + returning revenue summed over days == total purchase
    revenue (decimal-exact), and day-1 revenue is all 'new'."""
    from lime_etl_spark.functions.numeric import dec, to_double
    from lime_etl_spark.sources.readers import load_table

    out = all_queries()["ev_new_vs_returning"].builder(spark, sf_dir)
    got = out.agg(
        F.sum(dec("new_revenue", 2, 18)).alias("n"),
        F.sum(dec("returning_revenue", 2, 18)).alias("r"),
    ).collect()[0]
    total = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .agg(to_double(F.sum(dec("value", 2, 12))).alias("t"))
        .collect()[0]
        .t
    )
    assert float(got.n) + float(got.r) == pytest.approx(total)
    first = out.orderBy("day").first()
    assert first.returning_revenue == 0.0 and first.returning_buyers == 0


def test_zipf_head_is_monotone(spark, sf_dir):
    """Ranks are 1..k contiguous and frequencies non-increasing, so
    every decay ratio ≥ 1."""
    rows = all_queries()["txt_zipf_audit"].builder(spark, sf_dir).collect()
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    assert all(r.decay >= 1.0 for r in rows if r.decay is not None)


def test_pair_hist_mass_equals_sample_pairs(spark, sf_dir):
    """Bucket counts sum to C(|sample|, 2) — no pair lost or double-
    bucketed — and cosine buckets stay within [-1, 1] range."""
    from lime_etl_spark.operators.insights2 import pair_sample_mod
    from lime_etl_spark.operators.training import hash_bucket
    from lime_etl_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.where(hash_bucket(F.col("vec_id"), pair_sample_mod(emb)) == 0).count()
    rows = all_queries()["emb_pair_distance_hist"].builder(spark, sf_dir).collect()
    assert sum(r.n_pairs for r in rows) == n * (n - 1) // 2
    assert all(-10 <= r.bucket <= 10 for r in rows)


def test_temporal_consistency_covers_every_line(spark, sf_dir):
    """Yearly n_lines sums to the full lineitem count (inner join is
    lossless here — referential integrity holds on the synthetic data)."""
    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["dq_temporal_consistency"].builder(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "lineitem").count()
    assert sum(r.n_lines for r in rows) == total
    for r in rows:
        assert r.min_lag_days <= r.max_lag_days


def test_mutual_knn_edges_are_mutual_and_bounded(spark, sf_dir):
    """Every edge is canonical (a<b), both ranks ≤ k, and the edge set
    is a subset of the one-directional kNN lists by construction —
    spot-check symmetry: no duplicate unordered pair."""
    from lime_etl_spark.operators.insights2 import MUTUAL_K

    rows = all_queries()["ann_mutual_knn"].builder(spark, sf_dir).collect()
    assert rows, "shard should produce at least one mutual edge"
    seen = set()
    for r in rows:
        assert r.vec_a < r.vec_b
        assert 1 <= r.rank_ab <= MUTUAL_K and 1 <= r.rank_ba <= MUTUAL_K
        assert (r.vec_a, r.vec_b) not in seen
        seen.add((r.vec_a, r.vec_b))


def test_dedup_weighted_expectation_and_singletons(spark, sf_dir):
    """Singleton clusters (multiplicity 1) keep EVERY doc — the
    cross-multiply bucket·1 < SCALE always holds — so soft dedup
    never touches unique content; doc mass conserves across buckets."""
    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["samp_dedup_weighted"].builder(spark, sf_dir).collect()
    by_mult = {r.multiplicity: r for r in rows}
    assert by_mult[1].n_kept == by_mult[1].n_docs == by_mult[1].n_clusters
    total_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == total_docs
    for r in rows:
        assert r.n_kept <= r.n_docs
        assert r.n_docs == r.n_clusters * r.multiplicity


def test_cardinality_profile_flags_primary_keys(spark, sf_dir):
    """Declared PKs profile at uniqueness 1.0; low-cardinality codes
    (status, priority, segment) sit far below."""
    rows = all_queries()["dq_cardinality_profile"].builder(spark, sf_dir).collect()
    u = {(r.tbl, r.col): r.uniqueness for r in rows}
    assert u[("customer", "c_custkey")] == 1.0
    assert u[("orders", "o_orderkey")] == 1.0
    assert u[("part", "p_partkey")] == 1.0
    assert u[("orders", "o_orderstatus")] < 0.01
    assert u[("customer", "c_mktsegment")] < 0.1


def test_schema_evolution_read_and_align(spark, tmp_path):
    """mergeSchema read unions v1/v2 file schemas (v1 rows NULL in the
    added column); align_to_schema projects any frame onto the
    contract with typed nulls and casts."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from lime_etl_spark.sources.readers import align_to_schema, read_evolving_parquet

    d = str(tmp_path / "landing")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, name string")
    v2 = spark.createDataFrame(
        [(3, "c", 1.5)], "id bigint, name string, score double"
    )
    v1.write.mode("append").parquet(d)
    v2.write.mode("append").parquet(d)

    merged = read_evolving_parquet(spark, d)
    assert set(merged.columns) == {"id", "name", "score"}
    got = {r.id: r.score for r in merged.collect()}
    assert got[1] is None and got[2] is None and got[3] == 1.5

    contract = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
            StructField("rank", LongType()),  # not produced yet anywhere
        ]
    )
    aligned = align_to_schema(v1, contract)
    assert [f.name for f in aligned.schema.fields] == ["id", "name", "score", "rank"]
    r = aligned.where(F.col("id") == 1).collect()[0]
    assert r.score is None and r.rank is None
    # extra producer columns are dropped by the contract projection
    extra = v2.withColumn("debug", F.lit("x"))
    assert "debug" not in align_to_schema(extra, contract).columns


def test_session_conversion_shares_denominator_with_bounce(spark, sf_dir):
    """Same sessionization ⇒ same daily session counts as
    ev_bounce_rate; converting ≤ sessions; purchases ≥ converting."""
    conv = {
        r.day: r
        for r in all_queries()["ev_session_conversion"].builder(spark, sf_dir).collect()
    }
    bounce = {
        r.day: r.n_sessions
        for r in all_queries()["ev_bounce_rate"].builder(spark, sf_dir).collect()
    }
    assert {d: r.n_sessions for d, r in conv.items()} == bounce
    for r in conv.values():
        assert r.n_converting <= r.n_sessions
        assert r.n_purchases >= r.n_converting


def test_seasonal_naive_scores_only_lagged_days(spark, sf_dir):
    """Days scored per weekday == days having a d-7 partner; MAE is
    total_abs_err / n_days exactly."""
    import pytest as _pytest

    rows = all_queries()["ev_forecast_seasonal_naive"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.mae == _pytest.approx(r.total_abs_err / r.n_days_scored)
        assert r.total_abs_err >= 0


def test_knn_consistency_bounds_and_coverage(spark, sf_dir):
    """Every shard vector gets exactly one majority verdict; rates in
    [0,1]; labels cover the shard's label set."""
    from lime_etl_spark.operators.insights2 import mutual_mod
    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["emb_knn_label_consistency"].builder(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    shard = emb.where(F.col("vec_id") % mutual_mod(emb) == 0)
    assert sum(r.n_vectors for r in rows) == shard.count()
    for r in rows:
        assert 0 <= r.n_consistent <= r.n_vectors
        assert 0.0 <= r.consistency <= 1.0


def test_bridge_edges_surface_exactly_the_bridge(spark):
    """Two 4-cliques joined by ONE bridge edge: LP separates the
    cliques, so bridge classification returns exactly (4, 11)."""
    from lime_etl_spark.operators.graph import label_propagation
    from lime_etl_spark.operators.insights2 import bridge_edges

    left = [1, 2, 3, 4]
    right = [11, 12, 13, 14]
    edges_py = (
        [(a, b) for i, a in enumerate(left) for b in left[i + 1 :]]
        + [(a, b) for i, a in enumerate(right) for b in right[i + 1 :]]
        + [(4, 11)]
    )
    vs = spark.createDataFrame([(v,) for v in left + right], ["vid"])
    es = spark.createDataFrame(edges_py, ["src", "dst"])
    lp = label_propagation(vs, es)
    pairs = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edges_py], ["doc_a", "doc_b", "jaccard"]
    )
    got = bridge_edges(pairs, lp).collect()
    assert [(r.doc_a, r.doc_b) for r in got] == [(4, 11)]
    assert got[0].comm_a != got[0].comm_b


def test_file_stats_counts_physical_files(spark, tmp_path):
    """file_stats reports one row per physical file with exact row
    counts and byte sizes matching os.stat."""
    import os

    from lime_etl_spark.operators.insights2 import file_stats

    d = str(tmp_path / "many")
    spark.range(1000).repartition(5).write.parquet(d)
    st = {r.file_path: r for r in file_stats(spark.read.parquet(d)).collect()}
    disk = {
        f: os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }
    assert len(st) == len(disk) == 5
    assert sum(r.n_rows for r in st.values()) == 1000
    for path, r in st.items():
        assert r.file_bytes == disk[os.path.basename(path.replace("file://", ""))]
        assert r.is_small  # tiny test files sit under the 16 MB floor


def test_dedup_funnel_is_monotone(spark, sf_dir):
    """Each stage is a coarser equivalence, so docs and chars kept
    can only shrink down the funnel; raw shares are exactly 1.0."""
    rows = sorted(
        all_queries()["cur_dedup_funnel"].builder(spark, sf_dir).collect(),
        key=lambda r: r.stage_ord,
    )
    assert [r.stage for r in rows] == [
        "raw",
        "exact_dedup",
        "normalized_dedup",
        "near_dup_collapse",
    ]
    assert rows[0].docs_kept_share == 1.0 and rows[0].chars_kept_share == 1.0
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_docs <= prev.n_docs
        assert cur.n_chars <= prev.n_chars


def test_retention_curve_censoring_and_bounds(spark, sf_dir):
    """Base shrinks as the offset grows (right-censoring drops more
    tail days); retention stays in [0,1]."""
    rows = sorted(
        all_queries()["ev_retention_curve"].builder(spark, sf_dir).collect(),
        key=lambda r: r.day_offset,
    )
    assert [r.day_offset for r in rows] == [1, 7, 14, 28]
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_base <= prev.n_base
    for r in rows:
        assert 0 <= r.n_retained <= r.n_base
        assert 0.0 <= r.retention <= 1.0


def test_fertility_ratios_are_aggregate_not_mean_of_means(spark, sf_dir):
    """chars_per_token must equal total_chars/total_tokens exactly
    (one division over exact sums) and sit in a sane band for
    space-separated text."""
    import pytest as _pytest

    for r in all_queries()["cur_tokenizer_fertility"].builder(spark, sf_dir).collect():
        assert r.chars_per_token == _pytest.approx(r.total_chars / r.total_tokens)
        assert 1.0 < r.chars_per_token < 20.0
        assert r.tokens_per_word >= 1.0  # BPE-ish splits never merge words


def test_context_fit_counts_are_monotone(spark, sf_dir):
    """Larger windows fit at least as many docs; no count exceeds
    n_docs."""
    from lime_etl_spark.operators.insights2 import CONTEXT_WINDOWS

    for r in all_queries()["txt_context_fit"].builder(spark, sf_dir).collect():
        fits = [r[f"fit_{w}"] for w in CONTEXT_WINDOWS]
        assert fits == sorted(fits)
        assert all(0 <= f <= r.n_docs for f in fits)


def test_hhi_bounds(spark, sf_dir):
    """HHI lies in [1/n, 1] for every nation with n customers."""
    for r in (
        all_queries()["q_customer_concentration_hhi"].builder(spark, sf_dir).collect()
    ):
        assert 1.0 / r.n_customers <= r.hhi <= 1.0 + 1e-12


def test_supplier_coverage_mass_conservation(spark, sf_dir):
    """Σ n_parts over histogram buckets == distinct parts shipped."""
    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["q_supplier_part_coverage"].builder(spark, sf_dir).collect()
    parts = (
        load_table(spark, sf_dir, "lineitem").select("l_partkey").distinct().count()
    )
    assert sum(r.n_parts for r in rows) == parts


def test_type_mix_shares_sum_to_one_per_week(spark, sf_dir):
    """Weekly shares are a distribution; first week has NULL delta."""
    import collections

    rows = all_queries()["ev_type_mix_drift"].builder(spark, sf_dir).collect()
    by_week = collections.defaultdict(float)
    for r in rows:
        by_week[r.week] += r.share
    for wk, s in by_week.items():
        assert abs(s - 1.0) < 1e-9, (wk, s)
    first_week = min(by_week)
    assert all(r.share_delta is None for r in rows if r.week == first_week)


def test_tvd_is_a_metric_on_planted_distributions(spark, tmp_path):
    """Hand-checkable corpus: src A = 'x x y', src B = 'x y y',
    src C = 'x x y' (identical to A). TVD(A,C)=0, TVD(A,B)=1/3,
    symmetry in the canonical (a<b) orientation."""
    import pytest as _pytest

    rows_in = [
        (1, "x x y", "en", "a", 5),
        (2, "x y y", "en", "b", 5),
        (3, "x x y", "en", "c", 5),
    ]
    docs = spark.createDataFrame(
        rows_in, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    d = str(tmp_path / "sf")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        (r.source_a, r.source_b): r.tvd
        for r in all_queries()["txt_source_tvd"].builder(spark, d).collect()
    }
    assert got[("a", "c")] == 0.0
    assert got[("a", "b")] == _pytest.approx(1 / 3)
    assert got[("b", "c")] == _pytest.approx(1 / 3)


def test_net_yield_is_the_intersection_lower_bound(spark, sf_dir):
    """Net docs can't exceed either single-stage survivor count:
    ≤ the quality gate's keeps AND ≤ the funnel's near-dup stage."""
    r = all_queries()["cur_net_yield"].builder(spark, sf_dir).collect()[0]
    gate_keep = {
        row.verdict: row.n_docs
        for row in all_queries()["cur_quality_gate"].builder(spark, sf_dir).collect()
    }["keep"]
    funnel = {
        row.stage: row.n_docs
        for row in all_queries()["cur_dedup_funnel"].builder(spark, sf_dir).collect()
    }
    assert r.n_docs_net <= gate_keep
    assert r.n_docs_net <= funnel["near_dup_collapse"]
    assert 0.0 < r.net_char_yield <= 1.0


def test_mat_window_warmup_and_steady_state(spark, sf_dir):
    """months_in_window ramps 1..12 then stays 12; once steady, MAT ≥
    any single month's revenue inside it."""
    rows = sorted(
        all_queries()["q_moving_annual_total"].builder(spark, sf_dir).collect(),
        key=lambda r: r.month,
    )
    for i, r in enumerate(rows):
        assert r.months_in_window == min(i + 1, 12)
        assert r.mat_revenue >= r.month_revenue


def test_engagement_decay_starts_at_one(spark, sf_dir):
    """Offset 0 is exactly 1.0 by construction; offsets are
    non-negative and shares positive."""
    rows = {
        r.week_offset: r
        for r in all_queries()["ev_engagement_decay"].builder(spark, sf_dir).collect()
    }
    assert rows[0].relative_activity == 1.0
    assert all(k >= 0 and r.relative_activity > 0 for k, r in rows.items())


def test_bucket_uniformity_within_balls_in_bins_envelope(spark, sf_dir):
    """All buckets hit, mass conserved, and the largest bucket stays
    within mean + 5σ of the balls-in-bins expectation — the bound a
    biased hash would break."""
    import math

    from lime_etl_spark.operators.insights2 import UNIF_BUCKETS

    r = all_queries()["samp_bucket_uniformity"].builder(spark, sf_dir).collect()[0]
    assert r.n_buckets_hit == UNIF_BUCKETS
    mean = r.n_docs / UNIF_BUCKETS
    sigma = math.sqrt(mean)
    assert r.max_bucket <= mean + 5 * sigma
    assert r.min_bucket >= max(0, mean - 5 * sigma)


def test_rank_stability_is_a_valid_rho(spark, sf_dir):
    """-1 ≤ ρ ≤ 1 for every year pair; rank pairs cover the common
    nation set (25 TPC-H nations)."""
    rows = all_queries()["q_rank_stability_nations"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r.spearman_rho <= 1.0
        assert r.n_nations >= 2


def test_weekend_lift_day_masses(spark, sf_dir):
    """Weekend + weekday day counts cover all purchase days; revenue
    mass conserves against the raw total."""
    import pytest as _pytest

    from lime_etl_spark.functions.numeric import dec, to_double
    from lime_etl_spark.sources.readers import load_table

    rows = {
        r.is_weekend: r
        for r in all_queries()["ev_weekend_lift"].builder(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    n_days = ev.select(F.to_date("ts")).distinct().count()
    assert rows[True].n_days + rows[False].n_days == n_days
    total = ev.agg(to_double(F.sum(dec("value", 2, 12))).alias("t")).collect()[0].t
    assert rows[True].revenue + rows[False].revenue == _pytest.approx(total)


def test_suspect_duplicates_catch_planted_double_submit(spark, tmp_path, sf_dir):
    """Replaying orders with FRESH keys (the surrogate-minting
    double-submit) is invisible to full-row dedup but must surface
    here, one group per replayed business key."""
    from lime_etl_spark.sources.readers import load_table

    base = load_table(spark, sf_dir, "orders")
    replay = base.where(F.col("o_orderkey") % 50 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 900_000_000
    )
    d = str(tmp_path / "sf")
    base.unionByName(replay).write.parquet(f"{d}/orders.parquet")
    rows = all_queries()["dq_suspect_duplicate_orders"].builder(spark, d).collect()
    planted = replay.count()
    # every planted replay creates (at least) its own duplicate group
    assert len(rows) >= planted
    assert all(r.n_orders >= 2 for r in rows)


def test_action_diversity_masses(spark, sf_dir):
    """Users across breadth buckets sum to the full user base;
    monotone ≤ users per bucket."""
    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["ev_action_diversity"].builder(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert sum(r.n_users for r in rows) == total
    for r in rows:
        assert 0 <= r.n_monotone_users <= r.n_users


def test_length_quality_grid_mass_and_balance(spark, sf_dir):
    """Grid mass equals the doc count and each length decile holds
    ~n/10 docs (ntile balance)."""
    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["cur_length_quality_grid"].builder(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n
    import collections

    per_len = collections.Counter()
    for r in rows:
        per_len[r.len_decile] += r.n_docs
    assert max(per_len.values()) - min(per_len.values()) <= 1


def test_w1_predictability_is_a_correlation(spark, sf_dir):
    """|r| ≤ 1 and the user count matches purchasing users."""
    from lime_etl_spark.sources.readers import load_table

    r = all_queries()["ev_w1_value_predictability"].builder(spark, sf_dir).collect()[0]
    assert -1.0 <= r.w1_later_correlation <= 1.0
    purchasers = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .count()
    )
    assert r.n_users == purchasers


def test_gini_bounds_and_uniform_zero(spark, sf_dir):
    """On real data 0 ≤ G < 1; on a hand-built perfectly-equal frame
    the rank formula must return exactly 0."""
    import datetime as dt

    r = all_queries()["q_gini_revenue"].builder(spark, sf_dir).collect()[0]
    assert 0.0 <= r.gini < 1.0

    rows = [
        (k, 1, "O", 100.0, dt.date(2024, 1, 1), "1-URGENT") for k in range(1, 21)
    ]
    eq = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string",
    )
    # every customer distinct with identical revenue → G = 0 exactly
    eq = eq.withColumn("o_custkey", F.col("o_orderkey"))
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        eq.write.mode("overwrite").parquet(f"{d}/orders.parquet")
        g = all_queries()["q_gini_revenue"].builder(spark, d).collect()[0]
    assert g.gini == 0.0


def test_dim_churn_versions_dominate_keys(spark, sf_dir):
    """versions ≥ keys changed per month; totals match purchase count."""
    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["etl_dim_churn_rate"].builder(spark, sf_dir).collect()
    total = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .count()
    )
    assert sum(r.n_versions for r in rows) == total
    for r in rows:
        assert r.n_versions >= r.n_keys_changed
        assert r.versions_per_key >= 1.0


def test_method_agreement_respects_containment_dominance(spark, sf_dir):
    """C(A,B) ≥ J(A,B) with τ_C ≥ τ_J ⇒ jaccard-only is EMPTY; the
    planted excerpts guarantee containment-only is not."""
    r = all_queries()["dedup_method_agreement"].builder(spark, sf_dir).collect()[0]
    assert r.n_jaccard_only == 0
    assert r.n_containment_only > 0
    assert r.n_both + r.n_containment_only <= r.n_candidate_pairs


def test_repeat_rate_buyers_cover_customers_with_orders(spark, sf_dir):
    """Buyers across segments equal distinct ordering customers;
    repeat ≤ buyers per segment."""
    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["q_repeat_rate_by_segment"].builder(spark, sf_dir).collect()
    total = (
        load_table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r.n_buyers for r in rows) == total
    for r in rows:
        assert 0 <= r.n_repeat_buyers <= r.n_buyers


def test_range_profile_bounds_are_consistent(spark, sf_dir):
    """min ≤ max everywhere; negative counts zero for columns known
    non-negative in the synthetic data (quantity, prices)."""
    rows = all_queries()["dq_range_profile"].builder(spark, sf_dir).collect()
    got = {(r.tbl, r.col): r for r in rows}
    for r in rows:
        assert r.min_v <= r.max_v
    assert got[("lineitem", "l_quantity")].n_negative == 0
    assert got[("orders", "o_totalprice")].n_negative == 0


def test_seasonal_index_averages_to_one_per_year(spark, sf_dir):
    """Within a year the mean of the monthly indices is exactly 1
    (each index is month/mean-of-months)."""
    import collections

    import pytest as _pytest

    rows = all_queries()["q_seasonal_index"].builder(spark, sf_dir).collect()
    by_year = collections.defaultdict(list)
    for r in rows:
        by_year[r.yr].append(r.seasonal_index)
    for yr, idx in by_year.items():
        assert sum(idx) / len(idx) == _pytest.approx(1.0), yr


def test_cap_per_user_caps_and_keeps_small_users_whole(spark, sf_dir):
    """n_kept = min(cap, n_events) per user — under-cap users keep
    everything, whales are clipped exactly at the cap."""
    from lime_etl_spark.operators.insights2 import USER_EVENT_CAP

    for r in all_queries()["samp_cap_per_user"].builder(spark, sf_dir).collect():
        assert r.n_kept == min(USER_EVENT_CAP, r.n_events)


def test_burstiness_bounds(spark, sf_dir):
    """Σn²/Σn ≥ 1 always and the global-rate correction keeps the
    score > -1; df ≤ total_count."""
    rows = all_queries()["txt_word_burstiness"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.doc_frequency <= r.total_count
        assert r.burstiness > -1.0


def test_ab_assignment_passes_srm_and_partitions_users(spark, sf_dir):
    """Arms partition the user base; |n_c − n_t| stays within the
    3σ sample-ratio-mismatch bound 3·√n for a fair 50/50 coin; and
    with no treatment applied (A/A) converter rates agree."""
    import math

    from lime_etl_spark.sources.readers import load_table

    rows = {
        r.arm: r
        for r in all_queries()["ev_ab_assignment_aa"].builder(spark, sf_dir).collect()
    }
    assert set(rows) == {"control", "treatment"}
    total = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    nc, nt = rows["control"].n_users, rows["treatment"].n_users
    assert nc + nt == total
    assert abs(nc - nt) <= 3 * math.sqrt(total)
    assert abs(rows["control"].converter_rate - rows["treatment"].converter_rate) < 0.2


def test_weighted_median_is_a_real_price_point(spark, sf_dir):
    """The weighted median per brand lies within that brand's observed
    unit-price range (it IS an observed cell, not an interpolation)."""
    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["q_weighted_median_price"].builder(spark, sf_dir).collect()
    assert rows
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rng = {
        r.p_brand: (r.lo, r.hi)
        for r in li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("lo"),
            F.max(F.col("l_extendedprice") / F.col("l_quantity")).alias("hi"),
        )
        .collect()
    }
    for r in rows:
        lo, hi = rng[r.p_brand]
        assert lo - 0.011 <= r.weighted_median_price <= hi + 0.011


def test_assortativity_is_one_on_disjoint_cliques(spark, sf_dir):
    """Every edge in the planted-clique corpus joins equal-degree
    endpoints (x == y per edge), so Pearson r is exactly 1.0; |r| ≤ 1
    always."""
    r = all_queries()["graph_assortativity"].builder(spark, sf_dir).collect()[0]
    assert -1.0 <= r.assortativity <= 1.0
    assert r.assortativity == 1.0


def test_cohort_ltv_is_cumulative_within_cohort(spark, sf_dir):
    """cum_ltv_per_user is non-decreasing in week_offset within each
    cohort, and total week revenue equals total purchase revenue."""
    import collections

    import pytest as _pytest

    from lime_etl_spark.functions.numeric import dec, to_double
    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["ev_cohort_ltv"].builder(spark, sf_dir).collect()
    by_cohort = collections.defaultdict(list)
    for r in rows:
        by_cohort[r.cohort_week].append(r)
    for grp in by_cohort.values():
        grp.sort(key=lambda r: r.week_offset)
        curve = [r.cum_ltv_per_user for r in grp]
        assert curve == sorted(curve)
    total = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .agg(to_double(F.sum(dec("value", 2, 12))).alias("t"))
        .collect()[0]
        .t
    )
    assert sum(r.week_revenue for r in rows) == _pytest.approx(total)


def test_abc_masses_and_ordering(spark, sf_dir):
    """All three classes exist, totals conserve, and per-part mean
    revenue strictly decreases A → B → C."""
    from lime_etl_spark.functions.numeric import dec
    from lime_etl_spark.sources.readers import load_table

    rows = {
        r.abc: r
        for r in all_queries()["q_abc_classification"].builder(spark, sf_dir).collect()
    }
    assert set(rows) == {"A", "B", "C"}
    li = load_table(spark, sf_dir, "lineitem")
    assert (
        sum(r.n_parts for r in rows.values())
        == li.select("l_partkey").distinct().count()
    )
    means = [rows[c].revenue / rows[c].n_parts for c in "ABC"]
    assert means == sorted(means, reverse=True)


def test_vocab_coverage_is_monotone(spark, sf_dir):
    """Coverage grows with the cutoff and never exceeds the total."""
    from lime_etl_spark.operators.insights2 import VOCAB_CUTOFFS

    r = all_queries()["txt_vocab_coverage"].builder(spark, sf_dir).collect()[0]
    covs = [r[f"tokens_top_{c}"] for c in VOCAB_CUTOFFS]
    assert covs == sorted(covs)
    assert covs[-1] <= r.total_tokens


def test_survival_curve_is_monotone_and_censored(spark, sf_dir):
    """S(0)=1 exactly; survival never increases with k; observable
    counts never increase with k (censoring only removes users)."""
    rows = sorted(
        all_queries()["ev_survival_curve"].builder(spark, sf_dir).collect(),
        key=lambda r: r.day_k,
    )
    assert rows[0].day_k == 0 and rows[0].survival == 1.0
    surv = [r.survival for r in rows]
    obs = [r.n_observable for r in rows]
    assert surv == sorted(surv, reverse=True)
    assert obs == sorted(obs, reverse=True)


def test_triangle_census_identities(spark, sf_dir):
    """Handshake + transitivity bounds: clustering ∈ [0,1], 3·Δ ≤
    wedges, and on the planted-clique corpus the graph is fully
    transitive (clustering == 1.0: every near-dup cluster is a
    clique, so no open wedge exists)."""
    r = all_queries()["graph_triangles"].builder(spark, sf_dir).collect()[0]
    assert 0.0 <= r.global_clustering <= 1.0
    assert 3 * r.n_triangles <= r.n_wedges
    assert r.global_clustering == 1.0


def test_duplicate_rows_detects_a_replayed_batch(spark, tmp_path, sf_dir):
    """Appending (replaying) part of a table must surface exactly that
    many full-row duplicates."""
    from lime_etl_spark.sources.readers import load_table

    d = str(tmp_path / "sf")
    for tbl in ("orders", "lineitem", "customer", "events"):
        load_table(spark, sf_dir, tbl).write.parquet(f"{d}/{tbl}.parquet")
    # replay a slice of orders into the same table path (double ingest)
    replay = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 7 == 0)
    replay.write.mode("append").parquet(f"{d}/orders.parquet")
    rows = {
        r.tbl: r for r in all_queries()["dq_duplicate_rows"].builder(spark, d).collect()
    }
    assert rows["orders"].n_dup_rows == replay.count()
    assert rows["customer"].n_dup_rows == 0


def test_time_split_masses_and_boundary(spark, sf_dir):
    """Split sizes sum to the full event count and both splits are
    non-empty (the cutoff sits inside the data window)."""
    from lime_etl_spark.sources.readers import load_table

    rows = {
        r.split: r
        for r in all_queries()["samp_time_split"].builder(spark, sf_dir).collect()
    }
    assert set(rows) == {"train", "test"}
    total = load_table(spark, sf_dir, "events").count()
    assert rows["train"].n_events + rows["test"].n_events == total
    assert rows["train"].n_events > 0 and rows["test"].n_events > 0
    for r in rows.values():
        assert r.n_overlap_users <= min(rows["train"].n_users, rows["test"].n_users)


def test_impute_counts_planted_gaps_exactly(spark, sf_dir):
    """n_imputed must equal the planted every-10th count per type;
    the post-impute mass equals observed mass + n_imputed·median."""
    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["etl_impute_median"].builder(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    planted = {
        r.event_type: r.n
        for r in ev.where(F.col("event_id") % 10 == 0)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert r.n_imputed == planted[r.event_type]


def test_try_cast_audit_counts_planted_dirt(spark, sf_dir):
    """Exactly the every-10th 'N/A' rows fail to parse; the rate is
    their share."""
    import pytest as _pytest

    from lime_etl_spark.sources.readers import load_table

    r = all_queries()["etl_try_cast_audit"].builder(spark, sf_dir).collect()[0]
    cust = load_table(spark, sf_dir, "customer")
    dirty = cust.where(F.col("c_custkey") % 10 == 0).count()
    assert r.n_unparseable == dirty
    assert r.unparseable_rate == _pytest.approx(dirty / r.n_rows)


def test_shingle_sensitivity_is_monotone_strict(spark, sf_dir):
    """Larger shingles are a stricter similarity: the mean verified
    Jaccard can only drop as k grows; verified ≤ candidates at
    every k."""
    rows = sorted(
        all_queries()["dedup_shingle_sensitivity"].builder(spark, sf_dir).collect(),
        key=lambda r: r.shingle_k,
    )
    assert [r.shingle_k for r in rows] == [3, 5, 8]
    for r in rows:
        assert r.n_verified <= r.n_candidates
    means = [r.mean_jaccard for r in rows if r.mean_jaccard is not None]
    assert means == sorted(means, reverse=True)


def test_adoption_curve_is_monotone_and_ends_at_total(spark, sf_dir):
    """Cumulative users strictly increase and finish at the total
    distinct user count; new_users sum to the same."""
    from lime_etl_spark.sources.readers import load_table

    rows = sorted(
        all_queries()["ev_cumulative_adoption"].builder(spark, sf_dir).collect(),
        key=lambda r: r.day,
    )
    total = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert rows[-1].cumulative_users == total
    assert sum(r.new_users for r in rows) == total
    cums = [r.cumulative_users for r in rows]
    assert cums == sorted(cums)


def test_order_size_histogram_mass(spark, sf_dir):
    """Histogram accounts for every order and every line exactly."""
    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["q_order_size_distribution"].builder(spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem")
    assert sum(r.n_orders for r in rows) == li.select("l_orderkey").distinct().count()
    assert sum(r.n_lines * r.n_orders for r in rows) == li.count()


def test_incremental_join_quadrants_partition_the_join(spark, sf_dir):
    """Each joined row lands in exactly one quadrant: the quadrant
    line counts must sum to the plain join's row count."""
    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["etl_incremental_join"].builder(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    full = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
    assert sum(r.n_lines for r in rows) == full


def test_fuzzy_match_resolves_every_planted_typo(spark, sf_dir):
    """Every planted dirty name (one substituted char) must resolve
    to its TRUE customer at distance 1 — recall 1.0 on the known
    typo model, no spurious closer match."""
    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["etl_fuzzy_key_match"].builder(spark, sf_dir).collect()
    planted = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 10 == 0)
        .count()
    )
    assert len(rows) == planted
    for r in rows:
        assert r.matched_custkey == r.dirty_id - 5_000_000
        assert r.dist == 1


def test_neyman_weight_algebra(spark, sf_dir):
    """weight == n_docs·std exactly; std ≥ 0; strata cover all docs."""
    import pytest as _pytest

    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["samp_neyman_alloc"].builder(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == load_table(spark, sf_dir, "documents").count()
    for r in rows:
        assert r.std_chars >= 0
        assert r.neyman_weight == _pytest.approx(r.n_docs * r.std_chars)


def test_skyline_equals_brute_force_dominance(spark, sf_dir):
    """The one-pass monotone-chain skyline must equal the O(n²)
    dominance definition computed brute-force on the collected dim."""
    from lime_etl_spark.sources.readers import load_table

    parts = [
        (r.p_partkey, int(round(r.p_retailprice * 100)), r.p_size)
        for r in load_table(spark, sf_dir, "part")
        .select("p_partkey", "p_retailprice", "p_size")
        .collect()
    ]

    def dominated(row):
        k, price, size = row
        return any(
            p2 <= price and s2 <= size and (p2 < price or s2 < size)
            for k2, p2, s2 in parts
            if k2 != k
        )

    expected = {k for (k, p, s) in parts if not dominated((k, p, s))}
    got = {
        r.p_partkey
        for r in all_queries()["q_skyline_parts"].builder(spark, sf_dir).collect()
    }
    assert got == expected


def test_partition_skew_algebra(spark, sf_dir):
    """min ≤ max, totals conserve, and skew_factor = max·n/total."""
    import pytest as _pytest

    from lime_etl_spark.sources.readers import load_table

    r = all_queries()["etl_partition_skew_report"].builder(spark, sf_dir).collect()[0]
    assert r.min_rows <= r.max_rows
    assert r.total_rows == load_table(spark, sf_dir, "orders").count()
    assert r.skew_factor == _pytest.approx(
        r.max_rows * r.n_partitions / r.total_rows
    )
    assert r.skew_factor >= 1.0


def test_scd3_matches_scd2_current_version(spark, sf_dir):
    """SCD3's current value must equal SCD2's is_current row per key
    (same change stream, different shapes)."""
    scd2 = {
        (r.user_id): r.value
        for r in all_queries()["etl_scd2_rebuild"].builder(spark, sf_dir).collect()
        if r.is_current
    }
    scd3 = {
        r.user_id: r.current_value
        for r in all_queries()["etl_scd3_current_prev"].builder(spark, sf_dir).collect()
    }
    assert scd3 == scd2


def test_decile_matrix_mass_and_bounds(spark, sf_dir):
    """Cells stay within 1..10 on both axes; total mass equals the
    number of (customer, year) pairs having a following year."""
    rows = all_queries()["q_decile_transition_matrix"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.from_decile <= 10 and 1 <= r.to_decile <= 10


def test_skipgram_pairs_obey_floor_and_lift_algebra(spark, sf_dir):
    """Every surfaced pair meets the count floor and lift equals the
    cross-multiplied expression exactly."""
    import pytest as _pytest

    from lime_etl_spark.operators.insights2 import SKIPGRAM_MIN_COUNT

    rows = all_queries()["txt_skipgram_lift"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_ab >= SKIPGRAM_MIN_COUNT
        assert r.lift > 0


def test_bloom_guarantees(spark, sf_dir):
    """The Bloom contract: ZERO false negatives always; the measured
    false-positive rate on non-member probes stays within 3× the
    theoretical (fill_ratio)^k bound."""
    from lime_etl_spark.operators.insights2 import BLOOM_BITS, BLOOM_HASHES

    r = all_queries()["sketch_bloom_filter"].builder(spark, sf_dir).collect()[0]
    assert r.n_false_negatives == 0
    assert r.n_reported == r.n_true_members + r.n_false_positives
    n_non_members = r.n_probes - r.n_true_members
    if n_non_members:
        fpr = r.n_false_positives / n_non_members
        theoretical = (r.n_bits_set / BLOOM_BITS) ** BLOOM_HASHES
        assert fpr <= 3 * theoretical + 0.01, (fpr, theoretical)


def test_ann_tuning_curve_is_monotone_in_scan_fraction(spark, sf_dir):
    """Recall@k must not decrease as scan fraction grows; brute force
    anchors at (1.0, 1.0); every fraction ∈ (0,1]."""
    rows = sorted(
        all_queries()["ann_tuning_curve"].builder(spark, sf_dir).collect(),
        key=lambda r: r.scan_fraction,
    )
    assert rows[-1].strategy == "brute_force"
    assert rows[-1].recall_at_k == 1.0
    recalls = [r.recall_at_k for r in rows]
    assert recalls == sorted(recalls)
    for r in rows:
        assert 0.0 < r.scan_fraction <= 1.0
        assert 0.0 <= r.recall_at_k <= 1.0


def test_ann_tuning_curve_persists_are_released(spark, sf_dir):
    """A direct (non-hygienic) build registers its persist, so
    release_tracked_persists() leaves the session's cache empty."""
    from lime_etl_spark.plans.registry import release_tracked_persists

    cache = spark._jsparkSession.sharedState().cacheManager()
    release_tracked_persists()
    spark.catalog.clearCache()
    all_queries()["ann_tuning_curve"].builder(spark, sf_dir).collect()
    assert not cache.isEmpty()
    release_tracked_persists()
    assert cache.isEmpty()


def test_lsh_tuning_curve_shape(spark, sf_dir):
    """More bands ⇒ candidates can only grow (any r-row band match in
    a coarse split implies a match in a finer split of the same
    perms... the converse, actually: fewer rows per band is a weaker
    condition), precision ∈ (0,1], and the finest config reaches
    pooled recall 1.0 ONLY if it dominates — assert the measured
    algebra instead: verified ≤ candidates, recall ≤ 1, and the
    8-band config's candidate count ≥ the 2-band config's."""
    rows = {
        (r.n_bands, r.rows_per_band): r
        for r in all_queries()["dedup_lsh_tuning"].builder(spark, sf_dir).collect()
    }
    assert set(rows) == {(2, 8), (4, 4), (8, 2)}
    for r in rows.values():
        assert r.n_verified <= r.n_candidates
        assert 0.0 < r.precision <= 1.0
        assert 0.0 <= r.pooled_recall <= 1.0
    assert rows[(8, 2)].n_candidates >= rows[(2, 8)].n_candidates
    assert rows[(8, 2)].pooled_recall >= rows[(2, 8)].pooled_recall


def test_gfs_plan_covers_every_partition_once(spark, sf_dir):
    """Tier counts partition every distinct order date; the daily
    tier holds at most GFS_DAILY_DAYS partitions."""
    from lime_etl_spark.operators.insights2 import GFS_DAILY_DAYS
    from lime_etl_spark.sources.readers import load_table

    rows = all_queries()["etl_gfs_retention_plan"].builder(spark, sf_dir).collect()
    total = (
        load_table(spark, sf_dir, "orders").select("o_orderdate").distinct().count()
    )
    assert sum(r.n_partitions for r in rows) == total
    tiers = {r.tier: r for r in rows}
    assert tiers["daily"].n_partitions <= GFS_DAILY_DAYS
    assert tiers["daily"].newest >= tiers["daily"].oldest


def test_audio_energy_windows_match_duration(spark):
    """Window count per clip == ceil(duration/window_ms); energies in
    [0,1]; rerun is byte-identical (deterministic fixture + real RMS)."""
    import math

    from lime_etl_spark.operators.multimodal import (
        audio_energy_windows,
        build_media_fixture,
    )

    media = build_media_fixture(spark, n=60).where(F.col("media_type") == "audio")
    meta = {r.media_id: r.meta["duration_ms"] for r in media.collect()}
    win = 500
    en = audio_energy_windows(media, window_ms=win)
    rows = en.collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
        assert 0.0 <= r.energy <= 1.0
    for mid, rs in by_media.items():
        assert len(rs) == max(1, math.ceil(meta[mid] / win))
    again = {(r.media_id, r.window_ix): r.energy for r in en.collect()}
    assert again == {(r.media_id, r.window_ix): r.energy for r in rows}


def test_hapax_share_bounds_and_consistency(spark, sf_dir):
    """hapax_count ≤ vocab_size ≤ total_tokens and shares in [0,1]."""
    for r in all_queries()["txt_hapax_ratio"].builder(spark, sf_dir).collect():
        assert 0 <= r.hapax_count <= r.vocab_size <= r.total_tokens
        assert 0.0 <= r.hapax_share <= 1.0
        assert 0.0 < r.type_token_ratio <= 1.0
