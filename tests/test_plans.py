"""Physical-plan contracts — the 100 TB posture, enforced.

Correctness tests prove the small-sf answer; these prove the *shape*
that survives a 1000-executor scale-up: filters reach the parquet
scan, scans prune columns, dimension joins broadcast, top-k never
globally sorts, and no production path contains an unblocked
cartesian/nested-loop join.  A regression here is a performance bug
even while every oracle still matches.
"""

from __future__ import annotations

import pytest

from automated_batch_data_pipeline_nyc_spark.suite import QUERIES

from .conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    df = QUERIES[name].spark(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushed_to_scan(spark):
    plan = _plan(spark, "filter_equality")
    assert "EqualTo(event_type,purchase)" in plan, "predicate not pushed to parquet scan"


def test_scan_prunes_columns(spark):
    plan = _plan(spark, "projection_rename_drop")
    # only the three projected columns may be read from parquet
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>" in plan


def test_dim_joins_broadcast(spark):
    plan = _plan(spark, "join_broadcast_dims")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pricing_summary_pushes_date_filter(spark):
    plan = _plan(spark, "pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(spark, "top_k_customers")
    assert "TakeOrderedAndProject" in plan, "top-k must not globally sort"


def test_window_topk_group_limit_pushdown(spark):
    plan = _plan(spark, "window_topk_per_group")
    assert "WindowGroupLimit" in plan, "rank filter not pushed into the window sort"


def test_bucketed_tables_join_without_shuffle(spark):
    from automated_batch_data_pipeline_nyc_spark.sources import read_parquet
    from automated_batch_data_pipeline_nyc_spark.sources.writers import write_table_bucketed

    orders = read_parquet(spark, f"{SF_SMOKE}/orders.parquet")
    customer = read_parquet(spark, f"{SF_SMOKE}/customer.parquet")
    write_table_bucketed(
        orders, "t_orders_b", ["o_custkey"], n_buckets=8, sort_cols=["o_custkey"]
    )
    write_table_bucketed(
        customer.withColumnRenamed("c_custkey", "o_custkey"),
        "t_customer_b",
        ["o_custkey"],
        n_buckets=8,
        sort_cols=["o_custkey"],
    )
    try:
        joined = spark.table("t_orders_b").hint("merge").join(
            spark.table("t_customer_b"), "o_custkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, (
            "co-bucketed join must not shuffle"
        )
        assert joined.count() == orders.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


#: r13 bound-audit conversions: these registered forms end in a chain
#: of 1-row scalar-aggregate crossJoins (the audit verdict row), which
#: Spark plans as BroadcastNestedLoopJoin of <=1-row sides — the exact
#: shape tools/plan_audit.py's product rule whitelists (a product of
#: <=1-row frames is <=1 row).  The PAIR pipelines inside them stay
#: key-blocked; the cartesian assertion below still applies in full.
_SCALAR_ATTACH_TAIL = {"dedup_minhash", "dedup_simhash"}


@pytest.mark.parametrize(
    "name",
    [
        # every production (non-oracle-cross-check) pairwise path must
        # be key-blocked: equi-join on bucket/gram/chunk keys only.
        "dedup_ngram_jaccard_prefix",
        "dedup_embedding_cosine_lsh",
        "dedup_minhash",
        "dedup_simhash",
        "similarity_lsh_topk",
        "similarity_topk",
        "dedup_incremental_batch",
    ],
)
def test_no_unblocked_pair_joins_in_production_paths(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name
    if name not in _SCALAR_ATTACH_TAIL:
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_chunking_is_map_only(spark):
    plan = _plan(spark, "chunk_documents")
    assert "Exchange" not in plan, "chunking must not shuffle — posexplode is map-side"
    assert "Generate posexplode" in plan or "Generate" in plan


def test_hash_sample_is_scan_level_filter(spark):
    plan = _plan(spark, "sample_hash_fraction")
    assert "Exchange" not in plan, "hash sampling is a map-only predicate"


def test_tfidf_topk_uses_window_group_limit(spark):
    plan = _plan(spark, "tfidf_top_terms")
    assert "WindowGroupLimit" in plan, "top-k rank filter not pushed into the sort"


def test_rolling_window_single_shuffle(spark):
    plan = _plan(spark, "rolling_hour_window")
    assert plan.count("Exchange hashpartitioning") == 1, (
        "time-range window must shuffle exactly once, on the partition key"
    )


def test_asof_join_single_shuffle_no_theta_join(spark):
    plan = _plan(spark, "asof_click_attribution")
    # the union trick must not plan a range/theta join: no nested-loop,
    # no cartesian — just window exchanges on the key.
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_overlap_join_is_partitioned_equi_join(spark):
    plan = _plan(spark, "interval_overlap_pairs")
    # the bucket trick must plan a partitioned equi-join on the bucket
    # key, NOT a broadcast nested loop over the raw theta condition.
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_moment_aggregates_single_corpus_exchange(spark):
    # the whole point of sufficient statistics: ONE map-side-combinable
    # shuffle; no second pass over the data
    for name in ("exact_moment_stats", "group_linear_fit"):
        plan = _plan(spark, name)
        assert plan.count("Exchange") == 1, f"{name}: expected exactly one shuffle"
        assert "BatchEvalPython" not in plan


def test_zorder_stays_jvm_side_one_exchange(spark):
    plan = _plan(spark, "zorder_bucket_stats")
    # flat shift/mask OR chain: codegen'd arithmetic, no UDF, and the
    # only exchange is the bucket-stats groupBy
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") == 1


def test_weighted_sample_group_limit_pushdown(spark):
    plan = _plan(spark, "weighted_sample_per_group")
    assert "WindowGroupLimit" in plan, "row_number<=n must cap groups pre-sort"


def test_jaccard_prefix_candidates_stay_equi_join(spark):
    # the PPJoin filters are extra predicates on an equi-join — they
    # must not degrade candidate generation to a nested-loop join
    for name in ("dedup_ngram_jaccard_prefix", "dedup_ngram_jaccard_freq"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_edit_distance_pairs_is_blocked_equi_join(spark):
    plan = _plan(spark, "edit_distance_pairs")
    # the prefix block must make the self-join an equi-join: a raw
    # levenshtein theta-join would plan as a nested loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_null_safe_join_stays_hash_partitioned(spark):
    plan = _plan(spark, "null_safe_enrich")
    # <=> is a deterministic equality: it must hash-join on the key,
    # never degrade to a nested loop over the corpus
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_equi_depth_histogram_broadcasts_single_row_cuts(spark):
    plan = _plan(spark, "equi_depth_histogram")
    # the only join is the 1-row cutpoint array re-attached to the scan:
    # a broadcast of one row, not an exchange of the corpus
    assert plan.count("BroadcastExchange") == 1
    assert "Exchange rangepartitioning" not in plan


def test_normalize_text_single_arrow_stage_pruned_scan(spark):
    plan = _plan(spark, "text_normalize_nfc")
    # one Arrow hop for NFC, nothing else leaves the JVM; scan reads
    # only the two referenced columns
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan, "normalization must be map-only"
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_url_canonical_dedup_map_plus_agg_exchanges(spark):
    plan = _plan(spark, "url_canonical_dedup")
    # canonicalization is pure projection (no Python); the exchanges are
    # exactly the two-phase COUNT(DISTINCT raw) pattern — partial agg on
    # (canon_url, raw), then final on canon_url — never a corpus join
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan


def test_connected_components_lineage_truncated(spark):
    """The CC loop must checkpoint per round: plan depth of the result
    is CONSTANT in iteration count (a path graph of 2x the length needs
    ~2x the min-label rounds but must yield the same-shaped plan).
    Without localCheckpoint the plan doubles per round and the driver
    dies at ~15 iterations long before the executors do."""
    from automated_batch_data_pipeline_nyc_spark.operators.graph import connected_components

    def chain(n):
        rows = [(i, i + 1) for i in range(n)]
        return spark.createDataFrame(rows, "id_a long, id_b long")

    def depth(df):
        return df._jdf.queryExecution().executedPlan().toString().count("\n")

    short = connected_components(chain(3))
    long = connected_components(chain(12))
    assert depth(short) == depth(long), "plan grew with iteration count"
    # and the labels are actually right: one component, min id 0
    assert long.agg({"component": "max"}).collect()[0][0] == 0


def test_market_share_dims_all_broadcast(spark):
    plan = _plan(spark, "market_share_by_year")
    # nation x2, region, supplier all broadcast; only the fact spine shuffles
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_top_supplier_no_global_sort(spark):
    plan = _plan(spark, "top_supplier_revenue")
    # max-over-aggregate must resolve via a 1-row broadcast, never a sort
    assert "Sort " not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_sole_supplier_single_fact_agg(spark):
    plan = _plan(spark, "sole_supplier_open_orders")
    # the double-EXISTS collapses to one per-order agg joined back: the
    # lineitem fact may be scanned twice but never self-joined per-row
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_idle_rich_uses_anti_join(spark):
    plan = _plan(spark, "idle_rich_customers")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_quality_classifier_is_map_only(spark):
    plan = _plan(spark, "quality_classifier_scores")
    assert "Exchange" not in plan, (
        "hashing-trick classifier is one higher-order aggregate per row — "
        "a shuffle here means the scorer stopped being a pure corpus pass"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
        "scorer must stay JVM-side (codegen'd higher-order aggregate)"
    )


def test_line_boilerplate_broadcasts_template_set(spark):
    plan = _plan(spark, "line_boilerplate_removal")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, (
        "boilerplate line set must broadcast into a left-anti probe"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_html_extraction_is_map_only(spark):
    plan = _plan(spark, "html_text_extraction")
    assert "Exchange" not in plan, "regex strip chain must stay a pure corpus pass"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_filter_funnel_single_aggregate_pass(spark):
    plan = _plan(spark, "corpus_filter_funnel")
    # one partial-agg exchange to a single row, then the stack unpivot —
    # a per-stage count() loop would show one exchange per stage
    assert plan.count("Exchange") == 1, plan.count("Exchange")


def test_rolling_zscore_single_user_shuffle(spark):
    plan = _plan(spark, "rolling_zscore_anomalies")
    assert plan.count("Exchange") == 1, (
        "one hash-partition by user, local sort, linear frame scan"
    )
    assert "CartesianProduct" not in plan


def test_q6_band_predicates_all_pushed(spark):
    plan = _plan(spark, "revenue_forecast_band")
    # all three predicate families reach the parquet scan (the plan
    # string truncates PushedFilters, so assert on the scan's DataFilters)
    assert "PushedFilters: [IsNotNull(" in plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"({frag}" in scan, frag
    assert plan.count("Exchange") == 1, "single 1-row partial-agg exchange"


def test_q19_bracket_stays_broadcast_equi_join(spark):
    plan = _plan(spark, "brand_bracket_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q18_single_fact_aggregation(spark):
    plan = _plan(spark, "large_volume_customers")
    # exactly one shuffle-backed aggregate over lineitem; the surviving
    # order set drives broadcast joins, never a second fact shuffle
    assert "BroadcastHashJoin" in plan


def test_q5_dims_broadcast(spark):
    plan = _plan(spark, "local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_bm25_topk_never_global_sorts(spark):
    plan = _plan(spark, "bm25_search")
    assert "TakeOrderedAndProject" in plan, "top-20 must prune, not sort globally"
    assert "CartesianProduct" not in plan


def test_bucketed_classifier_is_map_only(spark):
    plan = _plan(spark, "quality_classifier_bucketed")
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_triangle_wedge_joins_are_equi(spark):
    plan = _plan(spark, "dedup_graph_triangles")
    assert "CartesianProduct" not in plan


def test_cdc_compact_uses_window_group_limit(spark):
    plan = _plan(spark, "cdc_compact_feed")
    assert "WindowGroupLimit" in plan, (
        "last-change-per-key must prune during the sort, not rank full histories"
    )


def test_cdc_apply_single_outer_shuffle_no_second_pass(spark):
    plan = _plan(spark, "cdc_apply_orders")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ewma_single_user_shuffle(spark):
    plan = _plan(spark, "ewma_by_user")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_drawdown_groupby_reuses_window_partitioning(spark):
    plan = _plan(spark, "user_value_drawdown")
    assert plan.count("Exchange hashpartitioning") == 1, (
        "the per-key aggregate must reuse the cummax window's hash partitioning"
    )


# ---------------------------------------------------------------------------
# round-4 TPC-H batch (Q2/Q4/Q9/Q11/Q12/Q16 adapted) + pipeline additions
# ---------------------------------------------------------------------------

def test_q2_argmin_no_window_no_cartesian(spark):
    """The correlated MIN decorrelates to a combinable struct-argmin:
    no per-part Window sort, dims broadcast, no cartesian."""
    plan = _plan(spark, "cheapest_part_supplier_region")
    assert "Window" not in plan, "argmin must be an aggregate, not a window sort"
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_q4_exists_plans_as_semi_join(spark):
    plan = _plan(spark, "late_ship_priority_counts")
    assert "LeftSemi" in plan
    # the order-date range reaches the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q9_dims_broadcast_single_fact_pass(spark):
    plan = _plan(spark, "nation_year_profit")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    # p_type filter is evaluated dim-side, never against the fact scan
    assert "EqualTo(p_type,ECONOMY)" in plan


def test_q11_threshold_is_broadcast_not_shuffle(spark):
    """The scalar subquery must come back as a 1-row broadcast, not a
    second fact aggregation joined by shuffle."""
    plan = _plan(spark, "important_part_values")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q16_complaint_suppliers_broadcast_anti(spark):
    plan = _plan(spark, "part_supplier_variety")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q12_ship_date_filter_pushed(spark):
    plan = _plan(spark, "ship_delay_priority_mix")
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_embedding_norm_is_map_plus_tiny_shuffle(spark):
    """One scan, one bucket-count exchange, no Python."""
    plan = _plan(spark, "embedding_norm_buckets")
    assert plan.count("Exchange") <= 2  # partial agg + final agg exchange
    assert "Python" not in plan and "ArrowEval" not in plan


def test_kfold_is_map_only_expression(spark):
    plan = _plan(spark, "kfold_assign_counts")
    assert "Python" not in plan, "fold assignment must be a JVM expression"


def test_pmi_topk_take_ordered_and_broadcast_totals(spark):
    plan = _plan(spark, "pmi_top_bigrams")
    assert "TakeOrderedAndProject" in plan, "top-100 must not globally sort"
    assert "CartesianProduct" not in plan


def test_pareto_window_is_dim_sized(spark):
    """The running sum must window over the aggregated supplier dim,
    never the fact table: the plan's Window sits above the final
    supplier aggregate, and the fact join broadcasts the dim."""
    plan = _plan(spark, "supplier_pareto_share")
    assert "Window" in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_containment_prefix_no_cartesian_equi_join(spark):
    plan = _plan(spark, "containment_pairs_prefix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_nearest_single_shuffle_one_window(spark):
    """nearest as-of: BOTH carries (backward last + forward first) must
    share the one (ts, side) sort — exactly one hash Exchange on the
    key, one Sort, and no theta/nested-loop join anywhere."""
    plan = _plan(spark, "asof_nearest_event")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # one exchange for the union'd window; the pre-aggregated purchase
    # side reuses the same key partitioning (no second window shuffle)
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("Window") == 1, (
        "both carry frames must merge into a single Window node"
    )


def test_gopher_rules_is_map_only(spark):
    """The Gopher rule battery is a pure projection: no Exchange, no
    UDF/Arrow stage, and the scan reads only the needed columns."""
    plan = _plan(spark, "gopher_quality_rules")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "mapInPandas" not in plan.lower()


def test_activity_streaks_user_keyed_shuffles_only(spark):
    """Streaks must never plan a date-dimension cross join; every
    Exchange is a hash partition (distinct + window + final agg on the
    user key), with no global sort."""
    plan = _plan(spark, "user_activity_streaks")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    ex = plan.count("Exchange hashpartitioning")
    assert 0 < ex <= 3, plan.count("Exchange")
    assert "Exchange rangepartitioning" not in plan


def test_range_frame_window_single_shuffle(spark):
    """The value-RANGE frame must plan as one group-keyed hash Exchange
    + per-group sort — never a global range partitioning."""
    plan = _plan(spark, "window_range_frame_sum")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan
    assert "Window" in plan


def test_multiset_ops_count_algebra_no_replication(spark):
    """EXCEPT ALL / INTERSECT ALL semantics via count algebra: ONE
    keyed Exchange, no join, and crucially no `Generate replicaterows`
    — Spark's built-in exceptAll/intersectAll materialize per-key
    multiplicities as rows (a hot key with a 1M surplus replicates 1M
    rows just to be re-counted), which this query must never plan."""
    plan = _plan(spark, "set_ops_multiset")
    assert "replicaterows" not in plan, "multiset ops must not explode counts"
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_bloom_prefilter_reaches_fact_scan(spark):
    """The bloom membership predicate must evaluate AT THE SCAN, below
    every exchange — inlined as a literal, never attached via a
    broadcast join (Catalyst keeps a join-carried bitmap ABOVE the
    downstream equi-join, shuffling the unpruned fact table first)."""
    plan = _plan(spark, "bloom_prefilter_join")
    assert "BroadcastNestedLoopJoin" not in plan, "bitmap leaked into a join"
    assert "CartesianProduct" not in plan
    assert "DataFilters: [NOT ((element_at(" in plan, (
        "bloom predicate did not reach the fact scan's data filters"
    )


def test_bpe_pair_counts_vocab_bounded_topk(spark):
    """BPE pair stats: top-k must be TakeOrdered (never a global sort)
    and the corpus shuffle happens once — every later stage runs over
    the vocabulary table."""
    plan = _plan(spark, "bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_pair_join_is_cluster_keyed(spark):
    """SemDeDup's only quadratic work must be WITHIN clusters: the
    pair join is an equi-join on the cluster key (shuffle-
    partitionable), never an unblocked cartesian over the corpus;
    the centroid attach is the one (broadcast) nested-loop, its
    build side bounded by n_clusters."""
    plan = _plan(spark, "semdedup_prune")
    assert "CartesianProduct" not in plan
    # the assignment is checkpointed: exactly one centroid-attach BNLJ
    # (8-row build side) ever executes, and the pair join is an
    # equi-join keyed on cluster
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert ("SortMergeJoin [cluster" in plan) or (
        "BroadcastHashJoin [cluster" in plan
    )


def test_psi_never_joins_corpora_rowwise(spark):
    """PSI compares two corpus windows: each side must collapse to a
    k-row count aggregate BEFORE any join — the joins in the plan are
    all broadcasts of bin-table-sized inputs, never a row-wise
    corpus join."""
    plan = _plan(spark, "psi_drift_orders")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # bins <- expected, actual
    # the date-window predicates reach the scans
    assert plan.count("IsNotNull(o_orderdate)") >= 1


def test_temperature_rates_single_scan_no_rowwise_join(spark):
    """Temperature rebalancing arithmetic runs over the #sources-row
    count table; the corpus itself is scanned once and never joined."""
    plan = _plan(spark, "temperature_lang_rates")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("FileScan parquet") == 1


def test_incremental_agg_merge_is_union_not_join(spark):
    """State merge must be union + re-aggregate — a join-based merge
    would break out-of-order backfill associativity and cost a
    full-outer shuffle of both states."""
    plan = _plan(spark, "incremental_agg_merge")
    assert "Join" not in plan, "merge_agg_state must not plan any join"
    assert "Union" in plan


def test_dsir_broadcasts_logratio_table(spark):
    """DSIR's 64-row log-ratio table must broadcast back onto the
    per-doc bucket counts; the only sort-merge join allowed is the
    doc-keyed restore of empty documents."""
    plan = _plan(spark, "dsir_importance_weights")
    assert plan.count("BroadcastHashJoin") >= 1
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan


def test_gapfill_single_corpus_pass_no_grid_join(spark):
    """Gap-fill (segment form): ONE corpus bucket aggregate, ONE lead()
    window over the observed-slot table, and the dense grid GENERATED
    per segment with its lerp endpoints already attached — no join of
    any kind, and the grid-sized frame passes only through map-only
    expressions."""
    import re

    df = QUERIES["gapfill_user_hourly"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\n[^\n]*\bWindow \[", plan)) == 1
    assert "Join" not in plan
    assert "Generate explode" in plan
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 2  # bucket agg + window key


def test_corr_matrix_one_scan_no_per_pair_branches(spark):
    """The correlation matrix must ship ALL sufficient statistics
    through ONE aggregate over one scan — a per-pair select/union over
    the agg would re-plan (and re-execute) the corpus subtree per pair
    (the SCALING.md scalar-reuse trap).  The triangle is exploded from
    the 1-row result inside the same plan."""
    plan = _plan(spark, "corr_matrix_lineitem")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Generate explode") == 1
    # the only exchange is the 15-number single-partition gather
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("Exchange SinglePartition") == 1


def test_benford_hot_path_is_count_shuffle_only(spark):
    """Benford's corpus-side work is ONE map-side-combined count
    aggregate (≤ 9 rows out); the digit table broadcasts and the
    log10/chi tail runs over the 9-row frame, never the corpus."""
    plan = _plan(spark, "benford_price_audit")
    assert plan.count("FileScan parquet") == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("Exchange hashpartitioning") == 1  # the count shuffle


def test_basket_lift_pair_join_extracts_basket_key(spark):
    """The pair self-join must plan as an EQUI join on the basket key
    (quadratic bounded within a basket) — if Catalyst failed to extract
    the equi conjunct, the item_a < item_b filter would degrade the join
    to a corpus-sized nested loop.  The only nested-loop allowed is the
    1-row basket-total broadcast; the distinct basket frame is
    checkpoint-staged for its three consumers (no re-planned scans)."""
    plan = _plan(spark, "basket_brand_lift")
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan parquet") == 0  # behind the checkpoint barrier


def test_bucketed_roundtrip_joins_without_exchange(spark):
    """The co-bucketed catalog tables must sort-merge-join with NO
    exchange before the join (the pay-once layout); the only shuffle in
    the whole plan is the final nation-keyed aggregate."""
    plan = _plan(spark, "bucketed_join_roundtrip")
    assert "SortMergeJoin" in plan
    assert plan.count("FileScan parquet") == 2  # the two bucketed tables
    assert plan.count("Exchange hashpartitioning") == 1  # final agg only


def test_incremental_join_view_joins_state_not_corpus(spark):
    """The join-view refresh must merge key-sized states by union +
    re-aggregate and only then broadcast-join the dims — a sort-merge
    join anywhere means a corpus-sized frame reached a join."""
    plan = _plan(spark, "incremental_join_view")
    assert "Union" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2  # customer -> nation -> state


def test_c4_rules_map_only(spark):
    """The C4 battery is pure line/string codegen over one scan — any
    exchange or join means the seeding or rules left the map stage."""
    plan = _plan(spark, "c4_cleaning_rules")
    assert plan.count("FileScan parquet") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_impute_group_mean_single_window_shuffle(spark):
    """Group-mean imputation is ONE shuffle on the group key: the sum
    and non-null count must land in the same Window node, and no join
    (a groupBy+join formulation would shuffle twice)."""
    import re

    plan = _plan(spark, "impute_group_mean")
    assert plan.count("Exchange hashpartitioning") == 1
    assert len(re.findall(r"\n[^\n]*\bWindow \[", plan)) == 1
    assert "Join" not in plan


def test_hierarchy_share_single_fact_pass(spark):
    """The share rollup must scan the fact once, broadcast the dims,
    and fold both parent totals as windows over the dim-sized nation
    aggregate — a second corpus scan or a shuffled dim join means the
    scalar-reuse trap or a broadcast miss."""
    plan = _plan(spark, "hierarchy_share_rollup")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert plan.count("FileScan parquet") == 4  # orders + customer/nation/region once each


def test_session_paths_one_corpus_shuffle_takeordered(spark):
    """Sessionization windows and per-session path assembly must share
    the single user-keyed exchange (the groupBy's (user, sess) keys are
    co-located by the window's user partitioning); the only other
    shuffle carries the tiny trigram vocabulary, and top-k must be
    TakeOrdered, never a global sort."""
    plan = _plan(spark, "session_path_trigrams")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert plan.count("FileScan parquet") == 1


def test_rfm_one_corpus_shuffle_bands_maponly(spark):
    """RFM: the customer aggregate is checkpoint-staged (one corpus
    pass feeding both the anchor max and the banding scan), the anchor
    comes back as a 1-row broadcast cross join, and the only visible
    hash exchange carries the <=27-band rollup — banding itself must be
    pure map-side CASE logic, never a sort or quantile window."""
    plan = _plan(spark, "rfm_segments")
    assert plan.count("Exchange hashpartitioning") == 1  # band rollup only
    assert plan.count("BroadcastNestedLoopJoin") == 1    # 1-row anchor
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    # corpus subtree is behind the checkpoint barrier
    assert plan.count("FileScan parquet") == 0


def test_cusum_day_frame_windows_share_exchange(spark):
    """CUSUM change-point: ONE map-side-combined (type, day) count
    shuffle reduces the corpus; every window pass (prefix, index,
    per-type totals, argmax rank) must run over that day-sized frame on
    the single event_type-keyed exchange — no join, no extra shuffle."""
    plan = _plan(spark, "cusum_changepoint_daily")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 2  # day agg + type key
    assert "Join" not in plan
    assert "hashAggregate" in plan.lower() or "HashAggregate" in plan


def test_rolling_corr_spine_broadcast_bounded_window(spark):
    """Rolling correlation: the day-bucket aggregate is checkpoint-staged
    (spine extent + join consumers), the generated day spine joins the
    counts via broadcast hash join, and the rolling windows run over the
    span-bounded spine — a SortMergeJoin or a visible corpus exchange
    means the staging or the broadcast regressed."""
    plan = _plan(spark, "rolling_corr_daily")
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 0  # corpus agg is staged
    assert "Generate explode" in plan


def test_hhi_single_fact_pass_broadcast_dims(spark):
    """HHI concentration: lineitem reduces on the supplier key in ONE
    corpus shuffle, both dims broadcast, and the nation rollup is a
    plain supplier-table-sized aggregate — no windows, no shuffled dim
    join, no second fact scan."""
    plan = _plan(spark, "market_concentration_hhi")
    assert plan.count("FileScan parquet") == 3  # lineitem + supplier + nation
    assert plan.count("Exchange hashpartitioning") == 2  # supp agg + nation agg
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_keyness_staged_counts_broadcast_totals_takeordered(spark):
    """Keyness: the vocabulary count aggregate is checkpoint-staged for
    its two consumers (totals + per-word scan), totals come back as a
    1-row broadcast cross join, and top-30 must be TakeOrdered over the
    rounded z — no second corpus pass, no global sort."""
    plan = _plan(spark, "keyness_log_odds")
    assert plan.count("BroadcastNestedLoopJoin") == 1  # 1-row totals
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("FileScan parquet") == 0  # corpus behind the stage
    assert plan.count("Exchange hashpartitioning") == 0


def test_ab_test_one_user_shuffle_then_scalar(spark):
    """A/B readout: the first-event window is the ONLY corpus shuffle
    (user-keyed); everything after is a 1-row aggregate — no join, no
    second exchange."""
    plan = _plan(spark, "ab_test_conversion")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_cohort_ltv_copartitioned_join_broadcast_sizes(spark):
    """Cohort LTV: the corpus and the first-week table are each staged
    once for their two consumers, the revenue join must be a
    (co-partitioned) equi join — never SortMergeJoin on an unstaged
    rescan — and cohort sizes broadcast onto the curve table."""
    plan = _plan(spark, "cohort_ltv_curve")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert plan.count("FileScan parquet") == 0  # both inputs staged


def _bucketed_plans(spark, name: str) -> tuple[str, str]:
    """Run registered query ``name`` and return its final plan and the
    plan its ``equi_depth_buckets`` checkpoint hid, as strings.  The
    production form stages the bucketed histogram through a lazy
    checkpoint (it feeds two consumers; r8 profiling showed per-consumer
    re-evaluation doubling the query), so the scan-side lineage is only
    visible in the captured plan.  After ``collect()`` the captured
    adaptive plan is final: exchange reuse has resolved."""
    from automated_batch_data_pipeline_nyc_spark.plans.capture import (
        capture_checkpoint_plans,
    )

    with capture_checkpoint_plans() as captured:
        df = QUERIES[name].spark(spark, SF_SMOKE)
    df.collect()
    staged = [p for label, p in captured if label == "equi_depth_buckets"]
    assert len(staged) == 1, [label for label, _ in captured]
    splan = staged[0].toString()
    assert "isFinalPlan=true" in splan
    return df._jdf.queryExecution().executedPlan().toString(), splan


def test_ks_two_sample_no_global_data_sort(spark):
    """The KS sup-gap must come from the two-level prefix scan: the only
    windows are (a) partitioned by range-bucket — parallel — and (b) a
    single-partition pass over the bucket-totals table.  A global-order
    window/sort over the corpus-sized histogram would be the single-task
    scaler this operator exists to avoid."""
    plan, staged = _bucketed_plans(spark, "ks_drift_price")
    # predicate + pruning reach the scan
    assert "PushedFilters: [IsNotNull(o_totalprice)]" in staged
    # downstream consumers read the checkpointed RDD, and the
    # within-bucket running sums keep the bucket key in the window spec
    assert "ExistingRDD" in plan
    assert "windowspecdefinition(__b" in plan
    # the bucket-total exchange executes once: every further consumer
    # (offsets, grand totals) reuses it
    assert "ReusedExchange" in plan
    assert "ntile(" not in plan and "ntile(" not in staged


def test_poisson_bootstrap_single_corpus_exchange(spark):
    """All 32 replicas must compute in ONE corpus pass: the explode is
    map-side relative to the replica-key aggregate (Generate between
    the two exchanges), and everything stays JVM-side (no Python eval
    in the draw).  Exactly TWO hash exchanges are allowed: the spread()
    repartition on the row key (r13 — carries the corpus UN-exploded,
    n rows not 32n, so the md5 draw chain can't serialize on a
    single-row-group scan) below the Generate, and the
    partial-aggregated replica-key shuffle above it."""
    df = QUERIES["bootstrap_revenue_ci"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Generate explode" in plan
    # plan string is top-down: aggregate exchange ABOVE the Generate,
    # spread exchange BELOW it — so the explode output never shuffles
    first_ex = plan.index("Exchange hashpartitioning")
    last_ex = plan.rindex("Exchange hashpartitioning")
    gen = plan.index("Generate explode")
    assert first_ex < gen < last_ex, (
        "explode must sit between the replica-key aggregate exchange "
        "(above) and the spread repartition (below)"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Sort " not in plan, "percentile fold must not plan a sort"
    assert "PushedFilters: [IsNotNull(o_totalprice)]" in plan


def test_gini_ranks_via_bucketed_prefix_scan(spark):
    """Customer revenue ranking must come from global_row_number's
    two-level prefix scan: the corpus-scaling window (row_number over
    ~every customer) is PARTITIONED by the range bucket, and no global
    NTILE runs at all — the decile is the closed-form SQL bucket rule
    on (i, n).  Customers are the schema's largest 'dim'; an
    unpartitioned ROW_NUMBER/NTILE here is the one new global sort the
    r5 verdict flagged (VERDICT r5 item 3)."""
    from automated_batch_data_pipeline_nyc_spark.operators.windows import (
        global_row_number,
    )
    from automated_batch_data_pipeline_nyc_spark.sources import read_parquet
    from pyspark.sql import functions as F
    import os

    orders = read_parquet(spark, os.path.join(SF_SMOKE, "orders.parquet"))
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    ranked = global_row_number(rev, "rev", "o_custkey", out_col="i")
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "row_number() windowspecdefinition(__b" in plan, (
        "the customer-frame row_number must be partitioned by the range "
        "bucket, not a single-task global sort"
    )
    assert "ntile(" not in plan  # the window fn; "percentile_approx" contains "ntile"
    # the only unpartitioned window is the exclusive bucket-offset scan
    # over the <= n_buckets-row totals table
    import re

    unpart = [
        m
        for m in re.findall(r"windowspecdefinition\([^)]*\)", plan)
        if "__b" not in m
    ]
    assert all("__bc" in m or "__off" in m or "_w" in m for m in unpart), (
        f"unexpected unpartitioned window spec(s): {unpart}"
    )
    # the full query's executed plan must not plan any global NTILE
    gini = QUERIES["gini_revenue_concentration"].spark(spark, SF_SMOKE)
    gplan = gini._jdf.queryExecution().executedPlan().toString()
    assert "ntile(" not in gplan


def test_chi2_contingency_single_count_shuffle(spark):
    """chi2_event_dow: the corpus is consumed by ONE map-side-combined
    count shuffle; margins/expected/chi terms run on the cell frame.
    Everything JVM-side, predicates at the scan."""
    df = QUERIES["chi2_event_dow"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(ts), IsNotNull(event_type)]" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_dp_counts_one_shuffle_then_group_frame_math(spark):
    """dp_event_counts: one count shuffle; the Laplace draw is pure JVM
    expression math on the group-cardinality frame — no Python, no
    joins, no windows."""
    df = QUERIES["dp_event_counts"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "PushedFilters: [IsNotNull(event_type)]" in plan


def test_kmv_prunes_to_local_k_before_merge(spark):
    """kmv_distinct_users: row_number <= k must compile to
    WindowGroupLimit so each partition pre-prunes to its local k before
    the per-group merge — the sketch shuffle carries k x |groups| rows,
    never the corpus."""
    df = QUERIES["kmv_distinct_users"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "PushedFilters: [IsNotNull(user_id)]" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_trimmed_mean_bucketed_no_per_group_global_sort(spark):
    """trimmed_mean_prices: within-group running counts must be
    partitioned by (group, range-bucket) — with 3 return flags a
    partitionBy(group) window caps parallelism at 3; the bucket key
    keeps every stage parallel.  No NTILE, no global sort."""
    plan, staged = _bucketed_plans(spark, "trimmed_mean_prices")
    # the value predicate must reach the scan (exact list intentionally
    # unpinned: the group-join inference adds IsNotNull(l_returnflag))
    assert "PushedFilters: [IsNotNull(l_extendedprice)" in staged
    # the (group, value) histogram exchange executes once: the cuts
    # subtree reuses it
    assert "ReusedExchange" in staged
    assert "ExistingRDD" in plan
    assert "windowspecdefinition(__g" in plan
    assert "ReusedExchange" in plan
    # the window fn; "percentile_approx" contains "ntile"
    assert "ntile(" not in plan and "ntile(" not in staged


def test_did_broadcast_dim_then_single_conditional_agg(spark):
    """did_revenue_effect: the customer dim broadcasts (no corpus
    shuffle for the join) and the 2x2 cells come from ONE conditional
    aggregate — the only exchange is the SinglePartition merge of
    map-side partials.  Nothing grows with the corpus."""
    df = QUERIES["did_revenue_effect"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_acf_runs_on_dim_bounded_daily_frame(spark):
    """acf_daily_revenue: ONE corpus shuffle builds the daily series;
    the lag explode and self-join run on the day-dim frame only.  The
    lag generator must be a Generate (map-side explode), with no window
    anywhere."""
    df = QUERIES["acf_daily_revenue"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fdr_one_moment_shuffle_then_hypothesis_frame(spark):
    """fdr_event_value_tests: the corpus is consumed by ONE moment
    shuffle onto event_type; the z/p math and both BH windows run on
    the hypothesis frame (one row per event type).  The A&S normal CDF
    must stay JVM-side expression math."""
    df = QUERIES["fdr_event_value_tests"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "PushedFilters: [IsNotNull(event_type), IsNotNull(ts), IsNotNull(value)]" in plan


def test_lm_perplexity_one_corpus_shuffle_no_python(spark):
    """lm_perplexity_scores: the corpus collapses ONCE into (doc,
    bigram) cells; bigram/left-context totals and the vocabulary all
    derive from staged cell/type tables, and scoring joins back at
    bigram-TYPE granularity.  Everything JVM-side: no Python stage, no
    cartesian (the 1-row vocabulary count attaches via broadcast)."""
    df = QUERIES["lm_perplexity_scores"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # all aggregation is hash-agg over the staged cell tables; the
    # per-doc score needs no window anywhere
    assert "Window" not in plan


def test_binaryfile_scan_is_datasource_not_python(spark):
    """binaryfile_ingest_roundtrip: the bytes flow through the
    binaryFile DataSource scan (a FileScan over the staged files) —
    no Python stage, no collect-side re-read; md5/length are JVM
    expressions on the binary column."""
    df = QUERIES["binaryfile_ingest_roundtrip"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "binaryFile" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_probe_scores_only_probed_cells(spark):
    """ivf_probe_verified: both centroid attachments are dim-bounded
    broadcasts over the 8-row centroid side (BNLJ is acceptable THERE
    and only there), candidate scoring is an equi-join on cell id, and
    top-5 per query compiles to WindowGroupLimit — the probe touches
    ~nprobe/k of the corpus, never all pairs."""
    df = QUERIES["ivf_probe_verified"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_temporal_split_one_entity_shuffle(spark):
    """temporal_split_audit: ONE user-keyed count shuffle, then a 1-row
    rollup over the user frame; pivot predicates are plain JVM
    comparisons — no window, no join, no Python."""
    df = QUERIES["temporal_split_audit"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "PushedFilters: [IsNotNull(ts), IsNotNull(user_id)]" in plan


def test_pca_fixed_axes_projection_is_map_only(spark):
    """embedding_pca_project (round-9 oracle form): the registered
    projection pass must be scan -> zip_with-center -> dot-project with
    ZERO Exchange and zero Python — the corpus mean attaches as
    driver-collected literals, so the distributed plan is pure map-side
    JVM arithmetic (the shape that scales with input splits alone)."""
    plan = _plan(spark, "embedding_pca_project")
    assert "Exchange" not in plan
    assert plan.count("FileScan parquet") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_bpe_encode_dictionary_join_single_reassembly_shuffle(spark):
    """bpe_encode_tokens (round-9 oracle form): the dictionary-join
    encoder's only real shuffle is the per-doc reassembly
    (hashpartitioning on the doc id); the merge folds live behind the
    checkpointed vocabulary (ExistingRDD scan), the word->segmentation
    attach is an equi-join (build side is size-chosen by Catalyst —
    vocab at scale), and nothing falls back to a nested loop,
    cartesian, or Python."""
    plan = _plan(spark, "bpe_encode_tokens")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "ExistingRDD" in plan  # checkpointed vocab segmentation


def test_profile_table_expand_path_hash_aggregates(spark):
    """profile_orders_table (r13): the multi-COUNT(DISTINCT) Expand path
    must HashAggregate — one min(string) in the same aggregate demotes
    the whole plan to SortAggregate (string buffers are not mutable),
    which was measured as three extra Sorts of the 7x-Expanded frame.
    String min/max live in a separate Expand-free pass attached by a
    1x1 cross join (the audit's whitelisted scalar product)."""
    plan = _plan(spark, "profile_orders_table")
    assert "Expand" in plan
    assert "Sort " not in plan, "Expand path must not sort-aggregate"
    assert plan.count("SortAggregate") == 2  # the no-keys string pass only
    assert "HashAggregate" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # 1x1 scalar attach
