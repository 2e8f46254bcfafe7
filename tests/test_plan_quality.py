"""Physical-plan quality gates: the properties that make these queries
survive a 100× scale-up must hold in the compiled plan, not just in our
intentions — pushdown reaches the scan, small dims broadcast, top-k
compiles to TakeOrdered, no accidental cartesian products.
"""

from __future__ import annotations

import pytest

from data_eng_project_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return REGISTRY[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_q1_pushes_shipdate_filter_and_partial_aggs(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # reached the parquet scan
    assert plan.count("HashAggregate") >= 2  # map-side partial + final


def test_q1_prunes_columns(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # ReadSchema must not include unused columns like l_partkey/l_suppkey.
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_partkey" not in read and "l_suppkey" not in read and "l_linenumber" not in read


def test_q5_broadcasts_dimensions_no_cartesian(spark):
    plan = _plan(spark, "q5_region_supplier_revenue")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(r_name,ASIA)" in plan  # dim filter pushed to scan


def test_q3_topk_is_take_ordered(spark):
    plan = _plan(spark, "q3_top_unshipped_orders")
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT 10


def test_flagship_is_equi_join_not_cross(spark):
    """The spatial join must compile to a hash equi-join on grid cells —
    the whole point of the operator vs the oracle's cross join."""
    plan = _plan(spark, "flagship_points_near_sites")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_similarity_topk_no_python_udf(spark):
    """Cosine scoring must stay JVM-side (zip_with/aggregate), not fall
    into a Python UDF evaluation node."""
    plan = _plan(spark, "similarity_topk")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q6_all_filters_reach_scan_no_join(spark):
    # NB: toString() truncates the PushedFilters list, so assert on the
    # leading IsNotNull entries (proof the columns reached the scan) and
    # the first comparison's prefix rather than every comparison.
    plan = _plan(spark, "q6_forecast_revenue")
    assert (
        "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), "
        "IsNotNull(l_quantity), GreaterThanOrEqual" in plan
    )
    for join_node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join_node not in plan


def test_q19_disjunction_keeps_equi_join(spark):
    plan = _plan(spark, "q19_disjunctive_predicates")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_asof_join_is_window_not_join(spark):
    """The as-of join must compile to the union-merge form: a window
    over one shuffle, with NO join node — joining all earlier rows and
    taking argmax would explode at scale."""
    plan = _plan(spark, "asof_latest_order")
    assert "Window" in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, node


def test_range_join_is_equi_join_not_cross(spark):
    """The interval self-join must be a bucketed equi-join, never a
    nested-loop/cartesian on the inequality predicate."""
    plan = _plan(spark, "events_within_minute")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "name",
    ["q1_pricing_summary", "events_hourly_rollup", "dedup_exact", "lang_id_heuristic"],
)
def test_single_table_queries_have_no_shuffle_beyond_agg(spark, name):
    """Single-table scan+agg queries should contain at most the one
    aggregation exchange (plus AQE reads) — no stray repartitions.

    The deliberate unsplittable-input rebalance is exempt: it prints as
    a hashpartitioning exchange since r12 (keyed spread skips the
    whole-input local sort round-robin pays), tagged REPARTITION_BY_NUM
    rather than ENSURE_REQUIREMENTS, so count only the latter."""
    plan = _plan(spark, name)
    ensure = sum(
        "hashpartitioning" in line
        for line in plan.splitlines()
        if "ENSURE_REQUIREMENTS" in line
    )
    assert ensure <= 1
    # and never more than the one rebalance beyond it
    assert plan.count("Exchange hashpartitioning") <= ensure + 1


def test_q7_pushdown_and_broadcast(spark):
    """Q7: shipdate range reaches the fact scan; the nation-filtered
    supplier/customer sides broadcast; the pair disjunction never
    degrades the equi-joins to a nested loop."""
    plan = _plan(spark, "q7_nation_pair_volume")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan  # pushed to parquet
    assert "BroadcastHashJoin" in plan


def test_q9_single_fact_shuffle(spark):
    """Q9: all three dims broadcast, so the only hash exchange is the
    final group-by — the fact table is never shuffled for a join."""
    plan = _plan(spark, "q9_profit_by_nation_year")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert plan.count("BroadcastHashJoin") >= 3


def test_q11_scans_fact_once(spark):
    """Q11: the global total is re-derived from the per-part aggregate;
    the per-part subtree is referenced twice in the DAG but AQE's
    exchange reuse collapses it — the executed plan must carry a
    ReusedExchange so the fact is physically scanned once."""
    df = REGISTRY["q11_important_parts"].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_q21_semi_and_anti_share_key(spark):
    """Q21: EXISTS/NOT EXISTS compile to LeftSemi/LeftAnti equi-joins on
    l_orderkey with residual inequality conditions — no nested loop."""
    plan = _plan(spark, "q21_sole_late_suppliers")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q22_anti_join_prunes_orders_scan(spark):
    """Q22: the 1999+ date filter must reach the orders scan feeding the
    anti join, and the scalar threshold broadcasts."""
    plan = _plan(spark, "q22_idle_customers")
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "LeftAnti" in plan


def test_funnel_stages_shuffle_on_one_key(spark):
    """Funnel: every stage groups/joins on user_id only — no exchange on
    any other key should appear (the chain re-uses one partitioning)."""
    plan = _plan(spark, "funnel_conversion")
    import re

    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    assert keys <= {"user_id"}, keys


def test_scd2_single_window_shuffle(spark):
    """SCD2: one window over the dimension key — exactly one hash
    exchange and no join nodes."""
    plan = _plan(spark, "scd2_customer_status")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert node not in plan


def test_profile_orders_single_scan(spark):
    """Profiling reads the table once (the two exact distincts expand to
    extra aggregation exchanges, not extra scans)."""
    plan = _plan(spark, "profile_orders")
    assert plan.count("FileScan parquet") == 1


def test_unigram_lm_broadcasts_model_no_python(spark):
    plan = _plan(spark, "unigram_lm_quality")
    assert "BroadcastHashJoin" in plan  # vocab model broadcasts
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pii_scan_is_map_only(spark):
    plan = _plan(spark, "pii_detect_redact")
    assert "Exchange" not in plan  # zero shuffles: scan → project
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_containment_collapsed_no_cartesian_no_python(spark):
    plan = _plan(spark, "dedup_containment_pairs_collapsed")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "dedup_ngram_jaccard_collapsed",
        "dedup_minhash_lsh_collapsed",
        "dedup_simhash_collapsed",
        "dedup_containment_pairs_collapsed",
    ],
)
def test_collapsed_attach_reads_cache_not_corpus(spark, name):
    """r13 (VERDICT r12 #2): class-size attachment must ride the one
    persisted fingerprint/sets cache (n_docs carried as metadata), not
    re-aggregate class sizes from the source corpus per attach join.
    The r12 shape's re-aggregation had the unique plan signature
    ``partial_min(doc_id#...)`` — a bare min(id) over a fresh corpus
    scan — distinct from the representative collapse's
    ``partial_min(struct(doc_id, ...))`` which legitimately remains
    (once, inside the cache build). Its absence pins the one-cache
    attach shape for all four collapsed families."""
    plan = _plan(spark, name)
    assert "partial_min(doc_id#" not in plan
    assert "n_docs" in plan  # class sizes ride the cached frame


def test_duplicate_spans_no_cartesian(spark):
    plan = _plan(spark, "duplicate_span_pairs")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_no_cartesian_no_python(spark):
    plan = _plan(spark, "dedup_incremental_batch")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cross_source_dup_matrix_is_equi_join(spark):
    """Source-pair duplication must come from an fp-keyed equi-join, not
    any nested-loop/cartesian source-pair expansion."""
    plan = _plan(spark, "cross_source_dup_matrix")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final on both aggs


def test_domain_mixture_weights_broadcasts_totals(spark):
    """The 1-row corpus totals must broadcast back — no shuffle of the
    per-source table against totals, no cartesian fallback."""
    plan = _plan(spark, "domain_mixture_weights")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_incremental_rollup_merge_partial_aggs(spark):
    """The merge is aggregate-shaped end to end: partial+final aggs, no
    join of state against history events."""
    plan = _plan(spark, "incremental_rollup_merge")
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan  # pure union + re-aggregate


def test_kmv_sketch_no_cartesian(spark):
    plan = _plan(spark, "kmv_distinct_ngrams")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # df agg partial+final


def test_cms_probes_broadcast(spark):
    """CMS probe joins (top-k terms vs depth×width cells) must broadcast
    — never shuffle the sketch against 20 rows."""
    plan = _plan(spark, "cms_term_counts")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_bigram_lm_no_cartesian_keyed_joins(spark):
    """LM scoring joins are keyed shuffles (w1,w2)/w — the only
    nested-loop allowed is the 1-row totals broadcast."""
    plan = _plan(spark, "bigram_lm_quality")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_attribution_asof_single_user_shuffle(spark):
    """Last-touch attribution rides the union-merge as-of: no join node
    at all between purchases and touches — one window over user_id."""
    plan = _plan(spark, "attribution_last_touch")
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "Window" in plan


def test_boilerplate_segments_no_python_no_cartesian(spark):
    """Segmentation must stay in array-expression codegen (no Python
    eval nodes) and the df-count/rollup joins must be equi-joins."""
    plan = _plan(spark, "boilerplate_segments")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_cdc_chunk_dedup_no_python_no_cartesian(spark):
    plan = _plan(spark, "cdc_chunk_dedup")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_split_profile_is_pure_aggregate(spark):
    """The split is a pushed-down expression: plan must be scan →
    partial agg → exchange → final agg, with a broadcast for the
    3-row split-totals join — no sort, no wide shuffle of raw docs."""
    plan = _plan(spark, "dataset_split_profile")
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_release_pipeline_no_cartesian_no_python(spark):
    """The five-stage composed release plan must stay equi-join +
    aggregate shaped end to end: no cartesian blowup from the dedup
    stages, no Python eval nodes anywhere."""
    plan = _plan(spark, "dataset_release_pipeline")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_knn_label_propagation_blocked_no_cartesian(spark):
    """The bipartite k-NN must ride the blocked-GEMM equi-join (Arrow
    stage is the design), never a cartesian/nested-loop pair blowup; the
    vote join and truth join are plain equi-joins."""
    plan = _plan(spark, "knn_label_propagation")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_embedding_covariance_jvm_side_partial_aggs(spark):
    """The dim-pair moment rollup must stay in codegen (posexplode +
    self-equi-join on vec_id + decimal aggregates): no Python eval
    nodes, map-side partial aggregation before the (i,j) shuffle."""
    plan = _plan(spark, "embedding_covariance")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_bloom_prune_bitset_broadcasts(spark):
    """The ~8 KB bitset must reach the probe side as a broadcast (the
    operator's whole point: the filter rides to the data; the big side
    never shuffles for the probe), and nothing may cartesian."""
    plan = _plan(spark, "bloom_join_prune_stats")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_quantile_normalize_equi_join_on_target_rank(spark):
    """The curve lookup must be an equi-join on the integer target rank
    (with a legitimate 1-row total broadcast); no cartesian, no Python."""
    plan = _plan(spark, "quality_quantile_normalize")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pps_sample_broadcasts_stratum_totals(spark):
    """Per-stratum totals join the cumulative-sum side as a broadcast
    hash join; the only nested-loop joins are the bucketed-cumsum
    helper's 1-row percentile-cuts attaches (a keyless broadcast of a
    grouping-less aggregate — a map-side attach, the same shape the
    zorder gates accept; Catalyst constant-folds any synthetic equi key
    back to BNLJ, so BHJ is not achievable for a 1-row attach). The
    registry-wide gate proves every keyless join build side is a
    grouping-less aggregate, so this is bounded by construction."""
    plan = _plan(spark, "pps_sample_by_source")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # the two cuts attaches


def test_zorder_layout_stats_broadcast_bounds_single_agg_shuffle(spark):
    """The min/max bounds frame must reach the rank computation as a
    1-row broadcast (never a shuffled or nested-loop pair), the Morton
    interleave must stay in codegen (pure bitwise — no Python eval
    node), and the bucket rollup must partial-aggregate map-side."""
    plan = _plan(spark, "zorder_layout_stats")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_zorder_pruning_ratio_no_python_no_cartesian(spark):
    """Four layout/predicate branches, each a 64-row file-stats rollup:
    everything bitwise/aggregate JVM-side, no Python, no cartesian
    beyond the legitimate 1-row bounds broadcast."""
    plan = _plan(spark, "zorder_pruning_ratio")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_collocation_lift_no_cartesian_no_python(spark):
    """The PMI-lift query's only cross join must be the 1-row totals
    broadcast; the count attaches are equi-joins and everything stays
    JVM-side."""
    plan = _plan(spark, "collocation_lift_scores")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k never global-sorts


def test_er_sorted_neighborhood_rank_join_is_equi(spark):
    """The windowed blocking must compile to an equi-join on the global
    rank (rank-arithmetic), never an inequality/nested-loop join, and
    stay JVM-side."""
    plan = _plan(spark, "er_sorted_neighborhood")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_xcorr_sufficient_stats_single_hourly_agg(spark):
    """The lagged correlation aggregates hourly counts once, lag-explodes
    the tiny hourly table, equi-joins on the integer hour, and reduces to
    sufficient statistics — no cartesian, no Python, partial aggs on."""
    plan = _plan(spark, "xcorr_event_types")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_dup_graph_common_neighbors_equi_joins_only(spark):
    """Each node's neighbour list must reach both ends of an edge of the
    staged pair parquet through equi-joins — no cartesian, no Python."""
    plan = _plan(spark, "dup_graph_common_neighbors")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_holt_series_build_is_partial_agg(spark):
    """The Holt query's series build must partial-aggregate (map-side
    combine) before the per-key recurrence; the only Python node is the
    Arrow applyInPandas recurrence itself."""
    plan = _plan(spark, "holt_linear_event_trend")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time Python forbidden
    assert "FlatMapGroupsInPandas" in plan  # the Arrow recurrence node
    assert plan.count("HashAggregate") >= 2


def test_join_fanout_hotspots_counts_before_join(spark):
    """The skew diagnostic must reduce both sides to (key,count) BEFORE
    joining (aggregate below the join) and top-k via TakeOrdered."""
    plan = _plan(spark, "join_fanout_hotspots")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final on both sides


def test_kmeans_assignment_is_shuffle_free_broadcast_fold(spark):
    """Lloyd assignment must be the zero-shuffle form: ONE single-row
    broadcast of the k centroid vectors (a BroadcastNestedLoopJoin
    against a constant-size one-row frame — the bounds-broadcast
    pattern) feeding a per-row array_min over decimal folds. The only
    hash exchange in the visible plan is the (cluster, dim) centroid
    recompute; the fit stays JVM-side."""
    plan = _plan(spark, "kmeans_embedding_clusters")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # one-row centroid attach
    assert plan.count("Exchange hashpartitioning") <= 1  # centroid recompute only
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_session_path_trigrams_single_window_exchange(spark):
    """All three windows (sessionize lag, running sum, path leads) must
    share ONE user_id exchange — hashpartitioning(user_id) satisfies the
    (user_id, session_id) clustering, so the path window may not add a
    second shuffle. Total exchanges: the shared window one + the final
    trigram aggregate."""
    import re

    plan = _plan(spark, "session_path_trigrams")
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    window_exchanges = [k for k in keys if "user_id" in k and "step" not in k]
    assert len(window_exchanges) == 1, keys
    assert "CartesianProduct" not in plan


def test_rollup_retraction_merge_shuffles_on_rollup_keys_only(spark):
    """The maintenance path must stay delta-shaped: every exchange is on
    the rollup key (window_start/event_type) or an AQE coalesce of it —
    no row-level join back to events, no cartesian, no Python."""
    import re

    plan = _plan(spark, "rollup_retraction_merge")
    assert "CartesianProduct" not in plan and "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        # the hour bucket appears pre-aliased as _groupingexpression
        assert ("window_start" in k or "_groupingexpression" in k) and "event_type" in k, k


def test_text_quality_evaluates_tokenizer_once(spark):
    """n_words feeds five output positions; `when`-branch references are
    excluded from codegen subexpression elimination, so without the
    two-step projection in operators/textops.quality_score the regex
    split re-runs at every reference (measured 0.82 s vs 0.29 s at
    sf0.1; the r6 regex-trim briefly reintroduced the class as 2×
    regexp_replace per row). No Project line may evaluate the regex
    trim or the split more than once — each is pinned in its own
    projection stage, referenced downstream only as an attribute."""
    plan = _plan(spark, "text_quality_scores")
    rr_counts = [ln.count("regexp_replace(") for ln in plan.splitlines()]
    sp_counts = [ln.count("split(") for ln in plan.splitlines()]
    assert max(rr_counts) == 1, max(rr_counts)
    assert max(sp_counts) == 1, max(sp_counts)
    assert sum(1 for c in rr_counts if c) >= 1 and sum(1 for c in sp_counts if c) >= 1


def test_interpolate_single_window_exchange_no_join(spark):
    """Linear interpolation must come from IGNORE-NULLS windows over ONE
    user_id exchange — never a self-join against the observations."""
    import re

    plan = _plan(spark, "interpolate_user_values")
    assert plan.count("FileScan parquet") == 1
    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    assert keys == {"user_id"}, keys
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_vocab_growth_is_first_occurrence_not_prefix_rescans(spark):
    """The Heaps curve must be built from the first-occurrence identity
    (two narrow scans + a word-keyed aggregate), not ten growing-prefix
    distinct scans."""
    plan = _plan(spark, "vocab_growth_curve")
    assert plan.count("FileScan parquet") == 2
    assert "CartesianProduct" not in plan


def test_band_planning_computes_pairs_once(spark):
    """All three config expectations are columns of ONE aggregate pass,
    unpivoted by exploding per-config structs — a single linear plan. A
    union of per-config selects would re-execute the corpus-scale pair
    computation per branch (measured: 3× the FileScans; exchange reuse
    does not reach through the operator's cached-set scans), so the
    executed plan must contain NO Union at all."""
    df = REGISTRY["minhash_band_planning"].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Union" not in plan


def test_label_centroid_similarity_single_corpus_shuffle(spark):
    """The corpus-scale pass is the (label, dim) centroid aggregate; the
    pair join runs on the dimension-sized centroid table."""
    plan = _plan(spark, "label_centroid_similarity")
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_table_checksum_single_scan_single_exchange(spark):
    """Anti-entropy checksums: one scan, one bucket-keyed aggregate —
    the primitive must stay scale-free."""
    plan = _plan(spark, "table_checksum_buckets")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Join" not in plan


def test_dq_report_rules_share_one_scan(spark):
    """dq_report's per-rule fan-out must stay an explode over the single
    conditional-aggregate row: with the union-of-selects form each rule
    branch re-scanned the fact table (14 FileScans for this report; the
    explode form executes 8 — the rules aggregate, the referential
    totals, and the anti-join sides)."""
    df = REGISTRY["data_quality_report"].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") <= 8, plan.count("FileScan parquet")


def test_zorder_pruning_single_pass_no_union(spark):
    """Both layouts and both predicates must come from ONE pass over the
    ranked frame (explode into (layout, file) memberships + one grouped
    aggregate + a predicate explode) — the union form re-executed the
    rank/Z-interleave lineage per branch."""
    df = REGISTRY["zorder_pruning_ratio"].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert plan.count("FileScan parquet") <= 4


# --------------------------------------------------------------------------
# Registry-wide partitionless-window gate (r5 VERDICT item 3): a Window
# with no PARTITION BY moves every input row to ONE task — a global ORDER
# BY range-partitions, a global window does not — so over a fact-sized
# frame it is a 100×-scale-up killer. Every query plan must be free of
# partitionless Window nodes unless the windowed frame is bounded BY
# CONSTRUCTION (not merely "dimension-sized today").
#
# Allowlist rationale (each windowed frame and its hard bound):
#   log_histogram_quantiles — (decimal-magnitude, two-lead-digit) buckets:
#       ≤ 19 magnitudes × 90 lead pairs by the digit arithmetic itself.
#   nation_market_share    — the 25-row TPC-H nation enum aggregate.
#   quality_retention_curve — fixed 0.05-wide stopword-ratio bands: ≤ 21.
#   source_token_gini      — the per-source rollup; sources are a fixed
#       catalog enum in this data model (cardinality of a config list).
#   vocab_growth_curve     — the 10-row md5 ingest-batch table (constant).
# Customer/document/candidate rollups do NOT qualify (they scale with the
# business) — rfm_segments, pareto_customer_revenue, rrf_hybrid_search and
# quality_quantile_normalize were rewritten onto the distributed
# bucketed-rank/cumsum helpers for exactly that reason.
_PARTITIONLESS_WINDOW_ALLOWLIST = {
    "log_histogram_quantiles",
    "nation_market_share",
    "quality_retention_curve",
    "source_token_gini",
    "vocab_growth_curve",
}


def _walk_logical(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk_logical(ch.apply(i))


def _partitionless_windows(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan()
    return sum(
        1
        for n in _walk_logical(plan)
        if n.getClass().getSimpleName() in ("Window", "WindowGroupLimit")
        and n.partitionSpec().isEmpty()
    )


# The r6 blind spot, made structural (r6 VERDICT item 4): a Window
# PARTITIONED by a LOW-cardinality key over a fact-sized frame funnels
# each group through one task — same trap as the partitionless window,
# per group. Enforced for every Window whose input subtree contains no
# Aggregate (windows over aggregated frames are bounded by the rollup
# they sit on — the mad_outlier_summary / length_trim histogram
# pattern). Such a window must satisfy ONE of:
#   1. a partition key that scales WITH the data (the per-entity /
#      bucket keys below — each group stays O(rows/keys) as data grows);
#   2. compile to WindowGroupLimit (per-group top-k: every input
#      partition forwards only k rows per group);
#   3. a documented bounded-by-construction allowlist entry.
_UNAGG_WINDOW_SCALE_KEYS = {
    # Per-entity keys: cardinality grows linearly with the data.
    "user_id",  # event stream actors
    "_id",  # document ids (staging frames)
    "doc_id",  # document ids
    "qid",  # per-query candidate lists (kNN / hard-negative mining)
    "o_orderkey",  # order ids
    "o_custkey",  # customer ids
    "component",  # duplicate-graph component ids (~#docs)
    "session_id",  # sessionized event streams
    "hour_start",  # time buckets: grow with the covered time span, and
    # each group is one hour of events — bounded by arrival rate
    # (watermark-style bound), not by the corpus
    # The distributed-rank/cumsum helpers' percentile-bucket key:
    # ~rows/n_buckets per group by construction of the cuts; n_buckets
    # is the explicit parallelism knob (operators/datasetops.py).
    "_bkt",
}
# name -> (frozen partition-key tuple, rationale). Keys are pinned so a
# rewrite that changes the window shape makes the entry STALE instead of
# silently re-waiving the new shape.
_UNAGG_WINDOW_ALLOWLIST = {
    "asof_latest_order": (
        ("_k",),
        "asof_join's union-merge window keys on _k = the join key, here "
        "o_custkey/user_id — a per-entity scale key under an internal "
        "alias. Unaggregated since r12: the right side feeds raw orders "
        "(the payload-struct tie-break reproduces max(o_orderkey) "
        "without the pre-aggregate's exchange)",
    ),
    "corpus_shuffle_order": (
        ("bucket",),
        "shuffle_order's own md5 bucket: uniform hash → ~rows/n_buckets "
        "per group; n_buckets is the documented parallelism knob",
    ),
    "window_function_suite": (
        ("c_mktsegment", "c_nationkey"),
        "window-function breadth demo over the (segment, nation) "
        "composite enum (~125 groups, documented in its docstring as "
        "the scale lever); lag/lead need physical neighbor rows, which "
        "the bucket decomposition does not preserve",
    ),
    "streaming_heavy_hitters": (
        ("shard",),
        "window input is the emitted Misra-Gries summary stream — "
        "O(capacity × shards × batches) rows by construction of the "
        "bounded stateful operator, not fact-sized",
    ),
}


def _attr_names(expr) -> set[str]:
    """Attribute names referenced by a Catalyst expression (via the
    `name#id` print form)."""
    import re

    return set(re.findall(r"(\w+)#\d+", expr.toString()))


def _unagg_low_card_windows(df) -> list[list[str]]:
    """Partition-key sets of Window nodes over UNAGGREGATED frames that
    are neither scale-keyed nor individually top-k-bounded. The
    group-limit waiver is PER WINDOW, not per query (ADVICE r7):
    InferWindowGroupLimit inserts the WindowGroupLimit node as the
    Window's direct child, so THIS window is top-k-bounded iff its own
    child is one — a group-limited window elsewhere in the plan must
    not waive this one. (test_topk_windows_compile_to_group_limit
    separately pins the physical partial+final pair for the top-k
    set.)"""
    plan = df._jdf.queryExecution().optimizedPlan()
    out = []
    for node in _walk_logical(plan):
        if node.getClass().getSimpleName() != "Window":
            continue
        if any(
            c.getClass().getSimpleName() == "Aggregate"
            for c in _walk_logical(node)
        ):
            continue
        ps = node.partitionSpec()
        keys = set()
        for i in range(ps.size()):
            keys |= _attr_names(ps.apply(i))
        if keys & _UNAGG_WINDOW_SCALE_KEYS:
            continue
        child = node.children().apply(0)
        if child.getClass().getSimpleName() == "WindowGroupLimit":
            continue
        out.append(sorted(keys))
    return out


def test_unagg_window_gate_is_per_window(spark):
    """A group-limited window must not waive a sibling low-cardinality
    window in the same plan (the r7 ADVICE weakening): a plan holding
    BOTH a top-k-rewritten window and a plain low-card-key window must
    still flag the plain one."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", i % 3, i) for i in range(20)], "seg string, sub int, v long"
    )
    topk = F.row_number().over(Window.partitionBy("seg").orderBy("v"))
    plain = F.sum("v").over(Window.partitionBy("seg").orderBy("v"))
    mixed = (
        df.withColumn("rn", topk)
        .filter(F.col("rn") <= 2)
        .withColumn("running", plain)
    )
    # Sanity: the top-k window did get its per-window WindowGroupLimit.
    plan = mixed._jdf.queryExecution().optimizedPlan().toString()
    assert "windowgrouplimit" in plan.lower()
    # The plain running-sum window is NOT waived by it.
    assert _unagg_low_card_windows(mixed) == [["seg"]]


def test_registry_wide_plan_invariants(spark):
    """ONE planning pass over every registered query enforcing four
    permanent invariants:

    1. No partitionless Window nodes (optimized plan) outside the
       bounded-by-construction allowlist above — with staleness
       detection so the allowlist cannot rot into a blanket waiver.
    2. Every Window over an UNAGGREGATED frame partitions on a
       scale-with-data key, compiles to WindowGroupLimit, or carries a
       documented allowlist entry (key tuple pinned; staleness
       detected) — the low-cardinality-key funnel gate.
    3. No CartesianProduct anywhere (physical plan) — the documented
       O(n²) oracle baselines compile to broadcast nested-loop joins of
       a bounded side, never an unconstrained cartesian. Empty
       allowlist: verified zero hits across all 245 plans (r6).
    4. No row-at-a-time Python UDF nodes (BatchEvalPython) — the
       engine's Python boundary is Arrow-batched mapInPandas /
       applyInPandas only. Empty allowlist, same verification.
    """
    window_violations = {}
    stale = []
    unagg_violations = {}
    unagg_seen = {}
    cartesian = []
    row_udf = []
    for name, spec in REGISTRY.items():
        df = spec.fn(spark, SF)
        n = _partitionless_windows(df)
        if n and name not in _PARTITIONLESS_WINDOW_ALLOWLIST:
            window_violations[name] = n
        if not n and name in _PARTITIONLESS_WINDOW_ALLOWLIST:
            stale.append(name)
        physical = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in physical:
            cartesian.append(name)
        if "BatchEvalPython" in physical:
            row_udf.append(name)
        # Invariant 2: low-cardinality keys over unaggregated frames,
        # group-limit waiver applied per WINDOW (ADVICE r7).
        for keys in _unagg_low_card_windows(df):
            allowed = _UNAGG_WINDOW_ALLOWLIST.get(name)
            if allowed and set(keys) == set(allowed[0]):
                unagg_seen[name] = True
                continue
            unagg_violations.setdefault(name, []).append(keys)
    unagg_stale = sorted(set(_UNAGG_WINDOW_ALLOWLIST) - set(unagg_seen))
    assert not window_violations, (
        f"partitionless windows over non-allowlisted frames: {window_violations}"
    )
    assert not stale, f"stale allowlist entries: {stale}"
    assert not unagg_violations, (
        "windows over unaggregated frames with unrecognized low-cardinality "
        f"partition keys: {unagg_violations}"
    )
    assert not unagg_stale, f"stale unagg-window allowlist entries: {unagg_stale}"
    assert not cartesian, f"CartesianProduct in: {cartesian}"
    assert not row_udf, f"row-at-a-time Python UDFs in: {row_udf}"


def test_topk_windows_compile_to_group_limit(spark):
    """Per-group top-k rank filters must trigger WindowGroupLimitExec
    (partial+final), so each input partition forwards only its own k
    rows per group and a low-cardinality group key never funnels the
    full group through one task. A rank-EQUALITY predicate alone
    defeats the rewrite (the r6 kmv_distinct_ngrams finding — filter
    rank <= k first, then pick rank == k)."""
    for q in ("window_rank_events", "kmv_distinct_ngrams", "kmv_source_similarity"):
        plan = _plan(spark, q)
        assert plan.count("WindowGroupLimit") >= 2, q


def _windows_over_unaggregated(df):
    """Window nodes in the optimized plan whose input subtree contains
    NO Aggregate — i.e. windows running over raw (fact-sized) rows."""
    plan = df._jdf.queryExecution().optimizedPlan()
    bad = 0
    for n in _walk_logical(plan):
        if n.getClass().getSimpleName() != "Window":
            continue
        has_agg = any(
            c.getClass().getSimpleName() == "Aggregate"
            for c in _walk_logical(n)
        )
        if not has_agg:
            bad += 1
    return bad


def test_mad_medians_select_from_value_histograms(spark):
    """mad_outlier_summary's exact medians must come from domain-bounded
    value histograms: every Window in its plan runs over an AGGREGATED
    (histogram) frame, never the raw per-type value stream (the
    low-cardinality-partition-key variant of the global-window trap)."""
    df = REGISTRY["mad_outlier_summary"].fn(spark, SF)
    assert _windows_over_unaggregated(df) == 0


def test_accuracy_report_audit_inputs_are_size_pinned(spark):
    """The round-9 posture rule, as a gate: an accuracy report's audit
    input (probe panel, sample universe, probe batch) must be pinned to
    a FIXED size, or the report itself becomes the scale-killer it
    exists to guard against — all three reports below originally
    admitted audit inputs proportional to the corpus and went
    quadratic on the replica lakes (46 s/705 s/576 s; BASELINE.md
    round 9 session 2). The pin compiles to a TakeOrderedAndProject
    (orderBy id + limit) in the physical plan; its disappearance means
    someone removed the cap."""
    for name in (
        "quantized_topk_agreement",
        "semdedup_accuracy_report",
        "streaming_dedup_recall_report",
    ):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, (
            f"{name}: audit-input size pin (orderBy+limit) missing from plan"
        )


def test_gemm_block_shuffles_ship_source_floats(spark):
    """r12: the blocked-GEMM operators must NOT widen embeddings to
    array<double> before the block replication — the replicated frame is
    the engine's most-amplified shuffle (~(n_blocks+1)/2x per row), so it
    ships the source array<float> and the value-exact float64 widening
    happens in numpy after the stack. A `cast(... as array<double>)`
    reappearing below the Arrow stage doubles those shuffle bytes back."""
    for name in ("embedding_dup_pairs_blocked", "knn_label_propagation"):
        plan = _plan(spark, name)
        assert "FlatMapGroupsInPandas" in plan, f"{name}: Arrow GEMM stage missing"
        assert "as array<double>" not in plan, (
            f"{name}: embeddings widened to double before the block shuffle"
        )


def test_bm25_corpus_tokenized_once(spark):
    """r12: the corpus-stats aggregate of the BM25 frame must reuse the
    per-doc TF exchange instead of re-tokenizing the corpus. The two
    consumer subtrees are identical only because _bm25_scored_frame
    filters null doc_ids BEFORE tokenizing (the embeddings equi-join in
    hybrid/rrf pushes IsNotNull into one branch otherwise); AQE then
    dedupes the exchange at runtime — so assert on the EXECUTED plan."""
    df = REGISTRY["bm25_search"].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, (
        "corpus-stats branch rebuilt the per-doc TF exchange — "
        "the corpus is being tokenized twice"
    )


@pytest.mark.parametrize("name", ["hybrid_search", "rrf_hybrid_search"])
def test_search_fusion_reuses_per_doc_tf_exchange(spark, name):
    """hybrid/rrf fan the BM25 frame out to several consumers with no
    materialization; recompute is cheap only because AQE reuses the
    per-doc TF shuffle (keyed on doc_id) across them at runtime. Pin
    that on the EXECUTED plan, as test_bm25_corpus_tokenized_once does
    for bm25_search."""
    df = REGISTRY[name].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    reused = [
        line for line in plan.splitlines()
        if "ReusedExchange" in line and "Exchange hashpartitioning(doc_id" in line
    ]
    assert reused, f"{name}: per-doc TF exchange rebuilt for a second consumer"
