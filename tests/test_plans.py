"""Physical-plan shape assertions: the 100 TB posture checks (SURVEY.md §4).
A correct-but-unoptimized plan is a failure here even though results match."""

from pyspark.sql import functions as F

from dataselector_spark.catalog import load_table
from dataselector_spark.plans import (
    formatted_plan,
    has_broadcast_join,
    has_take_ordered,
    physical_plan,
    pushed_filters,
    read_schemas,
    shuffle_count,
)
from dataselector_spark.suite import QUERIES

SF = "/root/testdata/sf0.01"


def test_range_filter_pushdown(spark):
    """A5's conjunctive range predicate must reach the parquet scan."""
    df = QUERIES["a05_range_filter"].fn(spark, SF)
    filters = " ".join(pushed_filters(df))
    assert "value" in filters, filters
    # ts is derived (timestamp_micros over raw ns) so only value can push;
    # the raw scan must still prune columns:
    schemas = read_schemas(df)
    assert schemas and "props" not in schemas[0], schemas


def test_column_pruning_q1(spark):
    """TPC-H Q1 touches 7 of 11 lineitem columns — scan must not read the rest."""
    df = QUERIES["q1_pricing_summary"].fn(spark, SF)
    (schema,) = read_schemas(df)
    assert "l_orderkey" not in schema and "l_partkey" not in schema, schema
    assert "l_quantity" in schema and "l_shipdate" in schema, schema


def test_dim_join_broadcasts(spark):
    """Nation (25 rows) must broadcast, never shuffle the fact side for it."""
    df = QUERIES["b02_join_revenue_per_nation"].fn(spark, SF)
    assert has_broadcast_join(df)


def test_topk_plans_take_ordered(spark):
    """Global top-k must be TakeOrderedAndProject (heap), not a full sort."""
    df = QUERIES["b09_topk_global"].fn(spark, SF)
    assert has_take_ordered(df)


def test_topk_cosine_plans_take_ordered(spark):
    df = QUERIES["b14_topk_cosine"].fn(spark, SF)
    assert has_take_ordered(df)


def test_asof_join_single_shuffle(spark):
    """The merge-asof encoding must cost exactly one hash shuffle of the
    unioned stream (plus none for the window sort, which reuses it)."""
    e = load_table(spark, SF, "events")
    from dataselector_spark.operators.asof import asof_join

    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("prev_id")
    )
    out = asof_join(e.select("event_id", "user_id", "ts"), errors, on="user_id")
    assert shuffle_count(out) == 1, shuffle_count(out)


def test_selection_semi_join_broadcasts(spark):
    """A16 re-apply must broadcast the (small) selection set."""
    df = QUERIES["a16_semi_join_apply"].fn(spark, SF)
    assert has_broadcast_join(df)


def _render_inputs(spark):
    """A render's two sides as the interactive session builds them: a
    filtered view of one compound, and the stored selections materialized
    with `localCheckpoint` (a statistics-less `Scan ExistingRDD`)."""
    from dataselector_spark.functions.keys import minute_key
    from dataselector_spark.operators.selection import COMPOUND, KEY, select_insert

    e = load_table(spark, SF, "events")
    hits = e.filter(F.col("value") > 150).select(
        minute_key("ts").alias(KEY), F.col("event_type").alias(COMPOUND)
    )
    empty = spark.createDataFrame([], f"{KEY} string, {COMPOUND} string")
    sel = select_insert(empty, hits).localCheckpoint()
    view = e.filter(
        (F.col("event_type") == "error") & F.col("value").between(10, 160)
    ).withColumn(KEY, minute_key("ts"))
    return view, sel.filter(F.col(COMPOUND) == "error"), sel


def test_selection_apply_and_anti_are_shuffle_free(spark):
    """Apply and anti broadcast the selection keys as they are: no shuffle,
    and no runtime bloom-filter subquery (a `distinct` on the checkpointed
    build side made Catalyst inject one, re-scanning the data per render)."""
    from dataselector_spark.operators.selection import KEY, anti_selections, apply_selections

    view, active, _ = _render_inputs(spark)
    for op in (apply_selections, anti_selections):
        df = op(view, active, KEY)
        plan = physical_plan(df)
        assert plan.count("BroadcastExchange") == 1, plan
        assert shuffle_count(df) == 0, plan
        assert "might_contain" not in plan and "bloom_filter_agg" not in plan, plan


def test_selection_toggle_single_shuffle(spark):
    """Toggle is one tagged aggregation: exactly one shuffle."""
    from dataselector_spark.operators.selection import select_toggle

    _, active, sel = _render_inputs(spark)
    df = select_toggle(sel, active)
    assert shuffle_count(df) == 1, physical_plan(df)


def test_q5_dims_broadcast_and_prune(spark):
    """Q5's three dims must broadcast; lineitem scan must not read l_tax or
    l_shipdate (untouched by Q5)."""
    df = QUERIES["q5_local_supplier_volume"].fn(spark, SF)
    assert has_broadcast_join(df)
    schemas = read_schemas(df)
    li = [s for s in schemas if "l_extendedprice" in s]
    assert li and "l_tax" not in li[0] and "l_shipdate" not in li[0], schemas


def test_q6_full_pushdown(spark):
    """Q6's three predicates must all reach the parquet scan."""
    df = QUERIES["q6_forecast_revenue"].fn(spark, SF)
    filters = " ".join(pushed_filters(df))
    assert "l_shipdate" in filters and "l_discount" in filters and "l_quantity" in filters, filters


def test_q3_plans_take_ordered(spark):
    """Q3's top-10 must be TakeOrderedAndProject, not a global sort."""
    df = QUERIES["q3_shipping_priority"].fn(spark, SF)
    assert has_take_ordered(df)


def test_grouping_sets_single_expand(spark):
    """GROUPING SETS must plan one Expand + one aggregate, not N scans."""
    df = QUERIES["b07_grouping_sets"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") >= 1
    assert len(read_schemas(df)) == 1  # single scan of lineitem


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """SCALE.md's bucketing claim, executed: co-bucketed fact tables join
    with ZERO exchanges (the storage layout replaces the shuffle). Broadcast
    is disabled for the assertion so the zero can't come from a broadcast."""
    l = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_orderpriority")
    l.write.mode("overwrite").option("path", str(tmp_path / "lb")).bucketBy(
        8, "l_orderkey"
    ).sortBy("l_orderkey").saveAsTable("lineitem_bucketed")
    o.write.mode("overwrite").option("path", str(tmp_path / "ob")).bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").saveAsTable("orders_bucketed")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        lb, ob = spark.table("lineitem_bucketed"), spark.table("orders_bucketed")
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        # one exchange for the groupBy is allowed; the JOIN itself adds none
        n_join_side_shuffles = shuffle_count(
            lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        )
        assert n_join_side_shuffles == 0, n_join_side_shuffles
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")


def test_sessionize_single_shuffle(spark):
    """Both window passes AND the final (user_id, sid) groupBy must reuse
    the one hash partitioning on user_id (a superset grouping key is
    satisfied by the coarser partitioning)."""
    df = QUERIES["b08_sessionize"].fn(spark, SF)
    assert shuffle_count(df) == 1, shuffle_count(df)


def test_q21_single_lineitem_scan_no_self_join(spark):
    """The Q21 window rewrite must scan lineitem ONCE (the EXISTS/NOT
    EXISTS formulation scans it three times) and never fall back to a
    nested-loop join for the non-equi conditions it no longer has."""
    from dataselector_spark.plans import physical_plan

    df = QUERIES["q21_waiting_supplier"].fn(spark, SF)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q2_lineitem_single_shuffle_dims_broadcast(spark):
    """Q2's fact table shuffles exactly once (into the offers aggregation);
    every dim and the correlated-min window ride broadcasts / the existing
    partitioning."""
    from dataselector_spark.plans import has_broadcast_join, physical_plan

    df = QUERIES["q2_min_cost_supplier"].fn(spark, SF)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan
    assert has_broadcast_join(df)
    assert "BroadcastNestedLoopJoin" not in plan


def test_changelog_compaction_single_shuffle(spark):
    """CDC compaction is one hash shuffle on the key; the row_number sort
    happens inside the same exchange."""
    from dataselector_spark.plans import shuffle_count

    df = QUERIES["b23_apply_changelog"].fn(spark, SF)
    assert shuffle_count(df) == 1, shuffle_count(df)


def test_merge_upsert_no_nested_loop(spark):
    from dataselector_spark.plans import physical_plan

    df = QUERIES["b23_merge_upsert"].fn(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_eval_shingles(spark):
    """The eval shingle set is benchmark-sized and must broadcast; the train
    side must not shuffle for the membership join."""
    df = QUERIES["b15_decontaminate"].fn(spark, SF)
    assert has_broadcast_join(df)


def test_chunk_documents_is_map_only(spark):
    """Sequence chunking is a scan + explode — any shuffle is a bug."""
    df = QUERIES["b15_chunk_documents"].fn(spark, SF)
    assert shuffle_count(df) == 0


def test_train_val_split_is_map_only(spark):
    df = QUERIES["b22_train_val_split"].fn(spark, SF)
    assert shuffle_count(df) == 0


def test_global_shuffle_is_one_exchange_no_global_sort(spark):
    """Sharded deterministic shuffle: exactly one hash exchange (into
    shards), and no single-partition global window."""
    df = QUERIES["b22_global_shuffle"].fn(spark, SF)
    assert shuffle_count(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_time_weighted_avg_single_shuffle(spark):
    """Window and aggregation share the (series, hour) key — one exchange."""
    df = QUERIES["b25_time_weighted_avg"].fn(spark, SF)
    assert shuffle_count(df) == 1


def test_winsorize_fact_never_moves(spark):
    """One shuffle for the tiny percentile aggregation; the fact side joins
    the broadcast bands without an exchange."""
    df = QUERIES["b22_winsorize"].fn(spark, SF)
    assert shuffle_count(df) == 1
    assert has_broadcast_join(df)


def test_mixture_upsample_is_map_only(spark):
    df = QUERIES["b22_mixture_upsample"].fn(spark, SF)
    assert shuffle_count(df) == 0


def test_repetition_score_is_map_only(spark):
    df = QUERIES["b15_repetition_score"].fn(spark, SF)
    assert shuffle_count(df) == 0


def test_rarity_score_two_shuffles(spark):
    """Vocab build + per-doc score: exactly two exchanges, no more (the
    token-vocab join itself adds none — AQE broadcasts it at runtime)."""
    df = QUERIES["b15_rarity_score"].fn(spark, SF)
    assert shuffle_count(df) == 2


def test_m4_downsample_two_shuffles_broadcast_extent(spark):
    df = QUERIES["b25_m4_downsample"].fn(spark, SF)
    assert shuffle_count(df) == 2
    assert has_broadcast_join(df)


def test_transition_bigrams_two_shuffles(spark):
    """One window shuffle on user_id + one matrix aggregation."""
    df = QUERIES["b26_transition_bigrams"].fn(spark, SF)
    assert shuffle_count(df) == 2


def test_retention_cohorts_bounded_shuffles(spark):
    df = QUERIES["b26_retention_cohorts"].fn(spark, SF)
    assert shuffle_count(df) <= 3


def test_funnel_single_shuffle(spark):
    """All three stage times are nested conditional window-mins over one
    user partitioning; the dedup aggregation reuses it — ONE exchange total
    (the aggregation-join-per-stage encoding costs 5)."""
    df = QUERIES["b26_funnel"].fn(spark, SF)
    assert shuffle_count(df) == 1


def test_gap_fill_bounded_shuffles(spark):
    """Minute aggregation + extent; the two interpolation windows reuse the
    series partitioning instead of re-exchanging."""
    df = QUERIES["b25_gap_fill_interpolate"].fn(spark, SF)
    assert shuffle_count(df) <= 3


def test_drift_ks_avoids_single_partition_data_window(spark):
    """The KS cumulative sums must range-partition the spine (parallel local
    windows + broadcast offsets), never a SinglePartition window over the
    data — only the num_partitions-row offsets relation may be single."""
    df = QUERIES["b22_drift_ks"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan[:2000]


def test_incremental_dedup_single_batch_shuffle(spark):
    """Both stages (first-by-key window, anti-join vs existing hashes) key
    on the same md5 column: the batch side must shuffle exactly once and
    carry a WindowGroupLimit (rank-limit pushdown) — no second exchange,
    no forced broadcast hint (AQE may still choose broadcast at runtime)."""
    df = QUERIES["b13_incremental_dedup"].fn(spark, SF)
    assert shuffle_count(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_stratified_sample_hash_is_map_only(spark):
    """The deterministic Knuth-gate sample is a pure scan-side filter —
    zero exchanges anywhere in the plan."""
    df = QUERIES["b22_stratified_sample_hash"].fn(spark, SF)
    assert shuffle_count(df) == 0


def test_dedup_pipeline_verified_no_nested_loop(spark):
    """Banding and verification are all equi-joins on narrow keys; a
    CartesianProduct or nested-loop join anywhere means the candidate
    pruning degenerated to all-pairs."""
    df = QUERIES["b13_dedup_pipeline_verified"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_no_shuffle(spark):
    """b02_bucketed_join's whole point: both sides bucketed 8-way on the
    join key at write time, so the join runs bucket-to-bucket with ZERO
    shuffle exchange below it — the only exchange in the whole plan is the
    final groupBy's. At sf0.01 the small side fits the broadcast threshold
    (also shuffle-free), so the big-data regime is pinned by disabling
    broadcast and requiring SortMergeJoin straight over bucketed scans."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["b02_bucketed_join"].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    join_pos = plan.find("SortMergeJoin")
    assert join_pos >= 0, plan[:2000]
    assert "Exchange" not in plan[join_pos:], plan[join_pos:][:2000]
    assert "Bucketed: true" in plan, plan[:2000]
    # default regime (broadcast allowed) must be shuffle-free below the
    # aggregation too: one Exchange total
    df2 = QUERIES["b02_bucketed_join"].fn(spark, SF)
    assert shuffle_count(df2) == 1


def test_rolling_dau_bounded_shuffles(spark):
    """VERDICT r5 #8: day-user dedup + 7-day contribution explode + per-day
    aggregation must stay within three exchanges (dedup agg, re-agg after
    the explode, final sort) — no join, no window re-shuffle."""
    df = QUERIES["b26_rolling_dau"].fn(spark, SF)
    assert shuffle_count(df) <= 3, shuffle_count(df)


def test_table_profile_single_scan(spark):
    """VERDICT r5 #8: the whole-table profile must read the source ONCE
    (explode to cell level, one aggregation) — a per-column loop of scans is
    the anti-pattern it exists to avoid."""
    df = QUERIES["b22_table_profile"].fn(spark, SF)
    assert len(read_schemas(df)) == 1, read_schemas(df)
    assert shuffle_count(df) <= 2, shuffle_count(df)


def test_snapshot_diff_single_full_outer(spark):
    """VERDICT r5 #8: snapshot diff = exactly one full-outer join over the
    key — two scans, bounded exchanges, no second pass per change class."""
    df = QUERIES["b23_snapshot_diff"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FullOuter") == 1, plan[:2000]
    assert shuffle_count(df) <= 3, shuffle_count(df)


def test_interval_join_colocated_no_exchange_below_join(spark):
    """VERDICT r5 #7: with both facts written bucketed on the hour-bucket
    key, the interval join's bucket equi-join must be shuffle-free — the
    only exchange in the whole query is the final per-interval aggregation."""
    df = QUERIES["b04_interval_join_colocated"].fn(spark, SF)
    # the aggregation may add one exchange; the join itself must add none
    assert shuffle_count(df) <= 1, shuffle_count(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:2000]


def test_repetition_filter_bounded(spark):
    """Two-level (doc,word)->(doc) aggregation: single scan, two exchanges,
    map-side combine absorbing the corpus-sized explode."""
    df = QUERIES["b15_repetition_filter"].fn(spark, SF)
    assert len(read_schemas(df)) == 1
    assert shuffle_count(df) <= 2, shuffle_count(df)


def test_zorder_key_map_only(spark):
    """The z-order key is pure per-row bit arithmetic — no shuffle at all."""
    df = QUERIES["b22_zorder_key"].fn(spark, SF)
    assert shuffle_count(df) == 0, shuffle_count(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in plan  # whole-stage codegen — JVM-side, no Python boundary


def test_curation_pipeline_single_scan_single_shuffle(spark):
    """The end-to-end curation pipeline computes every per-doc signal in one
    map-only pass (higher-order functions, no explode/self-join); the dedup
    window is the ONLY exchange."""
    df = QUERIES["b24_curation_pipeline"].fn(spark, SF)
    assert len(read_schemas(df)) == 1, read_schemas(df)
    assert shuffle_count(df) == 1, shuffle_count(df)


def test_asof_join_nearest_two_shuffles_no_theta(spark):
    """direction='nearest' stays on the merge-asof plan: one shuffle for the
    right-side (key, ts) dedup + one for the unioned key sort — and never a
    theta-join pair blowup (no BroadcastNestedLoop/Cartesian)."""
    from dataselector_spark.operators.asof import asof_join_nearest

    e = load_table(spark, SF, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("near_id")
    )
    out = asof_join_nearest(e.select("event_id", "user_id", "ts"), errors, on="user_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert shuffle_count(out) <= 2, shuffle_count(out)


def test_scd2_single_shuffle(spark):
    """The SCD2 interval build is one window: exactly one hash exchange on
    the dimension key, no self-join (the naive min-later-version join plan
    is quadratic per hot key)."""
    df = QUERIES["b23_scd2_dimension"].fn(spark, SF)
    assert shuffle_count(df) == 1, shuffle_count(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:1500]


def test_editdist_neardup_equi_blocked(spark):
    """Edit-distance candidates come from an EQUI-join on the blocking key —
    a nested-loop/cartesian anywhere means blocking degenerated to
    all-pairs (broadcast hash join on the equi keys is fine)."""
    df = QUERIES["b13_editdist_neardup"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_zone_map_stats_partial_agg(spark):
    """Zone-map manifest = one partial-aggregatable pass: a single exchange
    with map-side combine (two HashAggregate levels around it)."""
    df = QUERIES["b22_zone_map_stats"].fn(spark, SF)
    assert shuffle_count(df) == 1, shuffle_count(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, plan[:1500]


def test_diversified_topk_take_ordered(spark):
    """The global stage of diversified top-k must be a bounded heap
    (TakeOrderedAndProject), never a total sort of the capped set."""
    df = QUERIES["b09_diversified_topk"].fn(spark, SF)
    assert has_take_ordered(df)


def test_cell_sample_single_shuffle(spark):
    """Exact-k per-cell sampling is one window on the cell key: one
    exchange, no join, integer-only ordering."""
    df = QUERIES["b22_cell_sample_exact_k"].fn(spark, SF)
    assert shuffle_count(df) == 1, shuffle_count(df)


def test_ann_recall_report_single_pass(spark):
    """The recall eval must broadcast the tiny query set against the corpus
    exactly ONCE (one BroadcastNestedLoopJoin for the all-pairs ground
    truth) and rank both ways on one qid shuffle — re-deriving the pair
    pass per aggregate would triple the dominant cost."""
    df = QUERIES["b14_ann_recall_report"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan[:2000]
    assert shuffle_count(df) <= 2, shuffle_count(df)


def test_scd2_lookup_merge_asof_plan(spark):
    """The point-in-time dimension lookup must stay on the merge-asof plan
    (one union shuffle + per-key sort) — never a theta/interval join pair
    blowup."""
    df = QUERIES["b23_scd2_lookup"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan[:1500]
    assert shuffle_count(df) <= 1, shuffle_count(df)


def test_partitioned_write_prunes_at_planning_time(spark):
    """The day-range predicate must become PartitionFilters on the scan —
    zero data files from non-matching day directories."""
    df = QUERIES["b01_partitioned_write_pruning"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "PartitionFilters: [" in plan, plan[:2000]
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "day" in m.group(1), m and m.group(1)


def test_pq_codes_map_only(spark):
    """PQ encode is pure per-row literal arithmetic — zero shuffles, inside
    whole-stage codegen."""
    df = QUERIES["b14_pq_codes"].fn(spark, SF)
    assert shuffle_count(df) == 0, shuffle_count(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in plan  # codegen span — no Python boundary


def test_pq_adc_topk_take_ordered(spark):
    """ADC search over PQ codes must be map-only arithmetic feeding a
    bounded top-k heap — no full sort, no shuffle beyond the heap merge."""
    df = QUERIES["b14_pq_adc_topk"].fn(spark, SF)
    assert has_take_ordered(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:1500]


def test_ivfpq_topk_plan(spark):
    """IVF+PQ end-to-end: map-side assignment + cell filter + ADC feeding a
    bounded heap — no joins, no full sort."""
    df = QUERIES["b14_ivfpq_topk"].fn(spark, SF)
    assert has_take_ordered(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:1500]


def test_footer_stats_agg_pushed(spark):
    """The whole-table COUNT/MIN/MAX must be answered from parquet footer
    statistics: PushedAggregation on a V2 BatchScan, zero data pages."""
    df = QUERIES["b06_footer_stats_agg"].fn(spark, SF)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation" in phys, phys[:2000]
    assert "BatchScan" in phys, phys[:2000]  # the V2 scan the pushdown needs


def test_dynamic_partition_pruning_subquery(spark):
    """The fact scan's PartitionFilters must carry a dynamicpruning#N
    subquery fed by the dim — runtime pruning, not a static scan of every
    day directory."""
    df = QUERIES["b02_dynamic_partition_pruning"].fn(spark, SF)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in phys, phys[:2000]


def test_heavy_hitters_partial_agg_and_broadcast_total(spark):
    """Exact heavy hitters: the token groupBy must partial-aggregate before
    its exchange (two HashAggregate levels), and the corpus-total
    denominator must arrive by broadcast — never a second shuffle or a
    driver collect."""
    df = QUERIES["b06_heavy_hitters_tokens"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, plan[:1500]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        plan[:1500]
    )
    assert shuffle_count(df) <= 2, shuffle_count(df)


def test_count_min_sketch_bounded_shuffle(spark):
    """CMS build: the cell groupBy partial-aggregates map-side, so the
    exchange carries at most depth*width=256 cells per task — and the
    estimate join must broadcast the 256-row sketch, not shuffle the
    candidates against it."""
    df = QUERIES["b06_count_min_sketch"].fn(spark, SF)
    assert has_broadcast_join(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, plan[:1500]
    assert "SortMergeJoin" not in plan, plan[:1500]


def test_ivf_recall_clustered_single_pass(spark):
    """Clustered-corpus recall eval: same contract as the isotropic report —
    ONE broadcast of the tiny query set against the corpus, both rankings
    on one qid shuffle."""
    df = QUERIES["b14_ivf_recall_clustered"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan[:2000]
    assert shuffle_count(df) <= 2, shuffle_count(df)


def test_bloom_filter_join_scoped_confs_restored(spark):
    """b02_bloom_filter_join tunes five session confs (bloom thresholds +
    broadcast disable) for its one execution; leaking them would silently
    degrade every LATER query in the session (broadcast joins globally
    off). Run the entry, then verify the session confs are back."""
    keys = [
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    before = {}
    for k in keys:
        try:
            before[k] = spark.conf.get(k)
        except Exception:
            before[k] = None
    QUERIES["b02_bloom_filter_join"].fn(spark, SF).count()
    for k in keys:
        try:
            after = spark.conf.get(k)
        except Exception:
            after = None
        assert after == before[k], (k, before[k], after)


def test_incremental_agg_merge_shape(spark):
    """Incremental rollup maintenance must be aggregate-merge all the way
    down — two partial-agg levels, a union, and NO join (a join-based
    merge would shuffle the state table by key twice)."""
    df = QUERIES["b23_incremental_agg"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:1500]
    assert plan.count("HashAggregate") >= 4, plan[:1500]  # 2 levels x 2 branches
    assert "Union" in plan, plan[:1500]


def test_ahash_neardup_banded_not_all_pairs(spark):
    """The image near-dup search must join on (band, value) equality — a
    real equi-join — never a nested-loop/cartesian all-pairs scan (the
    banding is exact at this threshold, so there is no excuse for one)."""
    df = QUERIES["b16_ahash_neardup"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_phash256_neardup_banded_not_all_pairs(spark):
    """Wide-hash image near-dup: equi-join on (band, value), never a
    nested-loop all-pairs scan."""
    df = QUERIES["b16_phash256_neardup"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_repeated_span_coverage_equi_joins_only(spark):
    """Duplicated-span detection joins positional shingles to the
    repeated-shingle relation on the shingle KEY — an equi-join, never an
    all-pairs scan — and the repeated-shingle side is built by map-side
    combined aggregation (partial_count visible), not a distinct-then-
    collect round trip."""
    df = QUERIES["b13_repeated_span_coverage"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "partial_count" in plan, plan[:1500]


def test_prefix_filter_pairs_no_global_window(spark):
    """The prefix-filter join must get its canonical shingle order from
    (df, sh) struct sort_array — NOT a single-partition global window
    (`Window [row_number()...]` over an empty partition spec collapses the
    token dictionary onto one task at 100 TB) — and the candidate join is
    an equi-join on the prefix token."""
    df = QUERIES["b13_prefix_filter_pairs"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_map_in_arrow_partial_agg_after_python(spark):
    """The Arrow-native profile stage must appear as a MapInArrow (or
    Spark 4's ArrowEvalPython equivalent: PythonMapInArrow) node followed
    by map-side combined aggregation — the shuffle after the Python stage
    moves |langs| partial rows, never per-document rows."""
    df = QUERIES["b21_map_in_arrow"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan[:1500]
    assert "partial_count" in plan or "partial" in plan.lower(), plan[:1500]


def test_triangle_count_equi_joins_only(spark):
    """Degree-ordered triangle counting: the wedge join is an equi-join on
    the shared source vertex (ordering predicates ride along as join
    filters) and the closing-edge probe an equi-join on (y, z) — never a
    cartesian/nested-loop product, which is what the naive three-way
    enumeration degenerates to under AQE when a hub vertex skews a side
    small enough to broadcast."""
    df = QUERIES["b26_triangle_count"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_pmi_collocations_take_ordered(spark):
    """The PMI top-20 must be a TakeOrdered heap, never a global sort, and
    the scalar bigram total joins in as a broadcast."""
    df = QUERIES["b15_pmi_collocations"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]


def test_repeated_span_dedup_order_explicit_reassembly(spark):
    """The rewrite must rebuild clean_text through the (pos, tok) struct
    collect_list (whose array_sort makes row order irrelevant — the
    physical plan prints the aggregate as collect_list under an
    ObjectHashAggregate), and all joins stay equi-joins."""
    df = QUERIES["b13_repeated_span_dedup"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" in plan, plan[:1500]
    assert "ObjectHashAggregate" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_nested_lineitems_single_shuffle_no_explode(spark):
    """The nested-data entry pays exactly ONE shuffle (building the
    per-order array) and computes everything else as higher-order
    expressions over the nested column — no re-explode, no second
    aggregation."""
    df = QUERIES["b06_nested_lineitems"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1, plan[:1500]
    assert "Generate" not in plan, plan[:1500]  # no explode anywhere
    assert "aggregate(" in plan, plan[:1500]  # higher-order fold present


def test_planted_twins_share_parent_plan_shape(spark):
    """The r9 planted-signal twins must keep their parents' plan
    discipline: the PMI plant is a map-only CASE projection feeding the
    same TakeOrdered pipeline (no extra shuffle, no cartesian), and the
    planted heavy hitters keeps the partial-agg + broadcast-total shape."""
    pmi = QUERIES["b15_pmi_planted"].fn(spark, SF)
    plan = pmi._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    parent = QUERIES["b15_pmi_collocations"].fn(spark, SF)
    assert shuffle_count(pmi) == shuffle_count(parent)

    hh = QUERIES["b06_heavy_hitters_planted"].fn(spark, SF)
    hplan = hh._jdf.queryExecution().executedPlan().toString()
    assert hplan.count("HashAggregate") >= 2, hplan[:1500]
    assert (
        "BroadcastNestedLoopJoin" in hplan or "BroadcastExchange" in hplan
    ), hplan[:1500]
    assert shuffle_count(hh) <= 2, shuffle_count(hh)


def test_recursive_hierarchy_unionloop(spark):
    """Spark 4 recursive CTE must plan as a UnionLoop (Catalyst's iterative
    fixpoint operator) whose recursive step is an EQUI-join of the frontier
    against the base table — never a cartesian re-scan per level."""
    df = QUERIES["b26_recursive_hierarchy"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "UnionLoop" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_collated_group_keys_on_collation(spark):
    """The collated GROUP BY must key the aggregate on the collate()
    expression itself (visible as collate(k_raw, UTF8_LCASE) in the plan)
    — proving case-insensitivity comes from the collation type, not a
    lower() rewrite. Collated keys currently force SortAggregate (no
    hash support for collated grouping) — pinned so a future Spark that
    lifts this shows up as a plan change, not silent drift."""
    df = QUERIES["b11_collated_group"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "UTF8_LCASE" in plan, plan[:1500]
    assert "lower(k_raw" not in plan, plan[:1500]
    assert "SortAggregate" in plan, plan[:1500]


def test_pagerank_lineage_truncated_equi_joins(spark):
    """Iterative PageRank must (a) join only on equi-keys and (b) read its
    edge list from the one deliberate localCheckpoint (the co-occurrence
    self-join materialized once, consumed by deg + every iteration) while
    the rank chain itself stays LAZY — the measured call for a
    single-terminal-action plan (tools/pagerank_ladder.py: per-iteration
    checkpoints only pay off when each iteration runs its own action)."""
    df = QUERIES["b26_pagerank_fixedpoint"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_parameterized_sql_binds_as_pushed_literals(spark):
    """Named parameters must bind at parse time as typed literals —
    provable because the bound date predicate reaches the parquet scan
    as a pushed filter, exactly as an inlined literal would."""
    df = QUERIES["b11_parameterized_sql"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan[-1500:]
    assert "array_contains([O,F]" in plan, plan[-1500:]


def test_all_tpch_analogues_no_unbounded_product(spark):
    """Baseline join discipline swept across every TPC-H analogue: no
    CartesianProduct anywhere, and BroadcastNestedLoopJoin only where the
    broadcast side is a SINGLE-ROW scalar aggregate (q11's
    fraction-of-total threshold, q22's average-balance threshold — the
    same benign class as the suite's crossJoin(broadcast(<1-row-agg>))
    sites). Any new q entry is covered automatically."""
    single_row_bnlj_ok = {"q11_important_parts", "q22_dormant_customers"}
    for name, q in QUERIES.items():
        if not name.startswith("q"):
            continue
        plan = q.fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        if name not in single_row_bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, name

def test_hll_registers_map_side_combined_pruned_scan(spark):
    """The HLL register build must partial-aggregate map-side (the shuffle
    carries <= 64 register cells per scope per task, the same bounded-state
    shape the CMS entry pins) and the scan must read only the two columns
    the sketch needs."""
    df = QUERIES["b06_hll_registers"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>" in plan, (
        plan[:1500]
    )


def test_bfs_levels_equi_joins_checkpointed_edges(spark):
    """Frontier BFS: every per-level step is an equi-join (frontier x edges)
    or anti-join (visited) — never a cartesian/nested-loop product — and the
    edge list is consumed from its localCheckpoint (Scan ExistingRDD), not
    re-derived from the co-occurrence self-join per level."""
    df = QUERIES["b26_bfs_levels"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "Scan ExistingRDD" in plan, plan[:1500]


def test_skyline_map_only_pass_then_single_partition(spark):
    """Local-skyline-then-merge plan shape: pass 1's MapInPandas sits
    directly on the (3-column-pruned) scan with NO exchange below it —
    the local sweep is map-only — and the ONLY shuffle in the whole plan
    is the deliberate SinglePartition repartition feeding pass 2's merge
    sweep over the provably small candidate union."""
    df = QUERIES["b09_skyline"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2, plan[:1500]
    assert shuffle_count(df) == 1, plan[:1500]
    assert "Exchange SinglePartition" in plan, plan[:1500]
    assert (
        "ReadSchema: struct<p_partkey:bigint,p_size:int,p_retailprice:double>"
        in plan
    ), plan[:1500]


def test_kcore_equi_joins_checkpointed_rounds(spark):
    """k-core peeling: every round is a degree aggregate + two left-semi
    survivor joins — no cartesian/nested-loop products — and the final
    round's plan consumes a localCheckpoint()ed edge set (Scan
    ExistingRDD), not the re-derived co-occurrence self-join (whose lazy
    tree would replicate 4^rounds times; tools/kcore_ladder.py)."""
    df = QUERIES["b26_kcore"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "Scan ExistingRDD" in plan, plan[:1500]


def test_max_concurrency_range_frames_no_products(spark):
    """The boundary sweep must run its cumulative sums as window
    aggregates over RANGE frames (ties share the frame — the determinism
    keystone), pre-aggregate boundaries before the window (partial_sum
    map-side), and contain no cartesian/nested-loop joins."""
    df = QUERIES["b25_max_concurrency"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan[:1500]
    assert "partial_sum" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_bitmap_distinct_reuses_exchange_at_runtime(spark):
    """Both bitmap consumers (per-type count and the merged `__ALL__`
    scope) hang off the same (event_type, bucket) bitmap_construct_agg
    exchange: AQE must stitch a ReusedExchange at runtime so events is
    scanned and pre-aggregated once. Partial bitmap aggregation must be
    map-side (partial_bitmap_construct_agg below the exchange)."""
    df = QUERIES["b06_bitmap_distinct"].fn(spark, SF)
    # Execute through the df's own QueryExecution so AQE finalizes the
    # plan (the b02_aqe_skew_join rule: never a full-result collect).
    df._jdf.queryExecution().toRdd().count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan[:1500]
    assert "partial_bitmap_construct_agg" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]


def test_interval_merge_single_exchange(spark):
    """Islands & gaps runs on ONE exchange: both window passes hash by
    user_id and the two downstream groupBys — (user_id, island) then
    (user_id) — are satisfied by that same HashPartitioning (subset
    clustering), so Catalyst inserts no further shuffle. Both frames
    must be RANGE (determinism under tied start instants)."""
    import re

    df = QUERIES["b25_interval_merge"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex = len(re.findall(r"Exchange (hashpartitioning|SinglePartition)", plan))
    assert n_ex == 1, plan[:2000]
    assert "Window" in plan, plan[:1500]
    assert "RangeFrame" in plan, plan[:2000]
    assert "RowsFrame" not in plan, plan[:2000]


def test_sssp_rounds_checkpointed_no_products(spark):
    """Bounded-hop Bellman-Ford: the final round's plan must consume
    localCheckpoint()ed inputs (Scan ExistingRDD — the k-core 2-consumer
    fan-out rule applied to d_r and the edge list), and relaxation is
    equi-join only — no cartesian/nested-loop products."""
    df = QUERIES["b26_sssp_bounded"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_record_linkage_broadcasts_dim_side(spark):
    """Blocked record linkage must broadcast the supplier dimension
    (BroadcastHashJoin — zero shuffle of the customer side) and keep the
    Fellegi-Sunter score in whole-stage-codegen arithmetic: no UDF, no
    cartesian/nested-loop product (the blocking key is an equi-join)."""
    df = QUERIES["b13_record_linkage"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BatchEvalPython" not in plan, plan[:1500]
    assert "Exchange hashpartitioning" not in plan, plan[:1500]


def test_ewma_dyadic_one_window_one_exchange(spark):
    """All 16 dyadic lag taps plus the term count must fuse into ONE
    Window operator over one (user_id) exchange — Catalyst collapses
    same-spec window functions; a second Window or exchange would mean
    the spec diverged (e.g. a frame mismatch re-sorting the partition)."""
    import re

    df = QUERIES["b25_ewma_dyadic"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex = len(re.findall(r"Exchange (hashpartitioning|SinglePartition)", plan))
    assert n_ex == 1, plan[:2000]
    assert plan.count("Window") == 1, plan[:2000]


def test_attribution_single_window_no_self_join(spark):
    """Last-touch attribution must run as ONE window pass over events —
    a conditional running last_value, not a self-join/as-of encoding:
    single Window operator, single exchange, exactly one events scan."""
    import re

    df = QUERIES["b26_attribution_last_touch"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1, plan[:2000]
    n_ex = len(re.findall(r"Exchange (hashpartitioning|SinglePartition)", plan))
    assert n_ex == 1, plan[:2000]
    assert plan.count("events.parquet") == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_phrase_search_equi_join_postings(spark):
    """Phrase evaluation must be an equi-join of filtered posting lists
    on (doc_id, pos) — a SortMergeJoin/ShuffledHashJoin or broadcast
    equi-join, never a nested-loop product — with the term filters
    applied below the join (postings shrink before shuffling)."""
    df = QUERIES["b15_phrase_search"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "merge" in plan and "join" in plan  # literal term filters present
    assert "Generate explode" in plan or "Generate posexplode" in plan, plan[:1500]


def test_scene_cuts_map_only_no_shuffle(spark):
    """Synthesis + detection fuse into one map-only Arrow/Pandas chain:
    zero exchanges — per-clip work never leaves its partition."""
    import re

    df = QUERIES["b16_scene_cuts"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan[:1500]
    n_ex = len(re.findall(r"Exchange (hashpartitioning|SinglePartition)", plan))
    assert n_ex == 0, plan[:2000]


def test_cusum_one_pipeline_no_join(spark):
    """CUSUM's baseline and peak must be whole-partition window
    aggregates, not groupBy+join-back (which duplicates the entire
    upstream subtree): exactly 2 exchanges ((type,bucket) pre-agg, then
    type), ONE events scan, zero joins, RANGE frames only for the
    ordered sweeps."""
    import re

    df = QUERIES["b25_cusum_drift"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex = len(re.findall(r"Exchange (hashpartitioning|SinglePartition)", plan))
    assert n_ex == 2, plan[:2000]
    assert plan.count("FileScan") == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "RowsFrame" not in plan, plan[:2000]


def test_range_anti_join_all_equi(spark):
    """The 24h no-error cohort must never plan a nested-loop anti-join:
    the day-bucket expansion (bounded 2x explode) turns the range
    condition into equi-joins; the final step is a left-anti equi-join
    on event_id."""
    df = QUERIES["b04_range_anti_join"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "LeftAnti" in plan, plan[:1500]
    assert "Generate explode" in plan, plan[:1500]


def test_top_paths_take_ordered_single_user_exchange(spark):
    """Path mining: the final top-10 must be a TakeOrdered heap, not a
    global sort; sessionization windows and the (user, sid) path
    assembly must share ONE user_id exchange (subset clustering), with
    only the path-count groupBy adding a second."""
    import re

    df = QUERIES["b26_top_paths"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    n_ex = len(re.findall(r"Exchange (hashpartitioning|SinglePartition)", plan))
    assert n_ex == 2, plan[:2000]


def test_source_overlap_no_products_broadcast_sizes(spark):
    """The source-overlap matrix must intersect via the shingle-key
    equi-join (no cartesian/nested-loop) and join the 20-row size
    relation back by broadcast."""
    df = QUERIES["b13_source_overlap"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_autocorr_true_time_lag_equi_join(spark):
    """ACF lags must be TRUE time lags — an equi-join on
    (type, bucket+k) — with the 3-lag fan-out as a bounded explode and
    the centered mean as a window aggregate (single events scan on the
    numerator path; the denominator reuses the same pre-aggregation)."""
    df = QUERIES["b25_autocorr"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_silence_runs_map_only_no_shuffle(spark):
    """Audio silence segmentation fuses synthesis + detection into one
    map-only Arrow/Pandas chain: zero exchanges."""
    import re

    df = QUERIES["b16_silence_runs"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan[:1500]
    n_ex = len(re.findall(r"Exchange (hashpartitioning|SinglePartition)", plan))
    assert n_ex == 0, plan[:2000]


def test_skew_guard_census_takeordered_single_exchange(spark):
    """The hot-cell census must be one shuffle (cell groupBy, map-side
    combined) topped by a distributed TakeOrdered — never a global sort
    or a single-partition window."""
    import re

    from dataselector_spark.suite import QUERIES

    df = QUERIES["b26_cooccurrence_skew_guard"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "Window" not in plan, plan[:1500]
    # exactly two: the cells .distinct() on (type, bucket, user) — the
    # SAME relation the edge build joins, which is the point of the audit
    # — then the census groupBy on (type, bucket). A subset key cannot
    # reuse a superset hash partitioning, so 2 is the floor for
    # exact-distinct-then-count.
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex == 2, plan[:2000]


def test_record_linkage_planted_broadcasts_registry(spark):
    """The planted-twin calibration keeps the parent's blocked shape: the
    synthetic registry side broadcasts into the blocking equi-join (the
    customer side never shuffles for it), pairs are scored ONCE, and the
    only non-equi joins are the bounded grid/truth broadcasts."""
    from dataselector_spark.suite import QUERIES

    df = QUERIES["b13_record_linkage_planted"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert plan.count("levenshtein") <= 2, plan[:2000]  # scored once
    # per-score counts + 1-row truth ride broadcast nested loops (bounded)
    assert "BroadcastNestedLoopJoin" in plan, plan[:1500]


def test_knn_accuracy_clustered_broadcast_sample(spark):
    """The clustered eval keeps the parent's one-pass shape: the ~8%
    query sample broadcasts, the corpus streams past it once, and both
    rankings ride one qid exchange."""
    import re

    from dataselector_spark.suite import QUERIES

    df = QUERIES["b14_knn_accuracy_clustered"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" in plan, plan[:1500]  # bounded sample
    n_scans = len(re.findall(r"Scan parquet", plan))
    assert n_scans <= 2, plan[:2000]  # corpus once + broadcast sample once


def test_bm25_topk_take_ordered_and_broadcasts(spark):
    """VERDICT r10 #5: the BM25 top-10 must be a TakeOrderedAndProject
    heap under the rank window (never a global sort of all scored docs),
    the 3-term dictionary must broadcast-hash-join, and the only
    nested-loop is the broadcast of the 1-row corpus-stats scalar (the
    Benford/scalar-stat shape) — never an unbroadcast CartesianProduct."""
    df = QUERIES["b15_bm25_topk"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]


def test_link_prediction_capped_shape(spark):
    """VERDICT r11 #2: the capped variant must keep the uncapped entry's
    equi-join discipline and TakeOrderedAndProject top-20; the only
    nested-loop is the 1-row cap scalar broadcast (the whitelisted
    scalar-stat shape), never an unbroadcast CartesianProduct."""
    df = QUERIES["b26_link_prediction_capped"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_kmv_sketch_window_group_limit(spark):
    """b06_kmv_intersect's per-scope top-k must plan a WindowGroupLimit
    (rank-limit pushdown: per-partition 128-row heaps per scope before
    the shuffle). Pinned on the unmaterialized plan of the sketch SQL the
    entries run — they localCheckpoint it, which truncates the final
    plan's lineage."""
    from dataselector_spark.suite.sketches import _kmv_sketch_sql

    load_table(spark, SF, "orders").select(
        F.year("o_orderdate").cast("bigint").alias("yr"), "o_custkey"
    ).distinct().createOrReplaceTempView("__test_kmv_du")
    sk = spark.sql(_kmv_sketch_sql("__test_kmv_du"))
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_group_reservoir_window_group_limit(spark):
    """VERDICT r11 #6: the deterministic per-group exact-k sampler must
    plan a WindowGroupLimit — per-partition top-8 heaps per group before
    the shuffle (bounded reservoir state), never a full-group sort."""
    df = QUERIES["b22_group_reservoir"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_refined_quantile_single_scan_sketch(spark):
    """VERDICT r11 #5: the two-level sketch must be built in ONE events
    scan — the (coarse, fine) cell grid is aggregated once (<=65,536
    mergeable cells, localCheckpointed) and both levels derive from it.
    The final plan's only parquet scan is the in-query exact-rank audit
    (optional in serving); the r11 shape's second full scan (a
    computed-bucket semi join that could never prune row groups) must
    be gone."""
    import re

    df = QUERIES["b06_quantile_refined"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_scans = len(re.findall(r"Scan parquet", plan))
    assert n_scans == 1, plan[:2000]


def test_link_prediction_all_equi_joins(spark):
    """The two-hop expansion, anti-join, and degree joins must all be
    hash equi-joins (shuffle or broadcast) — never a cartesian or
    nested-loop fallback; the top-20 must be a TakeOrderedAndProject
    heap (ADVICE r11: never an unpartitioned row_number window, which
    single-partition-sorts the full two-hop candidate set)."""
    df = QUERIES["b26_link_prediction"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_surprisal_tertiles_bounded_windows_and_one_tokenize(spark):
    """r12: the tertile machinery must never sort documents globally —
    the only unpartitioned window runs over the <=63k-cell score
    HISTOGRAM (which sits behind a localCheckpoint, so the final plan
    contains no Sort of a document-cardinality relation at all), the
    corpus-total scalar and the 2-value cutoff row enter as broadcast
    nested loops (the whitelisted 1-row scalar-stat shape), and nothing
    plans an unbroadcast CartesianProduct."""
    df = QUERIES["b15_surprisal_tertiles"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    # the per-bucket reaggregation consumes the checkpointed histogram:
    # no parquet rescan of documents may appear downstream
    import re

    assert len(re.findall(r"Scan parquet", plan)) == 0, plan[:2000]


def test_surprisal_tertiles_tf_feeder_shape(spark):
    """The tf feeder (the part ahead of the checkpoint) must read the
    documents parquet ONCE with the text/doc_id columns only, and
    aggregate map-side (partial_count) before the (doc_id, term)
    shuffle."""
    from dataselector_spark.functions.text import tokens

    d = load_table(spark, SF, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    import re

    plan = tf._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet", plan)) == 1, plan[:2000]
    schemas = read_schemas(tf)
    assert schemas and "lang" not in schemas[0], schemas
    assert "partial_count" in plan, plan[:2000]


def test_rrf_hybrid_two_heaps_no_cartesian(spark):
    """r12: both RRF feeder rankings must be TakeOrderedAndProject heaps
    (lexical top-20 and cosine top-20 — never a global sort of scored
    docs or of the embedding corpus), the 3-term dictionary must
    broadcast, and the fusion's full-outer join over <=40 rows must be
    an equi-join (SortMergeJoin/ShuffledHashJoin), never an unbroadcast
    CartesianProduct."""
    import re

    df = QUERIES["b14_rrf_hybrid"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"TakeOrderedAndProject", plan)) >= 2, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "FullOuter" in plan, plan[:1500]


def test_target_mixture_bounded_tail(spark):
    """r12: downstream of the lang-count aggregate everything operates on
    the checkpointed <=|langs| relation — the final plan must contain no
    parquet scan (the corpus-scale work happened exactly once, ahead of
    the checkpoint) and no unbroadcast CartesianProduct (the surplus
    scalar enters as the whitelisted 1-row broadcast)."""
    import re

    df = QUERIES["b22_target_mixture"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert len(re.findall(r"Scan parquet", plan)) == 0, plan[:2000]


def test_minhash_shard_merge_two_level_aggregate(spark):
    """r12: the shard-merge must be a genuine two-level aggregate — the
    per-shard mins partial-aggregate map-side (partial_min before the
    (id, shard) exchange), the merge is a second hash aggregate, the
    audit join is an equi-join, and nothing plans a CartesianProduct."""
    df = QUERIES["b13_minhash_shard_merge"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "partial_min" in plan, plan[:2000]


def test_packing_efficiency_bounded_tail(spark):
    """r12: both strategy branches must consume the checkpointed length
    relation — no parquet rescan in the final plan, no CartesianProduct,
    and the batch/length aggregates partial-aggregate map-side."""
    import re

    df = QUERIES["b15_packing_efficiency"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert len(re.findall(r"Scan parquet", plan)) == 0, plan[:2000]
    assert "partial_" in plan, plan[:2000]


def test_funnel_exclusion_zero_joins(spark):
    """r12: the negation-constrained funnel must plan ZERO joins — one
    events scan, one user-keyed exchange, window + aggregate. Any join
    operator appearing means the candidate-pair formulation snuck back."""
    import re

    df = QUERIES["b26_funnel_exclusion"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]
    assert len(re.findall(r"Scan parquet", plan)) == 1, plan[:2000]
    assert "Window" in plan, plan[:1500]


def test_asof_nearest_no_unbounded_following_frame(spark):
    """r12 frame law: asof_join_nearest's forward candidate must be a
    running frame (reverse time order), never an UNBOUNDED FOLLOWING
    frame — Spark re-scans shrinking frames from every row to the
    partition end, O(n^2) per join key (measured 0.94 s -> 13.99 s at
    400 -> 6451 rows/partition; the running form holds flat)."""
    df = QUERIES["b05_asof_nearest"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "unboundedfollowing" not in plan, plan[:2000]


def test_equidepth_distributed_index_reuses_range_exchange(spark):
    """r13 (the bounded-window audit's first catch): equi-depth ntile must
    NEVER plan an unpartitioned window over the events table — the
    distributed form range-partitions on the ntile order key, assigns
    per-partition row numbers under a pid-partitioned window, and stitches
    the global index with <=|partitions| offsets. Two structural pins:
    (1) the per-row window is partitioned (audit passes with the
    offset-aggregate whitelist only), and (2) after execution the pid-hash
    exchange is REUSED between the offset branch and the index branch —
    one materialized layout, so spark_partition_id cannot diverge between
    the two consumers (the bug the first draft shipped: a localCheckpoint
    forked a second job whose AQE coalescing resampled the layout)."""
    import re

    from dataselector_spark.plans import unpartitioned_window_audit

    from dataselector_spark.plans import BOUNDED_WINDOW_AGG_OK

    df = QUERIES["b06_equidepth_histogram"].fn(spark, "/root/testdata/sf0.001")
    violations, _ = unpartitioned_window_audit(
        df, allowed_agg_keys=BOUNDED_WINDOW_AGG_OK["b06_equidepth_histogram"]["keys"]
    )
    assert not violations, violations
    df.collect()
    # AdaptiveSparkPlan's string repeats the pre-AQE tree under
    # "== Initial Plan ==" — assert on the final section only.
    plan = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "ReusedExchange" in plan, plan[:2000]
    # exactly one MATERIALIZED range exchange (a ReusedExchange line names
    # its target, so filter those out before counting)
    range_nodes = [
        ln
        for ln in plan.splitlines()
        if "Exchange rangepartitioning" in ln and "ReusedExchange" not in ln
    ]
    assert len(range_nodes) == 1, plan[:2000]
