"""Named query suite — the driver-checkable contract (SURVEY.md §2).

Each entry pairs a PySpark callable `(spark, sf_dir) -> DataFrame` with an
equivalent ANSI-SQL oracle string for DuckDB (None → rows-only check for
genuinely non-SQL-expressible ops). `__spark_entry__.py` re-exports these.
"""

from .base import QUERIES, Query, query  # noqa: F401

# Importing registers every suite module's queries.
#
# Registration ORDER matters to the driver: its CORRECTNESS harness checks the
# first 50 entries in registration order.  Round 1 verified the first 50
# (reference_parity -> relational -> 4 window entries); those stay pinned by
# the local sf0.001 DuckDB oracle run (tests/test_suite_oracle.py).  Round 2
# therefore registers the previously-unchecked modules first so the driver's
# window lands on fresh surface: llm_pipeline (22) + streaming_suite (7) +
# tpch_full (11) + the first ~10 of extensions.
from . import llm_pipeline  # noqa: F401,E402
from . import streaming_suite  # noqa: F401,E402
from . import tpch_full  # noqa: F401,E402
from . import extensions  # noqa: F401,E402
from . import window_suite  # noqa: F401,E402
from . import reference_parity  # noqa: F401,E402
from . import relational  # noqa: F401,E402
from . import extras  # noqa: F401,E402

# Explicit window control: the driver's correctness harness checks the FIRST
# 50 registered entries each round.  History: r1-r3 covered the never-checked
# surface; r4 repeated r3 by mistake; r5 re-verified the r4 reds + the tail;
# r6 landed the oracle-upgraded + new entries and 41 pre-regen re-confirms
# (50/50 green).  The round-7 window below (VERDICT r6 "Next round" #1-2)
# closes the freshness ledger:
#   * 32 queued stale entries — every remaining entry whose latest driver row
#     predates the r4 testdata regeneration (the exact set the rotation
#     tripwire derives from the CORRECTNESS_r*.json artifacts);
#   * 6 entries whose IMPLEMENTATIONS were rewritten in r6 after their last
#     driver row (ADVICE r6 #3's "changed since last driver round" class,
#     now declared in REWRITTEN_IN_ROUND below so the tripwire enforces it):
#     b26_rolling_dau (single-scan reshape), b15_bpe_pair_counts (array
#     bind), b02_bucketed_join (ensure_bucketed_table migration),
#     b16_pgm_roundtrip (decode strictness), b15_decontaminate (word_ngrams
#     O(n^2) fix), b04_interval_join_bucketed (cached skew probe);
#   * 12 entries NEW in r7: nearest-direction as-of, normalized-text dedup,
#     per-domain token-budget cap, 3-D z-order key, z-order clustered-write
#     readback, streaming foreachBatch upsert sink, SCD Type-2 dimension
#     build, blocked edit-distance near-dup, zone-map manifest stats,
#     diversified top-k, exact-k per-cell sample, Dataset.observe metrics
#     (never-checked entries outrank re-confirms — the tripwire enforced
#     exactly this swap when the second six landed).
# After this round every entry's latest driver row is post-regen and
# post-rewrite — freshness debt zero.
# tests/test_advice_fixes.py::test_driver_window_targets_unchecked_entries
# derives the same priority classes from the CORRECTNESS_r*.json artifacts
# (and from REWRITTEN_IN_ROUND), so a forgotten rotation fails CI instead of
# burning a driver round.

# The round-8 window (VERDICT r7 "Next round" #1 and #4):
#   * the 20 entries new in r7 that have never had a driver row (the red
#     tripwire's exact derivation — WAV/Y4M codecs, PQ/ADC/IVF+PQ family,
#     SCD2 incremental + lookup, partition-pruning pair, footer-stats agg,
#     NULL-semantics battery, dataset fingerprint, UDAF, recall report,
#     merge-schema, corrupt-file tolerance, MAD outlier, temperature
#     mixture, feature hashing, compaction readback);
#   * the 9 entries NEW in r8: exact heavy hitters, value-checked count-min
#     sketch, clustered-corpus IVF recall, runtime bloom-filter join,
#     incremental aggregate maintenance, aHash + pHash-256 image near-dup,
#     AQE runtime skew-join splitting, image-dedup survivors
#     (never-checked entries outrank re-confirms);
#   * 21 of the 36 oracle-bearing entries whose latest driver row is r4 —
#     post-regen (so not technically stale) but three rounds old (VERDICT
#     r7 #4: spend the free slots on the OLDEST rows, oldest first, and
#     never again on the rows-only-by-design approx entries).
# r9 queue, for the record: the 22 remaining r4-row entries
# (b06_exact_distinct, b14_embedding_neardup_lsh, b15_chunk_documents, b22_train_val_split, b22_global_shuffle, b15_repetition_score, b15_rarity_score, b01_json_permissive, b22_mixture_upsample,
# b22_drift_chisq, b22_drift_ks, b22_winsorize, b16_resize_nn,
# b26_transition_bigrams, b06_equidepth_histogram, plus b22_mixture_resample,
# b08_outlier_zscore, b23_apply_changelog, b23_merge_upsert,
# q14_promo_revenue, q10_returned_items and q7_volume_shipping — displaced
# from this window by the seven late-r8 additions
# b13_repeated_span_coverage / b13_prefix_filter_pairs / b21_map_in_arrow /
# b26_triangle_count / b15_pmi_collocations / b13_repeated_span_dedup /
# b06_nested_lineitems, which the tripwire ranks higher because they have
# never had a driver row) plus anything new in r8+.

# Entries whose implementation changed materially in round N after their
# last driver row: the rotation tripwire treats a driver row older than the
# rewrite round as stale (ADVICE r6 #3). Add a line here whenever an
# already-green entry's code path is rewritten.
REWRITTEN_IN_ROUND = {
    "b26_rolling_dau": 6,
    "b15_bpe_pair_counts": 6,
    "b02_bucketed_join": 6,
    "b16_pgm_roundtrip": 6,
    "b15_decontaminate": 6,
    "b04_interval_join_bucketed": 6,
    # r9 (ADVICE r8 + VERDICT r8 #2): execution-forcing / scratch-path /
    # helper-refactor changes after the r8 driver rows
    "b02_aqe_skew_join": 9,
    "b02_bloom_filter_join": 9,
    "b15_pmi_collocations": 9,
    # r9 session 2: oracle hardened to the (ts, event_id) total order
    # (the latent tie ambiguity b26_top_paths documented)
    "b08_sessionize": 9,
    # r10 (VERDICT r9 #2): the seven graph entries' co-occurrence edge
    # build refactored onto the shared, skew-guarded helper
    # (operators/graph.py cooccurrence_cells/cooccurrence_pairs) — same
    # join semantics, but the code path changed after their r8/r9 rows
    "b26_triangle_count": 10,
    "b26_clustering_coeff": 10,
    "b26_pagerank_fixedpoint": 10,
    "b26_bfs_levels": 10,
    "b26_kcore": 10,
    "b26_sssp_bounded": 10,
    "b26_assortativity": 10,
    # r11 (ADVICE r10): material post-r10-row changes.  b01_python_stream_sink
    # now materializes the readback aggregate and removes its /tmp output +
    # checkpoint dirs before returning; b13_record_linkage_planted gained the
    # max-custkey < 10^5 pad-safety guard job ahead of the twin build.
    # (The r11 warn_hot_cells probe-cache change — key now includes
    # sample_fraction, bounded FIFO — is deliberately NOT marked for the
    # seven graph entries: it alters only probe memoization/warning behavior,
    # never the edge dataflow or any emitted value; test_graph_guard.py
    # covers the new contract directly.)
    "b01_python_stream_sink": 11,
    "b13_record_linkage_planted": 11,
    # r12 (ADVICE r11 + VERDICT r11 #5): material post-r11-row changes.
    # b26_link_prediction's top-20 moved from an unpartitioned row_number
    # window (single-partition global sort of the full two-hop candidate
    # set) to orderBy+limit = TakeOrderedAndProject, rank window over the
    # <=20 survivors; b06_quantile_refined folded its two events scans
    # into ONE single-pass (coarse, fine) cell-grid aggregate with both
    # levels derived from the checkpointed grid.
    "b26_link_prediction": 12,
    "b06_quantile_refined": 12,
    # r12 session 3 (the window-frame law, tools/funnel_ladder.py +
    # docs/SCALE.md): asof_join_nearest's forward candidate moved from
    # first() over (CURRENT ROW, UNBOUNDED FOLLOWING) — O(n^2) per join
    # key, measured 0.94 -> 13.99 s as rows/partition grew 400 -> 6451 —
    # to the semantics-identical reverse-order running last() (flat
    # 0.22 s). Oracle re-verified at all three SFs after the rewrite.
    "b05_asof_nearest": 12,
    # r13 (ADVICE r12 + the bounded-window plan audit, VERDICT r12 #2):
    # b14_rrf_hybrid's BM25 saturation quotient widened to DECIMAL(38,0)
    # (Spark) // HUGEINT (DuckDB) — identical values at suite scale, but
    # the oracle text and expression changed; b06_equidepth_histogram's
    # single-partition ntile(10) window rewritten onto the distributed
    # running_sums prefix-sum with a closed-form ntile bucket;
    # b15_vocab_coverage's full-vocabulary rank/cumsum windows rewritten
    # onto a TakeOrdered-100 heap + broadcast scalar total. All three
    # oracle-reverified at sf0.001/0.01/0.1 + hostile-TZ after rewrite.
    "b14_rrf_hybrid": 13,
    "b15_vocab_coverage": 13,
    # r14 (ADVICE r13): b06_equidepth_histogram's closed-form ntile ELSE
    # divisor guarded with greatest(n_tot DIV 10, 1) — a correctness
    # no-op (the WHEN arm always fires for n_tot < 10) that removes the
    # latent 0-divisor ANSI mode would trip; the generated expression
    # changed, so the entry re-enters the driver window.
    "b06_equidepth_histogram": 14,
    # r15 (optimization round 1 — VERDICT r15 #4 asked for exactly this
    # back-fill): the b26 graph rewrites (triangle struct order key,
    # clustering closer=e, LPA edge pre-partition + min(struct) argmax),
    # the connected_components self-loop rewrite (7 consumers), the b14
    # single-parse expression builds, the b13 minhash/simhash single-parse
    # builders, the b16 phash-banding single-parse, the zorder Morton
    # single-parse, and the stream-source state-partition pins.
    "b26_triangle_count": 15,
    "b26_clustering_coeff": 15,
    "b26_communities_lpa": 15,
    "b26_modularity": 15,
    "b13_dedup_clusters": 15,
    "b13_dedup_survivors": 15,
    "b13_dedup_survivors_quality": 15,
    "b13_leakage_safe_split": 15,
    "b14_embedding_dedup_survivors": 15,
    "b16_image_dedup_survivors": 15,
    "b14_topk_cosine": 15,
    "b14_pq_codes": 15,
    "b14_pq_adc_topk": 15,
    "b14_ivfpq_topk": 15,
    "b14_mips_lsh": 15,
    "b14_mips_topk": 15,
    "b14_ann_recall_report": 15,
    "b14_ivf_recall_clustered": 15,
    "b14_knn_accuracy_clustered": 15,
    "b13_minhash_shard_merge": 15,
    "b13_incremental_ingest_dedup": 15,
    "b16_ahash_neardup": 15,
    "b16_phash256_neardup": 15,
    "b22_zorder_key": 15,
    "b22_zorder_key_3d": 15,
    "b22_zorder_write_readback": 15,
    "b01_python_stream_source_parallel": 15,
    # r16 (optimization round 2): the int64 shingle-identity batch
    # (ngram_jaccard_pairs + the span/prefix/containment/decontaminate/
    # source-overlap family), the kmv-source audit-on-hashes rewrite, the
    # zscore groupBy+broadcast-join rewrite, the single-parse SQL rewrites
    # (BM25 scorer, KMV trio), and the b20 state-partition re-sizing.
    "b13_ngram_jaccard": 16,
    "b13_containment_pairs": 16,
    "b13_repeated_span_coverage": 16,
    "b13_repeated_span_dedup": 16,
    "b13_prefix_filter_pairs": 16,
    "b15_decontaminate": 16,
    "b13_source_overlap": 16,
    "b13_kmv_source_similarity": 16,
    "b13_dedup_pipeline_verified": 16,
    "b08_outlier_zscore": 16,
    "b14_rrf_hybrid": 16,
    "b14_rrf_fusion_gain": 16,
    "b06_kmv_intersect": 16,
    "b06_kmv_difference": 16,
    "b06_kmv_merge": 16,
    "b15_surprisal_tertiles": 16,
    "b15_surprisal_planted": 16,
    # r17: the selection operators' broadcast build side is no longer
    # de-duplicated (apply / anti), and toggle is one tagged aggregation
    # instead of two distincts plus two anti-joins.
    "a13_selection_toggle": 17,
    "a16_semi_join_apply": 17,
    "a17_anti_join_retract": 17,
    # r18: every streaming entry's state-partition count changed (8, or 4
    # for the left-outer join, to the swept best: 1 by default, 2 or 4
    # where one partition loses), and connected components reads its
    # convergence count from an Observation on the materializing job
    # instead of a second count job per round.
    "b17_stream_tumbling": 18,
    "b17_stream_sliding": 18,
    "b18_stream_session": 18,
    "b19_stream_watermark": 18,
    "b20_stream_dedup": 18,
    "b20_stream_toggle": 18,
    "b20_stream_stream_join": 18,
    "b17_stream_static_enrich": 18,
    "b17_stream_quantile_sketch": 18,
    "b20_stream_stream_left_outer": 18,
    "b20_state_store_read": 18,
    "b01_python_stream_source": 18,
    "b01_python_stream_source_parallel": 18,
    "b13_dedup_clusters": 18,
    "b13_dedup_survivors": 18,
    "b13_dedup_survivors_quality": 18,
    "b14_embedding_dedup_survivors": 18,
    "b16_image_dedup_survivors": 18,
    "b13_leakage_safe_split": 18,
}

# The round-9 window (VERDICT r8 "Next round" #1-2, freshness hygiene):
#   * 41 entries NEW in r9, never driver-checked (outrank everything):
#     the planted-signal demonstration twins (b15_pmi_planted,
#     b06_heavy_hitters_planted — VERDICT r8 #5), the Spark 4
#     modern-API set (b11_variant_extract, b01_python_datasource,
#     b01_python_stream_source, b21_polymorphic_udtf,
#     b21_udtf_partitioned), the state-store batch read
#     (b20_state_store_read), and the six late-r9 additions
#     (b26_recursive_hierarchy, b11_collated_group,
#     b26_pagerank_fixedpoint, b24_scripting_lang_coverage,
#     b11_parameterized_sql, b06_approx_top_k_exact), plus the final
#     five (b06_hll_registers value-checked HLL, b26_bfs_levels
#     frontier BFS, b09_skyline Pareto frontier, b26_kcore iterative
#     peeling, b25_max_concurrency boundary sweep) which displace the
#     last five r5-latest re-confirms (b20_stream_toggle,
#     b20_stream_stream_join, b17_stream_static_enrich, b06_pivot,
#     b08_sessionize -> r10), and the twenty-two session-2 additions
#     (b06_bitmap_distinct exact bitmap distinct,
#     b25_interval_merge islands & gaps,
#     b26_sssp_bounded bounded-hop Bellman-Ford, b13_record_linkage
#     blocked cross-table linkage, b25_ewma_dyadic exact dyadic EWMA,
#     b26_attribution_last_touch conversion credit, b15_phrase_search
#     positional postings, b16_scene_cuts shot-boundary detection,
#     b25_cusum_drift CUSUM change-point, b04_range_anti_join
#     bucketed range anti-join, b26_top_paths session path mining,
#     b22_kanonymity privacy audit, b13_source_overlap cross-source
#     Jaccard matrix, b25_autocorr exact ACF,
#     b22_proportional_allocation Hamilton apportionment,
#     b26_clustering_coeff transitivity, b19_lateness_profile
#     watermark-setting lateness audit, b20_stream_stream_left_outer
#     outer join via watermark eviction, b06_gini concentration,
#     b26_assortativity degree mixing, b16_silence_runs audio
#     segmentation, b14_knn_accuracy ground-truth eval) which displace
#     b18_stream_session / b19_stream_watermark / b20_stream_dedup /
#     b17_stream_tumbling / b17_stream_sliding / b12_dedup_exact /
#     b06_equidepth_histogram / b26_transition_bigrams /
#     b16_resize_nn / b22_winsorize / b22_drift_ks / b22_drift_chisq /
#     b01_json_permissive / b22_mixture_upsample / b15_rarity_score /
#     b15_repetition_score / b22_global_shuffle / b22_train_val_split /
#     b15_chunk_documents / b14_embedding_neardup_lsh /
#     b06_exact_distinct / b08_outlier_zscore / b22_mixture_resample
#     -> r10 (one displaced by the
#     b08_sessionize oracle-hardening re-check, which as a
#     REWRITTEN_IN_ROUND entry outranks re-confirms);
#   * 3 entries REWRITTEN in r9 after their r8 rows (declared in
#     REWRITTEN_IN_ROUND): b02_aqe_skew_join (full-result collect ->
#     JVM-side toRdd().count(), VERDICT r8 #2), b02_bloom_filter_join
#     (per-session scratch path), b15_pmi_collocations (refactored
#     through the shared _pmi_top20 helper);
#   * all 22 oracle-bearing entries whose latest driver row is r4 (the
#     oldest tail — VERDICT r8 #1; the 3 rows-only r4 entries are
#     deliberately excluded per the r7 #4 rule: a rows-only driver row
#     re-confirms nothing their green exact twins do not);
#   * the 6 oldest r5-latest oracle-bearing entries in registration
#     order (17 until the six late-r9 additions displaced
#     a15_composite_key / a13_selection_toggle / a16_semi_join_apply /
#     a07_extents / a05_range_filter / a04_derived_timestamp and the
#     final five displaced b20_stream_toggle / b20_stream_stream_join /
#     b17_stream_static_enrich / b06_pivot / b08_sessionize —
#     never-checked outranks re-confirm). The 45 remaining r5-latest
#     entries queue for r10 (plus the r4-latest displaced late:
#     b06_equidepth_histogram, b26_transition_bigrams, b16_resize_nn,
#     b22_winsorize, b22_drift_ks, b22_drift_chisq,
#     b01_json_permissive, b22_mixture_upsample, b15_rarity_score,
#     b15_repetition_score, b22_global_shuffle, b22_train_val_split,
#     b15_chunk_documents, b14_embedding_neardup_lsh,
#     b06_exact_distinct, b08_outlier_zscore, b22_mixture_resample):
#     b20_stream_toggle,
#     b20_stream_stream_join,
#     b17_stream_static_enrich, b06_pivot, b18_stream_session,
#     b19_stream_watermark, b20_stream_dedup, b17_stream_tumbling,
#     b17_stream_sliding, b12_dedup_exact,
#     b08_sessionize, a15_composite_key, a13_selection_toggle,
#     a16_semi_join_apply, a07_extents, a05_range_filter,
#     a04_derived_timestamp,
#     a17_anti_join_retract, a18_inverted_index, a22_having,
#     flagship_minute_flag_counts,
#     a06_box_select_pixel, b25_gap_fill_interpolate,
#     b25_m4_downsample, b25_time_weighted_avg, b26_funnel,
#     b26_retention_cohorts, b25_trend_per_series, b05_asof_tolerance,
#     b08_ratio_to_report, b13_minhash_portable,
#     b22_stratified_sample_hash, b13_simhash_portable,
#     b13_dedup_pipeline_verified, b13_incremental_dedup,
#     b01_orc_roundtrip_lineitem, b13_dedup_survivors_quality,
#     b14_embedding_dedup_survivors, b15_pii_scrub, b01_xml_roundtrip,
#     b16_binary_ingest, b13_containment_pairs, b15_vocab_coverage,
#     b22_table_profile, b23_snapshot_diff — after which the oldest
#     remaining rows are r6.
# The round-10 window (VERDICT r9 "Next round" #1, freshness hygiene):
# CORRECTNESS_r09 was 50/50 green, so no entry is red/never-checked at the
# start of r10 — the whole window is the freshness-tail retirement the r9
# verdict prescribes:
#   * all 17 oracle-bearing entries whose latest driver row is r4 (the
#     oldest tail; the 3 rows-only r4 entries b06_approx_percentile /
#     b06_sketch_rollup / b22_stratified_sample are deliberately excluded
#     per the standing r7 #4 rule);
#   * the oldest r5-latest oracle-bearing entries in registration order
#     (18 after displacement by the 8 new + 7 rewritten entries below —
#     counts corrected per ADVICE r10 #4; the window list itself was
#     always the len==50 source of truth).
#     The 22 r5-latest entries below queued for r11 (plus the 4 displaced
#     late — b25_gap_fill_interpolate, a06_box_select_pixel,
#     flagship_minute_flag_counts, a22_having — 26 in total)
#     (b25_m4_downsample, b25_time_weighted_avg, b26_funnel,
#     b26_retention_cohorts, b25_trend_per_series, b05_asof_tolerance,
#     b08_ratio_to_report, b13_minhash_portable,
#     b22_stratified_sample_hash, b13_simhash_portable,
#     b13_dedup_pipeline_verified, b13_incremental_dedup,
#     b01_orc_roundtrip_lineitem, b13_dedup_survivors_quality,
#     b14_embedding_dedup_survivors, b15_pii_scrub, b01_xml_roundtrip,
#     b16_binary_ingest, b13_containment_pairs, b15_vocab_coverage,
#     b22_table_profile, b23_snapshot_diff) — after which the oldest
#     remaining rows are r6.
#   * entries NEW in r10 (never-checked outranks re-confirm) and the 7
#     graph entries REWRITTEN in r10 (shared skew-guarded edge build)
#     displace the LAST r5 re-confirms, per the standing rule.
_R10_WINDOW = [
    # --- new in r10, never checked ---
    "b14_knn_accuracy_clustered",
    "b13_record_linkage_planted",
    "b01_python_stream_source_parallel",
    "b01_python_stream_sink",
    "b06_quantile_histogram",
    "b17_stream_quantile_sketch",
    "b22_benford_digits",
    "b26_cooccurrence_skew_guard",
    # --- 7 rewritten in r10 (REWRITTEN_IN_ROUND: shared skew-guarded
    # edge build) — rewritten outranks re-confirm; they displace the
    # last 7 r5 re-confirms (b25_m4_downsample, b25_time_weighted_avg,
    # b26_funnel, b26_retention_cohorts, b25_trend_per_series,
    # b05_asof_tolerance, b08_ratio_to_report -> r11) ---
    "b26_triangle_count",
    "b26_clustering_coeff",
    "b26_pagerank_fixedpoint",
    "b26_bfs_levels",
    "b26_kcore",
    "b26_sssp_bounded",
    "b26_assortativity",
    # --- 17 oracle-bearing r4-latest entries (oldest tail) ---
    "b22_mixture_resample",
    "b08_outlier_zscore",
    "b06_exact_distinct",
    "b14_embedding_neardup_lsh",
    "b15_chunk_documents",
    "b22_train_val_split",
    "b22_global_shuffle",
    "b15_repetition_score",
    "b15_rarity_score",
    "b01_json_permissive",
    "b22_mixture_upsample",
    "b22_drift_chisq",
    "b22_drift_ks",
    "b22_winsorize",
    "b16_resize_nn",
    "b26_transition_bigrams",
    "b06_equidepth_histogram",
    # --- 18 oldest r5-latest oracle-bearing re-confirms (registration
    # order; count corrected per ADVICE r10 #4.
    # b13_dedup_pipeline_verified / b13_simhash_portable /
    # b22_stratified_sample_hash / b13_minhash_portable were displaced
    # to r11 by four of the eight r10 additions and the next seven by
    # the seven REWRITTEN_IN_ROUND graph entries above) ---
    "b12_dedup_exact",
    "b17_stream_tumbling",
    "b17_stream_sliding",
    "b18_stream_session",
    "b19_stream_watermark",
    "b20_stream_dedup",
    "b20_stream_toggle",
    "b20_stream_stream_join",
    "b17_stream_static_enrich",
    "b06_pivot",
    "a04_derived_timestamp",
    "a05_range_filter",
    "a07_extents",
    "a15_composite_key",
    "a13_selection_toggle",
    "a16_semi_join_apply",
    "a17_anti_join_retract",
    "a18_inverted_index",
    # (b25_gap_fill_interpolate, a06_box_select_pixel,
    # flagship_minute_flag_counts and a22_having were displaced to r11
    # by the fifth through eighth r10 additions, b01_python_stream_sink,
    # b06_quantile_histogram, b17_stream_quantile_sketch and
    # b22_benford_digits — never-checked outranks re-confirm)
]
assert len(_R10_WINDOW) == 50, len(_R10_WINDOW)

# The round-11 window (VERDICT r10 "Next round" #1, freshness hygiene):
# CORRECTNESS_r10 was 50/50 green, so nothing is red/never-checked from r10 —
# the window is the freshness-tail retirement the r10 verdict prescribes
# (all 26 r5-latest oracle-bearing entries + the oldest r6-latest rows),
# minus the standing displacements:
#   * 5 entries NEW in r11 (never-checked outranks everything):
#     b06_quantile_refined (two-level hot-set refinement sketch, VERDICT
#     r10 #3), b15_bm25_topk (BM25 document ranking, #5),
#     b26_communities_lpa (bounded-round label propagation, #6), plus the
#     session-2 pair extending the communities work: b26_modularity
#     (Newman partition-quality audit of the LPA labels, planted-clique
#     pinned) and b26_link_prediction (common-neighbor / Jaccard top-20);
#   * 2 entries REWRITTEN in r11 after their r10 rows (REWRITTEN_IN_ROUND):
#     b01_python_stream_sink (readback materialized + /tmp cleanup, ADVICE
#     r10 #3), b13_record_linkage_planted (pad-safety guard, ADVICE r10 #1);
#   * all 26 r5-latest oracle-bearing entries (the oldest tail — after this
#     round no oracle-bearing entry's latest row predates r6);
#   * the 17 oldest r6-latest oracle-bearing entries in registration order
#     (24 per the verdict target, minus 7 displaced to r12 by the seven
#     new/rewritten entries above: q20_part_promotion_suppliers,
#     q21_waiting_supplier, q22_dormant_customers, b07_grouping_sets,
#     b21_pandas_udf_scalar, b21_grouped_applyinpandas, b21_python_udtf).
#     The remaining 33 r6-latest entries queue for r12:
#     q20_part_promotion_suppliers, q21_waiting_supplier,
#     q22_dormant_customers, b07_grouping_sets, b21_pandas_udf_scalar,
#     b21_grouped_applyinpandas, b21_python_udtf, b08_rank_battery,
#     b08_lag_lead, b08_rolling_frames, b08_range_frame, a19_group_count,
#     a20_distinct_sort, a21_export, a26_format_truncate,
#     q1_pricing_summary, b06_agg_battery, b02_join_revenue_per_nation,
#     b04_interval_join_keyed, b04_interval_join_colocated, b05_asof_join,
#     b07_rollup, b07_cube, b09_topk_global, b09_topk_per_group,
#     b10_set_ops, b11_scalar_battery, b06_multires_rollup,
#     b10_union_schema_evolution, b16_ppm_roundtrip, b15_repetition_filter,
#     b24_curation_pipeline, b22_zorder_key.
_R11_WINDOW = [
    # --- new in r11, never checked ---
    "b06_quantile_refined",
    "b15_bm25_topk",
    "b26_communities_lpa",
    "b26_modularity",
    "b26_link_prediction",
    # --- rewritten in r11 (REWRITTEN_IN_ROUND) ---
    "b01_python_stream_sink",
    "b13_record_linkage_planted",
    # --- all 26 r5-latest oracle-bearing entries (oldest tail) ---
    "a22_having",
    "flagship_minute_flag_counts",
    "a06_box_select_pixel",
    "b25_gap_fill_interpolate",
    "b25_m4_downsample",
    "b25_time_weighted_avg",
    "b26_funnel",
    "b26_retention_cohorts",
    "b25_trend_per_series",
    "b05_asof_tolerance",
    "b08_ratio_to_report",
    "b13_minhash_portable",
    "b22_stratified_sample_hash",
    "b13_simhash_portable",
    "b13_dedup_pipeline_verified",
    "b13_incremental_dedup",
    "b01_orc_roundtrip_lineitem",
    "b13_dedup_survivors_quality",
    "b14_embedding_dedup_survivors",
    "b15_pii_scrub",
    "b01_xml_roundtrip",
    "b16_binary_ingest",
    "b13_containment_pairs",
    "b15_vocab_coverage",
    "b22_table_profile",
    "b23_snapshot_diff",
    # --- 17 oldest r6-latest oracle-bearing re-confirms (registration
    # order; the last 7 of the verdict's 24 displaced to r12 by the
    # new/rewritten entries above) ---
    "b13_ngram_jaccard",
    "b14_topk_cosine",
    "b14_ann_lsh",
    "b15_lang_id_quality",
    "b16_multimodal_meta",
    "b16_multimodal_features",
    "b16_resize",
    "b14_ann_ivf",
    "b13_dedup_clusters",
    "b13_dedup_survivors",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_type_profit",
    "q11_important_parts",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q16_supplier_part_counts",
]
assert len(_R11_WINDOW) == 50, len(_R11_WINDOW)

# The round-12 window (VERDICT r11 "Next round" #1, freshness hygiene):
# CORRECTNESS_r11 was 50/50 green, so the window is the freshness-tail
# retirement the r11 verdict prescribes — all 33 r6-latest oracle-bearing
# entries (queued in the _R11_WINDOW comment above) + the oldest r7-latest
# rows — minus the standing displacements:
#   * 6 entries NEW in r12 (never-checked outranks everything):
#     b26_link_prediction_capped (deterministic p99 hub-degree cap ahead
#     of the two-hop expansion, VERDICT r11 #2), b06_kmv_intersect
#     (k-minimum-values distinct-intersection sketch, #4),
#     b22_group_reservoir (deterministic per-group exact-k A-ES sampler,
#     #6), plus the session-2 curation pair: b13_leakage_safe_split
#     (cluster-keyed 8/1/1 split with the in-query naive-vs-cluster
#     leak audit), b22_budgeted_split (Hamilton apportionment +
#     hash-rank exact-budget proportional sample) and b06_kmv_merge
#     (the min-merge mergeability claim executed: per-scope k-sets
#     min-merged into an __ALL__ sketch, accuracy pinned);
#   * 2 entries REWRITTEN in r12 after their r11 rows (REWRITTEN_IN_ROUND):
#     b26_link_prediction (TakeOrderedAndProject top-20, ADVICE r11),
#     b06_quantile_refined (single-pass cell grid, VERDICT r11 #5);
#   * the 33 r6-latest oracle-bearing entries (after this round no
#     oracle-bearing entry's latest row predates r7);
#   * the 2 oldest r7-latest oracle-bearing entries in registration order
#     (17 per the verdict target, minus 15 displaced to r13 by the five
#     session-1 new/rewritten entries, the session-2 trio
#     b13_leakage_safe_split / b22_budgeted_split / b06_kmv_merge, and the
#     session-3 additions b15_surprisal_tertiles / b14_rrf_hybrid /
#     b22_target_mixture / b13_minhash_shard_merge /
#     b15_packing_efficiency / b26_funnel_exclusion:
#     b01_parquet_roundtrip, b01_csv_roundtrip,
#     b01_json_roundtrip, b01_orc_roundtrip, b01_text_roundtrip,
#     a08_round_to_step, a09_clamp, a13_selection_insert,
#     q12_late_shipment_priority, a29_cross_join, b16_frame_sample,
#     b15_tfidf_top_term, b15_token_counts, b15_fingerprint,
#     b15_text_stats; b05_asof_nearest leaves the queue — rewritten in
#     session 3, it re-enters the window as a REWRITTEN_IN_ROUND slot).
#     The remaining 44 entries queue for r13:
#     b01_parquet_roundtrip, b01_csv_roundtrip, b01_json_roundtrip,
#     b01_orc_roundtrip, b01_text_roundtrip,
#     a08_round_to_step, a09_clamp, a13_selection_insert,
#     a17_retract_compound, a18_forward_index, a27_regex_replace,
#     a11_affine_scale, b02_join_left_outer, b02_join_right_outer,
#     b02_join_full_outer, b03_semi_join, b03_anti_join,
#     b04_interval_join_bucketed, b10_multiset_ops, b02_lateral_topk,
#     b06_correlation_exact_moments, b15_decontaminate, b16_pgm_roundtrip,
#     b15_bpe_pair_counts, b02_bucketed_join, b26_rolling_dau,
#     b12_dedup_normalized_text, b24_token_budget_cap,
#     b22_zorder_key_3d, b22_zorder_write_readback,
#     b23_streaming_upsert_sink, b23_scd2_dimension, b13_editdist_neardup,
#     b22_zone_map_stats, b09_diversified_topk, b22_cell_sample_exact_k,
#     b22_observe_metrics, q12_late_shipment_priority, a29_cross_join,
#     b16_frame_sample, b15_tfidf_top_term, b15_token_counts,
#     b15_fingerprint, b15_text_stats.
# The round-13 window (VERDICT r12 "Next round" #1, freshness hygiene):
#   * 3 entries NEW in r13, never driver-checked (outrank everything):
#     b15_surprisal_planted (planted heavy-tail tertile recovery,
#     VERDICT r12 #3), b14_rrf_fusion_gain (RRF recall gain on planted
#     disjoint relevance, VERDICT r12 #4), b13_kmv_source_similarity
#     (constant-state KMV-Jaccard source matrix, VERDICT r12 #6);
#   * 3 entries REWRITTEN in r13 after their r12/earlier rows
#     (REWRITTEN_IN_ROUND): b14_rrf_hybrid (DECIMAL38 quotient, ADVICE
#     r12), b06_equidepth_histogram and b15_vocab_coverage (the two
#     scale bugs the new bounded-window plan audit caught);
#   * 43 of the 44 r7-latest oracle-bearing entries from the r13 queue
#     (the late-r13 addition b06_kmv_difference — never-checked outranks
#     re-confirm, the tripwire enforced the swap — displaces the last
#     re-confirm b15_text_stats to the FRONT of the r14 queue; after a
#     green r13 exactly ONE oracle-bearing entry's driver row predates
#     r8).  r14 queue: b15_text_stats, then the 46 r8-latest entries.
_R13_WINDOW = [
    # --- new in r13, never checked ---
    "b15_surprisal_planted",
    "b14_rrf_fusion_gain",
    "b13_kmv_source_similarity",
    "b06_kmv_difference",
    # --- rewritten in r13 (REWRITTEN_IN_ROUND) ---
    "b14_rrf_hybrid",
    "b06_equidepth_histogram",
    "b15_vocab_coverage",
    # --- all 44 r7-latest oracle-bearing entries (the r12 queue) ---
    "b01_parquet_roundtrip",
    "b01_csv_roundtrip",
    "b01_json_roundtrip",
    "b01_orc_roundtrip",
    "b01_text_roundtrip",
    "a08_round_to_step",
    "a09_clamp",
    "a13_selection_insert",
    "a17_retract_compound",
    "a18_forward_index",
    "a27_regex_replace",
    "a11_affine_scale",
    "b02_join_left_outer",
    "b02_join_right_outer",
    "b02_join_full_outer",
    "b03_semi_join",
    "b03_anti_join",
    "b04_interval_join_bucketed",
    "b10_multiset_ops",
    "b02_lateral_topk",
    "b06_correlation_exact_moments",
    "b15_decontaminate",
    "b16_pgm_roundtrip",
    "b15_bpe_pair_counts",
    "b02_bucketed_join",
    "b26_rolling_dau",
    "b12_dedup_normalized_text",
    "b24_token_budget_cap",
    "b22_zorder_key_3d",
    "b22_zorder_write_readback",
    "b23_streaming_upsert_sink",
    "b23_scd2_dimension",
    "b13_editdist_neardup",
    "b22_zone_map_stats",
    "b09_diversified_topk",
    "b22_cell_sample_exact_k",
    "b22_observe_metrics",
    "q12_late_shipment_priority",
    "a29_cross_join",
    "b16_frame_sample",
    "b15_tfidf_top_term",
    "b15_token_counts",
    "b15_fingerprint",
]
assert len(_R13_WINDOW) == 50, len(_R13_WINDOW)

# The round-14 window (VERDICT r13 "Next round" #1, freshness hygiene).
# CORRECTNESS_r13 was 50/50 green, so the recomputed ledger shows exactly
# ONE r7-latest oracle-bearing entry (b15_text_stats — its r13 slot was
# displaced by the late b06_kmv_difference addition) and a 46-entry
# r8-latest cohort. Slots, priority order:
#   * 1 entry REWRITTEN in r14 after its r13 row (REWRITTEN_IN_ROUND):
#     b06_equidepth_histogram (ADVICE r13 — the guarded ntile divisor);
#   * b15_text_stats, the single r7-latest holdover, heads the queue;
#   * 45 of the 46 r8-latest oracle-bearing entries (ledger recomputed
#     from the CORRECTNESS_r*.json artifacts this round — matches the
#     verdict's own recount);
#   * 3 entries NEW in r14, never driver-checked (outrank everything):
#     b14_mips_topk (MIPS via norm augmentation), b13_incremental_ingest_dedup
#     (batch-vs-corpus band join), b14_mips_lsh (asymmetric-LSH MIPS).
#     They took the two flex slots originally drafted for the first two
#     r9-latest re-confirms (b20_state_store_read,
#     b01_python_stream_source) plus the slot of the last r8 re-confirm
#     (b06_nested_lineitems) — all three displaced entries HEAD the r15
#     queue, ahead of the remaining 42 r9-latest entries.
# After a green r14 the oracle-bearing freshness floor rises to r8
# except the one displaced r8 holdover.
_R14_WINDOW = [
    # --- rewritten in r14 (REWRITTEN_IN_ROUND) ---
    "b06_equidepth_histogram",
    # --- the r7-latest holdover ---
    "b15_text_stats",
    # --- 45 of the 46 r8-latest oracle-bearing entries (the 46th,
    # b06_nested_lineitems, was displaced to the r15 queue by the
    # r14-new trio below — ADVICE r14 header fix) ---
    "b15_lang_summary",
    "b15_sequence_packing",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q17_small_quantity_revenue",
    "q18_large_volume_customer",
    "q19_discounted_revenue",
    "b22_quality_checks",
    "b06_histogram",
    "b06_percentiles",
    "b02_join_salted",
    "b06_unpivot",
    "q4_order_priority",
    "b16_wav_roundtrip",
    "b21_pandas_udaf_grouped_agg",
    "b14_ann_recall_report",
    "b16_y4m_roundtrip",
    "b23_scd2_incremental",
    "b22_compaction_readback",
    "b23_scd2_lookup",
    "b08_outlier_mad",
    "b01_parquet_merge_schema",
    "b01_partitioned_write_pruning",
    "b24_temperature_mixture",
    "b15_feature_hashing",
    "b14_pq_codes",
    "b14_pq_adc_topk",
    "b14_ivfpq_topk",
    "b01_ignore_corrupt_files",
    "b06_footer_stats_agg",
    "b02_dynamic_partition_pruning",
    "b11_null_semantics",
    "b22_dataset_fingerprint",
    "b06_heavy_hitters_tokens",
    "b06_count_min_sketch",
    "b14_ivf_recall_clustered",
    "b23_incremental_agg",
    "b16_ahash_neardup",
    "b16_phash256_neardup",
    "b16_image_dedup_survivors",
    "b13_repeated_span_coverage",
    "b13_prefix_filter_pairs",
    "b21_map_in_arrow",
    "b13_repeated_span_dedup",
    # --- new in r14, never checked (displaced the two r9-latest
    # re-confirm slots b20_state_store_read / b01_python_stream_source
    # AND the last r8 re-confirm b06_nested_lineitems back to the r15
    # queue — never-checked outranks re-confirm) ---
    "b14_mips_topk",
    "b13_incremental_ingest_dedup",
    "b14_mips_lsh",
]
assert len(_R14_WINDOW) == 50, len(_R14_WINDOW)

# The round-15 window (VERDICT r14 "Next round" #1, freshness hygiene).
# CORRECTNESS_r14 was 50/50 green, so the recomputed ledger (latest driver
# row per entry across CORRECTNESS_r*.json) shows: the 6 rows-only-by-
# design entries at r4/r7 (excluded from oracle freshness — each has a
# green exact twin), ONE r8-latest oracle-bearing entry
# (b06_nested_lineitems, displaced from the r14 window by the r14-new
# trio) and a 44-entry r9-latest cohort.  Slots, priority order:
#   * the 3 r14-displaced re-confirms HEAD the queue per the standing
#     rule (displaced re-confirm outranks ordinary re-confirm):
#     b20_state_store_read, b01_python_stream_source (both r9-latest)
#     and b06_nested_lineitems (the lone r8-latest holdover);
#   * the remaining 42 r9-latest oracle-bearing entries, in their
#     CORRECTNESS_r9.json order;
#   * 5 flex slots to the oldest r10-latest re-confirms (first five in
#     CORRECTNESS_r10.json order).  Any entry NEW in r15 takes these
#     flex slots first (never-checked outranks re-confirm) — displaced
#     names then head the r16 queue.
# After a green r15 the oracle-bearing freshness floor rises to r10
# except the 5 flex-seated r10 entries' cohort-mates.
_R15_WINDOW = [
    # --- the 3 r14-displaced re-confirms ---
    "b20_state_store_read",
    "b01_python_stream_source",
    "b06_nested_lineitems",
    # --- the remaining 42 r9-latest oracle-bearing entries ---
    "q7_volume_shipping",
    "q10_returned_items",
    "q14_promo_revenue",
    "b08_sessionize",
    "b23_merge_upsert",
    "b23_apply_changelog",
    "b02_bloom_filter_join",
    "b02_aqe_skew_join",
    "b15_pmi_collocations",
    "b15_pmi_planted",
    "b06_heavy_hitters_planted",
    "b11_variant_extract",
    "b01_python_datasource",
    "b21_polymorphic_udtf",
    "b21_udtf_partitioned",
    "b26_recursive_hierarchy",
    "b11_collated_group",
    "b24_scripting_lang_coverage",
    "b11_parameterized_sql",
    "b06_approx_top_k_exact",
    "b06_hll_registers",
    "b09_skyline",
    "b25_max_concurrency",
    "b06_bitmap_distinct",
    "b25_interval_merge",
    "b13_record_linkage",
    "b25_ewma_dyadic",
    "b26_attribution_last_touch",
    "b15_phrase_search",
    "b16_scene_cuts",
    "b25_cusum_drift",
    "b04_range_anti_join",
    "b26_top_paths",
    "b22_kanonymity",
    "b13_source_overlap",
    "b25_autocorr",
    "b22_proportional_allocation",
    "b19_lateness_profile",
    "b20_stream_stream_left_outer",
    "b06_gini",
    "b16_silence_runs",
    "b14_knn_accuracy",
    # --- 5 flex slots: oldest r10-latest re-confirms ---
    "a04_derived_timestamp",
    "a05_range_filter",
    "a07_extents",
    "a15_composite_key",
    "a13_selection_toggle",
]
assert len(_R15_WINDOW) == 50, len(_R15_WINDOW)

# The round-16 window (VERDICT r15 "Next round" #4): CORRECTNESS_r15 was
# 50/50 green, so freshness slots go to the REWRITTEN_IN_ROUND backlog
# first — none of the r15 optimization rewrites (b26 graph family, the 7
# CC consumers, the b14 single-parse family) landed in the r15 sample, and
# this round's own rewrites (the b13 int64-shingle batch, the zscore
# join-back, the single-parse SQL entries) join them. Slots, priority
# order:
#   * all 45 oracle-bearing entries rewritten in r15/r16
#     (REWRITTEN_IN_ROUND == 15 or 16; b13_minhash_lsh and b13_simhash
#     are rows-only-by-design and stay excluded from oracle freshness);
#   * 5 flex slots to the oldest (r10-latest) oracle-bearing re-confirms
#     not already seated above, in their CORRECTNESS_r10.json order.
# The round-18 window: no correctness round has run since r16, so the r17
# selection rewrites still wait for rows. Slots, priority order:
#   * the 13 streaming entries whose state-partition count changed in r18
#     and the 6 connected-components consumers (REWRITTEN_IN_ROUND == 18);
#   * the 3 selection entries rewritten in r17 plus their 2 siblings;
#   * 26 oldest-row oracle-bearing re-confirms: the r10-latest rows, then
#     r11-latest rows, registry order within a round.
_R18_WINDOW = [
    # --- streaming state partitions, rewritten in r18 (13) ---
    "b17_stream_tumbling",
    "b17_stream_sliding",
    "b18_stream_session",
    "b19_stream_watermark",
    "b20_stream_dedup",
    "b20_stream_toggle",
    "b20_stream_stream_join",
    "b17_stream_static_enrich",
    "b17_stream_quantile_sketch",
    "b20_stream_stream_left_outer",
    "b20_state_store_read",
    "b01_python_stream_source",
    "b01_python_stream_source_parallel",
    # --- connected-components consumers, rewritten in r18 (6) ---
    "b13_dedup_clusters",
    "b13_dedup_survivors",
    "b13_dedup_survivors_quality",
    "b14_embedding_dedup_survivors",
    "b16_image_dedup_survivors",
    "b13_leakage_safe_split",
    # --- selection operators, rewritten in r17 (3) + siblings (2) ---
    "a13_selection_toggle",
    "a16_semi_join_apply",
    "a17_anti_join_retract",
    "a13_selection_insert",
    "a17_retract_compound",
    # --- r10-latest re-confirms (22) ---
    "b12_dedup_exact",
    "b06_pivot",
    "b22_mixture_resample",
    "a18_inverted_index",
    "b06_exact_distinct",
    "b14_embedding_neardup_lsh",
    "b15_chunk_documents",
    "b22_train_val_split",
    "b22_global_shuffle",
    "b15_repetition_score",
    "b15_rarity_score",
    "b01_json_permissive",
    "b22_mixture_upsample",
    "b22_drift_chisq",
    "b22_drift_ks",
    "b22_winsorize",
    "b16_resize_nn",
    "b26_transition_bigrams",
    "b26_bfs_levels",
    "b26_kcore",
    "b26_sssp_bounded",
    "b26_assortativity",
    # --- oldest r11-latest re-confirms (4) ---
    "b14_ann_lsh",
    "b15_lang_id_quality",
    "b16_multimodal_meta",
    "b16_multimodal_features",
]
assert len(_R18_WINDOW) == 50, len(_R18_WINDOW)

_R16_WINDOW = [
    # --- rewritten in r15, never driver-checked since (27) ---
    "b26_triangle_count",
    "b26_clustering_coeff",
    "b26_communities_lpa",
    "b26_modularity",
    "b13_dedup_clusters",
    "b13_dedup_survivors",
    "b13_dedup_survivors_quality",
    "b13_leakage_safe_split",
    "b14_embedding_dedup_survivors",
    "b16_image_dedup_survivors",
    "b14_topk_cosine",
    "b14_pq_codes",
    "b14_pq_adc_topk",
    "b14_ivfpq_topk",
    "b14_mips_lsh",
    "b14_mips_topk",
    "b14_ann_recall_report",
    "b14_ivf_recall_clustered",
    "b14_knn_accuracy_clustered",
    "b13_minhash_shard_merge",
    "b13_incremental_ingest_dedup",
    "b16_ahash_neardup",
    "b16_phash256_neardup",
    "b22_zorder_key",
    "b22_zorder_key_3d",
    "b22_zorder_write_readback",
    "b01_python_stream_source_parallel",
    # --- rewritten in r16 (18) ---
    "b13_ngram_jaccard",
    "b13_containment_pairs",
    "b13_repeated_span_coverage",
    "b13_repeated_span_dedup",
    "b13_prefix_filter_pairs",
    "b15_decontaminate",
    "b13_source_overlap",
    "b13_kmv_source_similarity",
    "b13_dedup_pipeline_verified",
    "b08_outlier_zscore",
    "b14_rrf_hybrid",
    "b14_rrf_fusion_gain",
    "b06_kmv_intersect",
    "b06_kmv_difference",
    "b06_kmv_merge",
    "b20_stream_stream_left_outer",
    "b15_surprisal_tertiles",
    "b15_surprisal_planted",
    # --- 5 flex slots: oldest r10-latest re-confirms, r10 order (the
    # last two, b26_bfs_levels / b26_kcore, displaced to the r17 queue by
    # the late-r16 surprisal rewrites — rewritten outranks re-confirm) ---
    "b06_quantile_histogram",
    "b17_stream_quantile_sketch",
    "b22_benford_digits",
    "b26_cooccurrence_skew_guard",
    "b26_pagerank_fixedpoint",
]
assert len(_R16_WINDOW) == 50, len(_R16_WINDOW)

# r12 window, kept for the ledger (superseded by _R13_WINDOW above):
_R12_WINDOW = [
    # --- new in r12, never checked (the session-2 trio displaced
    # b01_csv_roundtrip / b01_json_roundtrip / a13_selection_insert's
    # cohort; the session-3 pair displaces the last two r7 re-confirms,
    # q12_late_shipment_priority / a29_cross_join, to the r13 queue) ---
    "b26_link_prediction_capped",
    "b06_kmv_intersect",
    "b22_group_reservoir",
    "b13_leakage_safe_split",
    "b22_budgeted_split",
    "b06_kmv_merge",
    "b15_surprisal_tertiles",
    "b14_rrf_hybrid",
    "b22_target_mixture",
    "b13_minhash_shard_merge",
    "b15_packing_efficiency",
    "b26_funnel_exclusion",
    "b05_asof_nearest",
    # --- rewritten in r12 (REWRITTEN_IN_ROUND) ---
    "b26_link_prediction",
    "b06_quantile_refined",
    # --- all 33 r6-latest oracle-bearing entries (oldest tail) ---
    "q20_part_promotion_suppliers",
    "q21_waiting_supplier",
    "q22_dormant_customers",
    "b07_grouping_sets",
    "b21_pandas_udf_scalar",
    "b21_grouped_applyinpandas",
    "b21_python_udtf",
    "b08_rank_battery",
    "b08_lag_lead",
    "b08_rolling_frames",
    "b08_range_frame",
    "a19_group_count",
    "a20_distinct_sort",
    "a21_export",
    "a26_format_truncate",
    "q1_pricing_summary",
    "b06_agg_battery",
    "b02_join_revenue_per_nation",
    "b04_interval_join_keyed",
    "b04_interval_join_colocated",
    "b05_asof_join",
    "b07_rollup",
    "b07_cube",
    "b09_topk_global",
    "b09_topk_per_group",
    "b10_set_ops",
    "b11_scalar_battery",
    "b06_multires_rollup",
    "b10_union_schema_evolution",
    "b16_ppm_roundtrip",
    "b15_repetition_filter",
    "b24_curation_pipeline",
    "b22_zorder_key",
    # --- 2 oldest r7-latest oracle-bearing re-confirms (registration
    # order; 15 of the verdict's 17 displaced to r13 by the new/rewritten
    # entries above) ---
    "b12_dedup_composite_key",
    "b14_embedding_neardup",
]
assert len(_R12_WINDOW) == 50, len(_R12_WINDOW)

# r9 window, kept for the ledger (superseded by _R10_WINDOW above):
_R9_WINDOW = [
    # --- 19 new in r9, never checked ---
    "b15_pmi_planted",
    "b06_heavy_hitters_planted",
    "b11_variant_extract",
    "b01_python_datasource",
    "b01_python_stream_source",
    "b21_polymorphic_udtf",
    "b21_udtf_partitioned",
    "b20_state_store_read",
    # late-r9 additions (recursive CTE, collation, iterative PageRank,
    # SQL scripting, parameterized SQL) — never-checked, so they displace
    # the last 5 r5-latest re-confirms (a15_composite_key,
    # a13_selection_toggle, a16_semi_join_apply, a07_extents,
    # a05_range_filter -> r10)
    "b26_recursive_hierarchy",
    "b11_collated_group",
    "b26_pagerank_fixedpoint",
    "b24_scripting_lang_coverage",
    "b11_parameterized_sql",
    "b06_approx_top_k_exact",
    "b06_hll_registers",
    "b26_bfs_levels",
    "b09_skyline",
    "b26_kcore",
    "b25_max_concurrency",
    # session-2 r9 additions — never-checked, so they displace the last
    # 3 r5-latest re-confirms (b18_stream_session, b19_stream_watermark,
    # b20_stream_dedup -> r10)
    "b06_bitmap_distinct",
    "b25_interval_merge",
    "b26_sssp_bounded",
    # second session-2 pair — displace b17_stream_tumbling /
    # b17_stream_sliding -> r10
    "b13_record_linkage",
    "b25_ewma_dyadic",
    # third session-2 pair — displace b12_dedup_exact /
    # b06_equidepth_histogram -> r10
    "b26_attribution_last_touch",
    "b15_phrase_search",
    # scene-cut detection — displaces b26_transition_bigrams -> r10
    "b16_scene_cuts",
    # CUSUM change-point — displaces b16_resize_nn -> r10
    "b25_cusum_drift",
    # range anti-join + path mining — displace b22_winsorize /
    # b22_drift_ks -> r10
    "b04_range_anti_join",
    "b26_top_paths",
    # k-anonymity audit — displaces b22_drift_chisq -> r10
    "b22_kanonymity",
    # source overlap + exact ACF — displace b01_json_permissive /
    # b22_mixture_upsample -> r10
    "b13_source_overlap",
    "b25_autocorr",
    # Hamilton apportionment — displaces b15_rarity_score -> r10
    "b22_proportional_allocation",
    # oracle-hardened in session 2 (REWRITTEN_IN_ROUND) — rewritten
    # outranks re-confirm; displaces b15_repetition_score -> r10
    "b08_sessionize",
    # clustering coefficient — displaces b22_global_shuffle -> r10
    "b26_clustering_coeff",
    # lateness audit — displaces b22_train_val_split -> r10
    "b19_lateness_profile",
    # outer stream-stream join — displaces b15_chunk_documents -> r10
    "b20_stream_stream_left_outer",
    # concentration + degree mixing — displace b14_embedding_neardup_lsh /
    # b06_exact_distinct -> r10
    "b06_gini",
    "b26_assortativity",
    # audio segmentation — displaces b08_outlier_zscore -> r10
    "b16_silence_runs",
    # ground-truth kNN eval — displaces b22_mixture_resample -> r10
    "b14_knn_accuracy",
    # --- 3 rewritten in r9 (REWRITTEN_IN_ROUND) ---
    "b02_aqe_skew_join",
    "b02_bloom_filter_join",
    "b15_pmi_collocations",
    # --- 5 oldest re-confirms: every oracle-bearing r4-latest entry
    # except the seventeen displaced late to r10 (b06_equidepth_histogram /
    # b26_transition_bigrams / b16_resize_nn / b22_winsorize /
    # b22_drift_ks / b22_drift_chisq / b01_json_permissive /
    # b22_mixture_upsample / b15_rarity_score) ---
    "q7_volume_shipping",
    "q10_returned_items",
    "q14_promo_revenue",
    "b23_merge_upsert",
    "b23_apply_changelog",
    # (b26_transition_bigrams, b06_equidepth_histogram and the
    # r5-latest re-confirms b18_stream_session / b19_stream_watermark /
    # b20_stream_dedup / b17_stream_tumbling / b17_stream_sliding /
    # b12_dedup_exact were displaced to r10 by the eight session-2
    # additions — never-checked outranks re-confirm)
]
assert len(_R9_WINDOW) == 50, len(_R9_WINDOW)

# Import-time guard: every oracle may only reference driver-registered views
# or its own CTEs (base.check_oracle_tables) — a typo'd table name fails HERE,
# not in the driver's DuckDB run a round later.
from ..schemas import TABLE_SCHEMAS as _SCHEMAS  # noqa: E402

from .base import check_oracle_tables as _check_oracle_tables  # noqa: E402

_check_oracle_tables(QUERIES, set(_SCHEMAS))

# The round whose window is active below; bench.BENCH_ROUND (the label
# stamped on new BENCH_RECORDS readings) must match — tripwire in
# tests/test_bench_records.py keeps the two bumps atomic.
WINDOW_ROUND = 18

_rest = [n for n in QUERIES if n not in _R18_WINDOW]
_order = _R18_WINDOW + _rest
_reordered = {n: QUERIES[n] for n in _order}
QUERIES.clear()
QUERIES.update(_reordered)


def queries():
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_sql():
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
