"""Named query suite — the driver-checkable contract (SURVEY.md §2).

Each entry pairs a PySpark callable `(spark, sf_dir) -> DataFrame` with an
equivalent ANSI-SQL oracle string for DuckDB (None → rows-only check for
genuinely non-SQL-expressible ops). `__spark_entry__.py` re-exports these.
Entries live in one module per operator family; importing a module
registers its entries.
"""

from .base import QUERIES, Query, query  # noqa: F401

from . import cdc  # noqa: F401
from . import curation  # noqa: F401
from . import dedup  # noqa: F401
from . import formats  # noqa: F401
from . import graph  # noqa: F401
from . import joins  # noqa: F401
from . import media  # noqa: F401
from . import reference_parity  # noqa: F401
from . import relational  # noqa: F401
from . import sketches  # noqa: F401
from . import streaming_suite  # noqa: F401
from . import text  # noqa: F401
from . import timeseries  # noqa: F401
from . import tpch_full  # noqa: F401
from . import vectors  # noqa: F401
from . import window_suite  # noqa: F401

# Entries whose implementation changed materially in round N after their
# last driver row: the rotation tripwire treats a driver row older than the
# rewrite round as stale (ADVICE r6 #3). Whenever an already-green entry's
# code path is rewritten, give it a line under that round, or move its
# existing line there: one line per entry, holding its latest round
# (tests/test_suite_oracle.py fails on a repeated key, which would
# otherwise silently override the earlier line). A round's comment may
# name entries whose line has since moved to a later round.
REWRITTEN_IN_ROUND = {
    "b26_rolling_dau": 6,
    "b15_bpe_pair_counts": 6,
    "b02_bucketed_join": 6,
    "b04_interval_join_bucketed": 6,
    # r9 (ADVICE r8 + VERDICT r8 #2): execution-forcing / scratch-path /
    # helper-refactor changes after the r8 driver rows
    "b15_pmi_collocations": 9,
    # r9 session 2: oracle hardened to the (ts, event_id) total order
    # (the latent tie ambiguity b26_top_paths documented)
    "b08_sessionize": 9,
    # r10 (VERDICT r9 #2): the seven graph entries' co-occurrence edge
    # build refactored onto the shared, skew-guarded helper
    # (operators/graph.py cooccurrence_cells/cooccurrence_pairs) — same
    # join semantics, but the code path changed after their r8/r9 rows
    "b26_bfs_levels": 10,
    "b26_kcore": 10,
    "b26_sssp_bounded": 10,
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
    # r12 session 3 (the window-frame law, docs/SCALE.md
    # "Negation-constrained funnel"): asof_join_nearest's forward candidate
    # moved from first() over (CURRENT ROW, UNBOUNDED FOLLOWING) — O(n^2)
    # per join key, measured 0.94 -> 13.99 s as rows/partition grew 400 ->
    # 6451 — to the semantics-identical reverse-order running last() (flat
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
    "b26_communities_lpa": 15,
    "b14_topk_cosine": 15,
    "b14_pq_codes": 15,
    "b14_pq_adc_topk": 15,
    "b14_mips_lsh": 15,
    "b14_mips_topk": 15,
    "b14_ann_recall_report": 15,
    "b14_ivf_recall_clustered": 15,
    "b14_knn_accuracy_clustered": 15,
    "b13_minhash_shard_merge": 15,
    "b13_incremental_ingest_dedup": 15,
    "b22_zorder_key": 15,
    "b22_zorder_key_3d": 15,
    "b22_zorder_write_readback": 15,
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
    "b14_rrf_hybrid": 16,
    "b14_rrf_fusion_gain": 16,
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
    # r19: zscore_outliers names its internal columns so that they cannot
    # collide with the input's columns.
    "b08_outlier_zscore": 19,
    # r20: CC adjacency in one projection, fuzzy pre-collapse in one window;
    # the b14 survivors oracle materializes its pair CTE (same rows).
    "b13_dedup_clusters": 20,
    "b13_dedup_survivors_quality": 20,
    "b14_embedding_dedup_survivors": 20,
    # r21: the joins whose final plan raced under AQE are pinned by hint,
    # and the conf-swapping entries go through session.scoped_conf.
    "b06_kmv_intersect": 21,
    "b06_kmv_difference": 21,
    "b13_leakage_safe_split": 21,
    "b26_pagerank_fixedpoint": 21,
    "b26_modularity": 21,
    "b02_bloom_filter_join": 21,
    "b02_aqe_skew_join": 21,
    "b06_footer_stats_agg": 21,
    # r22: the last two racing graph joins are pinned by hint.
    "b26_assortativity": 22,
    "b26_clustering_coeff": 22,
    # r23: the fuzzy-dedup canon-map join, which raced under AQE, is pinned
    # by hint.
    "b13_dedup_survivors": 23,
    # r24: the multimodal stages share one (doc_id, payload, meta) batch
    # loop, one netpbm codec, one pixel-sum stage and one raster shape
    # check, and the module pickles by value; the two IVF entries share one
    # probe-list helper.
    "b16_image_dedup_survivors": 24,
    "b16_resize_nn": 24,
    "b16_pgm_roundtrip": 24,
    "b16_ppm_roundtrip": 24,
    "b16_binary_ingest": 24,
    "b16_wav_roundtrip": 24,
    "b16_y4m_roundtrip": 24,
    "b16_ahash_neardup": 24,
    "b16_phash256_neardup": 24,
    "b16_scene_cuts": 24,
    "b16_silence_runs": 24,
    "b16_multimodal_features": 24,
    "b16_resize": 24,
    "b16_frame_sample": 24,
    "b14_ivfpq_topk": 24,
    "b14_ann_ivf": 24,
}

# The driver's correctness harness checks the FIRST 50 entries of
# queries(); this list is put first, in this order. Seat priority: entries
# rewritten since their last driver row (REWRITTEN_IN_ROUND), then entries
# never checked, then the oldest-row oracle-bearing re-confirms. Rotate by
# editing the list in place and bumping WINDOW_ROUND (with
# bench.BENCH_ROUND); tests/test_suite_oracle.py checks every seat.
DRIVER_WINDOW = [
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
    # --- pinned racing dedup join, rewritten in r23 (1) ---
    "b13_dedup_survivors",
    # --- connected-components consumers, rewritten in r20 (3) + r24 (1) ---
    "b13_dedup_clusters",
    "b13_dedup_survivors_quality",
    "b14_embedding_dedup_survivors",
    "b16_image_dedup_survivors",
    # --- pinned racing joins + scoped conf swaps, rewritten in r21 (8) ---
    "b06_kmv_intersect",
    "b06_kmv_difference",
    "b13_leakage_safe_split",
    "b26_pagerank_fixedpoint",
    "b26_modularity",
    "b02_bloom_filter_join",
    "b02_aqe_skew_join",
    "b06_footer_stats_agg",
    # --- pinned racing graph joins, rewritten in r22 (2) ---
    "b26_assortativity",
    "b26_clustering_coeff",
    # --- selection operators, rewritten in r17 (3) + siblings (2) ---
    "a13_selection_toggle",
    "a16_semi_join_apply",
    "a17_anti_join_retract",
    "a13_selection_insert",
    "a17_retract_compound",
    # --- multimodal batch loop + IVF probe helper, rewritten in r24 (15) ---
    "b16_resize_nn",
    "b16_pgm_roundtrip",
    "b16_ppm_roundtrip",
    "b16_binary_ingest",
    "b16_wav_roundtrip",
    "b16_y4m_roundtrip",
    "b16_ahash_neardup",
    "b16_phash256_neardup",
    "b16_scene_cuts",
    "b16_silence_runs",
    "b16_multimodal_features",
    "b16_resize",
    "b16_frame_sample",
    "b14_ivfpq_topk",
    "b14_ann_ivf",
    # --- oldest r10-latest re-confirm (1) ---
    "b12_dedup_exact",
    # --- zscore internal columns made collision-proof, rewritten in r19 (1) ---
    "b08_outlier_zscore",
]

# Import-time guard: every oracle may only reference driver-registered views
# or its own CTEs (base.check_oracle_tables) — a typo'd table name fails HERE,
# not in the driver's DuckDB run a round later.
from ..schemas import TABLE_SCHEMAS as _SCHEMAS  # noqa: E402

from .base import check_oracle_tables as _check_oracle_tables  # noqa: E402

_check_oracle_tables(QUERIES, set(_SCHEMAS))

# The round of the active window; bench.BENCH_ROUND (the label stamped on
# new BENCH_RECORDS readings) must match — tripwire in
# tests/test_bench_records.py keeps the two bumps atomic.
WINDOW_ROUND = 24

if len(DRIVER_WINDOW) != 50 or len(set(DRIVER_WINDOW)) != 50:
    raise ValueError("DRIVER_WINDOW must name 50 distinct entries")

_reordered = {n: QUERIES[n] for n in DRIVER_WINDOW}
_reordered.update({n: q for n, q in QUERIES.items() if n not in _reordered})
QUERIES.clear()
QUERIES.update(_reordered)


def queries():
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_sql():
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
