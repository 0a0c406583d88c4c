#!/usr/bin/env python
"""Benchmark harness: runs the headline suite queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output (r9): a detail JSON line first (full per-query dicts, session +
fresh-JVM isolated runs; also written to BENCH_DETAIL.json), then the
compact headline JSON line LAST: {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {v1 query: sec, ...}, "sf": ..., per-set walls,
"isolated_walls": ...}.  The split exists because the driver's artifact
keeps only a ~2 KB stdout tail — the final line must carry every headline
number by itself (VERDICT r8 #7), and the fresh-JVM per-set walls
(VERDICT r8 #4) are the cross-round numbers contention cannot distort.
Env: SPARK_GRAFT_BENCH_ISOLATED=0 skips the isolation pass (quick local
iteration); SPARK_GRAFT_BENCH_SET=v1..v11 runs one set (child mode);
SPARK_GRAFT_BENCH_SET_RUNS=N (default 3) fresh-JVM children per set, the
reported isolated wall is their MIN (VERDICT r11 #3 — robust to the
measured cyclic external load; children default to reps=2 when N>1).

Each query executes its FULL physical plan into a noop sink (no driver
collect cost, no result pruning shortcuts). Timings are the median of
warm runs ($SPARK_GRAFT_BENCH_REPS total runs per query, first run
discarded as first-touch), so they measure steady-state plan execution,
not JVM startup, file-footer caching, or codegen compilation.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dataselector_spark.session import get_spark  # noqa: E402
from dataselector_spark.suite import QUERIES  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",  # B6 aggregation throughput
    "q3_shipping_priority",  # B2/B9 join + top-k
    "q5_local_supplier_volume",  # B2 six-table join, broadcast dims
    "q6_forecast_revenue",  # scan-filter-agg, full pushdown
    "q18_large_volume_customer",  # HAVING semi-join + top-100
    "q19_discounted_revenue",  # disjunctive broadcast join
    "q9_product_type_profit",  # five-table join, two decimal aggregates
    "q21_waiting_supplier",  # non-equi semi/anti joins on deduped pairs
    "b02_join_revenue_per_nation",  # B2 multi-way join
    "b05_asof_join",  # B5 merge-asof (shuffle+sort window)
    "b04_interval_join_bucketed",  # B4 bucketed range join
    "b08_outlier_zscore",  # B8 window QC pass
    "b09_topk_per_group",  # B9 ranking window
    "b12_dedup_exact",  # B12 exact dedup
    "b13_minhash_lsh",  # B13 fuzzy dedup (explode+agg+self-join)
    "b13_ngram_jaccard",  # B13 inverted-index jaccard with DF-cap skew guard
    "b13_dedup_survivors",  # B13 pairs→components→anti-join (iterative CC)
    "b13_dedup_pipeline_verified",  # B13 band-prune + exact-Jaccard verify
    "b13_incremental_dedup",  # B13 batch-vs-corpus dedup, one batch shuffle
    "b14_topk_cosine",  # B14 vector scan
    "b15_text_stats",  # B15 text pass (higher-order funcs)
    "b15_sequence_packing",  # B15 running-token-count bin assignment
    "b15_decontaminate",  # B15 broadcast eval-shingle overlap
    "b22_global_shuffle",  # B22 sharded deterministic corpus order
    "b22_drift_ks",  # B22 KS drift on distributed two-level prefix sums
    "b23_apply_changelog",  # B23 CDC compaction (single-shuffle window)
    "b25_gap_fill_interpolate",  # B25 densify + linear interpolation
    "b25_m4_downsample",  # B25 chart-pixel reduction (partial-agg shuffle)
    "b25_time_weighted_avg",  # B25 irregular-sample TWA (one window+agg)
    "b17_stream_tumbling",  # B17 streaming windowed agg
    "flagship_minute_flag_counts",  # reference read path
]

# HEADLINE_V2 (VERDICT r6 #5): the round-6 additions, FROZEN as a second
# versioned wall (`headline_v2_wall`) so r7+ rounds compare them
# round-over-round exactly like the 31-query v1 set. Excluded from `value`
# so the v1 metric stays comparable with BENCH_r3..r6. For the colocated
# interval join, only the first COLD rep pays the one-time bucketed WRITE
# of both sides (ensure_bucketed_table's fingerprint marker skips it on
# later reps — and on later bench runs entirely, if /tmp persists); the
# reported median-of-warm number is the amortized zero-shuffle probe
# (ADVICE r6 #4; write-vs-probe split measured in docs/SCALE.md "Joins").
HEADLINE_V2 = [
    "b26_rolling_dau",  # B26 single-scan DAU/WAU contribution explode
    "b15_repetition_filter",  # B15 Gopher repetition quality signals
    "b16_ppm_roundtrip",  # B16 color codec roundtrip (Arrow mapInPandas)
    "b22_zorder_key",  # B22 Morton key, map-only bit arithmetic
    "b24_curation_pipeline",  # B24 end-to-end curation, 1 scan + 1 shuffle
    "b04_interval_join_colocated",  # B4 bucketed-write + zero-shuffle probe
]

# HEADLINE_V3: the round-7 additions, FROZEN the same way (reported as
# `headline_v3_wall`, excluded from `value`). Four r7 entries are left out
# on purpose: b22_zorder_write_readback, b23_streaming_upsert_sink and
# b22_compaction_readback time their own file WRITES (measured separately
# in docs/SCALE.md ladders, not a steady-state probe), and b22_observe_metrics
# triggers its own internal action, which a per-query wall would
# double-count.
HEADLINE_V3 = [
    "b05_asof_nearest",  # B5 nearest-direction merge-asof
    "b12_dedup_normalized_text",  # B12 normalize->md5-digest dedup
    "b24_token_budget_cap",  # B24 per-domain running-budget cap
    "b22_zorder_key_3d",  # B22 3-D Morton key, map-only
    "b23_scd2_dimension",  # B23 SCD2 intervals, single lead() window
    "b13_editdist_neardup",  # B13 blocked exact Levenshtein
    "b22_zone_map_stats",  # B22 data-skipping manifest pass
    "b09_diversified_topk",  # B9 per-key cap + TakeOrdered
    "b22_cell_sample_exact_k",  # B22 exact-k hash-ordered sample
    "b16_wav_roundtrip",  # B16 WAV codec roundtrip (Arrow mapInPandas)
    "b16_y4m_roundtrip",  # B16 Y4M video container roundtrip
    "b14_ann_recall_report",  # B14 recall@10 eval, one broadcast pass
    "b21_pandas_udaf_grouped_agg",  # B21 GROUPED_AGG pandas UDAF
    "b23_scd2_incremental",  # B23 incremental SCD2 maintenance
    "b14_pq_codes",  # B14 PQ encode, map-only literal arithmetic
    "b14_pq_adc_topk",  # B14 ADC lookup-table top-k over codes
    "b14_ivfpq_topk",  # B14 IVF prune + ADC rerank, end to end
]


# HEADLINE_V4: the round-8 additions, FROZEN the same way (reported as
# `headline_v4_wall`, excluded from `value`). b02_bloom_filter_join is left
# out for the same reason as the V3 write-timing entries: it executes its
# own parquet write (the scoped-conf readback pattern), which a steady-state
# per-query wall would mis-measure.
HEADLINE_V4 = [
    "b06_heavy_hitters_tokens",  # B6 exact frequent items, partial-agg shuffle
    "b06_count_min_sketch",  # B6 value-checked CMS, 256-cell bounded shuffle
    "b14_ivf_recall_clustered",  # B14 recall@10 on the clustered corpus
    "b23_incremental_agg",  # B23 mergeable partial-agg refresh
    "b16_ahash_neardup",  # B16 perceptual-hash image dedup, banded
    "b16_phash256_neardup",  # B16 wide-hash image dedup (16-bit bands)
    "b16_image_dedup_survivors",  # B16 image pairs -> CC -> survivors
    "b13_repeated_span_coverage",  # B13 cross-doc duplicated-span fraction
    "b13_prefix_filter_pairs",  # B13 lossless prefix-filtered Jaccard join
    "b21_map_in_arrow",  # B21 zero-copy Arrow batch profile + JVM agg
    "b26_triangle_count",  # B26 degree-oriented exact triangle counting
    "b15_pmi_collocations",  # B15 log-free PMI collocation top-20
    "b13_repeated_span_dedup",  # B13 duplicated-span corpus rewrite
    "b06_nested_lineitems",  # B6 nested array<struct> higher-order compute
]

# r7's measured probe value — the normalization anchor (VERDICT r7 #3).
# `*_normalized` walls = raw * (CPU_PROBE_REF / cpu_probe_s): they answer
# "what would this wall have been on the r7-era host", so cross-round
# comparisons divide out shared-box speed drift instead of hand-arguing it.
CPU_PROBE_REF = 1.116


def _cpu_probe() -> float:
    """Single-core reference probe (2M chained md5 digests): a fixed pure-CPU
    workload whose wall time calibrates the HOST, not the engine. Round-over-
    round bench walls on this shared box swing with boots/neighbors (r7
    measured two isolated runs at 1.25x r6's wall with zero code changes on
    the measured paths); dividing headline walls by cpu_probe_s ratio
    separates host drift from real regressions before anyone chases noise."""
    import hashlib

    t0 = time.perf_counter()
    h = b"x"
    for _ in range(2_000_000):
        h = hashlib.md5(h).digest()
    return round(time.perf_counter() - t0, 3)


def _md5_worker(_arg) -> int:
    """One multi-core probe worker: 1M chained md5 digests (module-level so
    multiprocessing can pickle it under any start method)."""
    import hashlib

    h = b"x"
    for _ in range(1_000_000):
        h = hashlib.md5(h).digest()
    return len(h)


def _cpu_probe_multi(workers: int = 8) -> float | None:
    """Multi-core reference probe (VERDICT r11 #3): N parallel PROCESSES
    each running half the single-core loop, wall of the whole batch.  The
    single-core probe demonstrably cannot see multi-core contention (all
    ten r11 runs: probe spreads 1.19-1.65 while no VM-local process was
    above 1% CPU — an external tenant eating OTHER cores leaves one-core
    md5 untouched until the scheduler rotates); a saturated batch of 8
    slows roughly in proportion to how many cores the neighbor holds.
    Chained small-block md5 holds the GIL, so threads cannot express
    parallelism — processes (fork) are required."""
    import multiprocessing as mp

    try:
        ctx = mp.get_context("fork")
        t0 = time.perf_counter()
        with ctx.Pool(workers) as pool:
            pool.map(_md5_worker, range(workers))
        return round(time.perf_counter() - t0, 3)
    except Exception:  # pragma: no cover - restricted environments
        return None


# HEADLINE_V5: the round-9 additions, FROZEN the same way (reported as
# `headline_v5_wall`, excluded from `value`).
HEADLINE_V5 = [
    "b15_pmi_planted",  # B15 PMI with planted collocations (signal recovery)
    "b06_heavy_hitters_planted",  # B6 heavy hitters with planted hot keys
    "b11_variant_extract",  # B11 VARIANT parse/extract roundtrip, JVM-side
    "b01_python_datasource",  # B1 Python Data Source API connector scan
    "b20_state_store_read",  # B20 checkpointed stream + statestore read
    "b01_python_stream_source",  # B1/B17 Python streaming connector
    "b21_polymorphic_udtf",  # B21 analyze()-schema UDTF over TABLE()
    "b21_udtf_partitioned",  # B21 stateful UDTF, PARTITION BY + ORDER BY
    "b26_recursive_hierarchy",  # B26 Spark 4 recursive CTE hierarchy walk
    "b11_collated_group",  # B11 UTF8_LCASE collated GROUP BY
    "b26_pagerank_fixedpoint",  # B26 iterative PageRank, fixed-point bigint
    "b24_scripting_lang_coverage",  # B24 SQL scripting WHILE-loop coverage
    "b06_approx_top_k_exact",  # B6 frequent-items sketch, exact regime
    "b06_hll_registers",  # B6 value-checked HyperLogLog registers + estimate
    "b26_bfs_levels",  # B26 multi-source frontier BFS hop distance
    "b09_skyline",  # B9 2-D skyline via local-skyline-then-merge
    "b26_kcore",  # B26 k-core decomposition by iterative peeling
    "b25_max_concurrency",  # B25 interval-overlap peak via boundary sweep
    "b06_bitmap_distinct",  # B6 exact distinct via bitmap aggregates
    "b25_interval_merge",  # B25 interval coalescing (islands & gaps)
    "b26_sssp_bounded",  # B26 bounded-hop weighted SSSP (Bellman-Ford)
    "b13_record_linkage",  # B13 blocked cross-table record linkage
    "b25_ewma_dyadic",  # B25 exact dyadic-weight EWMA (bigint shifts)
    "b26_attribution_last_touch",  # B26 conversion credit, one window pass
    "b15_phrase_search",  # B15 positional-postings phrase query
    "b16_scene_cuts",  # B16 shot-boundary detection, planted scene grid
    "b25_cusum_drift",  # B25 CUSUM change-point, closed-form windows
    "b04_range_anti_join",  # B4 bucketed range anti-join (no-error cohort)
    "b26_top_paths",  # B26 session path mining, order-explicit assembly
    "b22_kanonymity",  # B22 k-anonymity privacy audit (class census)
    "b13_source_overlap",  # B13 cross-source shingle Jaccard matrix
    "b25_autocorr",  # B25 exact ACF via centered integer products
    "b22_proportional_allocation",  # B22 Hamilton apportionment, exact
    "b26_clustering_coeff",  # B26 transitivity: 3T/W, exact ints + 1 div
    "b19_lateness_profile",  # B19 watermark-setting lateness audit
    "b20_stream_stream_left_outer",  # B20 outer join via watermark eviction
    "b06_gini",  # B6/B22 Gini concentration, exact rank formula
    "b26_assortativity",  # B26 degree assortativity, exact moments
    "b16_silence_runs",  # B16 audio silence segmentation, planted gaps
    "b14_knn_accuracy",  # B14 exact 10-NN majority-vote label accuracy
]

# HEADLINE_V6: the round-10 additions, FROZEN the same way (reported as
# `headline_v6_wall`, excluded from `value`).
HEADLINE_V6 = [
    "b26_cooccurrence_skew_guard",  # B26 hot-cell census (edge-build audit)
    "b14_knn_accuracy_clustered",  # B14 kNN accuracy, clustered corpus
    "b13_record_linkage_planted",  # B13 linkage threshold calibration curve
    "b01_python_stream_source_parallel",  # B1 executor-parallel stream source
    "b01_python_stream_sink",  # B1 Python streaming sink, manifest commit
    "b06_quantile_histogram",  # B6 fixed-range histogram quantile sketch
    "b17_stream_quantile_sketch",  # B17/B6 sketch as live streaming state
    "b22_benford_digits",  # B22 Benford first-digit forensic audit
]

# HEADLINE_V7: the round-11 additions, FROZEN the same way (reported as
# `headline_v7_wall`, excluded from `value`).
HEADLINE_V7 = [
    "b06_quantile_refined",  # B6 two-level hot-set refinement sketch
    "b15_bm25_topk",  # B15 BM25 document ranking, fixed-point rationals
    "b26_communities_lpa",  # B26 4-round synchronous label propagation
    "b26_modularity",  # B26 Newman partition-quality audit (exact core)
    "b26_link_prediction",  # B26 common-neighbor/Jaccard top-20
]

# HEADLINE_V8: the round-12 additions, FROZEN the same way (reported as
# `headline_v8_wall`, excluded from `value`).
HEADLINE_V8 = [
    "b26_link_prediction_capped",  # B26 p99 hub-degree-capped link pred
    "b06_kmv_intersect",  # B6 KMV distinct-intersection sketch
    "b22_group_reservoir",  # B22 deterministic per-group exact-k sampler
    "b13_leakage_safe_split",  # B13/B22 cluster-keyed split + leak audit
    "b22_budgeted_split",  # B22 Hamilton-apportioned exact-budget sample
    "b06_kmv_merge",  # B6 KMV min-merge rollup (__ALL__ from k-sets)
]

# HEADLINE_V9: the round-12 session-3 additions, FROZEN the same way
# (reported as `headline_v9_wall`, excluded from `value`).
HEADLINE_V9 = [
    "b15_surprisal_tertiles",  # B15 unigram-LM surprisal tertile buckets
    "b14_rrf_hybrid",  # B14/B15 reciprocal-rank-fusion hybrid retrieval
    # extended same-session, before v9's first recorded reading — the
    # freeze starts with the first cross-round artifact that carries it
    "b22_target_mixture",  # B22 capped target-mix waterfall allocation
    "b13_minhash_shard_merge",  # B13 per-shard MinHash min-merge audit
    "b15_packing_efficiency",  # B15 batch-padding waste audit, 3 strategies
    "b26_funnel_exclusion",  # B26 negation funnel, zero joins, one shuffle
]

# HEADLINE_V10: the round-13 additions, FROZEN the same way (reported as
# `headline_v10_wall`, excluded from `value`).
HEADLINE_V10 = [
    "b15_surprisal_planted",  # B15 planted heavy-tail tertile recovery
    "b14_rrf_fusion_gain",  # B14 RRF recall gain on disjoint relevance
    "b13_kmv_source_similarity",  # B13/B6 constant-state source Jaccard
]

# HEADLINE_V11: the late-r13 addition, FROZEN the same way (reported as
# `headline_v11_wall`, excluded from `value`).
HEADLINE_V11 = [
    "b06_kmv_difference",  # B6 KMV set-difference (churn) sketch
]

# HEADLINE_V12: the round-14 additions, FROZEN the same way (timed in the
# session pass and reported as `headline_v12_wall`, excluded from `value`).
HEADLINE_V12 = [
    "b14_mips_topk",  # B14 MIPS via norm-augmentation reduction
    "b13_incremental_ingest_dedup",  # B13 batch-vs-corpus band join
    # extended same-session, before v12's first recorded artifact (the
    # freeze starts with the first cross-round artifact that carries it)
    "b14_mips_lsh",  # B14 asymmetric-LSH MIPS (plane-replay oracle)
]

# The frozen versioned sets, addressable for per-set isolated re-runs.
SETS = {
    "v1": HEADLINE,
    "v2": HEADLINE_V2,
    "v3": HEADLINE_V3,
    "v4": HEADLINE_V4,
    "v5": HEADLINE_V5,
    "v6": HEADLINE_V6,
    "v7": HEADLINE_V7,
    "v8": HEADLINE_V8,
    "v9": HEADLINE_V9,
    "v10": HEADLINE_V10,
    "v11": HEADLINE_V11,
    "v12": HEADLINE_V12,
}


def _time_queries(spark, names, sf_dir: str, reps: int) -> dict[str, float]:
    """bench method: noop sink (full plan execution, no driver collect),
    first rep discarded (first-touch footers + codegen), median of warm."""
    timings: dict[str, float] = {}
    for name in names:
        fn = QUERIES[name].fn
        runs: list[float] = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            if df.isStreaming:  # streaming entries already materialize a table
                raise AssertionError("suite streaming entries must return batch DFs")
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        warm = sorted(runs[1:])
        mid = len(warm) // 2
        median = warm[mid] if len(warm) % 2 else (warm[mid - 1] + warm[mid]) / 2
        timings[name] = round(median, 3)
    return timings


def _isolated_set_runs(reps: int, n_runs: int) -> dict[str, dict]:
    """VERDICT r8 #4: run each frozen set in its OWN fresh JVM (one child
    process per set, bench-identical method) so cross-round grading has a
    wall the 68-query shared-JVM session cannot contaminate.  The
    single-core cpu probe demonstrably cannot correct multi-core
    contention (docs/SCALE.md r8: 27% probe swing on back-to-back runs),
    and twice now isolation re-runs have overturned session walls — so the
    isolated numbers are the cross-round comparison of record.

    VERDICT r11 #3: each set now runs ``n_runs`` fresh-JVM children and
    records the MIN of their walls as the cross-round number — r10/r11
    established the external load is CYCLIC (minutes-scale waves that
    stamped all thirteen runs contended), and a min over re-runs spaced by
    the other sets' executions is robust to a wave the median of one
    child's back-to-back reps is not.  Per-run walls + both probes are
    kept in the detail for the adjudication trail."""
    import subprocess

    out: dict[str, dict] = {}
    for key in SETS:
        env = {**os.environ, "SPARK_GRAFT_BENCH_SET": key}
        runs: list[dict] = []
        for _ in range(n_runs):
            try:
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__)],
                    env=env,
                    capture_output=True,
                    text=True,
                    timeout=int(
                        os.environ.get("SPARK_GRAFT_BENCH_SET_TIMEOUT", "1800")
                    ),
                )
                line = next(
                    (
                        ln
                        for ln in reversed(proc.stdout.splitlines())
                        if ln.startswith("{")
                    ),
                    None,
                )
                if proc.returncode == 0 and line:
                    runs.append(json.loads(line))
                else:
                    runs.append({"error": (proc.stderr or "no output")[-500:]})
            except subprocess.TimeoutExpired:
                runs.append({"error": "timeout"})
        good = [r for r in runs if "wall" in r]
        if good:
            best = min(good, key=lambda r: r["wall"])
            out[key] = {
                **best,
                "wall_runs": [r["wall"] for r in good],
                "probe_runs": [r.get("cpu_probe_s") for r in good],
                "multi_probe_runs": [r.get("cpu_probe_multi_s") for r in good],
                "n_runs": len(runs),
            }
        else:
            out[key] = {"error": runs[-1].get("error", "no output"),
                        "n_runs": len(runs)}
    return out


# Round label stamped on new bench records; bump alongside the driver-window
# rotation in suite/__init__.py (it only labels provenance — adjudication is
# by wall value, never by round).
BENCH_ROUND = "r24"

# Keep at most this many readings per set in BENCH_RECORDS.json (ring
# buffer, newest last) — enough for several min-of-N batches of context
# around any record without unbounded growth.
_RECORD_RING = 60


def _record_reading(
    set_key: str,
    wall: float,
    probe,
    multi_probe,
    reps: int,
    sf: float,
    path: str | None = None,
) -> None:
    """VERDICT r14 "Next round" #3: every fresh-JVM frozen-set reading at
    the graded scale factor is appended to the committed BENCH_RECORDS.json
    (and `record_wall` lowered when beaten), so min-of-N record
    adjudication is replayable from an artifact instead of COVERAGE.md
    prose.  Child mode is the single chokepoint — both the full run's
    isolated pass and manual quiet-host batches go through it.
    Timestamp-free by design (records must be byte-stable under replay);
    provenance is the BENCH_ROUND label plus the reading's own probes."""
    if abs(sf - 0.1) > 1e-9:  # records are sf0.1 numbers only
        return
    path = path or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_RECORDS.json"
    )
    try:
        with open(path) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return  # never let bookkeeping break a bench run
    entry = data.setdefault("sets", {}).setdefault(
        set_key, {"record_wall": None, "readings": []}
    )
    reading = {"wall": wall, "source": f"child_{BENCH_ROUND}", "reps": reps}
    if probe is not None:
        reading["cpu_probe_s"] = probe
    if multi_probe is not None:
        reading["cpu_probe_multi_s"] = multi_probe
    entry["readings"] = (entry.get("readings", []) + [reading])[-_RECORD_RING:]
    if entry.get("record_wall") is None or wall < entry["record_wall"]:
        entry["record_wall"] = wall
        entry["record_round"] = BENCH_ROUND
    try:
        with open(path, "w") as f:
            json.dump(data, f, indent=1)
    except OSError:
        pass


def headline_record(
    timings: dict[str, float],
    isolated: dict[str, dict],
    n_runs: int,
    *,
    sf: float,
    cpus: int,
    reps: int,
    probe: float,
    multi_probe: float | None,
) -> dict:
    """The final, compact JSON line of a full run: the per-set walls of the
    session pass (``value`` is v1, ``headline_<set>_wall`` the others), the
    fresh-JVM isolated walls and the contention stamp."""
    walls = {
        key: round(sum(timings[n] for n in names), 3) for key, names in SETS.items()
    }
    scale = CPU_PROBE_REF / probe if probe > 0 else 1.0
    isolated_walls = {
        k: v.get("wall") for k, v in isolated.items() if "wall" in v
    }
    isolated_probes = {
        k: v.get("cpu_probe_s")
        for k, v in isolated.items()
        if "cpu_probe_s" in v
    }
    # Mechanical contention stamp (VERDICT r9 #6): the r9 closing-bench
    # adjudication compared probe SPREADS by hand (clean run 0.81-0.84 =
    # 1.04x spread; contended run 0.87-0.99 = 1.14x).  Encode that rule:
    # the per-set children run back-to-back on the same box, so a >10%
    # spread across their single-core probes (incl. the parent's) means
    # another tenant moved in mid-run and the walls carry that noise.
    # VERDICT r11 #3 extends it with the MULTI-core probe batch: a
    # neighbor saturating other cores is invisible to one-core md5 but
    # slows the 8-process batch proportionally, so the same >10% spread
    # rule applies to the multi probes (every child's, plus the parent's).
    all_probes = [
        p
        for v in isolated.values()
        for p in v.get("probe_runs", [])
        if p
    ] + ([probe] if probe else [])
    probe_spread = (
        round(max(all_probes) / min(all_probes), 3) if all_probes else None
    )
    all_multi = [
        p
        for v in isolated.values()
        for p in v.get("multi_probe_runs", [])
        if p
    ] + ([multi_probe] if multi_probe else [])
    multi_probe_spread = (
        round(max(all_multi) / min(all_multi), 3) if all_multi else None
    )
    contended = (probe_spread is not None and probe_spread > 1.10) or (
        multi_probe_spread is not None and multi_probe_spread > 1.10
    )

    record = {
        "metric": "headline_suite_wall",
        # HEADLINE numbers FIRST (VERDICT r9 #6): the fresh-JVM per-set
        # isolated walls are the cross-round comparison of record, and the
        # contention stamp makes the noise-band call mechanical — the final
        # line leads with them so a truncated tail still carries the graded
        # numbers.
        "isolated_walls": isolated_walls,
        "isolated_probes": isolated_probes,
        # VERDICT r11 #3: isolated_walls are now min-of-N fresh-JVM children
        # per set (robust to the measured cyclic load); per-run walls live
        # in the detail line / BENCH_DETAIL.json
        "isolated_method": "min_of_n_fresh_jvm",
        "isolated_runs": n_runs,
        "probe_spread": probe_spread,
        "multi_probe_spread": multi_probe_spread,
        "contended": contended,
        "value": walls["v1"],
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(timings),
        # v1 per-query walls only on this line (the full dict is on the
        # detail line / BENCH_DETAIL.json) — keeps the line under the
        # driver's ~2 KB tail capture
        "queries": {n: timings[n] for n in HEADLINE},
        # `value` spans the v1 headline set only; the later frozen sets are
        # timed in queries{} and summed per set here
        "headline_n": len(HEADLINE),
    }
    for key in list(SETS)[1:]:
        record[f"headline_{key}_wall"] = walls[key]
        record[f"headline_{key}_n"] = len(SETS[key])
    record.update(
        {
            # legacy key (r6 reports): same value as headline_v2_wall
            "extra_r6_wall": walls["v2"],
            # methodology stamp (ADVICE r3 #3): r1/r2 were best-of-2, r3+
            # are median of warm reps — make the JSON self-describing
            "method": "median_of_warm",
            "reps": reps,
            # host-speed calibration (r7): fixed single-core md5 loop,
            # seconds. Compare across rounds to separate shared-host drift
            # from engine regressions (see _cpu_probe docstring).
            "cpu_probe_s": probe,
            # multi-core host probe (VERDICT r11 #3): wall of an 8-process
            # md5 batch — sees the multi-core contention the single-core
            # probe cannot (see _cpu_probe_multi)
            "cpu_probe_multi_s": multi_probe,
            # drift-normalized walls (VERDICT r7 #3): raw * (ref/probe),
            # i.e. "this wall at r7-era host speed" — the cross-round
            # comparison number, so verdicts stop hand-arguing drift.
            "cpu_probe_ref": CPU_PROBE_REF,
            "value_normalized": round(walls["v1"] * scale, 3),
        }
    )
    # normalized walls exist for the sets of the era that introduced them
    for key in ("v2", "v3", "v4", "v5", "v6"):
        record[f"headline_{key}_wall_normalized"] = round(walls[key] * scale, 3)
    return record


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    reps = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    # Child mode (one frozen set, fresh JVM): print one JSON line and exit.
    set_key = os.environ.get("SPARK_GRAFT_BENCH_SET")
    if set_key:
        spark = get_spark(
            f"dataselector-bench-{set_key}", cpus=cpus, shuffle_partitions=cpus
        )
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        timings = _time_queries(spark, SETS[set_key], sf_dir, reps)
        wall = round(sum(timings.values()), 3)
        probe = _cpu_probe()
        multi_probe = _cpu_probe_multi()
        _record_reading(set_key, wall, probe, multi_probe, reps, sf)
        print(
            json.dumps(
                {
                    "set": set_key,
                    "wall": wall,
                    "cpu_probe_s": probe,
                    "cpu_probe_multi_s": multi_probe,
                    "queries": timings,
                }
            )
        )
        return

    spark = get_spark("dataselector-bench", cpus=cpus, shuffle_partitions=cpus)
    # Warm the JVM / file listing with a trivial action so query timings
    # exclude one-time startup.
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Per-query timing: run `reps` times, drop the first (first-touch file
    # footers + codegen compilation), report the median of the warm runs —
    # medians are robust to local[32] GC jitter that min/best-of-2 is not.
    timings = _time_queries(
        spark, [n for names in SETS.values() for n in names], sf_dir, reps
    )
    probe = _cpu_probe()
    multi_probe = _cpu_probe_multi()

    # Fresh-JVM per-set isolation pass (VERDICT r8 #4), min-of-N children
    # per set (VERDICT r11 #3). The session JVM is stopped first so
    # children never contend with an idle 32-thread JVM.  With N > 1 the
    # children default to reps=2 (discard + one warm) unless the caller
    # pinned reps — the min across N spaced fresh-JVM runs replaces the
    # within-child median as the robustness mechanism, at roughly the same
    # total execution count.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_SET_RUNS", "3"))
    isolated: dict[str, dict] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_ISOLATED", "1") != "0":
        spark.stop()
        child_reps = reps
        if n_runs > 1 and "SPARK_GRAFT_BENCH_REPS" not in os.environ:
            child_reps = 2
            os.environ["SPARK_GRAFT_BENCH_REPS"] = "2"
        isolated = _isolated_set_runs(child_reps, n_runs)
    detail = {
        "metric": "headline_suite_wall_detail",
        "queries": timings,
        "isolated": isolated,
    }
    # Detail line FIRST (full per-query dicts, session + isolated), also
    # persisted to BENCH_DETAIL.json: the driver's artifact keeps only a
    # ~2 KB stdout TAIL (BENCH_r08 'parsed: null' truncation), so the big
    # dict goes up front / on disk and the LAST line stays compact and
    # parseable with every headline number (VERDICT r8 #7).
    print(json.dumps(detail))
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_DETAIL.json"),
            "w",
        ) as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    print(
        json.dumps(
            headline_record(
                timings,
                isolated,
                n_runs,
                sf=sf,
                cpus=cpus,
                reps=reps,
                probe=probe,
                multi_probe=multi_probe,
            )
        )
    )


if __name__ == "__main__":
    main()
