"""Whole-suite physical-plan discipline sweep: compiles the executed plan
of EVERY suite entry at sf0.01 and reports (a) CartesianProduct anywhere,
(b) BroadcastNestedLoopJoin outside the known single-row-broadcast sites,
(c) row-at-a-time scalar PythonUDF (BatchEvalPython) nodes — the three
anti-patterns the per-entry plan tests pin individually, checked
globally so a future entry cannot reintroduce one unpinned.
BatchEvalPythonUDTF is NOT flagged: Python UDTFs are the intended
table-function mechanism (b21 entries), distinct from the scalar
row-at-a-time UDF anti-pattern.

Run as a tool, not a test: entries with eager side effects (streams,
bucketed writes, state stores) execute during fn(), so the sweep costs
minutes — results are recorded in COVERAGE.md per round instead of
burning CI time. Pass --skip-effects to exclude those entries
(plans.EFFECTFUL_ENTRIES; plan compile only, faster).

Known-benign BNLJ sites (a BOUNDED broadcast side joined keylessly:
single-row scalar aggregates, or the recall eval's fixed query sample):
listed in BOUNDED_BNLJ_OK with what each broadcasts.

Usage: python tools/plan_sweep.py [--skip-effects]
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataselector_spark.plans import (
    BOUNDED_WINDOW_AGG_OK,
    EFFECTFUL_ENTRIES,
    unpartitioned_window_audit,
)
from dataselector_spark.session import get_spark
from dataselector_spark.suite import QUERIES

SF = "/root/testdata/sf0.01"

# entry -> the bounded relation its BNLJ broadcasts
BOUNDED_BNLJ_OK = {
    "q11_important_parts": "fraction-of-total threshold",
    "q22_dormant_customers": "average account balance",
    "b06_heavy_hitters_tokens": "corpus total count",
    "b06_heavy_hitters_planted": "corpus total count",
    "b15_pmi_collocations": "bigram grand total",
    "b15_pmi_planted": "bigram grand total",
    "b15_rarity_score": "corpus token total",
    "b15_tfidf_top_term": "document count",
    "b22_drift_ks": "per-split totals",
    "b22_drift_chisq": "per-split totals",
    "b24_temperature_mixture": "mixture normalizer",
    "b14_ann_recall_report": "query-count scalar",
    "a29_cross_join": "deliberate tiny cross product (broadcast)",
    "b14_ivf_recall_clustered": "fixed query sample (recall eval design)",
    # r9 session 2
    "b26_clustering_coeff": "single-row wedge-count scalar",
    "b14_knn_accuracy": "query sample (ground-truth eval; production caps"
    " the sample explicitly, same class as the recall evals)",
    # r10
    "b14_knn_accuracy_clustered": "query sample (same eval design as the"
    " isotropic parent)",
    "b13_record_linkage_planted": "<=27-row per-score counts joined to a"
    " 13-row threshold grid + single-row truth count (calibration sweep)",
    "b06_quantile_histogram": "<=256-row cumulative sketch + 7-row"
    " estimate probe (bounded by construction; the error-audit rescan)",
    "b17_stream_quantile_sketch": "same bounded sketch report as"
    " b06_quantile_histogram, fed from the streaming sink table",
    "b22_benford_digits": "single-row total broadcast over the 9-digit"
    " expected table (digit join itself is an equi BroadcastHashJoin)",
    # r12 additions (adjudicated in VERDICT r12: "the 1-row broadcast
    # scalar joins plan as whitelisted BNLJ-Cross — bounded and pinned")
    "b06_quantile_refined": "single-row grid-total + rank-probe scalars",
    "b15_bm25_topk": "single-row corpus stats (n_docs, tot_len)",
    "b26_modularity": "single-row edge-total scalar",
    "b26_link_prediction_capped": "single-row p99 degree-cap scalar",
    # r14
    "b14_mips_topk": "single-row corpus max-norm scalar (the MIPS"
    " norm-augmentation constant)",
    "b14_mips_lsh": "single-row corpus max-squared-norm scalar (the"
    " asymmetric-LSH MIPS augmentation constant)",
    "b13_leakage_safe_split": "single-row split-fraction scalars",
    "b22_budgeted_split": "single-row Hamilton floor-sum scalar",
    "b15_surprisal_tertiles": "single-row corpus total + 2-value cutoffs",
    "b22_target_mixture": "single-row surplus scalar over <=|langs| rows",
    "b14_rrf_hybrid": "single-row corpus stats (BM25 feeder)",
    # r13 additions
    "b15_surprisal_planted": "same scalars as b15_surprisal_tertiles"
    " (shared _surprisal_doc_scores + cutoff broadcast)",
    "b14_rrf_fusion_gain": "single-row corpus stats (BM25 feeder)",
    "b13_kmv_source_similarity": "20-row source-pair inequality join"
    " (src_a < src_b over the per-source sketch aggregates)",
    "b06_equidepth_histogram": "single-row ntile denominator scalar",
    "b15_vocab_coverage": "single-row token-total scalar",
}


def main():
    skip_effects = "--skip-effects" in sys.argv
    spark = get_spark("plan-sweep", cpus=8, shuffle_partitions=8)
    n_ok = 0
    violations = []
    for name, q in QUERIES.items():
        if skip_effects and name in EFFECTFUL_ENTRIES:
            continue
        try:
            df = q.fn(spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001
            violations.append((name, f"EXC {ex}"[:160]))
            continue
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if (
            "BroadcastNestedLoopJoin" in plan
            and name not in BOUNDED_BNLJ_OK
        ):
            flags.append("BroadcastNestedLoopJoin")
        if re.search(r"BatchEvalPython(?!UDTF)", plan):
            flags.append("row-at-a-time PythonUDF")
        # VERDICT r12 #2: every unpartitioned Window must sit above a
        # structurally bounded relation (limit / localCheckpointed RDD),
        # or above a bounded-domain aggregate for the whitelisted entries
        try:
            _wl = BOUNDED_WINDOW_AGG_OK.get(name)
            wv, _ = unpartitioned_window_audit(
                df, allowed_agg_keys=_wl["keys"] if _wl else None
            )
            if wv:
                flags.append("unbounded-unpartitioned-window")
        except Exception as ex:  # noqa: BLE001
            flags.append(f"window-audit-EXC {ex}"[:80])
        if flags:
            violations.append((name, ",".join(flags)))
        else:
            n_ok += 1
    for name, why in violations:
        print("FLAG", name, why, flush=True)
    print(f"TOTAL {n_ok} clean, {len(violations)} flagged", flush=True)
    spark.stop()
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()
