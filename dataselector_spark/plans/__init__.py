"""Physical-plan inspection helpers (SURVEY.md §4).

The reference has no optimizer; Catalyst is ours, but only if the plans we
declare actually optimize: filters must reach the parquet scan, small dims
must broadcast, global top-k must plan as TakeOrderedAndProject, expression
pipelines must stay inside WholeStageCodegen. These helpers turn those
expectations into assertions (tests/test_plans.py) so a regression in plan
shape fails CI, not a 100 TB run.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters lists from every parquet scan node in the plan."""
    plan = formatted_plan(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings from every scan (column-pruning witness)."""
    plan = formatted_plan(df)
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in physical_plan(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (the scale currency)."""
    return len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", physical_plan(df)))


# --- bounded-unpartitioned-window audit (VERDICT r12 #2) -------------------
#
# The frame law (docs/SCALE.md) killed the O(n^2) shrinking-frame class;
# the remaining window hazard is structural: a Window.orderBy with NO
# partitionBy moves the ENTIRE input to one partition (Spark warns "No
# Partition Defined for Window operation"). Every such site in the suite is
# individually argued bounded (a <=65k-cell histogram, a <=20-row top-k
# heap, a <=|langs| allocation relation) -- but an argument per site does
# not stop entry #287 from dropping a corpus-scale unpartitioned window in
# unnoticed. This audit mechanizes the contract: walk the physical plan
# tree, find every WindowExec whose partitionSpec is empty, and prove its
# input bounded by structure:
#
#   bounded(node) :=
#     Limit family (TakeOrderedAndProject / GlobalLimit / LocalLimit /
#       CollectLimit)                                    -> True
#     RDDScan / LocalTableScan (localCheckpointed bounded aggregate, or a
#       driver-literal relation)                         -> True
#     Aggregate (Hash/Sort/ObjectHash) with NO grouping keys -> True (a
#       scalar: <=1 row by construction).
#     Aggregate with grouping keys -> True only when the caller passes the
#       entry's whitelisted KEY NAMES (BOUNDED_WINDOW_AGG_OK[name]["keys"])
#       AND the matched aggregate groups by exactly a subset of those
#       names: group-key-domain boundedness is a per-entry ARGUMENT
#       (histogram cells, language codes), so the whitelist records WHICH
#       aggregate is trusted, not blanket-trusting every keyed aggregate
#       in the subtree (ADVICE r13: a future unpartitioned window over a
#       groupBy(doc_id) inside a whitelisted entry must still fail).
#     Generate / Expand / Project / Filter / Sort / Window / Exchange /
#       other unary                                      -> bounded(child)
#     Join / Union / multi-child                         -> all children
#     file scans and anything else                       -> False
#
# Global SortExec nodes are counted but NOT gated: a global sort is
# range-partitioned (distributed, no single-partition collapse), and every
# suite entry's final orderBy exists for oracle output parity.
# Subquery plans (scalar / IN) are traversed too, so a Window hidden in
# one is gated exactly like the main tree.

_BOUNDED_LEAVES = {"RDDScanExec", "LocalTableScanExec", "EmptyRelationExec"}
_LIMIT_NODES = {
    "TakeOrderedAndProjectExec",
    "GlobalLimitExec",
    "LocalLimitExec",
    "CollectLimitExec",
}
_AGG_NODES = {"HashAggregateExec", "SortAggregateExec", "ObjectHashAggregateExec"}


def _plan_children(p):
    cls = p.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [p.initialPlan()]
    if cls.endswith("QueryStageExec"):
        return [p.plan()]
    if cls == "ReusedExchangeExec":
        return [p.child()]
    return [p.children().apply(i) for i in range(p.children().length())]


def _grouping_names(p) -> list[str]:
    ge = p.groupingExpressions()
    names = []
    for i in range(ge.length()):
        e = ge.apply(i)
        try:
            names.append(e.name())
        except Exception:  # noqa: BLE001 — non-named grouping expression
            names.append(e.sql())
    return names


def _bounded(p, allowed_agg_keys) -> bool:
    cls = p.getClass().getSimpleName()
    if cls in _LIMIT_NODES or cls in _BOUNDED_LEAVES:
        return True
    if cls in _AGG_NODES:
        # a global aggregate (no grouping keys) is a scalar: <=1 row,
        # bounded regardless of whitelist
        if p.groupingExpressions().isEmpty():
            return True
        # keyed aggregate: bounded only when the entry whitelisted these
        # exact grouping-key names (ADVICE r13 — a groupBy(doc_id) inside
        # a whitelisted entry must NOT inherit the entry's trust)
        return allowed_agg_keys is not None and set(
            _grouping_names(p)
        ) <= set(allowed_agg_keys)
    kids = _plan_children(p)
    if not kids:
        return False  # file scan or unknown leaf: corpus-scale
    return all(_bounded(k, allowed_agg_keys) for k in kids)


# Window-family physical nodes are gated by class-name SUBSTRING so a
# pandas-UDF window (Spark 4's ArrowWindowPythonExec, formerly
# WindowInPandasExec) or a future variant cannot bypass the audit
# (ADVICE r13) — every window-evaluation node extends WindowExecBase and
# exposes partitionSpec(). WindowGroupLimitExec is excluded: it is the
# rank-limit PUSHDOWN optimization (bounds rows per group before the real
# window), not a window evaluation node.
_UNGATED_WINDOW_NODES = {"WindowGroupLimitExec"}


def _is_gated_window(cls: str) -> bool:
    return "Window" in cls and cls not in _UNGATED_WINDOW_NODES


def unpartitioned_window_audit(
    df: DataFrame, allowed_agg_keys=None
) -> tuple[list[str], int]:
    """(violations, global_sort_count) for df's executed plan.

    Each violation is the simpleString of an unpartitioned window node
    (WindowExec, WindowInPandasExec, ...) whose input subtree could not be
    proven bounded under the rules above. ``allowed_agg_keys`` — an
    iterable of grouping-key NAMES (from BOUNDED_WINDOW_AGG_OK[entry]
    ["keys"]) — lets a keyed aggregate over exactly those keys count as
    bounded; None forbids keyed aggregates entirely.
    """
    return audit_plan_tree(
        df._jdf.queryExecution().executedPlan(), allowed_agg_keys
    )


def audit_plan_tree(root, allowed_agg_keys=None) -> tuple[list[str], int]:
    """The audit walk over a raw JVM SparkPlan node — shared by the batch
    entry point above and the streaming micro-batch audit below."""
    violations: list[str] = []
    global_sorts = 0
    stack = [root]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "SortExec" and getattr(p, "global")():
            global_sorts += 1
        if _is_gated_window(cls):
            # window-EVALUATION nodes all extend WindowExecBase and expose
            # partitionSpec(); name-matched nodes without it are the
            # streaming session-window STATE nodes
            # (SessionWindowStateStoreSave/RestoreExec, UpdatingSessions*)
            # — state management, not a single-partition collapse.
            try:
                spec_empty = p.partitionSpec().isEmpty()
            except Exception:  # noqa: BLE001 — no partitionSpec: not a window eval
                spec_empty = False
            if spec_empty:
                child = _plan_children(p)[0]
                if not _bounded(child, allowed_agg_keys):
                    violations.append(p.simpleString(120))
        stack.extend(_plan_children(p))
        # a Window hidden inside a scalar/IN-subquery plan is just as
        # gated as one in the main tree (r13 follow-up: the first cut
        # documented this as a hole)
        sq = p.subqueries()
        stack.extend(sq.apply(i) for i in range(sq.length()))
    return violations, global_sorts


# --- streaming micro-batch audit (VERDICT r13 #4) ---------------------------
#
# The batch gate above skips EFFECTFUL_ENTRIES; the streaming subset of
# those executes real micro-batch plans the gate never saw. Every stream
# start/await site in the package calls audit_streaming_query() right
# after the query drains: it unwraps the StreamingQueryWrapper to the
# MicroBatchExecution, takes lastExecution (the IncrementalExecution of
# the final micro-batch) and runs the SAME bounded-window walk over its
# executedPlan. Results are RECORDED (never raised) so entry behavior is
# unchanged; tests/test_window_boundedness.py drains each streaming entry
# and asserts every recorded audit is clean.

STREAM_WINDOW_AUDITS: dict[str, list[str]] = {}


def audit_streaming_query(q, label: str) -> list[str]:
    """Record the bounded-window audit of a streaming query's last
    micro-batch executed plan under ``label``. Call after the query has
    drained (awaitTermination / processAllAvailable) and before stop()."""
    try:
        jq = q._jsq
        try:
            se = jq.streamingQuery()  # StreamingQueryWrapper -> MicroBatchExecution
        except Exception:  # noqa: BLE001 — already the execution object
            se = jq
        le = se.lastExecution()
        if le is None:
            # zero batches executed — an availableNow re-run over an
            # existing checkpoint is a no-op commit (b20_state_store_read
            # in a long pytest session: the first run audits the real
            # plan, the idempotent re-run has no micro-batch plan to
            # audit). Nothing ran, so nothing can be unbounded: record a
            # clean audit so the hook-wired signal stays intact.
            violations = []
        else:
            violations, _ = audit_plan_tree(le.executedPlan())
    except Exception as ex:  # noqa: BLE001 — audit must never kill an entry
        violations = [f"AUDIT_EXC {ex}"[:200]]
    STREAM_WINDOW_AUDITS[label] = violations
    return violations


# Suite entries that execute a real streaming query inside fn() — each of
# their start/await sites calls audit_streaming_query, and the suite test
# asserts one clean recorded audit per entry. A new streaming entry must
# be added here (the test cross-checks this set against EFFECTFUL_ENTRIES
# names containing 'stream').
STREAMING_QUERY_ENTRIES = {
    "b17_stream_tumbling", "b17_stream_sliding", "b18_stream_session",
    "b19_stream_watermark", "b20_stream_dedup", "b20_stream_toggle",
    "b20_stream_stream_join", "b17_stream_static_enrich",
    "b20_state_store_read", "b01_python_stream_source",
    "b20_stream_stream_left_outer", "b01_python_stream_source_parallel",
    "b01_python_stream_sink", "b17_stream_quantile_sketch",
    "b23_streaming_upsert_sink",
}


# Entries whose unpartitioned windows ride above AGGREGATES whose group-key
# domain is bounded by construction -- the boundedness is an argument about
# the key domain, not plan structure, so each entry is whitelisted BY NAME
# with its bound AND the exact grouping-key names of the trusted aggregate
# (ADVICE r13: the audit verifies the matched aggregate groups by a subset
# of "keys"; any OTHER keyed aggregate in the subtree — e.g. a future
# groupBy(doc_id) — still fails). An unpartitioned window over raw corpus
# rows fails even for these.
BOUNDED_WINDOW_AGG_OK = {
    "b26_link_prediction_capped": {
        "keys": frozenset({"deg"}),
        "bound": "degree-histogram cumulative rank: <=|distinct degrees| "
        "rows (aggregate of the bounded degree domain)",
    },
    "b22_budgeted_split": {
        "keys": frozenset({"lang"}),
        "bound": "Hamilton quota windows over the <=|strata| allocation "
        "relation",
    },
    "b22_proportional_allocation": {
        "keys": frozenset({"event_type"}),
        "bound": "Hamilton quota windows over the <=|strata| allocation "
        "relation",
    },
    "b06_quantile_refined": {
        "keys": frozenset({"bucket"}),
        "bound": "<=65,536-cell (coarse,fine) grid aggregate",
    },
    "b06_quantile_histogram": {
        "keys": frozenset({"bucket"}),
        "bound": "<=256-row cumulative sketch relation",
    },
    "b22_drift_ks": {
        "keys": frozenset({"__pid"}),
        "bound": "running_sums offset window over <=|shuffle partitions| "
        "per-pid totals (operators/prefixsum.py)",
    },
    "b06_equidepth_histogram": {
        "keys": frozenset({"__pid"}),
        "bound": "running_sums offset window over <=|shuffle partitions| "
        "per-pid totals (operators/prefixsum.py)",
    },
}

# Batch entries whose fn() has REAL side effects — writes tables to the
# fixed scratch dirs (roundtrips, bucketed/zorder writes) or must execute
# an action to produce its result (observe-metrics readback).  Plan audits
# skip these (execution cost dominates; their plans are pinned by
# dedicated bucketing/layout tests instead).  A pure-plan batch entry does
# NOT belong here: misclassification silently exempts it from the batch
# window-boundedness and plan sweeps (ADVICE r14 — b19_lateness_profile
# sat here since the gate landed despite being a pure partitioned-window
# query; evicted r15).
BATCH_EFFECTFUL_ENTRIES = {
    "b02_bucketed_join",
    "b04_interval_join_colocated", "b02_bloom_filter_join",
    "b22_zorder_write_readback", "b22_compaction_readback",
    "b16_binary_ingest", "b01_parquet_roundtrip", "b01_csv_roundtrip",
    "b01_json_roundtrip", "b01_orc_roundtrip", "b01_text_roundtrip",
    "b01_orc_roundtrip_lineitem", "b01_xml_roundtrip",
    # (named b01_merge_schema until r15 — the stale alias meant the real
    # entry was never skipped; the stale-name assert now guards this)
    "b01_partitioned_write_pruning", "b01_parquet_merge_schema",
    "b01_ignore_corrupt_files", "b22_observe_metrics",
}

# fn() runs a real stream / writes tables / reads checkpoints: plan audits
# skip these.  Derived as a UNION so a streaming entry cannot be added to
# the skip set without also joining STREAMING_QUERY_ENTRIES (and thus the
# micro-batch window audit) — the classification is the single source of
# truth (ADVICE r14, replacing the 'stream'-substring cross-check).
EFFECTFUL_ENTRIES = STREAMING_QUERY_ENTRIES | BATCH_EFFECTFUL_ENTRIES
