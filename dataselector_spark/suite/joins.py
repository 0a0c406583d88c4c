"""B02/B04/B05 joins: bucketed, dynamic-partition-pruned, bloom-filtered
and skew-split equi-joins, the range anti-join and as-of joins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load_table
from .base import dec2, query


@query(
    "b05_asof_tolerance",
    oracle="""
    SELECT e.event_id,
           CASE WHEN b.ts IS NOT NULL AND e.ts - b.ts <= INTERVAL 30 MINUTE
                THEN b.prev_error_id END AS prev_error_id,
           CASE WHEN b.ts IS NOT NULL AND e.ts - b.ts <= INTERVAL 30 MINUTE
                THEN b.prev_error_value END AS prev_error_value
    FROM events e
    ASOF LEFT JOIN (
        SELECT user_id, ts, event_id AS prev_error_id, value AS prev_error_value
        FROM events WHERE event_type = 'error'
    ) b ON e.user_id = b.user_id AND e.ts >= b.ts
    """,
    doc="B5: as-of join with a TOLERANCE window — for each event, the same "
    "user's most recent error AT MOST 30 MINUTES before it (matches "
    "farther back are nulled): pandas merge_asof(tolerance=...) semantics, "
    "the attribution-window workload ('latest click within N minutes of "
    "the purchase'). Same single-shuffle merge-asof plan; the tolerance is "
    "a post-filter on the matched timestamp carried in the payload struct.",
)
def b05_asof_tolerance(spark, sf_dir):
    from ..operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.col("event_id").alias("prev_error_id"),
        F.col("value").alias("prev_error_value"),
    )
    joined = asof_join(
        e.select("event_id", "user_id", "ts"),
        errors,
        on="user_id",
        right_payload=["prev_error_id", "prev_error_value"],
        suffix="",
        tolerance=F.expr("INTERVAL 30 MINUTES"),
    )
    return joined.select("event_id", "prev_error_id", "prev_error_value")


@query(
    "b02_bucketed_join",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    doc="B2 (storage-layout scale path): orders and lineitem written as "
    "BUCKETED tables (8 buckets, hash(orderkey), sorted within bucket) and "
    "joined bucket-to-bucket — ZERO shuffle exchange in the join plan "
    "(asserted in tests/test_plans.py). At 100 TB the orders-lineitem "
    "shuffle is the single largest data movement in the workload; bucketing "
    "both fact tables on the join key at write time eliminates it from "
    "EVERY subsequent join at the cost of one write-time partition pass. "
    "The oracle is the plain join — layout must never change results.",
)
def b02_bucketed_join(spark, sf_dir):
    import os

    from ..operators.layout import dir_fingerprint, ensure_bucketed_table

    base = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    root = os.path.join("/tmp/dataselector_roundtrip", base)
    to, tl = f"bkt_{base}_orders", f"bkt_{base}_lineitem"
    o = ensure_bucketed_table(
        spark,
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        to,
        os.path.join(root, to),
        8,
        "o_orderkey",
        fingerprint=dir_fingerprint(os.path.join(sf_dir, "orders.parquet")),
    )
    l = ensure_bucketed_table(
        spark,
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        tl,
        os.path.join(root, tl),
        8,
        "l_orderkey",
        fingerprint=dir_fingerprint(os.path.join(sf_dir, "lineitem.parquet")),
    )
    joined = o.join(l, o["o_orderkey"] == l["l_orderkey"])
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(dec2("l_extendedprice") * dec2(1 - F.col("l_discount"), 4))
        .cast("double")
        .alias("revenue"),
    )


@query(
    "b05_asof_nearest",
    oracle="""
    WITH errs AS (
        SELECT user_id, ts, event_id AS near_error_id, value AS near_error_value
        FROM events WHERE event_type = 'error'
        QUALIFY row_number() OVER (
            PARTITION BY user_id, ts
            ORDER BY near_error_id DESC, near_error_value DESC) = 1
    )
    SELECT e.event_id,
           CASE WHEN b.ts IS NULL AND f.ts IS NULL THEN NULL
                WHEN b.ts IS NULL THEN f.near_error_id
                WHEN f.ts IS NULL THEN b.near_error_id
                WHEN (f.ts - e.ts) < (e.ts - b.ts) THEN f.near_error_id
                ELSE b.near_error_id END AS near_error_id,
           CASE WHEN b.ts IS NULL AND f.ts IS NULL THEN NULL
                WHEN b.ts IS NULL THEN f.near_error_value
                WHEN f.ts IS NULL THEN b.near_error_value
                WHEN (f.ts - e.ts) < (e.ts - b.ts) THEN f.near_error_value
                ELSE b.near_error_value END AS near_error_value
    FROM events e
    ASOF LEFT JOIN errs b ON e.user_id = b.user_id AND e.ts >= b.ts
    ASOF LEFT JOIN errs f ON e.user_id = f.user_id AND e.ts <= f.ts
    """,
    doc="B5 (r7): as-of join with direction='nearest' (pandas merge_asof) — "
    "each event attaches the same user's CLOSEST error in either direction; "
    "equal distance breaks backward. Same single-shuffle merge-asof plan as "
    "b05_asof_join, with two window frames (backward last / forward first) "
    "over the one per-key sort and a row-local CASE picking the closer — "
    "never a theta-join pair blowup. Right side deduped to one row per "
    "(user, ts) so the survivor under timestamp ties is deterministic in "
    "both engines (DuckDB replays it via the two-ASOF decomposition: "
    "backward >= + forward <=, dist compare).",
)
def b05_asof_nearest(spark, sf_dir):
    from ..operators.asof import asof_join_nearest

    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.col("event_id").alias("near_error_id"),
        F.col("value").alias("near_error_value"),
    )
    joined = asof_join_nearest(
        e.select("event_id", "user_id", "ts"),
        errors,
        on="user_id",
        right_payload=["near_error_id", "near_error_value"],
        suffix="",
    )
    return joined.select("event_id", "near_error_id", "near_error_value")


@query(
    "b02_dynamic_partition_pruning",
    oracle="""
    WITH facts AS (
        SELECT event_id, user_id, value,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
        FROM events
    ),
    dim AS (
        SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               1 AS is_campaign
        FROM events
        WHERE strftime(date_trunc('day', ts), '%Y-%m-%d')
              IN ('2024-01-05', '2024-01-15', '2024-01-25')
    )
    SELECT f.event_id, f.user_id, f.day,
           CAST(f.value AS DECIMAL(12,2)) AS value
    FROM facts f JOIN dim d ON f.day = d.day
    """,
    doc="B2 (r7): dynamic partition pruning — the fact side is the "
    "day-partitioned layout (b01_partitioned_write_pruning's write), the "
    "dim side is a small filtered date dimension, and the join key IS "
    "the partition column: Spark plans a dynamicpruning#N subquery "
    "inside the fact scan's PartitionFilters (asserted), so the fact "
    "directories to read are decided AT RUNTIME from the dim's surviving "
    "days — the star-schema shape where the selective predicate lives on "
    "the dimension and a static planner would scan every fact partition. "
    "At 100 TB this is the difference between reading 3 days and 3 "
    "years. Value is decimal-cast at the edge per the suite float "
    "policy; the oracle computes the same join from the raw table.",
)
def b02_dynamic_partition_pruning(spark, sf_dir):
    import os

    e = load_table(spark, sf_dir, "events")
    base = f"/tmp/dsspark_dpp_{os.path.basename(sf_dir.rstrip('/'))}"
    (
        e.select(
            "event_id",
            "user_id",
            "value",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(base)
    )
    facts = spark.read.parquet(base)
    dim = (
        e.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .distinct()
        .filter(F.col("day").isin("2024-01-05", "2024-01-15", "2024-01-25"))
        .withColumn("is_campaign", F.lit(1))
    )
    return facts.join(dim, "day").select(
        "event_id",
        "user_id",
        F.col("day").cast("string").alias("day"),
        dec2("value").cast("double").alias("value"),
    )


@query(
    "b02_bloom_filter_join",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice,
           o.o_orderpriority
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    """,
    doc="B2 (r8): runtime bloom-filter semi-join reduction — the row-level "
    "sibling of b02_dynamic_partition_pruning for join keys that are NOT "
    "partition columns: Catalyst's InjectRuntimeFilter builds a bloom "
    "filter from the selective dim side (urgent orders) and applies "
    "might_contain on the fact side BEFORE the join shuffle, so at 100 TB "
    "the exchange moves only probably-matching lineitem rows instead of "
    "the whole fact table (false positives are re-checked by the join "
    "itself, so results are exact). Thresholds are scoped to this one "
    "query and restored (application-side floor lowered because the rule "
    "targets 10 GB+ scans; broadcast disabled to force the shuffle join "
    "the rule requires — at real scale both conditions hold naturally); "
    "the entry EXECUTES under those confs (write + readback, the "
    "b22_zorder_write_readback pattern) and self-asserts that "
    "might_contain made it into the executed plan, so a silent injection "
    "regression fails the run rather than quietly degrading to an "
    "unfiltered shuffle. Value-checked row-level against the plain join.",
)
def b02_bloom_filter_join(spark, sf_dir):
    import os

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_extendedprice"
        )
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_linenumber", "l_extendedprice", "o_orderpriority"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), (
            "runtime bloom filter was not injected:\n" + plan[:2000]
        )
        # Per-session unique path (ADVICE r8): a fixed /tmp name let two
        # concurrent sessions (pytest + driver differential) clobber each
        # other's output mid-readback.
        out = (
            f"/tmp/dsspark_bloomjoin_{os.path.basename(sf_dir.rstrip('/'))}"
            f"_{spark.sparkContext.applicationId}"
        )
        j.write.mode("overwrite").parquet(out)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.read.parquet(out)


@query(
    "b02_aqe_skew_join",
    oracle="""
    SELECT CASE WHEN l_orderkey % 4 != 0 THEN 0
                ELSE l_orderkey % 50 END AS k,
           l_orderkey, l_linenumber, l_quantity, d.w
    FROM lineitem
    JOIN (SELECT r AS k, r * 10 AS w FROM range(0, 50) t(r)) d
      ON (CASE WHEN l_orderkey % 4 != 0 THEN 0
               ELSE l_orderkey % 50 END) = d.k
    """,
    doc="B2 (r8): AQE runtime skew-join splitting — the AUTOMATIC "
    "counterpart of the manual salted join (b02_join_salted): ~75% of the "
    "fact lands on one join key, and instead of pre-salting, Spark's "
    "OptimizeSkewedJoin detects the oversized shuffle partition at "
    "runtime from map-output statistics and splits it into "
    "mapper-range sub-partitions, replicating the matching dim rows "
    "(plan shows SortMergeJoin(skew=true) over 'AQEShuffleRead skewed', "
    "self-asserted after execution like the bloom entry — a silent "
    "regression fails loudly). Two conditions a user must know, learned "
    "from this entry's own construction and documented here: the rule "
    "splits by MAPPER ranges, so the skewed side needs >1 upstream map "
    "task (a single-row-group local file has one mapper and cannot be "
    "split — the repartition(16) stands in for the thousands of mappers "
    "any real table has), and a downstream same-key aggregate suppresses "
    "the split (AQE refuses to break a reusable partitioning), so the "
    "entry returns join rows, not a same-key rollup. Skew thresholds are "
    "scoped to this one execution and restored; at 100 TB the defaults "
    "(256 MB) fire on real skew unaided. Value-checked row-level.",
)
def b02_aqe_skew_join(spark, sf_dir):
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem").repartition(16)
        key = (
            F.when(F.col("l_orderkey") % 4 != 0, F.lit(0))
            .otherwise(F.col("l_orderkey") % 50)
            .alias("k")
        )
        fact = li.select(key, "l_orderkey", "l_linenumber", "l_quantity")
        dim = spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        j = fact.join(dim, "k").select(
            "k", "l_orderkey", "l_linenumber", "l_quantity", "w"
        )
        # The AQE rewrite exists only in an EXECUTED plan, and each action
        # (.write, .count) gets its own QueryExecution — so the assert must
        # ride an action bound to j's own (found the hard way: asserting
        # after .write reads the unexecuted isFinalPlan=false plan and
        # always fails).  queryExecution.toRdd is j's OWN execution —
        # counting it JVM-side materializes nothing on the driver and
        # ships nothing to Python, unlike the full-result collect this
        # replaced (ADVICE r8: driver OOM risk at larger SFs).
        n = j._jdf.queryExecution().toRdd().count()
        assert n > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, (
            "AQE skew-join split did not fire:\n" + plan[:2000]
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # Returned lazily: the driver re-executes under its own confs, which
    # changes only the physical split, never the rows.
    return j


@query(
    "b04_range_anti_join",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS pt
        FROM events WHERE event_type = 'purchase'
    ),
    e AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS et
        FROM events WHERE event_type = 'error'
    )
    SELECT p.event_id, p.user_id, p.pt AS purchase_ts
    FROM p
    WHERE NOT EXISTS (
        SELECT 1 FROM e
        WHERE e.user_id = p.user_id
          AND e.et >= p.pt AND e.et < p.pt + 86400
    )
    """,
    doc="B4 (r9): RANGE ANTI-JOIN — purchases with NO error by the same "
    "user in the following 24 h (the 'clean conversion' / "
    "did-X-never-Y-within-T cohort): the negated sibling of the "
    "interval joins, and the one join shape Spark will happily plan as "
    "a per-row NESTED LOOP if written naively, because an anti-join "
    "condition `et BETWEEN pt AND pt+86400` has no equi-key. The "
    "b04_interval_join_bucketed cure applies to the NEGATION too: "
    "quantize time into day-wide buckets, expand each purchase to the "
    "(at most 2) buckets its 24 h window can touch — a bounded "
    "explode, never a cross product — equi-join errors on (user_id, "
    "bucket), keep only witnesses inside the exact range, and finish "
    "with a LEFT ANTI equi-join of purchases against the distinct "
    "witnessed purchase ids. Every join in the executed plan is an "
    "equi-join (plan-asserted: no CartesianProduct, no "
    "BroadcastNestedLoopJoin); the quadratic NOT EXISTS oracle proves "
    "the bucketed rewrite LOSSLESS, duplicate semantics included "
    "(DISTINCT witnesses, so a purchase with many errors anti-joins "
    "identically to one with one). At 100 TB: shuffle keys are "
    "(user, day) — bounded fan-out of 2x, skew split by AQE; the "
    "witness set is distinct purchase ids, never the error rows.",
)
def b04_range_anti_join(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("pt")
    )
    e = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").cast("long").alias("et"),
        (F.col("ts").cast("long") / 86400).cast("bigint").alias("bkt"),
    )
    # each purchase window [pt, pt+86400) touches at most 2 day buckets
    cand = p.select(
        "event_id",
        "user_id",
        "pt",
        F.explode(
            F.array(
                (F.col("pt") / 86400).cast("bigint"),
                (F.col("pt") / 86400).cast("bigint") + 1,
            )
        ).alias("bkt"),
    )
    witnessed = (
        cand.join(e, ["user_id", "bkt"])
        .filter((F.col("et") >= F.col("pt")) & (F.col("et") < F.col("pt") + 86400))
        .select("event_id")
        .distinct()
    )
    return p.join(witnessed, "event_id", "left_anti").select(
        "event_id", "user_id", F.col("pt").alias("purchase_ts")
    )
