"""Relational breadth (SURVEY.md §2 B2-B11) over the star schema.

Float policy: every oracle-checked aggregate of doubles goes through explicit
DECIMAL casts (exact, order-independent arithmetic) and back to DOUBLE, so
Spark's parallel partial aggregation and DuckDB's sequential fold produce
bit-identical results. Averages are spelled sum_decimal/count in BOTH
engines (IEEE division of identical operands is deterministic). `F.round` /
`round()` are avoided on data — Java BigDecimal HALF_UP and C-library
rounding can disagree on double midpoints.

Scale notes are attached per query; the general posture: dims broadcast
(region/nation/supplier/part at TPC-H ratios), facts shuffle on join keys,
AQE handles skew and partial-agg pushdown is automatic for all algebraic
aggregates used here.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.cleaning import dec2
from ..operators.asof import asof_join
from ..operators.rangejoin import interval_join_bucketed, with_time_buckets
from .base import query


# --- B6: hash aggregation --------------------------------------------------


@query(
    "b06_agg_battery",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_value
    FROM events GROUP BY event_type
    """,
    doc="B6: count / count-distinct / sum / min / max / avg in one pass.",
)
def b06_agg_battery(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    sum_v = F.sum(dec2("value"))
    n = F.count(F.lit(1))
    return e.groupBy("event_type").agg(
        n.alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        sum_v.cast("double").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        (sum_v.cast("double") / n).alias("avg_value"),
    )


@query(
    "b06_exact_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS exact_users
    FROM events GROUP BY event_type
    """,
    doc="B6: exact count-distinct — the hash-checked twin of "
    "b06_approx_distinct (split so the exact half gets a value-checked "
    "CORRECTNESS row instead of the whole entry being no-oracle).",
)
def b06_exact_distinct(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact_users"))


@query(
    "b06_approx_distinct",
    oracle=None,  # approximate by construction — rows-only check
    doc="B6: approx_count_distinct (HyperLogLog++) — the 100 TB substitute for "
    "exact count-distinct's full shuffle of the key space. Rows-only: the "
    "HLL estimate is engine-specific; the exact twin b06_exact_distinct "
    "carries the hash check.",
)
def b06_approx_distinct(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
    )


@query(
    "b06_pivot",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events GROUP BY 1
    """,
    doc="B6: pivot (long->wide) with EXPLICIT pivot values — omitting them "
    "costs an extra distinct-collect job and makes the output schema "
    "data-dependent, both wrong at scale. Plans as one conditional-count "
    "aggregation, same as the oracle's FILTER form.",
)
def b06_pivot(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


@query(
    "b06_histogram",
    oracle="""
    SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin,
           25.0 * floor(value / 25.0) AS bin_lo,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
    doc="B6: fixed-width histogram by arithmetic binning — one partial-agg "
    "pass, O(bins) shuffle; the building block for quality-score and "
    "length distributions over a 100 TB corpus.",
)
def b06_histogram(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / 25.0)
    return e.groupBy(
        bin_.cast("bigint").alias("bin"), (bin_ * 25.0).alias("bin_lo")
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "b06_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.5)  AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="B6: exact continuous percentiles per group — both engines define "
    "quantiles by sort + linear interpolation over identical doubles, so "
    "the result hash-matches despite being order-statistics. At 100 TB the "
    "drop-in substitute is approx_percentile (t-digest sketch, fixed "
    "memory); the exact form is the oracle-parity variant.",
)
def b06_percentiles(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("q25"),
        F.percentile("l_quantity", F.lit(0.5)).alias("q50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q75"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "b06_unpivot",
    oracle="""
    SELECT event_id, 'value' AS metric, value AS v FROM events
    UNION ALL
    SELECT event_id, 'user_id', CAST(user_id AS DOUBLE) FROM events
    """,
    doc="B6: unpivot/melt (wide->long, the inverse of b06_pivot) — plans as "
    "one Expand over one scan, the same shape the oracle spells as "
    "UNION ALL without re-reading the table.",
)
def b06_unpivot(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("value"), F.col("user_id").cast("double").alias("user_id")
    )
    return e.unpivot("event_id", ["value", "user_id"], "metric", "v")


# --- B2/B3: equi / outer / semi / anti joins --------------------------------


@query(
    "b02_join_revenue_per_nation",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="B2: multi-way equi-join, dims broadcast (nation: 25 rows), facts "
    "shuffle on the join keys once each.",
)
def b02_join_revenue_per_nation(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    disc = dec2(F.lit(1) - F.col("l_discount"), 4)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(dec2("l_extendedprice") * disc).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "b02_join_left_outer",
    oracle="""
    SELECT c_custkey,
           count(o_orderkey) AS n_orders,
           coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 0.0) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    doc="B2: left outer join preserving order-less customers.",
)
def b02_join_left_outer(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dec2("o_totalprice")).cast("double"), F.lit(0.0)).alias(
                "total_spent"
            ),
        )
    )


@query(
    "b02_join_right_outer",
    oracle="""
    SELECT c_custkey, o_orderkey
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    """,
    doc="B2: right outer join (row-preserving side flipped).",
)
def b02_join_right_outer(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select("c_custkey", "o_orderkey")


@query(
    "b02_join_full_outer",
    oracle="""
    WITH od AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, count(*) AS n_orders
        FROM orders GROUP BY 1
    ),
    ed AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events
        FROM events GROUP BY 1
    )
    SELECT coalesce(od.day, ed.day) AS day, n_orders, n_events
    FROM od FULL OUTER JOIN ed ON od.day = ed.day
    """,
    doc="B2: full outer join of two disjoint daily aggregates (order days vs "
    "event days) — every null-side combination exercised.",
)
def b02_join_full_outer(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    e = load_table(spark, sf_dir, "events")
    od = o.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    ed = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        od.join(ed, od.day == ed.day, "full_outer")
        .select(
            F.coalesce(od.day, ed.day).alias("day"),
            "n_orders",
            "n_events",
        )
    )


@query(
    "b03_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
    doc="B3: left-semi join (EXISTS) — generalizes the reference's selection "
    "re-apply (index.js:460-465).",
)
def b03_semi_join(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "b03_anti_join",
    oracle="""
    SELECT p_partkey, p_name FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
    """,
    doc="B3: left-anti join (NOT EXISTS) — parts never ordered; generalizes "
    "selection retraction (index.js:843-860).",
)
def b03_anti_join(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    return p.join(l, p.p_partkey == l.l_partkey, "left_anti").select("p_partkey", "p_name")


# --- B4/B5: range / interval / as-of joins ----------------------------------


@query(
    "b04_interval_join_keyed",
    oracle="""
    SELECT a.event_id, count(b.event_id) AS n_follow
    FROM events a LEFT JOIN events b
      ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
    GROUP BY a.event_id
    """,
    doc="B4: keyed range join — events of the same user within the next 10 "
    "minutes. Equi-join on user_id (one shuffle); range is a post-filter.",
)
def b04_interval_join_keyed(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    a = e.select(
        F.col("event_id").alias("event_id"),
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("a_ts"),
    )
    b = e.select(F.col("event_id").alias("b_id"), F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"))
    cond = (
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 10 MINUTES"))
    )
    return (
        a.join(b, cond, "left")
        .groupBy("event_id")
        .agg(F.count("b_id").alias("n_follow"))
    )


@query(
    "b04_interval_join_bucketed",
    oracle="""
    SELECT s.event_id AS iv_id, count(e.event_id) AS n_points
    FROM (SELECT event_id, ts FROM events WHERE event_type = 'signup') s
    JOIN events e ON e.ts >= s.ts AND e.ts < s.ts + INTERVAL 1 HOUR
    GROUP BY s.event_id
    """,
    doc="B4: key-less interval join via time-axis bucketing — the 100 TB path "
    "(explode intervals into hour buckets, equi-join on bucket, exact filter) "
    "instead of a broadcast-nested-loop cartesian.",
)
def b04_interval_join_bucketed(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    intervals = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("iv_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end"),
    )
    points = e.select(F.col("event_id").alias("point_id"), F.col("ts").alias("pts"))
    joined = interval_join_bucketed(
        points, intervals, point_ts="pts", start="start", end="end", bucket_seconds=3600
    )
    return joined.groupBy("iv_id").agg(F.count("point_id").alias("n_points"))


@query(
    "b04_interval_join_colocated",
    oracle="""
    SELECT s.event_id AS iv_id, count(e.event_id) AS n_points
    FROM (SELECT event_id, ts FROM events WHERE event_type = 'signup') s
    JOIN events e ON e.ts >= s.ts AND e.ts < s.ts + INTERVAL 1 HOUR
    GROUP BY s.event_id
    """,
    doc="B4 (storage-layout scale path — VERDICT r5 'Next round' #7): the "
    "same key-less interval join as b04_interval_join_bucketed, but both "
    "sides are first written as BUCKETED tables on the hour-bucket key "
    "(8 buckets, sorted within bucket), so the bucket equi-join itself is "
    "ZERO-shuffle — merge-join over co-located bucket files (asserted in "
    "tests/test_plans.py). At 100 TB the points-side shuffle is the "
    "dominant cost of every interval probe; writing the facts bucketed on "
    "the time-bucket once removes it from every subsequent interval join. "
    "The oracle is the plain range join — layout must never change results.",
)
def b04_interval_join_colocated(spark, sf_dir):
    import os

    from ..operators.layout import dir_fingerprint, ensure_bucketed_table

    e = load_table(spark, sf_dir, "events")
    base = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    root = os.path.join("/tmp/dataselector_roundtrip", base)
    tp, ti = f"bkt_{base}_ev_points", f"bkt_{base}_ev_intervals"
    points = e.select(
        F.col("event_id").alias("point_id"),
        F.col("ts").alias("pts"),
        (F.unix_timestamp(F.col("ts")) / 3600).cast("long").alias("__bucket"),
    )
    intervals = with_time_buckets(
        e.filter(F.col("event_type") == "signup").select(
            F.col("event_id").alias("iv_id"),
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end"),
        ),
        F.col("start"),
        F.col("end"),
        3600,
    )
    # write-once: reuse the bucketed layout while the source is unchanged
    # (content fingerprint; a regen or fresh metastore rewrites)
    fp = dir_fingerprint(os.path.join(sf_dir, "events.parquet"))
    p = ensure_bucketed_table(
        spark, points, tp, os.path.join(root, tp), 8, "__bucket", fingerprint=fp
    )
    iv = ensure_bucketed_table(
        spark, intervals, ti, os.path.join(root, ti), 8, "__bucket", fingerprint=fp
    )
    # merge hint: exercise the co-located sort-merge path (a broadcast would
    # also be shuffle-free but wouldn't prove the bucketed layout works)
    joined = p.join(iv.hint("merge"), "__bucket").filter(
        (F.col("pts") >= F.col("start")) & (F.col("pts") < F.col("end"))
    )
    return joined.groupBy("iv_id").agg(F.count("point_id").alias("n_points"))


@query(
    "b05_asof_join",
    oracle="""
    SELECT e.event_id, b.prev_error_id, b.prev_error_value
    FROM events e
    ASOF LEFT JOIN (
        SELECT user_id, ts, event_id AS prev_error_id, value AS prev_error_value
        FROM events WHERE event_type = 'error'
    ) b ON e.user_id = b.user_id AND e.ts >= b.ts
    """,
    doc="B5: as-of join — for each event, the same user's most recent error at "
    "or before it. Merge-asof encoding: union + one shuffle + last(ignorenulls) "
    "over an ordered window; linear, no per-key pair explosion (operators/asof.py).",
)
def b05_asof_join(spark, sf_dir):
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
    )
    return joined.select("event_id", "prev_error_id", "prev_error_value")


# --- B7: rollup / cube / grouping sets --------------------------------------


@query(
    "b07_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag, l_linestatus) AS gid,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    doc="B7: hierarchical rollup with grouping id.",
)
def b07_rollup(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "b07_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag, l_linestatus) AS gid,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    doc="B7: full cube with grouping id.",
)
def b07_cube(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.sum(dec2("l_extendedprice")).cast("double").alias("sum_price"),
    )


@query(
    "b07_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag, l_linestatus) AS gid,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    """,
    doc="B7: explicit GROUPING SETS (a non-hierarchical subset rollup can't "
    "express) via DataFrame.groupingSets — one Expand + one aggregate, not "
    "three scans.",
)
def b07_grouping_sets(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping_id().alias("gid"),
        F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


# --- B9: sort / limit / top-k ----------------------------------------------


@query(
    "b09_topk_global",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    doc="B9: global top-k — Spark plans TakeOrderedAndProject (per-partition "
    "heap + driver merge), never a full sort. Deterministic tiebreak on key.",
)
def b09_topk_global(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "b09_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
    doc="B9/B8: top-3 orders per customer via ranking window.",
)
def b09_topk_per_group(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@query(
    "b09_diversified_topk",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM (
        SELECT o_orderkey, o_custkey,
               CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    ) WHERE rn <= 2
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    doc="B09 (r7): diversified top-k — global top-20 orders by price with "
    "AT MOST 2 per customer, the result-diversification constraint search "
    "and retrieval layers put on plain top-k (and the relational shape of "
    "'per-source caps' in corpus sampling). Two ranking stages, one "
    "shuffle each, both sub-linear in output: the per-customer cap is a "
    "row_number window partitioned on the diversity key (hash shuffle, "
    "per-key sort, AQE-safe), and the survivor set — at most 2 rows per "
    "key — feeds a global TakeOrderedAndProject, which holds only 20 rows "
    "per partition and never materializes a total sort. Deterministic "
    "tie-breaks ((price DESC, orderkey) in both stages) keep the result "
    "engine-portable.",
)
def b09_diversified_topk(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    capped = (
        o.select(
            "o_orderkey",
            "o_custkey",
            dec2("o_totalprice").alias("o_totalprice"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 2)
        .drop("rn")
    )
    return (
        capped.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        # decimal for the deterministic compare/sort, double at the edge
        # (suite-wide float policy, tpch_full.py module docstring)
        .withColumn("o_totalprice", F.col("o_totalprice").cast("double"))
    )


@query(
    "b09_skyline",
    oracle="""
    SELECT t.p_partkey, t.p_retailprice, t.p_size
    FROM part t
    WHERE NOT EXISTS (
        SELECT 1 FROM part u
        WHERE u.p_retailprice <= t.p_retailprice
          AND u.p_size <= t.p_size
          AND (u.p_retailprice < t.p_retailprice OR u.p_size < t.p_size)
    )
    """,
    doc="B9 (r9): 2-D SKYLINE (Pareto frontier) — parts no other part "
    "dominates on (p_retailprice, p_size), both minimized: the "
    "multi-criteria 'best tradeoffs' query that top-k by any single "
    "weighted score cannot express. Implemented with the distributed "
    "LOCAL-SKYLINE-THEN-MERGE pattern (Borzsony/Kossmann/Stocker's "
    "block-nested-loop made partition-parallel): pass 1 computes each "
    "partition's local skyline via a vectorized sort-sweep in "
    "mapInPandas (sort by (price, size); a row survives iff it has its "
    "price-group's min size and every strictly-cheaper group's min "
    "size is larger — O(n log n), NO pairwise dominance tests), which "
    "is sound because the global skyline is a subset of every "
    "superset-partition's local skyline, so the union of local "
    "skylines contains it; pass 2 runs the IDENTICAL sweep on the "
    "candidate union after an explicit repartition(1) — a deliberate "
    "single-task stage on a provably small input (expected skyline of "
    "n random 2-D points is O(log n); coalesce(1) would instead fuse "
    "and serialize pass 1). The oracle is the quadratic NOT EXISTS "
    "dominance scan, so the hash match proves the two-pass prune is "
    "lossless, duplicates included (two parts with identical "
    "(price, size) on the frontier both survive — strict-dominance "
    "semantics, which the sweep's size == group-min test preserves). "
    "No floats are computed, only compared, so cross-engine hashing "
    "is safe. At 100 TB: pass 1 scans once in parallel and the "
    "shuffle moves only per-partition skylines — the data-dependent "
    "analogue of the M4 downsample's bounded reduction.",
)
def b09_skyline(spark, sf_dir):
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    schema = "p_partkey bigint, p_retailprice double, p_size int"

    def local_sky(it):
        import numpy as np

        for pdf in it:
            if len(pdf) == 0:
                yield pdf
                continue
            pdf = pdf.sort_values(
                ["p_retailprice", "p_size", "p_partkey"], kind="mergesort"
            ).reset_index(drop=True)
            price = pdf["p_retailprice"].to_numpy()
            size = pdf["p_size"].to_numpy(dtype=np.int64)
            new_grp = np.empty(len(pdf), dtype=bool)
            new_grp[0] = True
            new_grp[1:] = price[1:] != price[:-1]
            grp_id = np.cumsum(new_grp) - 1
            starts = np.flatnonzero(new_grp)
            cm = np.minimum.accumulate(size)
            big = np.iinfo(np.int64).max
            strict_min = np.where(starts > 0, cm[np.maximum(starts - 1, 0)], big)
            keep = (size == size[starts][grp_id]) & (size < strict_min[grp_id])
            yield pdf[keep]

    cands = p.mapInPandas(local_sky, schema)
    return cands.repartition(1).mapInPandas(local_sky, schema)


# --- B10: set operations ----------------------------------------------------


@query(
    "b10_set_ops",
    oracle="""
    WITH a AS (SELECT c_custkey FROM customer WHERE c_acctbal > 7000),
         b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    SELECT c_custkey FROM (
        (SELECT * FROM a UNION SELECT * FROM b)
        EXCEPT
        (SELECT * FROM a INTERSECT SELECT * FROM b)
    )
    """,
    doc="B10: union / intersect / except composed (symmetric difference over "
    "two customer segments) — generalizes the selection toggle (A13).",
)
def b10_set_ops(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 7000).select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.union(b).distinct().subtract(a.intersect(b))


# --- B11: scalar function battery -------------------------------------------


@query(
    "b11_scalar_battery",
    oracle="""
    SELECT event_id,
           lower(event_type) AS lo,
           upper(event_type) AS hi,
           concat_ws(':', 'u' || CAST(user_id AS VARCHAR), event_type) AS tag,
           length(props) AS props_len,
           len(string_split(props, ':')) AS n_parts,
           substr(event_type, 1, 3) AS prefix,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           year(ts) AS y, month(ts) AS m, day(ts) AS d, hour(ts) AS h,
           datediff('day', TIMESTAMP '2024-01-01 00:00:00', ts) AS days_in,
           abs(value - 100.0) AS dist100,
           CAST(floor(value) AS DOUBLE) AS v_floor,
           CAST(ceil(value) AS DOUBLE) AS v_ceil,
           greatest(value, 100.0) AS v_hi,
           least(value, 100.0) AS v_lo
    FROM events
    """,
    doc="B11: scalar battery — string, JSON extraction (events.props), "
    "date-part, and math functions in one projection (all JVM built-ins).",
)
def b11_scalar_battery(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.lower("event_type").alias("lo"),
        F.upper("event_type").alias("hi"),
        F.concat_ws(":", F.concat(F.lit("u"), F.col("user_id").cast("string")), "event_type").alias("tag"),
        F.length("props").alias("props_len"),
        F.size(F.split("props", ":")).alias("n_parts"),
        F.substring("event_type", 1, 3).alias("prefix"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("days_in"),
        F.abs(F.col("value") - 100.0).alias("dist100"),
        F.floor("value").cast("double").alias("v_floor"),
        F.ceil("value").cast("double").alias("v_ceil"),
        F.greatest(F.col("value"), F.lit(100.0)).alias("v_hi"),
        F.least(F.col("value"), F.lit(100.0)).alias("v_lo"),
    )


@query(
    "b10_multiset_ops",
    oracle="""
    WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_quantity >= 25),
         b AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
    SELECT 'except_all' AS op, l_suppkey, count(*) AS n FROM (
        SELECT * FROM a EXCEPT ALL SELECT * FROM b
    ) GROUP BY 2
    UNION ALL
    SELECT 'intersect_all', l_suppkey, count(*) FROM (
        SELECT * FROM a INTERSECT ALL SELECT * FROM b
    ) GROUP BY 2
    """,
    doc="B10: multiset (bag) semantics — EXCEPT ALL / INTERSECT ALL respect "
    "multiplicities, unlike the distinct variants in b10_set_ops; counted "
    "per key so the oracle comparison is order-free.",
)
def b10_multiset_ops(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    a = l.filter(F.col("l_quantity") >= 25).select("l_suppkey")
    b = l.filter(F.col("l_returnflag") == "R").select("l_suppkey")
    ex = (
        a.exceptAll(b)
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "l_suppkey", "n")
    )
    inter = (
        a.intersectAll(b)
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "l_suppkey", "n")
    )
    return ex.unionByName(inter)


@query(
    "b02_lateral_topk",
    oracle="""
    SELECT n.n_name, t.o_orderkey, t.o_totalprice
    FROM nation n, LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_nationkey = n.n_nationkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    """,
    doc="B2/B9: LATERAL correlated subquery with per-row ORDER BY + LIMIT "
    "(top-2 orders per nation) — Catalyst decorrelates it into a ranked "
    "window join; run through spark.sql to exercise the SQL surface "
    "itself, like q17.",
)
def b02_lateral_topk(spark, sf_dir):
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("lat_nation")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    return spark.sql("""
        SELECT n.n_name, t.o_orderkey, t.o_totalprice
        FROM lat_nation n, LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM lat_orders JOIN lat_customer ON o_custkey = c_custkey
            WHERE c_nationkey = n.n_nationkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
    """)


@query(
    "b06_correlation_exact_moments",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(xi) AS DOUBLE) AS sx,
             CAST(sum(yi) AS DOUBLE) AS sy,
             CAST(sum(xi * xi) AS DOUBLE) AS sxx,
             CAST(sum(yi * yi) AS DOUBLE) AS syy,
             CAST(sum(xi * yi) AS DOUBLE) AS sxy
      FROM (
        SELECT l_returnflag,
               CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS DECIMAL(19,0)) AS xi,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(19,0)) AS yi
        FROM lineitem
      ) GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price,
           (n * sxy - sx * sy) / (n * n) / 10000.0 AS cov_pop_qty_price
    FROM m ORDER BY l_returnflag
    """,
    doc="B6: Pearson correlation + population covariance per return flag "
    "from EXACT integer moment sums. The 2-dp inputs are scaled to "
    "integer-valued DECIMAL(19,0) (so every product/sum is an exact "
    "integer and each decimal->double cast is ONE correctly-rounded "
    "conversion — a fractional-scale decimal cast rounds differently "
    "across engines by an ulp); the moments then combine through an "
    "identical IEEE expression (add/mul/div/sqrt are correctly rounded). "
    "Correlation is scale-invariant; covariance divides the 100x100 "
    "scaling back out at the end. Unlike built-in corr()/covar_pop(), "
    "whose float accumulation order is engine- and partition-specific, "
    "this is deterministic AND parallel: one aggregation pass, |groups| "
    "output rows.",
)
def b06_correlation_exact_moments(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    xi = (dec2("l_quantity") * F.lit(100)).cast("decimal(19,0)")
    yi = (dec2("l_extendedprice") * F.lit(100)).cast("decimal(19,0)")
    scaled = l.select("l_returnflag", xi.alias("xi"), yi.alias("yi"))
    m = scaled.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("xi").cast("double").alias("sx"),
        F.sum("yi").cast("double").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).cast("double").alias("sxx"),
        F.sum(F.col("yi") * F.col("yi")).cast("double").alias("syy"),
        F.sum(F.col("xi") * F.col("yi")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "l_returnflag",
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_qty_price"),
        ((n * sxy - sx * sy) / (n * n) / F.lit(10000.0)).alias("cov_pop_qty_price"),
    ).orderBy("l_returnflag")


@query(
    "b06_approx_percentile",
    oracle=None,  # sketch-based: engines' t-digest/GK summaries differ by design
    doc="B6: approximate percentiles via Spark's Greenwald-Khanna summary — "
    "the scale path for quantiles (mergeable fixed-size state, one "
    "partial-agg pass, no sort), complementing the exact interpolated "
    "percentiles in b06_percentiles. Rows-only check: approximation "
    "differs across engines by construction; the exact twin is the "
    "hash-checked one. Scalar output columns only — the harness "
    "canonicalizer cannot sort array cells.",
)
def b06_approx_percentile(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    pcts = F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10000)
    return (
        l.groupBy("l_returnflag")
        .agg(
            pcts.getItem(0).alias("price_p50"),
            pcts.getItem(1).alias("price_p95"),
            pcts.getItem(2).alias("price_p99"),
            F.percentile_approx("l_quantity", 0.5, 10000).alias("qty_p50"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "b06_multires_rollup",
    oracle="""
    WITH per_minute AS (
      SELECT date_trunc('minute', ts) AS minute_ts,
             count(*) AS n,
             sum(CAST(value AS DECIMAL(12,2))) AS v
      FROM events GROUP BY 1
    )
    SELECT date_trunc('hour', minute_ts) AS hour_ts,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(sum(v) AS DOUBLE) AS value_sum,
           CAST(count(*) AS BIGINT) AS active_minutes
    FROM per_minute GROUP BY 1 ORDER BY 1
    """,
    doc="B6: hypertable-style multi-resolution rollup — the hourly "
    "aggregate is computed FROM the per-minute aggregate, not from raw "
    "events (algebraic re-aggregation of sums/counts). At 100 TB this is "
    "the continuous-aggregate pattern: materialize the finest grain once, "
    "derive every coarser resolution from it at 1/the-compression-ratio "
    "of the cost; 'active_minutes' falls out for free as the coarse "
    "count of fine groups. events.value is 2-dp, so the standard "
    "DECIMAL(12,2) float policy applies.",
)
def b06_multires_rollup(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    per_minute = (
        e.groupBy(F.date_trunc("minute", "ts").alias("minute_ts"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("v"),
        )
    )
    return (
        per_minute.groupBy(F.date_trunc("hour", "minute_ts").alias("hour_ts"))
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("v").cast("double").alias("value_sum"),
            F.count("*").alias("active_minutes"),
        )
        .orderBy("hour_ts")
    )


@query(
    "b10_union_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority, NULL AS o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL BY NAME
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    doc="B10: schema-evolution union — two corpus shards whose schemas "
    "drifted (one gained o_orderpriority, the other kept o_orderstatus) "
    "merged by NAME with nulls for absent columns "
    "(unionByName(allowMissingColumns=True) / UNION ALL BY NAME). The "
    "shard-merge every long-lived 100 TB corpus hits; positional UNION "
    "would silently misalign columns.",
)
def b10_union_schema_evolution(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    old_shard = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    new_shard = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    return old_shard.unionByName(new_shard, allowMissingColumns=True)
