"""Window-function queries (SURVEY.md §2 B8) with DuckDB oracles.

Deterministic ordering everywhere: every ORDER BY within a window carries a
unique tiebreak column (event_id / o_orderkey) so both engines agree row-for-
row, not just set-for-set.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.windows import rolling_sum_count, with_ranks, zscore_outliers
from .base import query


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


@query(
    "b08_rank_battery",
    oracle="""
    SELECT o_custkey, o_orderkey,
           row_number()   OVER w AS rn,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           ntile(4)       OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
    doc="B8: full ranking battery per customer.",
)
def b08_rank_battery(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    ranked = with_ranks(
        o,
        partition=["o_custkey"],
        order=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
    )
    return ranked.select(
        "o_custkey", "o_orderkey", "rn", "rnk", "drnk", "quartile", "pct_rank", "cume"
    )


@query(
    "b08_lag_lead",
    oracle="""
    SELECT event_id,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           value - lag(value) OVER w AS delta,
           first_value(value) OVER w AS first_seen,
           last_value(value)  OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_seen
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
    doc="B8: lag/lead/first/last analytics per user session stream.",
)
def b08_lag_lead(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return e.select(
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        F.first("value").over(w).alias("first_seen"),
        F.last("value").over(wfull).alias("last_seen"),
    )


@query(
    "b08_rolling_frames",
    oracle="""
    SELECT event_id,
           CAST(sum(CAST(value AS DECIMAL(12,2))) OVER frame AS DOUBLE) AS roll_sum,
           count(*) OVER frame AS roll_n,
           CAST(sum(CAST(value AS DECIMAL(12,2))) OVER run AS DOUBLE) AS cum_sum
    FROM events
    WINDOW frame AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           run AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="B8: bounded rows-frame rolling sum/count + running cumulative sum.",
)
def b08_rolling_frames(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    rolled = rolling_sum_count(
        e,
        partition=["user_id"],
        order=[F.col("ts").asc(), F.col("event_id").asc()],
        value="value",
        preceding=4,
    )
    return rolled.select("event_id", "roll_sum", "roll_n", "cum_sum")


@query(
    "b08_range_frame",
    oracle="""
    SELECT event_id,
           count(*) OVER w AS n_10min,
           CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_10min
    FROM (SELECT event_id, user_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY es
                 RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
    """,
    doc="B8: RANGE frame over event-time seconds — all same-user events in the "
    "trailing 10 minutes (value-based frame incl. peers, not row-based).",
)
def b08_range_frame(spark, sf_dir):
    e = _t(spark, sf_dir, "events").withColumn("es", F.unix_timestamp("ts"))
    w = Window.partitionBy("user_id").orderBy("es").rangeBetween(-600, Window.currentRow)
    return e.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_10min"),
        F.sum(F.col("value").cast("decimal(12,2)")).over(w).cast("double").alias("sum_10min"),
    )


@query(
    "b08_outlier_zscore",
    oracle="""
    WITH stats AS (
        SELECT event_id, value,
               count(*) OVER w AS n,
               CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS s1,
               CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)) AS DECIMAL(22,4))) OVER w AS DOUBLE) AS s2
        FROM events
        WINDOW w AS (PARTITION BY event_type)
    )
    SELECT event_id,
           s1 / n AS g_mean,
           sqrt((s2 - s1 * s1 / n) / (n - 1)) AS g_std,
           (value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS z,
           abs((value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))) > 2.0 AS is_outlier
    FROM stats
    """,
    doc="B8 flagship: per-series z-score outlier QC — the batch generalization "
    "of the reference's manual point-flagging purpose (README.md:19-28). "
    "Decimal-exact moments; one partition-only window pass.",
)
def b08_outlier_zscore(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    flagged = zscore_outliers(e, group=["event_type"], value="value", z_thresh=2.0)
    return flagged.select("event_id", "g_mean", "g_std", "z", "is_outlier")


@query(
    "b08_sessionize",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               CAST(sum(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS sid
        FROM marked
    )
    SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    doc="B8: batch sessionization (gaps-and-islands): lag marks gap starts, "
    "a running sum numbers sessions, one grouped agg summarizes — two "
    "window passes over ONE shuffle on user_id (both windows and the "
    "final groupBy share the partitioning). The batch twin of "
    "b18_stream_session. r9 hardening: the oracle's sid cumsum now "
    "orders by the (ts, event_id) TOTAL order like the Spark side "
    "always did — ordering by ts alone was safe only while per-user "
    "timestamp ties never straddled a session mark (the latent "
    "ambiguity b26_top_paths documented; closed here at the source).",
)
def b08_sessionize(spark, sf_dir):
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull() | (F.col("ts").cast("long") - prev.cast("long") > 1800), 1
    ).otherwise(0)
    return (
        e.withColumn("new_session", new_s)
        .withColumn("sid", F.sum("new_session").over(run))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "b08_ratio_to_report",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour_ts,
               sum(CAST(value AS DECIMAL(12,2))) AS v
        FROM events WHERE value <> -999.99
        GROUP BY 1, 2
    )
    SELECT event_type, hour_ts,
           CAST(v AS DOUBLE) AS value_sum,
           CAST(v AS DOUBLE) / CAST(sum(v) OVER (PARTITION BY hour_ts) AS DOUBLE)
               AS share_of_hour
    FROM hourly
    """,
    doc="B8: ratio-to-report — each series' share of the hour's total, the "
    "percent-of-total reporting window. Numerator and denominator are "
    "exact decimal sums (the window total is identical regardless of "
    "accumulation order), with ONE double division per row at the end, so "
    "the shares hash-match across engines. One aggregation + one "
    "full-partition window on the same hour key.",
)
def b08_ratio_to_report(spark, sf_dir):
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").filter(F.col("value") != -999.99)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.sum(F.col("value").cast("decimal(12,2)")).alias("v"))
    w = W.partitionBy("hour_ts")
    return hourly.select(
        "event_type",
        "hour_ts",
        F.col("v").cast("double").alias("value_sum"),
        (F.col("v").cast("double") / F.sum("v").over(w).cast("double")).alias(
            "share_of_hour"
        ),
    )


@query(
    "b08_outlier_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, median(value) AS med FROM events GROUP BY 1
    ),
    j AS (
        SELECT e.event_id, e.event_type, e.value, m.med
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, median(abs(value - med)) AS mad FROM j GROUP BY 1
    )
    SELECT j.event_id, j.event_type, j.value, j.med, mad.mad AS mad,
           (j.value - j.med) * 0.6745 / mad.mad AS rz,
           abs((j.value - j.med) * 0.6745 / mad.mad) > 3.5 AS is_outlier
    FROM j JOIN mad USING (event_type)
    """,
    doc="B8 (r7): ROBUST outlier flagging via median absolute deviation — "
    "the Iglewicz-Hoaglin modified z-score (0.6745*(x-med)/MAD, |z|>3.5), "
    "the QC pass b08_outlier_zscore's mean/std version breaks on: a "
    "handful of extreme points inflate the std enough to mask themselves "
    "(masking effect), while the median/MAD pair has a 50% breakdown "
    "point. Two exact-median aggregations (groupBy per stage, map-side "
    "partial sort) with BROADCAST joins back to the facts — the group "
    "key is low-cardinality (event types), so the per-group stats are "
    "tiny and the fact table is never shuffled; at 100 TB the same plan "
    "holds with approx_percentile when exact medians exceed the "
    "per-group memory budget. Floats: both engines evaluate the "
    "identical (x - med) * 0.6745 / mad expression tree over "
    "identically-interpolated medians, so the scores hash-match "
    "bit-for-bit (the b06_percentiles parity argument).",
)
def b08_outlier_mad(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    j = e.join(F.broadcast(med), "event_type")
    mad = j.groupBy("event_type").agg(
        F.median(F.abs(F.col("value") - F.col("med"))).alias("mad")
    )
    rz = (F.col("value") - F.col("med")) * F.lit(0.6745) / F.col("mad")
    return (
        j.join(F.broadcast(mad), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            "med",
            "mad",
            rz.alias("rz"),
            (F.abs(rz) > 3.5).alias("is_outlier"),
        )
    )
