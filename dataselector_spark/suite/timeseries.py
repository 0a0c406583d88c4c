"""B19/B25 time series: lateness profiles, gap filling, M4 downsampling,
time-weighted averages, trends, concurrency, interval merging, EWMA,
CUSUM drift and autocorrelation.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .base import query


@query(
    "b25_gap_fill_interpolate",
    oracle="""
    WITH per_min AS (
        SELECT event_type, date_trunc('minute', ts) AS m,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    extent AS (
        SELECT event_type, min(m) AS lo, max(m) AS hi FROM per_min GROUP BY 1
    ),
    grid AS (
        SELECT e.event_type, unnest(generate_series(e.lo, e.hi, INTERVAL 1 MINUTE)) AS m
        FROM extent e
    ),
    joined AS (
        SELECT g.event_type, g.m, p.v FROM grid g
        LEFT JOIN per_min p ON p.event_type = g.event_type AND p.m = g.m
    ),
    anchored AS (
        SELECT event_type, m, v,
               last_value(v IGNORE NULLS) OVER w AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN m END IGNORE NULLS) OVER w AS pm,
               first_value(v IGNORE NULLS) OVER w2 AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN m END IGNORE NULLS) OVER w2 AS nm
        FROM joined
        WINDOW w AS (PARTITION BY event_type ORDER BY m
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w2 AS (PARTITION BY event_type ORDER BY m
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, m AS minute_ts,
           v IS NOT NULL AS observed,
           CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv) * (CAST(epoch(m) - epoch(pm) AS DOUBLE)
                                    / CAST(epoch(nm) - epoch(pm) AS DOUBLE))
           END AS value_filled
    FROM anchored
    """,
    doc="B25 (time series): minute-grid densify + linear interpolation — the "
    "hypertable gap-fill: per-series minute sums, a generated dense minute "
    "grid over each series' extent, and missing minutes filled linearly "
    "between the nearest observed anchors (edges clamp to the available "
    "side). Plan shape: one aggregation shuffle, a per-series grid explode "
    "(never a global calendar cross-join), and two window passes on the "
    "same series key — the partitioning is reused across all three. At "
    "100 TB the series key partitions the work; no step is ever "
    "proportional to |grid|² or |series|×|global calendar|.",
)
def b25_gap_fill_interpolate(spark, sf_dir):
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    per_min = (
        e.groupBy(
            "event_type", F.date_trunc("minute", F.col("ts")).alias("m")
        ).agg(F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("v"))
    )
    extent = per_min.groupBy("event_type").agg(
        F.min("m").alias("lo"), F.max("m").alias("hi")
    )
    grid = extent.select(
        "event_type",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 MINUTE"))
        ).alias("m"),
    )
    joined = grid.join(per_min, ["event_type", "m"], "left")
    wp = (
        W.partitionBy("event_type")
        .orderBy("m")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # The "next anchor" is encoded as last(...) over a REVERSED ordering with
    # the running PRECEDING frame — NOT first(...) over CURRENT..UNBOUNDED
    # FOLLOWING: Spark evaluates ignoreNulls over a following frame by
    # re-scanning the frame per row (O(n^2) per partition — measured 154 s
    # vs 4 s on a 214k-row grid), while the running preceding frame is the
    # linear one-pass aggregate in both directions.
    wn = (
        W.partitionBy("event_type")
        .orderBy(F.col("m").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    anchored = joined.select(
        "event_type",
        "m",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(F.when(F.col("v").isNotNull(), F.col("m")), ignorenulls=True)
        .over(wp)
        .alias("pm"),
        F.last("v", ignorenulls=True).over(wn).alias("nv"),
        F.last(F.when(F.col("v").isNotNull(), F.col("m")), ignorenulls=True)
        .over(wn)
        .alias("nm"),
    )
    frac = (
        F.unix_timestamp("m") - F.unix_timestamp("pm")
    ).cast("double") / (F.unix_timestamp("nm") - F.unix_timestamp("pm")).cast("double")
    return anchored.select(
        "event_type",
        F.col("m").alias("minute_ts"),
        F.col("v").isNotNull().alias("observed"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
        .alias("value_filled"),
    )


@query(
    "b25_m4_downsample",
    oracle="""
    WITH base AS (
        SELECT event_type, event_id, epoch_us(ts) AS us, value FROM events
    ),
    ext AS (
        SELECT event_type, min(us) AS lo, max(us) AS hi
        FROM base GROUP BY event_type
    ),
    bucketed AS (
        SELECT b.event_type, b.event_id, b.us, b.value,
               ((b.us - e.lo) * 400) // (e.hi - e.lo + 1) AS bucket
        FROM base b JOIN ext e USING (event_type)
    )
    SELECT event_type, bucket,
           min(us) AS ts_min_us, max(us) AS ts_max_us,
           min(value) AS v_min, max(value) AS v_max,
           arg_min(value, printf('%020d%012d', us, event_id)) AS v_first,
           arg_max(value, printf('%020d%012d', us, event_id)) AS v_last,
           count(*) AS n
    FROM bucketed GROUP BY event_type, bucket
    """,
    doc="B25 (time series / visualization): M4 downsampling — per series, "
    "400 pixel-width buckets over the series extent, each reduced to its "
    "(first, last, min, max) values plus endpoint timestamps: the "
    "error-free line-chart reduction (M4, Jugel et al., VLDB 2014). This "
    "is the reference's render path made scale-safe: a 100 TB series "
    "plots through one partial-aggregated shuffle of O(series x 400) "
    "groups, never by shipping raw points. All bucket arithmetic is "
    "integer (exact in both engines); first/last tiebreak on "
    "(timestamp, event_id) so the reduction is deterministic.",
)
def b25_m4_downsample(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "value",
    )
    ext = base.groupBy("event_type").agg(
        F.min("us").alias("lo"), F.max("us").alias("hi")
    )
    b = base.join(F.broadcast(ext), "event_type").withColumn(
        "bucket", F.expr("((us - lo) * 400) div (hi - lo + 1)")
    )
    # Composite tiebreak as a zero-padded string: arg_min/min_by need a
    # single orderable key in BOTH engines (DuckDB rejects list keys), and
    # fixed-width decimal text orders exactly like the (us, event_id) tuple.
    key = F.format_string("%020d%012d", F.col("us"), F.col("event_id"))
    return b.groupBy("event_type", "bucket").agg(
        F.min("us").alias("ts_min_us"),
        F.max("us").alias("ts_max_us"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.min_by("value", key).alias("v_first"),
        F.max_by("value", key).alias("v_last"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "b25_time_weighted_avg",
    oracle="""
    WITH base AS (
        SELECT event_type, event_id, epoch_us(ts) AS us,
               date_trunc('hour', ts) AS hour_ts, value
        FROM events
    ),
    seg AS (
        SELECT event_type, hour_ts, value,
               coalesce(
                   lead(us) OVER (PARTITION BY event_type, hour_ts
                                  ORDER BY us, event_id),
                   epoch_us(hour_ts + INTERVAL 1 HOUR)
               ) - us AS dur_us
        FROM base
    )
    SELECT event_type, hour_ts,
           CAST(sum(CAST(value AS DECIMAL(12,2)) * dur_us) AS DOUBLE)
               / CAST(sum(dur_us) AS DOUBLE) AS twa,
           count(*) AS n_samples
    FROM seg GROUP BY event_type, hour_ts
    """,
    doc="B25 (time series): time-weighted average per series-hour — each "
    "sample's value is held until the next sample (last-observation-"
    "carried-forward within the bucket; the final segment extends to the "
    "bucket edge), so irregularly-spaced samples average by COVERAGE "
    "TIME, not by sample count (the hypertable `time_weight` aggregate; "
    "plain avg() over-weights bursts). One window + one aggregation, both "
    "partitioned on the same (series, hour) key — a single shuffle. "
    "Weights are integer microseconds and values 2-dp decimals, so the "
    "weighted sum is exact in both engines; the division to DOUBLE "
    "happens once at the end.",
)
def b25_time_weighted_avg(spark, sf_dir):
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        "value",
    )
    w = W.partitionBy("event_type", "hour_ts").orderBy("us", "event_id")
    seg = base.select(
        "event_type",
        "hour_ts",
        "value",
        (
            F.coalesce(
                F.lead("us").over(w),
                F.unix_micros(F.col("hour_ts") + F.expr("INTERVAL 1 HOUR")),
            )
            - F.col("us")
        ).alias("dur_us"),
    )
    return seg.groupBy("event_type", "hour_ts").agg(
        (
            F.sum(F.col("value").cast("decimal(12,2)") * F.col("dur_us")).cast("double")
            / F.sum("dur_us").cast("double")
        ).alias("twa"),
        F.count(F.lit(1)).alias("n_samples"),
    )


@query(
    "b25_trend_per_series",
    oracle="""
    WITH m AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(xi) AS DOUBLE) AS sx,
             CAST(sum(yi) AS DOUBLE) AS sy,
             CAST(sum(xi * xi) AS DOUBLE) AS sxx,
             CAST(sum(xi * yi) AS DOUBLE) AS sxy
      FROM (
        SELECT event_type,
               CAST(epoch_us(ts) // 1000000 - 1704067200 AS DECIMAL(19,0)) AS xi,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS DECIMAL(19,0)) AS yi
        FROM events WHERE value <> -999.99
      ) GROUP BY event_type
    )
    SELECT event_type,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0 AS slope_per_sec,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n / 100.0
               AS intercept,
           CAST(n AS BIGINT) AS n
    FROM m
    """,
    doc="B25 (time series): least-squares trend per series — slope "
    "(units/second) and intercept from EXACT integer moment sums (x = "
    "seconds since the epoch origin as DECIMAL, y = 2-dp value scaled to "
    "integer; every product and sum is exact, the closed-form slope is "
    "one fixed-order IEEE expression at the end). Same technique as the "
    "exact-moment correlation entry: deterministic AND parallel — one "
    "partial-aggregated pass, |series| output rows, immune to float "
    "accumulation order. The drift/regression detector for monitored "
    "metrics at any scale.",
)
def b25_trend_per_series(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").filter(F.col("value") != -999.99)
    # Integer division (div), not `/`: bigint `/` is DOUBLE division in
    # Spark and would ROUND the sub-second fraction where DuckDB floors.
    xi = (F.expr("unix_micros(ts) div 1000000") - 1704067200).cast("decimal(19,0)")
    yi = (F.col("value").cast("decimal(12,2)") * 100).cast("decimal(19,0)")
    m = e.select("event_type", xi.alias("xi"), yi.alias("yi")).groupBy(
        "event_type"
    ).agg(
        F.count("*").cast("double").alias("n"),
        F.sum("xi").cast("double").alias("sx"),
        F.sum("yi").cast("double").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).cast("double").alias("sxx"),
        F.sum(F.col("xi") * F.col("yi")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope_scaled = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "event_type",
        (slope_scaled / 100.0).alias("slope_per_sec"),
        ((sy - slope_scaled * sx) / n / 100.0).alias("intercept"),
        n.cast("bigint").alias("n"),
    )


@query(
    "b25_max_concurrency",
    oracle="""
    WITH iv AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
        FROM events
    ),
    b AS (
        SELECT event_type, t, sum(ns) AS ns, sum(ne) AS ne FROM (
            SELECT event_type, s AS t, count(*) AS ns, 0 AS ne
            FROM iv GROUP BY 1, 2
            UNION ALL
            SELECT event_type, e AS t, 0, count(*) FROM iv GROUP BY 1, 2
        ) GROUP BY 1, 2
    ),
    c AS (
        SELECT event_type, t,
               sum(ns) OVER (PARTITION BY event_type ORDER BY t
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - sum(ne) OVER (PARTITION BY event_type ORDER BY t
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        FROM b
    ),
    p AS (SELECT event_type, max(conc) AS peak FROM c GROUP BY 1)
    SELECT c.event_type,
           CAST(max(p.peak) AS BIGINT) AS peak,
           CAST(min(c.t) AS BIGINT) AS first_peak_ts
    FROM c JOIN p ON c.event_type = p.event_type AND c.conc = p.peak
    GROUP BY c.event_type
    """,
    doc="B25 (r9): MAX CONCURRENCY via the boundary-sweep — peak number "
    "of simultaneously-active 5-minute activity windows per event_type, "
    "plus the first instant the peak is reached: the interval-stabbing "
    "question behind capacity planning, connection-pool sizing, and "
    "peak-load attribution, which no groupBy over raw events can answer "
    "(concurrency is a property of interval OVERLAP, not of any single "
    "row). Classic sweep re-expressed relationally: each interval "
    "[s, s+300) emits a +1 boundary at s and a -1 at e; boundaries "
    "PRE-AGGREGATE per (event_type, t) — map-side combinable, so the "
    "shuffle carries distinct boundary instants, not events — then "
    "concurrency at t is cum(starts<=t) - cum(ends<=t) via two window "
    "sums with explicit RANGE frames. The RANGE frame (not ROWS) is the "
    "determinism keystone: ties on t are INSIDE the frame together, so "
    "the running sums are functions of t alone — a ROWS frame would "
    "order-depend on tie layout and flake the hash. Half-open interval "
    "semantics fall out for free: at t = e the -1 is already in the "
    "cumulative, so back-to-back windows never double-count. Both "
    "engines floor epoch seconds explicitly (Spark CAST(ts AS LONG) "
    "truncates; DuckDB epoch() keeps fractional seconds and its BIGINT "
    "cast ROUNDS — the 1-second tie this entry's first draft measured "
    "on 'signup' before the floor). One shuffle keyed by event_type "
    "feeds the windows; peak + argmin fold into a per-type aggregate. "
    "At 100 TB: boundary stream is 2n pre-aggregated to distinct "
    "instants; per-key sweep state is a running integer; skewed types "
    "split by AQE like any window partition.",
)
def b25_max_concurrency(spark, sf_dir):
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.col("ts").cast("long").alias("s"))
        .select("event_type", "s", (F.col("s") + 300).alias("e"))
    )
    b = (
        ev.groupBy("event_type", F.col("s").alias("t"))
        .agg(F.count(F.lit(1)).alias("n_start"))
        .select("event_type", "t", F.col("n_start").alias("ns"), F.lit(0).alias("ne"))
        .unionByName(
            ev.groupBy("event_type", F.col("e").alias("t"))
            .agg(F.count(F.lit(1)).alias("n_end"))
            .select("event_type", "t", F.lit(0).alias("ns"), F.col("n_end").alias("ne"))
        )
        .groupBy("event_type", "t")
        .agg(F.sum("ns").alias("ns"), F.sum("ne").alias("ne"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    conc = b.select(
        "event_type",
        "t",
        (F.sum("ns").over(w) - F.sum("ne").over(w)).alias("conc"),
    )
    peak = conc.groupBy("event_type").agg(F.max("conc").alias("peak"))
    return (
        conc.join(peak, "event_type")
        .filter(F.col("conc") == F.col("peak"))
        .groupBy("event_type")
        .agg(
            F.max("peak").cast("bigint").alias("peak"),
            F.min("t").cast("bigint").alias("first_peak_ts"),
        )
    )


@query(
    "b25_interval_merge",
    oracle="""
    WITH iv AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
        FROM events
    ),
    m AS (
        SELECT user_id, s, e,
               max(e) OVER (PARTITION BY user_id ORDER BY s
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_e
        FROM iv
    ),
    f AS (
        SELECT user_id, s, e,
               CASE WHEN prev_e IS NULL OR s > prev_e THEN 1 ELSE 0 END
                   AS is_start
        FROM m
    ),
    g AS (
        SELECT user_id, s, e,
               sum(is_start) OVER (PARTITION BY user_id ORDER BY s
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM f
    ),
    isl AS (
        SELECT user_id, island, min(s) AS i_s, max(e) AS i_e
        FROM g GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(i_e - i_s) AS BIGINT) AS covered_s,
           CAST(max(i_e - i_s) AS BIGINT) AS longest_s
    FROM isl GROUP BY 1
    """,
    doc="B25 (r9): INTERVAL COALESCING (islands & gaps) — merge each "
    "user's overlapping/adjacent 5-minute activity intervals into "
    "maximal disjoint islands and report per-user island count, total "
    "covered seconds, and longest island: the uptime/SLA/session- "
    "coverage primitive (total covered time is NOT sum of interval "
    "lengths — overlaps double-count; b25_max_concurrency answers how "
    "MANY overlap, this answers how much time they COVER). Gap "
    "detection is the running-max trick: an interval starts a new "
    "island iff its s exceeds max(e) over ALL earlier intervals — both "
    "window passes use RANGE frames exclusively (UNBOUNDED..1 PRECEDING "
    "for the running max, UNBOUNDED..CURRENT for the island id), so "
    "tied start instants share one frame and one island id and the "
    "result is a function of the interval SET, never of tie layout "
    "(the b25_max_concurrency determinism rule). Half-open semantics: "
    "back-to-back intervals ([t,t+300) then [t+300,..)) have no gap "
    "and merge. The whole plan runs on ONE exchange: the windows hash "
    "by user_id, and both downstream groupBys — (user_id, island) then "
    "(user_id) — are satisfied by that same HashPartitioning (Spark's "
    "ClusteredDistribution accepts any subset partitioning), so "
    "Catalyst inserts no further shuffle (plan-asserted). At 100 TB "
    "the per-user sweep state is one running bigint; skewed users "
    "split by AQE like any window partition; both engines floor epoch "
    "seconds explicitly (DuckDB rounds on BIGINT cast).",
)
def b25_interval_merge(spark, sf_dir):
    from pyspark.sql import Window

    iv = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("long").alias("s"))
        .select("user_id", "s", (F.col("s") + 300).alias("e"))
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.max("e").over(w_prev).isNull()
            | (F.col("s") > F.max("e").over(w_prev)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_start"),
    )
    islands = (
        flagged.withColumn("island", F.sum("is_start").over(w_cum))
        .groupBy("user_id", "island")
        .agg(F.min("s").alias("i_s"), F.max("e").alias("i_e"))
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("i_e") - F.col("i_s")).cast("bigint").alias("covered_s"),
        F.max(F.col("i_e") - F.col("i_s")).cast("bigint").alias("longest_s"),
    )


_EWMA_TERMS = " + ".join(
    f"coalesce(lag(v, {i}) OVER w * {1 << (15 - i)}, 0)" for i in range(16)
)

@query(
    "b25_ewma_dyadic",
    oracle=f"""
    WITH q AS (
        SELECT event_id, user_id,
               CAST(floor(value * 16) AS BIGINT) AS v,
               ts
        FROM events
    )
    SELECT event_id, user_id,
           CAST({_EWMA_TERMS} AS BIGINT) AS ewma_num,
           CAST(count(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_terms
    FROM q
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="B25 (r9): EXACT exponentially-weighted moving value — the "
    "trend/anomaly smoother every metrics pipeline runs — made "
    "hash-checkable by the DYADIC trick: float EWMA (s = a*x + (1-a)*s) "
    "is a running float sum, order-dependent and unfixable "
    "cross-engine (the fixed-point-bigint rule this suite applies to "
    "every iterative float), but with alpha = 1/2 and a 16-step "
    "horizon every weight is a power of two, so the numerator "
    "sum(v_{{t-i}} * 2^(15-i)) is pure bigint shifts — bit-exact on "
    "both engines, the denominator a constant the consumer divides at "
    "the edge. Inputs quantize once (floor(value*16): one explicit "
    "float op, identical IEEE semantics) and the 16 taps are lag() "
    "columns over ONE window sort keyed (user_id; ts, event_id) — the "
    "unique event_id tiebreak makes the ROWS-based lag a function of "
    "the data, not the partition layout (the one place a ROWS frame "
    "is safe: a total order). One exchange, one sort, 16 lags + the "
    "term count all ride the same Window operator; the truncated "
    "horizon also bounds per-row state at 100 TB (full-history EWMA "
    "weights below 2^-16 are sub-quantum and drop to zero anyway: "
    "truncation IS the fixed point, not an approximation).",
)
def b25_ewma_dyadic(spark, sf_dir):
    from pyspark.sql import Window

    q = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 16).cast("bigint").alias("v"),
        "ts",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cnt = w.rowsBetween(-15, 0)
    num = None
    for i in range(16):
        term = F.coalesce(F.lag("v", i).over(w) * F.lit(1 << (15 - i)), F.lit(0))
        num = term if num is None else num + term
    return q.select(
        "event_id",
        "user_id",
        num.cast("bigint").alias("ewma_num"),
        F.count("v").over(w_cnt).cast("bigint").alias("n_terms"),
    )


@query(
    "b25_cusum_drift",
    oracle="""
    WITH b AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 60 AS bucket,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    tgt AS (
        SELECT event_type,
               CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS k
        FROM b GROUP BY 1
    ),
    c AS (
        SELECT b.event_type, b.bucket,
               sum(b.x - tgt.k) OVER (PARTITION BY b.event_type
                   ORDER BY b.bucket
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cz
        FROM b JOIN tgt USING (event_type)
    ),
    s AS (
        SELECT event_type, bucket,
               cz - least(0, min(cz) OVER (PARTITION BY event_type
                   ORDER BY bucket
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
                   AS cusum
        FROM c
    ),
    agg AS (
        SELECT event_type, max(cusum) AS max_cusum FROM s GROUP BY 1
    )
    SELECT s.event_type,
           CAST(agg.max_cusum AS BIGINT) AS max_cusum,
           CAST(min(CASE WHEN s.cusum = agg.max_cusum THEN s.bucket END)
                AS BIGINT) AS peak_bucket,
           CAST(min(CASE WHEN s.cusum > 100000 THEN s.bucket END)
                AS BIGINT) AS first_alarm_bucket
    FROM s JOIN agg USING (event_type)
    GROUP BY s.event_type, agg.max_cusum
    """,
    doc="B25 (r9): CUSUM CHANGE-POINT / DRIFT DETECTION — the sequential "
    "upward-shift detector (Page 1954) behind production-metric drift "
    "alarms, here over per-minute value totals per event_type: "
    "S_t = max(0, S_{t-1} + (x_t - k)) flags a sustained shift above "
    "the per-type baseline k long before any fixed threshold on x_t "
    "does, and unlike the distributional drift entries "
    "(b22_drift_ks/chisq: two static samples) it LOCALIZES the change "
    "in time. The recursive max(0, ...) looks stateful-sequential, but "
    "the closed form S_t = CZ_t - min(0, min_{j<t} CZ_j) (cumsum minus "
    "running floor) turns it into RANGE-frame window passes over the "
    "same (event_type; bucket) sort — no recursion, no UDF. The "
    "baseline k AND the per-type peak are whole-partition WINDOW "
    "aggregates rather than groupBy+join-back: the join form "
    "duplicates the entire upstream subtree in the physical plan (two "
    "scans, two pre-aggregations — measured on the first draft), the "
    "window form keeps ONE pipeline — plan-asserted at exactly 2 "
    "exchanges ((type,bucket) pre-agg, then type), 1 scan, 0 joins. "
    "Everything is exact "
    "integer: values quantize once (floor(value*100)), the baseline is "
    "an integer division (Spark DIV ≡ DuckDB // on non-negative "
    "operands — the cross-engine rule), buckets pre-aggregate "
    "map-side so ties inside the RANGE frame are impossible by "
    "construction (bucket is the sort key AND the group key). Output "
    "per type: the peak CUSUM statistic, where it peaked, and the "
    "first alarm crossing h=100000 (NULL when never crossed; on this "
    "corpus the alarm fires — the integer-floor baseline k = "
    "floor(mean) leaves a nonnegative per-bucket residual, so S_t "
    "accumulates the fractional drift the way a real slightly-hot "
    "metric would, and the entry exercises both the crossing and its "
    "localization). At 100 TB: "
    "one shuffle keyed by (type, bucket) for the pre-aggregation, one "
    "by type for the sweep; per-partition state is two running "
    "bigints.",
)
def b25_cusum_drift(spark, sf_dir):
    from pyspark.sql import Window

    b = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(F.col("ts").cast("long") / 60).cast("bigint").alias("bucket"),
            F.floor(F.col("value") * 100).cast("bigint").alias("q"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.sum("q").alias("x"))
    )
    # Baseline k and the peak are WINDOW aggregates over the same
    # event_type partitioning, not groupBy+join back: a join would
    # duplicate the whole upstream subtree in the plan (two scans, two
    # pre-aggregations) where a window keeps one pipeline on one sort.
    w_part = Window.partitionBy("event_type")
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    c = b.select(
        "event_type",
        "bucket",
        "x",
        F.expr("sum(x) OVER (PARTITION BY event_type)").alias("tot"),
        F.expr("count(*) OVER (PARTITION BY event_type)").alias("nb"),
    ).select(
        "event_type",
        "bucket",
        (F.col("x") - F.expr("tot DIV nb")).alias("z"),
    )
    s_ = c.select(
        "event_type",
        "bucket",
        F.sum("z").over(w_cum).alias("cz"),
    ).select(
        "event_type",
        "bucket",
        (
            F.col("cz")
            - F.least(F.lit(0).cast("bigint"), F.min("cz").over(w_prev))
        ).alias("cusum"),
    )
    s2 = s_.select(
        "event_type",
        "bucket",
        "cusum",
        F.max("cusum").over(w_part).alias("mx"),
    )
    return s2.groupBy("event_type").agg(
        F.max("mx").cast("bigint").alias("max_cusum"),
        F.min(F.when(F.col("cusum") == F.col("mx"), F.col("bucket")))
        .cast("bigint")
        .alias("peak_bucket"),
        F.min(F.when(F.col("cusum") > 100000, F.col("bucket")))
        .cast("bigint")
        .alias("first_alarm_bucket"),
    )


@query(
    "b25_autocorr",
    oracle="""
    WITH b AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 60 AS bucket,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    c AS (
        SELECT event_type, bucket,
               x - (sum(x) OVER (PARTITION BY event_type)
                    // count(*) OVER (PARTITION BY event_type)) AS cx
        FROM b
    ),
    den AS (
        SELECT event_type, sum(cx * cx) AS den FROM c GROUP BY 1
    ),
    num AS (
        SELECT a.event_type, k.k, sum(a.cx * f.cx) AS num
        FROM c a
        JOIN (SELECT unnest([1, 2, 3]) AS k) k ON true
        JOIN c f ON f.event_type = a.event_type
                AND f.bucket = a.bucket + k.k
        GROUP BY 1, 2
    )
    SELECT n.event_type, CAST(n.k AS BIGINT) AS lag_minutes,
           CAST(n.num AS BIGINT) AS num,
           CAST(d.den AS BIGINT) AS den,
           CAST(n.num AS DOUBLE) / d.den AS acf
    FROM num n JOIN den d USING (event_type)
    """,
    doc="B25 (r9): EXACT AUTOCORRELATION (ACF at 1-3 minute lags) of the "
    "per-minute value series per event_type — the seasonality/"
    "persistence diagnostic behind forecasting and anomaly baselines "
    "(is the metric self-similar minute over minute, or noise?), made "
    "hash-checkable the fixed-point way: quantize once, center on the "
    "integer-DIV mean (a window aggregate — the b25_cusum_drift rule, "
    "no join-back), and both the lag-k numerator sum(c_t * c_{t+k}) "
    "and the denominator sum(c_t^2) are exact bigint products; the "
    "ACF ratio is ONE correctly-rounded division at the edge (float "
    "covariance accumulation, the textbook formulation, can never "
    "hash cross-engine). Lags are TRUE time lags — an equi-join on "
    "(type, bucket + k), not a positional window lag, so a missing "
    "minute yields no phantom pair (the gap-vs-position distinction "
    "positional lag() silently gets wrong on sparse series); the "
    "3-lag fan-out is one bounded explode, the b04_range_anti_join "
    "trick in miniature. Shuffle carries one row per (type, minute) "
    "— pre-aggregated map-side; at 100 TB the join key is (type, "
    "minute), uniform by construction, and k more lags cost k "
    "explode rows per bucket, not k scans.",
)
def b25_autocorr(spark, sf_dir):
    b = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(F.col("ts").cast("long") / 60).cast("bigint").alias("bucket"),
            F.floor(F.col("value") * 100).cast("bigint").alias("q"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.sum("q").alias("x"))
    )
    c = b.select(
        "event_type",
        "bucket",
        (
            F.col("x")
            - F.expr(
                "sum(x) OVER (PARTITION BY event_type)"
                " DIV count(*) OVER (PARTITION BY event_type)"
            )
        ).alias("cx"),
    )
    den = c.groupBy("event_type").agg(
        F.sum(F.col("cx") * F.col("cx")).alias("den")
    )
    lagged = c.select(
        "event_type",
        "cx",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
        "bucket",
    ).select(
        "event_type", "k", F.col("cx").alias("cx_a"),
        (F.col("bucket") + F.col("k")).alias("bucket"),
    )
    f = c.select(
        "event_type", "bucket", F.col("cx").alias("cx_f")
    )
    num = (
        lagged.join(f, ["event_type", "bucket"])
        .groupBy("event_type", "k")
        .agg(F.sum(F.col("cx_a") * F.col("cx_f")).alias("num"))
    )
    return num.join(F.broadcast(den), "event_type").select(
        "event_type",
        F.col("k").cast("bigint").alias("lag_minutes"),
        F.col("num").cast("bigint").alias("num"),
        F.col("den").cast("bigint").alias("den"),
        (F.col("num").cast("double") / F.col("den")).alias("acf"),
    )


@query(
    "b19_lateness_profile",
    oracle="""
    WITH o AS (
        SELECT event_type, event_id,
               event_id + CASE WHEN event_id % 10 = 7
                               THEN 100 ELSE 0 END AS arrival,
               CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        FROM events
    ),
    m AS (
        SELECT event_type, tsec,
               max(tsec) OVER (PARTITION BY event_type
                   ORDER BY arrival, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS seen_max
        FROM o
    ),
    l AS (
        SELECT event_type,
               CASE WHEN seen_max IS NOT NULL AND tsec < seen_max
                    THEN seen_max - tsec ELSE 0 END AS late_s
        FROM m
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(CASE WHEN late_s > 0 THEN 1 END) AS BIGINT)
               AS n_late,
           CAST(max(late_s) AS BIGINT) AS max_late_s,
           CAST(sum(late_s) AS BIGINT) AS sum_late_s,
           CAST(count(CASE WHEN late_s > 300 THEN 1 END) AS BIGINT)
               AS n_beyond_5m
    FROM l GROUP BY event_type
    """,
    doc="B19 (r9): EVENT-TIME LATENESS PROFILE — how out-of-order does "
    "each stream actually arrive: per event_type, the count/max/total "
    "of (running-max event-time minus this event's time) over ARRIVAL "
    "order, plus how many events arrive more than 5 minutes late. "
    "This is the number that SETS the watermark: "
    "b19_stream_watermark/b20_* pick withWatermark('5 minutes') as a "
    "given — this entry measures what that bound drops (n_beyond_5m "
    "= exactly the rows a 5-minute watermark would treat as too "
    "late), turning the streaming config into a data-derived "
    "decision. The generator emits events already time-ordered "
    "(measured: zero lateness over raw event_id order — an all-zero "
    "profile verifies nothing), so the entry SIMULATES the delayed "
    "ingest every real collector produces: a deterministic 10% of "
    "events (event_id % 10 = 7) arrive 100 sequence positions late — "
    "the planted-signal rule (b16_scene_cuts, b15_pmi_planted): known "
    "input, recovered output, pinned in pytest. The running max is a "
    "ROWS frame over the (arrival, event_id) total order — "
    "deterministic by the b25_ewma_dyadic rule — and "
    "the UNBOUNDED..1 PRECEDING frame excludes the current row so a "
    "new high-water mark is never 'late vs itself'. All-integer "
    "lateness arithmetic (explicit epoch floor on both engines). One "
    "exchange keyed by event_type; the profile aggregates are "
    "map-side-combined. At 100 TB this runs as the daily stream-"
    "health audit on the same partitioning the streaming jobs use; "
    "per-partition state is one running bigint.",
)
def b19_lateness_profile(spark, sf_dir):
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        (
            F.col("event_id")
            + F.when(F.col("event_id") % 10 == 7, 100).otherwise(0)
        ).alias("arrival"),
        F.col("ts").cast("long").alias("tsec"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("arrival", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = o.select(
        "event_type",
        F.when(
            F.max("tsec").over(w).isNotNull()
            & (F.col("tsec") < F.max("tsec").over(w)),
            F.max("tsec").over(w) - F.col("tsec"),
        )
        .otherwise(F.lit(0))
        .alias("late_s"),
    )
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count(F.when(F.col("late_s") > 0, 1)).cast("bigint").alias("n_late"),
        F.max("late_s").cast("bigint").alias("max_late_s"),
        F.sum("late_s").cast("bigint").alias("sum_late_s"),
        F.count(F.when(F.col("late_s") > 300, 1))
        .cast("bigint")
        .alias("n_beyond_5m"),
    )
