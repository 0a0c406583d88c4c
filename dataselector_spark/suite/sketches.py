"""B6 sketches and summaries: mergeable approximate aggregates (HLL
registers, count-min, KMV, heavy hitters, quantile histograms) and the
exact statistics they are checked against.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.cleaning import dec2
from ..session import scoped_conf
from .base import query


@query(
    "b06_sketch_rollup",
    oracle=None,  # DataSketches HLL binary sketches are engine-specific;
    # estimate-vs-exact accuracy asserted in tests/test_llm_ops.py
    doc="B6 (sketch persistence/merge — the 100 TB count-distinct posture): "
    "build one HyperLogLog sketch per (event_type, hour) with "
    "hll_sketch_agg, then UNION the stored sketches up to per-type totals "
    "with hll_union_agg and estimate. This is the pre-aggregated rollup "
    "pattern: the expensive pass over raw data happens once, and any "
    "coarser grain (day/week/all-time, any type subset) is answered by "
    "merging kilobyte sketches — never by re-reading 100 TB. Mergeability "
    "is what plain count-distinct lacks; estimates vs exact are asserted "
    "within HLL error bounds in pytest.",
)
def b06_sketch_rollup(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sketch"))
    return (
        hourly.groupBy("event_type")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias("approx_users"),
            F.count(F.lit(1)).alias("n_hourly_sketches"),
        )
        .select(
            "event_type",
            F.col("approx_users").cast("bigint").alias("approx_users"),
            "n_hourly_sketches",
        )
    )


@query(
    "b06_equidepth_histogram",
    oracle="""
    WITH ranked AS (
        SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS bucket
        FROM events WHERE value <> -999.99
    )
    SELECT bucket, count(*) AS n, min(value) AS lo, max(value) AS hi
    FROM ranked GROUP BY bucket
    """,
    doc="B6: equi-DEPTH histogram (10 buckets of equal row count) — the "
    "quantile-sketch companion to b06_histogram's equi-width bins and the "
    "statistic CBO planners actually store. REWRITTEN r13: the original "
    "ntile(10) OVER (ORDER BY value, event_id) was an unpartitioned "
    "window — the whole events table collapses to ONE partition (the "
    "first violation the r13 bounded-window plan audit flagged; its own "
    "docstring had conceded the 100 TB case to approx_percentile). The "
    "distributed-exact form keeps ntile SEMANTICS bit-identical while "
    "never serializing the corpus: the 1-based global index is a "
    "distributed prefix sum of 1 over the ntile order key "
    "(operators/prefixsum.py running_sums — the same two-level "
    "range-partition + local window + <=|partitions| broadcast-offset "
    "machinery b22_drift_ks already uses for its CDF; the offset window "
    "is the plan's only unpartitioned one, bounded by the pid-domain "
    "aggregate and audit-whitelisted; both offset and index consumers "
    "stay in ONE query so Catalyst REUSES the exchanges and "
    "spark_partition_id cannot diverge between them — a localCheckpoint "
    "would fork a second job whose AQE coalescing resamples the layout, "
    "observed as 11-bucket garbage; ReusedExchange is pinned in "
    "tests/test_plans.py), and ntile's bucket is closed-form in "
    "(global_idx, n): the first n%10 buckets take n DIV 10 + 1 rows, "
    "the rest n DIV 10 — all-integer, replayed by DuckDB's NATIVE ntile "
    "in the oracle, so the hash match proves formula == engine ntile at "
    "every SF. Scale: two corpus shuffles (range + pid-hash, each "
    "O(n/P) per task) replace the single-partition sort; the "
    "oracle-parity output is unchanged.",
)
def b06_equidepth_histogram(spark, sf_dir):
    from ..operators.prefixsum import running_sums

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") != -999.99)
        .select("value", "event_id", F.lit(1).alias("one"))
    )
    idx = running_sums(e, order_by=["value", "event_id"], sum_cols=["one"])
    # scan-only count (no shuffle): the ntile denominator
    tot = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_tot"))
    # ntile(10) closed-form over the 1-based global index i: the first
    # n%10 buckets hold n DIV 10 + 1 rows each, the remainder n DIV 10.
    # The ELSE divisor is greatest(n_tot DIV 10, 1): when n_tot < 10 the
    # WHEN arm always fires (i <= n_tot = n%10 * 1), so the guard is a
    # no-op for correctness but removes the latent 0-divisor that ANSI
    # mode (or a non-lazy expression refactor) would trip (ADVICE r13).
    bucket = F.expr(
        "CAST(CASE WHEN i <= (n_tot % 10) * (n_tot DIV 10 + 1) "
        "THEN (i + (n_tot DIV 10)) DIV (n_tot DIV 10 + 1) "
        "ELSE (n_tot % 10) + (i - (n_tot % 10) * (n_tot DIV 10 + 1) "
        "+ (n_tot DIV 10) - 1) DIV greatest(n_tot DIV 10, 1) END AS INT)"
    )
    return (
        idx.crossJoin(F.broadcast(tot))
        .select("value", F.col("cum_one").alias("i"), "n_tot")
        .select("value", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


@query(
    "b06_footer_stats_agg",
    oracle="""
    SELECT count(*) AS n_rows,
           min(l_quantity) AS q_min,
           max(l_quantity) AS q_max,
           min(l_shipdate) AS ship_min,
           max(l_shipdate) AS ship_max
    FROM lineitem
    """,
    doc="B6 (r7): metadata-only aggregation — COUNT/MIN/MAX answered from "
    "parquet FOOTER STATISTICS (PushedAggregation in the scan, asserted "
    "in tests/test_plans.py), reading zero data pages: at 100 TB this "
    "turns a full-table profile query into a per-file metadata read, the "
    "same statistics zone maps (b22_zone_map_stats) and the INT96 fix "
    "(catalog.py pins TIMESTAMP_MICROS precisely so timestamp columns "
    "CARRY these stats) exist to serve. Pushdown needs the DataSource V2 "
    "scan and is valid only for the filter-less whole-table shape, so "
    "both confs are scoped to this one read and restored — and the "
    "eager .schema inside the scope pins the analyzed V2 relation so "
    "the plan keeps the pushed aggregate after restore. Results are "
    "value-checked against DuckDB computing the same aggregates from "
    "the data itself: footer stats must agree with the rows they "
    "describe.",
)
def b06_footer_stats_agg(spark, sf_dir):
    from ..catalog import table_path

    confs = {
        "spark.sql.parquet.aggregatePushDown": "true",
        "spark.sql.sources.useV1SourceList": "",
    }
    with scoped_conf(spark, confs):
        df = (
            spark.read.parquet(table_path(sf_dir, "lineitem"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("l_quantity").alias("q_min"),
                F.max("l_quantity").alias("q_max"),
                F.min("l_shipdate").alias("ship_min"),
                F.max("l_shipdate").alias("ship_max"),
            )
        )
        df.schema  # force analysis: pin the V2 relation + pushed aggregate
    return df


@query(
    "b06_heavy_hitters_tokens",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    t AS (SELECT count(*) AS total FROM tok)
    SELECT token, cnt,
           CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
    FROM c, t
    WHERE cnt * 200 >= total
    """,
    doc="B6 (r8): exact distributed heavy hitters / frequent items — the "
    "corpus-curation primitive behind 'what dominates my tokenizer "
    "vocabulary' and 'which key dominates my shuffle' (it pairs with the "
    "B2 salted-join skew guard: run this on a join key FIRST, salt only "
    "the keys it returns). Tokens explode map-side, the groupBy partial-"
    "aggregates before the shuffle (the exchange carries one partial per "
    "distinct token per task, not one row per token occurrence), and the "
    "corpus-total denominator is a broadcast single-row crossJoin — no "
    "windowed global sum, no collect. Honest plan note: the total branch "
    "re-scans the pruned text column (its shuffle is one partial per "
    "task); Catalyst has no common-subplan reuse across the crossJoin, so "
    "at 100 TB you persist the distinct-token relation and derive total = "
    "sum(cnt) from it, or fold the total into the main pass with "
    "Dataset.observe (b22_observe_metrics machinery). Threshold is the "
    "classic phi-fraction form (share >= 0.5% via integer cross-multiply, "
    "exact in both engines); at 100 TB the same plan holds because the "
    "shuffle volume is bounded by distinct-token count x tasks, and the "
    "output by 1/phi = 200 rows max. The sketch twin that answers the "
    "same question with bounded memory on unbounded key domains is "
    "b06_count_min_sketch.",
)
def b06_heavy_hitters_tokens(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = tok.agg(F.count(F.lit(1)).alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 200 >= F.col("total"))
        .select(
            "token",
            "cnt",
            (
                F.col("cnt").cast("double") / F.col("total").cast("double")
            ).alias("share"),
        )
    )


# Count-min-sketch geometry: depth 4 x width 64. The row hashes are
# multiply-mod-prime (h_i(k) = ((k*a_i + b_i) mod P) mod W) instead of
# murmur/xxhash so the DuckDB oracle replays every bucket index with plain
# integer arithmetic — the estimates are value-checked, not rows-only.
_CMS_DEPTH = 4
_CMS_W = 64
_CMS_P = 104729
_CMS_A = [3079, 5407, 8191, 9973]
_CMS_B = [17, 101, 911, 2027]


def _cms_oracle() -> str:
    a = "[" + ", ".join(str(x) for x in _CMS_A) + "]"
    b = "[" + ", ".join(str(x) for x in _CMS_B) + "]"
    hexpr = (
        f"((user_id * ({a})[d.depth + 1] + ({b})[d.depth + 1])"
        f" % {_CMS_P}) % {_CMS_W}"
    )
    cand_h = hexpr.replace("user_id", "t.user_id")
    return f"""
    WITH hb AS (
        SELECT d.depth, {hexpr} AS bucket
        FROM events, generate_series(0, {_CMS_DEPTH - 1}) d(depth)
    ),
    sketch AS (
        SELECT depth, bucket, count(*) AS cell FROM hb GROUP BY depth, bucket
    ),
    truth AS (
        SELECT user_id, count(*) AS true_cnt FROM events
        WHERE user_id % 17 = 0 GROUP BY user_id
    ),
    cand AS (
        SELECT t.user_id, t.true_cnt, d.depth, {cand_h} AS bucket
        FROM truth t, generate_series(0, {_CMS_DEPTH - 1}) d(depth)
    )
    SELECT c.user_id, c.true_cnt, min(s.cell) AS cms_est,
           min(s.cell) - c.true_cnt AS overcount
    FROM cand c JOIN sketch s ON s.depth = c.depth AND s.bucket = c.bucket
    GROUP BY c.user_id, c.true_cnt
    """


@query(
    "b06_count_min_sketch",
    oracle=_cms_oracle(),
    doc="B6 (r8): count-min sketch, the bounded-memory frequency estimator "
    "for unbounded key domains — the streaming/approximate twin of "
    "b06_heavy_hitters_tokens. Build: each row expands map-side into "
    "depth=4 (row, bucket) cells via pairwise-independent multiply-mod-"
    "prime hashes and ONE groupBy folds them; after map-side partial "
    "aggregation the shuffle carries at most depth*width = 256 cells per "
    "task regardless of input size, which is the whole point at 100 TB "
    "(the sketch is mergeable across partitions/days by cell-wise add). "
    "Estimate: candidate keys (every user_id % 17 == 0, with exact "
    "counts for comparison) join the 256-row broadcast sketch on their 4 "
    "cells and take the min cell — the classic one-sided CMS bound "
    "(estimate >= truth always; <= truth + N/width in expectation), "
    "which the `overcount` column exposes and "
    "tests/test_llm_ops.py pins (every overcount >= 0). Hashes are "
    "plain integer arithmetic, so the oracle replays every bucket index "
    "and every estimate bit-exactly — a value-checked SKETCH, unlike "
    "the rows-only HLL/KLL entries.",
)
def b06_count_min_sketch(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select("user_id")

    def _bucket(key, i):
        return ((key * _CMS_A[i] + _CMS_B[i]) % _CMS_P) % _CMS_W

    cells = e.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("depth"),
                        _bucket(F.col("user_id"), i).alias("bucket"),
                    )
                    for i in range(_CMS_DEPTH)
                ]
            )
        ).alias("hb")
    )
    sketch = cells.groupBy(
        F.col("hb.depth").alias("depth"), F.col("hb.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cell"))
    truth = (
        e.filter(F.col("user_id") % 17 == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    cand = truth.select(
        "user_id",
        "true_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("depth"),
                        _bucket(F.col("user_id"), i).alias("bucket"),
                    )
                    for i in range(_CMS_DEPTH)
                ]
            )
        ).alias("hb"),
    ).select(
        "user_id",
        "true_cnt",
        F.col("hb.depth").alias("depth"),
        F.col("hb.bucket").alias("bucket"),
    )
    est = (
        cand.join(F.broadcast(sketch), ["depth", "bucket"])
        .groupBy("user_id", "true_cnt")
        .agg(F.min("cell").alias("cms_est"))
    )
    return est.select(
        "user_id",
        "true_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("true_cnt")).alias("overcount"),
    )


@query(
    "b06_nested_lineitems",
    oracle="""
    SELECT l_orderkey,
           count(*) AS n_items,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returned,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT)
             AS qty_e2,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT)
             AS price_e2
    FROM lineitem
    GROUP BY l_orderkey
    HAVING count(*) >= 4
    """,
    doc="B6/B11 (r8): NESTED-DATA processing — lineitems denormalized into "
    "a per-order array<struct> (the document/feature-store layout that "
    "co-locates an order's items in one row, eliminating the join for "
    "per-order access patterns), then computed on WITHOUT exploding: "
    "size() for cardinality, higher-order filter() for the returned-item "
    "count, and aggregate() folds over DECIMAL(12,2) fields for exact "
    "sums — all whole-stage-codegen JVM expressions over the nested "
    "representation. collect_list order is nondeterministic across "
    "partitionings, which is exactly why every derived value is an "
    "order-independent fold (count/sum over exact decimals) — the oracle "
    "is the FLAT GROUP BY, so the hash match proves the nested "
    "representation loses nothing. At 100 TB the nested form is a "
    "storage-layout decision: one shuffle builds it, after which every "
    "per-order computation is map-only — the flat form pays the "
    "order-key shuffle on every query.",
)
def b06_nested_lineitems(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        dec2("l_quantity").alias("qty"),
        dec2("l_extendedprice").alias("price"),
        "l_returnflag",
    )
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(F.struct("qty", "price", "l_returnflag")).alias("items")
    )
    # the fold's accumulator type must stay fixed: decimal addition widens
    # (22,2)+(12,2) -> (23,2), so cast back each step (values are bounded
    # far below the precision ceiling, the cast can never truncate)
    zero = F.lit(0).cast("decimal(22,2)")
    qty_sum = F.aggregate(
        "items", zero, lambda acc, x: (acc + x["qty"]).cast("decimal(22,2)")
    )
    price_sum = F.aggregate(
        "items", zero, lambda acc, x: (acc + x["price"]).cast("decimal(22,2)")
    )
    n_returned = F.size(
        F.filter("items", lambda x: x["l_returnflag"] == "R")
    ).cast("bigint")
    return (
        nested.select(
            "l_orderkey",
            F.size("items").cast("bigint").alias("n_items"),
            n_returned.alias("n_returned"),
            (qty_sum * 100).cast("bigint").alias("qty_e2"),
            (price_sum * 100).cast("bigint").alias("price_e2"),
        )
        .filter(F.col("n_items") >= 4)
    )


@query(
    "b06_heavy_hitters_planted",
    oracle="""
    WITH keyed AS (
        SELECT CASE WHEN event_id % 8 < 3 THEN 'hot_a'
                    WHEN event_id % 8 = 3 THEN 'hot_b'
                    ELSE 'u' || CAST(user_id AS VARCHAR) END AS k
        FROM events
    ),
    c AS (SELECT k, count(*) AS cnt FROM keyed GROUP BY k),
    t AS (SELECT count(*) AS total FROM keyed)
    SELECT k, cnt,
           CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
    FROM c, t
    WHERE cnt * 20 >= total
    """,
    doc="B6 (r9): exact heavy hitters WITH planted hot keys — the "
    "demonstration twin of b06_heavy_hitters_tokens (whose phi-fraction "
    "set on the uniform token corpus is bland). The key column is "
    "derived in-query: event_id%8<3 -> 'hot_a' (exactly 3/8 = 37.5% of "
    "rows, event_id is dense-sequential), %8=3 -> 'hot_b' (12.5%), the "
    "remaining half spread across per-user cold keys (max share 50%/|users| "
    "= 3.3% at sf0.001, 0.33% at sf0.01 — both below threshold). With "
    "phi = 5% (cnt*20 >= total, exact integer cross-multiply) the "
    "recovered set is therefore EXACTLY the two planted keys with "
    "closed-form shares — what a skew probe must do before a salted "
    "join (b02_join_salted pairs with this). Plan shape identical to "
    "the parent: map-side-combined groupBy, broadcast single-row total, "
    "output bounded by 1/phi = 20 rows. tests/test_planted_signals.py "
    "pins set equality and the exact 0.375/0.125 shares.",
)
def b06_heavy_hitters_planted(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    k = (
        F.when(F.col("event_id") % 8 < 3, F.lit("hot_a"))
        .when(F.col("event_id") % 8 == 3, F.lit("hot_b"))
        .otherwise(F.concat(F.lit("u"), F.col("user_id").cast("string")))
    )
    keyed = e.select(k.alias("k"))
    counts = keyed.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
    total = keyed.agg(F.count(F.lit(1)).alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 20 >= F.col("total"))
        .select(
            "k",
            "cnt",
            (
                F.col("cnt").cast("double") / F.col("total").cast("double")
            ).alias("share"),
        )
    )


@query(
    "b06_approx_top_k_exact",
    oracle="""
    SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
    """,
    doc="B6 (r9): approx_top_k (Spark 4's DataSketches frequent-items "
    "aggregate) run in its EXACT REGIME and value-checked — the suite's "
    "second fully-hashable sketch after the count-min entry. The "
    "frequent-items sketch is only approximate once the number of "
    "distinct items exceeds its internal capacity (maxItemsTracked, "
    "default 10000); with |event_type| = 5 << capacity every count it "
    "reports is exact, so the oracle is the plain exact GROUP BY and "
    "the hash match proves it — no rows-only escape hatch. k is set to "
    "cover ALL distinct items, which also makes the entry tie-proof "
    "(a k that truncates at a tied count would pick an "
    "engine-dependent winner). At 100 TB the sketch's value over the "
    "exact groupBy is memory shape, not speed at 5 keys: it aggregates "
    "into a BOUNDED-size mergeable summary per partition (one small "
    "object crosses the shuffle per task, any executor can hold it, "
    "partial merges are associative), where the exact groupBy's state "
    "grows with distinct-key count — the same bounded-vs-linear "
    "argument as the count-min entry, here with the estimate error "
    "provably zero in-regime.",
)
def b06_approx_top_k_exact(spark, sf_dir):
    load_table(spark, sf_dir, "events").createOrReplaceTempView("atk_events")
    return spark.sql("""
        SELECT t.item AS event_type, t.count AS cnt
        FROM (SELECT explode(approx_top_k(event_type, 5)) AS t
              FROM atk_events)
    """)


@query(
    "b06_hll_registers",
    oracle="""
    WITH hb AS (
        SELECT l_returnflag AS scope,
               h % 64 AS bucket,
               (h // 64) % 33554432 AS rem
        FROM (SELECT l_returnflag,
                     ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
              FROM lineitem)
    ),
    rr AS (
        SELECT scope, bucket,
               CASE WHEN rem = 0 THEN 26
                    ELSE 26 - length(bin(rem)) END AS rho
        FROM hb
    ),
    regs AS (
        SELECT scope, bucket, max(rho) AS rho FROM rr GROUP BY scope, bucket
    ),
    allregs AS (
        SELECT scope, bucket, rho FROM regs
        UNION ALL
        SELECT '__ALL__' AS scope, bucket, max(rho) AS rho
        FROM regs GROUP BY bucket
    ),
    est AS (
        SELECT scope,
               count(*) AS nonzero_regs,
               sum(1.0e0 / CAST((CAST(1 AS BIGINT) << rho) AS DOUBLE))
                   AS s_present
        FROM allregs GROUP BY scope
    ),
    ex AS (
        SELECT l_returnflag AS scope,
               count(DISTINCT l_orderkey) AS exact_distinct
        FROM lineitem GROUP BY l_returnflag
        UNION ALL
        SELECT '__ALL__', count(DISTINCT l_orderkey) FROM lineitem
    )
    SELECT e.scope,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
           CAST(e.nonzero_regs AS BIGINT) AS nonzero_regs,
           (0.709e0 * 4096.0e0)
               / (e.s_present + (64 - e.nonzero_regs)) AS hll_est
    FROM est e JOIN ex ON ex.scope = e.scope
    """,
    doc="B6 (r9): VALUE-CHECKED HyperLogLog — closes the caveat the "
    "count-min entry's own docstring records ('unlike the rows-only "
    "HLL/KLL entries'): this HLL is portable integer/dyadic arithmetic "
    "end to end, so the oracle replays every register AND the final "
    "double estimate bit for bit. Hash h = 60-bit md5 prefix of the "
    "key's decimal string (the b22_dataset_fingerprint idiom — "
    "Spark conv(substr(md5,1,15),16,10) == DuckDB ('0x'||...)::BIGINT); "
    "an LCG-mod-prime hash was tried first and REJECTED by measurement: "
    "sequential orderkeys map to an arithmetic progression mod p whose "
    "three-distance lattice structure wrecks exactly the max-leading-"
    "zero statistic HLL needs (33-83% overestimate vs md5's expected "
    "+-13% at m=64 — the negative result is the reason sketch hashes "
    "must be mixing, not merely full-period). bucket = h mod 64 (m = 64 "
    "registers), rho = leading-zero count + 1 over a 25-bit field "
    "((h div 64) mod 2^25 — capped so every 2^-rho term stays >= 2^-26, "
    "see below; the cap only biases past 2^25 distincts PER REGISTER), "
    "computed cross-engine without transcendentals as "
    "26 - length(bin(rem)) (both engines' bin() emits the minimal "
    "binary string; rem = 0 maps to 26). "
    "Registers = max(rho) per (l_returnflag, bucket) — ONE groupBy whose "
    "shuffle carries at most 64 cells per scope per task after map-side "
    "partial max, the same bounded-state shape as the CMS entry; the "
    "'__ALL__' scope is built by MERGING the per-flag registers "
    "(cell-wise max over the 3 group sketches, NOT a re-scan) — the "
    "mergeability that makes HLL the 100 TB count-distinct: any "
    "scope union is answered from kilobyte register sets. The estimate "
    "alpha_64*m^2 / sum(2^-rho_j) is bit-exact across engines because "
    "every term 2^-rho is an exact power of two (1/(1<<rho), never "
    "pow()), all partial sums stay inside 32 significand bits (terms "
    ">= 2^-26, sum < 2^6, so ANY accumulation order is exact — "
    "float-sum order-dependence, the usual cross-engine killer, is "
    "structurally absent), empty registers contribute exactly 1.0, and "
    "0.709e0*4096 is a pure exponent shift. |orderkeys| per flag "
    "(~1100 at sf0.001) keeps every scope in the raw-estimate regime "
    "(n > 2.5m = 160), so no small-range correction branch is needed; "
    "accuracy vs exact_distinct is pinned in pytest "
    "(tests/test_llm_ops.py, every scope within the 3-sigma band).",
)
def b06_hll_registers(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey")
    hb = li.select(
        F.col("l_returnflag").alias("scope"),
        F.conv(F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    ).select(
        "scope",
        (F.col("h") % 64).alias("bucket"),
        (F.expr("h DIV 64") % F.lit(33554432)).alias("rem"),
    )
    rr = hb.select(
        "scope",
        "bucket",
        F.when(F.col("rem") == 0, F.lit(26))
        .otherwise(F.lit(26) - F.length(F.bin(F.col("rem"))))
        .alias("rho"),
    )
    regs = rr.groupBy("scope", "bucket").agg(F.max("rho").alias("rho"))
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
        .select(F.lit("__ALL__").alias("scope"), "bucket", "rho")
    )
    allregs = regs.unionByName(merged)
    est = (
        allregs.groupBy("scope")
        .agg(
            F.count(F.lit(1)).alias("nonzero_regs"),
            F.sum(
                F.lit(1.0)
                / F.expr(
                    "CAST(shiftleft(CAST(1 AS BIGINT), CAST(rho AS INT)) AS DOUBLE)"
                )
            ).alias("s_present"),
        )
    )
    ex = li.groupBy(F.col("l_returnflag").alias("scope")).agg(
        F.countDistinct("l_orderkey").alias("exact_distinct")
    )
    ex_all = li.agg(F.countDistinct("l_orderkey").alias("exact_distinct")).select(
        F.lit("__ALL__").alias("scope"), "exact_distinct"
    )
    exu = ex.unionByName(ex_all)
    return est.join(exu, "scope").select(
        "scope",
        "exact_distinct",
        "nonzero_regs",
        (
            (F.lit(0.709) * F.lit(4096.0))
            / (F.col("s_present") + (F.lit(64) - F.col("nonzero_regs")))
        ).alias("hll_est"),
    )


@query(
    "b06_bitmap_distinct",
    oracle="""
    SELECT event_type AS scope,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY 1
    UNION ALL
    SELECT '__ALL__' AS scope,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events
    """,
    doc="B6 (r9): EXACT distinct counting with BOUNDED, MERGEABLE state — "
    "the missing middle between count(DISTINCT) (exact but state grows "
    "with cardinality: the shuffle carries every distinct id) and HLL "
    "(b06_hll_registers: 64 registers but approximate). Spark's bitmap "
    "aggregates (3.5+) pin each id to (bucket, bit) = "
    "(bitmap_bucket_number, bitmap_bit_position) and "
    "bitmap_construct_agg ORs bits into a <=4KB bytes cell per "
    "(scope, bucket) — partial aggregation is a map-side bitwise OR, so "
    "the shuffle moves at most one 4KB bitmap per populated bucket per "
    "scope regardless of row count: state is O(id-range/32768), not "
    "O(rows) and not O(distinct). The `__ALL__` scope is built by "
    "MERGING the per-type bitmaps with bitmap_or_agg grouped by bucket "
    "— cell-wise OR of already-reduced state, NOT a second scan of "
    "events — the same partial-merge contract the HLL entry proves for "
    "registers, here yielding the EXACT count (OR of exact bitmaps "
    "loses nothing, unlike register max which keeps only an estimate). "
    "Catalyst reuses the (event_type, bucket) shuffle for both "
    "consumers (ReusedExchange, the b13_prefix_filter_pairs pattern), "
    "so events is scanned once. At 100 TB: a daily 10B-row scan "
    "reduces map-side to bitmaps; re-aggregation cost is bucket-count "
    "bound; the same bitmaps persist as an additive daily cube "
    "(b23_incremental_agg's merge≡recompute contract holds exactly). "
    "DuckDB oracle is the plain exact COUNT(DISTINCT) per scope, so "
    "the differential proves the bitmap path LOSSLESS.",
)
def b06_bitmap_distinct(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
        F.expr("bitmap_bit_position(user_id)").alias("pos"),
    )
    per = ev.groupBy("event_type", "bkt").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm")
    )
    per_type = (
        per.groupBy("event_type")
        .agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_distinct"))
        .select(F.col("event_type").alias("scope"), "n_distinct")
    )
    merged = (
        per.groupBy("bkt")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_distinct"))
        .select(F.lit("__ALL__").alias("scope"), "n_distinct")
    )
    return per_type.unionByName(merged)


@query(
    "b06_gini",
    oracle="""
    WITH q AS (
        SELECT event_type, event_id,
               CAST(floor(value * 100) AS BIGINT) AS x
        FROM events
    ),
    r AS (
        SELECT event_type, x,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY x, event_id) AS i
        FROM q
    ),
    m AS (
        SELECT event_type,
               count(*) AS n,
               sum(x) AS sx,
               sum(i * x) AS six
        FROM r GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(sx AS BIGINT) AS sum_x,
           CAST(2 * six - (n + 1) * sx AS BIGINT) AS gini_num,
           CAST(n * sx AS BIGINT) AS gini_den,
           CAST(2 * six - (n + 1) * sx AS DOUBLE) / (n * sx) AS gini
    FROM m
    """,
    doc="B6/B22 (r9): GINI COEFFICIENT of the per-type value "
    "distribution — the concentration number behind corpus-curation "
    "decisions (is the token/value mass spread out or owned by a few "
    "rows?), computed by the exact rank formula "
    "G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over values "
    "sorted ascending. Determinism has one subtlety this entry "
    "documents: ranks of TIED values are permutation-dependent, but "
    "the formula is not — within a tie block x is constant, so "
    "sum(i*x) over the block is x * (sum of the block's rank range) "
    "regardless of which tied row got which rank; the (x, event_id) "
    "tiebreak still pins both engines to identical row order for the "
    "window itself. Everything is exact bigints (quantize once, "
    "floor(value*100)) with numerator and denominator EMITTED so the "
    "differential value-checks the integer math, plus ONE "
    "correctly-rounded division for the coefficient. One exchange "
    "keyed by event_type (window + groupBy share it); at 100 TB the "
    "per-partition sort is the only superlinear step and rides the "
    "same spillable sort every window uses; output is |types| rows.",
)
def b06_gini(spark, sf_dir):
    from pyspark.sql import Window

    q = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("x"),
    )
    w = Window.partitionBy("event_type").orderBy("x", "event_id")
    r = q.select("event_type", "x", F.row_number().over(w).alias("i"))
    m = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    num = F.lit(2) * F.col("six") - (F.col("n") + 1) * F.col("sx")
    den = F.col("n") * F.col("sx")
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("sx").cast("bigint").alias("sum_x"),
        num.cast("bigint").alias("gini_num"),
        den.cast("bigint").alias("gini_den"),
        (num.cast("double") / den).alias("gini"),
    )


def value_histogram_bucket():
    """The fixed-range 256-cell bucket expression shared by the batch and
    streaming quantile-sketch entries (width 4 = a power of two, so
    value/4 is one exact IEEE op in every engine; edges clamp)."""
    return F.least(
        F.greatest(F.floor(F.col("value") / 4).cast("bigint"), F.lit(0)),
        F.lit(255),
    ).alias("bucket")


def histogram_quantile_report(spark, hist, ev):
    """Quantile estimates + in-query true-rank audit from a 256-cell
    histogram (``hist``: bucket, cnt) against the exact value column
    (``ev``: value) — the shared back half of b06_quantile_histogram and
    b17_stream_quantile_sketch, so the streaming entry proves its
    micro-batch-merged state is bit-identical to the batch sketch."""
    from pyspark.sql import Window

    # <=256 rows by construction: the unpartitioned window is bounded
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("bucket", F.sum("cnt").over(w).alias("cum"))
    total = hist.agg(F.sum("cnt").cast("bigint").alias("total"))
    targets = spark.range(0, 7).select(
        F.element_at(
            F.array(*[F.lit(x) for x in (1, 5, 25, 50, 75, 95, 99)]),
            (F.col("id") + 1).cast("int"),
        ).alias("q_pct")
    )
    est = (
        targets.crossJoin(F.broadcast(total))
        .join(
            F.broadcast(cum),
            F.col("cum") * 100 >= F.col("q_pct") * F.col("total"),
        )
        .groupBy("q_pct", "total")
        .agg(F.min("bucket").alias("bucket"))
        .select(
            "q_pct",
            "total",
            ((F.col("bucket") + 1) * 4).cast("double").alias("est"),
        )
    )
    n_le = F.count(F.when(F.col("value") < F.col("est"), 1))
    return (
        ev.crossJoin(F.broadcast(est))
        .groupBy("q_pct", "est", "total")
        .agg(
            n_le.cast("bigint").alias("n_le"),
            (n_le.cast("double") / F.col("total")).alias("le_frac"),
            F.abs(
                F.col("q_pct").cast("double") / 100
                - n_le.cast("double") / F.col("total")
            ).alias("rank_err"),
        )
        .select("q_pct", "est", "n_le", "total", "le_frac", "rank_err")
    )


@query(
    "b06_quantile_histogram",
    oracle="""
    WITH h AS (
        SELECT least(greatest(CAST(floor(value / 4) AS BIGINT), 0), 255)
                   AS bucket,
               count(*) AS cnt
        FROM events GROUP BY 1
    ),
    c AS (
        SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM h
    ),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM h),
    q AS (SELECT unnest([1, 5, 25, 50, 75, 95, 99]) AS q_pct),
    est AS (
        SELECT q.q_pct, t.total, min(c.bucket) AS bucket
        FROM q CROSS JOIN t JOIN c ON c.cum * 100 >= q.q_pct * t.total
        GROUP BY q.q_pct, t.total
    ),
    e2 AS (
        SELECT q_pct, total,
               CAST((bucket + 1) * 4 AS DOUBLE) AS est
        FROM est
    )
    SELECT e2.q_pct AS q_pct, e2.est AS est,
           CAST(count(CASE WHEN ev.value < e2.est THEN 1 END) AS BIGINT)
               AS n_le,
           e2.total AS total,
           CAST(count(CASE WHEN ev.value < e2.est THEN 1 END) AS DOUBLE)
               / e2.total AS le_frac,
           abs(CAST(e2.q_pct AS DOUBLE) / 100
               - CAST(count(CASE WHEN ev.value < e2.est THEN 1 END) AS DOUBLE)
                 / e2.total) AS rank_err
    FROM e2, events ev
    GROUP BY e2.q_pct, e2.est, e2.total
    """,
    doc="B6 (r10): VALUE-CHECKED QUANTILE SKETCH — the bounded-mergeable-"
    "state percentile estimator that completes the sketch family's "
    "value-checked wing (b06_hll_registers for distinct, "
    "b06_cms_sketch for frequency, this for rank): a FIXED-RANGE "
    "equi-width histogram of 256 cells over value in [0,1024) (width "
    "4 = a power of two, so value/4 is one EXACT IEEE op in Spark, "
    "DuckDB, and any engine; out-of-range clamps to the edge cells), "
    "quantile estimate = upper edge of the first bucket whose "
    "cumulative count reaches ceil(q*total/100), all in integer "
    "cross-multiplied arithmetic (cum*100 >= q*total — no float rank "
    "math). Like the HLL entry, the sketch's ERROR is measured inside "
    "the query, not asserted: a second scan counts the exact fraction "
    "of rows below each estimate, so every output row carries its "
    "true rank error (bounded by the bucket's mass) and the whole "
    "thing hash-checks. The 256-cell state is constant regardless of "
    "data size, merges by cell-wise addition (partitions, streams, "
    "days), and the cumulative pass runs on <=256 rows — bounded by "
    "CONSTRUCTION, unlike a sampled-sort sketch whose 'small' sample "
    "grows with the data. At 100 TB: one map-side-combined aggregate "
    "+ one broadcast of 7 estimates back over the fact table for the "
    "error audit (the audit is optional in serving; the sketch alone "
    "never rescans). The rows-only approx twin is "
    "b06_approx_percentile; the exact-rank twin is "
    "b06_equidepth_histogram.",
)
def b06_quantile_histogram(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("value")
    hist = (
        ev.select(value_histogram_bucket())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return histogram_quantile_report(spark, hist, ev)


@query(
    "b06_quantile_refined",
    oracle="""
    WITH h AS (
        SELECT least(greatest(CAST(floor(value / 4) AS BIGINT), 0), 255)
                   AS bucket,
               count(*) AS cnt
        FROM events GROUP BY 1
    ),
    c AS (
        SELECT bucket, cnt, sum(cnt) OVER (ORDER BY bucket) AS cum FROM h
    ),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM h),
    hot AS (
        SELECT h.bucket FROM h, t WHERE h.cnt * 100 >= t.total
    ),
    fh AS (
        SELECT hot.bucket AS bucket,
               least(greatest(CAST(floor((ev.value - hot.bucket * 4) * 64)
                                   AS BIGINT), 0), 255) AS fine,
               count(*) AS cnt
        FROM events ev JOIN hot
          ON least(greatest(CAST(floor(ev.value / 4) AS BIGINT), 0), 255)
             = hot.bucket
        GROUP BY 1, 2
    ),
    fc AS (
        SELECT bucket, fine,
               sum(cnt) OVER (PARTITION BY bucket ORDER BY fine) AS fcum
        FROM fh
    ),
    q AS (SELECT unnest([1, 5, 25, 50, 75, 95, 99]) AS q_pct),
    pick AS (
        SELECT q.q_pct, t.total, min(c.bucket) AS bucket
        FROM q CROSS JOIN t JOIN c ON c.cum * 100 >= q.q_pct * t.total
        GROUP BY q.q_pct, t.total
    ),
    pickc AS (
        SELECT p.q_pct, p.total, p.bucket, c.cum - c.cnt AS below
        FROM pick p JOIN c ON c.bucket = p.bucket
    ),
    fine_pick AS (
        SELECT p.q_pct, min(fc.fine) AS fine
        FROM pickc p JOIN fc
          ON fc.bucket = p.bucket
         AND (p.below + fc.fcum) * 100 >= p.q_pct * p.total
        GROUP BY p.q_pct
    ),
    e2 AS (
        SELECT p.q_pct, p.total,
               CASE WHEN f.fine IS NOT NULL
                    THEN CAST(p.bucket * 4 AS DOUBLE)
                         + CAST(f.fine + 1 AS DOUBLE) / 64
                    ELSE CAST((p.bucket + 1) * 4 AS DOUBLE) END AS est,
               CASE WHEN f.fine IS NOT NULL THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS refined
        FROM pickc p LEFT JOIN fine_pick f ON f.q_pct = p.q_pct
    )
    SELECT e2.q_pct AS q_pct, e2.est AS est, e2.refined AS refined,
           CAST(count(CASE WHEN ev.value < e2.est THEN 1 END) AS BIGINT)
               AS n_le,
           e2.total AS total,
           abs(CAST(e2.q_pct AS DOUBLE) / 100
               - CAST(count(CASE WHEN ev.value < e2.est THEN 1 END) AS DOUBLE)
                 / e2.total) AS rank_err
    FROM e2, events ev
    GROUP BY e2.q_pct, e2.est, e2.refined, e2.total
    """,
    doc="B6 (r11): TWO-LEVEL REFINED QUANTILE SKETCH — the production "
    "variant b06_quantile_histogram's docstring and the SCALE.md ladder "
    "name: the fixed-range 256-cell coarse histogram's rank error is "
    "bounded by the LANDING CELL's mass (measured up to 0.067 at p1, "
    "where the data is dense relative to the 4-wide cell), so a second "
    "256-cell histogram refines exactly the coarse cells that can "
    "violate a 1% error budget — every cell holding >= 1% of total "
    "mass (cnt*100 >= total, integer cross-multiplied; at most 100 "
    "such cells by pigeonhole, so level-2 state is bounded by "
    "CONSTRUCTION at 100 x 256 cells regardless of data size). Fine "
    "cells are width 1/64 = a power of two: (value - bucket*4) * 64 "
    "is exact IEEE in every engine, and the refined estimate "
    "bucket*4 + (fine+1)/64 is a sum of exact dyadics. Rank math is "
    "the same integer cross-multiplication as the parent at both "
    "levels ((below + fine_cum)*100 >= q*total — no float ranks), "
    "and the same in-query exact audit scans back so every output "
    "row carries its TRUE rank error; tests/test_planted_signals.py "
    "pins rank_err <= 0.01 at every grid point at every testdata SF "
    "(the parent's worst case was 6.7x that budget). SINGLE PASS "
    "(rewritten r12, VERDICT r11 #5): ONE map-side-combined aggregate "
    "builds the full (coarse, fine) cell grid — bounded by "
    "construction at 256*256 = 65,536 cells regardless of data size, "
    "mergeable by cellwise addition — and both levels are then "
    "DERIVED from the grid (coarse = re-aggregate 65k->256 rows; "
    "hot-cell fine = broadcast filter), versus the r11 shape's second "
    "full scan whose computed-bucket semi join could never prune "
    "Parquet row groups: at 100 TB this halves the sketch-build IO "
    "for a fixed 65k-cell state cost, versus the exact percentile's "
    "single-reducer global sort. The in-query exact audit (broadcast "
    "of 7 estimates, one more scan) remains optional in serving, as "
    "in the parent; the sketch itself is one scan, and "
    "tests/test_plans.py pins the whole entry at two events scans.",
)
def b06_quantile_refined(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("value")
    # SINGLE PASS (rewritten r12, VERDICT r11 #5): one scan builds the
    # full two-level cell grid — (coarse bucket, fine cell) counts,
    # <= 256*256 = 65,536 cells by construction, all mergeable by
    # cellwise addition with map-side combine. The coarse histogram is
    # then DERIVED by re-aggregating the cells (256 rows from 65k, no
    # second scan), and the hot-cell fine histogram is a broadcast
    # filter over the already-built grid — the r11 shape's second full
    # scan of events (whose computed-bucket semi join could never prune
    # Parquet row groups) is gone entirely.
    cells = (
        ev.select(
            value_histogram_bucket(),
            F.least(
                F.greatest(
                    F.floor(
                        (
                            F.col("value")
                            - F.least(
                                F.greatest(
                                    F.floor(F.col("value") / 4).cast("bigint"),
                                    F.lit(0),
                                ),
                                F.lit(255),
                            )
                            * 4
                        )
                        * 64
                    ).cast("bigint"),
                    F.lit(0),
                ),
                F.lit(255),
            ).alias("fine"),
        )
        .groupBy("bucket", "fine")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # consumed twice (derived coarse hist + hot-cell fine hist):
        # <= 65,536 rows, cheap to pin
        .localCheckpoint()
    )
    hist = cells.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    # <=256 rows by construction: the unpartitioned window is bounded
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bucket", "cnt", F.sum("cnt").over(w).alias("cum")
    )
    total = hist.agg(F.sum("cnt").cast("bigint").alias("total"))
    # Hot set: every coarse cell that could violate the 1% budget.
    hot = (
        hist.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 100 >= F.col("total"))
        .select("bucket")
    )
    # Level 2: fine histogram over hot cells only — a broadcast filter
    # over the cell grid, NOT a re-scan of events.
    fine_hist = cells.join(F.broadcast(hot), "bucket").select(
        "bucket", "fine", "cnt"
    )
    wf = Window.partitionBy("bucket").orderBy("fine").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fine_cum = fine_hist.select(
        "bucket", "fine", F.sum("cnt").over(wf).alias("fcum")
    )
    targets = spark.range(0, 7).select(
        F.element_at(
            F.array(*[F.lit(x) for x in (1, 5, 25, 50, 75, 95, 99)]),
            (F.col("id") + 1).cast("int"),
        ).alias("q_pct")
    )
    pick = (
        targets.crossJoin(F.broadcast(total))
        .join(
            F.broadcast(cum.select("bucket", "cum")),
            F.col("cum") * 100 >= F.col("q_pct") * F.col("total"),
        )
        .groupBy("q_pct", "total")
        .agg(F.min("bucket").alias("bucket"))
    )
    pickc = pick.join(
        F.broadcast(cum.select("bucket", (F.col("cum") - F.col("cnt")).alias("below"))),
        "bucket",
    )
    fine_pick = (
        pickc.join(
            F.broadcast(fine_cum),
            (fine_cum["bucket"] == pickc["bucket"])
            & (
                (F.col("below") + F.col("fcum")) * 100
                >= F.col("q_pct") * F.col("total")
            ),
        )
        .groupBy("q_pct")
        .agg(F.min("fine").alias("fine"))
    )
    est = pickc.join(F.broadcast(fine_pick), "q_pct", "left").select(
        "q_pct",
        "total",
        F.when(
            F.col("fine").isNotNull(),
            (F.col("bucket") * 4).cast("double")
            + (F.col("fine") + 1).cast("double") / F.lit(64.0),
        )
        .otherwise(((F.col("bucket") + 1) * 4).cast("double"))
        .alias("est"),
        F.when(F.col("fine").isNotNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("refined"),
    )
    n_le = F.count(F.when(F.col("value") < F.col("est"), 1))
    return (
        ev.crossJoin(F.broadcast(est))
        .groupBy("q_pct", "est", "refined", "total")
        .agg(
            n_le.cast("bigint").alias("n_le"),
            F.abs(
                F.col("q_pct").cast("double") / 100
                - n_le.cast("double") / F.col("total")
            ).alias("rank_err"),
        )
        .select("q_pct", "est", "refined", "n_le", "total", "rank_err")
    )


def _kmv_sketch_sql(du_view):
    """SQL text of the k=128 minimum-values sketch of each ``yr`` scope in
    the view ``du_view``: the 128 smallest distinct 60-bit md5 hashes of
    o_custkey (portable idiom). The plan test pins its WindowGroupLimit on
    the unmaterialized plan of this text — _kmv_du_sk localCheckpoints the
    result, which truncates the lineage the final plan would otherwise
    show."""
    return f"""
        SELECT yr, h FROM (
            SELECT yr, h,
                   row_number() OVER (PARTITION BY yr ORDER BY h) AS rn
            FROM (
                SELECT yr,
                       CAST(conv(substring(md5(CAST(o_custkey AS STRING)),
                                           1, 15), 16, 10) AS LONG) AS h
                FROM {du_view}
            )
        ) WHERE rn <= 128
    """


def _kmv_du_sk(spark, sf_dir, tag):
    """Checkpointed (yr, o_custkey)-distinct relation and its per-yr k=128
    KMV sketch, registered as temp views — the shared build of the
    single-parse KMV entries (intersect / difference / merge).

    r16 (the Py4J law applied to multi-relation dataflows): each segment
    is ONE spark.sql parse (the Column chains cost ~2000 bridge commands
    + one JVM analysis per intermediate Dataset per entry build); the
    localCheckpoints between segments are the same materialization points
    the Column form had (du consumed 2-3x, sk 2-3x), so plans and values
    are unchanged — proven by the unchanged hash-checked oracles. spark.sql analyzes
    eagerly, so each returned plan INLINES the view it read — later
    overwrites of these view names cannot retarget it."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        f"__r16_{tag}_orders"
    )
    du = spark.sql(
        "SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr, o_custkey "
        f"FROM __r16_{tag}_orders"
    ).localCheckpoint()
    du.createOrReplaceTempView(f"__r16_{tag}_du")
    sk = spark.sql(_kmv_sketch_sql(f"__r16_{tag}_du")).localCheckpoint()
    sk.createOrReplaceTempView(f"__r16_{tag}_sk")
    return f"__r16_{tag}_du", f"__r16_{tag}_sk"


@query(
    "b06_kmv_intersect",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr, o_custkey
        FROM orders
    ),
    h AS (
        SELECT yr,
               ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                   AS h
        FROM du
    ),
    rk AS (
        SELECT yr, h, row_number() OVER (PARTITION BY yr ORDER BY h) AS rn
        FROM h
    ),
    sk AS (SELECT yr, h FROM rk WHERE rn <= 128),
    skagg AS (
        SELECT yr, CAST(count(*) AS BIGINT) AS n_sk,
               CAST(max(h) AS BIGINT) AS hk
        FROM sk GROUP BY yr
    ),
    pairs AS (
        SELECT a.yr AS year_a, b.yr AS year_b
        FROM skagg a JOIN skagg b ON b.yr = a.yr + 1
    ),
    m0 AS (
        SELECT p.year_a, p.year_b, s.h, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN sk s ON s.yr = p.year_a
        UNION ALL
        SELECT p.year_a, p.year_b, s.h, 0, 1
        FROM pairs p JOIN sk s ON s.yr = p.year_b
    ),
    merged AS (
        SELECT year_a, year_b, h,
               CAST(max(in_a) AS BIGINT) AS in_a,
               CAST(max(in_b) AS BIGINT) AS in_b
        FROM m0 GROUP BY 1, 2, 3
    ),
    urk AS (
        SELECT year_a, year_b, h, in_a, in_b,
               row_number() OVER (
                   PARTITION BY year_a, year_b ORDER BY h) AS rn
        FROM merged
    ),
    usk AS (
        SELECT year_a, year_b,
               CAST(count(*) AS BIGINT) AS n_u,
               CAST(max(h) AS BIGINT) AS theta,
               CAST(sum(in_a * in_b) AS BIGINT) AS common_c
        FROM urk WHERE rn <= 128 GROUP BY 1, 2
    ),
    ex AS (SELECT yr, CAST(count(*) AS BIGINT) AS exact_n FROM du GROUP BY yr),
    exi AS (
        SELECT a.yr AS year_a, b.yr AS year_b,
               CAST(count(*) AS BIGINT) AS exact_intersect
        FROM du a JOIN du b ON b.yr = a.yr + 1
                           AND a.o_custkey = b.o_custkey
        GROUP BY 1, 2
    )
    SELECT u.year_a, u.year_b, sa.n_sk AS n_sk_a, sb.n_sk AS n_sk_b,
           u.n_u, u.theta, u.common_c,
           CASE WHEN sa.n_sk < 128 THEN CAST(sa.n_sk AS DOUBLE)
                ELSE 127.0e0 * 1152921504606846976.0e0 / sa.hk END AS est_a,
           CASE WHEN sb.n_sk < 128 THEN CAST(sb.n_sk AS DOUBLE)
                ELSE 127.0e0 * 1152921504606846976.0e0 / sb.hk END AS est_b,
           CASE WHEN u.n_u < 128 THEN CAST(u.n_u AS DOUBLE)
                ELSE 127.0e0 * 1152921504606846976.0e0 / u.theta END
               AS est_union,
           CASE WHEN u.n_u < 128 THEN CAST(u.common_c AS DOUBLE)
                ELSE (CAST(u.common_c AS DOUBLE) *
                      (127.0e0 * 1152921504606846976.0e0 / u.theta)) / 128 END
               AS est_intersect,
           ea.exact_n AS exact_a, eb.exact_n AS exact_b,
           COALESCE(xi.exact_intersect, 0) AS exact_intersect
    FROM usk u
    JOIN skagg sa ON sa.yr = u.year_a
    JOIN skagg sb ON sb.yr = u.year_b
    JOIN ex ea ON ea.yr = u.year_a
    JOIN ex eb ON eb.yr = u.year_b
    LEFT JOIN exi xi ON xi.year_a = u.year_a AND xi.year_b = u.year_b
    """,
    doc="B6 (r12): KMV DISTINCT-INTERSECTION SKETCH (VERDICT r11 #4) — "
    "the k-minimum-values / theta sketch (Bar-Yossef et al. 2002; "
    "Beyer et al. SIGMOD'07 unbiased estimator) that completes the "
    "sketch family: HLL registers UNION cleanly but structurally "
    "cannot INTERSECT, so cross-scope overlap ('customers active in "
    "both adjacent order-years', the cohort-overlap question) needed "
    "exact countDistinct until now. Sketch = the k=128 SMALLEST "
    "distinct 60-bit md5 hashes per scope (the portable idiom: Spark "
    "conv(substr(md5,1,15),16,10) == DuckDB ('0x'||...)::BIGINT — "
    "fully deterministic, so unlike RNG sampling the ENTIRE sketch, "
    "estimator arithmetic included, is hash-checked by the oracle, "
    "and the same mixing-hash requirement as the HLL entry applies). "
    "Estimators: n_hat = (k-1)*2^60/h_k (order statistics of "
    "uniforms); union sketch = k smallest of the min-merged pair "
    "(valid because the k smallest of A u B are a subset of the two "
    "sketches' union); intersection via the theta rule c/k * "
    "union_hat where c counts sketch-union members below theta that "
    "lie in BOTH input sketches (h <= theta <= h_k of each side "
    "guarantees membership is decidable from the k-sets alone). "
    "Every float is a fixed two-rounding expression (127.0 * 2^60 is "
    "exact — 7 significand bits; /128 is an exponent shift), never a "
    "float SUM, per the order-dependence rule. Sets with fewer than "
    "k distincts short-circuit to exact counts (CASE n_sk < k) — "
    "sf0.001 exercises the exact branch (n~116-121), sf0.01/0.1 the "
    "estimator branch, and the in-query exact audit columns carry "
    "the true values so every row exposes its own error "
    "(tests/test_planted_signals.py pins rel err <= 18% at every SF; "
    "measured max 11.2% at sf0.1). SCALE: one orders scan -> one "
    "distinct shuffle -> per-scope top-k window (rank-limit pushdown "
    "= WindowGroupLimit, per-partition 128-row heaps, pinned in "
    "tests/test_plans.py); everything downstream operates on "
    "<=k*|scopes| rows. The sketch is MERGEABLE by min-merge "
    "(partition sketches combine associatively, the 100 TB "
    "requirement) and k is the only accuracy/state knob; the exact "
    "audit columns are the test harness, not the serving path — at "
    "100 TB only the sketch side runs.",
)
def b06_kmv_intersect(spark, sf_dir):
    # r16: single-parse SQL over the shared checkpointed du/sk views (see
    # _kmv_du_sk) — a verbatim transcription of the former Column chain
    # (~2300 bridge commands, ~0.5 s of build chatter per rep).
    # Join hints pin the plan AQE raced (docs/SCALE.md "Joins"): BROADCAST
    # for per-year sides (<= |scopes| rows), SHUFFLE_HASH for the du self-join.
    du_v, sk_v = _kmv_du_sk(spark, sf_dir, "kmvi")
    return spark.sql(f"""
        WITH skagg AS (
            SELECT yr, CAST(count(1) AS BIGINT) AS n_sk,
                   CAST(max(h) AS BIGINT) AS hk
            FROM {sk_v} GROUP BY yr
        ),
        pairs AS (
            SELECT /*+ BROADCAST(a) */ a.year_a, b.year_b
            FROM (SELECT yr AS year_a FROM skagg) a
            JOIN (SELECT yr - 1 AS year_a, yr AS year_b FROM skagg) b
              ON a.year_a = b.year_a
        ),
        m0 AS (
            SELECT p.year_a, p.year_b, s.h, 1 AS in_a, 0 AS in_b
            FROM pairs p JOIN {sk_v} s ON s.yr = p.year_a
            UNION ALL
            SELECT p.year_a, p.year_b, s.h, 0 AS in_a, 1 AS in_b
            FROM pairs p JOIN {sk_v} s ON s.yr = p.year_b
        ),
        merged AS (
            SELECT year_a, year_b, h,
                   CAST(max(in_a) AS BIGINT) AS in_a,
                   CAST(max(in_b) AS BIGINT) AS in_b
            FROM m0 GROUP BY year_a, year_b, h
        ),
        usk AS (
            SELECT year_a, year_b,
                   CAST(count(1) AS BIGINT) AS n_u,
                   CAST(max(h) AS BIGINT) AS theta,
                   CAST(sum(in_a * in_b) AS BIGINT) AS common_c
            FROM (
                SELECT year_a, year_b, h, in_a, in_b,
                       row_number() OVER (
                           PARTITION BY year_a, year_b ORDER BY h) AS rn
                FROM merged
            ) WHERE rn <= 128
            GROUP BY year_a, year_b
        ),
        ex AS (
            SELECT yr, CAST(count(1) AS BIGINT) AS exact_n
            FROM {du_v} GROUP BY yr
        ),
        exi AS (
            SELECT /*+ SHUFFLE_HASH(a, b) */ a.year_a,
                   CAST(count(1) AS BIGINT) AS exact_intersect
            FROM (SELECT yr AS year_a, o_custkey FROM {du_v}) a
            JOIN (SELECT yr - 1 AS year_a, o_custkey FROM {du_v}) b
              ON a.year_a = b.year_a AND a.o_custkey = b.o_custkey
            GROUP BY a.year_a
        )
        SELECT /*+ BROADCAST(sa, sb, xa, xb, xi) */
               u.year_a, u.year_b, sa.n_sk AS n_sk_a, sb.n_sk AS n_sk_b,
               u.n_u, u.theta, u.common_c,
               CASE WHEN sa.n_sk < 128 THEN CAST(sa.n_sk AS DOUBLE)
                    ELSE 127.0D * 1152921504606846976.0D / sa.hk
               END AS est_a,
               CASE WHEN sb.n_sk < 128 THEN CAST(sb.n_sk AS DOUBLE)
                    ELSE 127.0D * 1152921504606846976.0D / sb.hk
               END AS est_b,
               CASE WHEN u.n_u < 128 THEN CAST(u.n_u AS DOUBLE)
                    ELSE 127.0D * 1152921504606846976.0D / u.theta
               END AS est_union,
               CASE WHEN u.n_u < 128 THEN CAST(u.common_c AS DOUBLE)
                    ELSE (CAST(u.common_c AS DOUBLE)
                          * (127.0D * 1152921504606846976.0D / u.theta))
                         / 128
               END AS est_intersect,
               xa.exact_n AS exact_a, xb.exact_n AS exact_b,
               CAST(coalesce(xi.exact_intersect, 0) AS BIGINT)
                   AS exact_intersect
        FROM usk u
        JOIN skagg sa ON sa.yr = u.year_a
        JOIN skagg sb ON sb.yr = u.year_b
        JOIN ex xa ON xa.yr = u.year_a
        JOIN ex xb ON xb.yr = u.year_b
        LEFT JOIN exi xi ON xi.year_a = u.year_a
    """)


@query(
    "b06_kmv_merge",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr, o_custkey
        FROM orders
    ),
    h AS (
        SELECT yr,
               ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                   AS h
        FROM du
    ),
    rk AS (
        SELECT yr, h, row_number() OVER (PARTITION BY yr ORDER BY h) AS rn
        FROM h
    ),
    sk AS (SELECT yr, h FROM rk WHERE rn <= 128),
    merged AS (SELECT DISTINCT h FROM sk),
    allsk AS (
        SELECT '__ALL__' AS scope, h
        FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM merged)
        WHERE rn <= 128
    ),
    united AS (
        SELECT CAST(yr AS VARCHAR) AS scope, h FROM sk
        UNION ALL SELECT scope, h FROM allsk
    ),
    agg AS (
        SELECT scope, CAST(count(*) AS BIGINT) AS n_sk,
               CAST(max(h) AS BIGINT) AS hk
        FROM united GROUP BY 1
    ),
    ex AS (
        SELECT CAST(yr2 AS VARCHAR) AS scope,
               CAST(count(DISTINCT ck) AS BIGINT) AS exact_n
        FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr2,
                     o_custkey AS ck FROM orders)
        GROUP BY 1
        UNION ALL
        SELECT '__ALL__', CAST(count(DISTINCT o_custkey) AS BIGINT)
        FROM orders
    )
    SELECT a.scope, a.n_sk, a.hk,
           CASE WHEN a.n_sk < 128 THEN CAST(a.n_sk AS DOUBLE)
                ELSE 127.0e0 * 1152921504606846976.0e0 / a.hk END AS est,
           e.exact_n
    FROM agg a JOIN ex e ON e.scope = a.scope
    """,
    doc="B6 (r12): KMV SKETCH MERGE EXECUTED — the b06_hll_registers "
    "'__ALL__' pattern for the KMV family: b06_kmv_intersect's docstring "
    "claims the sketch 'is MERGEABLE by min-merge'; this entry EXECUTES "
    "the claim rather than asserting it. Per-scope k=128 sketches "
    "(order-year scopes on the shared sketches._kmv_sketch_sql helper), then the "
    "'__ALL__' sketch is built by MIN-MERGING the seven k-sets — k "
    "smallest of their DISTINCT union, a <=k*|scopes|-row operation that "
    "never re-scans orders (valid because the k smallest of U scopes "
    "are provably a subset of the per-scope k-sets' union, the same "
    "subset lemma as the intersect entry's union sketch). The merged "
    "estimate lands within the theory band of the true GLOBAL distinct "
    "(sf0.1: 15,885 est vs 14,999 exact from 128 hashes; <= 20% pinned "
    "at every scope at every SF in pytest, in-query exact audit "
    "column), and per-scope rows exercise the exact short-circuit at "
    "low SF (n_sk < k) alongside the estimator. This is the 100 TB "
    "count-distinct rollup shape: partition/day/source sketches "
    "min-merge associatively into any coarser scope from kilobytes, "
    "the exact analog of the HLL entry's cell-wise max merge — and "
    "unlike HLL the SAME k-sets also answer intersections "
    "(b06_kmv_intersect), so one sketch family serves both rollup and "
    "overlap. Plan: one orders scan -> distinct -> WindowGroupLimit "
    "per-scope top-k; the merge rank runs over <=896 rows (bounded "
    "unpartitioned window, the standard idiom).",
)
def b06_kmv_merge(spark, sf_dir):
    # r16: single-parse SQL over the shared checkpointed du/sk views (see
    # _kmv_du_sk) — a verbatim transcription of the former Column chain
    # (~1150 bridge commands per rep).
    du_v, sk_v = _kmv_du_sk(spark, sf_dir, "kmvm")
    return spark.sql(f"""
        WITH allsk AS (
            SELECT '__ALL__' AS scope, h FROM (
                SELECT h, row_number() OVER (ORDER BY h) AS rn
                FROM (SELECT DISTINCT h FROM {sk_v})
            ) WHERE rn <= 128
        ),
        united AS (
            SELECT CAST(yr AS STRING) AS scope, h FROM {sk_v}
            UNION ALL
            SELECT scope, h FROM allsk
        ),
        agg AS (
            SELECT scope, CAST(count(1) AS BIGINT) AS n_sk,
                   CAST(max(h) AS BIGINT) AS hk
            FROM united GROUP BY scope
        ),
        ex AS (
            SELECT CAST(yr AS STRING) AS scope,
                   CAST(count(1) AS BIGINT) AS exact_n
            FROM {du_v} GROUP BY CAST(yr AS STRING)
            UNION ALL
            SELECT '__ALL__' AS scope,
                   CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_n
            FROM __r16_kmvm_orders
        )
        SELECT agg.scope, agg.n_sk, agg.hk,
               CASE WHEN agg.n_sk < 128 THEN CAST(agg.n_sk AS DOUBLE)
                    ELSE 127.0D * 1152921504606846976.0D / agg.hk
               END AS est,
               ex.exact_n
        FROM agg JOIN ex ON agg.scope = ex.scope
    """)


@query(
    "b06_kmv_difference",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr, o_custkey
        FROM orders
    ),
    h AS (
        SELECT yr,
               ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                   AS h
        FROM du
    ),
    rk AS (
        SELECT yr, h, row_number() OVER (PARTITION BY yr ORDER BY h) AS rn
        FROM h
    ),
    sk AS (SELECT yr, h FROM rk WHERE rn <= 128),
    years AS (SELECT DISTINCT yr FROM sk),
    pairs AS (
        SELECT a.yr AS year_a, b.yr AS year_b
        FROM years a JOIN years b ON b.yr = a.yr + 1
    ),
    m0 AS (
        SELECT p.year_a, p.year_b, s.h, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN sk s ON s.yr = p.year_a
        UNION ALL
        SELECT p.year_a, p.year_b, s.h, 0, 1
        FROM pairs p JOIN sk s ON s.yr = p.year_b
    ),
    merged AS (
        SELECT year_a, year_b, h,
               CAST(max(in_a) AS BIGINT) AS in_a,
               CAST(max(in_b) AS BIGINT) AS in_b
        FROM m0 GROUP BY 1, 2, 3
    ),
    urk AS (
        SELECT year_a, year_b, h, in_a, in_b,
               row_number() OVER (
                   PARTITION BY year_a, year_b ORDER BY h) AS rn
        FROM merged
    ),
    usk AS (
        SELECT year_a, year_b,
               CAST(count(*) AS BIGINT) AS n_u,
               CAST(max(h) AS BIGINT) AS theta,
               CAST(sum(in_a * (1 - in_b)) AS BIGINT) AS only_a_c,
               CAST(sum((1 - in_a) * in_b) AS BIGINT) AS only_b_c,
               CAST(sum(in_a * in_b) AS BIGINT) AS common_c
        FROM urk WHERE rn <= 128 GROUP BY 1, 2
    ),
    exda AS (
        SELECT a.yr AS year_a, CAST(count(*) AS BIGINT) AS exact_diff_a
        FROM du a
        WHERE NOT EXISTS (SELECT 1 FROM du b
                          WHERE b.yr = a.yr + 1
                            AND b.o_custkey = a.o_custkey)
        GROUP BY 1
    ),
    exdb AS (
        SELECT b.yr - 1 AS year_a, CAST(count(*) AS BIGINT) AS exact_diff_b
        FROM du b
        WHERE NOT EXISTS (SELECT 1 FROM du a
                          WHERE a.yr = b.yr - 1
                            AND a.o_custkey = b.o_custkey)
        GROUP BY 1
    )
    SELECT u.year_a, u.year_b, u.n_u, u.only_a_c, u.only_b_c, u.common_c,
           CASE WHEN u.n_u < 128 THEN CAST(u.only_a_c AS DOUBLE)
                ELSE (CAST(u.only_a_c AS DOUBLE) *
                      (127.0e0 * 1152921504606846976.0e0 / u.theta)) / 128 END
               AS est_diff_a,
           CASE WHEN u.n_u < 128 THEN CAST(u.only_b_c AS DOUBLE)
                ELSE (CAST(u.only_b_c AS DOUBLE) *
                      (127.0e0 * 1152921504606846976.0e0 / u.theta)) / 128 END
               AS est_diff_b,
           COALESCE(xa.exact_diff_a, 0) AS exact_diff_a,
           COALESCE(xb.exact_diff_b, 0) AS exact_diff_b
    FROM usk u
    LEFT JOIN exda xa ON xa.year_a = u.year_a
    LEFT JOIN exdb xb ON xb.year_a = u.year_a
    ORDER BY u.year_a
    """,
    doc="B6 (r13): KMV SET-DIFFERENCE SKETCH — completes the theta-sketch "
    "algebra: the family could UNION (min-merge, b06_kmv_merge) and "
    "INTERSECT (b06_kmv_intersect), but the third Boolean — |A \\\\ B|, "
    "the CHURN question ('how many year-N customers did not order in "
    "year N+1', or 'how many docs does this crawl add that the corpus "
    "lacks') — was missing. Same deterministic k=128 sketch "
    "(sketches._kmv_sketch_sql, portable md5 idiom, WindowGroupLimit heaps) and the "
    "same theta rule, counting union-sketch members in A-ONLY and "
    "B-ONLY instead of both: est|A\\\\B| = only_a/k * union_hat, with "
    "the n_u < k short-circuit collapsing to the exact count (the "
    "sketch-complete case). Every float is the intersect entry's fixed "
    "two-rounding expression (127*2^60 exact, /128 an exponent shift), "
    "so the whole churn table hash-checks bit-exact, and the in-query "
    "exact anti-join audit columns expose each row's own error "
    "(tests/test_planted_signals.py pins |est - exact| / union <= 0.18 "
    "per the intersect entry's pinned bound — difference and intersect "
    "share one error budget because only_a + only_b + common = n_u "
    "partitions the union sketch). SCALE: identical to "
    "b06_kmv_intersect — one orders scan, one distinct shuffle, "
    "per-scope 128-row heaps, all pair arithmetic on <=k*|scopes| "
    "rows, min-mergeable across shards; the anti-join audit is the "
    "test harness, not the serving path.",
)
def b06_kmv_difference(spark, sf_dir):
    # r16: single-parse SQL over the shared checkpointed du/sk views (see
    # _kmv_du_sk) — a verbatim transcription of the former Column chain
    # (~2000 bridge commands per rep).
    # BROADCAST(a) pins the per-year pairs join AQE raced (docs/SCALE.md).
    du_v, sk_v = _kmv_du_sk(spark, sf_dir, "kmvd")
    return spark.sql(f"""
        WITH years AS (SELECT DISTINCT yr FROM {sk_v}),
        pairs AS (
            SELECT /*+ BROADCAST(a) */ a.year_a, b.year_b
            FROM (SELECT yr AS year_a FROM years) a
            JOIN (SELECT yr - 1 AS year_a, yr AS year_b FROM years) b
              ON a.year_a = b.year_a
        ),
        m0 AS (
            SELECT p.year_a, p.year_b, s.h, 1 AS in_a, 0 AS in_b
            FROM pairs p JOIN {sk_v} s ON s.yr = p.year_a
            UNION ALL
            SELECT p.year_a, p.year_b, s.h, 0 AS in_a, 1 AS in_b
            FROM pairs p JOIN {sk_v} s ON s.yr = p.year_b
        ),
        merged AS (
            SELECT year_a, year_b, h,
                   CAST(max(in_a) AS BIGINT) AS in_a,
                   CAST(max(in_b) AS BIGINT) AS in_b
            FROM m0 GROUP BY year_a, year_b, h
        ),
        usk AS (
            SELECT year_a, year_b,
                   CAST(count(1) AS BIGINT) AS n_u,
                   CAST(max(h) AS BIGINT) AS theta,
                   CAST(sum(in_a * (1 - in_b)) AS BIGINT) AS only_a_c,
                   CAST(sum((1 - in_a) * in_b) AS BIGINT) AS only_b_c,
                   CAST(sum(in_a * in_b) AS BIGINT) AS common_c
            FROM (
                SELECT year_a, year_b, h, in_a, in_b,
                       row_number() OVER (
                           PARTITION BY year_a, year_b ORDER BY h) AS rn
                FROM merged
            ) WHERE rn <= 128
            GROUP BY year_a, year_b
        ),
        exda AS (
            SELECT a.year_a, CAST(count(1) AS BIGINT) AS exact_diff_a
            FROM (SELECT yr AS year_a, o_custkey FROM {du_v}) a
            WHERE NOT EXISTS (
                SELECT 1 FROM (SELECT yr - 1 AS year_a, o_custkey
                               FROM {du_v}) b
                WHERE b.year_a = a.year_a AND b.o_custkey = a.o_custkey
            )
            GROUP BY a.year_a
        ),
        exdb AS (
            SELECT a.year_a, CAST(count(1) AS BIGINT) AS exact_diff_b
            FROM (SELECT yr - 1 AS year_a, o_custkey FROM {du_v}) a
            WHERE NOT EXISTS (
                SELECT 1 FROM (SELECT yr AS year_a, o_custkey
                               FROM {du_v}) b
                WHERE b.year_a = a.year_a AND b.o_custkey = a.o_custkey
            )
            GROUP BY a.year_a
        )
        SELECT /*+ BROADCAST(xa, xb) */
               u.year_a, u.year_b, u.n_u, u.only_a_c, u.only_b_c,
               u.common_c,
               CASE WHEN u.n_u < 128 THEN CAST(u.only_a_c AS DOUBLE)
                    ELSE (CAST(u.only_a_c AS DOUBLE)
                          * (127.0D * 1152921504606846976.0D / u.theta))
                         / 128
               END AS est_diff_a,
               CASE WHEN u.n_u < 128 THEN CAST(u.only_b_c AS DOUBLE)
                    ELSE (CAST(u.only_b_c AS DOUBLE)
                          * (127.0D * 1152921504606846976.0D / u.theta))
                         / 128
               END AS est_diff_b,
               CAST(coalesce(xa.exact_diff_a, 0) AS BIGINT)
                   AS exact_diff_a,
               CAST(coalesce(xb.exact_diff_b, 0) AS BIGINT)
                   AS exact_diff_b
        FROM usk u
        LEFT JOIN exda xa ON xa.year_a = u.year_a
        LEFT JOIN exdb xb ON xb.year_a = u.year_a
        ORDER BY u.year_a
    """)
