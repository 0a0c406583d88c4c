"""B22/B24 training-data curation: data-quality checks, splits, shuffles,
mixtures, drift and profiling, Z-order layout, sampling, budgets, and the end-to-end document
curation pipeline.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.cleaning import dec2
from .base import query
from .text import _EMAIL_RE, _PHONE_RE


@query(
    "b22_train_val_split",
    oracle="""
    SELECT doc_id, source,
           CASE WHEN (doc_id * 2654435761) % 1000 < 800 THEN 'train'
                WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    doc="B22 (LLM pipeline): deterministic 80/10/10 train/val/test "
    "assignment through the same Knuth-hash gate as mixture resampling — "
    "reproducible across runs, engines, and partitionings (rand()-based "
    "splits are none of those, and leak when the corpus is re-read). Pure "
    "projection: no shuffle, pushes to the scan.",
)
def b22_train_val_split(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    gate = (F.col("doc_id") * F.lit(2654435761)) % 1000
    split = (
        F.when(gate < 800, "train").when(gate < 900, "val").otherwise("test")
    )
    return d.select("doc_id", "source", split.alias("split"))


@query(
    "b22_global_shuffle",
    oracle="""
    SELECT doc_id,
           (doc_id * 2654435761) % 64 AS shard,
           row_number() OVER (
               PARTITION BY (doc_id * 2654435761) % 64
               ORDER BY (doc_id * 2654435761) % 1048576, doc_id
           ) AS ord_in_shard
    FROM documents
    """,
    doc="B22 (LLM pipeline): deterministic global shuffle of the training "
    "order — hash-assign each document to one of 64 shards, deterministic "
    "hash order within the shard. This is the DISTRIBUTED shape of 'shuffle "
    "the corpus': one hash shuffle into shards, per-shard local sort, no "
    "global single-partition window (a row_number over a total order would "
    "serialize 100 TB through one task). Readers consume shards "
    "round-robin for a well-mixed stream; the order is reproducible for "
    "resumable training.",
)
def b22_global_shuffle(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761)) % 1048576
    shard = (F.col("doc_id") * F.lit(2654435761)) % 64
    w = Window.partitionBy(shard).orderBy(h, F.col("doc_id"))
    return d.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(w).alias("ord_in_shard"),
    )


@query(
    "b22_mixture_upsample",
    oracle="""
    WITH w AS (
        SELECT doc_id, source, lang,
               CASE source WHEN 'src0' THEN 2300
                           WHEN 'src1' THEN 1000
                           WHEN 'src2' THEN 400
                           ELSE 1500 END AS w_milli
        FROM documents
    )
    SELECT doc_id, source, lang, CAST(rep AS BIGINT) AS rep
    FROM (
        SELECT doc_id, source, lang, w_milli,
               unnest(range(0, (w_milli // 1000)
                               + CASE WHEN (doc_id * 2654435761) % 1000
                                           < (w_milli % 1000)
                                      THEN 1 ELSE 0 END)) AS rep
        FROM w
    )
    """,
    doc="B22 (LLM pipeline): deterministic mixture UPSAMPLING — per-source "
    "epoch weights above and below 1 (src0 2.3 epochs, src1 1.0, src2 0.4, "
    "default 1.5): each document is replicated floor(w) times plus one "
    "extra copy behind the Knuth-hash gate on the fractional part, with a "
    "`rep` index so downstream shuffles can decorrelate copies. The "
    "complement of b22_mixture_resample's pure downsampling, and the "
    "standard way LLM data recipes weight high-quality sources; "
    "deterministic across runs/engines/partitionings where rand()-based "
    "sampling is not. Map-only explode: no shuffle.",
)
def b22_mixture_upsample(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    w_milli = (
        F.when(F.col("source") == "src0", 2300)
        .when(F.col("source") == "src1", 1000)
        .when(F.col("source") == "src2", 400)
        .otherwise(1500)
    )
    gate = (F.col("doc_id") * F.lit(2654435761)) % 1000
    n_rep = (w_milli / 1000).cast("bigint") + F.when(
        gate < w_milli % 1000, 1
    ).otherwise(0)
    # NB: explicit empty-array guard — Spark's sequence(0, n-1) with n == 0
    # infers step -1 and yields [0, -1] instead of an empty array, silently
    # giving every zero-weight document one copy.
    reps = F.when(
        F.col("n_rep") >= 1, F.sequence(F.lit(0), F.col("n_rep") - 1)
    ).otherwise(F.array().cast("array<bigint>"))
    return d.select("doc_id", "source", "lang", n_rep.alias("n_rep")).select(
        "doc_id",
        "source",
        "lang",
        F.explode(reps).alias("rep"),
    )


@query(
    "b22_drift_chisq",
    oracle="""
    WITH cells AS (
        SELECT event_type,
               sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS n0,
               sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS n1
        FROM events GROUP BY event_type
    ),
    tot AS (SELECT sum(n0) AS t0, sum(n1) AS t1 FROM cells)
    SELECT event_type, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           (CAST(n0 AS DOUBLE) - CAST((n0 + n1) * t0 AS DOUBLE) / (t0 + t1))
         * (CAST(n0 AS DOUBLE) - CAST((n0 + n1) * t0 AS DOUBLE) / (t0 + t1))
         / (CAST((n0 + n1) * t0 AS DOUBLE) / (t0 + t1))
         + (CAST(n1 AS DOUBLE) - CAST((n0 + n1) * t1 AS DOUBLE) / (t0 + t1))
         * (CAST(n1 AS DOUBLE) - CAST((n0 + n1) * t1 AS DOUBLE) / (t0 + t1))
         / (CAST((n1 + n0) * t1 AS DOUBLE) / (t0 + t1)) AS chi2_contrib
    FROM cells, tot
    """,
    doc="B22 (drift detection): chi-square contingency contributions per "
    "category between two deterministic cohorts (even/odd event_id stands "
    "in for before/after a pipeline change) — the standard categorical "
    "drift monitor. Expected counts come from integer marginals (exact in "
    "both engines); each row's contribution is a fixed-order scalar "
    "expression, so no float SUM ordering ever enters the checked values. "
    "Plan: one aggregation + a broadcast single-row totals join.",
)
def b22_drift_chisq(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("event_id") % 2 == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("event_id") % 2 == 1, 1).otherwise(0)).alias("n1"),
    )
    tot = cells.agg(F.sum("n0").alias("t0"), F.sum("n1").alias("t1"))
    j = cells.crossJoin(F.broadcast(tot))
    e0 = ((F.col("n0") + F.col("n1")) * F.col("t0")).cast("double") / (
        F.col("t0") + F.col("t1")
    )
    e1 = ((F.col("n0") + F.col("n1")) * F.col("t1")).cast("double") / (
        F.col("t0") + F.col("t1")
    )
    chi = (F.col("n0").cast("double") - e0) * (F.col("n0").cast("double") - e0) / e0 + (
        F.col("n1").cast("double") - e1
    ) * (F.col("n1").cast("double") - e1) / e1
    return j.select(
        "event_type",
        F.col("n0").cast("bigint").alias("n0"),
        F.col("n1").cast("bigint").alias("n1"),
        chi.alias("chi2_contrib"),
    )


@query(
    "b22_drift_ks",
    oracle="""
    WITH v AS (
        SELECT value, event_id % 2 AS half FROM events WHERE value <> -999.99
    ),
    cnt AS (
        SELECT value,
               sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
               sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
        FROM v GROUP BY value
    ),
    tot AS (SELECT sum(c0) AS n0, sum(c1) AS n1 FROM cnt),
    cum AS (
        SELECT value,
               sum(c0) OVER (ORDER BY value) AS cum0,
               sum(c1) OVER (ORDER BY value) AS cum1
        FROM cnt
    )
    SELECT max(abs(CAST(cum0 AS DOUBLE) / n0 - CAST(cum1 AS DOUBLE) / n1)) AS ks_stat,
           CAST(min(n0) AS BIGINT) AS n0, CAST(min(n1) AS BIGINT) AS n1
    FROM cum, tot
    """,
    doc="B22 (drift detection): two-sample Kolmogorov-Smirnov statistic "
    "between deterministic cohorts over the sentinel-cleaned value column "
    "— the numeric drift monitor. Cumulative counts are integer and exact; "
    "per-row CDF differences are fixed-order scalar doubles and the final "
    "MAX is order-independent, so the statistic is engine-exact. The "
    "cumulative sums use the DISTRIBUTED two-level prefix-sum "
    "(operators/prefixsum.py): range-partition + parallel local running "
    "sums + broadcast offsets — a continuous value column makes the "
    "distinct-value spine as large as the data, and a naive global-order "
    "window would serialize it through one task.",
)
def b22_drift_ks(spark, sf_dir):
    from ..operators.prefixsum import running_sums

    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("value") != -999.99).select(
        "value", (F.col("event_id") % 2).alias("half")
    )
    cnt = v.groupBy("value").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
    )
    tot = cnt.agg(F.sum("c0").alias("n0"), F.sum("c1").alias("n1"))
    cum = running_sums(cnt, order_by=["value"], sum_cols=["c0", "c1"]).select(
        "value",
        F.col("cum_c0").alias("cum0"),
        F.col("cum_c1").alias("cum1"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    diff = F.abs(
        F.col("cum0").cast("double") / F.col("n0")
        - F.col("cum1").cast("double") / F.col("n1")
    )
    return j.agg(
        F.max(diff).alias("ks_stat"),
        F.min("n0").cast("bigint").alias("n0"),
        F.min("n1").cast("bigint").alias("n1"),
    )


@query(
    "b22_winsorize",
    oracle="""
    WITH pct AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM events WHERE value <> -999.99 GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           e.value AS value_raw,
           CASE WHEN e.value < p.lo THEN p.lo
                WHEN e.value > p.hi THEN p.hi
                ELSE e.value END AS value_winsorized,
           e.value < p.lo OR e.value > p.hi AS clipped
    FROM events e JOIN pct p USING (event_type)
    WHERE e.value <> -999.99
    """,
    doc="B22 (quality): per-group winsorization — clamp each series' values "
    "to its exact [p5, p95] band (sentinels excluded first; they are "
    "missing-data markers, not extremes). Two passes: a percentile "
    "aggregation producing one tiny row per group (BROADCAST back over "
    "the fact — the fact never moves), then a map-only clamp. The 100 TB "
    "form swaps exact percentiles for approx_percentile's t-digest and "
    "keeps the identical dataflow; the exact form here is the "
    "oracle-parity variant (sort+interpolate quantiles match across "
    "engines on identical doubles).",
)
def b22_winsorize(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").filter(F.col("value") != -999.99)
    pct = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    j = e.join(F.broadcast(pct), "event_type")
    clamped = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    return j.select(
        "event_id",
        "event_type",
        F.col("value").alias("value_raw"),
        clamped.alias("value_winsorized"),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
            "clipped"
        ),
    )


@query(
    "b22_stratified_sample_hash",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE (doc_id * 2246822519) % 1000 <
          CASE lang WHEN 'en' THEN 500 WHEN 'es' THEN 250
                    WHEN 'fr' THEN 250 WHEN 'de' THEN 250
                    WHEN 'zh' THEN 100 ELSE 0 END
    """,
    doc="B22: DETERMINISTIC stratified sampling — per-stratum keep "
    "fractions applied through a Knuth-multiplicative hash gate on the "
    "document key instead of sampleBy's RNG. Same fractions as "
    "b22_stratified_sample (en .5 / es .25 / fr .25 / de .25 / zh .1) but "
    "reproducible across runs, engines, partitionings, and cluster sizes — "
    "the property a 100 TB curation pipeline actually needs (re-running a "
    "stage must not resample a different corpus). Pure scan-side filter: "
    "no shuffle, pushes to parquet, and the SAME rows survive on any "
    "executor layout. Value-checked (the RNG variant can only be "
    "fraction-checked).",
)
def b22_stratified_sample_hash(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    thr = (
        F.when(F.col("lang") == "en", 500)
        .when(F.col("lang").isin("es", "fr", "de"), 250)
        .when(F.col("lang") == "zh", 100)
        .otherwise(0)
    )
    gate = (F.col("doc_id") * F.lit(2246822519)) % 1000
    return d.filter(gate < thr).select("doc_id", "lang")


@query(
    "b22_table_profile",
    oracle="""
    SELECT 'doc_id' AS col, count(*) AS n_rows,
           count(doc_id) AS n_nonnull, count(DISTINCT doc_id) AS n_distinct
    FROM documents
    UNION ALL
    SELECT 'lang', count(*), count(lang), count(DISTINCT lang) FROM documents
    UNION ALL
    SELECT 'source', count(*), count(source), count(DISTINCT source) FROM documents
    UNION ALL
    SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars) FROM documents
    """,
    doc="B22 (dataset-card profiling): per-column row/non-null/distinct "
    "counts in a SINGLE scan — grouping-sets over the column list via one "
    "explode of (name, value-as-string) pairs, partial-aggregated map-side, "
    "instead of one pass per column (the naive N-scan profile is the "
    "difference between one 100 TB read and four). Exact distincts here; "
    "swap count_distinct for approx_count_distinct at warehouse scale.",
)
def b22_table_profile(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    pairs = d.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in ["doc_id", "lang", "source", "n_chars"]
                ]
            )
        ).alias("p")
    ).select("p.col", "p.v")
    return pairs.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_nonnull"),
        F.countDistinct("v").alias("n_distinct"),
    )


@query(
    "b24_curation_pipeline",
    oracle=f"""
    WITH injected AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN text
                    ELSE text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com or +1-555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               END AS text
        FROM documents
    ),
    words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM injected
    ),
    per_word AS (
        SELECT doc_id, w, count(*) AS n FROM words GROUP BY doc_id, w
    ),
    signals AS (
        SELECT doc_id,
               CAST(sum(n) AS BIGINT) AS n_words,
               CAST(1 AS DOUBLE)
                 - CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
                 AS dup_frac,
               CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS top_frac
        FROM per_word GROUP BY doc_id
    ),
    scrubbed AS (
        SELECT doc_id,
               md5(regexp_replace(
                   regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                   '{_PHONE_RE}', '[PHONE]', 'g')) AS scrubbed_md5
        FROM injected
    ),
    kept AS (
        SELECT s.doc_id, g.n_words, g.dup_frac, g.top_frac, s.scrubbed_md5
        FROM scrubbed s JOIN signals g USING (doc_id)
        WHERE g.dup_frac <= 0.6 AND g.top_frac <= 0.2 AND g.n_words >= 5
    )
    SELECT doc_id, n_words, dup_frac, top_frac, scrubbed_md5
    FROM (SELECT *, row_number() OVER (
              PARTITION BY scrubbed_md5 ORDER BY doc_id) AS rn
          FROM kept)
    WHERE rn = 1
    """,
    doc="B24 (LLM curation END-TO-END, r6): the full document-curation "
    "pipeline as ONE value-checked dataflow — repetition quality signals "
    "(Gopher dup/top-word fractions) -> corpus-calibrated threshold "
    "filter (see b15_repetition_filter) -> PII scrub "
    "(same injected corpus as b15_pii_scrub) -> exact dedup on the "
    "scrubbed text with deterministic min-doc_id survivor. Scale shape: "
    "every per-document signal (word stats via sort_array + aggregate "
    "run-length, scrub via regexp_replace) is computed in a SINGLE "
    "map-only pass with higher-order functions — no explode, no "
    "self-join, no second scan; the only shuffle is the dedup window on "
    "the scrubbed hash. The oracle replays every stage in SQL CTEs.",
)
def b24_curation_pipeline(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    injected = F.when(F.col("doc_id") % 3 == 0, F.col("text")).otherwise(
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        )
    )
    words = F.sort_array(F.split(injected, " "))
    # max same-word run length over the sorted array == top word count,
    # computed per-row inside codegen (no explode, no per-doc aggregation)
    top_n = F.aggregate(
        words,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    nw = F.size(words).cast("double")
    scrubbed = F.md5(
        F.regexp_replace(
            F.regexp_replace(injected, F.lit(_EMAIL_RE), F.lit("[EMAIL]")),
            F.lit(_PHONE_RE),
            F.lit("[PHONE]"),
        )
    )
    sig = d.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        (
            F.lit(1.0) - F.size(F.array_distinct(words)).cast("double") / nw
        ).alias("dup_frac"),
        (top_n.cast("double") / nw).alias("top_frac"),
        scrubbed.alias("scrubbed_md5"),
    )
    kept = sig.filter(
        (F.col("dup_frac") <= 0.6)
        & (F.col("top_frac") <= 0.2)
        & (F.col("n_words") >= 5)
    )
    w = Window.partitionBy("scrubbed_md5").orderBy("doc_id")
    return (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _zorder_oracle():
    from ..operators.layout import zorder_key_sql

    expr = zorder_key_sql(["(user_id % 256)", "(event_id % 256)"], bits=8)
    return f"""
    SELECT event_id,
           user_id % 256 AS ux,
           event_id % 256 AS ex,
           {expr} AS zkey
    FROM events
    """


@query(
    "b22_zorder_key",
    oracle=_zorder_oracle(),
    doc="B22 (storage layout, r6): z-order/Morton clustering key — the "
    "multi-column layout trick behind Delta/Iceberg OPTIMIZE ZORDER BY. "
    "Interleaving the bits of two normalized dimensions gives every "
    "range-partitioned output file a small bounding box in BOTH, so parquet "
    "min/max row-group stats prune scans for predicates on EITHER column "
    "(single-column sort prunes only its own). Key math is pure JVM bit "
    "arithmetic inside whole-stage codegen; the oracle replays every bit "
    "via the SAME generated interleave expression (operators/layout.py "
    "zorder_key_sql). Write-side: cluster_by_zorder = repartitionByRange + "
    "sortWithinPartitions, one write-time shuffle amortized over every "
    "subsequent pruned scan; MEASURED in docs/SCALE.md \"Storage layout: "
    "z-order clustering\".",
)
def b22_zorder_key(spark, sf_dir):
    from ..operators.layout import zorder_key

    e = load_table(spark, sf_dir, "events")
    ux = (F.col("user_id") % 256).alias("ux")
    ex = (F.col("event_id") % 256).alias("ex")
    return e.select(
        "event_id",
        ux,
        ex,
        zorder_key(["user_id % 256", "event_id % 256"]).alias("zkey"),
    )


@query(
    "b24_token_budget_cap",
    oracle="""
    SELECT doc_id, source, cum_chars FROM (
        SELECT doc_id, source,
               CAST(sum(n_chars) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_chars
        FROM documents
    ) WHERE cum_chars <= 100000
    """,
    doc="B24 (r7): per-domain token-budget capping — keep each source's "
    "documents in deterministic (doc_id) order until a running size budget "
    "is exhausted, the mixture-control step that stops one crawled domain "
    "from dominating a training corpus (DoReMi/Pile-style domain caps by "
    "budget rather than count). One window (running sum per source) + a "
    "filter: a single hash shuffle on source, linear state. Under a "
    "mega-domain the running sum is the textbook prefix-sum skew case — "
    "the two-level distributed prefix sum in operators/prefixsum.py "
    "(b15_sequence_packing) is the drop-in replacement at that scale.",
)
def b24_token_budget_cap(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select(
            "doc_id",
            "source",
            F.sum("n_chars").over(w).alias("cum_chars"),
        )
        .filter(F.col("cum_chars") <= 100000)
    )


def _zorder3_oracle():
    from ..operators.layout import zorder_key_sql

    expr = zorder_key_sql(
        ["(user_id % 64)", "(event_id % 64)", "date_part('minute', ts)"],
        bits=6,
    )
    return f"""
    SELECT event_id,
           user_id % 64 AS ux,
           event_id % 64 AS ex,
           date_part('minute', ts) AS mx,
           {expr} AS zkey
    FROM events
    """


@query(
    "b22_zorder_key_3d",
    oracle=_zorder3_oracle(),
    doc="B22 (r7): three-dimensional z-order key — the Morton interleave "
    "generalized to (user, event, minute-of-hour): bit b of column i lands "
    "at b*3 + i, so every range-partitioned file gets a bounding box small "
    "in ALL THREE clustered dimensions and parquet row-group stats prune "
    "predicates on any of them. 6 bits/dim = an 18-bit key: resolution "
    "deliberately saturates (adding bits past the file count adds nothing "
    "— the curve only needs to order FILES). Pure JVM bit arithmetic in "
    "whole-stage codegen; the oracle replays every bit via the shared "
    "zorder_key_sql generator (operators/layout.py).",
)
def b22_zorder_key_3d(spark, sf_dir):
    from ..operators.layout import zorder_key

    e = load_table(spark, sf_dir, "events")
    dims = [
        "user_id % 64",
        "event_id % 64",
        "CAST(minute(ts) AS BIGINT)",
    ]
    return e.select(
        "event_id",
        (F.col("user_id") % 64).alias("ux"),
        (F.col("event_id") % 64).alias("ex"),
        F.minute("ts").cast("long").alias("mx"),
        zorder_key(dims, bits=6).alias("zkey"),
    )


@query(
    "b22_zorder_write_readback",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
    doc="B22 (r7): the z-order WRITE path itself, driver-checked end to end "
    "— cluster_by_zorder (repartitionByRange on the Morton key + "
    "sortWithinPartitions) writes the events projection to parquet, the "
    "entry reads that layout back and returns its content, and the oracle "
    "is the plain source projection: proves the one-shuffle clustered "
    "rewrite is content-preserving (no row lost/duplicated/mutated by the "
    "range repartition), closing the gap where only the key MATH had a "
    "driver row (b22_zorder_key) while the write was pytest-only. "
    "Clustering effectiveness (contiguous per-file key spans, 25%-of-scan "
    "row-group pruning) is asserted in tests/test_llm_ops.py and measured "
    "in docs/SCALE.md \"Storage layout: z-order clustering\".",
)
def b22_zorder_write_readback(spark, sf_dir):
    import os

    from ..operators.layout import cluster_by_zorder, zorder_key

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    zk = zorder_key(["user_id % 256", "event_id % 256"], bits=8)
    out = f"/tmp/dsspark_zrb_{os.path.basename(sf_dir.rstrip('/'))}"
    cluster_by_zorder(e, zk, partitions=8).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query(
    "b22_zone_map_stats",
    oracle="""
    SELECT zone,
           count(*) AS n_rows,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars,
           CASE WHEN min(n_chars) > 1200 THEN 'full'
                WHEN max(n_chars) <= 1200 THEN 'pruned'
                ELSE 'partial' END AS scan_class
    FROM (SELECT doc_id // 100 AS zone, n_chars FROM documents)
    GROUP BY zone
    """,
    doc="B22 (r7): zone-map (data-skipping manifest) computation — per "
    "storage chunk (modeled as 100-row doc_id zones, the row-group "
    "analog), the min/max/count a scan planner needs, plus each zone's "
    "classification under a sample predicate (n_chars > 1200): 'pruned' "
    "zones are skipped without reading, 'full' zones skip the filter, "
    "only 'partial' zones evaluate per row. This is the manifest the "
    "z-order work makes effective (docs/SCALE.md z-order ladder: 25% "
    "vs 100% row-group scans once data is clustered) — computing it is "
    "one partial-aggregatable pass, map-side combined, one shuffle on "
    "zone id; at 100 TB it runs per-file from parquet footers instead "
    "(metadata-only), same algebra.",
)
def b22_zone_map_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    z = d.select(
        (F.col("doc_id") / 100).cast("long").alias("zone"), "n_chars"
    )
    agg = z.groupBy("zone").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    return agg.select(
        "zone",
        "n_rows",
        "min_chars",
        "max_chars",
        F.when(F.col("min_chars") > 1200, "full")
        .when(F.col("max_chars") <= 1200, "pruned")
        .otherwise("partial")
        .alias("scan_class"),
    )


@query(
    "b22_cell_sample_exact_k",
    oracle="""
    SELECT doc_id, lang, source
    FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (
                   PARTITION BY lang, source
                   ORDER BY (doc_id * 2246822519) % 1048576, doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 5
    """,
    doc="B22 (r7): exact-k per-cell deterministic sampling — exactly "
    "min(5, |cell|) documents from every (lang, source) cell, chosen by a "
    "Knuth-multiplicative hash ORDER on the key rather than an RNG: the "
    "fixed-size complement of b22_stratified_sample_hash's fixed-FRACTION "
    "gate, for eval-set carving and per-cell inspection pulls where the "
    "budget is per cell, not proportional. Same reproducibility argument "
    "(identical survivors on any engine, partitioning, or cluster size); "
    "integer hash ordering with a doc_id tie-break means no float "
    "comparisons cross engines. One hash shuffle on the cell key + "
    "per-cell rank; the window never holds more than a cell's rows, and "
    "a mega-cell degrades to the same prefix-sum fallback documented on "
    "b24_token_budget_cap.",
)
def b22_cell_sample_exact_k(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    hkey = (F.col("doc_id") * F.lit(2246822519)) % 1048576
    w = Window.partitionBy("lang", "source").orderBy(
        hkey.asc(), F.col("doc_id").asc()
    )
    return (
        d.select(
            "doc_id", "lang", "source", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@query(
    "b22_observe_metrics",
    oracle="""
    SELECT count(*) AS rows_scanned,
           count(*) FILTER (WHERE l_quantity >= 25) AS rows_kept,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))
                AS DOUBLE) AS qty_total
    FROM lineitem
    """,
    doc="B22 (r7): pipeline observability via Dataset.observe — named "
    "accumulator metrics (rows scanned, rows surviving a QC filter, total "
    "quantity) collected AS the pipeline's own action runs: zero extra "
    "scans, zero extra shuffles, exactly the mechanism a 100 TB curation "
    "job uses to emit per-stage audit counters (docs retained per filter, "
    "bytes per stage) without re-running any stage. Two observe points "
    "bracket the filter; the metric exprs are partial-aggregatable "
    "(count/sum), so they ride the existing tasks map-side. The only "
    "driver transfer is the metric row itself — a few scalars, the same "
    "model-state category as b14's centroid means. Quantity totals go "
    "through DECIMAL so the audit numbers are bit-stable across engines "
    "and partitionings (float sum order is not).",
)
def b22_observe_metrics(spark, sf_dir):
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    at_scan = Observation("scan")
    at_keep = Observation("kept")
    flowed = li.observe(
        at_scan,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum(dec2("l_quantity")).alias("qty_total"),
    ).filter(F.col("l_quantity") >= 25).observe(
        at_keep, F.count(F.lit(1)).alias("rows_kept")
    )
    # The observed pipeline's own action (noop sink: full plan, no driver
    # rows) — metrics piggyback on these tasks, they do not add a job.
    flowed.write.format("noop").mode("overwrite").save()
    scan, kept = at_scan.get, at_keep.get
    # decimal inside the metric expr (bit-stable partial agg), double at
    # the edge (suite-wide float policy, tpch_full.py module docstring)
    return spark.createDataFrame(
        [(scan["rows_scanned"], kept["rows_kept"], float(scan["qty_total"]))],
        "rows_scanned bigint, rows_kept bigint, qty_total double",
    )


@query(
    "b22_compaction_readback",
    oracle="""
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
    FROM documents
    """,
    doc="B22 (r7): small-file compaction (the OPTIMIZE maintenance op), "
    "value-checked end-to-end: the documents table is first written as "
    "64 deliberately-tiny files (the shape a micro-batch sink accretes), "
    "then compact_small_files bin-packs them into ceil(bytes/target) "
    "outputs — sized from the REAL directory listing, not a guess — with "
    "a doc_id range re-sort so the compacted files carry disjoint, "
    "min/max-prunable key ranges instead of hash-scrambled ones. The "
    "readback is hash-compared against the source content (md5 of every "
    "text), proving the rewrite is loss-free; the file-count collapse "
    "itself is asserted in tests/test_llm_ops.py. At 100 TB compaction "
    "is run per partition as tables accrete; the per-file cost it "
    "removes (footer read + task per tiny file, no row-group pruning) "
    "dominates scan time long before data size does.",
)
def b22_compaction_readback(spark, sf_dir):
    import os

    from ..operators.layout import compact_small_files

    base = f"/tmp/dsspark_compact_{os.path.basename(sf_dir.rstrip('/'))}"
    frag, packed = os.path.join(base, "fragmented"), os.path.join(base, "compacted")
    d = load_table(spark, sf_dir, "documents")
    d.repartition(64).write.mode("overwrite").parquet(frag)
    compact_small_files(
        spark, frag, packed, target_file_bytes=8 * 1024 * 1024,
        order_by=["doc_id"],
    )
    return spark.read.parquet(packed).select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("text_md5")
    )


@query(
    "b24_temperature_mixture",
    oracle="""
    WITH counts AS (
        SELECT source, count(*) AS n FROM documents GROUP BY source
    ),
    quotas AS (
        SELECT source, n,
               CAST(floor(200.0 * sqrt(n) /
                    sum(sqrt(n)) OVER ()) AS BIGINT) AS quota
        FROM counts
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN quotas q USING (source)
    QUALIFY row_number() OVER (
        PARTITION BY d.source
        ORDER BY (d.doc_id * 2246822519) % 1048576, d.doc_id
    ) <= q.quota
    """,
    doc="B24 (r7): temperature-scaled mixture sampling — the XLM-R/mT5 "
    "rebalancing step: per-domain quotas proportional to n^alpha (alpha = "
    "0.5 flattens the head, boosts the tail) for a 200-doc budget, filled "
    "deterministically by hash order. alpha = 0.5 is deliberate ENGINE "
    "PARITY, not just a common setting: sqrt, divide, and multiply are "
    "IEEE correctly-rounded, so both engines compute bit-identical "
    "quotas; a general pow(n, alpha) is not correctly-rounded and one "
    "ulp at a floor() boundary would flip a whole quota. Plan: one tiny "
    "counts agg, quota arithmetic against a broadcast scalar "
    "denominator, broadcast join back, per-domain hash-ranked row_number — "
    "the fact table shuffles once (domain key) and the same mega-domain "
    "prefix-sum fallback as b24_token_budget_cap applies.",
)
def b24_temperature_mixture(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # denominator as a broadcast single-row scalar (the tpch_full.py
    # pattern), not an empty-partitionBy window (single-partition warning)
    denom = counts.agg(F.sum(F.sqrt("n")).alias("denom"))
    quotas = counts.crossJoin(F.broadcast(denom)).select(
        "source",
        F.floor(F.lit(200.0) * F.sqrt("n") / F.col("denom"))
        .cast("long")
        .alias("quota"),
    )
    hkey = (F.col("doc_id") * F.lit(2246822519)) % 1048576
    w = Window.partitionBy("source").orderBy(hkey.asc(), F.col("doc_id").asc())
    return (
        d.join(F.broadcast(quotas), "source")
        .select(
            "doc_id", "source", F.row_number().over(w).alias("rn"), "quota"
        )
        .filter(F.col("rn") <= F.col("quota"))
        .select("doc_id", "source")
    )


@query(
    "b22_dataset_fingerprint",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(('0x' || substr(md5(
               CAST(doc_id AS VARCHAR) || '|' || lang || '|' || source
               || '|' || CAST(n_chars AS VARCHAR) || '|' || md5(text)
           ), 1, 15))::BIGINT) AS VARCHAR) AS content_sum,
           CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT) AS VARCHAR)
               AS text_sum
    FROM documents
    """,
    doc="B22 (r7): order-independent dataset content fingerprint — one "
    "number that equals if and only if (w.h.p.) two copies of a table "
    "hold the same multiset of rows, regardless of row order, file "
    "layout, partitioning, or engine: each row hashes to a 60-bit "
    "integer (md5 of a canonical field serialization — portable, unlike "
    "murmur3) and the COMMUTATIVE sum is the digest, so the aggregation "
    "is map-side combinable and the shuffle carries one partial per "
    "task. This is how a 100 TB pipeline cheaply answers 'did the "
    "migration/replica/compaction change the data?' (the per-run twin "
    "of b22_compaction_readback's one-shot readback check, and the "
    "content half of snapshot_diff without materializing the diff). "
    "60-bit row hashes summed exactly in wide integers — no modular "
    "wrap, no overflow at any plausible row count — comparable across "
    "engines (Spark sums through DECIMAL(38,0), DuckDB through "
    "HUGEINT; both render the identical digit string, which is the "
    "digest's exchange format).",
)
def b22_dataset_fingerprint(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    canon = F.concat_ws(
        "|",
        F.col("doc_id").cast("string"),
        "lang",
        "source",
        F.col("n_chars").cast("string"),
        F.md5("text"),
    )
    row_h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    text_h = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_h.cast("decimal(38,0)")).cast("string").alias("content_sum"),
        F.sum(text_h.cast("decimal(38,0)")).cast("string").alias("text_sum"),
    )


@query(
    "b24_scripting_lang_coverage",
    oracle="""
    WITH lc AS (
        SELECT lang, CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(chars) AS BIGINT) AS total FROM lc),
    ranked AS (
        SELECT row_number() OVER (ORDER BY chars DESC, lang) AS rk,
               sum(chars) OVER (ORDER BY chars DESC, lang
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM lc
    )
    SELECT CAST(rk AS BIGINT) AS k_cover, CAST(cum AS BIGINT) AS covered,
           total
    FROM ranked, tot WHERE cum * 5 >= total * 4
    ORDER BY rk LIMIT 1
    """,
    doc="B24/B11 (r9): Spark 4 SQL SCRIPTING (SQL/PSM: BEGIN/DECLARE/SET/"
    "WHILE) answering a corpus-curation question procedurally — the "
    "smallest k such that the top-k languages by character volume cover "
    ">= 80% of the corpus. The WHILE loop grows k, re-evaluating a "
    "scalar-subquery SET against the per-language aggregate each pass "
    "(LIMIT k binds the INT script variable — BIGINT loop vars are "
    "rejected by checkLimitLikeClause, a pinned dialect fact), and the "
    "final SELECT is the script's result relation. The DuckDB oracle is "
    "the DECLARATIVE form: running-sum window + first rank crossing the "
    "threshold — so the hash match proves procedural accumulation and "
    "window cumsum agree, the same imperative-vs-relational duality the "
    "suite pins for the partitioned UDTF. Scale discipline: the loop "
    "body queries a localCheckpoint()ed |langs|-row aggregate, NOT a "
    "temp view over the corpus — a view would re-scan and re-aggregate "
    "100 TB once per iteration (the procedural-SQL trap); materialized, "
    "the corpus is scanned exactly once and each iteration is "
    "millisecond work on |langs| rows driven from the script "
    "interpreter. All outputs bigint.",
)
def b24_scripting_lang_coverage(spark, sf_dir):
    lc = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.sum("n_chars").alias("chars"))
        .localCheckpoint()
    )
    lc.createOrReplaceTempView("scov_lc")
    return spark.sql("""
    BEGIN
      DECLARE k INT DEFAULT 0;
      DECLARE cov BIGINT DEFAULT 0;
      DECLARE total BIGINT DEFAULT 0;
      SET total = (SELECT sum(chars) FROM scov_lc);
      WHILE cov * 5 < total * 4 DO
        SET k = k + 1;
        SET cov = (SELECT sum(chars) FROM (
            SELECT chars FROM scov_lc ORDER BY chars DESC, lang LIMIT k));
      END WHILE;
      -- empty corpus: total is NULL (sum over zero rows), the WHILE
      -- guard is NULL=false so k stays 0 — emit zero rows to match the
      -- declarative oracle's empty result instead of a (0, 0, NULL) row
      SELECT CAST(k AS BIGINT) AS k_cover, cov AS covered, total
      WHERE total IS NOT NULL;
    END
    """)


@query(
    "b22_kanonymity",
    oracle="""
    WITH q AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
        FROM customer
    ),
    g AS (
        SELECT c_nationkey, c_mktsegment, bal_band,
               count(*) AS class_size
        FROM q GROUP BY 1, 2, 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(count(CASE WHEN class_size < 5 THEN 1 END) AS BIGINT)
               AS n_risky_classes,
           CAST(coalesce(sum(CASE WHEN class_size < 5
                                  THEN class_size END), 0) AS BIGINT)
               AS n_risky_rows,
           CAST(min(class_size) AS BIGINT) AS k_anonymity
    FROM g
    """,
    doc="B22 (r9): K-ANONYMITY AUDIT — the privacy-risk measurement that "
    "precedes any data release: bucket every record by its "
    "quasi-identifier tuple (nation, market segment, 1000-unit balance "
    "band — the attributes an adversary can link from outside), and "
    "report the equivalence-class census: the dataset's k (its "
    "smallest class — the formal k-anonymity level of Sweeney 2002), "
    "how many classes and rows sit below k=5, i.e. are re-identifiable "
    "by linkage. Complements b15_pii_scrub (which removes DIRECT "
    "identifiers; this measures the residual risk from INDIRECT ones — "
    "scrubbing is not anonymity, the audit quantifies the gap). "
    "Deterministic banding (floor of a parquet double / exact integer "
    "1000 — identical IEEE division on both engines), one "
    "map-side-combinable groupBy to class sizes, one tiny global fold "
    "— shuffle carries one row per equivalence class, never the "
    "customers. At 100 TB the audit is the same two aggregations; the "
    "class census also feeds the FIX (generalize bands until min "
    "class_size >= k), which is this same query in a widening loop.",
)
def b22_kanonymity(spark, sf_dir):
    g = (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    risky = F.col("class_size") < 5
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.count(F.when(risky, 1)).cast("bigint").alias("n_risky_classes"),
        F.coalesce(F.sum(F.when(risky, F.col("class_size"))), F.lit(0))
        .cast("bigint")
        .alias("n_risky_rows"),
        F.min("class_size").cast("bigint").alias("k_anonymity"),
    )


@query(
    "b22_proportional_allocation",
    oracle="""
    WITH s AS (
        SELECT event_type, count(*) AS n_h FROM events GROUP BY 1
    ),
    t AS (SELECT sum(n_h) AS n FROM s),
    q AS (
        SELECT s.event_type, s.n_h,
               (1000 * s.n_h) // t.n AS base,
               (1000 * s.n_h) % t.n AS rem
        FROM s, t
    ),
    r AS (
        SELECT event_type, n_h, base, rem,
               row_number() OVER (ORDER BY rem DESC, event_type ASC)
                   AS rnk,
               1000 - sum(base) OVER () AS leftover
        FROM q
    )
    SELECT event_type,
           CAST(n_h AS BIGINT) AS n_rows,
           CAST(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS allocated
    FROM r
    """,
    doc="B22 (r9): EXACT PROPORTIONAL ALLOCATION (largest-remainder / "
    "Hamilton apportionment) of a fixed sample budget (n=1000) across "
    "strata — the step between 'decide strata' and 'draw the sample' "
    "(b22_stratified_sample draws; this decides HOW MANY per stratum "
    "so the total is EXACTLY the budget): naive round(n * share) "
    "over- or under-shoots the total, the classic apportionment "
    "problem; Hamilton's method gives each stratum floor(n*N_h / N) "
    "and hands the leftover seats to the largest remainders. "
    "All-integer ((1000*N_h) DIV N and % N — exact bigint products, "
    "the cross-engine DIV rule), with a deterministic "
    "(remainder DESC, key ASC) total order for the leftover ranking "
    "so ties cannot flake the hash. sum(base) OVER () and the rank "
    "ride one single-partition window over |strata| rows — the "
    "DRIVER-SIZED relation, not the data (the b06_footer_stats "
    "pattern): the data-sized work is one map-side-combinable count "
    "per stratum. The invariant sum(allocated) = 1000 exactly is "
    "pinned in pytest. At 100 TB this is the same plan: one "
    "aggregation shuffle, then apportionment over however many "
    "strata exist.",
)
def b22_proportional_allocation(spark, sf_dir):
    from pyspark.sql import Window

    s = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_h"))
    )
    q = s.select(
        "event_type",
        "n_h",
        F.expr("(1000 * n_h) DIV (sum(n_h) OVER ())").alias("base"),
        F.expr("(1000 * n_h) % (sum(n_h) OVER ())").alias("rem"),
    )
    w_rank = Window.orderBy(F.col("rem").desc(), F.col("event_type").asc())
    r = q.select(
        "event_type",
        "n_h",
        "base",
        F.row_number().over(w_rank).alias("rnk"),
        (F.lit(1000) - F.expr("sum(base) OVER ()")).alias("leftover"),
    )
    return r.select(
        "event_type",
        F.col("n_h").cast("bigint").alias("n_rows"),
        (
            F.col("base")
            + F.when(F.col("rnk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("allocated"),
    )


@query(
    "b22_benford_digits",
    oracle="""
    WITH d AS (
        SELECT substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
                            AS VARCHAR), 1, 1) AS digit
        FROM lineitem WHERE l_extendedprice >= 1
    ),
    obs AS (
        SELECT CAST(digit AS BIGINT) AS digit, count(*) AS n
        FROM d GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs),
    exp AS (
        SELECT CAST(g.d AS BIGINT) AS digit, e.ppm AS expected_ppm
        FROM (SELECT unnest(range(1, 10)) AS d) g
        JOIN (VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
                     (5, 79181), (6, 66947), (7, 57992), (8, 51153),
                     (9, 45757)) e(d, ppm)
          ON e.d = g.d
    )
    SELECT exp.digit AS digit,
           CAST(coalesce(obs.n, 0) AS BIGINT) AS n,
           t.total AS total,
           CAST(coalesce(obs.n, 0) AS DOUBLE) / t.total AS obs_frac,
           CAST(exp.expected_ppm AS BIGINT) AS expected_ppm,
           abs(CAST(coalesce(obs.n, 0) AS DOUBLE) / t.total
               - CAST(exp.expected_ppm AS DOUBLE) / 1000000) AS dev
    FROM exp CROSS JOIN t LEFT JOIN obs ON obs.digit = exp.digit
    """,
    doc="B22 (r10): BENFORD FIRST-DIGIT AUDIT — the forensic data-quality "
    "profile (fraud screening, synthetic-data detection, unit-mixup "
    "alarms): the distribution of leading digits of l_extendedprice "
    "against Benford's law, per digit: observed count, observed "
    "fraction, the expected log10(1+1/d) share embedded as EXACT "
    "integer ppm literals precomputed at author time (301030 ... "
    "45757, summing to exactly 1000000 — no transcendental evaluates "
    "in EITHER engine, the no-logs-in-oracles rule), and the absolute "
    "deviation. The leading digit comes from the integer-part STRING "
    "(CAST(floor(x) AS BIGINT) -> first char) — no log10(x) per row, "
    "whose libm rounding at decade boundaries differs across engines. "
    "One shuffle carrying <=9 groups (map-side combined), a 9-row "
    "expected table and a 1-row total broadcast; divisions only at "
    "the edge. The honest finding is part of the entry: TPC-H-style "
    "uniform prices are NOT Benford (dev ~0.1 at digit 1) — exactly "
    "what the audit is built to flag on synthetic or truncated data; "
    "organic multi-scale quantities converge toward the law. At "
    "100 TB this is a free rider on any existing scan: 9 counters per "
    "monitored column, mergeable across partitions and days.",
)
def b22_benford_digits(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice") >= 1
    )
    obs = (
        li.select(
            F.substring(
                F.floor(F.col("l_extendedprice")).cast("bigint").cast("string"),
                1,
                1,
            )
            .cast("bigint")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = obs.agg(F.sum("n").cast("bigint").alias("total"))
    ppm = {1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
           6: 66947, 7: 57992, 8: 51153, 9: 45757}
    exp = spark.range(1, 10).select(
        F.col("id").alias("digit"),
        F.element_at(
            F.array(*[F.lit(ppm[d]) for d in range(1, 10)]),
            F.col("id").cast("int"),
        )
        .cast("bigint")
        .alias("expected_ppm"),
    )
    n = F.coalesce(F.col("n"), F.lit(0)).cast("bigint")
    return (
        exp.crossJoin(F.broadcast(total))
        .join(F.broadcast(obs), "digit", "left")
        .select(
            "digit",
            n.alias("n"),
            "total",
            (n.cast("double") / F.col("total")).alias("obs_frac"),
            "expected_ppm",
            F.abs(
                n.cast("double") / F.col("total")
                - F.col("expected_ppm").cast("double") / 1000000
            ).alias("dev"),
        )
    )


@query(
    "b22_group_reservoir",
    oracle="""
    WITH h AS (
        SELECT event_type, event_id, user_id,
               ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
                   AS h
        FROM events
    ),
    r AS (
        SELECT event_type, event_id, user_id,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY h, event_id) AS smp_rank
        FROM h
    )
    SELECT event_type, CAST(smp_rank AS BIGINT) AS smp_rank, event_id, user_id
    FROM r WHERE smp_rank <= 8
    """,
    doc="B22 (r12): DETERMINISTIC PER-GROUP EXACT-k SAMPLER (VERDICT r11 "
    "#6) — the per-group sampling primitive the curation layer lacked: "
    "df.sampleBy is FRACTION-based (expected, not exact, group sizes) "
    "and RNG-seeded (a retry or partition-count change resamples), so "
    "'exactly k examples per class' — eval-set carving, per-source "
    "inspection samples, class-balanced SFT subsets — had no entry. "
    "This is Efraimidis-Spirakis A-ES with uniform weights: A-ES keys "
    "each item by u^(1/w) and keeps the k largest; with w=1 that is "
    "exactly 'k smallest of a uniform hash', and replacing the RNG u "
    "with the portable 60-bit md5 of the UNIQUE event_id makes the "
    "draw deterministic — same sample under retries, repartitioning, "
    "and engine swap, which is what lets DuckDB replay the whole "
    "sample hash-exactly (the same derandomization the "
    "b22_stratified_sample_hash gate and the planted-twin entries "
    "use; md5 mixes, so per-group hash order is uniform in id order). "
    "smp_rank <= 8 over row_number(PARTITION BY event_type ORDER BY "
    "h, event_id) — the id tiebreak makes the order total even under "
    "(astronomically unlikely) 60-bit collisions. SCALE: the literal "
    "rank bound lets Spark plan a WindowGroupLimit (rank-limit "
    "pushdown, pinned in tests/test_plans.py): every partition keeps "
    "only its local top-8 per group BEFORE the shuffle — bounded "
    "k-per-group state per task, exactly a distributed bounded "
    "reservoir, no global sort, no full-group materialization. At "
    "100 TB the shuffle carries <= 8 * |groups| * |partitions| rows "
    "upper-bounded by the partial heaps, and the final per-group "
    "merge touches <= 8 * |partitions| rows per group.",
)
def b22_group_reservoir(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "user_id"
    )
    h = ev.withColumn(
        "h",
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long"),
    )
    rnw = Window.partitionBy("event_type").orderBy("h", "event_id")
    return (
        h.withColumn("smp_rank", F.row_number().over(rnw).cast("bigint"))
        .filter(F.col("smp_rank") <= 8)
        .select("event_type", "smp_rank", "event_id", "user_id")
    )


@query(
    "b22_budgeted_split",
    oracle="""
    WITH cnt AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM cnt),
    q AS (
        SELECT lang, n_docs,
               (100 * n_docs) // total AS floor_part,
               (100 * n_docs) % total AS rem
        FROM cnt, tot
    ),
    fl AS (SELECT CAST(sum(floor_part) AS BIGINT) AS floor_sum FROM q),
    alloc AS (
        SELECT lang,
               CAST(floor_part + CASE WHEN rk <= 100 - fl.floor_sum
                                      THEN 1 ELSE 0 END AS BIGINT) AS alloc
        FROM (SELECT lang, floor_part,
                     row_number() OVER (ORDER BY rem DESC, lang) AS rk
              FROM q), fl
    ),
    ranked AS (
        SELECT d.lang, d.doc_id,
               row_number() OVER (
                   PARTITION BY d.lang
                   ORDER BY ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                                            1, 15))::BIGINT,
                            d.doc_id) AS smp_rank
        FROM documents d
    )
    SELECT r.lang, CAST(r.smp_rank AS BIGINT) AS smp_rank, r.doc_id, a.alloc
    FROM ranked r JOIN alloc a ON a.lang = r.lang
    WHERE r.smp_rank <= a.alloc
    """,
    doc="B22 (r12): BUDGETED PROPORTIONAL SAMPLE — 'exactly 100 eval "
    "documents, allocated proportionally across languages, reproducibly' "
    "— the composition of two existing exact primitives that no single "
    "entry gave: Hamilton largest-remainder apportionment "
    "(b22_proportional_allocation's algorithm: integer floor quotas "
    "B*n_g DIV total, leftover seats to the largest remainders with the "
    "(rem DESC, lang) total order — sum(alloc) == B EXACTLY, no "
    "float-rounding drift) allocates the budget, then the deterministic "
    "hash-rank sampler (b22_group_reservoir's A-ES derandomization: "
    "60-bit md5 of doc_id, (h, doc_id) total order) draws EXACTLY "
    "alloc_g uniform documents per stratum. Every step is integer "
    "arithmetic on corpus counts, so the oracle replays the full 100-row "
    "sample hash-exactly; sum == 100 at every SF is pinned in pytest "
    "alongside the apportionment-vs-true-proportion bound (|alloc - "
    "100*n_g/total| < 1 by the largest-remainder construction, Hare "
    "quota). SCALE: one scan -> one ~|strata|-row count aggregate (the "
    "apportionment is driver-scale arithmetic on it, broadcast back), "
    "one per-stratum rank window; the rank bound is a per-group COLUMN "
    "(alloc), so like the capped link-pred this is a full linear window "
    "rather than a WindowGroupLimit — the price of a data-dependent "
    "quota; with a literal per-group k it degrades to the "
    "group-reservoir plan. At 100 TB the apportionment input is "
    "|strata| rows regardless of corpus size and the sample shuffle "
    "carries only the winning rows.",
)
def b22_budgeted_split(spark, sf_dir):
    B = 100
    d = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    cnt = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    tot = cnt.agg(F.sum("n_docs").cast("bigint").alias("total"))
    q = cnt.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.expr(f"({B} * n_docs) DIV total").alias("floor_part"),
        F.expr(f"({B} * n_docs) % total").alias("rem"),
    )
    fl = q.agg(F.sum("floor_part").cast("bigint").alias("floor_sum"))
    # <=|strata| rows: the unpartitioned window is bounded
    rw = Window.orderBy(F.col("rem").desc(), F.col("lang").asc())
    alloc = (
        q.withColumn("rk", F.row_number().over(rw))
        .crossJoin(F.broadcast(fl))
        .select(
            "lang",
            (
                F.col("floor_part")
                + F.when(F.col("rk") <= F.lit(B) - F.col("floor_sum"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("alloc"),
        )
    )
    rnw = Window.partitionBy("lang").orderBy("h", "doc_id")
    ranked = d.withColumn(
        "h",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long"),
    ).withColumn("smp_rank", F.row_number().over(rnw).cast("bigint"))
    return (
        ranked.join(F.broadcast(alloc), "lang")
        .filter(F.col("smp_rank") <= F.col("alloc"))
        .select("lang", "smp_rank", "doc_id", "alloc")
    )


@query(
    "b22_target_mixture",
    oracle="""
    WITH tgt AS (
        SELECT * FROM (VALUES ('fr', CAST(400000 AS BIGINT)),
                              ('en', CAST(150000 AS BIGINT)),
                              ('de', CAST(150000 AS BIGINT)),
                              ('es', CAST(150000 AS BIGINT)),
                              ('zh', CAST(150000 AS BIGINT)))
            AS t(lang, target_ppm)
    ),
    avail AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS avail
        FROM documents GROUP BY lang
    ),
    base AS (
        SELECT t.lang, t.target_ppm, coalesce(a.avail, 0) AS avail,
               (400 * t.target_ppm) // 1000000 AS fl,
               (400 * t.target_ppm) % 1000000 AS rem
        FROM tgt t LEFT JOIN avail a ON t.lang = a.lang
    ),
    quota AS (
        SELECT lang, target_ppm, avail,
               CAST(fl + CASE WHEN row_number()
                                   OVER (ORDER BY rem DESC, lang)
                              <= 400 - (SELECT sum(fl) FROM base)
                         THEN 1 ELSE 0 END AS BIGINT) AS quota
        FROM base
    ),
    r1 AS (
        SELECT lang, target_ppm, avail, quota,
               least(quota, avail) AS alloc1,
               greatest(avail - quota, CAST(0 AS BIGINT)) AS capacity
        FROM quota
    ),
    surplus AS (SELECT CAST(sum(quota - alloc1) AS BIGINT) AS s FROM r1),
    wf AS (
        SELECT lang, target_ppm, avail, quota, alloc1, capacity,
               coalesce(sum(capacity)
                            OVER (ORDER BY target_ppm DESC, lang
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING),
                        CAST(0 AS BIGINT)) AS cap_before
        FROM r1
    )
    SELECT lang, target_ppm, avail, quota,
           CAST(alloc1 AS BIGINT) AS alloc1,
           CAST(least(greatest(s - cap_before, CAST(0 AS BIGINT)), capacity)
                AS BIGINT) AS spill,
           CAST(alloc1 + least(greatest(s - cap_before, CAST(0 AS BIGINT)),
                               capacity) AS BIGINT) AS alloc
    FROM wf CROSS JOIN surplus
    ORDER BY lang
    """,
    doc="B22 (r12): TARGET-MIXTURE ALLOCATION WITH AVAILABILITY CAPS — "
    "b22_budgeted_split apportions a budget PROPORTIONALLY to the data; "
    "real training-mix specs are the opposite ('40% fr, 15% each of the "
    "rest, 400 docs total') and must survive a stratum that cannot fill "
    "its quota. Three closed-form, all-integer stages: (1) Hamilton "
    "largest-remainder quotas of budget*target_ppm (floor + (rem DESC, "
    "lang)-ordered bumps, sum == budget exactly); (2) cap each stratum "
    "at its availability; (3) spill the total surplus by a GREEDY "
    "WATERFALL over the uncapped strata in (target_ppm DESC, lang) "
    "order: spill_g = clamp(S - cum_capacity_before_g, 0, capacity_g) — "
    "a single cumulative-capacity window over the <=|langs| allocation "
    "relation, so the waterfall is one closed-form pass, never an "
    "iterative redistribution loop (a proportional re-apportionment can "
    "cascade: round-2 quotas can re-exceed a newly-funded stratum's "
    "availability; the greedy fill by construction cannot). The "
    "sf-ladder exercises all three regimes: sf0.001 caps fr at 82/160 "
    "(spill 78 -> de 11, en 67), sf0.01 caps fr at 64 (spill 96 -> "
    "de 10, en 86), sf0.1 binds nothing. sum(alloc) == min(budget, "
    "total_avail) is an invariant (pinned in pytest). At 100 TB the "
    "only corpus-scale work is one scan + one lang-keyed count shuffle; "
    "every window runs over the bounded language dimension.",
)
def b22_target_mixture(spark, sf_dir):
    BUDGET = 400
    d = load_table(spark, sf_dir, "documents")
    tgt = spark.createDataFrame(
        [
            ("fr", 400000),
            ("en", 150000),
            ("de", 150000),
            ("es", 150000),
            ("zh", 150000),
        ],
        "lang string, target_ppm bigint",
    )
    avail = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("avail")
    )
    # <=|langs| rows; consumed twice (floor-sum scalar + quota rows)
    base = (
        tgt.join(avail, "lang", "left")
        .select(
            "lang",
            "target_ppm",
            F.coalesce(F.col("avail"), F.lit(0).cast("bigint")).alias(
                "avail"
            ),
            F.expr(f"({BUDGET} * target_ppm) DIV 1000000").alias("fl"),
            F.expr(f"({BUDGET} * target_ppm) % 1000000").alias("rem"),
        )
        .localCheckpoint()
    )
    flsum = base.agg(F.sum("fl").cast("bigint").alias("flsum"))
    rw = Window.orderBy(F.col("rem").desc(), F.col("lang").asc())
    quota = base.crossJoin(F.broadcast(flsum)).select(
        "lang",
        "target_ppm",
        "avail",
        (
            F.col("fl")
            + F.when(
                F.row_number().over(rw) <= F.lit(BUDGET) - F.col("flsum"),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("quota"),
    )
    # <=|langs| rows; consumed twice (surplus scalar + waterfall rows)
    r1 = quota.select(
        "lang",
        "target_ppm",
        "avail",
        "quota",
        F.least("quota", "avail").cast("bigint").alias("alloc1"),
        F.greatest(
            F.col("avail") - F.col("quota"), F.lit(0).cast("bigint")
        ).alias("capacity"),
    ).localCheckpoint()
    surplus = r1.agg(
        F.sum(F.col("quota") - F.col("alloc1")).cast("bigint").alias("s")
    )
    ww = Window.orderBy(
        F.col("target_ppm").desc(), F.col("lang").asc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    wf = r1.withColumn(
        "cap_before",
        F.coalesce(F.sum("capacity").over(ww), F.lit(0).cast("bigint")),
    )
    spill = F.least(
        F.greatest(F.col("s") - F.col("cap_before"), F.lit(0).cast("bigint")),
        F.col("capacity"),
    )
    return (
        wf.crossJoin(F.broadcast(surplus))
        .select(
            "lang",
            "target_ppm",
            "avail",
            "quota",
            "alloc1",
            spill.cast("bigint").alias("spill"),
            (F.col("alloc1") + spill).cast("bigint").alias("alloc"),
        )
        .orderBy("lang")
    )


@query(
    "b22_quality_checks",
    oracle=r"""
    SELECT 'not_null:event_type' AS check_name,
           count(*) FILTER (WHERE event_type IS NULL) AS violations,
           count(*) AS total,
           count(*) FILTER (WHERE event_type IS NULL) = 0 AS ok
    FROM events
    UNION ALL
    SELECT 'in_range:value',
           count(*) FILTER (WHERE value IS NOT NULL AND value NOT BETWEEN 0 AND 200),
           count(*),
           count(*) FILTER (WHERE value IS NOT NULL AND value NOT BETWEEN 0 AND 200) = 0
    FROM events
    UNION ALL
    SELECT 'matches:props',
           count(*) FILTER (WHERE props IS NOT NULL AND NOT regexp_matches(props, '^\{')),
           count(*),
           count(*) FILTER (WHERE props IS NOT NULL AND NOT regexp_matches(props, '^\{')) = 0
    FROM events
    UNION ALL
    SELECT 'unique:event_id',
           (SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT)
            FROM (SELECT count(*) AS n FROM events GROUP BY event_id)),
           (SELECT count(*) FROM events),
           (SELECT coalesce(sum(n - 1), 0) FROM (SELECT count(*) AS n FROM events GROUP BY event_id)) = 0
    UNION ALL
    SELECT 'ref:l_orderkey->o_orderkey',
           (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0
    """,
    doc="B22: declarative data-quality battery (the reference's QC purpose, "
    "machine-checked): null/range/format checks fold into ONE conditional-"
    "sum pass over one scan; uniqueness and referential integrity are "
    "aggregate / anti-join counts. The in_range check intentionally "
    "flags rows (value > 200 exists) to prove detection.",
)
def b22_quality_checks(spark, sf_dir):
    from ..operators.validate import (
        in_range,
        matches,
        not_null,
        referential_violations,
        run_checks,
        uniqueness_violations,
    )

    e = load_table(spark, sf_dir, "events")
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    row_checks = run_checks(
        e,
        [
            not_null("event_type"),
            in_range("value", 0, 200),
            matches("props", r"^\{"),
        ],
    )
    return (
        row_checks.unionByName(uniqueness_violations(e, ["event_id"]))
        .unionByName(referential_violations(l, "l_orderkey", o, "o_orderkey"))
    )


@query(
    "b22_stratified_sample",
    oracle=None,  # sampling is engine-specific RNG; fractions pinned in tests
    doc="B22: per-stratum Bernoulli sampling (sampleBy on lang, seeded) — "
    "the standard corpus down-sampling/rebalancing step in LLM data "
    "pipelines. Deterministic for a fixed seed and partitioning; fraction "
    "accuracy asserted in tests, not hash-compared.",
)
def b22_stratified_sample(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "es": 0.25, "fr": 0.25, "de": 0.25, "zh": 0.1}
    return d.sampleBy("lang", fractions, seed=42).select("doc_id", "lang")


@query(
    "b22_mixture_resample",
    oracle="""
    SELECT doc_id, source, lang
    FROM documents
    WHERE (doc_id * 2654435761) % 1000 <
          CASE source
            WHEN 'src0' THEN 300
            WHEN 'src1' THEN 900
            WHEN 'src2' THEN 700
            ELSE 500
          END
    """,
    doc="B22: deterministic mixture resampling — per-source keep rates "
    "applied through a Knuth-hash gate on the stable doc key instead of "
    "an RNG, so the sample is reproducible across runs, engines, and "
    "partitionings (resumable/auditable corpus builds; rand()-based "
    "sample() is none of those). Pure filter: pushes to the scan, no "
    "shuffle. Rates here: src0 30%, src1 90%, src2 70%, default 50%.",
)
def b22_mixture_resample(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source") == "src0", 300)
        .when(F.col("source") == "src1", 900)
        .when(F.col("source") == "src2", 700)
        .otherwise(500)
    )
    gate = (F.col("doc_id") * F.lit(2654435761)) % 1000
    return d.filter(gate < rate).select("doc_id", "source", "lang")
