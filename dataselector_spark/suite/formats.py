"""B01/B11/B21 formats and Python APIs: JSON, ORC, XML and parquet
readers and writers, the Python data source, SQL semantics batteries
(NULLs, VARIANT, collations, parameters), pandas UDFs and UDAFs,
mapInArrow and UDTFs.

B1 round-trips write to /tmp and read back through an EXPLICIT schema — the
oracle runs against the original parquet, so a pass proves the sink+source
pair is lossless (Java's shortest-round-trip double formatting guarantees
text formats preserve doubles exactly).

B21 policy: pandas UDFs compute in integer-scaled exact arithmetic (prices
and quantities are 2-dp fixed-point), so grouped results hash-match a
DECIMAL-cast DuckDB oracle despite Python-side summation. This is the same
float policy as relational.py, ported across the Arrow boundary.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..functions.cleaning import dec2
from .base import query


_RT_ROOT = "/tmp/dataselector_roundtrip"


def _rt_path(sf_dir: str, name: str) -> str:
    return os.path.join(_RT_ROOT, os.path.basename(os.path.normpath(sf_dir)), name)


@query(
    "b01_json_permissive",
    oracle="""
    SELECT o_orderstatus AS status, count(*) AS n
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT '__corrupt' AS status, 7 AS n
    """,
    doc="B1 (robust ingestion): PERMISSIVE JSON source with a "
    "_corrupt_record column — 7 malformed lines are interleaved with the "
    "orders feed, land in the corrupt bucket instead of failing the job, "
    "and every well-formed row still parses. At 100 TB of scraped JSON the "
    "alternatives are FAILFAST (one bad line kills an hours-long job) or "
    "DROPMALFORMED (silent data loss with no audit trail); PERMISSIVE + "
    "corrupt-count monitoring is the production posture.",
)
def b01_json_permissive(spark, sf_dir):
    from pyspark.sql import types as T


    path = _rt_path(sf_dir, "orders_json_corrupt")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    good = o.select(F.to_json(F.struct("o_orderkey", "o_orderstatus")).alias("value"))
    corrupt = spark.createDataFrame(
        [(f'{{"o_orderkey": broken{i},,',) for i in range(7)], "value string"
    )
    good.unionByName(corrupt).write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return back.select(
        F.coalesce(
            F.when(F.col("_corrupt_record").isNotNull(), "__corrupt"),
            F.col("o_orderstatus"),
        ).alias("status")
    ).groupBy("status").agg(F.count(F.lit(1)).alias("n"))


@query(
    "b01_orc_roundtrip_lineitem",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_linestatus
    FROM lineitem WHERE l_returnflag = 'R'
    """,
    doc="B1: ORC sink + source over lineitem (decimal + flag columns; the "
    "orders-based twin is b01_orc_roundtrip, in this module). The "
    "oracle reads the ORIGINAL parquet table, so a green row proves the "
    "ORC write+read preserved every value and type exactly. Same "
    "no-inference discipline as the CSV/JSON roundtrips: projection + "
    "predicate applied before the write, so the roundtrip ships only the "
    "needed columns.",
)
def b01_orc_roundtrip_lineitem(spark, sf_dir):

    path = _rt_path(sf_dir, "lineitem_orc")
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_linestatus")
    l.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@query(
    "b01_xml_roundtrip",
    oracle="""
    SELECT p_partkey, p_name, p_brand,
           CAST(p_retailprice AS DOUBLE) AS p_retailprice
    FROM part
    """,
    doc="B1: XML sink + explicit-schema source (Spark 4 ships the XML "
    "data source in core — the sixth format besides parquet/CSV/JSON/ORC/"
    "text, still the lingua franca of enterprise feeds). Explicit schema "
    "on read: no inference pass, same rule as every other source — one "
    "schema-guessing scan over 100 TB is banned. Doubles survive because "
    "the writer emits round-trippable decimal text.",
)
def b01_xml_roundtrip(spark, sf_dir):
    import os

    from pyspark.sql import types as T

    base = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join("/tmp/dataselector_roundtrip", base, "part_xml")
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_retailprice"
    )
    p.write.mode("overwrite").format("xml").option("rowTag", "part").save(path)
    schema = T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .format("xml")
        .option("rowTag", "part")
        .load(path)
    )


@query(
    "b21_pandas_udaf_grouped_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           median(l_quantity) AS qty_median,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="B21 (r7): true pandas UDAF — a GROUPED_AGG pandas_udf (exact "
    "median) used inside groupBy().agg() beside a second UDAF row count (Spark "
    "rejects mixing GROUPED_AGG with JVM aggregates in one agg() — "
    "INVALID_PANDAS_UDF_PLACEMENT — pinned here), completing the "
    "Python-function surface (scalar pandas UDF, applyInPandas, UDTF, "
    "and now UDAF). Arrow ships each group's column "
    "once; the aggregate is one Python call per group, never per row. "
    "Exact median is the honest demo choice because it is genuinely "
    "HARD for partial aggregation — it needs the group's values — which "
    "is exactly when a UDAF is worth a Python boundary; anything "
    "partial-aggregatable (sums, moments) belongs in built-in F.* "
    "(b06_agg_battery), and at 100 TB the approximate twin is "
    "percentile_approx (b06_approx_percentile), which IS map-side "
    "combinable. Quantities are integral doubles and group sizes even/odd "
    "mix, so the .5 interpolated medians are exact in binary and the "
    "DuckDB median() replay hash-matches bit-for-bit.",
)
def b21_pandas_udaf_grouped_agg(spark, sf_dir):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def qty_median(v: pd.Series) -> float:  # Series -> scalar = GROUPED_AGG
        return float(v.median())

    # Spark disallows mixing GROUPED_AGG pandas UDFs with JVM aggregates in
    # one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a second
    # pandas UDAF — a real API constraint worth pinning, not a style choice.
    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        qty_median("l_quantity").alias("qty_median"),
        n_rows("l_quantity").alias("n_rows"),
    )


@query(
    "b01_parquet_merge_schema",
    oracle="""
    SELECT doc_id, lang, NULL AS source, NULL AS n_chars
    FROM documents
    UNION ALL
    SELECT doc_id, NULL AS lang, source, n_chars
    FROM documents
    """,
    doc="B1 (r7): parquet schema evolution on read — two file generations "
    "with different column sets (an old writer emitting (doc_id, lang), a "
    "new one emitting (doc_id, source, n_chars)) read as ONE table via "
    "mergeSchema: the footer-schema union fills absent columns with "
    "nulls, the exact situation a long-lived 100 TB table is always in "
    "after a column is added. mergeSchema costs one extra footer read "
    "per file at planning time (not a data pass) and is OFF by default "
    "for that reason — the entry documents turning it on deliberately, "
    "per read, not globally. Value-checked: the merged readback must "
    "equal the UNION of both generations with null-filled columns.",
)
def b01_parquet_merge_schema(spark, sf_dir):
    import os

    d = load_table(spark, sf_dir, "documents")
    base = f"/tmp/dsspark_mergeschema_{os.path.basename(sf_dir.rstrip('/'))}"
    d.select("doc_id", "lang").write.mode("overwrite").parquet(
        os.path.join(base, "gen=1")
    )
    d.select("doc_id", "source", "n_chars").write.mode("overwrite").parquet(
        os.path.join(base, "gen=2")
    )
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(base)
    )
    return merged.select("doc_id", "lang", "source", "n_chars")


@query(
    "b01_partitioned_write_pruning",
    oracle="""
    SELECT event_id, user_id, event_type,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
    FROM events
    WHERE strftime(date_trunc('day', ts), '%Y-%m-%d')
          BETWEEN '2024-01-10' AND '2024-01-12'
    """,
    doc="B1 (r7): hive-partitioned write + partition-pruned read — events "
    "written partitionBy(day), then a day-range predicate on the readback "
    "must resolve at PLANNING time from directory names (PartitionFilters "
    "in the scan, asserted in tests/test_plans.py) so non-matching "
    "partitions contribute zero files to the scan — the first-order "
    "layout decision for any 100 TB time-series table, and the directory-"
    "level coarse sibling of the row-group zone maps (b22_zone_map_stats) "
    "and z-order clustering that prune WITHIN what partition pruning "
    "lets through. Partition count stays bounded (days, not minutes): "
    "over-partitioning recreates the small-file problem "
    "b22_compaction_readback exists to fix.",
)
def b01_partitioned_write_pruning(spark, sf_dir):
    import os

    e = load_table(spark, sf_dir, "events")
    base = f"/tmp/dsspark_partwrite_{os.path.basename(sf_dir.rstrip('/'))}"
    (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(base)
    )
    back = spark.read.parquet(base)
    # partition-value inference types `day` as DATE — filter on the native
    # type (so pruning sees a typed comparison), string-cast at the edge
    return back.filter(
        F.col("day").between("2024-01-10", "2024-01-12")
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("day").cast("string").alias("day"),
    )


@query(
    "b01_ignore_corrupt_files",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    """,
    doc="B1 (r7): corrupt-input tolerance on the batch read path — a "
    "directory holding the real table plus a truncated-garbage '.parquet' "
    "file (the torn half-written part a crashed writer leaves behind) "
    "reads COMPLETELY with spark.sql.files.ignoreCorruptFiles scoped to "
    "this one read via the DataFrameReader option, not session-wide: "
    "globally swallowing corrupt files is how silent data loss happens, "
    "so the blast radius stays one deliberate scan. Value-checked: the "
    "readback must equal exactly the intact table's content — tolerance "
    "must not drop good rows or invent partial ones from the torn file. "
    "The strict default (read fails loudly) is pinned by the pytest "
    "twin in tests/test_llm_ops.py.",
)
def b01_ignore_corrupt_files(spark, sf_dir):
    import os

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    base = f"/tmp/dsspark_corrupt_{os.path.basename(sf_dir.rstrip('/'))}"
    d.write.mode("overwrite").parquet(base)
    torn = os.path.join(base, "part-99999-torn.parquet")
    with open(torn, "wb") as f:
        f.write(b"PAR1" + b"\x00garbage-not-a-footer" * 8)  # no magic footer
    return (
        spark.read.option("ignoreCorruptFiles", "true")
        .parquet(base)
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "b11_null_semantics",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CASE WHEN value > 80 THEN NULL ELSE value END AS v,
               CASE WHEN value > 60 THEN NULL ELSE value END AS w
        FROM events
    )
    SELECT event_type,
           count(*) AS n_rows,
           count(v) AS n_nonnull,
           count(*) - count(v) AS n_null,
           count(DISTINCT v) AS n_distinct_nonnull,
           CAST(sum(CAST(coalesce(v, 0) AS DECIMAL(12,2)))
                AS DOUBLE) AS sum_coalesced,
           count(*) FILTER (WHERE (v = w) OR (v IS NULL AND w IS NULL))
               AS n_nullsafe_eq,
           count(*) FILTER (WHERE v IS NULL AND w IS NULL)
               AS n_both_null,
           count(*) FILTER (WHERE nullif(v, w) IS NULL) AS n_nullif_null
    FROM v GROUP BY event_type
    """,
    doc="B11 (r7): NULL-semantics parity battery — the cross-engine "
    "minefield pinned value-by-value: count(*) vs count(col) (nulls "
    "excluded), count(DISTINCT col) (null is not a distinct value), "
    "null-safe equality (Spark <=>, spelled (v = w) OR (both NULL) in "
    "the oracle because the lexical table-guard reads IS NOT DISTINCT "
    "FROM's last word as a table name — same truth table), nullif "
    "collapsing "
    "equal pairs AND null inputs, and coalesce-before-sum with the "
    "suite's decimal policy. Nulls are manufactured deterministically "
    "from the data (two different thresholds so the null masks "
    "overlap partially — the case that actually distinguishes <=> from "
    "=). One partial-aggregatable pass; every three-valued-logic "
    "edge here is exactly what a MERGE key join (operators/merge.py "
    "null-safe keys) relies on at scale.",
)
def b11_null_semantics(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    v = F.when(F.col("value") > 80, None).otherwise(F.col("value"))
    w = F.when(F.col("value") > 60, None).otherwise(F.col("value"))
    d = e.select("event_type", v.alias("v"), w.alias("w"))
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_nonnull"),
        (F.count(F.lit(1)) - F.count("v")).alias("n_null"),
        F.countDistinct("v").alias("n_distinct_nonnull"),
        F.sum(dec2(F.coalesce(F.col("v"), F.lit(0))))
        .cast("double")
        .alias("sum_coalesced"),
        F.count(F.when(F.col("v").eqNullSafe(F.col("w")), 1)).alias(
            "n_nullsafe_eq"
        ),
        F.count(
            F.when(F.col("v").isNull() & F.col("w").isNull(), 1)
        ).alias("n_both_null"),
        F.count(F.when(F.nullif(F.col("v"), F.col("w")).isNull(), 1)).alias(
            "n_nullif_null"
        ),
    )


@query(
    "b21_map_in_arrow",
    oracle="""
    SELECT lang,
           count(*) AS docs,
           CAST(sum(length(text)) AS BIGINT) AS chars,
           CAST(sum(length(regexp_replace(text, '[^a-z]', '', 'g')))
                AS BIGINT) AS letters,
           CAST(sum(length(regexp_replace(text, '[^0-9]', '', 'g')))
                AS BIGINT) AS digits,
           CAST(sum(length(regexp_replace(text, '[^ ]', '', 'g')))
                AS BIGINT) AS spaces
    FROM documents GROUP BY lang
    """,
    doc="B21 (r8): mapInArrow — the LAST Python-eval API surface (scalar "
    "pandas UDF, grouped applyInPandas, GROUPED_AGG UDAF, UDTF and "
    "mapInPandas are all covered elsewhere): zero-copy RecordBatch "
    "in/out, no pandas materialization at all — the per-row work is "
    "pyarrow.compute kernels (utf8_length, count_substring_regex), i.e. "
    "vectorized C++ over Arrow buffers with Python only orchestrating "
    "batches. The byte-class profile it computes (letters/digits/spaces "
    "per doc) is the kind of cheap corpus QC pass that earns the Arrow "
    "path: regex-count over every byte of a 100 TB corpus, where pandas "
    "conversion overhead would double the Python-stage cost. The JVM side "
    "then map-side-combines the per-doc counts into per-language totals, "
    "so the shuffle after the Python stage moves |langs| rows, not "
    "|docs|. All outputs exact int64 — the oracle (RE2 regexp_replace "
    "strip + length, BIGINT casts against DuckDB's HUGEINT sum widening) "
    "hash-checks the Arrow boundary bit for bit. Closure is fully "
    "self-contained (imports inside), so Spark's Python workers never "
    "import this package.",
)
def b21_map_in_arrow(spark, sf_dir):
    def profile(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            text = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("lang"),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.count_substring_regex(text, "[a-z]"), pa.int64()),
                    pc.cast(pc.count_substring_regex(text, "[0-9]"), pa.int64()),
                    pc.cast(pc.count_substring_regex(text, " "), pa.int64()),
                ],
                names=["doc_id", "lang", "chars", "letters", "digits", "spaces"],
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    per_doc = d.mapInArrow(
        profile,
        "doc_id long, lang string, chars long, letters long, "
        "digits long, spaces long",
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("chars").alias("chars"),
        F.sum("letters").alias("letters"),
        F.sum("digits").alias("digits"),
        F.sum("spaces").alias("spaces"),
    )


@query(
    "b11_variant_extract",
    oracle="""
    SELECT event_type AS tag,
           count(*) AS n,
           CAST(sum(event_id % 97) AS BIGINT) AS ord_sum,
           CAST(sum(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged
    FROM events GROUP BY event_type
    """,
    doc="B11/B1 (r9): semi-structured processing through Spark 4's VARIANT "
    "type — the open-format answer to 'JSON columns without a schema "
    "migration'. The query BUILDS a JSON document per event in-query "
    "(integer-only fields, so serialization is engine-exact), parses it "
    "with parse_json into a VariantType column (binary variant encoding, "
    "not a string), extracts typed values back out with variant_get "
    "(top-level, nested '$.d.ord' path, and a CONDITIONALLY ABSENT key "
    "probed with try_variant_get, whose missing-path NULL is counted), "
    "and aggregates the extractions. The oracle never touches JSON: it "
    "computes the same aggregates straight from the source columns, so "
    "the hash match proves the build -> parse -> variant-encode -> "
    "path-extract -> cast pipeline is LOSSLESS — a roundtrip proof, not "
    "a parser demo. At 100 TB variant beats string-JSON because the "
    "binary encoding skips re-tokenizing on every access and the parquet "
    "writer can shred frequent paths into typed columns (Spark 4 "
    "variantShredding) that regain column pruning + min/max skipping; "
    "the un-shredded tail keeps schema freedom. UDF-free: parse_json / "
    "variant_get are JVM expressions inside whole-stage codegen.",
)
def b11_variant_extract(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    js = F.concat(
        F.lit('{"e":'),
        F.col("event_id").cast("string"),
        F.lit(',"t":"'),
        F.col("event_type"),
        F.lit('","d":{"ord":'),
        (F.col("event_id") % 97).cast("string"),
        F.lit("}"),
        # key "flag" exists only for every 5th event — exercises
        # missing-path semantics on the extract side
        F.when(F.col("event_id") % 5 == 0, F.lit(',"flag":1')).otherwise(
            F.lit("")
        ),
        F.lit("}"),
    )
    v = e.select(F.parse_json(js).alias("var"))
    ex = v.select(
        F.variant_get("var", "$.t", "string").alias("tag"),
        F.variant_get("var", "$.d.ord", "bigint").alias("ord"),
        F.try_variant_get("var", "$.flag", "bigint").alias("flag"),
    )
    return ex.groupBy("tag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ord").alias("ord_sum"),
        F.count("flag").alias("n_flagged"),
    )


# Python Data Source geometry: fixed, sf-independent (the source IS the
# dataset). Row values are pure functions of the global row id, so the
# DuckDB oracle replays them from range() with the same arithmetic.
_PYDS_PARTS = 8
_PYDS_ROWS = 2048
_PYDS_MULT = 2654435761  # Knuth multiplicative hash constant (public)
_PYDS_MOD = 1000003


@query(
    "b01_python_datasource",
    oracle=f"""
    WITH src AS (
        SELECT gid,
               gid // {_PYDS_ROWS} AS part,
               (gid * {_PYDS_MULT}) % {_PYDS_MOD} AS val,
               's' || CAST(gid % 7 AS VARCHAR) AS tag
        FROM range(0, {_PYDS_PARTS * _PYDS_ROWS}) t(gid)
    )
    SELECT tag, count(*) AS n, CAST(sum(val) AS BIGINT) AS val_sum,
           min(gid) AS gid_min, max(gid) AS gid_max
    FROM src GROUP BY tag
    """,
    doc="B1 (r9): custom connector through Spark 4's Python Data Source "
    "API (pyspark.sql.datasource) — the modern way to expose a bespoke "
    "system to Spark without a JVM connector: DataSource.schema() "
    "declares the types, reader().partitions() declares the SPLITS (8 "
    "InputPartitions here, so the scan parallelizes exactly like a "
    "multi-file parquet read — .rdd.getNumPartitions() == 8, asserted "
    "in tests), and read(partition) yields that split's rows only. "
    "Rows are pure integer functions of the global row id (Knuth "
    "multiplicative hash mod a prime), so the DuckDB oracle replays the "
    "whole dataset from range() — the hash match proves every "
    "partition produced exactly its slice, no dupes, no gaps. The "
    "source is sf-independent by design (it IS the dataset; nothing to "
    "load). Classes are defined inside the entry so cloudpickle ships "
    "them by value to Python workers (the vanilla-session rule every "
    "UDF in this repo follows). At 100 TB this is the template for "
    "reading internal services/formats Spark lacks: splits map to the "
    "backend's natural shards, reads stream per-partition (no driver "
    "materialization), and Spark treats the result like any other "
    "scan — note the honest limits: a Python source pays the "
    "Python->Arrow boundary per batch and gets no filter/column "
    "pushdown unless the reader implements pushFilters (V2 interface), "
    "so format-native sources stay preferable where they exist.",
)
def b01_python_datasource(spark, sf_dir):
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    n_parts, rows_per, mult, mod = (
        _PYDS_PARTS,
        _PYDS_ROWS,
        _PYDS_MULT,
        _PYDS_MOD,
    )

    class SynthReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(n_parts)]

        def read(self, partition):
            p = partition.value
            for i in range(rows_per):
                gid = p * rows_per + i
                yield (gid, p, (gid * mult) % mod, f"s{gid % 7}")

    class SynthSource(DataSource):
        @classmethod
        def name(cls):
            return "dsspark_synth_rows"

        def schema(self):
            return "gid bigint, part int, val bigint, tag string"

        def reader(self, schema):
            return SynthReader()

    spark.dataSource.register(SynthSource)
    src = spark.read.format("dsspark_synth_rows").load()
    return src.groupBy("tag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("val").alias("val_sum"),
        F.min("gid").alias("gid_min"),
        F.max("gid").alias("gid_max"),
    )


@query(
    "b21_polymorphic_udtf",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    expanded AS (
        SELECT doc_id, lang, n_tokens,
               unnest(range(0, (n_tokens + 63) // 64)) AS i
        FROM d
    )
    SELECT doc_id, lang, n_tokens,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(least(64, n_tokens - i * 64) AS BIGINT) AS chunk_tokens
    FROM expanded
    """,
    doc="B21 (r9): POLYMORPHIC Python UDTF with a TABLE() argument — the "
    "Spark 4 UDTF facet b21_python_udtf's fixed-schema generator does "
    "not cover: the static analyze() hook receives the actual input "
    "relation's type at PLAN time and computes the output schema from it "
    "(passthrough of whatever columns the caller selected + two appended "
    "chunk columns), so one function serves any projection without "
    "hardcoding a row shape — Spark's answer to a table-valued macro. "
    "The body is a 64-token chunk-span expander (each doc row yields one "
    "row per chunk with its exact token count — the planning half of "
    "b15_chunk_documents, as a relational operator); the DuckDB oracle "
    "replays it with generate_series, so the hash match value-checks "
    "every span boundary including the short tail chunk. Invoked through "
    "SQL `FROM f(TABLE(v))` — the input relation stays distributed "
    "(no PARTITION BY clause means Spark is free to keep the existing "
    "partitioning; eval is per-row, so no cross-row state constrains "
    "it), and the UDTF runs Arrow-batched in the Python workers. At "
    "100 TB the same function chunks any projection of any corpus "
    "table unchanged — schema agility is the point; the cost model is "
    "the usual Python-boundary one (per-batch Arrow transfer), so "
    "pure-SQL twins stay preferable where the logic fits SQL.",
)
def b21_polymorphic_udtf(spark, sf_dir):
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StructType

    class ChunkSpans:
        @staticmethod
        def analyze(t):
            from pyspark.sql.udtf import AnalyzeResult

            schema = StructType()
            for f in t.dataType.fields:
                schema = schema.add(f.name, f.dataType)
            schema = schema.add("chunk_idx", LongType()).add(
                "chunk_tokens", LongType()
            )
            return AnalyzeResult(schema=schema)

        def eval(self, row):
            total, width = int(row.n_tokens), 64
            for i in range((total + width - 1) // width):
                yield (*row, i, min(width, total - i * width))

    spark.udtf.register("dsspark_chunk_spans", udtf(ChunkSpans))
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    d.createOrReplaceTempView("udtf_docs")
    return spark.sql(
        "SELECT doc_id, lang, n_tokens, chunk_idx, chunk_tokens "
        "FROM dsspark_chunk_spans(TABLE(udtf_docs))"
    )


@query(
    "b21_udtf_partitioned",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN value > lag(value) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                    THEN 0 ELSE 1 END AS brk
        FROM events
    ),
    r AS (
        SELECT user_id,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS run_id
        FROM o
    ),
    runlen AS (
        SELECT user_id, run_id, count(*) AS len FROM r GROUP BY 1, 2
    )
    SELECT user_id, CAST(sum(len) AS BIGINT) AS n_events,
           CAST(max(len) AS BIGINT) AS longest_streak
    FROM runlen GROUP BY user_id
    """,
    doc="B21 (r9): Python UDTF over a PARTITIONED + ORDERED table argument "
    "— the stateful facet b21_polymorphic_udtf's per-row expansion does "
    "not cover: `FROM f(TABLE(events) PARTITION BY user_id ORDER BY ts, "
    "event_id)` guarantees each UDTF instance sees exactly one user's "
    "rows in event order, eval() threads running state across rows "
    "(current/best strictly-increasing value streak), and terminate() "
    "emits once per partition at end-of-group — Spark's generalization "
    "of a custom ordered aggregate, without a window-function encoding. "
    "The oracle IS that encoding (gaps-and-islands: break flags -> "
    "running run_id -> max run length), so the hash match proves the "
    "imperative per-partition scan and the relational form agree row "
    "for row — same duality the suite pins for sessionize. ORDER BY "
    "carries a unique tiebreak (event_id), making the scan order and "
    "therefore the streak deterministic under any physical partitioning."
    " At 100 TB: PARTITION BY becomes one hash shuffle + per-partition "
    "sort (exactly a window's cost); state is O(1) per instance; the "
    "win over a window shows when per-group logic stops being "
    "expressible as frames (multi-variable state machines, early "
    "exits), the loss is the Python boundary — both twins exist here "
    "so the tradeoff is measurable.",
)
def b21_udtf_partitioned(spark, sf_dir):
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n_events bigint, longest_streak bigint")
    class Streak:
        def __init__(self):
            self.user = None
            self.n = 0
            self.cur = 0
            self.best = 0
            self.prev = None

        def eval(self, row):
            self.user = row.user_id
            self.n += 1
            if (
                self.prev is not None
                and row.value is not None
                and row.value > self.prev
            ):
                self.cur += 1
            else:
                self.cur = 1
            self.best = max(self.best, self.cur)
            self.prev = row.value

        def terminate(self):
            if self.user is not None:
                yield (self.user, self.n, self.best)

    spark.udtf.register("dsspark_streak", Streak)
    load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    ).createOrReplaceTempView("udtf_events")
    return spark.sql(
        "SELECT * FROM dsspark_streak(TABLE(udtf_events) "
        "PARTITION BY user_id ORDER BY (ts, event_id))"
    )


@query(
    "b11_collated_group",
    oracle="""
    WITH src AS (
        SELECT CASE WHEN event_id % 3 = 0 THEN upper(event_type)
                    WHEN event_id % 3 = 1 THEN lower(event_type)
                    ELSE event_type END AS k_raw,
               event_id
        FROM events
    )
    SELECT min(k_raw) AS k_min, count(*) AS n,
           count(DISTINCT k_raw) AS n_forms,
           CAST(sum(event_id % 1000) AS BIGINT) AS ord_sum
    FROM src
    GROUP BY lower(k_raw)
    """,
    doc="B11 (r9): case-insensitive GROUP BY through Spark 4's string "
    "COLLATION support (UTF8_LCASE) — the type-system answer to 'group "
    "ignoring case' that until 4.0 meant scattering lower() around "
    "every key expression. The query perturbs event_type's case "
    "in-query (upper/lower/as-is keyed on event_id mod 3 — ASCII-only "
    "values, so both engines' case folds agree byte for byte), then "
    "groups on `k_raw COLLATE UTF8_LCASE`; the oracle groups the same "
    "rows by lower(k_raw). Matching group counts, member counts, "
    "distinct-form counts, and value sums prove collated grouping is "
    "exactly lower()-normalization here. Aggregates deliberately read "
    "the NON-collated projection (min under binary order, distinct on "
    "raw bytes) because a collated min may return ANY case variant of "
    "the group's minimum — a real nondeterminism trap this entry "
    "documents by construction. At 100 TB the win is systemic, not "
    "per-query: the collation lives in the column TYPE, so every "
    "group/join/distinct against the key is consistently "
    "case-insensitive with the collation key computed once at shuffle "
    "time, instead of N hand-written lower() wrappers (each a chance "
    "to miss one) materializing a second copy of the key bytes.",
)
def b11_collated_group(spark, sf_dir):
    load_table(spark, sf_dir, "events").createOrReplaceTempView("cl_events")
    return spark.sql("""
        WITH src AS (
            SELECT CASE WHEN event_id % 3 = 0 THEN upper(event_type)
                        WHEN event_id % 3 = 1 THEN lower(event_type)
                        ELSE event_type END AS k_raw,
                   event_id
            FROM cl_events
        )
        SELECT min(k_raw) AS k_min, count(*) AS n,
               count(DISTINCT k_raw) AS n_forms,
               sum(event_id % 1000) AS ord_sum
        FROM src
        GROUP BY k_raw COLLATE UTF8_LCASE
    """)


@query(
    "b11_parameterized_sql",
    oracle="""
    SELECT o_orderpriority AS priority, count(*) AS n,
           CAST(sum(CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_big
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01'
      AND o_orderstatus IN ('O', 'F')
    GROUP BY o_orderpriority
    """,
    doc="B11 (r9): PARAMETERIZED spark.sql — typed named parameter markers "
    "(:minPrice double, :minDate date, :statuses array<string> consumed "
    "via array_contains) bound through the args= dict, plus GROUP BY ALL "
    "(Spark 4 sugar inferring the grouping keys from the select list). "
    "Parameter binding happens at PARSE time as typed literals — the "
    "injection-safe templating path for user-supplied filter values "
    "(string interpolation into SQL is the alternative, and the bug "
    "class this API exists to kill); after binding, Catalyst "
    "constant-folds them like any literal, so the date predicate still "
    "reaches the parquet scan as a pushed filter. The oracle inlines "
    "the same literals, so the hash match proves binding is exactly "
    "literal substitution. Deliberately NOT in the bench headline sets: "
    "the bound plan is a plain filtered aggregate, a shape q1/q6 "
    "already time — there is no parameter-specific runtime to measure.",
)
def b11_parameterized_sql(spark, sf_dir):
    import datetime

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("prm_orders")
    return spark.sql(
        """
        SELECT o_orderpriority AS priority, count(*) AS n,
               sum(CASE WHEN o_totalprice > :minPrice THEN 1 ELSE 0 END)
                   AS n_big
        FROM prm_orders
        WHERE o_orderdate >= :minDate
          AND array_contains(:statuses, o_orderstatus)
        GROUP BY ALL
        """,
        args={
            "minPrice": 150000.0,
            "minDate": datetime.date(1995, 1, 1),
            "statuses": ["O", "F"],
        },
    )


@query(
    "b01_parquet_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem WHERE l_returnflag = 'R'
    """,
    doc="B1: parquet sink partitioned by l_returnflag, read back with a "
    "partition-pruning filter — only the R directory is scanned (the "
    "file-layout analogue of the reference's per-compound catalog).",
)
def b01_parquet_roundtrip(spark, sf_dir):
    path = _rt_path(sf_dir, "lineitem_parquet")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"
    )
    l.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    return back.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        F.col("l_returnflag").cast("string").alias("l_returnflag"),
    )


@query(
    "b01_csv_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    """,
    doc="B1: CSV sink + explicit-schema source. Doubles survive because the "
    "writer emits shortest-round-trip decimal text; the reader never "
    "infers (inference is banned at scale — one pass over 100 TB just to "
    "guess types).",
)
def b01_csv_roundtrip(spark, sf_dir):
    path = _rt_path(sf_dir, "orders_csv")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    o.write.mode("overwrite").option("header", "true").csv(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    return spark.read.schema(schema).option("header", "true").csv(path)


@query(
    "b01_json_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    doc="B1: line-delimited JSON sink + explicit-schema source, timestamps "
    "included (ISO-8601 at UTC both ways; ms precision preserved).",
)
def b01_json_roundtrip(spark, sf_dir):
    path = _rt_path(sf_dir, "orders_json")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    o.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice").write.mode(
        "overwrite"
    ).json(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    return spark.read.schema(schema).json(path)


@query(
    "b21_pandas_udf_scalar",
    oracle="""
    SELECT event_id,
           upper(substr(event_type, 1, 3)) AS type_tag,
           value * 2.0 + 1.0 AS v_affine
    FROM events
    """,
    doc="B21: vectorized scalar pandas UDF (Arrow-batched, one Python call "
    "per ~10k rows — never row-at-a-time). Semantics chosen to be exactly "
    "SQL-expressible so the oracle hash-checks the Arrow boundary itself.",
)
def b21_pandas_udf_scalar(spark, sf_dir):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def type_tag(s):
        return s.str.slice(0, 3).str.upper()

    @pandas_udf("double")
    def affine(v):
        return v * 2.0 + 1.0

    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        type_tag("event_type").alias("type_tag"),
        affine("value").alias("v_affine"),
    )


@query(
    "b21_grouped_applyinpandas",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) * 10000 AS BIGINT) AS sum_pq_e4,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_qty_e2,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="B21: grouped applyInPandas UDAF. Python sums in integer-scaled "
    "exact arithmetic (2-dp fixed point -> int64 via round-half-even at "
    "1e-2), so the grouped result hash-matches the DECIMAL oracle bit for "
    "bit. Shuffle is the same single hash-partition a built-in agg pays; "
    "the Python stage processes each group as one Arrow batch.",
)
def b21_grouped_applyinpandas(spark, sf_dir):
    def agg_group(pdf):
        import pandas as pd

        p = (pdf["l_extendedprice"] * 100).round().astype("int64")
        q = (pdf["l_quantity"] * 100).round().astype("int64")
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "sum_pq_e4": [int((p * q).sum())],
                "sum_qty_e2": [int(q.sum())],
                "n": [len(pdf)],
            }
        )

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return l.groupBy("l_returnflag").applyInPandas(
        agg_group,
        schema="l_returnflag string, sum_pq_e4 long, sum_qty_e2 long, n long",
    )


@query(
    "b21_python_udtf",
    oracle="""
    SELECT o_orderkey, part_idx + 1 AS part_no, part
    FROM (
        SELECT o_orderkey,
               generate_subscripts(string_split(o_orderpriority, '-'), 1) - 1 AS part_idx,
               unnest(string_split(o_orderpriority, '-')) AS part
        FROM orders
    )
    """,
    doc="B21: table-function surface — one row in, N rows out — expressed as "
    "posexplode over a split (JVM-side generator; a Python UDTF would pay "
    "serialization for identical semantics, so the generator form IS the "
    "idiomatic Spark UDTF).",
)
def b21_python_udtf(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.posexplode(F.split("o_orderpriority", "-")).alias("part_idx", "part"),
    ).select("o_orderkey", (F.col("part_idx") + 1).alias("part_no"), "part")


@query(
    "b01_orc_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="B1: ORC sink + explicit-schema source (ORC ships in Spark core — "
    "the second columnar format besides Parquet; same pushdown/pruning "
    "machinery). Timestamps survive at µs precision both ways.",
)
def b01_orc_roundtrip(spark, sf_dir):
    path = _rt_path(sf_dir, "orders_orc")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    o.select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate").write.mode(
        "overwrite"
    ).orc(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
        ]
    )
    return spark.read.schema(schema).orc(path)


@query(
    "b01_text_roundtrip",
    oracle="SELECT text AS value FROM documents",
    doc="B1: whole-line text sink + source (the raw-corpus format LLM "
    "pipelines start from). documents.text is single-line ASCII "
    "(TESTDATA), so line-per-row round-trips exactly.",
)
def b01_text_roundtrip(spark, sf_dir):
    path = _rt_path(sf_dir, "documents_text")
    d = load_table(spark, sf_dir, "documents").select("text")
    d.write.mode("overwrite").text(path)
    return spark.read.text(path)
