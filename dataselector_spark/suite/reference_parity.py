"""Reference-parity queries (SURVEY.md §2 Part A) on the `events` table.

The reference's data plane — derived timestamp columns (index.js:400-402),
conjunctive range filters (index.js:413-416), extent aggregation
(index.js:277-317), composite keys (index.js:726-735), the selection-set
algebra (index.js:510-534), inverted-index pivots (index.js:797-813) and the
sorted grouped export (index.js:818-836) — restated over the driver's
`events` table (ts ↔ collection date, event_type ↔ compound, value ↔
measurement, user_id ↔ flask_number salt).

Every spark-side column is aliased identically to the oracle SQL; the
driver's compare sorts columns by name before hashing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.cleaning import clamp, trunc2
from ..functions.keys import composite_key, minute_key
from ..operators import selection as sel_ops
from ..operators.extents import extents, snapped_extents
from .base import query

# DuckDB spelling of the minute key (functions/keys.py MINUTE_FMT).
SQL_MINUTE_KEY = "strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M')"


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


@query(
    "a04_derived_timestamp",
    oracle="""
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           ts - INTERVAL 2 HOUR AS ts_shifted
    FROM events
    """,
    doc="A4: epoch<->timestamp derivation with a UTC offset (index.js:400-402), non-destructive.",
)
def a04_derived_timestamp(spark, sf_dir):
    return _events(spark, sf_dir).select(
        "event_id",
        F.unix_timestamp("ts").alias("epoch_s"),
        (F.col("ts") - F.expr("INTERVAL 2 HOURS")).alias("ts_shifted"),
    )


@query(
    "a05_range_filter",
    oracle="""
    SELECT event_id, ts, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
      AND value BETWEEN 25.0 AND 175.0
    """,
    doc="A5: conjunctive x/y range predicate (index.js:413-416); pushed to the parquet scan.",
)
def a05_range_filter(spark, sf_dir):
    e = _events(spark, sf_dir)
    return e.filter(
        F.col("ts").between("2024-01-05 00:00:00", "2024-01-19 23:59:59.999999")
        & F.col("value").between(25.0, 175.0)
    ).select("event_id", "ts", "event_type", "value")


@query(
    "a07_extents",
    oracle="""
    SELECT min(ts) AS ts_min, max(ts) AS ts_max,
           min(value) AS value_min, max(value) AS value_max
    FROM events
    """,
    doc="A7: data-driven axis extents (index.js:281-285, 299-305).",
)
def a07_extents(spark, sf_dir):
    return extents(_events(spark, sf_dir), "ts", "value")


@query(
    "a08_round_to_step",
    oracle="""
    SELECT CAST(floor(min(value) / 5.0) * 5.0 AS DOUBLE) AS value_min,
           CAST(ceil(max(value) / 5.0) * 5.0 AS DOUBLE) AS value_max
    FROM events
    """,
    doc="A8: snap numeric domain outward to a step multiple (index.js:301-305).",
)
def a08_round_to_step(spark, sf_dir):
    return snapped_extents(_events(spark, sf_dir), "value", 5.0)


@query(
    "a09_clamp",
    oracle="""
    SELECT event_id, greatest(25.0, least(175.0, value)) AS value_clamped
    FROM events
    """,
    doc="A9: clamp mapped values to a range (index.js:310).",
)
def a09_clamp(spark, sf_dir):
    return _events(spark, sf_dir).select(
        "event_id", clamp("value", 25.0, 175.0).alias("value_clamped")
    )


@query(
    "a15_composite_key",
    oracle=f"""
    SELECT event_id,
           {SQL_MINUTE_KEY} || ' ' || CAST(user_id AS VARCHAR) AS date_key
    FROM events
    """,
    doc="A15: minute-truncated ISO key ⊕ salt column (formatISODate, index.js:726-735).",
)
def a15_composite_key(spark, sf_dir):
    return _events(spark, sf_dir).select(
        "event_id", composite_key("ts", "user_id").alias("date_key")
    )


def _sel_pair(spark, sf_dir):
    """Two deterministic selection sets: the stored set and a boxed batch."""
    e = _events(spark, sf_dir)
    base = e.select(
        minute_key("ts").alias(sel_ops.KEY), F.col("event_type").alias(sel_ops.COMPOUND), "value", "user_id"
    )
    stored = base.filter(F.col("value") > 170).select(sel_ops.KEY, sel_ops.COMPOUND).distinct()
    boxed = (
        base.filter((F.col("value") > 150) & (F.col("user_id") < 8))
        .select(sel_ops.KEY, sel_ops.COMPOUND)
        .distinct()
    )
    return stored, boxed


_SQL_SEL_PAIR = f"""
    WITH stored AS (
        SELECT DISTINCT {SQL_MINUTE_KEY} AS date_key, event_type AS compound
        FROM events WHERE value > 170
    ),
    boxed AS (
        SELECT DISTINCT {SQL_MINUTE_KEY} AS date_key, event_type AS compound
        FROM events WHERE value > 150 AND user_id < 8
    )
"""


@query(
    "a13_selection_toggle",
    oracle=_SQL_SEL_PAIR
    + """
    (SELECT * FROM stored EXCEPT SELECT * FROM boxed)
    UNION
    (SELECT * FROM boxed EXCEPT SELECT * FROM stored)
    """,
    doc="A13/A14: batch remove-on-dupe toggle = symmetric difference (index.js:516-531, 252-253).",
)
def a13_selection_toggle(spark, sf_dir):
    stored, boxed = _sel_pair(spark, sf_dir)
    return sel_ops.select_toggle(stored, boxed)


@query(
    "a13_selection_insert",
    oracle=_SQL_SEL_PAIR + "SELECT * FROM stored UNION SELECT * FROM boxed",
    doc="A13 insert path: union with set semantics (index.js:528-531).",
)
def a13_selection_insert(spark, sf_dir):
    stored, boxed = _sel_pair(spark, sf_dir)
    return sel_ops.select_insert(stored, boxed)


@query(
    "a16_semi_join_apply",
    oracle=f"""
    WITH stored AS (
        SELECT DISTINCT {SQL_MINUTE_KEY} AS date_key, event_type AS compound
        FROM events WHERE value > 170
    )
    SELECT event_id, ts, value FROM events
    WHERE {SQL_MINUTE_KEY} IN (SELECT date_key FROM stored)
    """,
    doc="A16: re-apply stored selections on render — broadcast left-semi join (index.js:460-465).",
)
def a16_semi_join_apply(spark, sf_dir):
    stored, _ = _sel_pair(spark, sf_dir)
    e = _events(spark, sf_dir).withColumn("date_key", minute_key("ts"))
    return sel_ops.apply_selections(e, stored, "date_key").select("event_id", "ts", "value")


@query(
    "a17_anti_join_retract",
    oracle=f"""
    WITH stored AS (
        SELECT DISTINCT {SQL_MINUTE_KEY} AS date_key, event_type AS compound
        FROM events WHERE value > 170
    )
    SELECT event_id, ts, value FROM events
    WHERE {SQL_MINUTE_KEY} NOT IN (SELECT date_key FROM stored)
    """,
    doc="A17: retraction as anti-join (cleanPlot, index.js:843-860).",
)
def a17_anti_join_retract(spark, sf_dir):
    stored, _ = _sel_pair(spark, sf_dir)
    e = _events(spark, sf_dir).withColumn("date_key", minute_key("ts"))
    return sel_ops.anti_selections(e, stored, "date_key").select("event_id", "ts", "value")


@query(
    "a17_retract_compound",
    oracle=_SQL_SEL_PAIR + "SELECT * FROM stored WHERE compound <> 'error'",
    doc="A17 variant: drop one compound from the selection relation (index.js:843-860).",
)
def a17_retract_compound(spark, sf_dir):
    stored, _ = _sel_pair(spark, sf_dir)
    return sel_ops.retract_compound(stored, "error")


@query(
    "a18_inverted_index",
    oracle=_SQL_SEL_PAIR
    + """
    SELECT date_key,
           array_to_string(list_sort(list(DISTINCT compound)), ',') AS compounds_csv
    FROM stored GROUP BY date_key
    """,
    doc="A18: date -> sorted compound set, the inverted index (commitSelections, index.js:797-813).",
)
def a18_inverted_index(spark, sf_dir):
    stored, _ = _sel_pair(spark, sf_dir)
    return sel_ops.compounds_by_date(stored).select(
        "date_key", F.array_join("compounds", ",").alias("compounds_csv")
    )


@query(
    "a18_forward_index",
    oracle=_SQL_SEL_PAIR
    + """
    SELECT compound,
           array_to_string(list_sort(list(DISTINCT date_key)), ',') AS date_keys_csv
    FROM stored GROUP BY compound
    """,
    doc="A18 transpose: compound -> sorted date keys (selectionsByCompound, index.js:49).",
)
def a18_forward_index(spark, sf_dir):
    stored, _ = _sel_pair(spark, sf_dir)
    return sel_ops.dates_by_compound(stored).select(
        "compound", F.array_join("date_keys", ",").alias("date_keys_csv")
    )


@query(
    "a19_group_count",
    oracle=_SQL_SEL_PAIR
    + "SELECT date_key, count(DISTINCT compound) AS n_compounds FROM stored GROUP BY date_key",
    doc='A19: per-date flagged-compound count, the "date (n)" readout (index.js:746-755).',
)
def a19_group_count(spark, sf_dir):
    stored, _ = _sel_pair(spark, sf_dir)
    return sel_ops.flagged_counts(stored)


@query(
    "a20_distinct_sort",
    oracle="SELECT DISTINCT event_type FROM events ORDER BY event_type",
    doc="A20: ordered unique keys (index.js:743-744).",
)
def a20_distinct_sort(spark, sf_dir):
    return _events(spark, sf_dir).select("event_type").distinct().orderBy("event_type")


@query(
    "a21_export",
    oracle=_SQL_SEL_PAIR
    + """
    SELECT date_key,
           array_to_string(list_sort(list(DISTINCT compound)), ',') AS compounds_csv
    FROM stored GROUP BY date_key ORDER BY date_key
    """,
    doc="A21: sorted grouped export payload (getJSONfile, index.js:818-836).",
)
def a21_export(spark, sf_dir):
    stored, _ = _sel_pair(spark, sf_dir)
    return sel_ops.export_selections(stored).select(
        "date_key", F.array_join("compounds", ",").alias("compounds_csv")
    )


@query(
    "a22_having",
    oracle=_SQL_SEL_PAIR
    + """
    SELECT date_key, count(DISTINCT compound) AS n_compounds
    FROM stored GROUP BY date_key HAVING count(DISTINCT compound) >= 2
    """,
    doc="A22: non-empty/threshold group filter (index.js:770-774, 524-526).",
)
def a22_having(spark, sf_dir):
    stored, _ = _sel_pair(spark, sf_dir)
    return sel_ops.flagged_counts(stored).filter(F.col("n_compounds") >= 2)


@query(
    "a26_format_truncate",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M') AS ts_text,
           floor(value * 100) / 100 AS value_2dp
    FROM events
    """,
    doc="A26: tooltip formatting — floor-based 2-dp truncation (config.js:67), ISO minute text.",
)
def a26_format_truncate(spark, sf_dir):
    return _events(spark, sf_dir).select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm").alias("ts_text"),
        trunc2("value").alias("value_2dp"),
    )


@query(
    "a27_regex_replace",
    oracle="""
    SELECT event_id, regexp_replace(props, '[{}"]', '', 'g') AS props_clean
    FROM events
    """,
    doc="A27: global regex substitution (regexReplace, index.js:895).",
)
def a27_regex_replace(spark, sf_dir):
    return _events(spark, sf_dir).select(
        "event_id", F.regexp_replace("props", '[{}"]', "").alias("props_clean")
    )


@query(
    "flagship_minute_flag_counts",
    oracle=f"""
    SELECT {SQL_MINUTE_KEY} AS date_key,
           count(DISTINCT event_type) AS n_types,
           count(*) AS n_events
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-25 00:00:00'
      AND value BETWEEN 10.0 AND 190.0
    GROUP BY 1 ORDER BY date_key
    """,
    doc="M1 flagship: the reference's whole read path as one query — window filter, "
    "minute keying, per-group flag counts, sorted output (SURVEY.md §7).",
)
def flagship_minute_flag_counts(spark, sf_dir):
    e = _events(spark, sf_dir)
    return (
        e.filter(
            F.col("ts").between("2024-01-05 00:00:00", "2024-01-24 23:59:59.999999")
            & F.col("value").between(10.0, 190.0)
        )
        .groupBy(minute_key("ts").alias("date_key"))
        .agg(
            F.countDistinct("event_type").alias("n_types"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("date_key")
    )


@query(
    "a11_affine_scale",
    oracle="""
    SELECT event_id,
           (value - 0.0) / 500.0 * 640.0 AS px,
           ((value - 0.0) / 500.0 * 640.0) / 640.0 * 500.0 AS back
    FROM events
    """,
    doc="A11/A12: the d3 linear scale and its inverse as arithmetic "
    "projections (index.js:308-310, 225-228) — fixed domain/range literals "
    "so both engines run the identical IEEE expression; `back` round-trips "
    "through the inverse.",
)
def a11_affine_scale(spark, sf_dir):
    from ..operators.extents import affine_invert, affine_map

    e = _events(spark, sf_dir)
    px = affine_map(F.col("value"), 0.0, 500.0, 0.0, 640.0)
    return e.select(
        "event_id",
        px.alias("px"),
        affine_invert(px, 0.0, 500.0, 0.0, 640.0).alias("back"),
    )


@query(
    "a06_box_select_pixel",
    oracle="""
    SELECT event_id FROM events
    WHERE (epoch(ts) - epoch(TIMESTAMP '2024-01-01 00:00:00'))
          / (epoch(TIMESTAMP '2024-02-01 00:00:00') - epoch(TIMESTAMP '2024-01-01 00:00:00'))
          * 640.0 BETWEEN 100.0 AND 300.0
      AND (value - 0.0) / 500.0 * 480.0 BETWEEN 50.0 AND 250.0
    """,
    doc="A6/A14: the drag-rectangle hit test (index.js:245-250) in pixel "
    "space — both axes affine-mapped to the rendered coordinate system, "
    "then the same conjunctive between() as A5. Equivalent to inverse-"
    "transforming the box corners into data space (A12); expressed "
    "forward so the oracle shares the exact arithmetic.",
)
def a06_box_select_pixel(spark, sf_dir):
    from ..operators.extents import affine_map

    e = _events(spark, sf_dir)
    t0 = F.unix_timestamp(F.lit("2024-01-01 00:00:00").cast("timestamp")).cast("double")
    t1 = F.unix_timestamp(F.lit("2024-02-01 00:00:00").cast("timestamp")).cast("double")
    x = (F.unix_timestamp("ts").cast("double") - t0) / (t1 - t0) * 640.0
    y = affine_map(F.col("value"), 0.0, 500.0, 0.0, 480.0)
    return e.filter(x.between(100.0, 300.0) & y.between(50.0, 250.0)).select("event_id")


@query(
    "a29_cross_join",
    oracle="""
    SELECT n_name, r_name FROM nation CROSS JOIN region
    """,
    doc="A29: the reference's only cross product (zoom-stack init, "
    "index.js:695-705) as an explicit crossJoin — both sides broadcast-sized "
    "dims, so the plan is a nested-loop over local rows, no shuffle.",
)
def a29_cross_join(spark, sf_dir):
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return n.crossJoin(F.broadcast(r)).select("n_name", "r_name")
