"""Streaming queries (SURVEY.md §2 B17-B20).

Each entry ACTUALLY RUNS Structured Streaming — parquet file source →
availableNow trigger → memory sink — and returns the materialized sink, so
the driver's check covers true incremental execution, not a batch stand-in.
The oracles are the batch-equivalent SQL (exact for a single-batch replay:
no rows are late relative to the watermark, which is the defined semantics).
"""

from __future__ import annotations

from ..plans import audit_streaming_query
from ..streaming import (
    run_stream_to_table,
    session_windows,
    sliding_counts,
    start_query,
    stream_dedup,
    stream_events,
    stream_static_enrich,
    tumbling_counts,
    watermarked_tumbling,
)
from .base import query


@query(
    "b17_stream_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS wstart,
           time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE AS wend,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
    doc="B17: tumbling 10-minute event-time windows per type — run as a real "
    "stream (file source → availableNow → memory sink).",
)
def b17_stream_tumbling(spark, sf_dir):
    return run_stream_to_table(tumbling_counts(stream_events(spark, sf_dir)))


@query(
    "b17_stream_sliding",
    oracle="""
    WITH assigned AS (
        SELECT time_bucket(INTERVAL 5 MINUTE, ts) - k * (INTERVAL 5 MINUTE) AS wstart,
               event_type, ts
        FROM events, (SELECT unnest([0, 1]) AS k)
        WHERE ts >= time_bucket(INTERVAL 5 MINUTE, ts) - k * (INTERVAL 5 MINUTE)
          AND ts <  time_bucket(INTERVAL 5 MINUTE, ts) - k * (INTERVAL 5 MINUTE) + INTERVAL 10 MINUTE
    )
    SELECT wstart, wstart + INTERVAL 10 MINUTE AS wend, event_type, count(*) AS n
    FROM assigned GROUP BY 1, 2, 3
    """,
    doc="B17: sliding windows (10 min width / 5 min slide) as a real stream; "
    "oracle replicates Spark's epoch-aligned overlapping-window assignment.",
)
def b17_stream_sliding(spark, sf_dir):
    # every event lands in two windows, so the aggregation itself is the
    # work and one state partition (one core) loses. Sweep at sf0.1 on 4
    # cores (median of 7): 1 -> 1.03 s, 2 -> 0.83 s, 4 -> 0.90 s, 8 -> 1.13 s.
    return run_stream_to_table(
        sliding_counts(stream_events(spark, sf_dir)), state_partitions=2
    )


@query(
    "b18_stream_session",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE OR
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
    doc="B18: per-user session windows (30-min gap) as a real stream — the "
    "streaming cousin of the reference's interactive session; oracle is the "
    "gaps-and-islands batch equivalent.",
)
def b18_stream_session(spark, sf_dir):
    # session merging sorts and merges per user: CPU work that one state
    # partition serializes. Sweep at sf0.1 on 4 cores (median of 7):
    # 1 -> 1.49 s, 2 -> 1.10 s, 4 -> 0.99 s, 8 -> 1.18 s.
    return run_stream_to_table(
        session_windows(stream_events(spark, sf_dir)), state_partitions=4
    )


@query(
    "b19_stream_watermark",
    oracle="""
    WITH agg AS (
        SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS wstart,
               time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE AS wend,
               event_type,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2, 3
    )
    SELECT * FROM agg
    WHERE wend <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
    doc="B19: watermarked (1 h) tumbling aggregation in append mode — append "
    "emits only FINALIZED windows (window end ≤ final watermark = max event "
    "time − 1 h); the oracle applies the same horizon. State for closed "
    "windows is evicted. Multi-batch late-drop semantics covered in "
    "tests/test_streaming.py.",
)
def b19_stream_watermark(spark, sf_dir):
    return run_stream_to_table(
        watermarked_tumbling(stream_events(spark, sf_dir)), output_mode="append"
    )


@query(
    "b20_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="B20: stateful streaming dedup with watermark-bounded state "
    "(dropDuplicatesWithinWatermark) — key-only output so the survivor "
    "choice is irrelevant.",
)
def b20_stream_dedup(spark, sf_dir):
    return run_stream_to_table(
        stream_dedup(stream_events(spark, sf_dir)), output_mode="append"
    )


@query(
    "b20_stream_toggle",
    oracle="""
    SELECT event_type AS compound,
           strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS date_key,
           count(*) % 2 = 1 AS selected,
           count(*) AS n_toggles
    FROM events GROUP BY 1, 2
    """,
    doc="B20: the reference's selection toggle (updateClicked, "
    "index.js:510-534) as a custom stateful streaming operator "
    "(applyInPandasWithState). Clicks = events keyed by (event_type, minute); "
    "membership depends only on click parity, so the finite-replay oracle is "
    "exact: selected <=> odd total count. Final state recovered from the "
    "update-mode sink via max_by(batch_seq), not sink row order.",
)
def b20_stream_toggle(spark, sf_dir):
    from pyspark.sql import functions as F

    from ..functions.keys import minute_key
    from ..streaming import run_stream_to_table, stream_events
    from ..streaming.stateful import toggle_stream

    clicks = stream_events(spark, sf_dir).select(
        F.col("event_type").alias("compound"),
        minute_key("ts").alias("date_key"),
    )
    # the Python state function is the work; one state partition runs it
    # on one worker. Sweep at sf0.1 on 4 cores (median of 7): 1 -> 1.96 s,
    # 2 -> 1.72 s, 4 -> 1.65 s, 8 -> 1.98 s.
    sink = run_stream_to_table(
        toggle_stream(clicks), output_mode="update", state_partitions=4
    )
    return sink.groupBy("compound", "date_key").agg(
        F.max_by("selected", "batch_seq").alias("selected"),
        F.sum("n_toggles").alias("n_toggles"),
    )


@query(
    "b20_stream_stream_join",
    oracle="""
    SELECT s.event_id AS signup_id, p.event_id AS purchase_id, s.user_id
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND s.event_type = 'signup' AND p.event_type = 'purchase'
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
    """,
    doc="B20: stream-stream inner join — signups joined to the same user's "
    "purchases within the following hour, BOTH sides live watermarked "
    "streams. The event-time bound + watermarks let Spark evict buffered "
    "join state; single-batch replay makes the batch join the exact oracle.",
)
def b20_stream_stream_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from ..streaming import run_stream_to_table, stream_events, stream_stream_join

    s = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", "2 hours")
    )
    p = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", "2 hours")
    )
    joined = stream_stream_join(
        s, p.withColumnRenamed("p_user", "user_id"), key="user_id", within="1 hour"
    ).select("signup_id", "purchase_id", s["user_id"])
    return run_stream_to_table(joined, output_mode="append")

@query(
    "b17_stream_static_enrich",
    oracle="""
    SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS wstart,
           time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE AS wend,
           c_mktsegment,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2, 3
    """,
    doc="B17 x B2: stream-static enrichment join run as a REAL stream — the "
    "event stream joined per micro-batch to the static customer dimension "
    "(broadcast, map-side: the unbounded side is never shuffled for the "
    "join), then tumbling-windowed per market segment. The production "
    "shape for tagging a firehose with reference data; the static side is "
    "re-read each micro-batch so dim updates flow in without a restart.",
)
def b17_stream_static_enrich(spark, sf_dir):
    from ..catalog import load_table

    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return run_stream_to_table(
        stream_static_enrich(stream_events(spark, sf_dir), dim)
    )


@query(
    "b20_state_store_read",
    oracle="""
    SELECT DISTINCT event_type AS k, CAST(user_id % 4 AS BIGINT) AS user_bucket
    FROM events
    """,
    doc="B20 (r9): the STATE STORE as a queryable table — Spark 4's "
    "statestore batch data source pointed at a streaming checkpoint. The "
    "entry runs a real dropDuplicates stream (file source -> availableNow "
    "-> noop sink, checkpointed), then reads the checkpoint's keyed state "
    "back as a batch DataFrame and returns the flattened dedup keys. The "
    "oracle is the batch DISTINCT over the same derived key, so the hash "
    "match proves the persisted state is EXACTLY the distinct-key set — "
    "state correctness checked from the outside, no sink inspection. "
    "This is the ops capability streaming jobs lack by default: inspect / "
    "audit / debug live state WITHOUT stopping the query (the source "
    "reads committed snapshot files; on a cluster each state partition is "
    "read in parallel, so a 100 TB RocksDB state scans like any other "
    "table, and joinSideValues/snapshotStartBatchId options scope it to "
    "one operator or point in time). The unbounded-state dropDuplicates "
    "here is deliberate — the state IS the payload; the bounded-state "
    "production twin is b20_stream_dedup's dropDuplicatesWithinWatermark. "
    "Checkpoint path is per-session (applicationId) per the scratch-write "
    "rule; within a session the availableNow re-run is a no-op commit and "
    "the state read is identical.",
)
def b20_state_store_read(spark, sf_dir):
    import os

    from pyspark.sql import functions as F

    ev = stream_events(spark, sf_dir).select(
        "event_type", (F.col("user_id") % 4).cast("bigint").alias("user_bucket")
    )
    ckpt = (
        f"/tmp/dsspark_statestore_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}"
    )
    # one state partition: the state is a few dozen keys (see
    # run_stream_to_table for the per-partition cost model)
    q = start_query(
        spark,
        ev.dropDuplicates(["event_type", "user_bucket"])
        .writeStream.outputMode("append")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True),
        1,
    )
    q.awaitTermination()
    audit_streaming_query(q, "b20_state_store_read")
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("k"),
        F.col("key.user_bucket").alias("user_bucket"),
    )


@query(
    "b01_python_stream_source",
    oracle="""
    WITH src AS (
        SELECT gid, (gid * 2654435761) % 1000003 AS val,
               's' || CAST(gid % 7 AS VARCHAR) AS tag
        FROM range(0, 5000) t(gid)
    )
    SELECT tag, count(*) AS n, CAST(sum(val) AS BIGINT) AS val_sum
    FROM src GROUP BY tag
    """,
    doc="B1 x B17 (r9): custom STREAMING connector through the Python Data "
    "Source API — SimpleDataSourceStreamReader, the streaming half of "
    "b01_python_datasource's batch connector. The reader owns the offset "
    "contract: initialOffset() -> {pos: 0}, each read(start) returns one "
    "1250-row micro-batch plus the next offset until the fixed 5000-row "
    "ledger is drained (then an empty batch at a fixed point, which is "
    "how a source says 'caught up'), and readBetweenOffsets(start, end) "
    "replays any committed range EXACTLY — the method Spark calls on "
    "recovery, so determinism there is what makes the source "
    "exactly-once-able. The entry runs the real stream (4 micro-batches "
    "-> complete-mode memory sink) and returns the final aggregate; the "
    "DuckDB oracle recomputes from range() arithmetic, so the hash match "
    "proves no batch was lost, duplicated, or mis-sliced across the "
    "offset boundaries. Rows are the same Knuth-hash functions of gid as "
    "the batch twin. At 100 TB/day this is the template for queues or "
    "ledgers Spark lacks a connector for: offsets map to the backend's "
    "cursor, the simple reader prefetches on the driver (right for "
    "low-volume control streams; the partition-parallel DataSourceStream"
    "Reader variant is the high-volume path), and checkpointed offsets "
    "+ deterministic replay give end-to-end exactly-once into an "
    "idempotent sink (b23_streaming_upsert_sink's contract).",
)
def b01_python_stream_source(spark, sf_dir):
    import uuid

    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    total, batch, mult, mod = 5000, 1250, 2654435761, 1000003

    class LedgerStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"pos": 0}

        def read(self, start):
            pos = start["pos"]
            if pos >= total:
                return iter([]), {"pos": pos}
            end = min(pos + batch, total)
            rows = [
                (g, (g * mult) % mod, f"s{g % 7}") for g in range(pos, end)
            ]
            return iter(rows), {"pos": end}

        def readBetweenOffsets(self, start, end):
            return iter(
                (g, (g * mult) % mod, f"s{g % 7}")
                for g in range(start["pos"], end["pos"])
            )

    class LedgerSource(DataSource):
        @classmethod
        def name(cls):
            return "dsspark_synth_stream"

        def schema(self):
            return "gid bigint, val bigint, tag string"

        def simpleStreamReader(self, schema):
            return LedgerStreamReader()

    spark.dataSource.register(LedgerSource)
    sdf = spark.readStream.format("dsspark_synth_stream").load()
    name = f"pyds_stream_{uuid.uuid4().hex[:12]}"
    # One state partition for a 7-key aggregate: every partition is one
    # state-store load + commit per micro-batch (run_stream_to_table).
    # Sweep at sf0.1 on 4 cores: 1 -> 3.05 s, 8 -> 3.93 s.
    q = start_query(
        spark,
        sdf.groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").alias("val_sum"),
        )
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name),
        1,
    )
    try:
        q.processAllAvailable()
        audit_streaming_query(q, "b01_python_stream_source")
    finally:
        q.stop()
    return spark.table(name)


@query(
    "b20_stream_stream_left_outer",
    oracle="""
    SELECT s.event_id AS signup_id, p.event_id AS purchase_id, s.user_id
    FROM events s LEFT JOIN events p
      ON s.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
    WHERE s.event_type = 'signup'
      AND s.ts <= (SELECT least(
                        max(CASE WHEN event_type = 'signup' THEN ts END),
                        max(CASE WHEN event_type = 'purchase' THEN ts END))
                    FROM events) - INTERVAL 4 HOUR
    """,
    doc="B20: stream-stream LEFT OUTER join — every (eligible) signup, "
    "with its within-the-hour purchase or NULL: the join semantics the "
    "inner variant (b20_stream_stream_join) cannot give, and the one "
    "where WATERMARK MECHANICS decide correctness, because a "
    "null-padded row is emitted only once the watermark proves no "
    "match can still arrive (state eviction IS the outer-join "
    "trigger). The subtlety this entry exists to document: when a "
    "bounded replay ends, left rows whose eviction time "
    "(l_ts + 1h window) has not passed the final watermark "
    "(max event time - 2h delay) are silently NEVER emitted — a naive "
    "batch LEFT JOIN oracle would mismatch on exactly the stream's "
    "trailing 3 hours. The fix is the EVICTION MARGIN: restrict the "
    "left side to signups at least 4 h before the min of the two "
    "sides' event-time maxima — the instant the global min-watermark "
    "actually tracks (one "
    "driver-side scalar read of the static table — the bound a "
    "production job gets from its scheduler), APPLIED AFTER the "
    "watermark node so the global min-watermark still tracks the full "
    "stream (filtering first makes the left watermark trail the "
    "filtered max and the unemitted tail chases the cutoff forever — "
    "measured on the first draft), leaving every retained "
    "left row a full hour clear of the eviction boundary, so the "
    "no-data flush batch (spark.sql.streaming.noDataMicroBatches) "
    "emits ALL null rows deterministically and the plain batch LEFT "
    "JOIN with the same cutoff is the exact oracle — boundary ties "
    "cannot flake the hash because no row sits within an hour of the "
    "boundary. State stays proportional to the 1 h window + 2 h "
    "delay on both sides at any scale, exactly as in the inner "
    "entry.",
)
def b20_stream_stream_left_outer(spark, sf_dir):
    import datetime as dt

    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..streaming import run_stream_to_table, stream_events

    # The global watermark is min(left_wm, right_wm), each = that SIDE's
    # max event time - 2h — so the margin must key off the SMALLER of the
    # two sides' maxima, not the corpus max (at sf0.001 the purchase max
    # trails the corpus max enough to strand 2 null rows — measured).
    ext = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "signup", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            ).alias("m")
        )
        .collect()[0][0]
    )
    cutoff = ext - dt.timedelta(hours=4)
    # withWatermark BEFORE the cutoff filter: the global watermark is the
    # MIN over watermark nodes, each tracking the max event time of rows
    # passing THROUGH it — filtering first would make the left watermark
    # trail the FILTERED max and the unevicted 3h tail chases the cutoff
    # down forever (measured: 2/199 null rows missing on the first draft).
    s = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", "2 hours")
        .filter(F.col("l_ts") <= F.lit(cutoff))
    )
    p = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", "2 hours")
    )
    cond = (
        (s["user_id"] == p["p_user"])
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    joined = s.join(p, cond, "leftOuter").select(
        "signup_id", "purchase_id", s["user_id"]
    )
    # A stream-stream join keeps FOUR state stores per shuffle partition
    # (left/right x keyToNumValues / keyWithIndexToValue), each committed
    # per micro-batch x2 batches (data + the null-emitting flush), so it
    # runs on the default single state partition. Sweep at sf0.1 on 4
    # cores (median of 7): 1 -> 1.83 s, 2 -> 1.82 s, 4 -> 2.16 s,
    # 8 -> 2.92 s, identical rows.
    return run_stream_to_table(joined, output_mode="append")


@query(
    "b01_python_stream_source_parallel",
    oracle="""
    WITH src AS (
        SELECT gid, (gid * 2654435761) % 1000003 AS val,
               's' || CAST(gid % 7 AS VARCHAR) AS tag,
               gid // 500 AS pid
        FROM range(0, 8000) t(gid)
    )
    SELECT tag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(val) AS BIGINT) AS val_sum,
           CAST(count(DISTINCT pid) AS BIGINT) AS n_parts
    FROM src GROUP BY tag
    """,
    doc="B1 x B17 (r10): the PARTITION-PARALLEL streaming connector — the "
    "high-volume sibling b01_python_stream_source's docstring names "
    "(VERDICT r9 #5): DataSourceStreamReader instead of "
    "SimpleDataSourceStreamReader, so rows are produced by EXECUTOR "
    "tasks, not a driver-side prefetch. The reader owns the full DSv2 "
    "offset contract: initialOffset/latestOffset advance a 8000-row "
    "ledger 2000 rows per micro-batch; partitions(start, end) — called "
    "on the DRIVER — slices each batch range into four 500-row "
    "InputPartitions; read(partition) runs ON THE EXECUTORS, one "
    "task per partition. Each row carries pid = gid DIV 500 — the "
    "slice that produced it — and the returned aggregate counts "
    "DISTINCT pids per tag (16 each), so the range()-replay oracle "
    "value-checks that every one of the 4 partitions in every one of "
    "the 4 micro-batches contributed EXACTLY its slice: none lost, "
    "duplicated, or mis-sliced across offset boundaries. (A driver-"
    "side call log cannot observe partitions() here — pyspark runs "
    "the streaming reader in its own Python runner daemon — so task-"
    "level parallelism is pinned in tests/test_modern_api.py instead: "
    "a foreachBatch probe counts DISTINCT executor TaskContext "
    "partition ids per micro-batch.) At 100 TB/day this is the template: offsets map to "
    "the backend's cursor, partitions() fans the range out to the "
    "cluster (Kafka-style per-shard splits), deterministic "
    "partitions(start, end) replay on recovery gives exactly-once "
    "into an idempotent sink. The stream itself runs groupBy(tag, "
    "pid) complete-mode into a memory sink (streaming forbids "
    "COUNT DISTINCT); the returned batch DataFrame folds pids per tag.",
)
def b01_python_stream_source_parallel(spark, sf_dir):
    import uuid

    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    total, batch, slice_rows = 8000, 2000, 500
    mult, mod = 2654435761, 1000003

    class RangePartition(InputPartition):
        def __init__(self, start, end):
            self.start = start
            self.end = end

    class LedgerParallelReader(DataSourceStreamReader):
        def __init__(self):
            self.target = 0

        def initialOffset(self):
            return {"pos": 0}

        def latestOffset(self):
            self.target = min(self.target + batch, total)
            return {"pos": self.target}

        def partitions(self, start, end):
            return [
                RangePartition(s, min(s + slice_rows, end["pos"]))
                for s in range(start["pos"], end["pos"], slice_rows)
            ]

        def read(self, partition):
            for g in range(partition.start, partition.end):
                yield (g, (g * mult) % mod, f"s{g % 7}", g // slice_rows)

        def commit(self, end):
            pass

    class LedgerParallelSource(DataSource):
        @classmethod
        def name(cls):
            return "dsspark_synth_stream_parallel"

        def schema(self):
            return "gid bigint, val bigint, tag string, pid bigint"

        def streamReader(self, schema):
            return LedgerParallelReader()

    spark.dataSource.register(LedgerParallelSource)
    sdf = spark.readStream.format("dsspark_synth_stream_parallel").load()
    name = f"pyds_pstream_{uuid.uuid4().hex[:12]}"
    # One state partition, as in b01_python_stream_source (7x16 keys).
    # Sweep at sf0.1 on 4 cores: 1 -> 3.59 s, 8 -> 5.15 s.
    q = start_query(
        spark,
        sdf.groupBy("tag", "pid")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("val_sum"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name),
        1,
    )
    try:
        q.processAllAvailable()
        audit_streaming_query(q, "b01_python_stream_source_parallel")
    finally:
        q.stop()
    return (
        spark.table(name)
        .groupBy("tag")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("val_sum").cast("bigint").alias("val_sum"),
            F.countDistinct("pid").cast("bigint").alias("n_parts"),
        )
    )


@query(
    "b01_python_stream_sink",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents_sum
    FROM events GROUP BY event_type
    """,
    doc="B1 x B17 (r10): the WRITE-side Python Data Source surface — "
    "DataSourceStreamWriter, completing the connector family "
    "(batch reader r9, simple + partition-parallel stream readers, and "
    "now a streaming SINK with the real two-phase commit protocol): "
    "write(iterator) runs on EXECUTORS, one task per partition, "
    "serializing each partition of the events file-stream to its own "
    "uniquely-named JSONL part file and returning a WriterCommitMessage "
    "naming it; the driver calls commit(messages, batchId) only when "
    "every task succeeded, which atomically (tmp+rename) publishes a "
    "per-batch MANIFEST of exactly the committed files; abort() deletes "
    "the orphans. The entry then reads back ONLY manifest-listed files "
    "and aggregates — the manifest is what turns at-least-once executor "
    "writes (task retries leave stray part files) into exactly-once "
    "reads, the same contract as Spark's own file-sink _spark_metadata "
    "log. The DuckDB oracle aggregates the events TABLE directly, so "
    "the hash match proves no row was lost or duplicated end to end "
    "through stream -> Python sink -> manifest -> readback. Values "
    "cross the JSON boundary as exact cents bigints (floor(value*100) "
    "— one identical IEEE op in Python, Spark, and DuckDB), never as "
    "serialized floats. At 100 TB/day the part files land on object "
    "storage and the manifest in a transactional store; the protocol "
    "shown here is unchanged.",
)
def b01_python_stream_sink(spark, sf_dir):
    import glob as globmod
    import json as jsonmod
    import os
    import uuid

    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    from ..streaming import stream_events

    out_dir = (
        f"/tmp/dsspark_pysink_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(out_dir, exist_ok=True)

    class FileMsg(WriterCommitMessage):
        def __init__(self, path, n):
            self.path = path
            self.n = n

    class JsonlStreamWriter(DataSourceStreamWriter):
        def write(self, iterator):
            import json
            import math
            import os as _os
            import uuid as _uuid

            from pyspark import TaskContext

            ctx = TaskContext.get()
            path = _os.path.join(
                out_dir,
                f"part-{ctx.partitionId()}-{_uuid.uuid4().hex}.jsonl",
            )
            n = 0
            with open(path, "w") as f:
                for row in iterator:
                    vc = (
                        None
                        if row.value is None
                        else int(math.floor(row.value * 100))
                    )
                    f.write(json.dumps({"t": row.event_type, "vc": vc}) + "\n")
                    n += 1
            return FileMsg(path, n)

        def commit(self, messages, batchId):
            import json
            import os as _os

            manifest = _os.path.join(out_dir, f"manifest-{batchId}.json")
            tmp = manifest + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    [
                        {"path": m.path, "n": m.n}
                        for m in messages
                        if m is not None
                    ],
                    f,
                )
            _os.rename(tmp, manifest)

        def abort(self, messages, batchId):
            import os as _os

            for m in messages:
                if m is not None:
                    try:
                        _os.remove(m.path)
                    except OSError:
                        pass

    class JsonlSink(DataSource):
        @classmethod
        def name(cls):
            return "dsspark_jsonl_sink"

        def streamWriter(self, schema, overwrite):
            return JsonlStreamWriter()

    spark.dataSource.register(JsonlSink)
    ev = stream_events(spark, sf_dir).select("event_type", "value")
    q = (
        ev.writeStream.format("dsspark_jsonl_sink")
        .option("checkpointLocation", out_dir + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        audit_streaming_query(q, "b01_python_stream_sink")
        files: list[str] = []
        for man in sorted(globmod.glob(os.path.join(out_dir, "manifest-*.json"))):
            with open(man) as f:
                files += [e["path"] for e in jsonmod.load(f)]
        committed = spark.read.schema("t string, vc bigint").json(files)
        # Materialize the (tiny, one-row-per-event_type) readback BEFORE the
        # finally block deletes the part files it reads — the returned
        # DataFrame must not depend on /tmp state (ADVICE r10: repeated
        # bench/correctness invocations were accumulating unbounded /tmp).
        rows = (
            committed.groupBy(F.col("t").alias("event_type"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("vc").cast("bigint").alias("cents_sum"),
            )
            .collect()
        )
        return spark.createDataFrame(
            rows, "event_type string, n bigint, cents_sum bigint"
        )
    finally:
        import shutil

        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(out_dir + "_ckpt", ignore_errors=True)


@query(
    "b17_stream_quantile_sketch",
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
    doc="B17 x B6 (r10): the quantile sketch SERVED FROM A LIVE STREAM — "
    "b06_quantile_histogram's fixed-range 256-cell histogram maintained "
    "as real Structured Streaming aggregation state (file source -> "
    "groupBy(bucket) -> complete-mode memory sink): the cells merge by "
    "addition, so per-micro-batch partial counts fold into exactly the "
    "batch histogram, and the quantile report computed from the sink "
    "(the shared histogram_quantile_report back half, including the "
    "exact true-rank audit against the batch table) hash-matches the "
    "batch oracle bit for bit — the MERGEABILITY claim the batch "
    "entry's docstring makes, executed rather than asserted. This is "
    "the 100 TB serving pattern for percentile dashboards: the "
    "streaming state is 256 bigints per key scope regardless of "
    "throughput (contrast the unbounded distinct-set state of a naive "
    "percentile-over-stream), checkpoint-recoverable, and queryable "
    "mid-stream without stopping anything (b20_state_store_read's ops "
    "contract).",
)
def b17_stream_quantile_sketch(spark, sf_dir):
    from pyspark.sql import functions as F

    from ..catalog import load_table
    from .extras import histogram_quantile_report, value_histogram_bucket

    hist_stream = (
        stream_events(spark, sf_dir)
        .select(value_histogram_bucket())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hist = run_stream_to_table(hist_stream)
    ev = load_table(spark, sf_dir, "events").select("value")
    return histogram_quantile_report(spark, hist, ev)
