"""Structured Streaming operators (SURVEY.md §2 B17-B20).

Design: every windowed aggregation is written against a plain DataFrame, so
the SAME builder runs in batch mode (driver oracle checks) and behind
``readStream`` (true incremental execution). The streaming entries in the
suite actually run a stream — parquet file source → availableNow trigger →
memory sink — and return the sink table, proving the plan is streamable, not
just batch-equivalent.

This is the incremental generalization of the reference's enter/update/exit
re-render loop (index.js:418-441): `outputMode("update")` emits exactly the
changed groups, which is what the D3 data join was hand-computing.

Scale: watermarks bound state (late data beyond the horizon is dropped);
session windows use Spark's native session_window state merging;
`dropDuplicatesWithinWatermark` keeps the dedup state window-bounded instead
of unbounded-forever.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..catalog import ensure_session_defaults, read_events
from ..session import scoped_conf


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source stream (same unit-aware timestamp
    handling as the batch catalog — see catalog.read_events)."""
    ensure_session_defaults(spark)
    # The file-stream source requires a directory basePath; restrict the
    # listing to the events file via glob (new matching files would be picked
    # up incrementally — the production layout is a directory of arriving
    # part files).
    reader = spark.readStream.option("pathGlobFilter", "events.parquet")
    return read_events(reader, sf_dir, sf_dir)


def tumbling_counts(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """B17: tumbling event-time windows per event_type (epoch-aligned, same
    alignment as DuckDB's time_bucket)."""
    w = F.window("ts", width)
    return (
        events.groupBy(w, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("wstart"),
            F.col("window.end").alias("wend"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """B17: sliding windows — each event lands in width/slide overlapping
    windows."""
    w = F.window("ts", width, slide)
    return (
        events.groupBy(w, "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("wstart"),
            F.col("window.end").alias("wend"),
            "event_type",
            "n",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """B18: per-user session windows (gap-based). Session end = last event +
    gap, Spark's native semantics; state merges adjacent sessions
    incrementally in streaming mode."""
    sw = F.session_window("ts", gap)
    return (
        events.groupBy(sw, "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_static_enrich(
    events: DataFrame, dim: DataFrame, width: str = "10 minutes"
) -> DataFrame:
    """B17×B2: stream-static enrichment — the streaming side joined to a
    BATCH dimension table, then windowed per enrichment attribute. Spark
    re-evaluates the static side each micro-batch (so a dim refresh is
    picked up without restarting the query); the broadcast hint keeps the
    join map-side — no shuffle of the stream, which is the only layout that
    survives an unbounded source. This is the canonical production shape:
    an event firehose tagged with slowly-changing reference data."""
    j = events.join(F.broadcast(dim), events["user_id"] == dim["c_custkey"])
    w = F.window("ts", width)
    return (
        j.groupBy(w, "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("wstart"),
            F.col("window.end").alias("wend"),
            "c_mktsegment",
            "n",
            "sum_value",
        )
    )


def watermarked_tumbling(
    events: DataFrame, watermark: str = "1 hour", width: str = "10 minutes"
) -> DataFrame:
    """B19: watermarked tumbling aggregation — rows later than the watermark
    horizon are dropped; state for closed windows is evicted. In a single-
    batch replay nothing is late, so batch SQL is the exact oracle."""
    return tumbling_counts(events.withWatermark("ts", watermark), width)


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """B20: stateful streaming dedup on (user_id, event_type) with watermark-
    bounded state (dropDuplicatesWithinWatermark)."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def upsert_sink(target_path: str, keys: list[str], order_by: list[str] | None = None):
    """B20+B23: a foreachBatch sink that MERGEs each micro-batch into a
    parquet target by key — the continuous corpus-refresh pattern (stream of
    document/record revisions folded into the materialized table without a
    transactional format).

    Semantics per batch: target ANTI JOIN batch ON keys, UNION ALL batch
    (operators/merge.py merge_upsert), staged to a sibling directory and
    renamed over the target. A crash BEFORE the first rename leaves the old
    target intact; a crash BETWEEN the two renames leaves the previous state
    at ``<target>__old`` — recovery is restoring that directory (checked and
    done automatically at the next batch). A retried batch (same batch_id
    after checkpoint recovery) is idempotent — merge-by-key is a no-op the
    second time.

    Within-batch duplicates: when ``order_by`` is given, the survivor per key
    is the row with the GREATEST (order_by, …) tuple — deterministic
    last-write-wins by a sequence/event-time column (row_number, same
    machinery as dedup_exact). Without it, dropDuplicates keeps an arbitrary
    row; pass ``order_by`` whenever a key can recur within one micro-batch.

    Scale posture: this local implementation rewrites the whole target (fine
    for test scale, and the rename keeps it crash-safe); on a real cluster,
    partition the target by a key-derived bucket and use dynamic partition
    overwrite so each batch rewrites only the partitions its keys touch —
    same merge plan, bounded write amplification. The batch-side anti-join
    is one shuffle; with the target bucketed by key it is co-located.
    """
    from ..operators.dedup import dedup_exact
    from ..operators.merge import merge_upsert

    def sink(batch_df, batch_id: int) -> None:
        import os
        import shutil

        spark = batch_df.sparkSession
        if order_by:
            batch = dedup_exact(
                batch_df, keys, [F.col(c).desc() for c in order_by]
            )
        else:
            batch = batch_df.dropDuplicates(keys)  # arbitrary within-batch survivor
        # Recover from a crash that happened between the two renames of a
        # previous batch: the target is missing but __old holds the last
        # complete state.
        old = f"{target_path}__old"
        if not os.path.isdir(target_path) and os.path.isdir(old):
            os.rename(old, target_path)
        # A crash AFTER the staging rename but before the __old cleanup
        # leaves both directories; the stale __old would make the next
        # rename dance fail (rename onto a non-empty dir). Target wins —
        # it is the newer complete state.
        elif os.path.isdir(target_path) and os.path.isdir(old):
            shutil.rmtree(old)
        if os.path.isdir(target_path):
            merged = merge_upsert(spark.read.parquet(target_path), batch, keys)
        else:
            merged = batch
        staging = f"{target_path}__staging"
        merged.write.mode("overwrite").parquet(staging)
        old = f"{target_path}__old"
        if os.path.isdir(target_path):
            os.rename(target_path, old)
            os.rename(staging, target_path)
            shutil.rmtree(old)
        else:
            os.rename(staging, target_path)

    return sink


def start_query(
    spark: SparkSession, writer: DataStreamWriter, state_partitions: int | None
) -> StreamingQuery:
    """``writer.start()`` with `spark.sql.shuffle.partitions` set to
    ``state_partitions`` for that call only (``None`` keeps the session's
    value). A streaming query clones the session conf when it starts, so its
    stateful operators keep the count for the whole run while the session
    is restored as soon as ``start()`` returns. ``session.scoped_conf``
    serializes the set/start/restore, so two queries started on two threads
    cannot restore each other's value or start with the other's count."""
    confs = {} if state_partitions is None else {
        "spark.sql.shuffle.partitions": str(state_partitions)
    }
    with scoped_conf(spark, confs):
        return writer.start()


def run_stream_to_table(
    sdf: DataFrame,
    output_mode: str = "complete",
    name: str | None = None,
    state_partitions: int | None = 1,
) -> DataFrame:
    """Execute a streaming DataFrame to completion over all available input
    (availableNow trigger → memory sink) and return the materialized result.
    Deterministic: one pass over the file source, then the query stops.

    ``state_partitions`` sizes `spark.sql.shuffle.partitions` for THIS query:
    stateful operators create one state-store instance per shuffle
    partition, and the count is pinned into the checkpoint at first start.
    Cost model: every state partition is one task plus one state-store load
    and one delta-file commit per micro-batch, and a commit costs tens of
    milliseconds whatever its row count. A bounded replay whose state is a
    few thousand rows therefore runs fastest on ONE partition (the default);
    a production deployment sizes the count to peak state volume because it
    cannot be changed after the first run. The override is scoped to query
    start (``start_query``): the session's value is restored before the
    query is awaited."""
    name = name or f"stream_out_{uuid.uuid4().hex[:12]}"
    spark = sdf.sparkSession
    q = start_query(
        spark,
        sdf.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True),
        state_partitions,
    )
    q.awaitTermination()
    # record the bounded-window audit of the final micro-batch plan
    # (VERDICT r13 #4) — never raises, the suite test asserts clean
    from ..plans import audit_streaming_query

    audit_streaming_query(q, name)
    return spark.table(name)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    within: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: same ``key``, right event inside
    [left_ts, left_ts + within]. Both inputs MUST be watermarked — the time
    bound plus the watermarks is what lets Spark evict join state (buffered
    rows older than watermark + bound can never match again), keeping state
    proportional to the time window instead of the stream history."""
    cond = (
        (left[key] == right[key])
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return left.join(right, cond, "inner")
