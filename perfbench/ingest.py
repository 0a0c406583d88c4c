"""The streaming ingest ops of curation_batch: live ingest of time-ordered
`events` part files.

Each op replays the seeded part files through one Structured Streaming query
with maxFilesPerTrigger=1 and `run_stream_to_table`: watermarked tumbling
counts or watermark-bounded dedup, both in append mode. The op is the whole query run, from start to termination; the
engine's per-micro-batch breakdown comes from a `StreamingQueryListener`.

The check compares the last run of each query with batch recomputations over
the same rows: the tumbling sink with the suite's DuckDB oracle (which applies
the final watermark horizon), and the dedup sink with a plain-Python replay of dedup-within-watermark over the same
micro-batch boundaries.
"""

from __future__ import annotations

import collections
import os
import statistics

import numpy as np

from dataselector_spark.schemas import TABLE_SCHEMAS
from dataselector_spark.streaming import (
    run_stream_to_table,
    stream_dedup,
    watermarked_tumbling,
)
from dataselector_spark.suite import QUERIES
from tests.oracle_harness import compare

from . import datagen
from .trace import percentile, stream_collector

N_PARTS = 2
WATERMARK_MS = 3_600_000  # the streaming builders' default "1 hour"
QUERY_SPECS = {
    "stream_tumbling": (watermarked_tumbling, "append"),
    "stream_dedup": (stream_dedup, "append"),
}
DURATIONS = {
    "trigger_ms_p50": "triggerExecution",
    "add_batch_ms_p50": "addBatch",
    "query_planning_ms_p50": "queryPlanning",
    "latest_offset_ms_p50": "latestOffset",
    "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets",
}


class Ingest:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.parts = os.path.join(ctx.work, "parts")
        self.runs = 0
        self.sinks: dict[str, str] = {}
        self.run_ids: dict[tuple[int, str], str] = {}

    def prepare(self, events) -> None:
        self.events = events
        self.bounds = datagen.write_event_parts(self.parts, events, self.ctx.seed, N_PARTS)
        self.collector = stream_collector(self.ctx.spark)

    def run(self, kind: str, idx: int) -> None:
        """Run query `kind` of pass `idx` over every part file."""
        spark = self.ctx.spark
        builder, mode = QUERY_SPECS[kind]
        self.runs += 1
        name = f"perfbench_{kind}_{self.runs}"
        source = (
            spark.readStream.schema(TABLE_SCHEMAS["events"])
            .option("maxFilesPerTrigger", "1")
            .parquet(self.parts)
        )
        run_stream_to_table(builder(source), output_mode=mode, name=name)
        old = self.sinks.get(kind)
        if old is not None:
            spark.catalog.dropTempView(old)
        self.sinks[kind] = name
        (self.run_ids[idx, kind],) = self.collector.wait_terminated([name])
        if self.ctx.groups.enabled:
            # a streaming query tags its jobs with its run id as job group
            self.ctx.groups.used.add(self.run_ids[idx, kind])

    def check(self) -> list[str]:
        spark = self.ctx.spark
        problems = []
        df = spark.table(self.sinks["stream_tumbling"])
        ok, detail = compare(spark, self.ctx.data_dir, lambda *_: df,
                             QUERIES["b19_stream_watermark"].oracle)
        if not ok:
            problems.append(f"stream_tumbling: {detail[:300]}")
        got = collections.Counter(
            map(tuple, spark.table(self.sinks["stream_dedup"]).toPandas()[["user_id", "event_type"]]
                .itertuples(index=False, name=None)))
        if got != self._dedup_replay():
            problems.append(f"stream_dedup: {sum(got.values())} rows differ from the replay")
        return problems

    def _dedup_replay(self) -> collections.Counter:
        """dropDuplicatesWithinWatermark over the part files as micro-batches:
        a key is emitted when it holds no state, and its state expires once
        the batch's watermark (max event time of earlier batches minus the
        delay, in ms) passes its first event time plus the delay."""
        e = self.events
        ts_ms = e.ts_us // 1000
        emitted: collections.Counter = collections.Counter()
        expiry: dict[tuple[int, str], int] = {}
        watermark = None
        for lo, hi in zip(self.bounds, self.bounds[1:]):
            for i in range(lo, hi):
                if watermark is not None and ts_ms[i] <= watermark:
                    continue
                key = (int(e.user_id[i]), str(e.event_type[i]))
                if key not in expiry:
                    emitted[key] += 1
                    expiry[key] = int(ts_ms[i]) + WATERMARK_MS
            if watermark is not None:
                expiry = {k: v for k, v in expiry.items() if v >= watermark}
            if hi > lo:
                watermark = int(np.max(ts_ms[lo:hi])) - WATERMARK_MS
        return emitted

    def layer_metrics(self, idx: int) -> dict[str, float]:
        """streaming.* over the query runs of pass `idx`."""
        tr = self.ctx.tracer
        runs = {kind: self.run_ids[idx, kind] for kind in QUERY_SPECS}
        batches = [b for r in runs.values() for b in self.collector.progress[r]]
        out = {"streaming.batches": float(len(batches))}
        with_rows = [b["rows"] for b in batches if b["rows"]]
        out["streaming.rows_per_batch"] = float(statistics.median(with_rows)) if with_rows else 0.0
        for metric, key in DURATIONS.items():
            vals = [b["duration_ms"][key] for b in batches if key in b["duration_ms"]]
            out[f"streaming.{metric}"] = percentile(vals, 50) if vals else 0.0
        finals = [self.collector.progress[r][-1]["state"] for r in runs.values()]
        out["streaming.state_rows_total"] = float(sum(s["rows_total"] for f in finals for s in f))
        out["streaming.state_memory_mb"] = sum(s["memory_bytes"] for f in finals for s in f) / 2**20
        commits = [sum(s["commit_ms"] for s in b["state"]) for b in batches if b["state"]]
        out["streaming.state_commit_ms_p50"] = percentile(commits, 50) if commits else 0.0
        starts = []
        for kind, run_id in runs.items():
            (span,) = [s for s in tr.named(kind) if s.op == kind]
            busy = sum(b["duration_ms"].get("triggerExecution", 0) for b in self.collector.progress[run_id])
            starts.append(span.end - span.start - busy / 1e3)
        out["streaming.start_s"] = statistics.median(starts)
        return out
