#!/usr/bin/env python
"""Profile where a bounded streaming replay's wall time goes (VERDICT r15
"Next round" #5): run b17_stream_tumbling / b20_stream_stream_left_outer
style queries and dump each micro-batch's StreamingQueryProgress
durationMs breakdown (addBatch / getBatch / latestOffset / queryPlanning /
triggerExecution / walCommit / commitOffsets / stateUpdate).

Usage: python tools/stream_floor_profile.py [b17|b20] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataselector_spark.session import get_spark  # noqa: E402
from dataselector_spark.streaming import (  # noqa: E402
    start_query,
    stream_events,
    tumbling_counts,
)


def run_b17(spark, sf_dir):
    name = f"floor_{uuid.uuid4().hex[:8]}"
    sdf = tumbling_counts(stream_events(spark, sf_dir))
    t0 = time.perf_counter()
    q = start_query(
        spark,
        sdf.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True),
        1,
    )
    t_started = time.perf_counter()
    q.awaitTermination()
    t_done = time.perf_counter()
    prog = [json.loads(p.json) for p in q.recentProgress]
    n = spark.table(name).count()
    t_read = time.perf_counter()
    print(
        f"start={t_started - t0:.3f}s run={t_done - t_started:.3f}s "
        f"read={t_read - t_done:.3f}s rows={n} batches={len(prog)}"
    )
    for p in prog:
        print(
            f"  batch={p.get('batchId')} rows={p.get('numInputRows')} "
            f"durationMs={p.get('durationMs')}"
        )


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "b17"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("stream-floor", cpus=cpus, shuffle_partitions=cpus)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for r in range(reps):
        print(f"== rep {r} ==")
        if which == "b17":
            run_b17(spark, sf_dir)
        else:
            raise SystemExit(f"unknown target {which}")


if __name__ == "__main__":
    main()
