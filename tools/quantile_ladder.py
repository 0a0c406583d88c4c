"""Measured cost/accuracy trade for b06_quantile_histogram (r10).

Compares three ways to answer "p1/p5/p25/p50/p75/p95/p99 of events.value"
at a given SF:

  exact     percentile_disc-style exact ranks (Spark `percentile` — a
            full sort-based aggregate of every value into one reducer
            state; the ground truth and the thing that does not scale)
  sketch    the 256-cell fixed-range histogram + integer rank selection
            (b06_quantile_histogram WITHOUT the in-query audit rescan —
            the serving path: one map-side-combined aggregate)
  sketch+audit  the full suite entry (sketch + exact true-rank audit
            rescan — what the differential hash-checks)

Records median-of-3 walls and the sketch's worst-case measured rank
error, the numbers docs/SCALE.md cites.  Run:
python tools/quantile_ladder.py [sf_dir]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from dataselector_spark.catalog import load_table  # noqa: E402
from dataselector_spark.session import get_spark  # noqa: E402
from dataselector_spark.suite.sketches import (  # noqa: E402
    histogram_quantile_report,
    value_histogram_bucket,
)

QS = [0.01, 0.05, 0.25, 0.50, 0.75, 0.95, 0.99]


def wall(fn, reps=3):
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return sorted(runs)[len(runs) // 2]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("quantile-ladder", cpus=8, shuffle_partitions=8)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    ev = load_table(spark, sf_dir, "events").select("value")

    def exact():
        return ev.agg(
            F.expr(f"percentile(value, array({', '.join(map(str, QS))}))")
        ).collect()

    def sketch_only():
        hist = (
            ev.select(value_histogram_bucket())
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return hist.collect()  # serving materializes the 256 cells

    def sketch_audit():
        hist = (
            ev.select(value_histogram_bucket())
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return histogram_quantile_report(spark, hist, ev).collect()

    w_exact = wall(exact)
    w_sketch = wall(sketch_only)
    w_audit = wall(sketch_audit)
    errs = {r["q_pct"]: r["rank_err"] for r in sketch_audit()}
    print(f"sf_dir={sf_dir}")
    print(f"exact percentile (sort-based agg): {w_exact:7.3f}s")
    print(f"sketch (256-cell histogram only):  {w_sketch:7.3f}s")
    print(f"sketch + exact rank audit:         {w_audit:7.3f}s")
    print(
        "rank errors: "
        + "  ".join(f"p{q}={errs[q]:.4f}" for q in sorted(errs))
    )
    spark.stop()


if __name__ == "__main__":
    main()
