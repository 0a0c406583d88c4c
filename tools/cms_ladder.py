"""Measured count-min-sketch ladder: exact per-key frequency vs the CMS
build as rows AND key cardinality grow.

The b06_count_min_sketch claim is that the sketch's shuffle is bounded at
depth*width = 256 cells per task at ANY input size, while the exact groupBy's
shuffle grows with the distinct-key count — the reason a 100 TB frequency
pass over a high-cardinality key (URLs, doc hashes) uses a sketch. This
ladder replicates the sf0.1 events table N times with a per-replica key
offset, so rows AND distinct keys both scale N-fold, and measures:

* exact  -> groupBy(key).count() wall (shuffle rows ~ distinct keys x tasks)
* sketch -> depth-4 x width-64 CMS build wall (shuffle rows <= 256 x tasks,
            flat at every N)
* quality-> max/mean overcount of CMS estimates vs exact counts for the
            candidate keys, against the eps*N = (2/width)*N additive bound

Usage: python tools/cms_ladder.py [max_replication]
(results recorded in docs/SCALE.md)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dataselector_spark.catalog import load_table  # noqa: E402
from dataselector_spark.session import get_spark  # noqa: E402
from dataselector_spark.suite.sketches import (  # noqa: E402
    _CMS_A,
    _CMS_B,
    _CMS_DEPTH,
    _CMS_P,
    _CMS_W,
)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _bucket(key, i):
    return ((key * _CMS_A[i] + _CMS_B[i]) % _CMS_P) % _CMS_W


def _replicate(e, n):
    """n copies with disjoint key ranges: rows AND distinct keys scale n-x."""
    span = 100_000  # > max user_id at any sf
    reps = [
        e.select((F.col("user_id") + F.lit(i * span)).alias("user_id"))
        for i in range(n)
    ]
    out = reps[0]
    for r in reps[1:]:
        out = out.unionAll(r)
    return out


def _wall(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    max_rep = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    spark = get_spark("cms-ladder", cpus=16, shuffle_partitions=16)
    base = load_table(spark, SF, "events").select("user_id")

    n = 1
    while n <= max_rep:
        e = _replicate(base, n)
        rows = e.count()
        distinct = e.select("user_id").distinct().count()

        exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
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

        # warm once, then time
        _wall(exact)
        _wall(sketch)
        t_exact = _wall(exact)
        t_sketch = _wall(sketch)
        sketch_cells = sketch.count()

        # estimate quality for every key (join exact counts to min cell)
        cand = exact.select(
            "user_id",
            F.col("cnt").alias("true_cnt"),
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
        ).select("user_id", "true_cnt", "hb.depth", "hb.bucket")
        est = (
            cand.join(F.broadcast(sketch), ["depth", "bucket"])
            .groupBy("user_id", "true_cnt")
            .agg(F.min("cell").alias("est"))
        )
        q = est.agg(
            F.max(F.col("est") - F.col("true_cnt")).alias("max_over"),
            F.avg(F.col("est") - F.col("true_cnt")).alias("mean_over"),
            F.min(F.col("est") - F.col("true_cnt")).alias("min_over"),
        ).first()
        bound = 2.0 * rows / _CMS_W  # eps*N with eps = 2/width (e/width-ish)
        print(
            f"rep={n:>3} rows={rows:>9,} distinct={distinct:>7,} "
            f"exact={t_exact:6.2f}s sketch={t_sketch:6.2f}s "
            f"sketch_cells={sketch_cells:>4} "
            f"overcount min/mean/max={q['min_over']}/{q['mean_over']:.1f}/"
            f"{q['max_over']} (eps*N={bound:,.0f})"
        )
        assert q["min_over"] >= 0, "CMS one-sided bound violated"
        n *= 4


if __name__ == "__main__":
    main()
