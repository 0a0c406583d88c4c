"""Measured z-order layout experiment: single-column sort vs z-clustered
files under multi-dimensional predicates.

Replicates events Nx (default 50x, ~5M rows at sf0.1) and writes it twice
with 64 range-partitioned, sorted files each:

* time-sorted  -> repartitionByRange(ts) + sortWithinPartitions(ts): the
                  layout a time-series table naturally has. Row-group stats
                  prune time predicates perfectly, user predicates not at
                  all (every file spans all users).
* z-ordered    -> cluster_by_zorder over the Morton interleave of MONOTONE
                  normalizations of (user_id, day): every file covers a
                  small bounding box in BOTH dimensions, so parquet min/max
                  stats prune predicates on EITHER column.

Then times three predicate shapes (median of 3 warm runs, full count() of
the filtered scan): time-window only, user-range only, and both. The
expected pattern: time-only slightly favors the time-sorted layout, user-
only and combined favor z-order by a large factor — the trade OPTIMIZE
ZORDER BY makes at warehouse scale.

Usage: python tools/zorder_ladder.py [replication]
(results recorded in docs/SCALE.md)
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dataselector_spark.catalog import load_table
from dataselector_spark.operators.layout import cluster_by_zorder, zorder_key
from dataselector_spark.session import get_spark

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROOT = "/tmp/dataselector_zorder_ladder"


def timed_count(spark, path, cond):
    df = spark.read.parquet(path).filter(cond)
    t0 = time.perf_counter()
    n = df.count()
    return time.perf_counter() - t0, n


def prunable_fraction(path, ranges):
    """What a stats-driven reader would scan: fraction of row groups (and of
    rows) whose column min/max bounding box intersects every predicate
    range. ``ranges`` = {column: (lo, hi)}. Uses the parquet footers only —
    the same information any engine's row-group skip uses, measured exactly
    and deterministically (local wall times at this scale are page-cache
    noise; at 100 TB surviving-row fraction IS the scan cost)."""
    import pyarrow.parquet as pq

    total_rg = kept_rg = total_rows = kept_rows = 0
    for entry in sorted(os.listdir(path)):
        if not entry.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, entry)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            total_rg += 1
            total_rows += rg.num_rows
            keep = True
            for col, (lo, hi) in ranges.items():
                st = rg.column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    continue  # no stats -> cannot prune, must scan
                smin, smax = st.min, st.max
                if getattr(smin, "tzinfo", None) is not None:
                    smin, smax = smin.replace(tzinfo=None), smax.replace(tzinfo=None)
                if smax < lo or smin > hi:
                    keep = False
                    break
            if keep:
                kept_rg += 1
                kept_rows += rg.num_rows
    return kept_rg, total_rg, kept_rows / max(total_rows, 1)


def main():
    times = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    spark = get_spark()
    # small row groups so sub-file pruning granularity matches a real table
    spark.conf.set("spark.hadoop.parquet.block.size", str(1 << 20))
    e = load_table(spark, BASE, "events").select("event_id", "ts", "user_id", "value")
    reps = e
    for i in range(1, times):
        reps = reps.unionByName(
            e.withColumn("event_id", F.col("event_id") + F.lit(i * 10**9))
        )
    stats = reps.agg(
        F.max("user_id").alias("mu"),
        F.min("ts").alias("t0"),
        F.min(F.to_date("ts")).alias("d0"),
        F.max("ts").alias("t1"),
    ).first()
    mu, t0, t1 = stats["mu"], stats["t0"], stats["t1"]
    n_days = max(1, (t1 - t0).days)
    print(f"rows={reps.count()} users<={mu} days={n_days}")

    ts_path, z_path = os.path.join(ROOT, "by_ts"), os.path.join(ROOT, "by_z")
    w0 = time.perf_counter()
    (
        reps.repartitionByRange(64, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(ts_path)
    )
    t_write_ts = time.perf_counter() - w0

    # monotone per-dimension bucketization preserves raw-column min/max
    # locality, so parquet stats prune the ORIGINAL predicate columns
    ub = f"least(user_id * 256 / {mu + 1}, 255)"
    db = f"least(datediff(ts, DATE'{stats['d0']}') * 256 / {n_days}, 255)"
    w0 = time.perf_counter()
    (
        cluster_by_zorder(reps, zorder_key([ub, db]), partitions=64)
        .write.mode("overwrite")
        .parquet(z_path)
    )
    t_write_z = time.perf_counter() - w0
    print(f"write: time-sorted {t_write_ts:.2f}s, z-ordered {t_write_z:.2f}s")

    span = t1 - t0
    tlo, thi = t0 + span * 4 // 10, t0 + span * 5 // 10  # middle 10% of time
    ulo, uhi = int(mu * 0.4), int(mu * 0.45)  # 5% of users
    shapes = {
        "time-window only": {"ts": (tlo, thi)},
        "user-range only": {"user_id": (ulo, uhi)},
        "time AND user": {"ts": (tlo, thi), "user_id": (ulo, uhi)},
    }
    for label, ranges in shapes.items():
        for path, name in ((ts_path, "time-sorted"), (z_path, "z-ordered")):
            krg, trg, frac = prunable_fraction(path, ranges)
            cond = None
            for col, (lo, hi) in ranges.items():
                c = F.col(col).between(F.lit(lo), F.lit(hi))
                cond = c if cond is None else (cond & c)
            runs = [timed_count(spark, path, cond) for _ in range(3)]
            med = sorted(t for t, _ in runs)[1]
            print(
                f"{label:18s} {name:11s} scans {krg}/{trg} row groups "
                f"= {100 * frac:5.1f}% of rows   ({med:.3f}s, "
                f"match={runs[0][1]})"
            )


if __name__ == "__main__":
    main()
