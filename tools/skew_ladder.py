"""Measured hot-key skew experiment: plain vs salted shuffle join.

Builds a 10x-replicated events fact (~6M rows) with 90% of rows remapped to
ONE user_id — the pathological hot key — and joins it to a per-user dim with
broadcast DISABLED (forcing the shuffle join a 100 TB fact would need).
AQE's skew-join splitting does not engage at this data size (its
skewedPartitionThresholdInBytes default is 256 MB), which mirrors the real
failure mode it has at any size when the downstream operator needs the
join's hash partitioning preserved — exactly the case operators/skew.py's
salted_join exists for.

Usage: python tools/skew_ladder.py    (prints plain vs salted wall seconds;
results recorded in docs/SCALE.md)
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dataselector_spark.catalog import load_table
from dataselector_spark.operators.skew import salted_join
from dataselector_spark.session import get_spark, scoped_conf

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    spark = get_spark("skew-ladder", cpus=32, shuffle_partitions=32)
    e = load_table(spark, BASE, "events").select("event_id", "user_id", "value")
    reps = None
    for i in range(30):
        r = e.withColumn("event_id", F.col("event_id") + F.lit(i * 10_000_000))
        reps = r if reps is None else reps.unionByName(r)
    # 90% of rows onto one hot user.
    fact = reps.withColumn(
        "user_id",
        F.when(F.pmod(F.col("event_id"), F.lit(10)) < 9, F.lit(1)).otherwise(
            F.col("user_id")
        ),
    ).localCheckpoint()
    dim = (
        fact.select("user_id").distinct().withColumn("grp", F.pmod("user_id", F.lit(7)))
    ).localCheckpoint()

    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        def run(df):
            t = time.time()
            df.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).count()
            return round(time.time() - t, 2)

        plain = run(fact.join(dim, "user_id"))
        salted = run(salted_join(fact, dim, "user_id", buckets=16))
        # correctness cross-check
        a = fact.join(dim, "user_id").count()
        b = salted_join(fact, dim, "user_id", buckets=16).count()
        assert a == b, (a, b)
        print(f"rows={a} plain_s={plain} salted_s={salted} speedup={plain/salted:.2f}")


if __name__ == "__main__":
    main()
