"""100x-replication scale ladder for the similarity-search path (B14).

Replicates sf0.1 embeddings 100x with shifted vec_ids (same vectors — the
ladder measures how each search strategy's WALL scales with corpus size,
not recall), then times brute-force cosine top-k vs sign-LSH vs IVF.

The discriminating quantity is scan fraction: brute touches every vector;
LSH probes one of 2^8 signature buckets; IVF probes 4 of 16 inverted
lists. At small corpora JVM overhead hides this; at 100x the ratios should
separate — that separation is the 100 TB argument.

Usage: python tools/ann_ladder.py   (writes /tmp/ann_ladder_100x, prints
one timing line per op; results recorded in docs/SCALE.md)
"""

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dataselector_spark.catalog import load_table
from dataselector_spark.session import get_spark
from dataselector_spark.suite import QUERIES

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HUNDREDX = "/tmp/ann_ladder_100x"
OPS = ["b14_topk_cosine", "b14_ann_lsh", "b14_ann_ivf"]


def build_100x(spark) -> None:
    if os.path.isdir(HUNDREDX):
        shutil.rmtree(HUNDREDX)
    os.makedirs(HUNDREDX)
    e = load_table(spark, BASE, "embeddings")
    n = e.agg(F.max("vec_id")).first()[0] + 1
    reps = e.crossJoin(F.broadcast(spark.range(100).withColumnRenamed("id", "rep")))
    reps = reps.withColumn("vec_id", F.col("vec_id") + F.col("rep") * n).drop("rep")
    reps.repartition(32).write.mode("overwrite").parquet(
        os.path.join(HUNDREDX, "embeddings.parquet")
    )


def timeit(fn, *args):
    t = time.time()
    fn(*args).count()
    return round(time.time() - t, 2)


def main():
    spark = get_spark("ann-ladder", cpus=32, shuffle_partitions=32)
    build_100x(spark)
    print(f"{'op':26s} {'base_s':>8} {'100x_s':>8} {'ratio':>6}")
    for name in OPS:
        fn = QUERIES[name].fn
        fn(spark, BASE).count()  # warm
        base = timeit(fn, spark, BASE)
        fn(spark, HUNDREDX).count()  # warm (first-touch file footers)
        big = timeit(fn, spark, HUNDREDX)
        print(f"{name:26s} {base:8.2f} {big:8.2f} {big / base:6.2f}")
    storage_pruned(spark)


def storage_pruned(spark) -> None:
    """The production layout: signatures/cells computed at INGEST and used
    as partition keys, so query-time scans prune at the storage layer.
    Contrast with the from-scratch timings above, where LSH/IVF recompute
    the bucketing per query and can never beat brute force."""
    from dataselector_spark.operators.similarity import (
        _pseudo_centroids,
        _pseudo_planes,
        ivf_assignments,
        sign_lsh_signature,
    )
    from dataselector_spark.functions.vectors import array_lit_sql, cosine_similarity_sql
    from dataselector_spark.suite.llm_pipeline import _query_vector

    qv = _query_vector(spark, BASE)
    e = spark.read.parquet(os.path.join(HUNDREDX, "embeddings.parquet"))

    # --- build (once per ingest, amortized over every query) ---
    t0 = time.time()
    planes = _pseudo_planes(len(qv), 8)
    # Repartition on the partition key first: one file per bucket, not
    # (buckets x tasks) shards — the small-files discipline compact_files
    # exists for, applied at write time.
    e.withColumn("bucket", sign_lsh_signature("embedding", planes)) \
        .repartition("bucket") \
        .write.mode("overwrite").partitionBy("bucket") \
        .parquet(os.path.join(HUNDREDX, "lsh_store"))
    lsh_build = time.time() - t0
    t0 = time.time()
    cents = _pseudo_centroids(len(qv), 16)
    ivf_assignments(e, cents).repartition("cell") \
        .write.mode("overwrite").partitionBy("cell") \
        .parquet(os.path.join(HUNDREDX, "ivf_store"))
    ivf_build = time.time() - t0
    print(f"build: lsh_store {lsh_build:.2f}s  ivf_store {ivf_build:.2f}s")

    # --- query against the stores (partition-pruned scans) ---
    qsig = 0
    for h, p in enumerate(planes):
        if sum(float(a) * float(b) for a, b in zip(qv, p)) >= 0:
            qsig |= 1 << h
    cosine = F.expr(
        cosine_similarity_sql("`embedding`", array_lit_sql(qv))
    ).alias("cosine")

    def lsh_query():
        s = spark.read.parquet(os.path.join(HUNDREDX, "lsh_store"))
        return (
            s.filter(F.col("bucket") == qsig)
            .select("vec_id", cosine)
            .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
            .limit(10)
        )

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return num / (na * nb) if na and nb else 0.0

    probes = sorted(range(16), key=lambda i: (-cos(cents[i], qv), i))[:4]

    def ivf_query():
        s = spark.read.parquet(os.path.join(HUNDREDX, "ivf_store"))
        return (
            s.filter(F.col("cell").isin(probes))
            .select("vec_id", cosine)
            .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
            .limit(10)
        )

    def brute_query():
        return (
            e.select("vec_id", cosine)
            .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
            .limit(10)
        )

    for name, fn in [("brute_100x", brute_query), ("lsh_store_query", lsh_query),
                     ("ivf_store_query", ivf_query)]:
        fn().count()  # warm
        t0 = time.time()
        for _ in range(5):
            fn().count()
        print(f"{name:26s} {(time.time() - t0) / 5:8.3f}s/query")


if __name__ == "__main__":
    main()
