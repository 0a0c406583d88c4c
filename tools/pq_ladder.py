"""Measured product-quantization ladder: brute-force float scan vs ADC
code scan at growing corpus replications, plus ADC recall@10 vs exact.

The PQ claim (b14_pq_codes / b14_pq_adc_topk) is that 24-bit codes + ADC
lookup tables replace a 64-float scan per candidate, trading a little
accuracy for an order-of-magnitude cheaper inner loop and 85x less memory
traffic. This ladder measures both sides at sf0.1 x N replication:

* brute  -> exact cosine top-10 against the query vector (the
            b14_topk_cosine plan: 64 multiply-adds per row)
* adc    -> encode once (amortized, timed separately), then top-10 by
            ADC distance (8 array-literal lookups + adds per row)
* recall -> |adc top-10 ∩ exact top-10| / 10 (exact squared-L2 ground
            truth — same metric family as the ADC approximation)

Replicas perturb vec_id only (same vectors), so recall is measured on the
1x corpus and timings on the Nx one.

Usage: python tools/pq_ladder.py [max_replication]
(results recorded in docs/SCALE.md)
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dataselector_spark.catalog import load_table
from dataselector_spark.functions.vectors import dot_product, l2_norm
from dataselector_spark.operators.similarity import pq_codes
from dataselector_spark.suite.vectors import _pq_adc_luts

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicated(spark, n):
    e = load_table(spark, BASE, "embeddings").select("vec_id", "embedding")
    if n > 1:
        copies = spark.range(n).select(F.col("id").alias("copy"))
        e = e.crossJoin(F.broadcast(copies)).select(
            (F.col("vec_id") + F.col("copy") * 10_000_000).alias("vec_id"),
            "embedding",
        )
    return e


def timed(df, reps=3):
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    return sorted(runs[1:])[0]


def main():
    from dataselector_spark.session import get_spark

    max_n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    spark = get_spark("pq-ladder", cpus=32, shuffle_partitions=32)
    base = load_table(spark, BASE, "embeddings")
    qv = [float(x) for x in base.filter(F.col("vec_id") == 0).first()["embedding"]]
    luts = _pq_adc_luts(qv)

    # recall@10 on the 1x corpus: ADC top-10 vs exact squared-L2 top-10
    lit = F.array(*[F.lit(x) for x in qv])
    diff = F.zip_with("embedding", lit, lambda a, b: a.cast("double") - b)
    exact_d = F.aggregate(
        F.transform(diff, lambda x: x * x), F.lit(0.0), lambda a, v: a + v
    )
    exact10 = {
        r["vec_id"]
        for r in base.filter(F.col("vec_id") != 0)
        .select("vec_id", exact_d.alias("d"))
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    }
    codes = pq_codes(base).filter(F.col("vec_id") != 0)
    adc = None
    for s, lut in enumerate(luts):
        t = F.element_at(
            F.array(*[F.lit(x) for x in lut]), (F.col(f"c{s}") + 1).cast("int")
        )
        adc = t if adc is None else adc + t
    adc10 = {
        r["vec_id"]
        for r in codes.select("vec_id", adc.alias("d"))
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    }
    print(f"recall@10 (ADC vs exact L2, 1x corpus): {len(exact10 & adc10)}/10")
    print(f"{'N':>3} {'rows':>9} {'brute_s':>8} {'encode_s':>9} {'adc_s':>7} {'scan_ratio':>10}")
    n = 1
    while n <= max_n:
        e = replicated(spark, n)
        brute = e.select(
            "vec_id",
            (dot_product("embedding", lit) / (l2_norm("embedding"))).alias("c"),
        )
        t_brute = timed(brute)
        t_encode = timed(pq_codes(e))
        enc = pq_codes(e).localCheckpoint()  # materialized codes = the index
        adc2 = None
        for s, lut in enumerate(luts):
            t = F.element_at(
                F.array(*[F.lit(x) for x in lut]),
                (F.col(f"c{s}") + 1).cast("int"),
            )
            adc2 = t if adc2 is None else adc2 + t
        t_adc = timed(enc.select("vec_id", adc2.alias("d")))
        print(
            f"{n:>3} {e.count():>9} {t_brute:>8.3f} {t_encode:>9.3f} "
            f"{t_adc:>7.3f} {t_brute / t_adc:>10.1f}"
        )
        n *= 4
    spark.stop()


if __name__ == "__main__":
    main()
