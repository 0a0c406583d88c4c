"""Measured scaling ladder for the repeated-span family (VERDICT r8 #6):
the token-level posexplode in b13_repeated_span_dedup is the one r8 plan
without a scaling rung — this tool replicates the documents corpus xN and
reads where the token explosion starts to dominate.

Pipeline under test (identical dataflow to the suite entry, parameterized
by corpus): posexplode tokens + posexplode 5-gram shingles, distinct
(doc, shingle) -> min-doc owner for shingles seen in >=2 docs, hit
expansion (shingle occurrence x 5 covered token positions), coverage
rollup, anti-coverage filter, array_sort reassembly — all equi-joins, no
global window (asserted in tests/test_plans.py for the entry).

Replication is IDENTICAL-TEXT with offset doc_ids, which is the WORST
case by construction: every shingle occurs in all N copies, so ownership
density -> 100% and the hit expansion touches every token position — an
upper bound on the explosion (real corpora rewrite only their duplicated
tail). Three stage walls are read per rung:

  explode_s  — token + shingle posexplode only (scan-side volume)
  own_s      — through the ownership aggregate (first shuffle family)
  full_s     — the whole rewrite (adds hit expansion + coverage joins +
               reassembly collect_list)

Usage: python tools/span_ladder.py [max_replication]   (default 4)
Results recorded in docs/SCALE.md ("Repeated-span family at xN").
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dataselector_spark.catalog import load_table
from dataselector_spark.functions.text import word_ngrams
from dataselector_spark.session import get_spark
from dataselector_spark.suite.dedup import _SPAN_N

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicated(spark, n):
    d = load_table(spark, BASE, "documents").select("doc_id", "text")
    if n > 1:
        copies = spark.range(n).select(F.col("id").alias("copy"))
        d = d.crossJoin(F.broadcast(copies)).select(
            (F.col("doc_id") + F.col("copy") * 1_000_000).alias("doc_id"),
            "text",
        )
    return d


def stages(d):
    """The suite entry's dataflow split at its two interesting seams."""
    n = _SPAN_N
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("tpos", "tok")
    )
    pos_sh = d.select(
        "doc_id", F.posexplode(word_ngrams("text", n)).alias("pos", "sh")
    )
    explode_only = toks.select(F.lit(1)).union(pos_sh.select(F.lit(1)))
    own = (
        pos_sh.select("doc_id", "sh")
        .distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("nd"), F.min("doc_id").alias("owner"))
        .filter(F.col("nd") >= 2)
        .select("sh", "owner")
    )
    hit = pos_sh.join(own, "sh").select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias(
            "tok_idx"
        ),
        (F.col("doc_id") == F.col("owner")).alias("owned"),
    )
    cov = (
        hit.groupBy("doc_id", "tok_idx")
        .agg(F.max("owned").alias("any_owned"))
        .select(F.col("doc_id").alias("cdoc"), "tok_idx", "any_owned")
    )
    kept = (
        toks.join(
            cov,
            (F.col("doc_id") == F.col("cdoc"))
            & (F.col("tpos") == F.col("tok_idx")),
            "left",
        )
        .filter(F.col("cdoc").isNull() | F.col("any_owned"))
        .select("doc_id", "tpos", "tok")
    )
    full = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return toks, pos_sh, hit, explode_only, own, full


def timed(df, reps=3):
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    return sorted(runs[1:])[0]


def main():
    max_n = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    spark = get_spark("span-ladder", cpus=32, shuffle_partitions=32)
    print(
        f"{'N':>3} {'tok_rows':>10} {'span_rows':>10} {'hit_rows':>11} "
        f"{'explode_s':>9} {'own_s':>7} {'full_s':>7}"
    )
    n = 1
    while n <= max_n:
        d = replicated(spark, n)
        toks, pos_sh, hit, explode_only, own, full = stages(d)
        tok_rows, span_rows, hit_rows = (
            toks.count(),
            pos_sh.count(),
            hit.count(),
        )
        te, to, tf = timed(explode_only), timed(own), timed(full)
        print(
            f"{n:>3} {tok_rows:>10} {span_rows:>10} {hit_rows:>11} "
            f"{te:>9.2f} {to:>7.2f} {tf:>7.2f}",
            flush=True,
        )
        n *= 2
    spark.stop()


if __name__ == "__main__":
    main()
