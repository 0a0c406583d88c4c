"""Run the complete DuckDB oracle differential at any SF dir — the same
check the driver runs at sf0.01, promoted from an ad-hoc script after
r9's first full sf0.1 sweep (228/228, 602 s) proved the suite holds at
10x the driver's scale.

Prints one line per failure and a final TOTAL line; progress bars are
suppressed-hostile (grep -a the output). Exit code 1 on any failure so
it can gate scripts.

Usage: python tools/full_differential.py [sf_dir] [cpus] [--window N]
                                          [--ansi]
       (defaults: /root/testdata/sf0.01, 8; --window N sweeps only the
       FIRST N registered entries — the driver's exact view, for fast
       pre-round checks of a rotated window; --ansi runs the Spark side
       under spark.sql.ansi.enabled=true — VERDICT r13 #2: any silently
       wrapped int64 or lazy-CASE divide-by-zero becomes a loud failure)
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"
    ),
)

from dataselector_spark.catalog import mark_session_pinned
from dataselector_spark.session import get_spark
from dataselector_spark.suite import QUERIES
from oracle_harness import compare


def main():
    argv = sys.argv[1:]
    window = 0
    if "--window" in argv:
        i = argv.index("--window")
        window = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    ansi = "--ansi" in argv
    args = [a for a in argv if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    cpus = int(args[1]) if len(args) > 1 else 8
    spark = get_spark(
        "full-differential",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={"spark.sql.ansi.enabled": "true"} if ansi else None,
    )
    if ansi:
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        # r16: pin the OTHER session defaults ourselves and mark the
        # session as pinned — catalog.ensure_session_defaults would
        # otherwise flip ansi back OFF on the first load_table, silently
        # un-ANSI-ing the sweep after the first table load.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        mark_session_pinned(spark)
        print("ANSI MODE: spark.sql.ansi.enabled=true", flush=True)
    n_pass = n_fail = 0
    t0 = time.time()
    items = list(QUERIES.items())
    if window:
        items = items[:window]
    for name, q in items:
        if q.oracle is None:
            continue
        try:
            ok, detail = compare(spark, sf_dir, q.fn, q.oracle)
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            ok, detail = False, f"EXC {ex}"[:300]
        if ok:
            n_pass += 1
        else:
            n_fail += 1
            print("FAIL", name, detail[:300], flush=True)
    print(
        f"TOTAL {n_pass} pass {n_fail} fail "
        f"{round(time.time() - t0, 1)} s @ {sf_dir}"
        + (" [ANSI]" if ansi else ""),
        flush=True,
    )
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
