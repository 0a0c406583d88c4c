"""Scale ladder over the shipped suite entries: time `QUERIES[name].fn` at
growing copies of the input tables and report bytes next to walls.

    python -m tools.ladder <entry> [<entry> ...] --rungs 1,4,10
        [--replicate documents,embeddings] [--base DIR]

Replication. Rung 1 is --base itself (default: the sf0.1 testdata, as in
bench.py). At rung N > 1, each table named in --replicate is written to a
scratch sf directory as N copies, and every other table there is a link to
the base table. Copy c adds c * SPAN to each of the table's
OFFSET_COLUMNS, SPAN being the smallest power of ten above every value
those columns hold in the replicated base tables, so ids stay unique.
Every other column, text and vectors included, is copied as is: each copy
is an exact duplicate under new ids. A hot-key case runs on
tools/make_skew_fixture.py's output as --base.

Timing is bench.py's method: per (entry, rung), 3 runs of the entry into
the noop sink, the first dropped, the median of the other two reported.
Each CLI invocation is one fresh JVM. After the timed runs, the entry runs
once more untimed to take the final-plan fingerprint
(plans.plan_fingerprint), and the status stores are read. When every entry
of the rung has run, each runs once more for its row count and an
order-independent hash of its result rows over `hash_columns`: the columns
all entries of the invocation share, or the entry's own columns when they
share none. So two exact alternatives timed together show equal hashes.

One JSON line per (entry, rung), each counter the median of the two warm
runs:
    wall_s, build_s, exec_s   the entry call, the noop write, their sum;
    build_jobs, build_py4j    Spark jobs and Py4J commands inside the call;
    executor_cpu_s, shuffle_write_b, shuffle_read_b, spill_b, input_rows
                              summed over the stages of both parts
                              (input_rows: rows the scans read);
    rows, result_hash, hash_columns, fingerprint.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from dataselector_spark.catalog import table_path  # noqa: E402
from dataselector_spark.plans import plan_fingerprint  # noqa: E402
from dataselector_spark.session import get_spark  # noqa: E402
from dataselector_spark.suite import QUERIES  # noqa: E402
from perfbench.trace import JobGroups, Py4JCounter, StatusReader  # noqa: E402

BASE = "/root/testdata/sf0.1"
REPS = 3

# table -> the id columns each copy offsets
OFFSET_COLUMNS = {
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "events": ("event_id", "user_id"),
}


def rung_dir(base: str, tables: list[str], rung: int) -> str:
    """The sf directory of one rung (see the module docstring)."""
    if rung == 1 or not tables:
        return base
    import duckdb

    out = os.path.join(
        tempfile.gettempdir(), "ladder",
        f"{os.path.basename(os.path.normpath(base))}_{'-'.join(tables)}_x{rung}",
    )
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con = duckdb.connect()
    top = max(
        con.sql(f"SELECT max({c}) FROM '{table_path(base, t)}'").fetchone()[0] or 0
        for t in tables for c in OFFSET_COLUMNS[t]
    )
    span = 10 ** len(str(top))
    for entry in sorted(os.listdir(base)):
        table = entry.removesuffix(".parquet")
        if table not in tables:
            os.symlink(os.path.join(os.path.abspath(base), entry), os.path.join(out, entry))
            continue
        src = table_path(base, table)
        types = {r[0]: r[1] for r in con.sql(f"DESCRIBE SELECT * FROM '{src}'").fetchall()}
        copies = " UNION ALL ".join(
            "SELECT * REPLACE ("
            + ", ".join(f"CAST({c} + {k * span} AS {types[c]}) AS {c}" for c in OFFSET_COLUMNS[table])
            + f") FROM '{src}'"
            for k in range(rung)
        )
        con.sql(f"COPY ({copies}) TO '{table_path(out, table)}' (FORMAT PARQUET)")
    return out


def _result(df, columns: list[str]) -> dict:
    """Row count and the wrapping sum of one 64-bit hash per row, taken over
    the JSON text of the row's `columns`, so integer widths do not change it."""
    row = F.struct(*[F.col(f"`{c}`") for c in columns])
    n, h = df.agg(
        F.count(F.lit(1)), F.sum(F.xxhash64(F.to_json(row)).cast("decimal(38,0)"))
    ).first()
    return {"rows": n, "result_hash": f"{int(h or 0) % 2**64:016x}", "hash_columns": columns}


def _stage_sums(snap, groups: set[str]) -> dict[str, float]:
    ids = {s for j in snap.jobs if j.get("jobGroup") in groups for s in j["stageIds"]}
    stages = [s for (sid, _), s in snap.stages.items() if sid in ids]
    sums = snap.exec_sums(groups)
    return {
        "executor_cpu_s": round(sums["executor_cpu_s"], 3),
        "shuffle_write_b": round(sums["shuffle_write_mb"] * 2**20),
        "shuffle_read_b": round(sums["shuffle_read_mb"] * 2**20),
        "spill_b": round(sums["spill_mb"] * 2**20),
        "input_rows": sum(s["inputRecords"] for s in stages),
    }


def measure(spark, name: str, sf_dir: str, counter: Py4JCounter, tag: str):
    """One (entry, sf directory) reading without its result hash, and the
    entry's last DataFrame; see the module docstring."""
    fn = QUERIES[name].fn
    groups = JobGroups(spark, enabled=True)
    reps = []
    for i in range(REPS):
        groups.set(f"{tag}:{i}:build", name)
        n0, t0 = counter.n, time.perf_counter()
        df = fn(spark, sf_dir)
        t1, n1 = time.perf_counter(), counter.n
        groups.set(f"{tag}:{i}:exec", name)
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        reps.append({"build_s": t1 - t0, "exec_s": t3 - t2, "build_py4j": n1 - n0})
    groups.clear()
    df._jdf.queryExecution().toRdd()
    fingerprint = plan_fingerprint(df)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    snap = StatusReader(spark).snapshot()
    for i, rep in enumerate(reps):
        rep["wall_s"] = rep["build_s"] + rep["exec_s"]
        rep["build_jobs"] = len(snap.job_ids({f"{tag}:{i}:build"}))
        rep.update(_stage_sums(snap, {f"{tag}:{i}:build", f"{tag}:{i}:exec"}))
    record = {}
    for key in ("wall_s", "build_s", "build_jobs", "build_py4j", "exec_s",
                "executor_cpu_s", "shuffle_write_b", "shuffle_read_b", "spill_b",
                "input_rows"):
        value = statistics.median(rep[key] for rep in reps[1:])
        record[key] = round(value, 3) if key.endswith("_s") else round(value)
    return {**record, "fingerprint": fingerprint}, df


def run(spark, entries, rungs, replicate=(), base: str = BASE):
    """Yield one record per (entry, rung), rung by rung."""
    unknown = [t for t in replicate if t not in OFFSET_COLUMNS]
    if unknown:
        raise ValueError(f"cannot replicate {unknown}; OFFSET_COLUMNS has {sorted(OFFSET_COLUMNS)}")
    counter = Py4JCounter()
    counter.install()
    try:
        for rung in rungs:
            sf_dir = rung_dir(base, list(replicate), rung)
            done = [measure(spark, name, sf_dir, counter, f"ladder:{name}:{rung}")
                    for name in entries]
            shared = [c for c in done[0][1].columns
                      if all(c in df.columns for _, df in done)]
            for name, (rec, df) in zip(entries, done):
                yield {"entry": name, "rung": rung, **rec, **_result(df, shared or df.columns)}
    finally:
        counter.uninstall()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("entries", nargs="+", choices=sorted(QUERIES), metavar="entry")
    ap.add_argument("--rungs", default="1", help="comma-separated copy counts")
    ap.add_argument("--replicate", default="", help="comma-separated tables to copy")
    ap.add_argument("--base", default=BASE, help="base sf directory")
    args = ap.parse_args()
    rungs = [int(r) for r in args.rungs.split(",")]
    tables = [t for t in args.replicate.split(",") if t]
    spark = get_spark("ladder")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up, as bench.py
    for rec in run(spark, args.entries, rungs, tables, args.base):
        print(json.dumps(rec), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
