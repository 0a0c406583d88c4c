"""Benchmark harness: session start, seeded inputs, warm-up, the timed
passes, the traced pass and the checks. See run.py for usage."""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GEN_REPEATS = 3
# the fastest of two passes, so that one slowed pass does not set wall_s
MIN_PASSES = 2


@dataclass
class Context:
    spark: object
    work: str
    data_dir: str
    seed: int
    tracer: object
    groups: object
    clock: object = time.perf_counter


def _digest(data_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _git_commit() -> str | None:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _start_spark(work: str):
    from dataselector_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=os.cpu_count(),
        extra_conf={
            # a fixed-size heap keeps peak RSS from following the collector's
            # run-to-run resizing decisions
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={work} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a pass in the status store for the reader
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _workloads():
    from .curation_batch import CurationBatch
    from .qc_session import QcSession

    return {w.name: w for w in (QcSession, CurationBatch)}


def _arrow_metrics(snap, groups) -> dict[str, float]:
    """Python-worker boundary traffic from the SQL metrics of every plan
    node that feeds a Python worker."""
    from .trace import parse_metric

    rows = sent = returned = 0.0
    for eid in snap.execution_ids(groups):
        for node in snap.reader.plan_nodes(eid):
            values = node["values"]
            if "data sent to Python workers" in values:
                sent += parse_metric(values["data sent to Python workers"])
                returned += parse_metric(values.get("data returned from Python workers"))
                rows += parse_metric(values.get("number of output rows"))
    return {
        "arrow.python_rows": rows,
        "arrow.python_bytes_sent_mb": sent / 2**20,
        "arrow.python_bytes_returned_mb": returned / 2**20,
    }


def run(args, spec: dict, work: str) -> dict:
    from . import datagen
    from .trace import JobGroups, NullTracer, Py4JCounter, StatusReader, Tracer, percentile

    workload_cls = _workloads()[args.workload]
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "loadavg_start": os.getloadavg(),
        "git_commit": _git_commit(),
    }
    clock = time.perf_counter
    t0 = clock()
    spark = _start_spark(work)
    session_s = clock() - t0
    try:
        ctx = Context(spark, work, os.path.join(work, "data"), args.seed,
                      NullTracer(), JobGroups(spark, enabled=False))
        wl = workload_cls(ctx)
        gen_s, digests = [], set()
        for _ in range(GEN_REPEATS):
            g0 = clock()
            events = datagen.write_tables(ctx.data_dir, args.seed, wl.sf, wl.tables)
            gen_s.append(clock() - g0)
            digests.add(_digest(ctx.data_dir))
        if len(digests) != 1:
            raise RuntimeError("the same seed generated different inputs")
        w0 = clock()
        wl.prepare(events)
        w1 = clock()
        wl.warm_up()
        setup_s = clock() - t0 - sum(gen_s) + statistics.median(gen_s)
        stamp["setup_parts_s"] = {"session": session_s, "generate": gen_s,
                                  "prepare": w1 - w0, "warm_up": clock() - w1}

        ops, walls, failed = [], [], 0

        def one_pass(idx: int) -> None:
            nonlocal failed
            p0 = clock()
            try:
                ops.extend(wl.run_pass(idx))
            except Exception:
                traceback.print_exc()
                failed += 1
            walls.append(clock() - p0)

        t_start, steal0 = clock(), _steal_s()
        idx = 0
        while True:
            one_pass(idx)
            idx += 1
            if args.trace or (idx >= MIN_PASSES and clock() - t_start >= args.seconds):
                break
        timed_s = clock() - t_start
        stamp["steal_s"] = _steal_s() - steal0

        metrics: dict[str, float] = {}
        if args.trace:
            counter = Py4JCounter()
            counter.install()
            ctx.tracer, ctx.groups.enabled = Tracer(counter), True
            n_ops = len(ops)
            one_pass(0)
            n_ops = len(ops) - n_ops
            counter.uninstall()
            snap = StatusReader(spark).snapshot()
            tr, groups = ctx.tracer, ctx.groups.used
            metrics["session.get_spark_s"] = session_s
            metrics["py4j.cmds"] = counter.n / max(n_ops, 1)
            metrics.update({f"exec.{k}": v for k, v in snap.exec_sums(groups).items()})
            metrics.update(_arrow_metrics(snap, groups))
            metrics.update(wl.layer_metrics(snap, 0))
            # the JVM is still warming up over the first passes, so the
            # traced pass is set against the same pass run untraced after it
            ctx.tracer, ctx.groups.enabled = NullTracer(), False
            one_pass(0)
            metrics["trace.overhead_ratio"] = walls[-2] / walls[-1]
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tr.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        problems = wl.check()
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
        attempted = len(ops) + failed
        failed += len(problems)
        if not args.trace:
            lat = [o["s"] * 1e3 for o in ops] or [0.0]
            metrics = {
                "setup_s": setup_s,
                "wall_s": min(walls),
                "ops_per_s": len(ops) / timed_s,
                "op_p50_ms": percentile(lat, 50),
                "peak_rss_mb": _vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + _vm_hwm_mb("self"),
            }
    finally:
        _stop_spark(spark)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": max(attempted, 1),
        "failed": min(failed, max(attempted, 1)),
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }
    stamp.update(loadavg_end=os.getloadavg(), pass_walls=walls, problems=problems,
                 ops=[[o["name"], round(o["s"], 4)] for o in ops])
    return {"stamp": stamp, "result": result}


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv[:1] == ["compare"]:
        from .compare import main as compare_main

        return compare_main(argv[1:])
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    import dataselector_spark  # noqa: F401  (fail before any set-up when it is missing)

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_work"))
    os.environ["TMPDIR"] = tempfile.tempdir = work
    # the JVM that builds the driver's command line writes perf data to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    try:
        out = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"perfbench": {**out["stamp"], **out["result"]}}))
    print(json.dumps(out["result"]))
    return 0

