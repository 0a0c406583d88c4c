"""Compare two sets of benchmark runs.

Each argument is a file holding the stdout of any number of runs; the
`{"perfbench": ...}` record lines are read from it. For every (end-to-end
metric, workload) pair the table shows each side's median and quartiles and a
verdict under BENCHMARK.json's bound for the metric:

* better     - the second set wins at least 9 of 10 runs paired in file
               order, and the medians differ by more than the first set's
               quartile spread;
* worse      - the second median is worse than the first by more than the
               bound;
* unresolved - the first set's quartile spread exceeds the bound and not
               every run of the second set beats every run of the first;
* same       - otherwise.

Per-layer metrics from traced runs are listed with their medians only; they
have no bound. Exits 1 when any pair is worse.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line)["perfbench"] for line in f if line.startswith('{"perfbench"')]


def _values(records, workload: str, trace: int, metric: str) -> list[float]:
    return [r["metrics"][metric]["value"] for r in records
            if r["workload"] == workload and r["trace"] == trace and metric in r["metrics"]]


def _quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def verdict(a: list[float], b: list[float], bound: float, higher_better: bool) -> str:
    sign = 1 if higher_better else -1
    q1, ma, q3 = _quartiles(a)
    mb = statistics.median(b)
    pairs = list(zip(a, b))
    wins = sum(sign * (y - x) > 0 for x, y in pairs)
    if pairs and wins >= 0.9 * len(pairs) and sign * (mb - ma) > q3 - q1:
        return "better"
    if sign * (mb - ma) < -bound * abs(ma):
        return "worse"
    if (q3 - q1) > bound * abs(ma) and not all(sign * (y - x) > 0 for x in a for y in b):
        return "unresolved"
    return "same"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print("usage: python3 perfbench/run.py compare BEFORE.txt AFTER.txt", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    before, after = load(argv[0]), load(argv[1])
    workloads = [w["name"] for w in spec["workloads"]]
    worse = False
    print(f"{'metric':28s} {'workload':15s} {'before median [q1, q3]':>34s} "
          f"{'after median [q1, q3]':>34s}  verdict")
    for m in spec["end_to_end"]:
        for w in workloads:
            a, b = (_values(r, w, 0, m["name"]) for r in (before, after))
            if not a or not b:
                continue
            v = verdict(a, b, m["bound"], m["better"] == "higher")
            worse |= v == "worse"
            qa, qb = _quartiles(a), _quartiles(b)
            print(f"{m['name']:28s} {w:15s} {qa[1]:12.4g} [{qa[0]:.4g}, {qa[2]:.4g}] n={len(a):<3d}"
                  f" {qb[1]:12.4g} [{qb[0]:.4g}, {qb[2]:.4g}] n={len(b):<3d} {v}")
    for m in spec["per_layer"]:
        for w in workloads:
            a, b = (_values(r, w, 1, m["name"]) for r in (before, after))
            if a and b and (any(a) or any(b)):
                print(f"{m['name']:52s} {w:15s} {statistics.median(a):12.4g} "
                      f"{statistics.median(b):12.4g} {m['unit']}")
    return 1 if worse else 0
