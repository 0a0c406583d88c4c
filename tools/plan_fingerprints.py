"""Regenerate tests/plan_fingerprints.json and print what changed: the
final-plan fingerprint (plans.plan_fingerprint) of every oracle-backed
entry at sf0.001, taken after `toPandas()` as the oracle test takes it,
and of the entries already under "sf0.01" (add `"<name>": {}` there to
add one) after `queryExecution().toRdd()`.

AQE re-plans as each query stage finishes, so a join of two small stages
broadcasts whichever finished first and the final plan can vary between
runs (the entries recorded as lists do). So an entry with two
or more exchanges runs RUNS times, and one seen with several fingerprints
records the list; the tests accept any member, re-running the entry a few
times before they fail it. Fingerprints seen alongside a recorded one join
it; if no run matches, they replace it.

Run from the repo root: python tools/plan_fingerprints.py
"""

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dataselector_spark.plans import fingerprint_diff, plan_fingerprint  # noqa: E402
from dataselector_spark.session import get_spark  # noqa: E402
from dataselector_spark.suite import QUERIES  # noqa: E402
from tests.conftest import SF_ORACLE, SF_SMOKE  # noqa: E402

PATH = os.path.join(REPO, "tests", "plan_fingerprints.json")
RUNS = 6


def observe(spark, sf_dir: str, name: str, run) -> list[dict]:
    """The distinct fingerprints of RUNS runs of one entry; one run when its
    plan has fewer than two exchanges, so no two stages can race."""
    seen = []
    for _ in range(RUNS):
        df = QUERIES[name].fn(spark, sf_dir)
        run(df)
        fp = plan_fingerprint(df)
        if fp not in seen:
            seen.append(fp)
        if fp.get("exchange", 0) + fp.get("broadcast_exchange", 0) < 2:
            break
    return seen


def record(old, seen: list[dict]):
    recorded = old if isinstance(old, list) else [old]
    if any(fp in recorded for fp in seen):
        seen = recorded + [fp for fp in seen if fp not in recorded]
    return seen if len(seen) > 1 else seen[0]


def dump(data: dict) -> str:
    """One entry per line, so a regeneration diff names the entries."""
    blocks = []
    for sf, recs in data.items():
        rows = ",\n".join(f"    {json.dumps(n)}: {json.dumps(fp)}" for n, fp in recs.items())
        blocks.append(f"  {json.dumps(sf)}: {{\n{rows}\n  }}")
    return "{\n" + ",\n".join(blocks) + "\n}\n"


def main() -> None:
    with open(PATH) as f:
        old = json.load(f)
    oracle = [n for n, q in QUERIES.items() if q.oracle is not None]
    # the same session shape as the tests' `spark` fixture (tests/conftest.py)
    spark = get_spark("plan-fingerprints", cpus=8, shuffle_partitions=8)
    new = {}
    for sf, sf_dir, names, run in [
        ("sf0.001", SF_SMOKE, oracle, lambda df: df.toPandas()),
        ("sf0.01", SF_ORACLE, old["sf0.01"], lambda df: df._jdf.queryExecution().toRdd()),
    ]:
        was = old.get(sf, {})
        new[sf] = {}
        for name in sorted(names):
            new[sf][name] = rec = record(was.get(name), observe(spark, sf_dir, name, run))
            if rec != was.get(name):
                both = isinstance(rec, dict) and isinstance(was.get(name), dict)
                print(sf, name, fingerprint_diff(was[name], rec) if both else rec)
        for name in sorted(set(was) - set(new[sf])):
            print(f"{sf} {name}: removed")
    spark.stop()
    with open(PATH, "w") as f:
        f.write(dump(new))
    print(f"wrote {PATH}")


if __name__ == "__main__":
    main()
