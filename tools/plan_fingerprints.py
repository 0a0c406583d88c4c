"""Regenerate tests/plan_fingerprints.json and print what changed: the
final-plan fingerprint (plans.plan_fingerprint) of every oracle-backed
entry at sf0.001, taken after `toPandas()` as the oracle test takes it,
and of the entries already under "sf0.01" (add `"<name>": {}` there to
add one) after `queryExecution().toRdd()`.

Each entry has one final plan. AQE re-plans as each query stage finishes,
so a join of two stages that both fit the broadcast threshold broadcasts
whichever finished first, and the final plan varies between runs: a racing
plan is a defect; pin the join with a hint. So an entry with two or more
exchanges runs RUNS times, and one seen with two fingerprints fails the run
(exit status 1, the entry named) without writing the file.

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
    new, racing = {}, []
    for sf, sf_dir, names, run in [
        ("sf0.001", SF_SMOKE, oracle, lambda df: df.toPandas()),
        ("sf0.01", SF_ORACLE, old["sf0.01"], lambda df: df._jdf.queryExecution().toRdd()),
    ]:
        was = old.get(sf, {})
        new[sf] = {}
        for name in sorted(names):
            seen = observe(spark, sf_dir, name, run)
            if len(seen) > 1:
                racing.append(f"{sf} {name}")
                print(sf, name, seen)
            new[sf][name] = fp = seen[0]
            if fp != was.get(name):
                print(sf, name, fingerprint_diff(was[name], fp) if name in was else fp)
        for name in sorted(set(was) - set(new[sf])):
            print(f"{sf} {name}: removed")
    spark.stop()
    if racing:
        sys.exit(f"not written; racing plan: pin the join: {', '.join(racing)}")
    with open(PATH, "w") as f:
        f.write(dump(new))
    print(f"wrote {PATH}")


if __name__ == "__main__":
    main()
