"""Final-plan fingerprints (plans.plan_fingerprint) of the suite entries,
asserted exactly against tests/plan_fingerprints.json: at sf0.001 for every
oracle entry, inside test_suite_oracle.py::test_oracle_match; at sf0.01 for
the slowest tier, where a small side outgrowing the broadcast threshold
turns a broadcast join into a shuffle join, here. After a deliberate plan
change, regenerate the file with REGENERATE and commit it."""

import json
import os

import pytest

from dataselector_spark.plans import fingerprint_diff, plan_fingerprint
from dataselector_spark.suite import QUERIES

with open(os.path.join(os.path.dirname(__file__), "plan_fingerprints.json")) as _f:
    RECORDED = json.load(_f)
REGENERATE = "python tools/plan_fingerprints.py"


def check_fingerprint(name: str, sf: str, df) -> None:
    """Fail with a per-field diff unless the final plan of the executed df
    matches its one record exactly. Each entry has one final plan: a plan
    that races (AQE broadcasting whichever join side's stage finished
    first) is a defect, so pin the join rather than re-run."""
    recorded = RECORDED[sf].get(name)
    assert recorded is not None, f"{name} has no {sf} fingerprint; run `{REGENERATE}`"
    actual = plan_fingerprint(df)
    assert actual == recorded, (
        f"{name} final plan at {sf} changed "
        f"({'; '.join(fingerprint_diff(recorded, actual))}); if that is "
        f"intended, run `{REGENERATE}` and commit the file"
    )


@pytest.mark.parametrize("name", sorted(RECORDED["sf0.01"]))
def test_final_plan_fingerprint_sf0_01(spark, sf_oracle_dir, name):
    df = QUERIES[name].fn(spark, sf_oracle_dir)
    df._jdf.queryExecution().toRdd()
    check_fingerprint(name, "sf0.01", df)


def test_recorded_names_match_the_suite():
    """Every oracle entry has an sf0.001 record (so a new entry cannot go
    unrecorded), every recorded name is a suite entry, and every record is
    one fingerprint dict."""
    oracle = {n for n, q in QUERIES.items() if q.oracle is not None}
    assert oracle == set(RECORDED["sf0.001"]), sorted(oracle ^ set(RECORDED["sf0.001"]))
    assert set(RECORDED["sf0.01"]) <= set(QUERIES), set(RECORDED["sf0.01"]) - set(QUERIES)
    for sf in ("sf0.001", "sf0.01"):
        lists = sorted(n for n, fp in RECORDED[sf].items() if not isinstance(fp, dict))
        assert not lists, f"{sf} records more than one plan for {lists}"


def test_unexecuted_adaptive_plan_raises(spark):
    with pytest.raises(ValueError, match="not final"):
        plan_fingerprint(spark.range(10).repartition(2))
