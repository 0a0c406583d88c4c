"""tools/ladder.py runs the shipped entry on replicated tables and reports
bytes next to walls."""

import json
import os

from tools.ladder import run

FIELDS = {
    "wall_s", "build_s", "build_jobs", "build_py4j", "exec_s", "executor_cpu_s",
    "shuffle_write_b", "shuffle_read_b", "spill_b", "rows", "result_hash", "fingerprint",
}


def test_ladder_runs_the_suite_entry_on_replicated_documents(spark, sf_dir):
    one, two = run(spark, ["b13_ngram_jaccard"], [1, 2], ["documents"], base=sf_dir)
    for rec in (one, two):
        assert FIELDS <= set(rec), FIELDS - set(rec)
        assert rec["shuffle_write_b"] > 0
    assert (one["rung"], two["rung"]) == (1, 2)
    assert one["input_rows"] > 0
    assert two["input_rows"] == 2 * one["input_rows"]
    with open(os.path.join(os.path.dirname(__file__), "plan_fingerprints.json")) as f:
        recorded = json.load(f)["sf0.001"]["b13_ngram_jaccard"]
    assert one["fingerprint"] == recorded
