"""BENCH_RECORDS.json bookkeeping (VERDICT r14 "Next round" #3).

The min-of-N record adjudication depends on raw per-reading walls; r14's
closing v1 record existed only as COVERAGE.md prose.  bench.py child mode
now appends every sf0.1 frozen-set reading to the committed
BENCH_RECORDS.json — these tests pin that machinery's contract."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402
    _RECORD_RING,
    BENCH_ROUND,
    CPU_PROBE_REF,
    HEADLINE,
    SETS,
    _record_reading,
    headline_record,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tmp_records(tmp_path, sets=("v1",), record=10.0):
    path = str(tmp_path / "records.json")
    with open(path, "w") as f:
        json.dump(
            {"sets": {k: {"record_wall": record, "readings": []} for k in sets}},
            f,
        )
    return path


def test_reading_appended_and_record_untouched_when_slower(tmp_path):
    path = _tmp_records(tmp_path)
    _record_reading("v1", 12.5, 0.8, 0.55, 2, 0.1, path=path)
    data = json.load(open(path))
    entry = data["sets"]["v1"]
    assert entry["record_wall"] == 10.0
    assert entry["readings"] == [
        {
            "wall": 12.5,
            "source": f"child_{BENCH_ROUND}",
            "reps": 2,
            "cpu_probe_s": 0.8,
            "cpu_probe_multi_s": 0.55,
        }
    ]


def test_record_lowered_and_round_stamped_when_beaten(tmp_path):
    path = _tmp_records(tmp_path)
    _record_reading("v1", 9.25, None, None, 2, 0.1, path=path)
    entry = json.load(open(path))["sets"]["v1"]
    assert entry["record_wall"] == 9.25
    assert entry["record_round"] == BENCH_ROUND
    # probes omitted when unavailable — readings stay compact
    assert "cpu_probe_s" not in entry["readings"][0]


def test_non_graded_sf_is_a_noop(tmp_path):
    path = _tmp_records(tmp_path)
    _record_reading("v1", 1.0, 0.8, 0.55, 2, 0.01, path=path)
    entry = json.load(open(path))["sets"]["v1"]
    assert entry["record_wall"] == 10.0 and entry["readings"] == []


def test_ring_buffer_caps_readings(tmp_path):
    path = _tmp_records(tmp_path)
    for i in range(_RECORD_RING + 7):
        _record_reading("v1", 100.0 + i, None, None, 2, 0.1, path=path)
    entry = json.load(open(path))["sets"]["v1"]
    assert len(entry["readings"]) == _RECORD_RING
    # newest last, oldest 7 evicted
    assert entry["readings"][-1]["wall"] == 100.0 + _RECORD_RING + 6
    assert entry["readings"][0]["wall"] == 107.0


def test_unknown_set_created_not_crashed(tmp_path):
    """A future v13 set must start recording before anyone seeds it."""
    path = _tmp_records(tmp_path)
    _record_reading("v13", 5.0, None, None, 2, 0.1, path=path)
    entry = json.load(open(path))["sets"]["v13"]
    assert entry["record_wall"] == 5.0


def test_committed_seed_covers_every_frozen_set():
    """BENCH_RECORDS.json must carry a standing record for every frozen
    bench set, so 'is this a record?' is always answerable from the
    artifact."""
    with open(os.path.join(REPO, "BENCH_RECORDS.json")) as f:
        data = json.load(f)
    missing = [k for k in SETS if k not in data["sets"]]
    assert not missing, f"sets without a records row: {missing}"
    for k, entry in data["sets"].items():
        assert isinstance(entry["record_wall"], (int, float)), k
        assert entry["record_wall"] > 0, k


def test_bench_round_matches_active_window():
    """BENCH_ROUND labels new record readings; the driver-window rotation
    defines what round it IS. The two live in different files and must be
    bumped together — this pins them atomically."""
    from dataselector_spark.suite import WINDOW_ROUND

    assert BENCH_ROUND == f"r{WINDOW_ROUND}", (
        f"bench.BENCH_ROUND={BENCH_ROUND!r} but the active suite window is "
        f"r{WINDOW_ROUND} — bump them in the same commit"
    )


# The final JSON line's keys, in order, as bench.py printed them before the
# per-set walls were computed by one loop over SETS. Readers of older
# BENCH_r*.json artifacts parse these names.
HEADLINE_KEYS = [
    "metric", "isolated_walls", "isolated_probes", "isolated_method",
    "isolated_runs", "probe_spread", "multi_probe_spread", "contended",
    "value", "unit", "sf", "cpus", "n_queries", "queries", "headline_n",
    *[f"headline_v{i}_{k}" for i in range(2, 13) for k in ("wall", "n")],
    "extra_r6_wall", "method", "reps", "cpu_probe_s", "cpu_probe_multi_s",
    "cpu_probe_ref", "value_normalized",
    *[f"headline_v{i}_wall_normalized" for i in range(2, 7)],
]


def test_headline_record_keys_and_values():
    names = [n for ns in SETS.values() for n in ns]
    timings = {n: round(0.1 + (i % 7) * 0.013, 3) for i, n in enumerate(names)}
    isolated = {
        k: {"wall": 1.0 + i, "cpu_probe_s": 1.0, "probe_runs": [1.0, 1.05],
            "multi_probe_runs": [2.0, 2.5]}
        for i, k in enumerate(SETS)
    }
    rec = headline_record(
        timings, isolated, 3, sf=0.1, cpus=4, reps=3, probe=1.0, multi_probe=2.0
    )
    assert list(rec) == HEADLINE_KEYS
    json.dumps(rec)  # one JSON line
    scale = CPU_PROBE_REF / 1.0
    v1 = round(sum(timings[n] for n in HEADLINE), 3)
    assert rec["value"] == v1
    assert rec["value_normalized"] == round(v1 * scale, 3)
    for key, ns in SETS.items():
        if key == "v1":
            continue
        wall = round(sum(timings[n] for n in ns), 3)
        assert rec[f"headline_{key}_wall"] == wall, key
        assert rec[f"headline_{key}_n"] == len(ns), key
    assert rec["extra_r6_wall"] == rec["headline_v2_wall"]
    assert rec["headline_v6_wall_normalized"] == round(
        rec["headline_v6_wall"] * scale, 3
    )
    assert rec["isolated_walls"] == {k: 1.0 + i for i, k in enumerate(SETS)}
    assert rec["probe_spread"] == 1.05
    assert rec["multi_probe_spread"] == 1.25
    assert rec["contended"] is True
    assert rec["n_queries"] == len(timings)
