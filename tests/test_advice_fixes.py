"""Regression tests for the round-1 advisor findings (ADVICE.md) and the
round-1 verdict's scale fixes (VERDICT.md items 3-6)."""

import pytest
from pyspark.sql import functions as F

from dataselector_spark.operators.asof import asof_join
from dataselector_spark.operators.dedup import (
    connected_components,
    dedup_survivors,
    ngram_jaccard_pairs,
)
from dataselector_spark.operators.merge import merge_upsert
from dataselector_spark.operators.skew import salted_join
from dataselector_spark.operators.validate import in_range, not_null, run_checks


# --- ADVICE 1: asof_join must attach the matched right row ATOMICALLY -------


def test_asof_join_null_in_nearest_row_stays_null(spark):
    """A NULL payload cell in the nearest-earlier right row must surface as
    NULL, not be back-filled from an older right row (pandas/DuckDB ASOF
    attach whole rows)."""
    left = spark.createDataFrame([("k", 10)], "k string, ts int")
    right = spark.createDataFrame(
        [("k", 1, "old_a", "old_b"), ("k", 5, None, "new_b")],
        "k string, ts int, a string, b string",
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts").collect()
    assert len(out) == 1
    row = out[0]
    # nearest row is ts=5 → (NULL, new_b); the composite (old_a, new_b) is the bug
    assert row["a_asof"] is None
    assert row["b_asof"] == "new_b"


def test_asof_join_no_match_all_null(spark):
    left = spark.createDataFrame([("k", 1)], "k string, ts int")
    right = spark.createDataFrame([("k", 5, "x")], "k string, ts int, a string")
    row = asof_join(left, right, on="k").collect()[0]
    assert row["a_asof"] is None


# --- ADVICE 2: salted_join rejects row-duplicating join types ----------------


def test_salted_join_rejects_right_and_full(spark, sf_dir):
    e = spark.range(10).withColumnRenamed("id", "k")
    d = spark.range(3).withColumnRenamed("id", "k")
    for how in ("right", "full", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(e, d, "k", buckets=4, how=how)
    # allowed forms still work and match the plain join
    assert salted_join(e, d, "k", buckets=4, how="left").count() == 10
    assert salted_join(e, d, "k", buckets=4, how="inner").count() == 3


# --- ADVICE 4: merge_upsert NULL-key rows must not accumulate ----------------


def test_merge_upsert_null_key_replaces_not_duplicates(spark):
    target = spark.createDataFrame([(None, "t"), ("a", "t")], "k string, v string")
    source = spark.createDataFrame([(None, "s")], "k string, v string")
    once = merge_upsert(target, source, ["k"])
    twice = merge_upsert(once, source, ["k"])
    assert once.count() == 2  # NULL-key target replaced, 'a' survives
    assert twice.count() == 2  # idempotent — no accumulation
    vals = {r["v"] for r in twice.filter(F.col("k").isNull()).collect()}
    assert vals == {"s"}


# --- ADVICE 5: run_checks on an empty batch reports 0 violations / ok=true ---


def test_run_checks_empty_input_reports_ok(spark):
    empty = spark.createDataFrame([], "x double")
    out = run_checks(empty, [not_null("x"), in_range("x", 0, 1)]).collect()
    assert len(out) == 2
    for row in out:
        assert row["violations"] == 0
        assert row["total"] == 0
        assert row["ok"] is True


# --- VERDICT 3: dedup_survivors must not force-broadcast the loser set -------


def test_dedup_survivors_plan_has_no_forced_broadcast(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 50, 2)], "id_a bigint, id_b bigint"
    )
    out = dedup_survivors(docs, pairs)
    # The loser relation must carry no user broadcast hint: with a plain plan
    # AQE is free to pick SMJ for a huge loser set. (AQE may still broadcast
    # small sides at runtime — that is the desired behavior; what we assert
    # is the absence of the compile-time ResolvedHint.)
    logical = out._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical
    # semantics unchanged: losers (odd ids in the paired range) removed
    survivors = {r["doc_id"] for r in out.collect()}
    assert len(survivors) == 100 - 25
    assert all(i in survivors for i in range(50, 100))


# --- VERDICT 4: shingle document-frequency cap bounds hot buckets ------------


def test_ngram_df_cap_bounds_stop_phrase_blowup(spark):
    # 40 documents all sharing one stop-phrase shingle, otherwise unique.
    stop = "the quick brown"
    rows = [(i, f"{stop} unique{i} token{i} tail{i}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    uncapped = ngram_jaccard_pairs(docs, n=3, threshold=0.0)
    capped = ngram_jaccard_pairs(docs, n=3, threshold=0.0, df_cap=10)
    # Without the cap the shared shingle alone creates 40*39/2 = 780 pairs;
    # with df_cap=10 the hot shingle is dropped from the index and the unique
    # tails share nothing → no candidate pairs at all.
    assert uncapped.count() == 780
    assert capped.count() == 0


def test_ngram_df_cap_keeps_true_near_dups(spark):
    # Two real near-duplicates + a hot stop-phrase across the corpus: the cap
    # must kill the stop-phrase bucket but keep the true pair.
    stop = "lorem ipsum dolor"
    rows = [(i, f"{stop} filler{i} words{i} here{i}") for i in range(30)]
    rows += [(100, "alpha beta gamma delta epsilon"), (101, "alpha beta gamma delta zeta")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = ngram_jaccard_pairs(docs, n=3, threshold=0.3, df_cap=10).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(100, 101)}


# --- VERDICT 6: durable materialization modes ---------------------------------


def test_connected_components_materialize_modes(spark, tmp_path):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    expected = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    # reliable mode needs a checkpoint dir
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    for mode in ("local", "persist", "reliable", False):
        # the per-round convergence count is an Observation that must fire
        # in every mode: 3 -> 1 changed labels, then the no-change round
        stats = {}
        got = {
            (r["id"], r["comp"])
            for r in connected_components(
                pairs, materialize=mode, stats=stats
            ).collect()
        }
        assert got == expected, mode
        assert stats["rounds"] == 3, (mode, stats)


def test_connected_components_duplicate_reversed_self_pairs(spark, tmp_path):
    """Repeated, reversed (id_a > id_b) and self pairs must still give
    exactly one label per node and the min-id component, in every mode."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 2), (3, 3), (7, 7), (9, 8), (8, 9)],
        "id_a bigint, id_b bigint",
    )
    expected = {1: 1, 2: 1, 3: 1, 7: 7, 8: 8, 9: 8}
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    for mode in ("local", "persist", "reliable", False):
        rows = connected_components(pairs, materialize=mode).collect()
        assert len(rows) == len(expected), (mode, rows)
        assert {r["id"]: r["comp"] for r in rows} == expected, mode


def test_connected_components_reads_pairs_in_one_branch(spark, tmp_path):
    """The adjacency is one projection over the pair plan, not a union of
    branches that each re-read it: with materialize=False the executed
    plan of the labels (adjacency inlined) holds no Union."""
    path = str(tmp_path / "pairs.parquet")
    spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    ).write.parquet(path)
    comp = connected_components(spark.read.parquet(path), materialize=False)
    got = {(r["id"], r["comp"]) for r in comp.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    plan = comp._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan, plan[:3000]


# --- driver-window pinning ----------------------------------------------------


def _driver_results():
    """Latest per-entry driver verdict (+ the round it came from) across
    every CORRECTNESS_r*.json."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    results = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for name, row in json.load(f).items():
                results[name] = dict(row, __round=rnd)  # later rounds win
    return results


# The driver regenerated /root/testdata between rounds 3 and 4 (VERDICT r4);
# a green driver row from before that proves nothing about the CURRENT
# parquet, so pre-regen entries count as needing a fresh row.
_TESTDATA_REGEN_ROUND = 4


def test_driver_window_targets_unchecked_entries():
    """The driver checks the FIRST 50 entries of queries() each round, so a
    forgotten rotation burns the whole round re-checking green entries
    (this happened between rounds 2 and 3 — VERDICT r2 'What's wrong' #2).

    Generalized invariant, derived from the CORRECTNESS_r*.json artifacts
    rather than a hand-pinned list: every window slot must go to an entry
    that NEEDS a driver row — never checked, red (hash_match False),
    crashed (err other than no_oracle), pre-regen, or rewritten since its
    last driver row (suite REWRITTEN_IN_ROUND, ADVICE r6 #3) — as long as
    such entries exist outside the window.  If this fails after a new
    CORRECTNESS file lands, rotate the window list in
    dataselector_spark/suite/__init__.py."""
    from dataselector_spark.suite import REWRITTEN_IN_ROUND, QUERIES

    results = _driver_results()

    def needs_row(name):
        row = results.get(name)
        if row is None:
            return True  # never driver-checked
        if row.get("hash_match") is False:
            return True  # red — needs a re-check
        err = row.get("err")
        if err is not None and err != "no_oracle":
            return True  # crashed
        if err == "no_oracle" and QUERIES[name].oracle is not None:
            return True  # oracle added/upgraded since the last driver row
        if row["__round"] < _TESTDATA_REGEN_ROUND:
            return True  # last checked against the pre-regen testdata
        if row["__round"] < REWRITTEN_IN_ROUND.get(name, 0):
            return True  # implementation rewritten since the last row
        return False

    window = list(QUERIES)[:50]
    assert len(set(window)) == 50
    candidates = [n for n in QUERIES if needs_row(n)]
    waiting_outside = [n for n in candidates if n not in window]
    wasted_slots = [n for n in window if not needs_row(n)]
    assert not (waiting_outside and wasted_slots), (
        f"driver window wastes slots on already-green entries {wasted_slots[:5]} "
        f"while {len(waiting_outside)} unchecked/red entries wait outside "
        f"(e.g. {waiting_outside[:5]}); rotate suite/__init__.py's window list"
    )


def test_rewritten_in_round_has_no_repeated_key():
    """A dict literal keeps the LAST of two equal keys, so a repeated line
    in REWRITTEN_IN_ROUND silently overrides the earlier one. Read the
    literal itself, not the dict."""
    import ast
    import collections

    import dataselector_spark.suite as suite

    with open(suite.__file__) as f:
        (literal,) = [
            n.value for n in ast.parse(f.read()).body
            if isinstance(n, ast.Assign)
            and getattr(n.targets[0], "id", None) == "REWRITTEN_IN_ROUND"
        ]
    counts = collections.Counter(k.value for k in literal.keys)
    assert max(counts.values()) == 1, counts.most_common(3)


def test_driver_window_no_complex_output_columns(spark):
    """The driver's canonicalizer crashes on array/map/struct output columns
    (CORRECTNESS_r01 b06_approx_percentile: pandas 'unhashable type: list').
    Every windowed entry must emit scalar columns only."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from dataselector_spark.suite import QUERIES

    sf = "/root/testdata/sf0.001"
    bad = {}
    for name in list(QUERIES)[:50]:
        schema = QUERIES[name].fn(spark, sf).schema
        complex_cols = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            bad[name] = complex_cols
    assert not bad, f"complex output columns would crash the driver: {bad}"


# --- storage-layout utilities -------------------------------------------------


def test_range_clustered_write_prunes_files(spark, tmp_path):
    """Clustered layout: a selective filter on the cluster key must read a
    strict subset of files (parquet footer min/max pruning)."""
    from dataselector_spark.catalog import load_table
    from dataselector_spark.operators.layout import cluster_by_zorder

    path = str(tmp_path / "clustered")
    e = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "value"
    )
    cluster_by_zorder(e, F.col("user_id"), 8).write.parquet(path)
    lo = e.agg({"user_id": "min"}).first()[0]
    df = spark.read.parquet(path).filter(F.col("user_id") == lo)
    files_read = df.select(F.input_file_name()).distinct().count()
    import os

    n_files = sum(f.endswith(".parquet") for f in os.listdir(path))
    assert n_files == 8
    assert files_read <= 2, files_read  # one boundary overlap allowed
    assert df.count() == e.filter(F.col("user_id") == lo).count()


# --- asof_join differential vs pandas merge_asof ------------------------------


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property: on randomized keyed time series, asof_join must agree with
    pandas.merge_asof (backward, inclusive) row for row — including NULL
    payload cells inside matched rows."""
    import pandas as pd

    rng_rows = []
    # Deterministic pseudo-random data: 3 keys, scattered ts, NULLs mixed in.
    for i in range(240):
        k = f"k{(i * 7) % 3}"
        ts = (i * 2654435761) % 1000
        rng_rows.append((k, ts, float(i), None if i % 5 == 0 else f"v{i}"))
    right_rows = rng_rows[::2]
    left_rows = [(k, (ts + 1) % 1000) for (k, ts, _v, _s) in rng_rows[1::2]]

    right = spark.createDataFrame(
        right_rows, "k string, ts long, num double, tag string"
    )
    left = spark.createDataFrame(left_rows, "k string, ts long")
    got = {
        (r.k, r.ts): (r.num_asof, r.tag_asof)
        for r in __import__("dataselector_spark.operators.asof", fromlist=["asof_join"])
        .asof_join(left, right, on="k", left_ts="ts", right_ts="ts")
        .collect()
    }

    pl = pd.DataFrame(left_rows, columns=["k", "ts"]).sort_values("ts")
    pr = pd.DataFrame(right_rows, columns=["k", "ts", "num", "tag"]).sort_values("ts")
    exp = pd.merge_asof(pl, pr, on="ts", by="k", direction="backward")
    for _, row in exp.iterrows():
        num, tag = got[(row["k"], row["ts"])]
        pnum = None if pd.isna(row["num"]) else row["num"]
        ptag = None if pd.isna(row["tag"]) else row["tag"]
        assert num == pnum and tag == ptag, (row["k"], row["ts"], num, tag, pnum, ptag)


# --- distributed prefix sums ---------------------------------------------------


def test_running_sums_match_global_window(spark):
    """The two-level range-partitioned prefix sum must equal the naive
    single-partition global window for any partition count."""
    from pyspark.sql import Window as W

    from dataselector_spark.operators.prefixsum import running_sums

    rows = [((i * 2654435761) % 997, 1 + i % 3, i % 2) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, a long, b long").dropDuplicates(["k"])
    w = W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
    expect = {
        r["k"]: (r["ca"], r["cb"])
        for r in df.select(
            "k", F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")
        ).collect()
    }
    for nparts in (1, 4, 13):
        got = {
            r["k"]: (r["cum_a"], r["cum_b"])
            for r in running_sums(
                df, order_by=["k"], sum_cols=["a", "b"], num_partitions=nparts
            ).collect()
        }
        assert got == expect, nparts


# --- degenerate-bucket skew guard (VERDICT r4 "Next round" #6) ---------------


def test_interval_join_bucketed_warns_on_degenerate_buckets(spark):
    """Pathological input: every point in ONE time bucket (exactly what the
    r4 ts-corruption produced). The sampled pre-check must warn; healthy
    spread input must not."""
    import warnings as w

    import pandas as pd

    from dataselector_spark.operators.rangejoin import interval_join_bucketed

    n = 5000
    degenerate = spark.createDataFrame(
        pd.DataFrame(
            {"pid": range(n), "ts": pd.Timestamp("2024-01-01 12:00:00")}
        )
    )
    intervals = spark.createDataFrame(
        pd.DataFrame(
            {
                "iid": [1],
                "start": [pd.Timestamp("2024-01-01")],
                "end": [pd.Timestamp("2024-01-02")],
            }
        )
    )
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        interval_join_bucketed(degenerate, intervals, "ts", "start", "end")
    assert any("degenerate" in str(c.message) for c in caught), caught

    spread = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": range(n),
                "ts": pd.date_range("2024-01-01", periods=n, freq="h"),
            }
        )
    )
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        interval_join_bucketed(spread, intervals, "ts", "start", "end")
    assert not any("degenerate" in str(c.message) for c in caught), [
        str(c.message) for c in caught
    ]


def test_oracle_table_guard_catches_unknown_table():
    """check_oracle_tables must flag an oracle referencing a view the driver
    never registers, and accept CTEs / read_parquet / function sources."""
    import pytest as pt

    from dataselector_spark.suite.base import Query, check_oracle_tables

    ok = {
        "good_cte": Query(
            "good_cte",
            lambda s, d: None,
            "WITH t AS (SELECT 1) SELECT * FROM t JOIN events USING (x)",
        ),
        "good_fn": Query(
            "good_fn",
            lambda s, d: None,
            "SELECT * FROM read_parquet('/tmp/x (from orders).parquet')",
        ),
    }
    check_oracle_tables(ok, {"events"})

    bad = dict(ok)
    bad["typo"] = Query("typo", lambda s, d: None, "SELECT * FROM evnets")
    with pt.raises(ValueError, match="evnets"):
        check_oracle_tables(bad, {"events"})


def test_oracle_table_guard_walks_comma_lists():
    """ADVICE r5 #3: 'FROM a, b' implicit cross joins (b26_rolling_dau,
    b17_stream_sliding oracles) must have EVERY listed table checked, with
    bare and AS aliases honored and function sources still skipped."""
    import pytest as pt

    from dataselector_spark.suite.base import (
        Query,
        check_oracle_tables,
        oracle_table_refs,
    )

    refs, _ = oracle_table_refs(
        "SELECT * FROM events e, orders AS o, lineitem WHERE 1=1"
    )
    assert refs == {"events", "orders", "lineitem"}
    refs, _ = oracle_table_refs("SELECT * FROM events e, range(7) r")
    assert refs == {"events"}
    refs, ctes = oracle_table_refs(
        "WITH p AS MATERIALIZED (SELECT 1 FROM events), "
        "q AS NOT MATERIALIZED (SELECT 1 FROM p) SELECT * FROM q"
    )
    assert refs == {"events", "p", "q"} and ctes == {"p", "q"}
    bad = {
        "typo2": Query(
            "typo2", lambda s, d: None, "SELECT * FROM events e, ordres o"
        )
    }
    with pt.raises(ValueError, match="ordres"):
        check_oracle_tables(bad, {"events", "orders"})


def test_connected_components_reports_rounds(spark):
    """stats= must report the propagation round count: a 2-chain converges
    in 2 rounds (propagate + confirm), a path of 5 takes diameter-bound
    rounds, and both still label correctly."""
    from dataselector_spark.operators.dedup import connected_components

    stats = {}
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = {
        (r["id"], r["comp"])
        for r in connected_components(pairs, stats=stats).collect()
    }
    assert got == {(1, 1), (2, 1)}
    assert stats["rounds"] == 2

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    stats = {}
    got = {
        (r["id"], r["comp"])
        for r in connected_components(chain, stats=stats).collect()
    }
    assert got == {(i, 1) for i in range(1, 6)}
    assert 2 <= stats["rounds"] <= 5


# --- ADVICE r5 #2 + VERDICT r5 #3: events_ts_unit hardening -----------------


def _write_ts_part(path, unit):
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"ts": pa.array([0, 1_000_000], type=pa.timestamp(unit))})
    pq.write_table(t, path)


def test_events_ts_unit_mixed_directory_raises(tmp_path):
    """A directory whose part files disagree on the ts physical unit must
    raise loudly instead of silently scaling every part by the first file's
    unit (VERDICT r5 'Next round' #3)."""
    from dataselector_spark.catalog import events_ts_unit

    d = tmp_path / "events.parquet"
    d.mkdir()
    _write_ts_part(str(d / "part-0.parquet"), "us")
    _write_ts_part(str(d / "part-1.parquet"), "ns")
    with pytest.raises(ValueError, match="mixed ts units"):
        events_ts_unit(str(d))


def test_events_ts_unit_cache_invalidates_on_regen(tmp_path):
    """Regenerating the file at the same path with the other unit must be
    picked up by a long-lived process — the probe cache is keyed on file
    content (mtime+size), not path (ADVICE r5 #2)."""
    import os

    from dataselector_spark.catalog import events_ts_unit

    p = str(tmp_path / "events.parquet")
    _write_ts_part(p, "us")
    assert events_ts_unit(p) == "us"
    _write_ts_part(p, "ns")
    # force a distinct mtime even on coarse-resolution filesystems
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert events_ts_unit(p) == "ns"


def test_interval_join_bucketed_probe_is_cached_per_plan(spark):
    """VERDICT r5 #5: repeated construction over the SAME input must not
    re-run the skew probe (bench reps, retried pipelines). Observable as
    warn-once: the second identical call raises no new warning, while a
    DIFFERENT bucket width still probes (distinct cache key)."""
    import warnings as w

    import pandas as pd

    from dataselector_spark.operators.rangejoin import interval_join_bucketed

    degenerate = spark.createDataFrame(
        pd.DataFrame({"pid": range(2000), "ts": pd.Timestamp("2024-06-01 12:00:00")})
    )
    intervals = spark.createDataFrame(
        pd.DataFrame(
            {
                "iid": [1],
                "start": [pd.Timestamp("2024-06-01")],
                "end": [pd.Timestamp("2024-06-02")],
            }
        )
    )
    with w.catch_warnings(record=True) as first:
        w.simplefilter("always")
        interval_join_bucketed(degenerate, intervals, "ts", "start", "end")
    with w.catch_warnings(record=True) as second:
        w.simplefilter("always")
        interval_join_bucketed(degenerate, intervals, "ts", "start", "end")
    with w.catch_warnings(record=True) as other_width:
        w.simplefilter("always")
        interval_join_bucketed(
            degenerate, intervals, "ts", "start", "end", bucket_seconds=3600
        )
    assert any("degenerate" in str(c.message) for c in first)
    assert not any("degenerate" in str(c.message) for c in second)
    assert any("degenerate" in str(c.message) for c in other_width)


def test_asof_join_nearest_matches_pandas(spark):
    """Property: asof_join_nearest must agree with pandas
    merge_asof(direction='nearest') row for row on randomized keyed series
    (pandas also breaks distance ties backward)."""
    import pandas as pd

    from dataselector_spark.operators.asof import asof_join_nearest

    rows = []
    for i in range(240):
        k = f"k{(i * 7) % 3}"
        ts = (i * 2654435761) % 1000
        rows.append((k, ts, float(i)))
    # unique (k, ts) on the right so pandas/Spark survivor rules can't differ
    seen = set()
    right_rows = []
    for k, ts, v in rows[::2]:
        if (k, ts) not in seen:
            seen.add((k, ts))
            right_rows.append((k, ts, v))
    left_rows = [(k, (ts + 3) % 1000) for (k, ts, _v) in rows[1::2]]

    right = spark.createDataFrame(right_rows, "k string, ts long, num double")
    left = spark.createDataFrame(left_rows, "k string, ts long")
    got = {
        (r.k, r.ts): r.num_asof
        for r in asof_join_nearest(left, right, on="k").collect()
    }

    pl = pd.DataFrame(left_rows, columns=["k", "ts"]).sort_values("ts")
    pr = pd.DataFrame(right_rows, columns=["k", "ts", "num"]).sort_values("ts")
    exp = pd.merge_asof(pl, pr, on="ts", by="k", direction="nearest")
    for _, row in exp.iterrows():
        pnum = None if pd.isna(row["num"]) else row["num"]
        assert got[(row["k"], row["ts"])] == pnum, (row["k"], row["ts"])


def test_asof_join_nearest_tie_and_tolerance(spark):
    """Equal forward/backward distance resolves BACKWARD; tolerance nulls
    matches farther than the bound in EITHER direction."""
    from dataselector_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame([("a", 10), ("a", 50)], "k string, ts long")
    right = spark.createDataFrame(
        [("a", 5, "t5"), ("a", 15, "t15"), ("a", 90, "t90")],
        "k string, ts long, tag string",
    )
    got = {
        r.ts: r.tag_asof
        for r in asof_join_nearest(left, right, on="k").collect()
    }
    assert got[10] == "t5"  # |10-5| == |15-10| -> backward wins the tie
    assert got[50] == "t15"  # backward dist 35 < forward dist 40

    tol = {
        r.ts: r.tag_asof
        for r in asof_join_nearest(left, right, on="k", tolerance=6).collect()
    }
    assert tol[10] == "t5"  # distance 5 <= 6
    assert tol[50] is None  # nearest is 35 away, over tolerance


def test_streaming_upsert_entry_runs_multiple_batches(spark):
    """b23_streaming_upsert_sink must actually fold MULTIPLE micro-batches
    through the foreachBatch merge (not one batch that trivially equals the
    oracle): the checkpoint's offsets log records one entry per batch."""
    import os

    from dataselector_spark.suite import QUERIES

    sf = "/root/testdata/sf0.001"
    QUERIES["b23_streaming_upsert_sink"].fn(spark, sf).collect()
    ckpt = f"/tmp/dsspark_upsert_{os.path.basename(sf)}/ckpt/offsets"
    batches = [f for f in os.listdir(ckpt) if not f.startswith(".")]
    assert len(batches) >= 3, batches


# --- VERDICT r7 #5: one source of truth for the suite totals -------------------


def test_docs_suite_counts_match_registry():
    """README.md and COVERAGE.md state the suite totals; commit messages
    drifted from the registry twice (r6 '203/197' vs actual 204/198). The
    docs' numbers are now pinned to len(queries())/len(oracle_sql()) so any
    new entry that forgets the doc update fails HERE, not in the judge's
    cross-check."""
    import os
    import re

    from dataselector_spark.suite import oracle_sql, queries

    n_q, n_o = len(queries()), len(oracle_sql())
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    readme = open(os.path.join(repo, "README.md")).read()
    coverage = open(os.path.join(repo, "COVERAGE.md")).read()
    m = re.search(r"(\d+) named queries, (\d+) with exact DuckDB oracles", readme)
    assert m, "README.md lost its suite-totals line"
    assert (int(m.group(1)), int(m.group(2))) == (n_q, n_o), (
        f"README.md says {m.group(0)!r} but the registry has "
        f"{n_q} queries / {n_o} oracles"
    )
    m = re.search(
        r"Totals: (\d+) suite entries, (\d+) with exact DuckDB oracles", coverage
    )
    assert m, "COVERAGE.md lost its totals line"
    assert (int(m.group(1)), int(m.group(2))) == (n_q, n_o), (
        f"COVERAGE.md says {m.group(0)!r} but the registry has "
        f"{n_q} queries / {n_o} oracles"
    )


def test_proportional_allocation_sums_to_budget(spark):
    """Hamilton apportionment invariant: the allocation sums to EXACTLY
    the budget (1000) — the property naive round(n*share) violates —
    and every stratum gets either floor or floor+1 of its quota."""
    from dataselector_spark.suite import QUERIES

    rows = QUERIES["b22_proportional_allocation"].fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert sum(r.allocated for r in rows) == 1000
    n = sum(r.n_rows for r in rows)
    for r in rows:
        base = (1000 * r.n_rows) // n
        assert r.allocated in (base, base + 1), r


# --- fail-loud inputs (no bare asserts, strict env parsing) -----------------


def test_word_ngrams_sql_rejects_quoting_separator(monkeypatch):
    """A TOKEN_SEP that would break out of the SQL string literal raises
    ValueError, also under `python -O` (an if/raise, not an assert)."""
    from dataselector_spark.functions import text

    assert "split(c, ' ')" in text.word_ngrams_sql("c", 2)
    for sep in ("'", "\\"):
        monkeypatch.setattr(text, "TOKEN_SEP", sep)
        with pytest.raises(ValueError, match="TOKEN_SEP"):
            text.word_ngrams_sql("c", 2)


def test_rrf_weight_terms_quoted_into_values_literal(spark):
    """ADVICE r16: the BM25 weight terms are spliced into a VALUES literal
    through sql_string_literal — a term with a single quote round-trips and
    scores its document; a backslash (an escape only in Spark's dialect)
    raises instead of silently changing the term."""
    from dataselector_spark.suite.vectors import _rrf_bm25_scores

    docs = spark.createDataFrame(
        [(1, "it's a test"), (2, "plain words here")], "doc_id bigint, text string"
    )
    scored = {
        r["doc_id"]: r["score_milli"]
        for r in _rrf_bm25_scores(spark, docs, {"it's": 1000}).collect()
    }
    assert set(scored) == {1} and scored[1] > 0, scored
    with pytest.raises(ValueError, match="backslash"):
        _rrf_bm25_scores(spark, docs, {"a\\b": 1000})
