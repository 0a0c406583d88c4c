"""Join-operator semantics beyond the oracle hash: as-of joins (backward and
nearest) against pandas.merge_asof, salted-join type guards, and the
bucketed interval join's degenerate-bucket skew probe."""

import pytest

from dataselector_spark.operators.asof import asof_join
from dataselector_spark.operators.skew import salted_join


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


def test_salted_join_rejects_right_and_full(spark, sf_dir):
    e = spark.range(10).withColumnRenamed("id", "k")
    d = spark.range(3).withColumnRenamed("id", "k")
    for how in ("right", "full", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(e, d, "k", buckets=4, how=how)
    # allowed forms still work and match the plain join
    assert salted_join(e, d, "k", buckets=4, how="left").count() == 10
    assert salted_join(e, d, "k", buckets=4, how="inner").count() == 3


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
