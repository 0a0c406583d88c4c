"""Focused tests for the r16 optimization-round operator rewrites.

Each test pins the SEMANTIC subtlety its rewrite introduced, per the
optimization-round rule (a changed operator gets a focused test):

* zscore_outliers moved from a whole-partition window to a groupBy +
  broadcast join-back — the join must keep NULL group keys (eqNullSafe)
  and preserve the window form's exact values.
* word_ngram_hashes_sql is the int64 shingle identity — its array must
  be exactly xxhash64 over the distinct string shingles.
* ensure_session_defaults memoizes per session — the pins must still be
  applied to a session whose confs start non-default.
* zorder_key input guards (ADVICE r15 #4).
"""

import pytest
from pyspark.sql import functions as F

from dataselector_spark.operators.windows import zscore_outliers


def test_zscore_join_back_keeps_null_group_and_window_values(spark):
    rows = [
        ("a", 1.0), ("a", 3.0), ("a", 5.0),
        (None, 10.0), (None, 14.0),
        ("b", 7.0),
    ]
    df = spark.createDataFrame(rows, "grp string, value double")
    out = {
        (r["grp"], r["value"]): r
        for r in zscore_outliers(df, ["grp"], "value").collect()
    }
    # no row lost: the NULL group key survives the join back
    assert len(out) == len(rows)
    # group a: mean 3, sample std 2 -> z(5.0) = 1.0
    r = out[("a", 5.0)]
    assert r["g_mean"] == pytest.approx(3.0)
    assert r["g_std"] == pytest.approx(2.0)
    assert r["z"] == pytest.approx(1.0)
    assert not r["is_outlier"]
    # NULL group: mean 12, sample std = sqrt(8)
    r = out[(None, 14.0)]
    assert r["g_mean"] == pytest.approx(12.0)
    assert r["z"] == pytest.approx(2.0 / 8.0**0.5)
    # singleton group: null z (no dispersion), row still present
    assert out[("b", 7.0)]["z"] is None
    # input columns named like the internal ones must not collide with them
    clash = df.withColumn("__n", F.lit(-1)).withColumn("__g_0", F.lit("x"))
    got = {
        (r["grp"], r["value"]): (r["__n"], r["__g_0"], r["z"])
        for r in zscore_outliers(clash, ["grp"], "value").collect()
    }
    assert got == {k: (-1, "x", v["z"]) for k, v in out.items()}


def test_word_ngram_hashes_sql_is_xxhash64_of_string_shingles(spark):
    from dataselector_spark.functions.text import (
        word_ngram_hashes_sql,
        word_ngrams,
    )

    df = spark.createDataFrame(
        [("x y z x y z w",), ("one two",), ("",)], "text string"
    )
    got = df.select(
        F.expr(word_ngram_hashes_sql("`text`", 3)).alias("h")
    ).collect()
    want = df.select(
        F.array_distinct(
            F.transform(word_ngrams("text", 3), lambda s: F.xxhash64(s))
        ).alias("h")
    ).collect()
    assert [sorted(r["h"]) for r in got] == [sorted(r["h"]) for r in want]
    # distinct-after-hash must agree with hash-of-distinct-strings
    strings = df.select(
        F.array_distinct(word_ngrams("text", 3)).alias("s")
    ).collect()
    str_hashes = df.select(
        F.transform(
            F.array_distinct(word_ngrams("text", 3)), lambda s: F.xxhash64(s)
        ).alias("h")
    ).collect()
    for g, s, sh in zip(got, strings, str_hashes):
        assert sorted(g["h"]) == sorted(set(sh["h"]))
        assert len(g["h"]) == len(set(s["s"]))


def test_ensure_session_defaults_memoized_but_still_pins(spark):
    from dataselector_spark.catalog import (
        _PLAN_CACHE_ATTR,
        ensure_session_defaults,
    )

    ensure_session_defaults(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    # memoized: a second call is a pure-Python no-op (flag short-circuit),
    # so it no longer re-pins a conf flipped behind its back
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        ensure_session_defaults(spark)
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    # the plan cache lives ON the session object (ADVICE r15 #1) — no
    # module-level registry keeps a stopped session alive
    from dataselector_spark.catalog import load_table

    load_table(spark, "/root/testdata/sf0.001", "orders")
    assert isinstance(getattr(spark, _PLAN_CACHE_ATTR), dict)
    assert len(getattr(spark, _PLAN_CACHE_ATTR)) >= 1


def test_mark_session_pinned_keeps_callers_ansi(spark, sf_dir):
    """A session marked pinned keeps its own settings through load_table
    (the ANSI differential sweep); an unmarked one is re-pinned."""
    from dataselector_spark.catalog import load_table, mark_session_pinned

    pinned, fresh = spark.newSession(), spark.newSession()
    for s in (pinned, fresh):
        s.conf.set("spark.sql.ansi.enabled", "true")
    mark_session_pinned(pinned)
    load_table(pinned, sf_dir, "orders")
    load_table(fresh, sf_dir, "orders")
    assert pinned.conf.get("spark.sql.ansi.enabled") == "true"
    assert fresh.conf.get("spark.sql.ansi.enabled") == "false"


def test_load_table_returns_self_joinable_references(spark):
    from dataselector_spark.catalog import load_table

    sf = "/root/testdata/sf0.001"
    a = load_table(spark, sf, "nation")
    b = load_table(spark, sf, "nation")
    # ADVICE r15 #2: two loads must be join-compatible (distinct dataset
    # ids) — this raised AMBIGUOUS_SELF_JOIN when the cache returned the
    # identical object
    n = a.join(b, a["n_nationkey"] == b["n_nationkey"]).count()
    assert n == a.count()


def test_zorder_key_input_guards():
    from pyspark.sql import functions as F

    from dataselector_spark.operators.layout import zorder_key

    with pytest.raises(ValueError):
        zorder_key([])
    with pytest.raises(TypeError):
        zorder_key(["a", F.col("b")])
    with pytest.raises(TypeError):
        zorder_key([F.col("a"), F.col("b")])
