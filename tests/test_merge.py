"""Algebraic properties of the B23 incremental-refresh operators
(operators/merge.py) on hand-built frames — the suite oracle checks one
dataset; these pin the laws that make the operators safe to re-run.
"""

from pyspark.sql import Row
from pyspark.sql import functions as F

from dataselector_spark.operators.merge import apply_changelog, merge_upsert


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_merge_upsert_source_wins_and_inserts(spark):
    target = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    source = spark.createDataFrame([Row(k=2, v="B"), Row(k=3, v="c")])
    got = _rows(merge_upsert(target, source, ["k"]))
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_merge_upsert_idempotent(spark):
    """Re-applying the same delta (checkpoint retry) must be a no-op."""
    target = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    source = spark.createDataFrame([Row(k=2, v="B"), Row(k=3, v="c")])
    once = merge_upsert(target, source, ["k"])
    twice = merge_upsert(once, source, ["k"])
    assert _rows(once) == _rows(twice)


def test_merge_upsert_empty_source_is_identity(spark):
    target = spark.createDataFrame([Row(k=1, v="a")])
    source = spark.createDataFrame([], target.schema)
    assert _rows(merge_upsert(target, source, ["k"])) == {(1, "a")}


def test_changelog_latest_version_wins(spark):
    log = spark.createDataFrame(
        [
            Row(k=1, v=1, op="U", payload="old"),
            Row(k=1, v=2, op="U", payload="new"),
            Row(k=2, v=1, op="U", payload="only"),
        ]
    )
    got = _rows(apply_changelog(log, ["k"], "v"))
    assert got == {(1, 2, "U", "new"), (2, 1, "U", "only")}


def test_changelog_winning_delete_removes_key(spark):
    log = spark.createDataFrame(
        [
            Row(k=1, v=1, op="U", payload="x"),
            Row(k=1, v=2, op="D", payload=None),
            Row(k=2, v=1, op="D", payload=None),
            Row(k=2, v=2, op="U", payload="resurrected"),
        ]
    )
    got = _rows(apply_changelog(log, ["k"], "v"))
    # k=1: delete is latest → gone. k=2: upsert outranks the older delete.
    assert got == {(2, 2, "U", "resurrected")}


def test_changelog_same_version_delete_wins(spark):
    log = spark.createDataFrame(
        [Row(k=1, v=1, op="U", payload="x"), Row(k=1, v=1, op="D", payload=None)]
    )
    assert _rows(apply_changelog(log, ["k"], "v")) == set()


def test_changelog_then_merge_equals_direct_state(spark):
    """Compacting a delta log and merging it into the target gives the same
    state as replaying the upserts directly (deletes handled separately)."""
    target = spark.createDataFrame([Row(k=1, p="a"), Row(k=2, p="b")])
    log = spark.createDataFrame(
        [
            Row(k=2, v=1, op="U", p="b2"),
            Row(k=2, v=2, op="U", p="b3"),
            Row(k=3, v=1, op="U", p="c"),
        ]
    )
    compacted = apply_changelog(log, ["k"], "v").select("k", "p")
    got = _rows(merge_upsert(target, compacted, ["k"]))
    assert got == {(1, "a"), (2, "b3"), (3, "c")}


def test_merge_upsert_null_key_replaces_not_duplicates(spark):
    target = spark.createDataFrame([(None, "t"), ("a", "t")], "k string, v string")
    source = spark.createDataFrame([(None, "s")], "k string, v string")
    once = merge_upsert(target, source, ["k"])
    twice = merge_upsert(once, source, ["k"])
    assert once.count() == 2  # NULL-key target replaced, 'a' survives
    assert twice.count() == 2  # idempotent — no accumulation
    vals = {r["v"] for r in twice.filter(F.col("k").isNull()).collect()}
    assert vals == {"s"}
