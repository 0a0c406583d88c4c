"""Property-based checks of the selection algebra (SURVEY.md §5.4):
the relational encoding must agree with a trivially-correct Python
set-model over arbitrary op sequences, and the documented invariants
(insert idempotence, toggle involution, total export order) must hold for
ANY inputs, not just the replay fixtures."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dataselector_spark.operators.selection import (
    KEY,
    anti_selections,
    apply_selections,
    export_selections,
    retract_compound,
    select_insert,
    select_toggle,
)

KEYS = [f"2024-01-01 10:{m:02d}" for m in range(6)]
COMPOUNDS = ["ethane", "propane", "butane"]

pair = st.tuples(st.sampled_from(KEYS), st.sampled_from(COMPOUNDS))
batch = st.lists(pair, min_size=0, max_size=6)
op = st.one_of(
    st.tuples(st.just("insert"), batch),
    st.tuples(st.just("toggle"), batch),
    st.tuples(st.just("retract"), st.sampled_from(COMPOUNDS)),
)

_SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _df(spark, pairs):
    schema = f"{KEY} string, compound string"
    return spark.createDataFrame(
        [(k, c) for k, c in pairs] or [], schema
    )


def _model_apply(model: set, kind: str, arg) -> set:
    if kind == "insert":
        return model | set(arg)
    if kind == "toggle":
        return model ^ set(arg)  # symmetric difference, set semantics
    return {(k, c) for k, c in model if c != arg}


@given(ops=st.lists(op, min_size=1, max_size=5))
@_SLOW
def test_selection_ops_match_set_model(spark, ops):
    """Any op sequence: relational result == Python set-model result.
    (Toggle batches are deduped first — the relational encoding is defined
    on SETS of clicks, matching updateClicked's per-point semantics.)"""
    sel = _df(spark, [])
    model: set = set()
    for kind, arg in ops:
        if kind == "insert":
            sel = select_insert(sel, _df(spark, arg))
        elif kind == "toggle":
            arg = list(set(arg))
            sel = select_toggle(sel, _df(spark, arg))
        else:
            sel = retract_compound(sel, arg)
        model = _model_apply(model, kind, set(arg) if kind != "retract" else arg)
    got = {(r[KEY], r.compound) for r in sel.collect()}
    assert got == model


@given(b=batch)
@_SLOW
def test_insert_is_idempotent(spark, b):
    """commit/insert is idempotent (index.js:797-813 re-adds to sets)."""
    sel = select_insert(_df(spark, []), _df(spark, b))
    twice = select_insert(sel, _df(spark, b))
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, sel.collect()))


@given(base=batch, hits=batch)
@_SLOW
def test_toggle_is_involution(spark, base, hits):
    sel = select_insert(_df(spark, []), _df(spark, base))
    h = _df(spark, list(set(hits)))
    back = select_toggle(select_toggle(sel, h), h)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sel.collect()))


@given(b=batch)
@_SLOW
def test_export_order_is_total(spark, b):
    """Export is totally ordered by key with sorted compound arrays —
    deterministic bytes for any selection state."""
    sel = select_insert(_df(spark, []), _df(spark, b))
    rows = export_selections(sel).collect()
    keys = [r[KEY] for r in rows]
    assert keys == sorted(keys) and len(keys) == len(set(keys))
    assert all(r.compounds == sorted(r.compounds) for r in rows)


data_keys = st.lists(st.one_of(st.none(), st.sampled_from(KEYS)), min_size=0, max_size=8)
dup_sel = st.lists(pair, min_size=0, max_size=8).map(lambda ps: ps + ps[: len(ps) // 2])


@given(sel=dup_sel, keys=data_keys)
@_SLOW
def test_apply_and_anti_match_set_model(spark, sel, keys):
    """Render-time apply/anti over a selection frame with duplicate rows and
    several compounds, and data rows whose key may be null: apply keeps a
    row iff its key is selected under any compound, anti keeps the rest,
    and duplicates on the broadcast side never duplicate a data row."""
    data = spark.createDataFrame(list(enumerate(keys)), f"id int, {KEY} string")
    selected = {k for k, _ in sel}
    want = sorted(i for i, k in enumerate(keys) if k in selected)
    got = sorted(r.id for r in apply_selections(data, _df(spark, sel), KEY).collect())
    assert got == want
    rest = sorted(r.id for r in anti_selections(data, _df(spark, sel), KEY).collect())
    assert rest == sorted(set(range(len(keys))) - set(want))


def test_toggle_null_keyed_pair_on_both_sides_cancels(spark):
    """A null-keyed pair present in the selections and in the hits is
    removed once, like any other pair (set semantics, SQL EXCEPT), rather
    than emitted once from each side."""
    sel = _df(spark, [(None, "ethane"), (KEYS[0], "ethane")])
    hits = _df(spark, [(None, "ethane"), (KEYS[1], "propane")])
    got = sorted(map(tuple, select_toggle(sel, hits).collect()), key=repr)
    assert got == sorted([(KEYS[0], "ethane"), (KEYS[1], "propane")], key=repr)
