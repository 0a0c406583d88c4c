"""qc_session: the paper's analyst in a closed loop over `events`.

A pass is one seeded session of fourteen gestures over two compounds (event
types): on each compound open, zoom, box-select insert, zoom, toggle, undo;
then one more zoom and an export of the selections. Every gesture except export re-renders: the client re-reads
the table through the catalog, filters it to the view, collects the points
and the marked points. The selection state is materialized with
`localCheckpoint` on each mutation so its plan depth stays constant.

The check replays each pass's gesture log in plain Python over the generated
columns: every render's point and marked counts, and the exported JSON.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataselector_spark.catalog import load_table
from dataselector_spark.functions.keys import minute_key
from dataselector_spark.operators import selection as sel_ops
from dataselector_spark.operators.extents import Window1D, extents, zoom_window
from dataselector_spark.session_state import Limits, ZoomHistory

from .datagen import EVENT_TYPES

SF = 0.1
TABLES = ("events",)
GESTURES = (
    "open", "zoom", "insert", "zoom", "toggle", "undo",
    "open", "zoom", "insert", "zoom", "toggle", "undo",
    "zoom", "export",
)
MIN_X_US = 3_600 * 1_000_000  # zoom floor: one hour
MIN_Y = 1.0
WARM_GESTURES = ("open", "insert", "toggle", "export")  # one of each code path
WARM_PASS = 1_000_000  # script index of the untimed warm-up session
SEL_SCHEMA = T.StructType(
    [T.StructField(sel_ops.KEY, T.StringType()), T.StructField(sel_ops.COMPOUND, T.StringType())]
)


def script(seed: int, idx: int, gestures=GESTURES) -> list[tuple[str, dict]]:
    """The seeded gesture parameters of pass `idx`: which compounds are
    opened, and where each box sits in the view it is drawn in. Box sizes
    are fixed fractions of the view, so the work per pass barely depends on
    the seed: a zoom narrows the time axis to 30% and keeps the value axis,
    a selection box spans 10% of the time axis and the lower 60% of the
    value axis."""
    rng = np.random.default_rng([seed, 10, idx])
    compounds = rng.choice(EVENT_TYPES, 2, replace=False)
    out, opened = [], 0
    for g in gestures:
        p: dict = {}
        if g == "open":
            p["compound"] = str(compounds[opened])
            opened += 1
        elif g == "zoom":
            x0 = rng.uniform(0, 0.7)
            p["box"] = (x0, x0 + 0.3, 0.0, 1.0)
        elif g in ("insert", "toggle"):
            x0 = rng.uniform(0, 0.9)
            p["box"] = (x0, x0 + 0.1, 0.0, 0.6)
        out.append((g, p))
    return out


def _sub(lim: Limits, box) -> tuple[int, int, float, float]:
    """Data-space bounds of a fractional box inside a view."""
    fx0, fx1, fy0, fy1 = box
    dx, dy = lim.x_max - lim.x_min, lim.y_max - lim.y_min
    return (
        int(lim.x_min + fx0 * dx), int(lim.x_min + fx1 * dx),
        lim.y_min + fy0 * dy, lim.y_min + fy1 * dy,
    )


class QcSession:
    name = "qc_session"
    sf = SF
    tables = TABLES

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.logs: dict[int, list[dict]] = {}

    def prepare(self, events) -> None:
        self.events = events

    def warm_up(self) -> None:
        self.run_pass(WARM_PASS, WARM_GESTURES)

    def run_pass(self, idx: int, gestures=GESTURES) -> list[dict]:
        """Run pass `idx`; returns one record per gesture."""
        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        hist = ZoomHistory()
        sel = spark.createDataFrame([], SEL_SCHEMA)
        log: list[dict] = []
        ops: list[dict] = []
        compound, full = None, None

        def base():
            with tr.span("catalog.load_table"):
                ev = load_table(spark, ctx.data_dir, "events")
            return ev.filter(F.col("event_type") == compound).select(
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "value",
                minute_key("ts").alias(sel_ops.KEY),
            )

        def view(lim: Limits):
            return base().filter(
                F.col("ts_us").between(int(lim.x_min), int(lim.x_max))
                & F.col("value").between(lim.y_min, lim.y_max)
            )

        def render(entry: dict) -> None:
            lim = hist.current(compound, "ts", "value") or full
            v = view(lim)
            with tr.span("exec.collect"):
                points = v.select("event_id", "ts_us", "value").toPandas()
            with tr.span("selection.apply"):
                active = sel.filter(F.col(sel_ops.COMPOUND) == compound)
                marked = sel_ops.apply_selections(v, active, sel_ops.KEY).select("event_id").toPandas()
            entry.update(view=(int(lim.x_min), int(lim.x_max), lim.y_min, lim.y_max),
                         points=len(points), marked=len(marked))

        for i, (g, p) in enumerate(script(ctx.seed, idx, gestures)):
            op = f"{idx}.{i}"
            entry = {"g": g, "compound": compound}
            ctx.groups.set(f"qc:{op}", g)
            t0 = ctx.clock()
            with tr.span(g, op=op):
                if g == "open":
                    compound = entry["compound"] = p["compound"]
                    with tr.span("extents.open"):
                        r = extents(base(), "ts_us", "value").first()
                    full = Limits(r.ts_us_min, r.ts_us_max, r.value_min, r.value_max)
                    hist.record(compound, "ts", "value", full)
                    render(entry)
                elif g == "zoom":
                    cur = hist.current(compound, "ts", "value") or full
                    x0, x1, y0, y1 = _sub(cur, p["box"])
                    wx = zoom_window(x0, x1, Window1D(full.x_min, full.x_max), MIN_X_US)
                    wy = zoom_window(y0, y1, Window1D(full.y_min, full.y_max), MIN_Y)
                    hist.record(compound, "ts", "value", Limits(wx.lo, wx.hi, wy.lo, wy.hi))
                    render(entry)
                elif g == "undo":
                    hist.undo(compound, "ts", "value")
                    render(entry)
                elif g in ("insert", "toggle"):
                    cur = hist.current(compound, "ts", "value") or full
                    box = entry["box"] = _sub(cur, p["box"])
                    hits = base().filter(
                        F.col("ts_us").between(box[0], box[1])
                        & F.col("value").between(box[2], box[3])
                    ).select(sel_ops.KEY, F.lit(compound).alias(sel_ops.COMPOUND))
                    mutate = sel_ops.select_insert if g == "insert" else sel_ops.select_toggle
                    with tr.span(f"selection.{g}"):
                        sel = mutate(sel, hits).localCheckpoint()
                    render(entry)
                else:  # export
                    path = entry["path"] = os.path.join(ctx.work, "export", f"p{idx}")
                    with tr.span("selection.export"):
                        sel_ops.write_export(sel, path)
            ops.append({"op": op, "name": g, "s": ctx.clock() - t0})
            log.append(entry)
        ctx.groups.clear()
        self.logs[idx] = log
        return ops

    def check(self) -> list[str]:
        """Replay every logged pass in plain Python; return mismatches."""
        e = self.events
        keys = np.char.replace(
            np.datetime_as_string(e.ts_us.astype("datetime64[us]"), unit="m"), "T", " "
        )
        problems = []
        for idx, log in sorted(self.logs.items()):
            state: set[tuple[str, str]] = set()
            for n, entry in enumerate(log):
                c = entry["compound"]
                if entry["g"] in ("insert", "toggle"):
                    x0, x1, y0, y1 = entry["box"]
                    m = ((e.event_type == c) & (e.ts_us >= x0) & (e.ts_us <= x1)
                         & (e.value >= y0) & (e.value <= y1))
                    hits = {(k, c) for k in keys[m]}
                    state = state | hits if entry["g"] == "insert" else state ^ hits
                if "view" in entry:
                    x0, x1, y0, y1 = entry["view"]
                    m = ((e.event_type == c) & (e.ts_us >= x0) & (e.ts_us <= x1)
                         & (e.value >= y0) & (e.value <= y1))
                    flagged = {k for k, sc in state if sc == c}
                    want = (int(m.sum()), int(np.isin(keys[m], list(flagged)).sum()))
                    got = (entry["points"], entry["marked"])
                    if got != want:
                        problems.append(f"pass {idx} gesture {n} render {got} != {want}")
                if entry["g"] == "export":
                    want = {}
                    for k, sc in state:
                        want.setdefault(k, []).append(sc)
                    want = [[k, sorted(v)] for k, v in sorted(want.items())]
                    got = []
                    for part in sorted(glob.glob(os.path.join(entry["path"], "part-*"))):
                        with open(part) as f:
                            got += [[r["date_key"], r["compounds"]] for r in map(json.loads, f)]
                    if got != want:
                        problems.append(f"pass {idx} export: {len(got)} keys != {len(want)} replayed")
        return problems

    def layer_metrics(self, snap, idx: int) -> dict[str, float]:
        tr = self.ctx.tracer
        out = {
            "catalog.load_table_ms": tr.median_self_ms("catalog.load_table"),
            "catalog.load_table_calls": float(len(tr.named("catalog.load_table"))),
            "extents.open_ms": tr.median_self_ms("extents.open"),
            "exec.collect_ms": tr.median_self_ms("exec.collect"),
        }
        for g in ("insert", "toggle", "apply", "export"):
            out[f"selection.{g}_ms"] = tr.median_self_ms(f"selection.{g}")
        return out
