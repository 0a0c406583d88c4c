"""Interval / range joins — SURVEY.md §2 B4.

A range condition WITH an equi-key (the common telemetry shape: "events of
the same user within Δt") needs no operator here: Spark executes it as an
equi-join on the key with the range as a post-filter — a single hash
shuffle; fine at scale (the keyed B4 suite entry writes it inline).

`interval_join_bucketed` covers the PURE range condition (no equi-key).
Naively this is a broadcast-nested-loop (cartesian × filter) — quadratic,
dead at 100 TB. The scale path buckets the time axis: explode each interval
into the fixed-width buckets it overlaps, equi-join on bucket, then apply
the exact range predicate and de-dup. Turns O(n·m) into O(pairs that could
match), with the bucket width trading shuffle fan-out vs candidate-pair
count.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_time_buckets(
    df: DataFrame,
    start: Column,
    end: Column,
    bucket_seconds: int,
    out: str = "__bucket",
) -> DataFrame:
    """Explode each [start, end) interval into every ``bucket_seconds``-wide
    epoch bucket it overlaps (the equi-join key for bucketed range joins)."""
    lo = (F.unix_timestamp(start) / bucket_seconds).cast("long")
    hi = (F.unix_timestamp(end) / bucket_seconds).cast("long")
    return df.withColumn(out, F.explode(F.sequence(lo, hi)))


# (plan semanticHash, bucket_seconds, frac) -> probe already ran in this
# process.  Bench reps and any repeated plan construction over the same
# input skip the extra probe jobs entirely (VERDICT r5 'Next round' #5);
# keyed on the logical plan, so a *different* source or bucket width still
# probes.  Process-lifetime cache: if the bytes under the same path change
# mid-process, the stale entry only suppresses a warning, never affects
# results.
_SKEW_PROBE_SEEN: set[tuple[int, int, float]] = set()


def _warn_degenerate_buckets(
    bucketed_points: DataFrame, frac: float, bucket_seconds: int
) -> None:
    """Warn when one time bucket holds > ``frac`` of the point rows.

    A degenerate bucket distribution silently turns the bucket equi-join into
    a single-key cartesian — quadratic work. Round 4's corrupted-timestamp
    testdata did exactly this (every row in one 86400 s bucket: 0.44 s →
    34 s at sf0.1; at 100 TB that's a cluster outage, not a slow query), so
    the check is worth one cheap extra job. Cost is bounded: a seeded 1‰
    sample, falling back to exact counts only when the sample is so small
    the full data must be tiny anyway; the verdict is cached per logical
    plan so repeated construction probes once per process.
    """
    try:
        key = (bucketed_points.semanticHash(), bucket_seconds, frac)
    except Exception:  # pragma: no cover - Connect/ancient Spark
        key = None
    if key is not None and key in _SKEW_PROBE_SEEN:
        return
    buckets = bucketed_points.select("__bucket")
    sampled = buckets.sample(fraction=0.001, seed=42)
    counts = sampled.groupBy("__bucket").count()
    row = counts.agg(
        F.sum("count").alias("n"), F.max("count").alias("mx")
    ).first()
    if row is None or row["n"] is None or row["n"] < 10_000:
        # sample too small to trust → the input is ≤ ~10M rows; exact is cheap
        row = (
            buckets.groupBy("__bucket")
            .count()
            .agg(F.sum("count").alias("n"), F.max("count").alias("mx"))
            .first()
        )
    if key is not None:
        _SKEW_PROBE_SEEN.add(key)
    if row and row["n"] and row["mx"] / row["n"] > frac:
        warnings.warn(
            f"interval_join_bucketed: one {bucket_seconds}s bucket holds "
            f"{100.0 * row['mx'] / row['n']:.0f}% of point rows "
            f"(> {100 * frac:.0f}%) — the bucket equi-join will degenerate "
            f"into a near-cartesian hot partition. Shrink bucket_seconds or "
            f"check the time column for corruption/constant values.",
            RuntimeWarning,
            stacklevel=3,
        )


def interval_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start: str,
    end: str,
    bucket_seconds: int = 86400,
    skew_warn_frac: float | None = 0.5,
) -> DataFrame:
    """Join point rows to interval rows with start <= ts < end, no equi-key:
    bucket both sides on the time axis, equi-join on bucket, exact-filter.
    Output columns = points ++ intervals (caller projects).

    ``skew_warn_frac``: if not None, run a cheap sampled pre-check and warn
    when a single bucket holds more than that fraction of point rows (the
    degenerate-cartesian failure mode); None skips the extra job.

    NOTE (ADVICE r5 #1): with the check enabled this function is NOT a pure
    lazy transformation — it eagerly runs the probe job(s) at
    DataFrame-construction time (a 1‰ sample count, plus an exact
    groupBy-count when the sample is under 10k rows, i.e. inputs below
    ~10M rows). The verdict is cached per (plan, bucket_seconds, frac) for
    the process lifetime, so repeated construction over the same input pays
    once. Callers composing plans they may never execute should pass
    ``skew_warn_frac=None``."""
    p = points.withColumn(
        "__bucket", (F.unix_timestamp(F.col(point_ts)) / bucket_seconds).cast("long")
    )
    if skew_warn_frac is not None:
        _warn_degenerate_buckets(p, skew_warn_frac, bucket_seconds)
    iv = with_time_buckets(intervals, F.col(start), F.col(end), bucket_seconds)
    joined = p.join(iv, "__bucket").filter(
        (F.col(point_ts) >= F.col(start)) & (F.col(point_ts) < F.col(end))
    )
    return joined.drop("__bucket")
