"""Window-function operators (SURVEY.md §2 B8) — ranking, analytic frames,
rolling statistics, and the z-score outlier QC pass.

The reference's entire purpose is an analyst hand-flagging outliers per
series (README.md:19-28); `zscore_outliers` is its batch generalization:
per-group dispersion statistics + a threshold flag, computed in one
partition-only window pass (no self-join, no collect).

Float policy matches the suite: sums go through DECIMAL (exact, order-free),
then variance/z-score are fixed IEEE expressions over those exact inputs, so
results are bit-stable across partitionings and engines.

Scale: every function here shuffles once on the partition key and sorts
within partitions — the minimal physical plan for windowed work. Frames are
bounded (`rowsBetween`/`rangeBetween`) so state stays O(frame), not O(group).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def dec2(col: Column | str, precision: int = 12) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return col.cast(f"decimal({precision},2)")


def ordered_window(partition: list[str], order: list[Column | str]) -> WindowSpec:
    return Window.partitionBy(*partition).orderBy(*order)


def with_ranks(df: DataFrame, partition: list[str], order: list[Column | str]) -> DataFrame:
    """row_number / rank / dense_rank / ntile / percent_rank / cume_dist."""
    w = ordered_window(partition, order)
    return df.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


def rolling_sum_count(
    df: DataFrame,
    partition: list[str],
    order: list[Column | str],
    value: str,
    preceding: int,
) -> DataFrame:
    """Rolling decimal-exact sum + count over the last ``preceding``+1 rows,
    plus the running (unbounded) cumulative sum."""
    w = ordered_window(partition, order)
    frame = w.rowsBetween(-preceding, Window.currentRow)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.select(
        "*",
        F.sum(dec2(value)).over(frame).cast("double").alias("roll_sum"),
        F.count(F.lit(1)).over(frame).alias("roll_n"),
        F.sum(dec2(value)).over(run).cast("double").alias("cum_sum"),
    )


def zscore_outliers(
    df: DataFrame, group: list[str], value: str, z_thresh: float = 2.0
) -> DataFrame:
    """Per-group mean/stddev (decimal-exact sums, sample variance) and an
    |z| > threshold outlier flag — the reference's QC purpose. Groups of
    size 1 get null z (no dispersion).

    r16 (guide §2.4): the whole-partition window became a groupBy +
    broadcast join-back. The window form shuffled EVERY row to
    hash(group) — with a handful of QC series that collapses parallelism
    to |groups| tasks and moves the full table — where the groupBy's
    partial aggregation ships |groups|×|map tasks| tiny partial rows and
    the join back is map-side. Values are identical: the decimal sums are
    exact (order-independent), and the per-row arithmetic is the same
    IEEE expression over the same exact inputs. Contract: ``group`` is a
    QC series key of broadcastable cardinality (per-series stats must fit
    one node in ANY formulation that attaches them back to rows)."""
    # stats' columns get a prefix no input column starts with, so the join
    # back to df — a self-join by lineage — is unambiguous without dataset
    # aliases, whatever df's columns are named.
    p = "__zs"
    while any(c.startswith(p) for c in df.columns):
        p += "_"
    n_c, s1_c, s2_c = f"{p}_n", f"{p}_s1", f"{p}_s2"
    stats = (
        df.groupBy(*group)
        .agg(
            F.count(F.lit(1)).alias(n_c),
            F.sum(dec2(value)).cast("double").alias(s1_c),
            # value is 2-dp → value² is exactly 4-dp; decimal(22,4) sums
            # stay exact.
            F.sum((dec2(value) * dec2(value)).cast("decimal(22,4)"))
            .cast("double")
            .alias(s2_c),
        )
        .select(
            *[F.col(g).alias(f"{p}_g_{i}") for i, g in enumerate(group)],
            n_c,
            s1_c,
            s2_c,
        )
    )
    n, s1, s2 = F.col(n_c), F.col(s1_c), F.col(s2_c)
    mean = s1 / n
    var = F.when(n > 1, (s2 - s1 * s1 / n) / (n - F.lit(1)))
    std = F.sqrt(var)
    z = (F.col(value) - mean) / std
    # eqNullSafe, not the on=[...] equi-join: a NULL group key forms a
    # window partition (and a groupBy group) but a plain join key drops
    # its rows — null-safe equality keeps the window form's semantics
    # exactly, and EqualNullSafe is still a hash-join key.
    cond = None
    for i, g in enumerate(group):
        c = F.col(g).eqNullSafe(F.col(f"{p}_g_{i}"))
        cond = c if cond is None else cond & c
    return df.join(F.broadcast(stats), cond).select(
        *df.columns,
        mean.alias("g_mean"),
        std.alias("g_std"),
        z.alias("z"),
        (F.abs(z) > F.lit(z_thresh)).alias("is_outlier"),
    )
