"""Declarative data-quality validation — the batch generalization of the
reference's whole purpose (an analyst flagging bad rows,
/root/reference/README.md:6-15) as machine-checkable expectations.

Each check is a named predicate evaluated corpus-wide in ONE pass per table
(conditional-sum aggregation — no per-check scans); referential checks are
anti-join counts. Output is a tidy relation
``(check_name, violations, total, ok)`` suitable for alerting or a quality
dashboard, and cheap enough to run on every ingest batch at 100 TB: every
check is an algebraic aggregate, so the shuffle is O(checks), and the scan
is shared.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    name: str
    violation: Column  # boolean: TRUE when the row violates the expectation


def not_null(col: str) -> Check:
    return Check(f"not_null:{col}", F.col(col).isNull())


def in_range(col: str, lo: float, hi: float) -> Check:
    c = F.col(col)
    return Check(
        f"in_range:{col}", c.isNotNull() & ~c.between(F.lit(lo), F.lit(hi))
    )


def matches(col: str, pattern: str, name: str | None = None) -> Check:
    c = F.col(col)
    return Check(name or f"matches:{col}", c.isNotNull() & ~c.rlike(pattern))


def run_checks(df: DataFrame, checks: list[Check]) -> DataFrame:
    """All row-level checks in one aggregation pass over one scan."""
    total = F.count(F.lit(1))
    # coalesce: on an EMPTY input sum() is NULL, which would make
    # `violations` NULL and `ok` NULL — an empty ingest batch must report
    # 0 violations / ok=true, not "neither pass nor fail".
    aggs = [
        F.coalesce(F.sum(c.violation.cast("long")), F.lit(0)).alias(c.name)
        for c in checks
    ] + [total.alias("__total")]
    row = df.agg(*aggs)
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c.name).alias("check_name"),
                    F.col(c.name).alias("violations"),
                )
                for c in checks
            ]
        )
    ).alias("p")
    return row.select(pairs, F.col("__total")).select(
        F.col("p.check_name").alias("check_name"),
        F.col("p.violations").alias("violations"),
        F.col("__total").alias("total"),
        (F.col("p.violations") == 0).alias("ok"),
    )


def uniqueness_violations(df: DataFrame, keys: list[str]) -> DataFrame:
    """(check_name, violations, total, ok): rows beyond the first per key —
    the duplicate mass a dedup pass would remove."""
    total = df.count()
    dup = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("violations"))
    )
    return dup.select(
        F.lit(f"unique:{','.join(keys)}").alias("check_name"),
        F.col("violations"),
        F.lit(total).alias("total"),
        (F.col("violations") == 0).alias("ok"),
    )


def referential_violations(
    child: DataFrame, child_key: str, parent: DataFrame, parent_key: str
) -> DataFrame:
    """(check_name, violations, total, ok): child rows whose key has no parent
    (orphan foreign keys) via left-anti join — broadcast when the parent key
    set is dim-sized."""
    total = child.count()
    orphans = child.join(
        parent.select(F.col(parent_key).alias(child_key)).distinct(),
        child_key,
        "left_anti",
    ).count()
    return child.sparkSession.createDataFrame(
        [(f"ref:{child_key}->{parent_key}", orphans, total, orphans == 0)],
        "check_name string, violations long, total long, ok boolean",
    )


def observed_checks(df: DataFrame, checks: list[Check]):
    """Attach the checks to ``df`` as an Observation so violation counts are
    collected DURING whatever action the caller already runs — zero extra
    scans, zero extra jobs. Returns (df, observation); read
    ``observation.get`` AFTER an action on the returned df.

    This is the 100 TB shape of continuous validation: the QC metrics ride
    the production pipeline's own pass instead of doubling the read."""
    from pyspark.sql import Observation

    obs = Observation("quality_checks")
    metrics = [
        F.coalesce(F.sum(c.violation.cast("long")), F.lit(0)).alias(c.name)
        for c in checks
    ] + [F.count(F.lit(1)).alias("__total")]
    return df.observe(obs, *metrics), obs
