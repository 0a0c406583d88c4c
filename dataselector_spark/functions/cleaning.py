"""Ingest-time cleaning + the reference's scalar numeric semantics.

* sentinel_to_null — the reference encodes missing values as -999.99
  (FIXTURES.md §B; 100% of ethane `uncertainty` rows); normalized to SQL
  NULL on ingest so aggregates skip them for free.
* round_up/down_to_step — axis-domain snapping (index.js:301-305).
* clamp — `.clamp(true)` on the d3 scale (index.js:310).
* trunc2 — the tooltip's `Math.floor(v*100)/100` 2-dp truncation
  (config.js:67); floor-based, NOT banker's/half-up rounding.
* dec2 — the exact DECIMAL view of a 2-dp double that float aggregates
  accumulate through, so sums hash-match DuckDB's.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def sentinel_to_null(col: Column | str, sentinel: float = -999.99) -> Column:
    col = _c(col)
    return F.when(col == F.lit(sentinel), F.lit(None)).otherwise(col)


def round_up_to_step(col: Column | str, step: float) -> Column:
    """ceil(v/step)*step as double (index.js:301-303)."""
    return (F.ceil(_c(col) / F.lit(step)) * F.lit(step)).cast("double")


def round_down_to_step(col: Column | str, step: float) -> Column:
    """floor(v/step)*step as double (index.js:304-305)."""
    return (F.floor(_c(col) / F.lit(step)) * F.lit(step)).cast("double")


def clamp(col: Column | str, lo: float, hi: float) -> Column:
    return F.greatest(F.lit(float(lo)), F.least(F.lit(float(hi)), _c(col)))


def trunc2(col: Column | str) -> Column:
    """2-decimal floor-truncation, `floor(v*100)/100` (config.js:67)."""
    return (F.floor(_c(col) * F.lit(100)) / F.lit(100)).cast("double")


def dec2(col: Column | str, precision: int = 12) -> Column:
    """Exact 2-dp decimal view of a 2-dp double column."""
    col = F.col(col) if isinstance(col, str) else col
    return col.cast(f"decimal({precision},2)")
