"""Selection-set algebra — the reference's session "database" as one relation.

The reference maintains two mutually inverted maps
(`selectionsByCompound` / `selectionsByDate`, /root/reference/index.js:49-51)
mutated point-at-a-time by `updateClicked` (index.js:510-534) and re-pivoted
by `commitSelections` (index.js:797-813). Here the state is ONE DataFrame
``selections(date_key STRING, compound STRING)`` and each mutation is a set
operation over whole batches (the reference's per-point loop at
index.js:252-253 collapses into a single distributed op):

    insert        — union ∪ distinct                       (index.js:528-531)
    toggle        — symmetric difference, one aggregation  (index.js:516-531)
    retract       — anti-join / filter                     (index.js:843-860)
    apply (A16)   — left-semi join back onto the data      (index.js:460-465)
    invert (A18)  — groupBy + collect_set, either direction (index.js:797-813)
    export (A21)  — sorted grouped JSON                    (index.js:818-836)

Invariants inherited from the reference: set semantics (no duplicate
(key, compound) pairs) and no empty groups (eager empty-set deletion at
index.js:524-526 is implicit in Spark — empty groups never materialize).

Scale: selections are tiny relative to the data (human- or rule-flagged
outliers), so `apply_selections` broadcasts them; the inverted-index views
are plain shuffled aggregations that AQE sizes at runtime.

The broadcast build side of apply/anti is not de-duplicated: a left-semi or
left-anti join returns the same rows whether or not the build side repeats
a key, so a `distinct` there only adds a shuffle. Worse, over a
`localCheckpoint`ed selection relation (a statistics-less `Scan
ExistingRDD`) that aggregate made Catalyst's runtime-filter rule inject a
`might_contain` bloom-filter subquery, i.e. one more scan of the data per
render. Toggle is one tagged aggregation, so it costs one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KEY = "date_key"
COMPOUND = "compound"
_COLS = [KEY, COMPOUND]


def _canon(df: DataFrame) -> DataFrame:
    return df.select(*_COLS)


def select_insert(selections: DataFrame, new: DataFrame) -> DataFrame:
    """Add (key, compound) pairs; set semantics (index.js:528-531)."""
    return _canon(selections).union(_canon(new)).distinct()


def select_toggle(selections: DataFrame, hits: DataFrame) -> DataFrame:
    """Remove-on-dupe toggle over a batch (alt-drag, index.js:252-253 →
    updateClicked(removeOnDupe=true), index.js:516-531): present pairs are
    removed, absent pairs inserted — the symmetric difference. Each side is
    tagged with its own bit; a pair whose OR of tags is 3 is on both sides
    and drops out. Grouping treats null keys as equal, so a null-keyed pair
    present on both sides cancels like any other (SQL ``EXCEPT`` semantics)."""
    side = "_side"
    tagged = (
        _canon(selections).withColumn(side, F.lit(1))
        .union(_canon(hits).withColumn(side, F.lit(2)))
    )
    return (
        tagged.groupBy(*_COLS)
        .agg(F.bit_or(side).alias(side))
        .filter(F.col(side) != 3)
        .select(*_COLS)
    )


def retract_compound(selections: DataFrame, compound: str) -> DataFrame:
    """Drop one compound everywhere (`cleanPlot`, index.js:843-860). Empty
    date groups disappear for free."""
    return _canon(selections).filter(F.col(COMPOUND) != F.lit(compound))


def apply_selections(data: DataFrame, selections: DataFrame, key_col: str) -> DataFrame:
    """Mark-by-membership on render (index.js:460-465): rows of ``data``
    whose key is selected for the active compound. Broadcast semi-join —
    selections are small by construction. No ``distinct`` on the build side
    (see the module docstring)."""
    sel_keys = _canon(selections).select(F.col(KEY).alias(key_col))
    return data.join(F.broadcast(sel_keys), key_col, "left_semi")


def anti_selections(data: DataFrame, selections: DataFrame, key_col: str) -> DataFrame:
    """Complement of apply_selections (generalizes index.js:843-860)."""
    sel_keys = _canon(selections).select(F.col(KEY).alias(key_col))
    return data.join(F.broadcast(sel_keys), key_col, "left_anti")


def dates_by_compound(selections: DataFrame) -> DataFrame:
    """compound -> sorted date keys (`selectionsByCompound`, index.js:49)."""
    return (
        _canon(selections)
        .groupBy(COMPOUND)
        .agg(F.sort_array(F.collect_set(KEY)).alias("date_keys"))
    )


def compounds_by_date(selections: DataFrame) -> DataFrame:
    """date key -> sorted compounds (`selectionsByDate`, index.js:51,797-813)."""
    return (
        _canon(selections)
        .groupBy(KEY)
        .agg(F.sort_array(F.collect_set(COMPOUND)).alias("compounds"))
    )


def flagged_counts(selections: DataFrame) -> DataFrame:
    """Per-date flagged-compound count — the `"date (n)"` readout
    (index.js:746-755)."""
    return (
        _canon(selections)
        .groupBy(KEY)
        .agg(F.countDistinct(COMPOUND).alias("n_compounds"))
    )


def export_selections(selections: DataFrame) -> DataFrame:
    """The download payload (`getJSONfile`, index.js:818-836): date key ->
    sorted compound array, ordered by key. `.write.json(path)` on the result
    is the sink; sort_array keeps the nested array deterministic."""
    return compounds_by_date(selections).orderBy(KEY)


def write_export(selections: DataFrame, path: str) -> None:
    export_selections(selections).write.mode("overwrite").json(path)
