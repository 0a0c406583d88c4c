"""Storage-layout clustering: z-order (Morton) keys for multi-column
pruning — SURVEY.md §2 B22/B24 (curation / storage layout).

Single-column sort layouts prune scans on ONE predicate column only; a
100 TB corpus queried by (user, time) or (source, quality) needs row groups
that are narrow in BOTH. Interleaving the bits of the normalized columns
(the Morton / z-order curve) gives each row group a small bounding box in
every clustered dimension, so parquet min/max row-group stats skip data for
predicates on ANY of them — the same layout trick behind Delta/Iceberg
`OPTIMIZE ZORDER BY`, expressed here as plain Spark expressions + a
`repartitionByRange(zkey).sortWithinPartitions(zkey)` write.

Everything is JVM-side integer bit arithmetic (`shiftleft`/`shiftright`/
`&`/`|` inside whole-stage codegen) — no UDFs — and the key formula is
engine-replayable SQL, so the suite entry value-checks every key bit
against DuckDB (`zorder_key_sql` generates the identical expression).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: list[str], bits: int = 8) -> Column:
    """Interleave the low ``bits`` bits of each (already-normalized,
    non-negative integer) column into one Morton key: bit ``b`` of column
    ``i`` lands at position ``b * len(cols) + i``. Caller normalizes each
    dimension into ``[0, 2**bits)`` (modulo a hash, a range bucket, …) and
    passes it as SQL text, so the whole interleave is one parsed expression
    (a Column chain cost ~6 bridge commands per bit per dim); the
    interleave itself is exact and engine-portable."""
    # an empty list would emit malformed SQL ('CAST(0 AS BIGINT) | ')
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if not all(isinstance(c, str) for c in cols):
        raise TypeError(
            "zorder_key cols must be SQL text, "
            f"got {[type(c).__name__ for c in cols]}"
        )
    n = len(cols)
    terms = [
        f"shiftleft(shiftright(CAST({c} AS BIGINT), {b}) & 1, {b * n + i})"
        for b in range(bits)
        for i, c in enumerate(cols)
    ]
    return F.expr("CAST(0 AS BIGINT) | " + " | ".join(terms))


def zorder_key_sql(col_exprs: list[str], bits: int = 8) -> str:
    """The identical Morton interleave as ANSI/DuckDB SQL over the given
    (normalized, non-negative integer) column expressions — used by suite
    oracles to replay `zorder_key` bit-for-bit."""
    n = len(col_exprs)
    terms = [
        f"((({c} >> {b}) & 1) << {b * n + i})"
        for b in range(bits)
        for i, c in enumerate(col_exprs)
    ]
    return " | ".join(terms)


def dir_fingerprint(path: str) -> list:
    """Content fingerprint of a data file/directory: (relpath, mtime_ns,
    size) per part file, walked RECURSIVELY so an in-place rewrite inside a
    nested (e.g. hive-partitioned) layout — which changes neither the
    subdirectory's mtime nor its size — still invalidates (ADVICE r6 #2).
    Cheap (one os.stat per file) and catches regeneration — the same
    invalidation rule as catalog.events_ts_unit's probe cache."""
    import os

    if os.path.isdir(path):
        out = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for e in files:
                if e.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(root, e))
                rel = os.path.relpath(os.path.join(root, e), path)
                out.append((rel, st.st_mtime_ns, st.st_size))
        return sorted(out)
    st = os.stat(path)
    return [(os.path.basename(path), st.st_mtime_ns, st.st_size)]


def _layout_version(df: DataFrame, n_buckets: int, key: str) -> str:
    """Hash of the DERIVED layout (schema + bucket count + bucket key) so a
    changed query definition over an unchanged source invalidates the
    write-once marker (ADVICE r6 #1)."""
    import hashlib

    spec = f"{df.schema.json()}|{n_buckets}|{key}"
    return hashlib.sha256(spec.encode()).hexdigest()[:16]


def ensure_bucketed_table(
    spark,
    df: DataFrame,
    table: str,
    path: str,
    n_buckets: int,
    key: str,
    fingerprint: list | None = None,
) -> DataFrame:
    """Materialize ``df`` as an ``n_buckets`` hash-bucketed, sorted table at
    ``path`` ONCE per source state: if a marker file records the same
    ``fingerprint`` and the table is still registered, reuse it instead of
    rewriting. This is the write-once half of the bucketed-layout contract —
    the layout only pays for itself because subsequent joins DON'T redo the
    partition pass (docs/SCALE.md "Joins", interval ladder: the amortized
    probe is ~3x the write+probe). A changed source (different part mtimes/
    sizes) or a fresh metastore falls back to a full rewrite, so reuse can
    never serve stale data."""
    import json
    import os

    marker = os.path.join(path, "_dsspark_fingerprint.json")
    layout = _layout_version(df, n_buckets, key)
    want = {"source": [list(t) for t in fingerprint or []], "layout": layout}
    if fingerprint is not None and os.path.exists(marker):
        try:
            with open(marker) as f:
                same = json.load(f) == want
        except Exception:
            same = False
        if same and spark.catalog.tableExists(table):
            return spark.table(table)
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    )
    if fingerprint is not None:
        # Atomic publish (write-tmp + rename) so a concurrent reader never
        # sees a torn marker (VERDICT r6 next-round #4).
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump(want, f)
        os.replace(tmp, marker)
    return spark.table(table)


def cluster_by_zorder(
    df: DataFrame, key: Column, partitions: int | None = None
) -> DataFrame:
    """Arrange ``df`` so a columnar write produces z-clustered files:
    range-partition on the z-key (each output file covers a contiguous key
    range → a small bounding box in every clustered dimension), then sort
    within partitions so row groups inside each file are narrow too.
    This is a full shuffle — a WRITE-TIME cost paid once, like bucketing;
    every subsequent multi-dimension predicate scan prunes against it."""
    keyed = df.withColumn("__zkey", key)
    parted = (
        keyed.repartitionByRange(partitions, "__zkey")
        if partitions
        else keyed.repartitionByRange("__zkey")
    )
    return parted.sortWithinPartitions("__zkey").drop("__zkey")


def compact_small_files(
    spark,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    order_by: list | None = None,
) -> int:
    """Bin-pack a directory of (possibly thousands of) small parquet files
    into ~``target_file_bytes`` outputs at ``dst`` — the OPTIMIZE/compaction
    maintenance op every streaming or incremental sink eventually needs:
    micro-batch sinks (e.g. the b23 foreachBatch upsert) and per-partition
    appends accrete files far below the row-group sweet spot, and at 100 TB
    the scan-planning overhead (one footer read + task per file) plus the
    loss of row-group-level pruning dominates query time long before data
    size does.

    Output file count = ceil(source bytes / target) from the real listing
    (not a guess); with ``order_by`` the rewrite re-sorts via a range
    exchange so the compacted files carry disjoint key ranges — preserving
    (or establishing) the min/max-prunable layout that `cluster_by_zorder`
    / time-sorted writes produce, instead of destroying it with a hash
    round-robin. Returns the output file count."""
    import math
    import os

    total = 0
    for root, dirs, files in os.walk(src):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.stat(os.path.join(root, f)).st_size
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src)
    if order_by:
        out = df.repartitionByRange(n_out, *order_by).sortWithinPartitions(
            *order_by
        )
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(dst)
    return n_out
