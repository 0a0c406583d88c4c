"""Sources & sinks (SURVEY.md §2 B1, A1/A2).

`reference` ingests the reference widget's own JSON layout; the storage
layout writers (small-files compaction, sort-clustered parquet) live here. Delta/Iceberg-style
table formats need jars not present in this container — gate behind
import-try if ever added.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def compact_files(
    spark,
    in_path: str,
    out_path: str,
    target_bytes: int = 128 << 20,
    fmt: str = "parquet",
) -> int:
    """Small-files compaction: rewrite a directory of many undersized files
    into ceil(total_bytes / target_bytes) files of ~HDFS-block size.

    The small-files problem is the classic death-by-metadata failure at
    100 TB (a streaming sink or over-parallel writer leaves millions of
    KB-sized files; every downstream scan pays per-file open cost and the
    planner pays per-file listing). Compaction is one read + one
    round-robin repartition + one write — no shuffle key needed because
    the goal is file SIZE, not clustering (use write_clustered for that).

    Returns the number of output files requested. Local-filesystem sizing;
    on a real cluster the same arithmetic runs off the table catalog's
    file statistics.
    """
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(in_path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / target_bytes))
    df = spark.read.format(fmt).load(in_path)
    df.repartition(n).write.mode("overwrite").format(fmt).save(out_path)
    return n


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    num_files: int | None = None,
) -> None:
    """Sort-clustered parquet layout: range-partition on ``cluster_by`` and
    sort within each file, so every file (and row group) covers a narrow
    min/max range of the cluster key. Downstream range/equality filters on
    that key then prune at the FILE level from parquet footer statistics —
    the poor-man's Z-order, and the single highest-leverage storage
    optimization for selective scans over 100 TB.

    One range-exchange (sampling pass chooses balanced boundaries) + a
    per-partition sort; no global single-task sort.
    """
    cols = [df[c] for c in cluster_by]
    part = df.repartitionByRange(num_files, *cols) if num_files else df.repartitionByRange(*cols)
    part.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)
