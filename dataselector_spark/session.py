"""SparkSession factory with the engine's standard configuration.

Scale posture (SURVEY.md §4): AQE on (runtime coalesce / join-strategy switch
/ skew splitting), UTC session timezone so timestamp semantics match the
DuckDB oracle and are cluster-location-independent, Arrow enabled for the few
Pandas-UDF paths, and shuffle partitions sized to the local core count rather
than the 200 default (wrong for both 6k-row tests and 100 TB — on a real
cluster this is set per-job from input size; AQE coalesces down from a high
initial number).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

_conf_lock = threading.RLock()


def get_spark(
    app_name: str = "dataselector_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real cluster the
    ``master`` and memory settings come from the submitter; everything set
    here is safe cluster-side too.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r15 (guide §4.2): cap Arrow batches by BYTES, not the 10k-row /
        # 64 MB defaults — the multimodal mapInPandas passes carry multi-KB
        # binary cells per row, and 64 MB pandas frames cost allocation
        # churn and JVM->Python pipelining stalls. 1 MB batches measured
        # 25-40% faster on every Arrow entry (b16_image_dedup 4.65->2.76 s,
        # b16_phash256 2.90->1.86, b21_pandas_udaf 0.90->0.56) with no
        # regression on narrow-row entries (still thousands of rows per
        # batch). Data-shape-dependent, not cluster-size-dependent.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # ANSI off: the engine follows permissive SQL semantics (sentinel data
        # contains out-of-range values by design; oracle queries are written
        # to be ANSI-agnostic).
        .config("spark.sql.ansi.enabled", "false")
        # Streaming tests use small deterministic micro-batches.
        .config("spark.sql.streaming.schemaInference", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` for the with-block only, then put each key back: its old
    value if it was set, ``unset`` if not, so ``spark.conf.getAll`` comes out
    as it went in. One re-entrant module lock serializes every scoped swap,
    so two threads on one session cannot restore each other's values. The
    lock is held for the whole block, and every caller (``start_query``
    too) waits on it: keep in the block only the work that reads the
    swapped confs, i.e. planning and any execution whose plan is checked."""
    with _conf_lock:
        # contains = set on this session (one bridge call; getAll is ~30 ms)
        was = {k: spark.conf.get(k) for k in confs if spark.conf._jconf.contains(k)}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k in confs:
                if k in was:
                    spark.conf.set(k, was[k])
                else:
                    spark.conf.unset(k)
