"""Catalog: name -> DataFrame over a scale-factor directory.

Spark analogue of the reference's literal name->path map
(/root/reference/example/config.js:8-15, looked up at index.js:393): here the
catalog is a thin resolver to `spark.read.parquet` with the explicit schema
from schemas.py.

Scale note: the reference re-fetches the whole file on every render
(index.js:397, no cache). We read lazily — Catalyst prunes columns and pushes
predicates into the parquet scan — and keep only the resolved plan per
session (see load_table), never the rows: every execution scans the files
again. At 100 TB the per-"series"
file-per-compound layout collapses into one partitioned table (partition
column = series name), so catalog lookup becomes partition pruning, not a
file-path dict.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import EVENTS_PHYSICAL, TABLE_SCHEMAS

TABLES = tuple(TABLE_SCHEMAS)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# file -> (mtime_ns, size, unit): re-probing a footer is skipped only while
# the file is byte-identical, so a testdata regen (new mtime/size) under a
# long-lived process re-probes instead of serving the stale unit — the exact
# failure class this probe exists to prevent (ADVICE r5 #2). A plain
# lru_cache on path had no such invalidation.
_TS_UNIT_CACHE: dict[str, tuple[int, int, str]] = {}


def events_ts_unit(path: str) -> str:
    """Physical unit of ``events.ts`` from the parquet footer(s) ('ns'/'us').

    The testdata generator has shipped both TIMESTAMP(NANOS) — which Spark's
    parquet reader rejects outright, forcing the raw-int64 shim below — and
    plain timestamp[us], which Spark reads natively. Hardcoding either unit
    silently mis-scales every event timestamp by 1000× when the data is
    regenerated with the other one, so we probe the footer (metadata-only
    read, no row groups) and branch. ``path`` may be a file or a directory of
    part files; EVERY part footer is probed (cached per file content) and a
    mixed-unit directory raises instead of silently mis-scaling the parts
    that disagree with the first file (VERDICT r5 'Next round' #3). Footer
    reads are O(files) metadata-only — at cluster scale, table formats pin
    one schema per table so this degenerates to a single catalog lookup.
    """
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        probes = [
            os.path.join(path, entry)
            for entry in sorted(os.listdir(path))
            if entry.endswith(".parquet")
        ]
        if not probes:
            raise FileNotFoundError(f"no .parquet part files under {path}")
    else:
        probes = [path]
    units: dict[str, str] = {}
    for probe in probes:
        st = os.stat(probe)
        cached = _TS_UNIT_CACHE.get(probe)
        if cached is not None and cached[0] == st.st_mtime_ns and cached[1] == st.st_size:
            units[probe] = cached[2]
            continue
        t = pq.read_schema(probe).field("ts").type
        unit = getattr(t, "unit", "us")
        _TS_UNIT_CACHE[probe] = (st.st_mtime_ns, st.st_size, unit)
        units[probe] = unit
    distinct = sorted(set(units.values()))
    if len(distinct) > 1:
        raise ValueError(
            f"mixed ts units across part files of {path}: "
            f"{ {u: [os.path.basename(p) for p, pu in units.items() if pu == u][:3] for u in distinct} } "
            "— refusing to read; a single directory must be written with one "
            "timestamp unit"
        )
    return distinct[0]


_PINNED_ATTR = "_dataselector_defaults_ok"


def ensure_session_defaults(spark: SparkSession) -> None:
    """Pin the two session settings the engine's semantics depend on, since
    the session may be caller-owned (the driver builds its own):

    * UTC timezone — timestamp→string keys (functions/keys.py) must be
      location-independent and oracle-comparable;
    * ANSI off — the engine declares permissive SQL semantics: hash mixing
      (operators/dedup.py) uses wrapping int64 arithmetic, which Spark 4's
      default ANSI mode would reject with ARITHMETIC_OVERFLOW.

    r16 (the Py4J law applied to session plumbing): each conf.get is a
    bridge round-trip and this runs on EVERY load_table call (~2-3 per
    entry build, ~1k commands per suite sweep) — once the settings are
    pinned for a session they stay pinned (nothing in the engine unsets
    them), so remember that on the session object and return in pure
    Python afterwards. Anyone flipping the confs mid-session owns the
    breakage, exactly as before (the old probe only re-pinned on the NEXT
    load_table anyway). A caller that pins its own settings (say, an ANSI
    sweep) calls `mark_session_pinned` first, and this leaves them alone.
    """
    if getattr(spark, _PINNED_ATTR, False):
        return
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.ansi.enabled") != "false":
        spark.conf.set("spark.sql.ansi.enabled", "false")
    # Spark still defaults parquet timestamps to legacy INT96, which carries
    # NO row-group statistics — every time-range predicate on data WE wrote
    # would scan 100% of row groups (docs/SCALE.md, z-order clustering).
    # INT64 micros is the modern type, readable by DuckDB/Arrow, and makes
    # min/max pruning work on every timestamp column.
    if (
        spark.conf.get("spark.sql.parquet.outputTimestampType")
        != "TIMESTAMP_MICROS"
    ):
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
    mark_session_pinned(spark)


def mark_session_pinned(spark: SparkSession) -> None:
    """Declare ``spark``'s session settings pinned: `ensure_session_defaults`
    (run by every `load_table`) returns without reading or setting any conf
    from now on. For callers that own the settings — they must then pin the
    UTC timezone and TIMESTAMP_MICROS output themselves."""
    setattr(spark, _PINNED_ATTR, True)


# Session-scoped TABLE-PLAN cache (r15): resolving a parquet relation costs
# ~20 ms of driver/JVM work per call (DataSource.resolveRelation + file
# listing), paid 2-3x per suite entry BUILD. Real engines answer this with
# a catalog/metastore; here the unexecuted DataFrame (a pure plan — every
# execution still scans the parquet files) is cached per live SparkSession,
# keyed on the file set's (relpath, mtime_ns, size) fingerprint so a
# testdata regen re-resolves instead of serving a stale relation — the same
# invalidation rule as _TS_UNIT_CACHE above (ADVICE r5 #2).
#
# ADVICE r15 #1: the r15 WeakKeyDictionary could never actually release an
# entry — the cached DataFrames strongly reference their SparkSession, so
# the value kept its own weak key alive for process lifetime. The dict now
# lives ON the session object itself: its lifetime is exactly the session
# object's, the cycle (session -> dict -> DataFrame -> session) is ordinary
# garbage-collectable Python, and a stopped/dropped session takes its plans
# with it.
_PLAN_CACHE_ATTR = "_dataselector_table_plan_cache"


def _table_plan_cache(spark: SparkSession) -> dict:
    cache = getattr(spark, _PLAN_CACHE_ATTR, None)
    if cache is None:
        cache = {}
        setattr(spark, _PLAN_CACHE_ATTR, cache)
    return cache


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table with its declared schema (no inference pass)."""
    ensure_session_defaults(spark)
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; catalog has {sorted(TABLE_SCHEMAS)}")
    path = table_path(sf_dir, name)
    from .operators.layout import dir_fingerprint

    key = (sf_dir, name, tuple(dir_fingerprint(path)))
    per_session = _table_plan_cache(spark)
    cached = per_session.get(key)
    if cached is not None:
        # ADVICE r15 #2: never hand the IDENTICAL DataFrame object to two
        # callers — a caller joining two load_table results of the same
        # table would trip Spark's ambiguous-self-join detection (fresh
        # reads used to produce distinct dataset ids). One .alias() per hit
        # is a single bridge call (~0.2 ms vs the ~20 ms resolve it saves)
        # and gives every caller its own dataset id; the SubqueryAlias is
        # erased by the optimizer, so physical plans are unchanged.
        return cached.alias(name)
    if name == "events":
        df = read_events(spark.read, sf_dir, path)
    else:
        df = spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)
    per_session[key] = df
    return df


def read_events(reader, sf_dir: str, source: str) -> DataFrame:
    """``events`` loaded from ``source`` through ``reader`` (``spark.read``,
    or a configured ``spark.readStream``), with ``ts`` as declared whichever
    unit ``sf_dir``'s events file stores (see events_ts_unit).

    TIMESTAMP(NANOS) is illegal for Spark's reader: take the raw int64 and
    truncate ns -> µs exactly as DuckDB does. timestamp[us] (possibly NTZ)
    reads natively with the declared TimestampType schema: under the UTC
    session pin this is the same wall-clock DuckDB sees, microsecond-exact.
    """
    declared = TABLE_SCHEMAS["events"]
    if events_ts_unit(table_path(sf_dir, "events")) != "ns":
        return reader.schema(declared).parquet(source)
    raw = reader.schema(EVENTS_PHYSICAL).parquet(source)
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))).select(
        *[f.name for f in declared.fields]
    )
