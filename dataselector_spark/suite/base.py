"""Query registry plumbing."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


QUERIES: dict[str, Query] = {}


def oracle_table_refs(sql: str) -> tuple[set[str], set[str]]:
    """(table references, CTE names) in a DuckDB oracle, lower-cased.

    Conservative lexical scan: string literals are stripped first (so
    read_parquet path contents never match), CTE names are anything bound by
    ``<name> AS [[NOT] MATERIALIZED] (``, and a table reference is an
    identifier directly after FROM/JOIN that is not immediately called like
    a function (``read_parquet(...)``, ``range(...)``, ``unnest(...)``). Comma-separated
    FROM lists (``FROM a, b x, c`` — the implicit cross join used by the
    b26_rolling_dau / b17_stream_sliding oracles) are walked across commas,
    honoring bare and ``AS`` aliases, so every listed table is checked, not
    just the first (ADVICE r5 #3). Known false-negative: a clause whose first
    element is a subquery or table function (``FROM unnest(...) u, x``) stops
    at the parenthesis and leaves the rest of that list unchecked."""
    import re

    s = re.sub(r"'[^']*'", "''", sql)
    cte_def = r"(?i)\b(\w+)\s+as\s*(?:(?:not\s+)?materialized\s*)?\("
    ctes = {m.group(1).lower() for m in re.finditer(cte_def, s)}
    refs = set()
    ident = re.compile(r"\s*([a-zA-Z_][\w]*)\s*(\()?")
    comma = re.compile(r"\s*,")
    as_alias = re.compile(r"(?i)\s*as\s+([a-zA-Z_][\w]*)")
    keywords = {
        "where", "group", "order", "having", "limit", "window", "qualify",
        "union", "intersect", "except", "join", "on", "using", "as",
        "select", "left", "right", "inner", "full", "cross", "asof",
        "natural", "lateral",
    }
    for m in re.finditer(r"(?i)\b(?:from|join)\s+", s):
        pos = m.end()
        while True:
            mm = ident.match(s, pos)
            if not mm or mm.group(2):
                break  # subquery / function call — bail on this clause
            refs.add(mm.group(1).lower())
            pos = mm.end() - (1 if mm.group(2) else 0)
            ma = as_alias.match(s, pos)
            if ma:
                pos = ma.end()
            else:  # bare alias (an identifier that is not a clause keyword)
                mb = ident.match(s, pos)
                if mb and not mb.group(2) and mb.group(1).lower() not in keywords:
                    pos = mb.end()
            mc = comma.match(s, pos)
            if not mc:
                break
            pos = mc.end()
    return refs, ctes


def check_oracle_tables(queries: dict[str, Query], known_tables: set[str]) -> None:
    """Import-time guard (VERDICT r4 'Next round' #9): every oracle may only
    reference driver-registered views (TABLE_SCHEMAS) or its own CTEs —
    anything else would crash or silently diverge in the driver's DuckDB run,
    burning a correctness round. Raises listing every offending entry."""
    bad = {}
    for name, q in queries.items():
        if q.oracle is None:
            continue
        refs, ctes = oracle_table_refs(q.oracle)
        unknown = refs - known_tables - ctes - {"lateral"}
        if unknown:
            bad[name] = sorted(unknown)
    if bad:
        raise ValueError(
            f"oracle SQL references tables the driver never registers: {bad}"
        )


def query(name: str, oracle: str | None = None, doc: str = ""):
    """Register a named suite query with its optional DuckDB oracle SQL.

    Raises on duplicate names: a silent overwrite would orphan the earlier
    entry's driver-correctness record while dropping its test coverage
    (this bit round 3 — two modules both registered ``b01_orc_roundtrip``
    and the later import silently won; ADVICE.md r3 #1).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(
                f"duplicate suite entry {name!r}: already registered by "
                f"{QUERIES[name].fn.__module__}; rename one of them"
            )
        QUERIES[name] = Query(name, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco
