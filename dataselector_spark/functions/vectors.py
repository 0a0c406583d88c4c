"""Vector math over `array<float>` columns, fully JVM-side.

Built on `F.zip_with` + `F.aggregate` higher-order functions: no Python in
the loop, no UDF serialization, and the expressions participate in
whole-stage codegen. Elements are cast to double before accumulating so the
fold is an IEEE-double sequential sum — deterministic and engine-comparable
(the DuckDB oracle accumulates the same way).

Scale: each row's cost is O(dim); similarity search drivers on top of these
(operators/similarity.py) control the number of row pairs (broadcast of the
query vector for top-k; LSH bucketing for all-pairs near-dup).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sql import quote_ident


def array_lit_sql(values) -> str:
    """The SQL text of an array<double> literal (see array_lit_d) — for
    composing into larger single-parse expressions."""
    return "array(" + ",".join(repr(float(v)) + "D" for v in values) + ")"


def array_lit_d(values) -> Column:
    """array<double> literal built as ONE JVM-parsed SQL expression.

    `F.array(*[F.lit(float(x)) for x in vs])` costs a Py4J round-trip per
    element — ~65 driver calls for one 64-dim query vector, repeated per
    plane/centroid; profiled at >1 s of pure driver chatter per ANN entry
    build (r15). This helper emits `array(<v>D, ...)` as a single string:
    repr() of a Python float is the shortest decimal that round-trips, and
    Spark's `D`-suffixed literal parses via Double.parseDouble back to the
    identical IEEE double — BIT-EQUIVALENT to the F.lit path (verified for
    denormals, -0.0, and exponent forms), at ~1/65th the construction
    cost. Finite values only (inf/nan have no D-literal form; the callers
    build planes/centroids/query vectors, all finite by construction)."""
    return F.expr(array_lit_sql(values))


# r15, the Py4J-law extension to EXPRESSIONS (docs/SCALE.md): one
# DataFrame-API zip_with+aggregate chain costs ~110-125 bridge commands
# (~30-40 ms of driver latency) PER CALL because every higher-order lambda
# and operator crosses the bridge separately; the identical expression
# parsed from one SQL string costs 3 commands (~0.5 ms, measured). The
# *_sql helpers below take SQL FRAGMENTS (a quoted column name, a slice(),
# an array literal from array_lit_sql) and return the whole fold as one
# parse. The parsed tree is the same Catalyst expression (same lambda
# structure, same CAST-to-double, same 0.0D seed), so results are
# bit-identical — re-proven by the oracle differential on every consumer.


def dot_product_sql(a_sql: str, b_sql: str) -> str:
    """SQL text of the sequential-fold dot product over two array fragments."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def l2_norm_sql(a_sql: str) -> str:
    """SQL text of the sequential-fold L2 norm over an array fragment."""
    return (
        f"sqrt(aggregate(transform({a_sql}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v))"
    )


def cosine_similarity_sql(a_sql: str, b_sql: str) -> str:
    """SQL text of cosine similarity over two array fragments."""
    return (
        f"{dot_product_sql(a_sql, b_sql)} / "
        f"({l2_norm_sql(a_sql)} * {l2_norm_sql(b_sql)})"
    )


def _names(fn: str, *cols) -> list[str]:
    """The backtick-quoted column names, or TypeError for anything else."""
    if not all(isinstance(c, str) for c in cols):
        raise TypeError(f"{fn} takes column names; use {fn}_sql over an expression")
    return [quote_ident(c) for c in cols]


def dot_product(a: str, b: str) -> Column:
    return F.expr(dot_product_sql(*_names("dot_product", a, b)))


def l2_norm(a: str) -> Column:
    return F.expr(l2_norm_sql(*_names("l2_norm", a)))


def cosine_similarity(a: str, b: str) -> Column:
    return F.expr(cosine_similarity_sql(*_names("cosine_similarity", a, b)))
