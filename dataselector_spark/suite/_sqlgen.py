"""DuckDB-SQL generation helpers for oracles that replay deterministic
vector arithmetic (sign-LSH signatures, IVF centroid assignment).

The generated SQL mirrors the exact IEEE evaluation order of
functions/vectors.py (sequential left fold of per-index double products,
zero seed) and of the driver-side Python replicas in
operators/similarity.py, so hash checks are bit-exact. Plane/centroid
literals are embedded because they are plan-time constants on the Spark
side (derived from a seed, not from data). Strings spliced into SQL text
of either dialect are quoted by ``functions.sql.sql_string_literal``.
"""

from __future__ import annotations

DIM = 64  # embeddings.embedding width (TESTDATA.md)


def sql_double_literal(x: float) -> str:
    """repr(x) with an exponent marker so DuckDB parses it directly as
    DOUBLE (strtod, correctly rounded). A bare decimal literal types as
    DECIMAL, and DuckDB's DECIMAL->DOUBLE cast can be one ulp off strtod
    (found r7: CAST(0.43836522568017244 AS DOUBLE) != the nearest double),
    which silently poisons any value-checked float arithmetic built on
    embedded literals."""
    r = repr(float(x))
    return r if ("e" in r or "inf" in r or "nan" in r) else r + "e0"


def sql_vec_literal(vec: list[float]) -> str:
    return "[" + ", ".join(sql_double_literal(x) for x in vec) + "]"


def sql_dot(a_expr: str, b_expr: str, dim: int = DIM) -> str:
    """Sequential left fold of per-index products — the same association
    order as functions/vectors.py dot_product."""
    return f"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(range(1, {dim} + 1),
            i -> CAST(({a_expr})[i] AS DOUBLE) * CAST(({b_expr})[i] AS DOUBLE))),
        (x, y) -> x + y)"""


def sql_norm(expr: str) -> str:
    return f"""sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform({expr}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        (x, y) -> x + y))"""


def sql_cosine(a_expr: str, b_expr: str, dim: int = DIM) -> str:
    return f"({sql_dot(a_expr, b_expr, dim)} / ({sql_norm(a_expr)} * {sql_norm(b_expr)}))"


def sql_signature(vec_expr: str, planes: list[list[float]]) -> str:
    """H-bit sign-LSH signature mirroring operators/similarity.py
    sign_lsh_signature: bit h = [vec · plane_h >= 0]."""
    terms = [
        f"(CASE WHEN {sql_dot(vec_expr, sql_vec_literal(p), len(p))} >= 0"
        f" THEN {1 << h} ELSE 0 END)"
        for h, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


def sql_centroid_values(centroids: list[list[float]]) -> str:
    """VALUES clause (cell, c) enumerating centroid literals."""
    rows = ", ".join(
        f"({i}, {sql_vec_literal(c)})" for i, c in enumerate(centroids)
    )
    return f"(VALUES {rows}) AS cents(cell, c)"


def sql_sumsq(expr: str) -> str:
    """Sum of squared components (sql_norm without the sqrt) — the scaled
    MIPS augmentation works in squared-norm space to avoid a sqrt-of-max
    vs max-of-sqrt association mismatch."""
    return f"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform({expr}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        (x, y) -> x + y)"""


def sql_mips_signature(
    vec_expr: str, planes: list[list[float]], msq_expr: str
) -> str:
    """H-bit sign-LSH signature of the SCALED-AUGMENTED vector
    [x, sqrt(M^2 - ||x||^2)] against (dim+1)-component planes — the
    asymmetric-LSH MIPS data-side map, mirroring
    operators/similarity.py mips_topk_lsh: bit h =
    [dot(x, p_h[:dim]) + sqrt(max(0, msq - ||x||^2)) * p_h[dim] >= 0]
    (scaling the unit augmentation by M flips no signs)."""
    terms = []
    for h, p in enumerate(planes):
        body = p[:-1]
        last = sql_double_literal(p[-1])
        terms.append(
            f"(CASE WHEN ({sql_dot(vec_expr, sql_vec_literal(body), len(body))}"
            f" + sqrt(greatest(CAST(0 AS DOUBLE), {msq_expr}"
            f" - {sql_sumsq(vec_expr)})) * {last}) >= 0"
            f" THEN {1 << h} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"
