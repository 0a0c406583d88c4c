"""r15 Py4J-expression-law safety net: every *_sql single-parse fast path
must be BIT-IDENTICAL to the DataFrame-API lambda form it replaced
(docs/SCALE.md "Py4J literal law", extended to expressions in r15).

Where the lambda form is kept alive in the library as the Column-input
path, a test builds both over the same rows and asserts null-safe equality
per row — including denormals, -0.0, and empty/short arrays. Builders that
take column names only are pinned against a pure-Python replay of the
same arithmetic over the same edge rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataselector_spark.functions.text import word_ngrams
from dataselector_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
)
from dataselector_spark.operators.similarity import (
    _pseudo_planes,
    sign_lsh_signature,
)


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(
        [
            (1, [0.1, -0.0, 5e-324, 1e154], [2.0, 3.5, -1.25, 0.7]),
            (2, [0.0, 0.0, 0.0, 0.0], [1.0, 1.0, 1.0, 1.0]),
            (3, [1.5, -2.5, 3.5, -4.5], [0.1, 0.2, 0.3, 0.4]),
            (4, [1e-300, 1e300, -1e-300, -1.0], [1e300, 1e-300, 2.0, -0.0]),
        ],
        "id bigint, u array<double>, v array<double>",
    )


def _assert_all(df, *pairs):
    conds = [new.eqNullSafe(old).alias(f"eq{i}") for i, (new, old) in enumerate(pairs)]
    rows = df.select(*conds).collect()
    for r in rows:
        assert all(r), r


def test_dot_l2_cosine_sql_paths_bit_identical(vec_df):
    _assert_all(
        vec_df,
        (dot_product("u", "v"), dot_product(F.col("u"), F.col("v"))),
        (l2_norm("u"), l2_norm(F.col("u"))),
        (cosine_similarity("u", "v"), cosine_similarity(F.col("u"), F.col("v"))),
    )


def test_word_ngrams_matches_reference(spark):
    rows = [(1, "a b c d e"), (2, "x y"), (3, ""), (4, "lone"),
            (5, "one two three four five six")]
    df = spark.createDataFrame(rows, "id bigint, text string")
    got = {
        r["id"]: r["g"]
        for r in df.select("id", word_ngrams("text", 3).alias("g")).collect()
    }
    for doc_id, text in rows:
        tk = text.split(" ")
        want = [" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)]
        assert got[doc_id] == want, (doc_id, got[doc_id], want)
    with pytest.raises(TypeError):
        word_ngrams(F.col("text"), 3)


def test_sign_lsh_signature_matches_reference(vec_df):
    planes = _pseudo_planes(4, 8, seed=42)
    got = {
        r["id"]: r["sig"]
        for r in vec_df.select(
            "id", sign_lsh_signature("u", planes).alias("sig")
        ).collect()
    }
    for r in vec_df.collect():
        want = 0
        for h, p in enumerate(planes):
            dot = 0.0  # the same sequential left fold as dot_product_sql
            for x, y in zip(r["u"], p):
                dot += float(x) * float(y)
            if dot >= 0:
                want += 1 << h
        assert got[r["id"]] == want, (r["id"], got[r["id"]], want)
    with pytest.raises(TypeError):
        sign_lsh_signature(F.col("u"), planes)


def test_zorder_key_sql_path_identical(spark):
    from dataselector_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(0, 0), (255, 1), (63, 255), (170, 85), (256, 300)],
        "a bigint, b bigint",
    )
    _assert_all(
        df,
        (
            zorder_key(["a % 256", "b % 256"], bits=8),
            zorder_key([F.col("a") % 256, F.col("b") % 256], bits=8),
        ),
    )


def test_minhash_and_simhash_sql_builds_match_reference(spark):
    """The minhash/simhash builders no longer keep a lambda twin, so pin
    them against a pure-Python replay of the portable arithmetic."""
    from dataselector_spark.operators.dedup import (
        MINHASH_MOD,
        _PORT_A,
        _PORT_B,
        minhash_signatures_portable,
    )
    from dataselector_spark.functions.text import (
        FINGERPRINT_BASE,
        FINGERPRINT_MOD,
    )

    docs = [(1, "aa bb cc dd"), (2, "zz yy xx"), (3, "a b")]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r["id"]: [r[f"h{i}"] for i in range(4)]
        for r in minhash_signatures_portable(df, n=2, num_hashes=4).collect()
    }

    def poly(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * FINGERPRINT_BASE + ord(ch)) % FINGERPRINT_MOD
        return h

    for doc_id, text in docs:
        tk = text.split(" ")
        sh = [" ".join(tk[i : i + 2]) for i in range(len(tk) - 1)]
        if len(tk) < 2:
            assert doc_id not in got
            continue
        hs = [poly(s) for s in sh]
        exp = [
            min((h * _PORT_A[i] + _PORT_B[i]) % MINHASH_MOD for h in hs)
            for i in range(4)
        ]
        assert got[doc_id] == exp, (doc_id, got[doc_id], exp)
