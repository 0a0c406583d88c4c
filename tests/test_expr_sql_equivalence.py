"""r15 Py4J-expression-law safety net: every *_sql single-parse fast path
must be BIT-IDENTICAL to the DataFrame-API lambda form it replaced
(docs/SCALE.md "Py4J literal law", extended to expressions in r15).

No lambda form is kept alive in the library, so each builder is pinned
against a pure-Python replay of the same arithmetic over edge rows —
including denormals, -0.0, and empty/short arrays."""

from __future__ import annotations

import math

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


def test_dot_l2_cosine_match_reference(vec_df):
    def fold(terms):  # the *_sql builders' left fold (not sum(): it compensates)
        acc = 0.0
        for t in terms:
            acc += t
        return acc

    rows = vec_df.select(
        "u", "v", dot_product("u", "v"), l2_norm("u"), cosine_similarity("u", "v")
    ).collect()
    for u, v, *got in rows:
        dot = fold(x * y for x, y in zip(u, v))
        nu, nv = (math.sqrt(fold(x * x for x in w)) for w in (u, v))
        cos = dot / (nu * nv) if nu * nv != 0 else None  # Spark: x / 0 is NULL
        # repr tells -0.0 from 0.0 and matches nan with nan
        assert repr(got) == repr([dot, nu, cos]), (u, v, got)
    for fn, args in [(dot_product, (F.col("u"), "v")), (l2_norm, (F.col("u"),)),
                     (cosine_similarity, ("u", F.col("v")))]:
        with pytest.raises(TypeError):
            fn(*args)


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


def test_minhash_and_simhash_sql_builds_match_reference(spark):
    """The minhash/simhash builders and `fingerprint` no longer keep a
    lambda twin, so pin them against a pure-Python replay of the portable
    arithmetic."""
    from dataselector_spark.operators.dedup import (
        MINHASH_MOD,
        _PORT_A,
        _PORT_B,
        minhash_signatures_portable,
    )
    from dataselector_spark.functions.text import (
        FINGERPRINT_BASE,
        FINGERPRINT_MOD,
        fingerprint,
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

    fps = df.select("doc_id", fingerprint("text").alias("fp")).collect()
    assert {r["doc_id"]: r["fp"] for r in fps} == {d: poly(t) for d, t in docs}
    with pytest.raises(TypeError):
        fingerprint(F.col("text"))
