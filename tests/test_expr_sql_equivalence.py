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


def test_word_ngrams_sql_rejects_quoting_separator(monkeypatch):
    """A TOKEN_SEP that would break out of the SQL string literal raises
    ValueError, also under `python -O` (an if/raise, not an assert)."""
    from dataselector_spark.functions import text

    assert "split(c, ' ')" in text.word_ngrams_sql("c", 2)
    for sep in ("'", "\\"):
        monkeypatch.setattr(text, "TOKEN_SEP", sep)
        with pytest.raises(ValueError, match="TOKEN_SEP"):
            text.word_ngrams_sql("c", 2)


def test_rrf_weight_terms_quoted_into_values_literal(spark):
    """ADVICE r16: the BM25 weight terms are spliced into a VALUES literal
    through sql_string_literal — a term with a single quote round-trips and
    scores its document; a backslash (an escape only in Spark's dialect)
    raises instead of silently changing the term."""
    from dataselector_spark.suite.vectors import _rrf_bm25_scores

    docs = spark.createDataFrame(
        [(1, "it's a test"), (2, "plain words here")], "doc_id bigint, text string"
    )
    scored = {
        r["doc_id"]: r["score_milli"]
        for r in _rrf_bm25_scores(spark, docs, {"it's": 1000}).collect()
    }
    assert set(scored) == {1} and scored[1] > 0, scored
    with pytest.raises(ValueError, match="backslash"):
        _rrf_bm25_scores(spark, docs, {"a\\b": 1000})


def test_word_ngram_hashes_sql_is_xxhash64_of_string_shingles(spark):
    from dataselector_spark.functions.text import (
        word_ngram_hashes_sql,
        word_ngrams,
    )

    df = spark.createDataFrame(
        [("x y z x y z w",), ("one two",), ("",)], "text string"
    )
    got = df.select(
        F.expr(word_ngram_hashes_sql("`text`", 3)).alias("h")
    ).collect()
    want = df.select(
        F.array_distinct(
            F.transform(word_ngrams("text", 3), lambda s: F.xxhash64(s))
        ).alias("h")
    ).collect()
    assert [sorted(r["h"]) for r in got] == [sorted(r["h"]) for r in want]
    # distinct-after-hash must agree with hash-of-distinct-strings
    strings = df.select(
        F.array_distinct(word_ngrams("text", 3)).alias("s")
    ).collect()
    str_hashes = df.select(
        F.transform(
            F.array_distinct(word_ngrams("text", 3)), lambda s: F.xxhash64(s)
        ).alias("h")
    ).collect()
    for g, s, sh in zip(got, strings, str_hashes):
        assert sorted(g["h"]) == sorted(set(sh["h"]))
        assert len(g["h"]) == len(set(s["s"]))
