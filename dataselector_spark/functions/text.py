"""Text-analysis column expressions (SURVEY.md §2 B15) — all JVM built-ins.

Tokenization here is exact single-space split (the documents table is
single-space separated; `n_chars == length(text)` verified at sf0.01). For
messier corpora swap `TOKEN_SEP` for a regex split — every downstream
expression only sees the token array.

Higher-order functions (`transform`/`filter`/`aggregate` over arrays) keep
n-gram generation, stopword scoring and rolling-hash fingerprinting inside
whole-stage codegen — no Python UDFs, so these run at scan throughput over
100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .cleaning import _c
from .sql import quote_ident

TOKEN_SEP = " "

# Tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic. Deliberately small: the heuristic is a cheap first-pass router,
# not a classifier of record.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "ein"],
}

FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_BASE = 31


def tokens(col: Column | str) -> Column:
    return F.split(_c(col), TOKEN_SEP)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def word_ngrams(col: str, n: int) -> Column:
    """Sliding word n-grams of the string column NAMED ``col``, as
    space-joined strings (shingles for Jaccard / MinHash). Empty array when
    the document has < n tokens.

    The token array is bound ONCE through a single-element-array transform
    lambda: referencing the split expression directly inside the
    per-position lambda makes codegen re-run the regex split for EVERY
    n-gram position — O(tokens²) splits per document, measured 2.6× slower
    on the sf0.1 corpus (1.60 s → 0.61 s for the 3-gram pass).

    r15 (the Py4J expression law, docs/SCALE.md): the whole expression is
    parsed from ONE SQL string — the DataFrame-API nested-lambda build cost
    ~170 bridge commands (~40 ms of driver latency) per call. A Column
    argument raises TypeError: compose SQL fragments through
    `word_ngrams_sql` instead."""
    if not isinstance(col, str):
        raise TypeError(
            f"word_ngrams takes a column name, not {type(col).__name__}; "
            "use word_ngrams_sql to compose over an expression"
        )
    return F.expr(word_ngrams_sql(quote_ident(col), n))


def word_ngrams_sql(col_sql: str, n: int) -> str:
    """SQL text of `word_ngrams` over an arbitrary string fragment — for
    composing into larger single-parse expressions (the Py4J law)."""
    # ADVICE r15 #3: TOKEN_SEP is interpolated into a single-quoted SQL
    # literal below; a separator containing quote/backslash metacharacters
    # would silently diverge from `tokens` (Spark SQL literal escaping
    # differs from F.split's Python-side argument). Fail loudly
    # instead if anyone swaps in such a separator (an `if`, not an
    # `assert`, so `python -O` keeps the check).
    if "'" in TOKEN_SEP or "\\" in TOKEN_SEP:
        raise ValueError(
            "TOKEN_SEP contains SQL string-literal metacharacters; escape it in "
            "word_ngrams_sql before embedding"
        )
    return (
        f"transform(array(split({col_sql}, '{TOKEN_SEP}')), "
        f"tk -> CASE WHEN size(tk) >= {n} "
        f"THEN transform(sequence(1, size(tk) - {n} + 1), "
        f"i -> concat_ws(' ', slice(tk, i, {n}))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END)[0]"
    )


def fingerprint_sql(col_sql: str) -> str:
    """SQL text of the polynomial rolling-hash fingerprint of a string
    fragment (a column, or a lambda variable such as a shingle):
    fold(h -> h*31 + codepoint, mod 1e9+7) over the character stream.
    Stays in int64 (h < 1e9, h*31 + c < 2^35); deterministic and
    SQL-portable (DuckDB list_reduce/ord oracle)."""
    return (
        f"aggregate(transform(split({col_sql}, ''), ch -> CAST(ascii(ch) AS BIGINT)), "
        "CAST(0 AS BIGINT), "
        f"(h, code) -> (h * {FINGERPRINT_BASE} + code) % {FINGERPRINT_MOD})"
    )


def word_ngram_hashes_sql(col_sql: str, n: int, distinct: bool = True) -> str:
    """SQL text of the xxhash64-hashed word-n-gram array — the shingle
    IDENTITY (not the text) for joins/grouping/DF-counting where no output
    ever emits the n-gram string itself. Hashing before the first exchange
    makes every downstream shuffle move 8-byte int64 keys instead of n-word
    strings (optimization guide §2.3 "shuffle fewer bytes"; r16). Exact set
    semantics up to 64-bit collisions across the corpus shingle universe
    (P ≈ u²/2⁶⁵ — ~3e-8 at the sf0.1 universe of ~1e6 shingles); the DuckDB
    differentials replay every consumer on STRING shingles, so a collision
    at the checked SFs fails loudly rather than passing silently."""
    inner = f"transform({word_ngrams_sql(col_sql, n)}, s -> xxhash64(s))"
    return f"array_distinct({inner})" if distinct else inner


def stopword_hits(col: Column | str, stopwords: list[str]) -> Column:
    """Number of token occurrences that are stopwords (with multiplicity)."""
    stop = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(stop, F.lower(t))))


def punct_ratio(col: Column | str) -> Column:
    c = _c(col)
    n_punct = F.length(F.regexp_replace(c, r"[^.,!?;:'\"]", ""))
    return n_punct.cast("double") / F.length(c)


def quality_score(col: Column | str, lang: str = "en") -> Column:
    """Composite heuristic quality score in [0,1]: length band + stopword
    density + low punctuation noise — the standard cheap pre-filter in LLM
    data pipelines (C4-style)."""
    c = _c(col)
    tc = token_count(c).cast("double")
    length_ok = F.when((tc >= 20) & (tc <= 10000), 1.0).otherwise(
        F.least(tc / 20.0, F.lit(1.0))
    )
    stop_density = F.least(
        stopword_hits(c, LANG_PROFILES.get(lang, LANG_PROFILES["en"])).cast("double")
        / F.greatest(tc, F.lit(1.0)) * 5.0,
        F.lit(1.0),
    )
    punct_ok = F.lit(1.0) - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    return (length_ok + stop_density + punct_ok) / 3.0


def lang_id(col: Column | str) -> Column:
    """Stopword-profile language ID: argmax of per-language hit counts,
    'und' when nothing matches. CJK shortcut first (codepoint range test)."""
    c = _c(col)
    scored = F.array(
        *[
            F.struct(
                stopword_hits(c, words).alias("hits"), F.lit(lang).alias("lang")
            )
            for lang, words in LANG_PROFILES.items()
        ]
    )
    best = F.array_max(scored)
    guess = F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
    return F.when(c.rlike("[\\u4e00-\\u9fff]"), F.lit("zh")).otherwise(guess)


def fingerprint(col: str) -> Column:
    """`fingerprint_sql` over the string column NAMED ``col``; a Column
    argument raises TypeError, as in `word_ngrams`."""
    if not isinstance(col, str):
        raise TypeError(
            f"fingerprint takes a column name, not {type(col).__name__}; "
            "use fingerprint_sql to compose over an expression"
        )
    return F.expr(fingerprint_sql(quote_ident(col)))


# GPT-2-style pre-tokenizer pattern: contractions, space-prefixed letter
# runs, space-prefixed digit runs, space-prefixed punctuation runs, residual
# whitespace. Backreference-free, so it behaves identically under Java
# regex (Spark) and RE2 (DuckDB `regexp_extract_all`).
BPE_TOKEN_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish subword-boundary token count (the standard LLM-pipeline
    size estimate when a real tokenizer is too expensive to run over the
    whole corpus): number of GPT-2 pre-tokenizer matches."""
    return F.regexp_count(_c(col), F.lit(BPE_TOKEN_PATTERN))
