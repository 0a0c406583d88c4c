"""B15 text analytics: decontamination, chunking, quality and rarity
scores, BPE pair counts, PII scrubbing, collocations, BM25, surprisal and
sequence packing.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.text import word_ngram_hashes_sql, word_ngrams
from .base import query


@query(
    "b15_decontaminate",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id, unnest(list_distinct(
            list_transform(range(1, greatest(len(t) - 1, 1)),
                           i -> array_to_string(t[i:i+2], ' ')))) AS sh
        FROM toks
    ),
    eval_sh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
    shared AS (
        SELECT s.doc_id, count(*) AS n_shared
        FROM sh s JOIN eval_sh e ON s.sh = e.sh
        WHERE s.doc_id % 97 <> 0
        GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           coalesce(n_shared, 0) AS n_shared,
           coalesce(n_shared, 0) >= 2 AS contaminated
    FROM documents d LEFT JOIN shared USING (doc_id)
    WHERE d.doc_id % 97 <> 0
    """,
    doc="B15 (LLM pipeline): benchmark decontamination — flag training "
    "documents sharing >= 2 distinct word-3-gram shingles with a held-out "
    "eval set (here: doc_id % 97 == 0 stands in for the benchmark). The "
    "eval shingle set is benchmark-sized, so it BROADCASTS: the train side "
    "is one scan + one map-side join + one groupBy — no |train|x|eval| "
    "pair blow-up, which is what makes this runnable against 100 TB of "
    "training text.",
)
def b15_decontaminate(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    # r16 (guide §2.3): the broadcast eval-shingle set and the probe key are
    # the xxhash64 int64 identity, not the 3-gram string — an ~8-byte-per-key
    # broadcast hash relation and int equality probes; no output emits the
    # shingle. See word_ngram_hashes_sql.
    sh = d.select(
        "doc_id",
        F.expr(f"explode({word_ngram_hashes_sql('`text`', 3)})").alias("sh"),
    )
    eval_sh = sh.filter(F.col("doc_id") % 97 == 0).select("sh").distinct()
    shared = (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(eval_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        d.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) >= 2).alias("contaminated"),
        )
    )


@query(
    "b15_chunk_documents",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    SELECT doc_id,
           CAST((start - 1) / 24 AS BIGINT) AS chunk_idx,
           CAST(len(t[start:start+31]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(t[start:start+31], ' ') AS chunk_text
    FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1, 24)) AS start FROM toks)
    """,
    doc="B15 (LLM pipeline): sequence chunking — split each document's token "
    "stream into windows of 32 tokens with stride 24 (8-token overlap), the "
    "map-only preprocessing step before tokenizer/packing. Pure array "
    "built-ins (sequence/slice/explode): scan-speed, embarrassingly "
    "parallel, zero shuffle.",
)
def b15_chunk_documents(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    width, stride = 32, 24
    return (
        d.select(
            "doc_id",
            toks.alias("t"),
            F.explode(F.sequence(F.lit(1), F.size(toks), F.lit(stride))).alias("start"),
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / stride).cast("bigint").alias("chunk_idx"),
            F.size(F.slice(F.col("t"), F.col("start"), width)).cast("bigint").alias(
                "n_chunk_tokens"
            ),
            F.concat_ws(" ", F.slice(F.col("t"), F.col("start"), width)).alias(
                "chunk_text"
            ),
        )
    )


@query(
    "b15_repetition_score",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
        SELECT doc_id, t,
               list_transform(range(1, greatest(len(t) - 1, 1)),
                              i -> array_to_string(t[i:i+2], ' ')) AS g3
        FROM toks
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS distinct_token_ratio,
           CASE WHEN len(g3) > 0
                THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
                ELSE 0.0 END AS dup_3gram_frac
    FROM g
    """,
    doc="B15 (LLM pipeline): intra-document repetition metrics — distinct-"
    "token ratio and duplicate word-3-gram fraction, the standard "
    "Gopher-style quality signals for dropping boilerplate/spam documents. "
    "Pure array built-ins: map-only, scan-speed, no shuffle.",
)
def b15_repetition_score(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    g3 = word_ngrams("text", 3)
    return d.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_tokens"),
        (F.size(F.array_distinct(t)).cast("double") / F.size(t)).alias(
            "distinct_token_ratio"
        ),
        F.when(
            F.size(g3) > 0,
            F.lit(1.0) - F.size(F.array_distinct(g3)).cast("double") / F.size(g3),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_3gram_frac"),
    )


@query(
    "b15_rarity_score",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
    scored AS (
        SELECT t.doc_id, sum(v.tf) AS tf_sum, count(*) AS n
        FROM tok t JOIN vocab v USING (token)
        GROUP BY t.doc_id
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(tf_sum AS DOUBLE) / n AS mean_token_freq
    FROM scored
    """,
    doc="B15 (LLM pipeline): corpus-frequency rarity scoring — mean corpus "
    "term frequency of each document's tokens (low = rare/misspelled "
    "vocabulary, high = boilerplate), the cheap unigram stand-in for "
    "model-based perplexity filtering. Two shuffles total at any scale: "
    "one groupBy(token) for the vocabulary (map-side combined, O(|vocab|)) "
    "and one groupBy(doc) for the score. The vocab join carries NO "
    "broadcast hint: a natural-language vocab is dictionary-sized and AQE "
    "will broadcast it from its measured size, but a web-scale BPE/byte "
    "vocab or a corpus with unbounded tokens (URLs, code) is not — the "
    "same compile-time-guess trap as force-broadcasting a dedup loser "
    "set. Integer sums keep it engine-exact.",
)
def b15_rarity_score(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tok.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            (F.sum("tf").cast("double") / F.count(F.lit(1))).alias("mean_token_freq"),
        )
        .select("doc_id", "n_tokens", "mean_token_freq")
    )


@query(
    "b15_bpe_pair_counts",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pairs AS (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS pair
        FROM toks WHERE len(t) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair ASC LIMIT 50
    """,
    doc="B15 (LLM pipeline): BPE merge-pair statistics — the inner loop of "
    "tokenizer training: count every adjacent token pair across the corpus "
    "and rank the top merge candidates. One explode + one partial-agg "
    "shuffle + TakeOrdered(50): the map-side combine collapses the pair "
    "stream before the exchange, so the shuffle carries |vocab_pairs| "
    "partial counts, not |corpus_tokens| rows — at 100 TB the pair "
    "distribution is Zipfian and the combine absorbs the head. "
    "Deterministic tie order (count desc, pair asc) so the result is "
    "value-checked.",
)
def b15_bpe_pair_counts(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    # bind the token array once (array-lambda trick, see word_ngrams):
    # referencing the split inside the per-position lambda re-runs the regex
    # split for every pair position — O(tokens²) splits per document
    pairs = F.transform(
        F.array(F.split(F.col("text"), " ")),
        lambda tk: F.when(
            F.size(tk) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(tk, i), F.element_at(tk, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )[0]
    return (
        d.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(50)
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-[0-9]{3}-[0-9]{4}"


@query(
    "b15_pii_scrub",
    oracle=f"""
    WITH injected AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN text
                    ELSE text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com or +1-555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               END AS text
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                              '{_PHONE_RE}', '[PHONE]', 'g')) AS scrubbed_md5
    FROM injected
    """,
    doc="B15 (corpus curation): PII redaction — count and replace emails and "
    "phone numbers per document (PII is injected deterministically from "
    "doc_id since the synthetic corpus has none; docs with doc_id % 3 == 0 "
    "stay clean so the zero-redaction path is exercised too). Pure "
    "regexp_count/regexp_replace — JVM-side, map-only, no shuffle, no "
    "Python: the shape that scrubs 100 TB at scan speed. The scrubbed text "
    "is md5-hashed so the oracle value-checks every redacted byte.",
)
def b15_pii_scrub(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    injected = F.when(F.col("doc_id") % 3 == 0, F.col("text")).otherwise(
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        )
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(injected, F.lit(_EMAIL_RE), F.lit("[EMAIL]")),
        F.lit(_PHONE_RE),
        F.lit("[PHONE]"),
    )
    return d.select(
        "doc_id",
        F.regexp_count(injected, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(injected, F.lit(_PHONE_RE)).alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


@query(
    "b15_repetition_filter",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    per_word AS (
        SELECT doc_id, w, count(*) AS n FROM words GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_words,
           count(*) AS n_distinct,
           CAST(1 AS DOUBLE)
             - CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
             AS dup_word_frac,
           CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS top_word_frac,
           (CAST(1 AS DOUBLE)
              - CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE)) <= 0.6
             AND CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) <= 0.2
             AS keep
    FROM per_word GROUP BY doc_id
    """,
    doc="B15 (quality filtering, Gopher/C4 repetition rules): per-document "
    "duplicate-word fraction and most-frequent-word share — the classic "
    "repetition signals used to drop degenerate/boilerplate documents from "
    "training corpora — plus the keep verdict. Thresholds are calibrated "
    "to THIS synthetic corpus (dup<=0.6, top<=0.2; its small vocabulary "
    "puts median dup-fraction at 0.55, so Gopher's published 0.3 would "
    "degenerate to drop-85%) — the signals themselves are the exact "
    "published quantities. Two-level aggregation "
    "(doc,word)->(doc): the corpus-sized explode is fully map-side "
    "combined, only |doc| rows reach the second aggregation; single scan, "
    "all JVM-side, and every fraction is one correctly-rounded "
    "bigint/bigint double division so the oracle is bit-exact.",
)
def b15_repetition_filter(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    per_word = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    nw = F.sum("n").cast("double")
    dup = F.lit(1.0) - F.count(F.lit(1)).cast("double") / nw
    top = F.max("n").cast("double") / nw
    return per_word.groupBy("doc_id").agg(
        F.sum("n").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        dup.alias("dup_word_frac"),
        top.alias("top_word_frac"),
        ((dup <= 0.6) & (top <= 0.2)).alias("keep"),
    )


@query(
    "b15_vocab_coverage",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
    ranked AS (
        SELECT token, n,
               row_number() OVER (ORDER BY n DESC, token ASC) AS rank,
               sum(n) OVER (ORDER BY n DESC, token ASC
                            ROWS UNBOUNDED PRECEDING) AS cum_n,
               sum(n) OVER () AS total_n
        FROM counts
    )
    SELECT rank, token, n,
           CAST(cum_n AS DOUBLE) / CAST(total_n AS DOUBLE) AS cum_share
    FROM ranked WHERE rank <= 100
    """,
    doc="B15 (tokenizer training prep): vocabulary coverage curve — tokens "
    "ranked by corpus frequency with cumulative share, answering 'how many "
    "vocab entries cover X% of the corpus'. REWRITTEN r13 (the bounded-"
    "window plan audit's second catch): the original ran rank + cumulative "
    "sum as unpartitioned windows over the ENTIRE vocabulary — 'aggregated "
    "vocab << corpus' was the argument, but distinct tokens scale with the "
    "corpus (typos, numbers, URLs: billions at 100 TB), so that window is "
    "a single-partition cliff, not a bounded relation. The fix exploits "
    "prefix-sum locality: cum_n at rank r depends only on rows ABOVE r, so "
    "the top-100 curve needs only the top-100 rows — orderBy+limit plans a "
    "TakeOrderedAndProject (per-partition 100-row heaps, no global sort), "
    "rank and cum_n run over the 100-row post-limit relation (the audit "
    "proves boundedness structurally from the GlobalLimit — no whitelist), "
    "and total_n enters as a broadcast scalar off the SAME token-count "
    "aggregate (exchange-reused, one tokenize pass). The corpus-sized "
    "explode+count stays fully map-side combined; the bigint/bigint -> "
    "double division is one correctly-rounded op, so the curve is "
    "engine-exact. Deterministic (count DESC, token ASC) tie-break; "
    "output identical to the r4 form, oracle untouched.",
)
def b15_vocab_coverage(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(100)
    total = counts.agg(F.sum("n").cast("bigint").alias("total_n"))
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(w).alias("rank"),
            "token",
            "n",
            (
                F.sum("n")
                .over(w.rowsBetween(Window.unboundedPreceding, 0))
                .cast("double")
                / F.col("total_n").cast("double")
            ).alias("cum_share"),
        )
    )


@query(
    "b15_feature_hashing",
    oracle="""
    SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 7))::BIGINT % 1024 AS bucket,
           count(*) AS cnt
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    )
    GROUP BY 1, 2
    """,
    doc="B15 (r7): the feature-hashing trick (Weinberger et al.) — tokens "
    "folded into a fixed 1024-dim sparse count vector by a hash, the "
    "standard no-vocabulary featurizer for linear models / sketches over "
    "unbounded token spaces. The hash is PORTABLE by construction: bucket "
    "= first 28 md5 bits mod 1024 (28 bits keeps the int positive in "
    "both engines' signed parsing, and md5 is the same everywhere), not "
    "murmur3, whose seeding is engine-specific — the same argument as "
    "b12_dedup_normalized_text's digest keys. One explode + one "
    "map-side-combined groupBy on (doc_id, bucket); output is the "
    "exploded sparse form (doc_id, bucket, cnt), which at 100 TB is the "
    "shuffle-friendly representation (dense 1024-vectors would multiply "
    "the row width by the fill rate's inverse).",
)
def b15_feature_hashing(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 7), 16, 10).cast("long") % 1024
    )
    return tok.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


@query(
    "b15_pmi_collocations",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    bi AS (SELECT tk[i] AS w1, tk[i+1] AS w2
           FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM tok)),
    cb AS (SELECT w1, w2, count(*) AS c_xy FROM bi GROUP BY 1, 2),
    uni AS (SELECT w, count(*) AS c
            FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM bi)
    SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y, tot.n,
           CAST(c_xy * tot.n AS DOUBLE) / CAST(u1.c * u2.c AS DOUBLE)
             AS lift
    FROM cb
    JOIN uni u1 ON u1.w = w1
    JOIN uni u2 ON u2.w = w2
    CROSS JOIN tot
    WHERE c_xy >= 5
    ORDER BY lift DESC, w1, w2 LIMIT 20
    """,
    doc="B15 (r8): COLLOCATION discovery — adjacent token pairs ranked by "
    "PMI, the standard corpus-linguistics primitive for finding "
    "multi-word expressions worth protecting from tokenizer splits. PMI "
    "= log(n*c_xy/(c_x*c_y)) is monotone in the LIFT ratio, so the "
    "ranking never computes a log: lift = (c_xy*n)/(c_x*c_y) as one "
    "correctly-rounded division of exact bigint products, identical on "
    "both engines (the repo's no-transcendentals-in-oracles rule; a "
    "cross-engine ln() would break the bit-exact hash). The c_xy >= 5 "
    "support floor is the textbook guard against rare-pair PMI "
    "explosion. Plan: two map-side-combined counts (bigrams, unigrams), "
    "two shuffle joins on the word key, the scalar n broadcast, and a "
    "TakeOrdered top-20 — no global sort. At 100 TB the c_x*c_y product "
    "overflows int64 around 3e9-count words, so the division switches "
    "to DECIMAL(38) or double there; at suite scale the exact-int "
    "products are what make the oracle bit-exact. The honest result on "
    "THIS corpus: the generator draws tokens near-uniformly, so top "
    "lift is ~1.5 (no true collocations exist) — the machinery is the "
    "deliverable, demonstrated on real distributions by the tfidf/"
    "rarity entries.",
)
def b15_pmi_collocations(spark, sf_dir):
    return _pmi_top20(load_table(spark, sf_dir, "documents"))


def _pmi_top20(d):
    """Shared PMI pipeline over a df with a `text` column: bigram counts,
    unigram counts, broadcast total, exact-int lift, TakeOrdered top-20.
    Used by b15_pmi_collocations (raw corpus) and b15_pmi_planted (same
    machinery over the collocation-planted corpus)."""
    bi = d.select(
        F.explode(word_ngrams("text", 2)).alias("bg")
    ).select(
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    cb = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    uni = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = bi.agg(F.count(F.lit(1)).alias("n"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    lift = (F.col("c_xy") * F.col("n")).cast("double") / (
        F.col("c_x") * F.col("c_y")
    ).cast("double")
    return (
        cb.filter(F.col("c_xy") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c_xy", "c_x", "c_y", "n", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(20)
    )

_PMI_PLANT_CASE_SQL = """
        CASE WHEN doc_id % 50 = 0 THEN text || ' zq_gold zq_rush'
             WHEN doc_id % 20 = 1 THEN text || ' zq_silver zq_lining'
             WHEN doc_id % 10 = 2 THEN text || ' zq_bronze zq_medal'
             ELSE text END
"""


@query(
    "b15_pmi_planted",
    oracle=f"""
    WITH pd AS (
        SELECT doc_id, {_PMI_PLANT_CASE_SQL} AS text FROM documents
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM pd),
    bi AS (SELECT tk[i] AS w1, tk[i+1] AS w2
           FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM tok)),
    cb AS (SELECT w1, w2, count(*) AS c_xy FROM bi GROUP BY 1, 2),
    uni AS (SELECT w, count(*) AS c
            FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM bi)
    SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y, tot.n,
           CAST(c_xy * tot.n AS DOUBLE) / CAST(u1.c * u2.c AS DOUBLE)
             AS lift,
           starts_with(w1, 'zq_') AS planted
    FROM cb
    JOIN uni u1 ON u1.w = w1
    JOIN uni u2 ON u2.w = w2
    CROSS JOIN tot
    WHERE c_xy >= 5
    ORDER BY lift DESC, w1, w2 LIMIT 20
    """,
    doc="B15 (r9): PMI collocation discovery WITH a planted signal — the "
    "demonstration twin of b15_pmi_collocations (which honestly reports "
    "lift ~1.5 on the near-uniform generator corpus). Three marker "
    "bigrams are appended in-query at three rarities (doc_id%50 -> "
    "zq_gold zq_rush, %20=1 -> zq_silver zq_lining, %10=2 -> zq_bronze "
    "zq_medal; the three residue classes are pairwise disjoint and the "
    "zq_ prefix is absent from the corpus vocabulary — verified 0 "
    "occurrences). Each marker token occurs ONLY inside its pair, so "
    "c_xy = c_x = c_y and lift collapses to n/c_x — maximal and "
    "inversely proportional to plant rate, which pins the recovered "
    "order: gold (10 docs) > silver (25) > bronze (50), every true "
    "collocation above the ~1.5 background. Same pipeline as the parent "
    "(shared _pmi_top20: two map-side-combined counts, two word-key "
    "joins, broadcast scalar n, TakeOrdered — no global sort); the CASE "
    "plant is a map-only projection both engines replay exactly, so the "
    "hash match proves signal recovery, not just machinery parity. "
    "tests/test_planted_signals.py additionally pins top-3 membership "
    "and order.",
)
def b15_pmi_planted(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    planted_text = (
        F.when(
            F.col("doc_id") % 50 == 0,
            F.concat(F.col("text"), F.lit(" zq_gold zq_rush")),
        )
        .when(
            F.col("doc_id") % 20 == 1,
            F.concat(F.col("text"), F.lit(" zq_silver zq_lining")),
        )
        .when(
            F.col("doc_id") % 10 == 2,
            F.concat(F.col("text"), F.lit(" zq_bronze zq_medal")),
        )
        .otherwise(F.col("text"))
    )
    planted = d.select("doc_id", planted_text.alias("text"))
    return _pmi_top20(planted).withColumn(
        "planted", F.col("w1").startswith("zq_")
    )


@query(
    "b15_phrase_search",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    idx AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS pos FROM tok),
    hit AS (
        SELECT doc_id, pos FROM idx
        WHERE tk[pos] = 'merge' AND tk[pos + 1] = 'join'
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_occ,
           CAST(min(pos) AS BIGINT) AS first_pos
    FROM hit GROUP BY doc_id
    """,
    doc="B15 (r9): PHRASE SEARCH over a POSITIONAL inverted index — "
    "documents containing the exact token sequence 'merge join', with "
    "per-doc occurrence count and first position: the IR primitive "
    "(quoted-phrase query) that bag-of-words retrieval (b15_tfidf_*, "
    "a18_inverted_index) cannot answer, because it needs token ORDER. "
    "Classic positional-postings evaluation re-expressed relationally: "
    "posexplode yields (doc, pos, term); each query term's posting "
    "list is a FILTER over that one exploded scan (postings shrink "
    "BEFORE any join — the selectivity lever; at scale you intersect "
    "rarest-term-first exactly as b13_prefix_filter_pairs orders "
    "rarest-first); the phrase constraint is then a pure EQUI-join on "
    "(doc_id, adjacent position) — offset intersection, never a "
    "string scan of full documents and never all-pairs (join width is "
    "bounded by the rarer posting list). Positions are 1-based on "
    "both engines (Spark posexplode+1, DuckDB list index). At 100 TB "
    "the posting lists are the only shuffled rows ((doc,pos) int "
    "pairs, not text); a k-term phrase is k-1 chained offset joins on "
    "the same key, one shuffle each, and a persisted positional index "
    "(the exploded relation bucketed by term) turns every query into "
    "scan-free lookups.",
)
def b15_phrase_search(spark, sf_dir):
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "term"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    p1 = toks.filter(F.col("term") == "merge").select("doc_id", "pos")
    p2 = toks.filter(F.col("term") == "join").select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        p1.join(p2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occ"),
            F.min("pos").cast("bigint").alias("first_pos"),
        )
    )


@query(
    "b15_bm25_topk",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t.term
        FROM documents, unnest(string_split(text, ' ')) AS t(term)
    ),
    dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
    ),
    corp AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS tot_len
        FROM dl
    ),
    w AS (
        SELECT * FROM (VALUES ('dup', CAST(2900 AS BIGINT)),
                              ('vector', CAST(700 AS BIGINT)),
                              ('scan', CAST(600 AS BIGINT))) AS w(term, w_milli)
    ),
    tf AS (
        SELECT tok.doc_id, tok.term, CAST(count(*) AS BIGINT) AS tf
        FROM tok JOIN w ON tok.term = w.term
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT tf.doc_id,
               CAST(sum((w.w_milli * 44 * corp.tot_len * tf.tf)
                        // (20 * corp.tot_len * tf.tf + 6 * corp.tot_len
                            + 18 * dl.dl * corp.n_docs)) AS BIGINT)
                   AS score_milli
        FROM tf
        JOIN w ON tf.term = w.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN corp
        GROUP BY tf.doc_id
    ),
    ranked AS (
        SELECT s.doc_id, dl.dl AS n_tokens, s.score_milli,
               row_number() OVER (ORDER BY s.score_milli DESC, s.doc_id)
                   AS rank
        FROM scored s JOIN dl ON s.doc_id = dl.doc_id
    )
    SELECT doc_id, n_tokens, score_milli, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
    doc="B15 (r11): BM25 DOCUMENT RANKING (VERDICT r10 #5) — the standard "
    "retrieval scorer the text family lacked (b15_tfidf_top_term ranks "
    "terms within a doc; this ranks DOCS for a query): "
    "score(D) = sum_t idf_t * tf*(k1+1) / (tf + k1*(1-b+b*|D|/avgdl)) "
    "with Robertson's k1=1.2, b=0.75. INTEGER-SCALED constants fold "
    "the per-term score to one exact rational: with k1=6/5, b=3/4 and "
    "avgdl=L/N, the saturation term is 44*L*tf / (20*L*tf + 6*L + "
    "18*dl*N) — every quantity a corpus integer, evaluated in "
    "fixed-point milli units with a single truncating integer "
    "division (Spark DIV == DuckDB // for non-negative operands, the "
    "engine-parity rule), so the summed score is an exact BIGINT and "
    "the whole ranking hash-checks. idf enters as integer milli-"
    "weights on the query terms (dup=2900 rare, vector=700, scan=600 "
    "common — a serving-side term-dictionary lookup, exactly how "
    "production rankers ship it precomputed): the transcendental ln "
    "stays OUT of the hash-checked contract per b15_tfidf_top_term's "
    "documented rule. Plan shape: one tokenize scan with the query "
    "IN-list pushed to the explode (only matching terms survive the "
    "first aggregate), corpus stats (N, L) and the 3-row dictionary "
    "broadcast, and the final top-10 is orderBy+limit = a "
    "TakeOrderedAndProject — per-partition heaps, no global sort "
    "(tests/test_plans.py pins it). Ties broken by (score DESC, "
    "doc_id ASC) total order in both engines. At 100 TB the tf "
    "aggregate shuffles only rows containing query terms and the "
    "top-k never materializes more than k rows per partition. "
    "OVERFLOW BOUNDARY (ADVICE r11, the b26_modularity D_c^2 rule): "
    "the numerator w_milli*44*tot_len*tf peaks at 127,600*L*tf and "
    "silently wraps int64 under ANSI-off once L*tf exceeds ~7.2e13 — "
    "e.g. a 10^12-token corpus (low 100 TB range) with a 100-count "
    "term in one doc. Past that, compute the saturation term in "
    "DECIMAL(38,0) (CAST the numerator before the DIV; DuckDB's "
    "HUGEINT // replays it exactly) — kept bigint here because the "
    "test corpus sits ~8 orders below the boundary and bigint DIV is "
    "the cheaper codegen path.",
)
def b15_bm25_topk(spark, sf_dir):
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    weights = {"dup": 2900, "vector": 700, "scan": 600}
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("dl"))
    corp = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("tot_len"),
    )
    w = F.broadcast(
        spark.createDataFrame(list(weights.items()), "term string, w_milli bigint")
    )
    tf = (
        tok.join(w.select("term"), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    scored = (
        tf.join(w, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corp))
        .select(
            "doc_id",
            F.expr(
                "CAST((w_milli * 44 * tot_len * tf) DIV "
                "(20 * tot_len * tf + 6 * tot_len + 18 * dl * n_docs) "
                "AS BIGINT)"
            ).alias("part_milli"),
        )
        .groupBy("doc_id")
        .agg(F.sum("part_milli").cast("bigint").alias("score_milli"))
    )
    ranked = (
        scored.join(dl, "doc_id")
        .select("doc_id", F.col("dl").alias("n_tokens"), "score_milli")
        .orderBy(F.col("score_milli").desc(), F.col("doc_id").asc())
        .limit(10)
    )
    rw = Window.orderBy(F.col("score_milli").desc(), F.col("doc_id").asc())
    return ranked.select(
        "doc_id",
        "n_tokens",
        "score_milli",
        F.row_number().over(rw).cast("bigint").alias("rank"),
    )


def _surprisal_doc_scores(d, view="__r16_surprisal_docs"):
    """(doc_id, score_milli): whole-bit unigram surprisal per document —
    the shared scorer of b15_surprisal_tertiles (raw corpus) and
    b15_surprisal_planted (planted heavy-tail corpus), split out r13 per
    the _pmi_top20 twin rule. ``d`` needs (doc_id, text). The (doc,term)
    tf relation is consumed twice (vocab counts + doc scoring) and
    localCheckpointed here.

    r16: two spark.sql parses (tf segment, scoring segment) around the
    same localCheckpoint the Column chain had — verbatim transcription,
    ~1200 bridge commands removed per build; plans/values unchanged
    (hash-checked oracles)."""
    d.createOrReplaceTempView(view)
    tf = d.sparkSession.sql(f"""
        SELECT doc_id, term, CAST(count(1) AS BIGINT) AS tf
        FROM (SELECT doc_id, explode(split(text, ' ')) AS term FROM {view})
        GROUP BY doc_id, term
    """).localCheckpoint()
    tf.createOrReplaceTempView(f"{view}_tf")
    return d.sparkSession.sql(f"""
        WITH vocab AS (
            SELECT term, CAST(sum(tf) AS BIGINT) AS cnt
            FROM {view}_tf GROUP BY term
        ),
        corp AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
        bits AS (
            SELECT /*+ BROADCAST(corp) */ term,
                   CAST(length(bin(total DIV cnt)) - 1 AS BIGINT) AS bits
            FROM vocab CROSS JOIN corp
        )
        SELECT doc_id,
               CAST((1000 * sum_bits) DIV dl AS BIGINT) AS score_milli
        FROM (
            SELECT tf.doc_id,
                   CAST(sum(tf.tf * bits.bits) AS BIGINT) AS sum_bits,
                   CAST(sum(tf.tf) AS BIGINT) AS dl
            FROM {view}_tf tf
            JOIN bits ON tf.term = bits.term
            GROUP BY tf.doc_id
        )
    """)


@query(
    "b15_surprisal_tertiles",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t.term
        FROM documents, unnest(string_split(text, ' ')) AS t(term)
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2
    ),
    vocab AS (
        SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY term
    ),
    corp AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
    bits AS (
        SELECT term, CAST(length(bin(total // cnt)) - 1 AS BIGINT) AS bits
        FROM vocab CROSS JOIN corp
    ),
    docsc AS (
        SELECT tf.doc_id,
               CAST((1000 * sum(tf.tf * b.bits)) // sum(tf.tf) AS BIGINT)
                   AS score_milli
        FROM tf JOIN bits b ON tf.term = b.term
        GROUP BY tf.doc_id
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docsc),
    hist AS (
        SELECT score_milli, CAST(count(*) AS BIGINT) AS c
        FROM docsc GROUP BY 1
    ),
    cum AS (
        SELECT score_milli,
               sum(c) OVER (ORDER BY score_milli
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
        FROM hist
    ),
    cuts AS (
        SELECT min(CASE WHEN cum * 3 >= n THEN score_milli END) AS c1,
               min(CASE WHEN cum * 3 >= 2 * n THEN score_milli END) AS c2
        FROM cum CROSS JOIN nd
    )
    SELECT CASE WHEN score_milli <= c1 THEN 'head'
                WHEN score_milli <= c2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(min(score_milli) AS BIGINT) AS lo_milli,
           CAST(max(score_milli) AS BIGINT) AS hi_milli,
           CAST(sum(score_milli * c) AS BIGINT) AS sum_milli
    FROM hist CROSS JOIN cuts
    GROUP BY 1
    ORDER BY lo_milli
    """,
    doc="B15 (r12): UNIGRAM-LM SURPRISAL TERTILES — the CCNet-style "
    "perplexity bucketing the text-quality family lacked (CCNet trains a "
    "language model on the corpus, scores every document in bits/token, "
    "then splits head/middle/tail at the score tertiles; head = most "
    "fluent, the slice usually kept for LLM pretraining). The 'model' is "
    "the corpus's own unigram distribution, and the per-token surprisal "
    "is quantized to WHOLE BITS so the entire contract stays integer: "
    "bits(term) = floor(log2(total_tokens / cnt_term)) computed EXACTLY "
    "in both engines as length(bin(total DIV cnt)) - 1 — no "
    "transcendental ever enters the hash contract (the "
    "b15_tfidf_top_term / b15_bm25_topk rule; floor(log2(x)) == "
    "floor(log2(floor(x))) for x >= 1 because any power of two <= x is "
    "an integer <= floor(x), so the integer DIV loses nothing). "
    "doc score = (1000 * sum_t tf_t * bits_t) DIV doc_len, in "
    "milli-bits/token. Tertile cutoffs come from a bounded score "
    "HISTOGRAM, never a global doc sort: score_milli <= 1000*63 by "
    "construction (bigint bin length), so the cumulative window runs "
    "over <= 63k cells and the cutoff c_j is the smallest score with "
    "cum*3 >= j*n — ties at a cutoff land in the lower bucket wholesale, "
    "so bucket sizes deviate from n/3 only by cutoff-cell mass (the "
    "deterministic alternative to rank-splitting ties; pytest pins the "
    "bound — and the alternative would be a rank over the cutoff cell, "
    "which at 100 TB can be 95% of the corpus in one hot partition). "
    "MEASURED DEGENERACY, reported not hidden: at sf0.1 the synthetic "
    "background vocabulary is near-uniform (the 25 common terms all sit "
    "at 4.88-4.93 bits — verified via exact log2 — so 4,750 of 5,000 "
    "docs share the single whole-bit cell 4000 and the cutoff rule "
    "lands them wholesale in head; middle is EMPTY and the entry emits "
    "2 buckets). That is the truth about a degenerate distribution — "
    "even deci-bit quantization would split this corpus barely, and a "
    "tertile line drawn inside a 95% blob is noise, not signal. "
    "Per-bucket stats are then re-aggregated from the SAME "
    "histogram, so the corpus is scanned once per level: tokenize -> "
    "(doc,term) tf aggregate (localCheckpointed — the train-then-score "
    "shape consumes it for BOTH the vocab counts and the doc scores, the "
    "shared-intermediate rule from the LPA/KMV entries) -> doc scores -> "
    "63k-cell histogram; everything downstream of the histogram is "
    "driver-free arithmetic on bounded relations with broadcast "
    "scalars. At 100 TB: two keyed shuffles (term, doc_id) over the tf "
    "relation plus bounded-state tails — no unpartitioned window ever "
    "sees more than the 63k histogram cells.",
)
def b15_surprisal_tertiles(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    docsc = _surprisal_doc_scores(d).select("score_milli")
    # <= 63,000 cells by construction (milli-bits of a bigint ratio):
    # consumed twice (cutoffs + per-bucket stats), bounded, cheap.
    hist = (
        docsc.groupBy("score_milli")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint()
    )
    nd = hist.agg(F.sum("c").cast("bigint").alias("n"))
    cw = Window.orderBy("score_milli").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select("score_milli", F.sum("c").over(cw).alias("cum"))
    cuts = cum.crossJoin(F.broadcast(nd)).agg(
        F.min(
            F.when(F.col("cum") * 3 >= F.col("n"), F.col("score_milli"))
        ).alias("c1"),
        F.min(
            F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("score_milli"))
        ).alias("c2"),
    )
    bucket = (
        F.when(F.col("score_milli") <= F.col("c1"), F.lit("head"))
        .when(F.col("score_milli") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        hist.crossJoin(F.broadcast(cuts))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.min("score_milli").cast("bigint").alias("lo_milli"),
            F.max("score_milli").cast("bigint").alias("hi_milli"),
            F.sum(F.col("score_milli") * F.col("c"))
            .cast("bigint")
            .alias("sum_milli"),
        )
        .orderBy("lo_milli")
    )


@query(
    "b15_packing_efficiency",
    oracle="""
    WITH dl AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS l
        FROM documents
    ),
    fifo AS (
        SELECT doc_id // 32 AS batch, CAST(count(*) AS BIGINT) AS n,
               CAST(max(l) AS BIGINT) AS mx, CAST(sum(l) AS BIGINT) AS real
        FROM dl GROUP BY 1
    ),
    fifo_agg AS (
        SELECT 'fifo_dynamic' AS strategy,
               CAST(count(*) AS BIGINT) AS n_batches,
               CAST(sum(real) AS BIGINT) AS real_tokens,
               CAST(sum(n * mx) AS BIGINT) AS padded_tokens
        FROM fifo
    ),
    hist AS (SELECT l, CAST(count(*) AS BIGINT) AS n_l FROM dl GROUP BY l),
    b16 AS (
        SELECT l // 16 AS b, CAST(sum(n_l) AS BIGINT) AS n,
               CAST(sum(n_l * l) AS BIGINT) AS real
        FROM hist GROUP BY 1
    ),
    b16_agg AS (
        SELECT 'bucket16_boundary' AS strategy,
               CAST(sum((n + 31) // 32) AS BIGINT) AS n_batches,
               CAST(sum(real) AS BIGINT) AS real_tokens,
               CAST(sum(n * (b + 1) * 16) AS BIGINT) AS padded_tokens
        FROM b16
    ),
    ex_agg AS (
        SELECT 'exact_length' AS strategy,
               CAST(sum((n_l + 31) // 32) AS BIGINT) AS n_batches,
               CAST(sum(n_l * l) AS BIGINT) AS real_tokens,
               CAST(sum(n_l * l) AS BIGINT) AS padded_tokens
        FROM hist
    )
    SELECT strategy, n_batches, real_tokens, padded_tokens,
           CAST(((padded_tokens - real_tokens) * 1000000) // padded_tokens
                AS BIGINT) AS waste_ppm
    FROM (SELECT * FROM fifo_agg UNION ALL SELECT * FROM b16_agg
          UNION ALL SELECT * FROM ex_agg)
    ORDER BY strategy
    """,
    doc="B15 (r12): BATCH-PADDING WASTE AUDIT — the measured tradeoff "
    "behind every LLM training/serving batcher, answered in one pass: "
    "how many pad tokens does each batching strategy burn? Three "
    "honest strategies, every one closed-form from aggregates (no "
    "strategy requires a global sort): (1) fifo_dynamic — batches of "
    "32 in arrival order (doc_id DIV 32; doc_id is dense by testdata "
    "construction), padded per batch to the batch max (dynamic "
    "padding); (2) bucket16_boundary — width-16 length buckets padded "
    "to the bucket boundary (static bucketing a la "
    "bucket_by_sequence_length), batch count from the bucket "
    "histogram; (3) exact_length — the zero-waste bound, exposing its "
    "real cost as FRAGMENTATION (ceil(n_l/32) summed over exact "
    "lengths: 5.6x the batch count at sf0.001). Measured at every SF: "
    "fifo wastes ~43% of padded tokens, bucket16 ~13% at near-minimal "
    "batch count, exact 0% at 90-192 ragged batches — the crossover "
    "story (bucketing pays when strata fill batches) told by the "
    "numbers, not asserted. All-integer contract (waste in ppm via "
    "truncating DIV). At 100 TB: one tokenize scan feeding a "
    "localCheckpointed length relation, one batch-keyed and one "
    "length-keyed aggregate (both map-side combinable), and every "
    "downstream relation is bounded (<= max_len histogram cells).",
)
def b15_packing_efficiency(spark, sf_dir):
    from ..functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    # consumed twice (fifo batches + length histogram)
    dl = d.select(
        "doc_id", token_count("text").cast("bigint").alias("l")
    ).localCheckpoint()
    fifo = (
        dl.groupBy(F.expr("doc_id DIV 32").alias("batch"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("l").cast("bigint").alias("mx"),
            F.sum("l").cast("bigint").alias("real"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batches"),
            F.sum("real").cast("bigint").alias("real_tokens"),
            F.sum(F.col("n") * F.col("mx"))
            .cast("bigint")
            .alias("padded_tokens"),
        )
        .select(F.lit("fifo_dynamic").alias("strategy"), "*")
    )
    # <= max_len cells; consumed twice (bucket16 + exact)
    hist = (
        dl.groupBy("l")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_l"))
        .localCheckpoint()
    )
    b16 = (
        hist.groupBy(F.expr("l DIV 16").alias("b"))
        .agg(
            F.sum("n_l").cast("bigint").alias("n"),
            F.sum(F.col("n_l") * F.col("l")).cast("bigint").alias("real"),
        )
        .agg(
            F.sum(F.expr("(n + 31) DIV 32")).cast("bigint").alias("n_batches"),
            F.sum("real").cast("bigint").alias("real_tokens"),
            F.sum(F.expr("n * (b + 1) * 16"))
            .cast("bigint")
            .alias("padded_tokens"),
        )
        .select(F.lit("bucket16_boundary").alias("strategy"), "*")
    )
    ex = hist.agg(
        F.sum(F.expr("(n_l + 31) DIV 32")).cast("bigint").alias("n_batches"),
        F.sum(F.expr("n_l * l")).cast("bigint").alias("real_tokens"),
        F.sum(F.expr("n_l * l")).cast("bigint").alias("padded_tokens"),
    ).select(F.lit("exact_length").alias("strategy"), "*")
    waste = F.expr(
        "CAST(((padded_tokens - real_tokens) * 1000000) DIV padded_tokens "
        "AS BIGINT)"
    )
    return (
        fifo.unionAll(b16)
        .unionAll(ex)
        .select(
            "strategy",
            "n_batches",
            "real_tokens",
            "padded_tokens",
            waste.alias("waste_ppm"),
        )
        .orderBy("strategy")
    )


@query(
    "b15_surprisal_planted",
    oracle="""
    WITH pd AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'pc pc pc pc pc pc'
                    WHEN doc_id % 3 = 1 THEN 'pc pc pc '
                         || 'm' || CAST(doc_id % 8 AS VARCHAR) || ' '
                         || 'm' || CAST(doc_id % 8 AS VARCHAR) || ' '
                         || 'm' || CAST(doc_id % 8 AS VARCHAR)
                    ELSE 'pc pc pc '
                         || 'r' || CAST(doc_id AS VARCHAR) || ' '
                         || 'r' || CAST(doc_id AS VARCHAR) || ' '
                         || 'r' || CAST(doc_id AS VARCHAR)
               END AS text,
               CASE WHEN doc_id % 3 = 0 THEN 'common'
                    WHEN doc_id % 3 = 1 THEN 'mid'
                    ELSE 'rare' END AS planted_class
        FROM documents
    ),
    tok AS (
        SELECT doc_id, t.term
        FROM pd, unnest(string_split(text, ' ')) AS t(term)
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2
    ),
    vocab AS (
        SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY term
    ),
    corp AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
    bits AS (
        SELECT term, CAST(length(bin(total // cnt)) - 1 AS BIGINT) AS bits
        FROM vocab CROSS JOIN corp
    ),
    docsc AS (
        SELECT tf.doc_id,
               CAST((1000 * sum(tf.tf * b.bits)) // sum(tf.tf) AS BIGINT)
                   AS score_milli
        FROM tf JOIN bits b ON tf.term = b.term
        GROUP BY tf.doc_id
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docsc),
    hist AS (
        SELECT score_milli, CAST(count(*) AS BIGINT) AS c
        FROM docsc GROUP BY 1
    ),
    cum AS (
        SELECT score_milli,
               sum(c) OVER (ORDER BY score_milli
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
        FROM hist
    ),
    cuts AS (
        SELECT min(CASE WHEN cum * 3 >= n THEN score_milli END) AS c1,
               min(CASE WHEN cum * 3 >= 2 * n THEN score_milli END) AS c2
        FROM cum CROSS JOIN nd
    )
    SELECT p.planted_class,
           CASE WHEN s.score_milli <= c.c1 THEN 'head'
                WHEN s.score_milli <= c.c2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(s.score_milli) AS BIGINT) AS lo_milli,
           CAST(max(s.score_milli) AS BIGINT) AS hi_milli
    FROM docsc s
    JOIN pd p ON p.doc_id = s.doc_id
    CROSS JOIN cuts c
    GROUP BY 1, 2
    ORDER BY planted_class, bucket
    """,
    doc="B15 (r13): SURPRISAL TERTILES WITH A PLANTED HEAVY-TAIL VOCAB "
    "(VERDICT r12 #3) — the demonstration twin of b15_surprisal_tertiles, "
    "whose honest docstring concedes the generator corpus is degenerate "
    "at sf0.1 (95% of docs share one histogram cell; the middle tertile "
    "is empty). This twin derives a corpus IN-QUERY (the _pmi_top20 twin "
    "rule: a deterministic CASE both engines replay exactly) with a "
    "three-stratum vocabulary engineered so the whole-bit surprisal "
    "separates with guaranteed margins at every SF: class 'common' "
    "(doc_id%3=0) = six copies of the head token pc (corpus share 2/3 -> "
    "ratio total DIV cnt = 1 -> 0 bits); class 'mid' (%3=1) = three pc + "
    "three copies of one of EIGHT mid tokens m0..m7 (per-token count "
    "~n/8 of the stratum -> ratio ~48, comfortably inside [32,64) -> 5 "
    "bits for any n >= ~100); class 'rare' (%3=2) = three pc + three "
    "copies of a PER-DOC token r<doc_id> (count 3 -> ratio 2n -> "
    "floor(log2(2n)) bits: 9 at n=500, 13 at n=5000). Per-doc scores "
    "collapse to exactly three values (0 / 2500 / 1000*(3*rare_bits) DIV "
    "6), the tertile cutoffs land on c1=0, c2=2500 for ANY near-equal "
    "3-split (doc_id is dense from 0, so each residue class holds "
    "ceil/floor(n/3) docs and cum*3>=n fires on the correct cell), and "
    "the recovered assignment is the exact bijection common->head, "
    "mid->middle, rare->tail — the discrimination b15_surprisal_tertiles "
    "could not demonstrate, now oracle-hash-checked end to end. "
    "tests/test_planted_signals.py pins the bijection, the per-class "
    "counts, and the closed-form scores. Plan shape: shared "
    "_surprisal_doc_scores scorer (one tokenize scan, checkpointed tf, "
    "63k-cell histogram ceiling), the per-doc score relation "
    "localCheckpointed once (|docs| rows, consumed by histogram + "
    "class join), cutoffs broadcast — no corpus-scale unpartitioned "
    "window (the r13 audit passes structurally).",
)
def b15_surprisal_planted(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    mid = F.concat(F.lit("m"), (F.col("doc_id") % 8).cast("string"))
    rare = F.concat(F.lit("r"), F.col("doc_id").cast("string"))
    planted_text = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("pc pc pc pc pc pc"))
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("pc pc pc "), mid, F.lit(" "), mid, F.lit(" "), mid
            ),
        )
        .otherwise(
            F.concat(
                F.lit("pc pc pc "), rare, F.lit(" "), rare, F.lit(" "), rare
            )
        )
    )
    cls = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("common"))
        .when(F.col("doc_id") % 3 == 1, F.lit("mid"))
        .otherwise(F.lit("rare"))
    )
    pd_corpus = d.select("doc_id", planted_text.alias("text"))
    # |docs| rows, consumed twice (histogram for cutoffs + class join)
    docsc = _surprisal_doc_scores(
        pd_corpus, view="__r16_surprisal_planted_docs"
    ).localCheckpoint()
    hist = (
        docsc.groupBy("score_milli")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint()
    )
    nd = hist.agg(F.sum("c").cast("bigint").alias("n"))
    cw = Window.orderBy("score_milli").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select("score_milli", F.sum("c").over(cw).alias("cum"))
    cuts = cum.crossJoin(F.broadcast(nd)).agg(
        F.min(
            F.when(F.col("cum") * 3 >= F.col("n"), F.col("score_milli"))
        ).alias("c1"),
        F.min(
            F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("score_milli"))
        ).alias("c2"),
    )
    bucket = (
        F.when(F.col("score_milli") <= F.col("c1"), F.lit("head"))
        .when(F.col("score_milli") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        docsc.join(d.select("doc_id", cls.alias("planted_class")), "doc_id")
        .crossJoin(F.broadcast(cuts))
        .groupBy("planted_class", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("score_milli").cast("bigint").alias("lo_milli"),
            F.max("score_milli").cast("bigint").alias("hi_milli"),
        )
        .orderBy("planted_class", "bucket")
    )
