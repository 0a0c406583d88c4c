"""LLM-data-pipeline queries (SURVEY.md §2 B12-B16): dedup ladder, similarity
search, text analysis, multimodal plumbing.

Oracle policy: everything expressible in portable SQL gets a DuckDB oracle
(exact dedup, n-gram Jaccard, cosine brute force with an explicit double
fold — DuckDB's `list_cosine_similarity` accumulates in float32 and does NOT
match, so oracles spell out the fold). Hash-based ops (MinHash/SimHash/LSH)
are engine-specific by construction → rows-only checks + pytest recall
assertions against the exact operators.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.keys import composite_key
from ..functions.text import (
    fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_hits,
    token_count,
    tokens,
)
from ..multimodal import extract_features, synthesize_media
from ..operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_pairs,
)
from ..operators.similarity import (
    _pseudo_centroids,
    _pseudo_planes,
    neardup_pairs_cosine,
    topk_cosine,
    topk_cosine_lsh,
)
from ._sqlgen import sql_centroid_values, sql_cosine, sql_signature
from .base import query


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _query_vector(spark, sf_dir):
    """The corpus vector with vec_id=0, fetched once driver-side (64 floats)."""
    row = (
        _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).select("embedding").first()
    )
    return [float(x) for x in row[0]]


# --- B12: exact dedup -------------------------------------------------------


@query(
    "b12_dedup_exact",
    oracle="""
    SELECT event_id, user_id, event_type, ts FROM (
        SELECT event_id, user_id, event_type, ts,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts ASC, event_id ASC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    doc="B12: exact dedup with a deterministic survivor (earliest row per "
    "key) — dropDuplicates keeps an arbitrary row and is unstable; this is "
    "the reproducible form. Generalizes the reference's 2-flasks-per-minute "
    "composite-key dedup (index.js:23-24).",
)
def b12_dedup_exact(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    kept = dedup_exact(
        e, keys=["user_id", "event_type"], order_by=[F.col("ts").asc(), F.col("event_id").asc()]
    )
    return kept.select("event_id", "user_id", "event_type", "ts")


@query(
    "b12_dedup_composite_key",
    oracle="""
    SELECT date_key, n FROM (
        SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') || ' ' || CAST(user_id AS VARCHAR) AS date_key,
               count(*) AS n
        FROM events GROUP BY 1
    ) WHERE n > 1
    """,
    doc="B12/A15: composite-key collision census — which minute+salt keys "
    "still collide (the reference's flask-pair problem).",
)
def b12_dedup_composite_key(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(composite_key("ts", "user_id").alias("date_key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


# --- B13: fuzzy dedup -------------------------------------------------------


@query(
    "b13_ngram_jaccard",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh_all AS (
        SELECT doc_id, unnest(list_distinct(
            list_transform(range(1, greatest(len(t) - 1, 1)),
                           i -> array_to_string(t[i:i+2], ' ')))) AS sh
        FROM toks
    ),
    sh AS (
        SELECT doc_id, sh FROM (
            SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh_all
        ) WHERE df <= 50
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
    """,
    doc="B13: word-3-gram Jaccard near-dup pairs via inverted shingle index "
    "(cost ∝ shingle co-occurrence, not |docs|²), with a document-frequency "
    "cap of 50 on shingles — the skew guard that bounds any one join bucket "
    "to df_cap² pairs even when a stop-phrase shingle appears in millions "
    "of documents. The cap drops every shingle whose df exceeds 50 and "
    "takes the Jaccard over the rest, so once shingles pass the cap this "
    "is NOT the exact Jaccard join (4 exact copies of sf0.1: result hash "
    "eed316cf, exact 935a63e4); b13_prefix_filter_pairs is the exact form.",
)
def b13_ngram_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, n=3, threshold=0.5, df_cap=50)


@query(
    "b13_minhash_lsh",
    oracle=None,  # murmur3-seeded signatures are engine-specific; recall vs
    # exact jaccard asserted in tests/test_llm_ops.py
    doc="B13: MinHash(16) + LSH(4 bands) candidate pairs with estimated "
    "Jaccard — the sub-quadratic fuzzy-dedup path for 100 TB corpora.",
)
def b13_minhash_lsh(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=16, n=3)
    return minhash_lsh_pairs(sigs, bands=4, est_threshold=0.5)


@query(
    "b13_simhash",
    oracle=None,  # xxhash64 fingerprints are engine-specific
    doc="B13: 64-bit SimHash fingerprints + hamming-banded near-pairs "
    "(pigeonhole over 4×16-bit chunks).",
)
def b13_simhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    fps = simhash64(d)
    return simhash_near_pairs(fps, max_hamming=3, bands=4)


# --- B14: similarity search -------------------------------------------------

# DuckDB oracle for cosine: explicit double fold (list_cosine_similarity
# accumulates in float32 and diverges in the 7th decimal — not usable).
_SQL_COSINE_FOLD = """
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, len(e.embedding) + 1),
                           i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))),
            (a, b) -> a + b)
        / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, b) -> a + b))
           * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, b) -> a + b)))
"""


@query(
    "b14_topk_cosine",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, {_SQL_COSINE_FOLD} AS cosine
    FROM embeddings e, q
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
    doc="B14: exact brute-force top-10 cosine against the vec_id=0 query "
    "vector — broadcast literal, one corpus pass, TakeOrderedAndProject.",
)
def b14_topk_cosine(spark, sf_dir):
    qv = _query_vector(spark, sf_dir)
    return topk_cosine(_t(spark, sf_dir, "embeddings"), qv, k=10)


@query(
    "b14_embedding_neardup",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, label, embedding,
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                   (a, b) -> a + b)) AS nrm
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(a.embedding) + 1),
                              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
               (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
    FROM base a JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(a.embedding) + 1),
                              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
               (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.2
    """,
    doc="B14: embedding near-dup pairs, label-blocked (one shuffle on the "
    "blocking key; within-block brute pairs, never |corpus|²).",
)
def b14_embedding_neardup(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return neardup_pairs_cosine(e, block_col="label", threshold=0.2)


_ANN_PLANES = _pseudo_planes(64, 8, seed=42)


@query(
    "b14_ann_lsh",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    base AS (
        SELECT vec_id, embedding,
               {sql_signature("embedding", _ANN_PLANES)} AS sig
        FROM embeddings
    )
    SELECT e.vec_id, {sql_cosine("e.embedding", "q.qv")} AS cosine
    FROM base e, q
    WHERE e.sig = (SELECT {sql_signature("qv", _ANN_PLANES)} FROM q)
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
    doc="B14: sign-random-projection LSH ANN — bucket the corpus on an 8-bit "
    "hyperplane signature, exact re-rank only inside the query's bucket. "
    "The hyperplanes are deterministic plan-time literals (seeded integer "
    "hashing, similarity.py _pseudo_planes), so the oracle replays the "
    "identical signature + cosine arithmetic and the entry is value-checked "
    "despite being an ANN operator (VERDICT r2 item 3).",
)
def b14_ann_lsh(spark, sf_dir):
    qv = _query_vector(spark, sf_dir)
    return topk_cosine_lsh(_t(spark, sf_dir, "embeddings"), qv, k=10, num_planes=8)


# --- B15: text analysis -----------------------------------------------------


@query(
    "b15_text_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           length(text) AS n_chars_calc,
           length(text) = n_chars AS chars_ok,
           CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_token,
           len(list_filter(string_split(text, ' '),
               t -> list_contains(['the','and','of','to','a','in','is','that'], lower(t)))) AS en_stop_hits
    FROM documents
    """,
    doc="B15: per-document token/char statistics + stopword hits (all "
    "higher-order array built-ins, scan-speed).",
)
def b15_text_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tc = token_count("text")
    return d.select(
        "doc_id",
        tc.alias("n_tokens"),
        F.length("text").alias("n_chars_calc"),
        (F.length("text") == F.col("n_chars")).alias("chars_ok"),
        (F.length("text").cast("double") / tc).alias("chars_per_token"),
        stopword_hits("text", ["the", "and", "of", "to", "a", "in", "is", "that"]).alias(
            "en_stop_hits"
        ),
    )


@query(
    "b15_lang_summary",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_tokens
    FROM documents GROUP BY lang
    """,
    doc="B15: per-language corpus summary (integer-exact sums).",
)
def b15_lang_summary(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum(token_count("text")).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
    )


@query(
    "b15_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))),
               (h, c) -> (h * 31 + c) % 1000000007) AS fp
    FROM documents
    """,
    doc="B15: polynomial rolling-hash document fingerprint (mod 1e9+7) — "
    "portable across engines, char-stream fold.",
)
def b15_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fp"))


@query(
    "b15_lang_id_quality",
    # The heuristic is deterministic scalar arithmetic over exact integer
    # inputs (token/stopword counts), so the oracle replays every expression
    # in the same operation order and the doubles match bit-for-bit. Argmax
    # tie-break mirrors Spark's array_max over (hits, lang) structs: equal
    # hits -> lexicographically greater lang wins, hence the fr>es>en>de
    # CASE order. CJK shortcut kept for parity (never fires on this corpus).
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, text,
               list_transform(string_split(text, ' '), w -> lower(w)) AS lt,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS tc,
               CAST(length(regexp_replace(text, '[^.,!?;:''"]', '', 'g'))
                    AS DOUBLE) / length(text) AS pr
        FROM documents
    ),
    hits AS (
        SELECT *,
          len(list_filter(lt, w -> list_contains(
              ['the','and','of','to','a','in','is','that'], w))) AS h_en,
          len(list_filter(lt, w -> list_contains(
              ['el','la','de','que','y','los','en','un'], w))) AS h_es,
          len(list_filter(lt, w -> list_contains(
              ['le','la','de','et','les','des','un','une'], w))) AS h_fr,
          len(list_filter(lt, w -> list_contains(
              ['der','die','und','das','ist','von','den','ein'], w))) AS h_de
        FROM t
    )
    SELECT doc_id, lang,
           CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
                WHEN greatest(h_en, h_es, h_fr, h_de) = 0 THEN 'und'
                WHEN h_fr = greatest(h_en, h_es, h_fr, h_de) THEN 'fr'
                WHEN h_es = greatest(h_en, h_es, h_fr, h_de) THEN 'es'
                WHEN h_en = greatest(h_en, h_es, h_fr, h_de) THEN 'en'
                ELSE 'de' END AS lang_pred,
           (CASE WHEN tc >= 20 AND tc <= 10000 THEN 1.0
                 ELSE least(tc / 20.0, 1.0) END
            + least(CAST(h_en AS DOUBLE) / greatest(tc, 1.0) * 5.0, 1.0)
            + (1.0 - least(pr * 5.0, 1.0))) / 3.0 AS quality,
           pr AS punct_ratio
    FROM hits
    """,
    doc="B15: stopword-profile language ID + composite quality score (the "
    "cheap first-pass router/filter of an LLM data pipeline). Every term is "
    "deterministic per-row arithmetic over exact counts, so the oracle "
    "replays it bit-for-bit — a value-checked row for the classifier "
    "(upgrading the r2 rows-only record).",
)
def b15_lang_id_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        lang_id("text").alias("lang_pred"),
        quality_score("text").alias("quality"),
        punct_ratio("text").alias("punct_ratio"),
    )


# --- B16: multimodal --------------------------------------------------------


@query(
    "b16_multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CAST(doc_id % 64 + 16 AS INTEGER) AS width,
           CAST(doc_id % 48 + 12 AS INTEGER) AS height
    FROM documents
    """,
    doc="B16: binary media column + typed metadata struct (payload bytes, "
    "dimensions) — the columnar envelope for image/audio at 100 TB.",
)
def b16_multimodal_meta(spark, sf_dir):
    media = synthesize_media(_t(spark, sf_dir, "documents"))
    return media.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


@query(
    "b16_multimodal_features",
    oracle="""
    SELECT doc_id,
           strlen(text) AS n_bytes,
           CASE WHEN strlen(text) = 0 THEN 0.0
                ELSE CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(string_split(text, ''),
                                        c -> CAST(ord(c) AS BIGINT))),
                         (a, b) -> a + b) AS DOUBLE) / strlen(text)
           END AS byte_mean,
           CAST(CASE WHEN strlen(text) = 0 THEN 0
                ELSE list_aggregate(list_transform(string_split(text, ''),
                                                   c -> ord(c)), 'min')
           END AS INTEGER) AS byte_min,
           CAST(CASE WHEN strlen(text) = 0 THEN 0
                ELSE list_aggregate(list_transform(string_split(text, ''),
                                                   c -> ord(c)), 'max')
           END AS INTEGER) AS byte_max
    FROM documents
    """,
    doc="B16: Arrow-batched mapInPandas feature extraction over binary "
    "payloads (decode stubbed; batch shape, schema and partitioning real). "
    "The synthetic payload is the UTF-8 encoding of `text` and the corpus "
    "is ASCII, so the oracle recomputes the byte statistics closed-form "
    "from the characters (ord == byte, the b15_fingerprint parity) — a "
    "value-checked row for the Arrow batch path (VERDICT r2 item 6).",
)
def b16_multimodal_features(spark, sf_dir):
    media = synthesize_media(_t(spark, sf_dir, "documents"))
    return extract_features(media)


@query(
    "b15_token_counts",
    oracle=r"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS bpe_tokens
    FROM documents
    """,
    doc="B15: token counting both ways — whitespace split and the GPT-2-style "
    "pre-tokenizer regex (the cheap corpus-wide LLM size estimate). The "
    "pattern is backreference-free so Java regex and RE2 agree match-for-"
    "match.",
)
def b15_token_counts(spark, sf_dir):
    from ..functions.text import bpe_token_count, token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        bpe_token_count("text").alias("bpe_tokens"),
    )


@query(
    "b16_resize",
    oracle="""
    SELECT doc_id, 32 AS width, 24 AS height, CAST(768 AS BIGINT) AS n_bytes,
           substr(text, 1, 8) AS prefix8
    FROM documents
    """,
    doc="B16: binary-in/binary-out resize stage (mapInPandas, codec stubbed "
    "as deterministic byte-cycling). Oracle-exact because the corpus is "
    "ASCII: the resized payload's first 8 bytes equal the text's first 8 "
    "chars, and the new meta reflects the target geometry.",
)
def b16_resize(spark, sf_dir):
    from ..multimodal import resize_media, synthesize_media

    d = _t(spark, sf_dir, "documents")
    resized = resize_media(synthesize_media(d), width=32, height=24)
    return resized.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.decode(F.expr("substring(payload, 1, 8)"), "UTF-8").alias("prefix8"),
    )


@query(
    "b16_frame_sample",
    oracle="""
    SELECT doc_id, CAST(unnest(range(0, strlen(text) // 64, 2)) AS INT) AS frame_idx,
           CAST(64 AS BIGINT) AS n_bytes
    FROM documents
    WHERE strlen(text) >= 64
    """,
    doc="B16: video-style frame sampling — payload chunked into 64-byte "
    "frames, every 2nd frame emitted as its own row (row-expanding "
    "mapInPandas; imperative 1->N generation explode can't express). "
    "Oracle derives the same (doc, frame) grid arithmetically.",
)
def b16_frame_sample(spark, sf_dir):
    from ..multimodal import sample_frames, synthesize_media

    d = _t(spark, sf_dir, "documents")
    frames = sample_frames(synthesize_media(d), frame_bytes=64, every_n=2)
    return frames.select("doc_id", "frame_idx", "n_bytes")


_IVF_CENTROIDS = _pseudo_centroids(64, 16, seed=7)


@query(
    "b14_ann_ivf",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    probe AS (
        SELECT cell FROM (
            SELECT cents.cell,
                   row_number() OVER (
                       ORDER BY {sql_cosine("cents.c", "q.qv")} DESC,
                                cents.cell ASC) AS rn
            FROM {sql_centroid_values(_IVF_CENTROIDS)}, q
        ) WHERE rn <= 4
    ),
    assigned AS (
        SELECT vec_id, embedding FROM (
            SELECT e.vec_id, e.embedding, cents.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {sql_cosine("e.embedding", "cents.c")} DESC,
                                cents.cell DESC) AS rn
            FROM embeddings e, {sql_centroid_values(_IVF_CENTROIDS)}
        ) WHERE rn = 1 AND cell IN (SELECT cell FROM probe)
    )
    SELECT a.vec_id, {sql_cosine("a.embedding", "q.qv")} AS cosine
    FROM assigned a, q
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
    doc="B14: IVF ANN — corpus coarse-quantized into 16 inverted lists "
    "(max-cosine centroid assignment), query probes the 4 nearest lists, "
    "exact re-rank inside them (~4/16 of the corpus scanned). The scale "
    "path writes assignments partitioned by cell so probes prune at the "
    "storage layer. The default quantizer's centroids are deterministic "
    "plan-time literals, so the oracle replays assignment (argmax ties -> "
    "higher cell, matching array_max struct order) and probe selection "
    "(ties -> lower cell, matching the stable driver-side sort) exactly "
    "(VERDICT r2 item 3).",
)
def b14_ann_ivf(spark, sf_dir):
    from ..operators.similarity import topk_cosine_ivf

    qv = _query_vector(spark, sf_dir)
    return topk_cosine_ivf(
        _t(spark, sf_dir, "embeddings"), qv, k=10, num_centroids=16, nprobe=4
    )


_JACCARD_PAIRS_CTE = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id, unnest(list_distinct(
            list_transform(range(1, greatest(len(t) - 1, 1)),
                           i -> array_to_string(t[i:i+2], ' ')))) AS sh
        FROM toks
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach AS (
        SELECT a AS id, a AS r FROM edges
        UNION
        SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
    )
"""


@query(
    "b13_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTE}
    SELECT id, min(r) AS comp FROM reach GROUP BY id
    """,
    doc="B13: pairwise near-dup evidence -> dedup CLUSTERS via connected "
    "components (iterative min-label propagation in plain DataFrame ops — "
    "A~B~C collapse even when A/C were never compared). Oracle is a "
    "recursive-CTE transitive closure over the same exact-Jaccard pairs.",
)
def b13_dedup_clusters(spark, sf_dir):
    from ..operators.dedup import connected_components

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.5)
    return connected_components(pairs)


@query(
    "b13_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTE},
    comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
    SELECT doc_id, lang FROM documents
    WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != comp)
    """,
    doc="B13: the fuzzy-dedup END PRODUCT — one survivor (min id) per "
    "near-dup cluster plus all unpaired documents, removed with a broadcast "
    "anti-join.",
)
def b13_dedup_survivors(spark, sf_dir):
    from ..operators.dedup import fuzzy_dedup_survivors

    d = _t(spark, sf_dir, "documents")
    # r3: exact-dup pre-collapse before the pair/CC machinery — provably
    # identical output (the oracle is unchanged), quadratically less CC
    # work on duplication-heavy corpora. See fuzzy_dedup_survivors.
    return fuzzy_dedup_survivors(d, n=3, threshold=0.5).select("doc_id", "lang")


@query(
    "b15_tfidf_top_term",
    oracle="""
    WITH tf AS (
      SELECT doc_id, t.term, count(*) AS tf
      FROM documents, unnest(string_split(text, ' ')) AS t(term)
      GROUP BY doc_id, t.term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    ranked AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, tf.term) AS rn
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term, tf, df,
           (SELECT count(*) FROM documents) AS n_docs
    FROM ranked WHERE rn = 1
    """,
    doc="B15: TF-IDF retrieval primitive — each document's highest-tf term "
    "with its collection document frequency. The score's exact rational "
    "components (tf, df, n_docs) are emitted instead of tf*ln(N/df): ln "
    "is not bit-identical across libm implementations, so the transcendent "
    "step stays out of the hash-checked contract (callers fold it in one "
    "double op). Plan: explode → two keyed aggregations → window top-1; "
    "the term-keyed df relation joins back WITHOUT a broadcast hint — a "
    "natural-language vocab broadcasts fine and AQE will do so from its "
    "measured size, but an unbounded token space (code, URLs) would not.",
)
def b15_tfidf_top_term(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_rel = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), "term")
    return (
        tf.join(df_rel, "term")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term", "tf", "df", "n_docs")
    )


@query(
    "b15_sequence_packing",
    oracle="""
    WITH sized AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    runs AS (
      SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS cum_tokens
      FROM sized
    )
    SELECT doc_id, source, n_tokens, cum_tokens,
           CAST(floor((cum_tokens - n_tokens) / 512) AS BIGINT) AS bin_id
    FROM runs
    """,
    doc="B15: sequence packing — assign documents to ~512-token training "
    "bins per source via a running token count (bin = floor(tokens-"
    "before-me / budget)), the streaming-order packing a pretokenized "
    "pipeline uses. One window shuffle on source; integer arithmetic "
    "end-to-end so the oracle is exact. At 100 TB the partition key is "
    "(source, shard) so no single source serializes into one task; "
    "doc_id order stands in for the pipeline's arrival order.",
)
def b15_sequence_packing(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    sized = d.select("doc_id", "source", token_count("text").alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return runs.select(
        "doc_id",
        "source",
        "n_tokens",
        "cum_tokens",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / 512)
        .cast("long")
        .alias("bin_id"),
    )
