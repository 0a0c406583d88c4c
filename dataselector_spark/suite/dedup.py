"""B12/B13 deduplication: exact and normalized dedup, n-gram Jaccard,
MinHash and SimHash (native and portable), fuzzy-dedup clusters and
survivors, shingle containment, edit-distance and prefix-filtered pair
joins, repeated spans, record linkage and the incremental and sharded dedup
pipelines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.keys import composite_key
from ..functions.text import word_ngram_hashes_sql
from ..operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_pairs,
)
from .base import query


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


def _minhash_portable_oracle(num_hashes: int = 8) -> str:
    from ..functions.text import FINGERPRINT_BASE, FINGERPRINT_MOD
    from ..operators.dedup import _PORT_A, _PORT_B, MINHASH_MOD

    mins = ",\n           ".join(
        f"min(({_PORT_A[i]} * h + {_PORT_B[i]}) % {MINHASH_MOD}) AS h{i}"
        for i in range(num_hashes)
    )
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id, unnest(
            list_transform(range(1, greatest(len(t) - 1, 1)),
                           i -> array_to_string(t[i:i+2], ' '))) AS s
        FROM toks
    ),
    hashed AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(s, ''),
                                      c -> CAST(ord(c) AS BIGINT))),
                   (h, c) -> (h * {FINGERPRINT_BASE} + c) % {FINGERPRINT_MOD}) AS h
        FROM sh
    )
    SELECT doc_id, {mins}
    FROM hashed GROUP BY doc_id
    """


@query(
    "b13_minhash_portable",
    oracle=_minhash_portable_oracle(),
    doc="B13: MinHash signatures with an engine-portable hash family "
    "(polynomial shingle hash + affine permutations over the 1e9+7 prime "
    "field, operators/dedup.py minhash_signatures_portable) — the oracle "
    "replays every permutation in SQL, earning a value-checked row for the "
    "MinHash algebra itself (VERDICT r2 item 4). The xxhash64 family stays "
    "the production default (cheaper, wider hash); this variant exists so "
    "the min-over-permutations dataflow — one explode + one groupBy, "
    "identical plan shape — is hash-verified end-to-end.",
)
def b13_minhash_portable(spark, sf_dir):
    from ..operators.dedup import minhash_signatures_portable

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures_portable(d, n=3, num_hashes=8)
    return sig.withColumnRenamed("id", "doc_id")


def _simhash_portable_oracle(bits: int = 16) -> str:
    from ..functions.text import FINGERPRINT_BASE, FINGERPRINT_MOD
    from ..operators.dedup import _PORT_A, _PORT_B, MINHASH_MOD

    half = MINHASH_MOD // 2
    votes = ",\n           ".join(
        f"sum(CASE WHEN ({_PORT_A[i]} * th + {_PORT_B[i]}) % {MINHASH_MOD} "
        f"> {half} THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    recombine = " + ".join(
        f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(tok, ''),
                                      c -> CAST(ord(c) AS BIGINT))),
                   (h, c) -> (h * {FINGERPRINT_BASE} + c) % {FINGERPRINT_MOD}) AS th
        FROM toks
    ),
    votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({recombine} AS BIGINT) AS simhash FROM votes
    """


@query(
    "b13_simhash_portable",
    oracle=_simhash_portable_oracle(),
    doc="B13: SimHash fingerprints with an engine-portable hash family "
    "(polynomial token hash + affine bit derivation over the 1e9+7 prime "
    "field, operators/dedup.py simhash_portable) — the oracle replays every "
    "bit vote in SQL, earning a value-checked row for the SimHash algebra "
    "(the xxhash64 64-bit production path stays rows-only because its hash "
    "values are Spark-specific). Same plan shape as simhash64: one explode "
    "+ one groupBy with conditional sums.",
)
def b13_simhash_portable(spark, sf_dir):
    from ..operators.dedup import simhash_portable

    d = load_table(spark, sf_dir, "documents")
    return simhash_portable(d).withColumnRenamed("id", "doc_id")


def _minhash_verified_oracle(num_hashes: int = 8, bands: int = 4,
                             threshold: float = 0.5) -> str:
    from ..functions.text import FINGERPRINT_BASE, FINGERPRINT_MOD
    from ..operators.dedup import _PORT_A, _PORT_B, MINHASH_MOD

    mins = ",\n           ".join(
        f"min(({_PORT_A[i]} * h + {_PORT_B[i]}) % {MINHASH_MOD}) AS h{i}"
        for i in range(num_hashes)
    )
    rows = num_hashes // bands
    banded = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, h{b * rows} AS k1, h{b * rows + 1} AS k2 "
        "FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id, unnest(
            list_transform(range(1, greatest(len(t) - 1, 1)),
                           i -> array_to_string(t[i:i+2], ' '))) AS s
        FROM toks
    ),
    hashed AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(s, ''),
                                      c -> CAST(ord(c) AS BIGINT))),
                   (h, c) -> (h * {FINGERPRINT_BASE} + c) % {FINGERPRINT_MOD}) AS h
        FROM sh
    ),
    sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
    banded AS (
      {banded}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
         AND a.doc_id < b.doc_id
    ),
    shd AS (SELECT DISTINCT doc_id, s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
    shared AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN shd sa ON sa.doc_id = c.id_a
        JOIN shd sb ON sb.doc_id = c.id_b AND sb.s = sa.s
        GROUP BY c.id_a, c.id_b
    )
    SELECT s.id_a, s.id_b,
           CAST(s.inter AS DOUBLE) / (na.n + nb.n - s.inter) AS jaccard
    FROM shared s
    JOIN sizes na ON na.doc_id = s.id_a
    JOIN sizes nb ON nb.doc_id = s.id_b
    WHERE CAST(s.inter AS DOUBLE) / (na.n + nb.n - s.inter) >= {threshold}
    """


@query(
    "b13_dedup_pipeline_verified",
    oracle=_minhash_verified_oracle(),
    doc="B13: the COMPLETE fuzzy-dedup pipeline value-checked end-to-end — "
    "portable MinHash signatures (polynomial + affine family), LSH banding "
    "joined on the RAW band values (band index + the two signature "
    "positions themselves, no engine-specific band hash, so candidate "
    "generation is exactly replayable), then exact n-gram Jaccard computed "
    "only on the candidate pairs (verification cost ∝ candidates, not "
    "|docs|²). This is the production near-dup shape — band-join prune, "
    "verify survivors — with every stage reproducible by an external "
    "engine. Plan: two explode+groupBy passes over documents (signatures, "
    "shingle sets), one band self-join on narrow keys, one candidate-sized "
    "verify join.",
)
def b13_dedup_pipeline_verified(spark, sf_dir):
    from ..functions.text import word_ngrams
    from ..operators.dedup import (
        _docs_by_id,
        _materialize,
        minhash_signatures_portable,
    )

    num_hashes, bands, rows = 8, 4, 2
    d = load_table(spark, sf_dir, "documents")
    sigs = _materialize(
        minhash_signatures_portable(d, n=3, num_hashes=num_hashes), "local"
    )
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"h{b * rows}").alias("k1"),
                        F.col(f"h{b * rows + 1}").alias("k2"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.*")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, ["band", "k1", "k2"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # Shingle sets feed both sides of the verify join and the size agg —
    # materialize once so the explode pass over the corpus runs once.
    # r16 (guide §2.3): the verify join carries the xxhash64 shingle identity
    # (8 bytes) instead of the 3-gram string — smaller checkpoint blocks and
    # a narrower (id_b, s) join key; no output emits the shingle. See
    # word_ngram_hashes_sql for the collision/oracle argument.
    shd = _materialize(
        _docs_by_id(d, "doc_id", "text").select(
            "id",
            F.expr(f"explode({word_ngram_hashes_sql('`text`', 3)})").alias("s"),
        ),
        "local",
    )
    sizes = shd.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        cand.join(shd.select(F.col("id").alias("id_a"), "s"), "id_a")
        .join(shd.select(F.col("id").alias("id_b"), "s"), ["id_b", "s"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return (
        shared.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .where(jac >= 0.5)
        .select("id_a", "id_b", jac.alias("jaccard"))
    )


@query(
    "b13_incremental_dedup",
    oracle="""
    WITH h AS (
        SELECT doc_id, source, md5(text) AS h,
               (doc_id * 2654435761) % 1000 < 800 AS is_existing
        FROM documents
    ),
    batch AS (
        SELECT doc_id, source, h,
               row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM h WHERE NOT is_existing
    )
    SELECT b.doc_id, b.source
    FROM batch b
    WHERE b.rn = 1
      AND NOT EXISTS (SELECT 1 FROM h e WHERE e.is_existing AND e.h = b.h)
    """,
    doc="B13: INCREMENTAL exact dedup — the production shape for a growing "
    "corpus: dedupe the newly-crawled batch within itself (first-by-key "
    "window) AND against the already-ingested corpus (anti-join on content "
    "hash), without ever re-deduplicating the existing 100 TB. Both stages "
    "key on the same md5 content hash, so the window's exchange is reused "
    "by the anti-join (one shuffle of the small batch; the existing side "
    "ships only its hash column). md5 is engine-portable, so the whole "
    "operator is value-checked. The existing/batch split here is the "
    "deterministic Knuth gate standing in for yesterday's corpus vs "
    "today's crawl.",
)
def b13_incremental_dedup(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").withColumn("h", F.md5("text"))
    gate = (F.col("doc_id") * F.lit(2654435761)) % 1000 < 800
    existing = d.filter(gate).select("h")
    batch = d.filter(~gate)
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("h").orderBy(F.col("doc_id").asc())
    )
    firsts = batch.withColumn("rn", rn).filter(F.col("rn") == 1)
    return firsts.join(existing, "h", "left_anti").select("doc_id", "source")


_QUALITY_CTE = """
    q AS (
        SELECT doc_id,
               (CASE WHEN tc >= 20 AND tc <= 10000 THEN 1.0
                     ELSE least(tc / 20.0, 1.0) END
                + least(CAST(h_en AS DOUBLE) / greatest(tc, 1.0) * 5.0, 1.0)
                + (1.0 - least(pr * 5.0, 1.0))) / 3.0 AS quality
        FROM (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS tc,
                   CAST(length(regexp_replace(text, '[^.,!?;:''"]', '', 'g'))
                        AS DOUBLE) / length(text) AS pr,
                   len(list_filter(
                       list_transform(string_split(text, ' '), w -> lower(w)),
                       w -> list_contains(
                           ['the','and','of','to','a','in','is','that'], w))) AS h_en
            FROM documents
        )
    )
"""


@query(
    "b13_dedup_survivors_quality",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTE.strip()},
    comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
    {_QUALITY_CTE.strip()},
    clustered AS (
        SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp, q.quality
        FROM documents d
        LEFT JOIN comp c ON c.id = d.doc_id
        JOIN q ON q.doc_id = d.doc_id
    )
    SELECT doc_id, quality FROM (
        SELECT doc_id, quality,
               row_number() OVER (
                   PARTITION BY comp ORDER BY quality DESC, doc_id ASC) AS rn
        FROM clustered
    ) WHERE rn = 1
    """,
    doc="B13: QUALITY-AWARE survivor selection — per near-dup cluster keep "
    "the highest-quality document (quality_score tie-broken by id), not "
    "the lowest id: what a production corpus pipeline actually does "
    "(near-dups differ by boilerplate/truncation; keeping the best copy "
    "preserves signal exact min-id selection throws away). Unpaired docs "
    "pass through as singleton clusters via coalesce(comp, doc_id), so "
    "one window over (cluster, quality desc) selects every survivor — no "
    "separate unpaired branch, one exchange for the argmax. Quality "
    "arithmetic is the deterministic b15 heuristic, replayed bit-for-bit "
    "in the oracle.",
)
def b13_dedup_survivors_quality(spark, sf_dir):
    from pyspark.sql import Window

    from ..functions.text import quality_score
    from ..operators.dedup import connected_components, ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.5)
    comps = connected_components(pairs)
    clustered = (
        d.select("doc_id", quality_score("text").alias("quality"))
        .join(comps.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .withColumn("cluster", F.coalesce(F.col("comp"), F.col("doc_id")))
    )
    rn = F.row_number().over(
        Window.partitionBy("cluster").orderBy(
            F.col("quality").desc(), F.col("doc_id").asc()
        )
    )
    return (
        clustered.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("doc_id", "quality")
    )


@query(
    "b13_containment_pairs",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
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
    )
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / sa.sz AS cont_a_in_b,
           CAST(inter AS DOUBLE) / sb.sz AS cont_b_in_a
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / least(sa.sz, sb.sz) >= 0.8
    """,
    doc="B13 (partial-duplicate detection): CONTAINMENT similarity — "
    "|A∩B| / |A| over word-3-gram shingle sets, the asymmetric cousin of "
    "Jaccard that catches one document quoting or embedding another even "
    "when symmetric Jaccard is low (a 100-line doc inside a 10000-line doc "
    "has Jaccard ~0.01 but containment ~1.0 — real near-dup pipelines run "
    "BOTH). Same inverted-index join as ngram_jaccard_pairs: cost tracks "
    "shingle co-occurrence, never |docs|².",
)
def b13_containment_pairs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    # r16 (guide §2.3): int64 shingle identity — the inverted-index self-join
    # shuffles 8-byte keys; see word_ngram_hashes_sql.
    sh = d.select(
        F.col("doc_id").alias("id"),
        F.expr(f"explode({word_ngram_hashes_sql('`text`', 3)})").alias("sh"),
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.col("inter").cast("double") / F.least("sz_a", "sz_b") >= 0.8
        )
        .select(
            "id_a",
            "id_b",
            (F.col("inter").cast("double") / F.col("sz_a")).alias("cont_a_in_b"),
            (F.col("inter").cast("double") / F.col("sz_b")).alias("cont_b_in_a"),
        )
    )


@query(
    "b12_dedup_normalized_text",
    oracle="""
    SELECT min(doc_id) AS doc_id,
           count(*) AS n_dupes,
           min(length(norm)) AS norm_chars
    FROM (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
        FROM documents
    )
    GROUP BY md5(norm)
    """,
    doc="B12 (r7): normalization-then-exact dedup — the standard curation "
    "step between byte-exact and fuzzy dedup: lowercase, collapse every "
    "non-alphanumeric run to one space, trim, then group. The group key is "
    "md5(norm), NOT the normalized text itself: at 100 TB the shuffle moves "
    "16-byte digests instead of multi-KB strings (the same width argument "
    "as b12_dedup_exact), and min/count are partial-aggregatable so the "
    "map side combines before the exchange. Survivor = min doc_id, "
    "deterministic. Normalization is engine-portable POSIX regex; DuckDB "
    "replays it with regexp_replace(..., 'g') and the identical md5.",
)
def b12_dedup_normalized_text(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    return (
        d.select("doc_id", norm.alias("norm"))
        .groupBy(F.md5(F.col("norm")).alias("__sig"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_dupes"),
            F.min(F.length("norm")).alias("norm_chars"),
        )
        .select("doc_id", "n_dupes", "norm_chars")
    )


@query(
    "b13_editdist_neardup",
    oracle="""
    SELECT a.doc_id AS doc_id, b.doc_id AS doc_id_2,
           levenshtein(left(a.text, 64), left(b.text, 64)) AS prefix_dist
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang
     AND length(a.text) // 16 = length(b.text) // 16
     AND a.doc_id < b.doc_id
    WHERE levenshtein(left(a.text, 64), left(b.text, 64)) <= 12
    """,
    doc="B13 (r7): character-level near-duplicate detection by BLOCKED exact "
    "edit distance — the third fuzzy-dedup family next to token-shingle "
    "Jaccard (b13_ngram_jaccard) and bit-signature Hamming (b13_simhash): "
    "candidates are generated by an equi-join on a cheap blocking key "
    "(lang, 16-char length bucket — levenshtein >= length difference, so "
    "far-apart lengths can never be near) and only candidates pay the "
    "O(m*n) Levenshtein, computed on a fixed 64-char prefix so per-pair "
    "cost is bounded regardless of document size. Blocking is an EQUI-join "
    "(hash-partitionable); never all-pairs. At 100 TB the length bucket "
    "alone does not bound block width — the production key adds a prefix "
    "fingerprint (e.g. first-shingle minhash band, b13_minhash_lsh) so "
    "block sizes stay O(1); semantics are unchanged. JVM-side "
    "F.levenshtein with the 3-arg THRESHOLD form: the banded early-abandon "
    "DP visits O(len*k) cells instead of O(len^2) and bails the moment a "
    "row's minimum exceeds k — measured 4.9x (7.5 s -> 1.53 s at sf0.1, "
    "identical 59 pairs), since almost every candidate pair is far apart "
    "and abandons early. Within the kept set (dist <= k) the threshold "
    "form returns the EXACT distance, so output values are unchanged; "
    "DuckDB replays with its identical-semantics 2-arg levenshtein() "
    "(Wagner-Fischer, unit costs) and a plain <= filter.",
)
def b13_editdist_neardup(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.length("text") / 16).cast("long").alias("len_bucket"),
        F.substring("text", 1, 64).alias("prefix"),
    )
    a = d.alias("a")
    b = d.alias("b")
    # 3-arg threshold form: banded DP, early abandon past 12 (returns -1
    # for far pairs, the exact distance for kept ones)
    dist = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"), 12)
    return (
        a.join(
            b,
            on=[
                F.col("a.lang") == F.col("b.lang"),
                F.col("a.len_bucket") == F.col("b.len_bucket"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("doc_id_2"),
            dist.alias("prefix_dist"),
        )
        .filter(F.col("prefix_dist") >= 0)
    )


_SPAN_N = 5  # word n-gram granularity of the duplicated-span detector
_SPAN_FRAC = 0.10  # flag documents with >= 10% of tokens inside repeated spans


@query(
    "b13_repeated_span_coverage",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    idx AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS pos FROM tok),
    pos AS (SELECT doc_id, pos, array_to_string(tk[pos:pos+4], ' ') AS sh
            FROM idx),
    rep AS (SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM pos) GROUP BY sh
            HAVING count(*) >= 2),
    hit AS (SELECT p.doc_id, p.pos, unnest([0, 1, 2, 3, 4]) AS off
            FROM pos p JOIN rep USING (sh)),
    cov AS (SELECT DISTINCT doc_id, pos + off AS tok_idx FROM hit),
    per AS (SELECT doc_id, count(*) AS n_dup_tokens FROM cov GROUP BY doc_id)
    SELECT d.doc_id,
           len(string_split(d.text, ' ')) AS n_tokens,
           coalesce(per.n_dup_tokens, 0) AS n_dup_tokens,
           CAST(coalesce(per.n_dup_tokens, 0) AS DOUBLE)
             / CAST(len(string_split(d.text, ' ')) AS DOUBLE) AS dup_token_frac,
           CAST(coalesce(per.n_dup_tokens, 0) AS DOUBLE)
             / CAST(len(string_split(d.text, ' ')) AS DOUBLE) >= 0.10 AS flagged
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
    doc="B13/B15 (r8): cross-document DUPLICATED-SPAN coverage — the "
    "exact-substring dedup signal of Lee et al. 2022 ('Deduplicating "
    "Training Data Makes Language Models Better') at word-5-gram "
    "granularity: a position is duplicated when its 5-gram occurs in >= 2 "
    "distinct documents, and the per-document metric is the fraction of "
    "TOKENS covered by the union of duplicated spans (interval union via "
    "position-set distinct, so overlapping hits never double-count — the "
    "detail naive count-of-hit-shingles gets wrong). Complements the "
    "whole-document dedup family (b12/b13): it catches boilerplate "
    "headers, license blocks and templated paragraphs pasted into "
    "otherwise-unique documents, which document-level Jaccard/MinHash "
    "never flag. Plan: positional shingles are ONE posexplode scan; the "
    "repeated-shingle relation is a (doc,sh)-distinct then sh-groupBy "
    "(both map-side combined); flagging is an equi-join on the shingle "
    "key — shuffles move 5-gram strings and int positions, never "
    "documents, and nothing is all-pairs. Unlike the pair-generating "
    "dedup joins, this join CANNOT blow up: `rep` is a set (one row per "
    "repeated shingle), so output <= |positions| regardless of how hot a "
    "boilerplate 5-gram is — the 100 TB concern is only reducer SKEW on "
    "the hot shingle key, which AQE skew-split handles (demonstrated by "
    "b02_aqe_skew_join). All bigint/bigint "
    "arithmetic; the only double is one correctly-rounded division, so "
    "the DuckDB oracle is bit-exact.",
)
def b13_repeated_span_coverage(spark, sf_dir):
    n = _SPAN_N
    d = load_table(spark, sf_dir, "documents")
    # r16 (guide §2.3): positional shingles carry the xxhash64 IDENTITY, not
    # the 5-gram text — the rep groupBy and the coverage join shuffle 8-byte
    # keys instead of 5-word strings; no output emits the shingle. See
    # word_ngram_hashes_sql for the collision/oracle argument.
    pos_sh = d.select(
        "doc_id",
        F.posexplode(
            F.expr(word_ngram_hashes_sql("`text`", n, distinct=False))
        ).alias("pos", "sh"),
    )
    rep = (
        pos_sh.select("doc_id", "sh")
        .distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    cov = (
        pos_sh.join(rep, "sh")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + n - 1)
            ).alias("tok_idx"),
        )
        .distinct()
    )
    per = cov.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup_tokens"))
    n_tokens = F.size(F.split("text", " ")).cast("bigint")
    n_dup = F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("bigint")
    frac = n_dup.cast("double") / n_tokens.cast("double")
    return d.join(per, "doc_id", "left").select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_dup.alias("n_dup_tokens"),
        frac.alias("dup_token_frac"),
        (frac >= _SPAN_FRAC).alias("flagged"),
    )


@query(
    "b13_prefix_filter_pairs",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    idx AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS pos FROM tok),
    sh AS (SELECT DISTINCT doc_id, array_to_string(tk[pos:pos+2], ' ') AS sh
           FROM idx),
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           sa.sz AS sz_a, sb.sz AS sz_b, inter,
           CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE)
             AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE 10 * inter >= 7 * (sa.sz + sb.sz - inter)
    """,
    doc="B13 (r8): PREFIX-FILTERED exact set-similarity join (Chaudhuri et "
    "al. SSJoin / Bayardo et al. All-Pairs / Xiao et al. PPJoin) — the "
    "third candidate-generation strategy in the dedup family, alongside "
    "the full inverted-index join (b13_ngram_jaccard) and probabilistic "
    "LSH banding (b13_minhash_lsh), and unlike LSH it is EXACT: with "
    "shingles canonically ordered rarest-document-frequency-first, two "
    "word-3-gram sets with Jaccard >= t MUST share a token inside their "
    "(|S| - ceil(t*|S|) + 1)-prefixes, so joining only the prefixes loses "
    "no pair (the oracle computes unfiltered all-pairs Jaccard, making "
    "the differential test a proof of losslessness, not just agreement). "
    "Threshold arithmetic is EXACT integers throughout — prefix length "
    "via ceil(7*sz/10) = (7*sz+9) div 10 and the size/threshold tests as "
    "10*x >= 7*y — because float ceil(0.7*20) = ceil(14.000000000000002) "
    "= 15 silently shortens the prefix by one and the losslessness proof "
    "dies. Candidates also pass the exact SIZE filter (J >= t forces "
    "min(sz)/max(sz) >= t) inside the join condition — measured at "
    "sf0.1: 260k full-index postings -> 81k prefix postings, 202k "
    "candidate pairs -> 104k after the size filter, verified down to the "
    "256 true pairs. Plan: one df-groupBy builds the "
    "frequency order; (df, sh) structs sort per-document via sort_array "
    "— NO single-partition global window for ranks; the candidate join "
    "explodes only the ~0.3|S|+1 prefix tokens; exact "
    "verification is array_intersect on the two per-document "
    "shingle arrays, O(candidates), never all-pairs. At 100 TB the "
    "rarest-first order is what makes this work: prefix tokens are by "
    "construction the LOW-frequency shingles, so the candidate join's "
    "key distribution is anti-skewed — the opposite of the hot-key "
    "problem a naive inverted index has. All counts bigint; jaccard is "
    "one exact bigint/bigint double division, bit-exact vs DuckDB.",
)
def b13_prefix_filter_pairs(spark, sf_dir):
    num, den = 7, 10  # t = 7/10, kept as exact integers (see doc)
    d = load_table(spark, sf_dir, "documents")
    # r16 (guide §2.3): shingles enter as their xxhash64 int64 identity — the
    # df groupBy, the per-doc collect_list, the prefix-token join key and the
    # verify array_intersect all operate on 8-byte values instead of 3-word
    # strings. The prefix-filter losslessness proof only needs ONE canonical
    # total order shared by all documents; (df, hash) is exactly as canonical
    # as (df, string), and the oracle computes UNFILTERED all-pairs Jaccard,
    # so the differential remains a proof of losslessness under the new
    # order. Collision/oracle argument: word_ngram_hashes_sql.
    sh = d.select(
        F.col("doc_id").alias("id"),
        F.expr(f"explode({word_ngram_hashes_sql('`text`', 3)})").alias("sh"),
    )
    df_rank = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    keyed = sh.join(df_rank, "sh").select("id", "df", "sh")
    per_doc = (
        keyed.groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "sh"))).alias("arr"))
        .select(
            "id",
            F.col("arr.sh").alias("toks"),
            F.size("arr").cast("bigint").alias("sz"),
        )
        # per_doc is consumed 4x (both prefix join sides + both verify
        # array sides) but deliberately NOT localCheckpoint()ed: the four
        # consumers are IDENTICAL subplans, so runtime ReusedExchange
        # computes the aggregation once and shares it — measured 3.7 s
        # warm at sf0.1 vs 4.9-6.7 s with an eager checkpoint, which pays
        # materialization AND blinds AQE's stats-based join planning.
        # Contrast b26_triangle_count, where the consumers differ and
        # ReusedExchange can't fire — there the checkpoint wins 69->6
        # shuffles. Reuse-vs-materialize is a per-plan measurement, not
        # a rule.
    )
    ceil_t_sz = (F.col("sz") * num + (den - 1)).cast("bigint") / den
    prefix_len = (F.col("sz") - F.floor(ceil_t_sz) + 1).cast("int")
    pref = per_doc.select(
        "id",
        "sz",
        F.explode(F.slice("toks", F.lit(1), prefix_len)).alias("sh"),
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.sz") * den >= F.col("b.sz") * num)
            & (F.col("b.sz") * den >= F.col("a.sz") * num),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    pa = per_doc.select(
        F.col("id").alias("id_a"),
        F.col("toks").alias("toks_a"),
        F.col("sz").alias("sz_a"),
    )
    pb = per_doc.select(
        F.col("id").alias("id_b"),
        F.col("toks").alias("toks_b"),
        F.col("sz").alias("sz_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("bigint")
    jac = inter.cast("double") / (
        F.col("sz_a") + F.col("sz_b") - inter
    ).cast("double")
    return (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            "id_a",
            "id_b",
            "sz_a",
            "sz_b",
            inter.alias("inter"),
            jac.alias("jaccard"),
        )
        .filter(
            F.col("inter") * den
            >= (F.col("sz_a") + F.col("sz_b") - F.col("inter")) * num
        )
    )


@query(
    "b13_repeated_span_dedup",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    toks AS (SELECT doc_id, unnest(tk) AS tok,
                    generate_subscripts(tk, 1) AS tpos FROM tok),
    idx AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS pos FROM tok),
    pos AS (SELECT doc_id, pos, array_to_string(tk[pos:pos+4], ' ') AS sh
            FROM idx),
    own AS (SELECT sh, min(doc_id) AS owner
            FROM (SELECT DISTINCT doc_id, sh FROM pos)
            GROUP BY sh HAVING count(*) >= 2),
    hit AS (SELECT p.doc_id, p.pos + g.off AS tok_idx,
                   p.doc_id = own.owner AS owned
            FROM pos p JOIN own USING (sh), unnest([0,1,2,3,4]) AS g(off)),
    cov AS (SELECT doc_id, tok_idx, bool_or(owned) AS any_owned
            FROM hit GROUP BY 1, 2),
    kept AS (
        SELECT t.doc_id, t.tpos, t.tok
        FROM toks t LEFT JOIN cov
          ON cov.doc_id = t.doc_id AND cov.tok_idx = t.tpos
        WHERE cov.doc_id IS NULL OR cov.any_owned
    ),
    agg AS (SELECT doc_id, count(*) AS n_kept,
                   string_agg(tok, ' ' ORDER BY tpos) AS clean_text
            FROM kept GROUP BY doc_id)
    SELECT d.doc_id,
           len(string_split(d.text, ' ')) AS n_tokens,
           coalesce(agg.n_kept, 0) AS n_kept,
           coalesce(agg.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
    doc="B13/B15 (r8): the duplicated-span END PRODUCT — the corpus "
    "REWRITE of Lee et al. 2022's exact-substring dedup, completing "
    "b13_repeated_span_coverage the way b13_dedup_survivors completes "
    "the pair detectors: every token position covered only by "
    "FOREIGN-owned repeated 5-grams is dropped, where a shingle's owner "
    "is its minimum doc_id — so exactly one canonical occurrence of "
    "each boilerplate span survives corpus-wide and every other copy is "
    "cut out of the text itself. Ownership is a deterministic min "
    "aggregate (no tie-breaking ambiguity), the keep rule is per-token "
    "bool_or over covering shingles, and the cleaned text is rebuilt "
    "with an order-explicit aggregation (array_sort of (pos, tok) "
    "structs / string_agg ORDER BY) — never relying on row order, so "
    "the output string is bit-identical across engines and "
    "partitionings. Plan shape = the coverage entry plus one bool_or "
    "aggregation and one positional re-assembly groupBy; shuffles carry "
    "tokens and int positions, the rebuilt documents materialize only "
    "in the final per-doc aggregation. At 100 TB this is the standard "
    "one-pass-per-stage dedup rewrite: no stage ever holds more than "
    "one document's tokens in one place except the final reassembly, "
    "which is bounded by document length.",
)
def b13_repeated_span_dedup(spark, sf_dir):
    n = _SPAN_N
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("tpos", "tok")
    )
    # r16 (guide §2.3): same int64 shingle identity as the coverage entry —
    # ownership/coverage shuffles move 8-byte keys; only `tok` (needed for
    # the rebuilt text) stays a string.
    pos_sh = d.select(
        "doc_id",
        F.posexplode(
            F.expr(word_ngram_hashes_sql("`text`", n, distinct=False))
        ).alias("pos", "sh"),
    )
    own = (
        pos_sh.select("doc_id", "sh")
        .distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("nd"), F.min("doc_id").alias("owner"))
        .filter(F.col("nd") >= 2)
        .select("sh", "owner")
    )
    hit = (
        pos_sh.join(own, "sh")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + n - 1)
            ).alias("tok_idx"),
            (F.col("doc_id") == F.col("owner")).alias("owned"),
        )
    )
    cov = (
        hit.groupBy("doc_id", "tok_idx")
        .agg(F.max("owned").alias("any_owned"))
        .select(
            F.col("doc_id").alias("cdoc"), "tok_idx", "any_owned"
        )
    )
    kept = (
        toks.join(
            cov,
            (F.col("doc_id") == F.col("cdoc"))
            & (F.col("tpos") == F.col("tok_idx")),
            "left",
        )
        .filter(F.col("cdoc").isNull() | F.col("any_owned"))
        .select("doc_id", "tpos", "tok")
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    n_tokens = F.size(F.split("text", " ")).cast("bigint")
    return d.join(agg, "doc_id", "left").select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


@query(
    "b13_record_linkage",
    oracle="""
    WITH c AS (
        SELECT c_custkey, c_nationkey, c_acctbal,
               lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS cd
        FROM customer
    ),
    s AS (
        SELECT s_suppkey, s_nationkey, s_acctbal,
               lpad(CAST(s_suppkey AS VARCHAR), 9, '0') AS sd
        FROM supplier
    ),
    cand AS (
        SELECT c_custkey, s_suppkey,
               CAST(2 * (9 - levenshtein(cd, sd))
                    + CASE WHEN c_nationkey = s_nationkey THEN 3 ELSE 0 END
                    + CASE WHEN abs(c_acctbal - s_acctbal) < 500.0
                           THEN 5 ELSE 0 END AS BIGINT) AS score
        FROM c JOIN s ON c_custkey % 10 = s_suppkey % 10
    )
    SELECT c_custkey, s_suppkey, score
    FROM cand WHERE score >= 16
    """,
    doc="B13 (r9): RECORD LINKAGE / entity resolution across two "
    "relations (customer x supplier) — the cross-table sibling of the "
    "within-table fuzzy-dedup family: candidate pairs from a BLOCKING "
    "key (never all-pairs — the b13 family invariant), scored by a "
    "Fellegi-Sunter-style additive rule over multiple field "
    "comparators (string edit-distance similarity on the zero-padded "
    "entity digits, weight 2 per matched unit; agreement on nation, "
    "+3; account-balance proximity within 500, +5), thresholded at "
    ">=16. All comparators fold to exact integers, so the score — and "
    "therefore the differential — is bit-exact cross-engine (the "
    "b13_editdist_neardup levenshtein contract). The blocking key "
    "(entity-id suffix, the stand-in for a phonetic/prefix block on "
    "real names) turns |C|x|S| into an equi-join with ~1/10 "
    "selectivity per side pairing; the supplier side is a dimension "
    "table and is broadcast (plan-asserted BroadcastHashJoin, zero "
    "shuffle of the customer side). At 100 TB: blocked linkage is one "
    "map-side join per blocking pass; multi-pass blocking = union of "
    "broadcast joins; the scoring expression is whole-stage-codegen "
    "arithmetic, no UDF.",
)
def b13_record_linkage(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.lpad(F.col("c_custkey").cast("string"), 9, "0").alias("cd"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.lpad(F.col("s_suppkey").cast("string"), 9, "0").alias("sd"),
    )
    score = (
        F.lit(2) * (F.lit(9) - F.levenshtein("cd", "sd"))
        + F.when(F.col("c_nationkey") == F.col("s_nationkey"), 3).otherwise(0)
        + F.when(F.abs(F.col("c_acctbal") - F.col("s_acctbal")) < 500.0, 5).otherwise(0)
    ).cast("bigint")
    return (
        c.join(F.broadcast(s), F.col("c_custkey") % 10 == F.col("s_suppkey") % 10)
        .select("c_custkey", "s_suppkey", score.alias("score"))
        .filter(F.col("score") >= 16)
    )


@query(
    "b13_source_overlap",
    oracle="""
    WITH tok AS (SELECT source, string_split(text, ' ') AS tk FROM documents),
    idx AS (SELECT source, tk, unnest(range(1, len(tk) - 3)) AS pos FROM tok),
    sh AS (SELECT DISTINCT source, array_to_string(tk[pos:pos+4], ' ') AS s
           FROM idx),
    sz AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b,
           CAST(i.inter AS BIGINT) AS n_shared,
           CAST(za.n AS BIGINT) AS n_a,
           CAST(zb.n AS BIGINT) AS n_b,
           CAST(i.inter AS DOUBLE) / (za.n + zb.n - i.inter) AS jaccard
    FROM inter i
    JOIN sz za ON za.source = i.src_a
    JOIN sz zb ON zb.source = i.src_b
    """,
    doc="B13 (r9): SOURCE-LEVEL OVERLAP MATRIX — pairwise 5-gram-shingle "
    "Jaccard between corpus SOURCES (not documents): the curation "
    "question 'how much of source A is already in source B' that "
    "decides dedup order, mixture weights, and whether a new crawl "
    "adds anything — document-level dedup (b12/b13) removes copies, "
    "this MEASURES aggregate redundancy between collections, the "
    "corpus-health dashboard number. Same 5-gram granularity as the "
    "repeated-span family (b13_repeated_span_coverage cites Lee et "
    "al. 2022). Plan: one scan explodes positional shingles "
    "(source, shingle)-distinct — map-side combinable; the "
    "intersection is a self-equi-join ON THE SHINGLE KEY whose "
    "per-shingle fan-out is bounded by |sources|^2 (20 sources -> "
    "<=190 pairs per shingle, NOT per row — the b13 never-all-pairs "
    "invariant holds at the collection level); per-source set sizes "
    "are a 20-row aggregate joined back via broadcast. The only "
    "float is the final Jaccard — ONE correctly-rounded division of "
    "exact bigints (the b15_pmi rule), so the matrix hashes "
    "bit-exact. At 100 TB: shingle-key skew (boilerplate 5-grams "
    "shared by every source) is bounded by the pair cap and AQE-split; "
    "for thousands of sources swap the pair join for per-shingle "
    "source-set sketches — same contract, documented trade.",
)
def b13_source_overlap(spark, sf_dir):
    toks = load_table(spark, sf_dir, "documents").select(
        "source", F.split(F.col("text"), " ").alias("tk")
    )
    # sequence(1, n) DESCENDS when n < 1 (a sub-5-token doc would emit
    # bogus short shingles) — gate on size explicitly.
    positions = F.when(
        F.size("tk") >= 5, F.sequence(F.lit(1), F.size("tk") - 4)
    ).otherwise(F.array().cast("array<int>"))
    # r16 (guide §2.3): the (source, shingle)-distinct exchange and the
    # shingle-keyed self-join move the xxhash64 int64 identity, not the
    # 5-gram string — no output emits the shingle; collision/oracle
    # argument on functions.text.word_ngram_hashes_sql.
    sh = (
        toks.select(
            "source",
            F.explode(
                F.transform(
                    positions,
                    lambda i: F.xxhash64(
                        F.array_join(F.slice(F.col("tk"), i, 5), " ")
                    ),
                )
            ).alias("s"),
        )
        .distinct()
    )
    sz = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    za = sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    zb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(za), "src_a")
        .join(F.broadcast(zb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("inter").cast("bigint").alias("n_shared"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            (
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


@query(
    "b13_record_linkage_planted",
    oracle="""
    WITH c AS (
        SELECT c_custkey, c_nationkey, c_acctbal,
               lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS cd
        FROM customer
    ),
    r AS (
        SELECT c_custkey AS src, TRUE AS is_twin,
               c_nationkey AS r_nation, c_acctbal + 100 AS r_bal,
               substr(cd, 1, CAST(c_custkey % 4 AS INT)) || 'X'
                   || substr(cd, CAST(c_custkey % 4 AS INT) + 2) AS rd
        FROM c WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey AS src, FALSE AS is_twin,
               CAST((c_nationkey + 7) % 25 AS INT) AS r_nation,
               c_acctbal + 3000 AS r_bal,
               'YYY' || substr(cd, 4) AS rd
        FROM c WHERE c_custkey % 7 = 1
    ),
    cand AS (
        SELECT c.c_custkey, r.src, r.is_twin,
               CAST(2 * (9 - levenshtein(c.cd, r.rd))
                    + CASE WHEN c.c_nationkey = r.r_nation THEN 3 ELSE 0 END
                    + CASE WHEN abs(c.c_acctbal - r.r_bal) < 500 THEN 5 ELSE 0 END
                 AS BIGINT) AS score
        FROM c JOIN r ON c.c_custkey % 100 = r.src % 100
    ),
    per_score AS (
        SELECT score, count(*) AS n,
               count(CASE WHEN is_twin AND c_custkey = src THEN 1 END) AS tp
        FROM cand GROUP BY score
    ),
    truth AS (
        SELECT count(*) AS n_truth FROM c WHERE c_custkey % 3 = 0
    ),
    grid AS (SELECT unnest(range(12, 25)) AS threshold)
    SELECT g.threshold AS threshold,
           CAST(t.n_truth AS BIGINT) AS n_truth,
           CAST(sum(p.n) AS BIGINT) AS n_pred,
           CAST(sum(p.tp) AS BIGINT) AS n_tp,
           CAST(sum(p.tp) AS DOUBLE) / sum(p.n) AS precision,
           CAST(sum(p.tp) AS DOUBLE) / t.n_truth AS recall
    FROM grid g
    CROSS JOIN truth t
    JOIN per_score p ON p.score >= g.threshold
    GROUP BY g.threshold, t.n_truth
    """,
    doc="B13 (r10): GROUND-TRUTH record-linkage calibration (VERDICT r9 "
    "#4) — b13_record_linkage verified the blocked Fellegi-Sunter "
    "machinery but its >=16 threshold was uncalibrated against any "
    "truth; this entry PLANTS the truth and sweeps the threshold. A "
    "synthetic registry is derived from customer in closed form: every "
    "custkey%3==0 row gets a TRUE TWIN (one char of the zero-padded "
    "key replaced by 'X' at a key-dependent position INSIDE THE "
    "PADDING, positions 1-4 — two distinct keys < 10^5 always differ "
    "in a real digit, so no foreign digest can be levenshtein-1 from "
    "a twin: the first draft perturbed real-digit positions and "
    "block-mates 100 apart collided at lev 1 -> levenshtein exactly "
    "1; same nation; balance shifted +100, inside the 500 proximity "
    "band -> score exactly 24) and every custkey%7==1 row a "
    "DECOY (3-letter prefix corruption, shifted nation, +3000 balance "
    "-> its own best score 12). Candidates come from the same "
    "2-digit-suffix blocking key (never all-pairs), the registry side "
    "broadcasts (the dimension side, as in the parent), and ONE "
    "scored pass feeds the whole calibration CURVE: per-score counts "
    "(<=27 groups) joined to a 13-point threshold grid gives "
    "precision/recall per threshold in two bounded joins — pairs are "
    "scored once no matter how many thresholds are graded, which is "
    "the 100 TB shape (the grid join moves ~27 rows). All comparators "
    "fold to exact integers; the only floats are the final two "
    "divisions per grid row. tests/test_llm_ops.py pins recall == 1.0 "
    "across the grid (every twin scores 24) and precision == 1.0 at "
    "thresholds 23-24 (score parity: no cross-pair can exceed 22), so "
    "the curve provably separates; the production 16 row reports the "
    "honest measured precision of the parent's threshold.",
)
def b13_record_linkage_planted(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.lpad(F.col("c_custkey").cast("string"), 9, "0").alias("cd"),
    )
    # ADVICE r10: the separation proof below (precision == 1.0 at
    # thresholds 23-24) requires every perturbation position 1-4 to land
    # in the 9-digit zero PADDING, i.e. c_custkey < 10^5 (TPC-H SF < 2/3).
    # At larger SF position 4 becomes a real digit and block-mates 10^5
    # apart can form levenshtein-1 cross pairs scoring 24 — refuse loudly
    # instead of silently shipping a broken calibration truth.  The probe
    # is one column-pruned min/max scan of the dimension table.
    mx = c.agg(F.max("c_custkey")).first()[0]
    if mx is not None and mx >= 100_000:
        raise ValueError(
            "b13_record_linkage_planted: planted-twin separation requires "
            f"c_custkey < 10^5, got max {mx}; widen the pad and rescale the "
            "levenshtein score band to support this scale factor"
        )
    twins = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("src"),
        F.lit(True).alias("is_twin"),
        F.col("c_nationkey").alias("r_nation"),
        (F.col("c_acctbal") + 100).alias("r_bal"),
        F.expr(
            "substr(cd, 1, CAST(c_custkey % 4 AS INT)) || 'X' "
            "|| substr(cd, CAST(c_custkey % 4 AS INT) + 2)"
        ).alias("rd"),
    )
    decoys = c.filter(F.col("c_custkey") % 7 == 1).select(
        F.col("c_custkey").alias("src"),
        F.lit(False).alias("is_twin"),
        ((F.col("c_nationkey") + 7) % 25).cast("int").alias("r_nation"),
        (F.col("c_acctbal") + 3000).alias("r_bal"),
        F.expr("'YYY' || substr(cd, 4)").alias("rd"),
    )
    r = twins.unionByName(decoys)
    score = (
        F.lit(2) * (F.lit(9) - F.levenshtein("cd", "rd"))
        + F.when(F.col("c_nationkey") == F.col("r_nation"), 3).otherwise(0)
        + F.when(F.abs(F.col("c_acctbal") - F.col("r_bal")) < 500, 5).otherwise(0)
    ).cast("bigint")
    cand = c.join(
        F.broadcast(r), F.col("c_custkey") % 100 == F.col("src") % 100
    ).select(
        "c_custkey",
        "src",
        "is_twin",
        score.alias("score"),
    )
    per_score = cand.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(
            F.when(F.col("is_twin") & (F.col("c_custkey") == F.col("src")), 1)
        ).alias("tp"),
    )
    truth = c.filter(F.col("c_custkey") % 3 == 0).agg(
        F.count(F.lit(1)).alias("n_truth")
    )
    grid = spark.range(12, 25).select(F.col("id").alias("threshold"))
    swept = (
        grid.join(F.broadcast(per_score), F.col("score") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(F.sum("n").alias("n_pred"), F.sum("tp").alias("n_tp"))
    )
    return swept.crossJoin(F.broadcast(truth)).select(
        "threshold",
        F.col("n_truth").cast("bigint").alias("n_truth"),
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("n_tp").cast("bigint").alias("n_tp"),
        (F.col("n_tp").cast("double") / F.col("n_pred")).alias("precision"),
        (F.col("n_tp").cast("double") / F.col("n_truth")).alias("recall"),
    )


@query(
    "b13_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTE.strip()},
    comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
    assign AS (
        SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    ),
    lab AS (
        SELECT doc_id, cluster_id,
               CASE WHEN cm < 8 THEN 'train' WHEN cm = 8 THEN 'val'
                    ELSE 'test' END AS split,
               CASE WHEN nm < 8 THEN 'train' WHEN nm = 8 THEN 'val'
                    ELSE 'test' END AS naive_split
        FROM (
            SELECT doc_id, cluster_id,
                   ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))
                       ::BIGINT % 10 AS cm,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       ::BIGINT % 10 AS nm
            FROM assign
        )
    ),
    scal AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN a.naive_split <> b.naive_split
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS leaked_pairs_naive,
               CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END)
                    AS BIGINT) AS leaked_pairs_cluster
        FROM pairs p JOIN lab a ON a.doc_id = p.id_a
                     JOIN lab b ON b.doc_id = p.id_b
    )
    SELECT l.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT l.cluster_id) AS BIGINT) AS n_clusters,
           s.n_pairs, s.leaked_pairs_naive, s.leaked_pairs_cluster
    FROM lab l, scal s
    GROUP BY 1, 4, 5, 6
    """,
    doc="B13/B22 (r12): LEAKAGE-SAFE TRAIN/VAL/TEST SPLIT — the curation "
    "step that makes eval sets honest: a naive per-document hash split "
    "puts near-duplicate documents on BOTH sides of the train/eval "
    "boundary (the classic contamination path — the model 'memorizes' "
    "the training twin and the eval score is fiction), so the split "
    "unit must be the near-dup CLUSTER, not the document. Clusters = "
    "the b13_dedup_clusters machinery verbatim (trigram-shingle exact "
    "Jaccard >= 0.5 pairs -> connected components, min-id label); "
    "singleton docs are their own cluster (COALESCE to doc_id). Split "
    "= the 60-bit md5 of the CLUSTER id mod 10 (8/1/1 train/val/test) "
    "— deterministic, so members of a cluster land together by "
    "construction, and the whole assignment is hash-checked by the "
    "oracle. The entry AUDITS the claim in-query, Benford-style: it "
    "computes the same 8/1/1 split keyed on doc_id (what a naive "
    "pipeline does) and counts near-dup pairs straddling split "
    "boundaries under each keying — measured at sf0.01: 25 pairs, "
    "8 leak under the naive split (~ the 1 - sum p_i^2 = 34% theory "
    "rate), 0 under the cluster split (pinned in pytest; the oracle "
    "replays both counts exactly). All three pair scalars fold into "
    "ONE aggregate over one pairs-labels join (the oracle's three "
    "CTEs, fused). SCALE: pair evidence is the shared banded/inverted-"
    "index build (never all-pairs), CC is the measured min-label "
    "propagation, labels join pairs on doc_id (equi, a shuffle-hash join by hint), "
    "and the split itself is map-only hash arithmetic — the audit "
    "scalars ride a 1-row broadcast. Cites the same decontamination "
    "rationale as b15_decontaminate (train-vs-eval overlap), but "
    "operates at corpus-construction time where the fix is free.",
)
def b13_leakage_safe_split(spark, sf_dir):
    from ..operators.dedup import connected_components, ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    # consumed twice (CC rounds + the leak audit join)
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.5).localCheckpoint()
    comp = connected_components(pairs)
    h10 = lambda c: (  # noqa: E731
        F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")
        % 10
    )
    split_of = lambda m: (  # noqa: E731
        F.when(m < 8, "train").when(m == 8, "val").otherwise("test")
    )
    lab = (
        d.select("doc_id")
        .join(comp.select(F.col("id").alias("doc_id"), "comp"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("comp", F.col("doc_id")).alias("cluster_id"),
        )
        .select(
            "doc_id",
            "cluster_id",
            split_of(h10(F.col("cluster_id"))).alias("split"),
            split_of(h10(F.col("doc_id"))).alias("naive_split"),
        )
        # consumed 3x (per-split agg + both sides of the pair audit)
        .localCheckpoint()
    )
    la = lab.select(
        F.col("doc_id").alias("id_a"),
        F.col("split").alias("sa"),
        F.col("naive_split").alias("na"),
    )
    lb = lab.select(
        F.col("doc_id").alias("id_b"),
        F.col("split").alias("sb"),
        F.col("naive_split").alias("nb"),
    )
    # both sides grow with the corpus: SHUFFLE_HASH pins the joins AQE raced
    # (build: the per-doc labels, one row per id)
    scal = (
        pairs.join(la.hint("shuffle_hash"), "id_a")
        .join(lb.hint("shuffle_hash"), "id_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("na") != F.col("nb"), 1).otherwise(0))
            .cast("bigint")
            .alias("leaked_pairs_naive"),
            F.sum(F.when(F.col("sa") != F.col("sb"), 1).otherwise(0))
            .cast("bigint")
            .alias("leaked_pairs_cluster"),
        )
    )
    return (
        lab.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(scal))
        .select(
            "split",
            "n_docs",
            "n_clusters",
            "n_pairs",
            "leaked_pairs_naive",
            "leaked_pairs_cluster",
        )
    )


def _minhash_shard_merge_oracle(num_hashes: int = 8, shards: int = 2) -> str:
    from ..functions.text import FINGERPRINT_BASE, FINGERPRINT_MOD
    from ..operators.dedup import _PORT_A, _PORT_B, MINHASH_MOD

    per = ",\n               ".join(
        f"min(({_PORT_A[i]} * h + {_PORT_B[i]}) % {MINHASH_MOD}) AS h{i}"
        for i in range(num_hashes)
    )
    merged = ",\n           ".join(
        f"CAST(min(h{i}) AS BIGINT) AS h{i}" for i in range(num_hashes)
    )
    direct = ",\n               ".join(
        f"min(({_PORT_A[i]} * h + {_PORT_B[i]}) % {MINHASH_MOD}) AS f{i}"
        for i in range(num_hashes)
    )
    eq = " AND ".join(f"m.h{i} = d.f{i}" for i in range(num_hashes))
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id, unnest(
            list_transform(range(1, greatest(len(t) - 1, 1)),
                           i -> array_to_string(t[i:i+2], ' '))) AS s
        FROM toks
    ),
    hashed AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(s, ''),
                                      c -> CAST(ord(c) AS BIGINT))),
                   (h, c) -> (h * {FINGERPRINT_BASE} + c) % {FINGERPRINT_MOD}) AS h
        FROM sh
    ),
    per_shard AS (
        SELECT doc_id, h % {shards} AS shard,
               {per}
        FROM hashed GROUP BY doc_id, h % {shards}
    ),
    merged AS (
        SELECT doc_id,
           {merged}
        FROM per_shard GROUP BY doc_id
    ),
    direct AS (
        SELECT doc_id,
               {direct}
        FROM hashed GROUP BY doc_id
    )
    SELECT m.doc_id, m.h0, m.h1, m.h2, m.h3, m.h4, m.h5, m.h6, m.h7,
           ({eq}) AS matches_full
    FROM merged m JOIN direct d ON m.doc_id = d.doc_id
    """


@query(
    "b13_minhash_shard_merge",
    oracle=_minhash_shard_merge_oracle(),
    doc="B13 (r12): MINHASH SHARD-MERGE EXECUTED — the b06_kmv_merge "
    "pattern for the MinHash family: a corpus signature maintained "
    "incrementally (per ingest shard, per stream batch) must equal the "
    "signature computed over the whole corpus at once, because min over "
    "a union is the min of per-part mins. Here the shingle relation is "
    "split into 2 deterministic 'arrival batches' (h % 2 — partitioning "
    "the SHINGLE SET, the level at which MinHash state actually merges; "
    "splitting raw text would lose boundary n-grams and is exactly the "
    "mistake this entry documents against), each batch keeps only 8 "
    "bigints of state per doc, and the element-wise min-merge is a "
    "second tiny aggregate over <=2 rows/doc. The in-query audit "
    "(matches_full) recomputes the direct single-phase signature from "
    "its own scan BY DESIGN — audit-grade evidence costs a second pass "
    "here; production keeps only the per-shard sketches — and the "
    "portable hash family (b13_minhash_portable's polynomial + affine "
    "permutations mod 1e9+7) lets DuckDB replay both phases and the "
    "equality itself, so 'always true' is hash-checked, not asserted. "
    "At 100 TB: per-shard signatures are map-side-combinable bounded "
    "state (8 bigints per doc per shard); the merge shuffles "
    "shards*|docs| tiny rows, never shingles.",
)
def b13_minhash_shard_merge(spark, sf_dir):
    from ..operators.dedup import (
        minhash_signatures_portable,
        minhash_signatures_portable_sharded,
    )

    d = load_table(spark, sf_dir, "documents")
    merged = minhash_signatures_portable_sharded(
        d, n=3, num_hashes=8, shards=2
    )
    direct = minhash_signatures_portable(d, n=3, num_hashes=8).select(
        F.col("id").alias("did"),
        *[F.col(f"h{i}").alias(f"f{i}") for i in range(8)],
    )
    eq = F.lit(True)
    for i in range(8):
        eq = eq & (F.col(f"h{i}") == F.col(f"f{i}"))
    return (
        merged.join(direct, merged["id"] == direct["did"])
        .select(
            F.col("id").alias("doc_id"),
            *[f"h{i}" for i in range(8)],
            eq.alias("matches_full"),
        )
    )


def _kmv_jaccard_matrix(sh, k=128):
    """All-pairs KMV-Jaccard matrix over a distinct (source, s) element
    relation: per-source k-minimum-values sketches, theta-rule estimate,
    exact audit columns. The engine of b13_kmv_source_similarity, split
    out (the _pmi_top20 twin rule) so tests/test_planted_signals.py can
    drive it over a CONSTRUCTED high-overlap pair — the suite corpus
    tops out at exact J = 0.057, which never exercises the estimator's
    discrimination at high Jaccard."""
    K = k
    hs = sh.select(
        "source",
        F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    ).distinct()
    rnw = Window.partitionBy("source").orderBy("h")
    # <= |sources| * k rows, consumed 3x (per-source agg + both pair sides)
    sk = (
        hs.withColumn("rn", F.row_number().over(rnw))
        .filter(F.col("rn") <= K)
        .select("source", "h")
        .localCheckpoint()
    )
    skagg = sk.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sk")
    )
    a = skagg.select(F.col("source").alias("src_a"))
    b = skagg.select(F.col("source").alias("src_b"))
    pairs = a.join(b, F.col("src_a") < F.col("src_b"))
    m0 = pairs.join(sk, sk["source"] == pairs["src_a"]).select(
        "src_a", "src_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    ).unionAll(
        pairs.join(sk, sk["source"] == pairs["src_b"]).select(
            "src_a", "src_b", "h",
            F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
        )
    )
    merged = m0.groupBy("src_a", "src_b", "h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    urw = Window.partitionBy("src_a", "src_b").orderBy("h")
    usk = (
        merged.withColumn("rn", F.row_number().over(urw))
        .filter(F.col("rn") <= K)
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_u"),
            F.sum(F.col("in_a") * F.col("in_b"))
            .cast("bigint")
            .alias("common_c"),
        )
    )
    est = F.when(
        F.col("n_u") < K,
        F.col("common_c").cast("double") / F.col("n_u"),
    ).otherwise(F.col("common_c").cast("double") / F.lit(K))
    # exact audit (the b13_source_overlap computation, test harness only).
    # r16 (guide §2.3/§2.4): the audit consumes the distinct (source, h)
    # relation `hs` — the exchange the sketch build already pays (runtime
    # ReusedExchange shares it) — instead of re-deduplicating the 5-gram
    # STRING relation and self-joining on strings. n_a/inter equal the
    # string-relation counts up to 60-bit hash collisions; the oracle
    # replays the audit from strings, so a collision at the checked SFs
    # fails loudly rather than passing silently.
    sz = hs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    sa = hs.alias("sa")
    sb = hs.alias("sb")
    inter = (
        sa.join(
            sb,
            (F.col("sa.h") == F.col("sb.h"))
            & (F.col("sa.source") < F.col("sb.source")),
        )
        .groupBy(
            F.col("sa.source").alias("i_src_a"),
            F.col("sb.source").alias("i_src_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    za = sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    zb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    n_shared = F.coalesce(F.col("inter"), F.lit(0))
    return (
        usk.join(F.broadcast(za), "src_a")
        .join(F.broadcast(zb), "src_b")
        .join(
            F.broadcast(inter),
            (F.col("src_a") == F.col("i_src_a"))
            & (F.col("src_b") == F.col("i_src_b")),
            "left",
        )
        .select(
            "src_a",
            "src_b",
            "n_u",
            "common_c",
            est.alias("est_jaccard"),
            n_shared.cast("bigint").alias("n_shared"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            (
                n_shared.cast("double")
                / (F.col("n_a") + F.col("n_b") - n_shared)
            ).alias("exact_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


@query(
    "b13_kmv_source_similarity",
    oracle="""
    WITH tok AS (
        SELECT source, string_split(text, ' ') AS tk FROM documents
    ),
    idx AS (SELECT source, tk, unnest(range(1, len(tk) - 3)) AS pos FROM tok),
    sh AS (SELECT DISTINCT source, array_to_string(tk[pos:pos+4], ' ') AS s
           FROM idx),
    hs AS (
        SELECT DISTINCT source,
               ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
        FROM sh
    ),
    rk AS (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hs
    ),
    sk AS (SELECT source, h FROM rk WHERE rn <= 128),
    skagg AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_sk FROM sk GROUP BY source
    ),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b
        FROM skagg a JOIN skagg b ON a.source < b.source
    ),
    m0 AS (
        SELECT p.src_a, p.src_b, s.h, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN sk s ON s.source = p.src_a
        UNION ALL
        SELECT p.src_a, p.src_b, s.h, 0, 1
        FROM pairs p JOIN sk s ON s.source = p.src_b
    ),
    merged AS (
        SELECT src_a, src_b, h,
               max(in_a) AS in_a, max(in_b) AS in_b
        FROM m0 GROUP BY 1, 2, 3
    ),
    urk AS (
        SELECT src_a, src_b, h, in_a, in_b,
               row_number() OVER (
                   PARTITION BY src_a, src_b ORDER BY h) AS rn
        FROM merged
    ),
    usk AS (
        SELECT src_a, src_b,
               CAST(count(*) AS BIGINT) AS n_u,
               CAST(sum(in_a * in_b) AS BIGINT) AS common_c
        FROM urk WHERE rn <= 128 GROUP BY 1, 2
    ),
    sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT u.src_a, u.src_b, u.n_u, u.common_c,
           CASE WHEN u.n_u < 128 THEN CAST(u.common_c AS DOUBLE) / u.n_u
                ELSE CAST(u.common_c AS DOUBLE) / 128 END AS est_jaccard,
           CAST(coalesce(i.inter, 0) AS BIGINT) AS n_shared,
           CAST(za.n AS BIGINT) AS n_a,
           CAST(zb.n AS BIGINT) AS n_b,
           CAST(coalesce(i.inter, 0) AS DOUBLE)
               / (za.n + zb.n - coalesce(i.inter, 0)) AS exact_jaccard
    FROM usk u
    JOIN sz za ON za.source = u.src_a
    JOIN sz zb ON zb.source = u.src_b
    LEFT JOIN inter i ON i.src_a = u.src_a AND i.src_b = u.src_b
    ORDER BY u.src_a, u.src_b
    """,
    doc="B13/B6 (r13): KMV-JACCARD SOURCE-SIMILARITY MATRIX (VERDICT r12 "
    "#6) — closes the loop the KMV family opened: b13_source_overlap "
    "answers 'how much of source A is already in source B' EXACTLY by "
    "joining every shared 5-gram shingle into pair space (fine at suite "
    "scale, corpus-sized intermediate at 100 TB); b06_kmv_intersect "
    "proved the k-minimum-values sketch intersects where HLL cannot. "
    "This entry answers the SAME curation question in constant state "
    "per source: each source's sketch is its k=128 smallest distinct "
    "60-bit md5 shingle hashes (the portable Spark conv == DuckDB "
    "('0x'||..)::BIGINT idiom; WindowGroupLimit rank-limit pushdown "
    "per the sketches._kmv_sketch_sql plan pin), every pair's union sketch is the k "
    "smallest of the min-merge, and the Jaccard estimator is the theta "
    "rule c/k over sketch-union members present in BOTH k-sets "
    "(Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07), collapsing to "
    "the EXACT c/n_u when the union fits under k (n_u < k implies "
    "neither input sketch truncated; at suite SFs every source holds "
    ">> k shingles so the ESTIMATOR branch is the one exercised here — "
    "measured max|est-exact| 0.019/0.019/0.025 at the three SFs — "
    "while the structurally identical exact branch executes in "
    "b06_kmv_intersect's sf0.001 rung). The ONLY floats are two fixed "
    "single divisions (est and the exact-audit jaccard), so the whole "
    "190-pair matrix hash-checks bit-exact. The in-query exact columns "
    "(n_shared/n_a/n_b/exact_jaccard, the b13_source_overlap "
    "computation restated verbatim — that entry's r7 driver row stays "
    "untouched per the displacement rule) are the TEST HARNESS, not "
    "the serving path: tests/test_planted_signals.py pins "
    "max|est - exact| <= 0.13 (~3 sigma of sqrt(J(1-J)/k)) at every "
    "SF, and additionally drives the extracted _kmv_jaccard_matrix "
    "over constructed element sets with planted J = 1/2, 1/3, 0 — the "
    "high-Jaccard discrimination the near-orthogonal suite corpus "
    "(max exact J 0.057) cannot exercise; at 100 TB only the sketch side runs — one shingle scan, one "
    "per-source 128-row heap, then ALL pair arithmetic on "
    "<=|sources|^2 * k rows of bounded state, mergeable across shards "
    "by min-merge exactly as b13_minhash_shard_merge executed.",
)
def b13_kmv_source_similarity(spark, sf_dir):
    toks = load_table(spark, sf_dir, "documents").select(
        "source", F.split(F.col("text"), " ").alias("tk")
    )
    positions = F.when(
        F.size("tk") >= 5, F.sequence(F.lit(1), F.size("tk") - 4)
    ).otherwise(F.array().cast("array<int>"))
    # r16 (guide §2.4 — remove shuffles outright): NO string-keyed distinct
    # here. _kmv_jaccard_matrix hashes s -> 60-bit h and distincts on
    # (source, h) itself, and distinct(source, md5(s)) over a multiset is
    # IDENTICAL to distinct(source, md5(distinct s)) — the md5 map is
    # per-row. The removed distinct was a full exchange of every
    # positional 5-gram STRING with multiplicity; what remains shuffles
    # one (source, int64) row per distinct hash.
    sh = toks.select(
        "source",
        F.explode(
            F.transform(
                positions,
                lambda i: F.array_join(F.slice(F.col("tk"), i, 5), " "),
            )
        ).alias("s"),
    )
    return _kmv_jaccard_matrix(sh)


def _incremental_dedup_oracle(num_hashes: int = 8, bands: int = 4) -> str:
    from ..functions.text import FINGERPRINT_BASE, FINGERPRINT_MOD
    from ..operators.dedup import _PORT_A, _PORT_B, MINHASH_MOD

    rows = num_hashes // bands
    mins = ",\n               ".join(
        f"min(({_PORT_A[i]} * h + {_PORT_B[i]}) % {MINHASH_MOD}) AS h{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n        UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {vs} FROM sig".format(
            b=b,
            vs=", ".join(
                f"h{b * rows + r} AS v{r}" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    on = " AND ".join(["b.band = c.band"] + [f"b.v{r} = c.v{r}" for r in range(rows)])
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id, unnest(
            list_transform(range(1, greatest(len(t) - 1, 1)),
                           i -> array_to_string(t[i:i+2], ' '))) AS s
        FROM toks
    ),
    hashed AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(s, ''),
                                      c -> CAST(ord(c) AS BIGINT))),
                   (h, c) -> (h * {FINGERPRINT_BASE} + c) % {FINGERPRINT_MOD}) AS h
        FROM sh
    ),
    sig AS (
        SELECT doc_id,
               {mins}
        FROM hashed GROUP BY doc_id
    ),
    bands AS (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
        FROM bands b JOIN bands c ON {on}
        WHERE b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
    ),
    agg AS (
        SELECT batch_id, CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(min(corpus_id) AS BIGINT) AS best_match
        FROM cand GROUP BY batch_id
    )
    SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
           CAST(COALESCE(a.n_candidates, 0) AS BIGINT) AS n_candidates,
           a.best_match,
           COALESCE(a.n_candidates, 0) > 0 AS is_dup
    FROM sig s LEFT JOIN agg a ON a.batch_id = s.doc_id
    WHERE s.doc_id % 10 = 0
    ORDER BY doc_id
    """


@query(
    "b13_incremental_ingest_dedup",
    oracle=_incremental_dedup_oracle(),
    doc="B13 (r14): INCREMENTAL-INGEST fuzzy dedup — the daily-arrival "
    "pattern for a maintained 100 TB corpus (operators/dedup.py "
    "incremental_minhash_candidates): the batch (doc_id % 10 = 0, the "
    "deterministic 'today's ingest') is MinHash-sketched and band-joined "
    "against the existing corpus' band index; corpus x corpus pairs — "
    "the quadratic bulk the full-dedup entries spend their banding and "
    "df caps on — are never formed, so ingest cost scales with |batch| "
    "(here the corpus band table is recomputed in-query for oracle "
    "determinism; production maintains it as a table, append-only "
    "because MinHash state min-merges, b13_minhash_shard_merge). Output "
    "is one row per batch doc: candidate count, best corpus match, "
    "is_dup. Portable hash family (polynomial shingle hash + affine "
    "permutations mod 1e9+7) makes sketch, band keys, join and "
    "aggregation value-checkable end-to-end — the same 4-band/2-row "
    "geometry as the production xxhash64 path. Planted pytest pins a "
    "cross-split near-dup pair (is_dup with the right best_match) and a "
    "unique batch doc (no candidates).",
)
def b13_incremental_ingest_dedup(spark, sf_dir):
    from ..operators.dedup import incremental_minhash_candidates

    d = load_table(spark, sf_dir, "documents")
    return incremental_minhash_candidates(
        d, lambda c: (c % 10) == 0, n=3, num_hashes=8, bands=4
    )


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
    e = load_table(spark, sf_dir, "events")
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
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(composite_key("ts", "user_id").alias("date_key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


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
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, n=3, threshold=0.5, df_cap=50)


@query(
    "b13_minhash_lsh",
    oracle=None,  # murmur3-seeded signatures are engine-specific; recall vs
    # exact jaccard asserted in tests/test_llm_ops.py
    doc="B13: MinHash(16) + LSH(4 bands) candidate pairs with estimated "
    "Jaccard — the sub-quadratic fuzzy-dedup path for 100 TB corpora.",
)
def b13_minhash_lsh(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=16, n=3)
    return minhash_lsh_pairs(sigs, bands=4, est_threshold=0.5)


@query(
    "b13_simhash",
    oracle=None,  # xxhash64 fingerprints are engine-specific
    doc="B13: 64-bit SimHash fingerprints + hamming-banded near-pairs "
    "(pigeonhole over 4×16-bit chunks).",
)
def b13_simhash(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    fps = simhash64(d)
    return simhash_near_pairs(fps, max_hamming=3, bands=4)


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

    d = load_table(spark, sf_dir, "documents")
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

    d = load_table(spark, sf_dir, "documents")
    # r3: exact-dup pre-collapse before the pair/CC machinery — provably
    # identical output (the oracle is unchanged), quadratically less CC
    # work on duplication-heavy corpora. See fuzzy_dedup_survivors.
    return fuzzy_dedup_survivors(d, n=3, threshold=0.5).select("doc_id", "lang")
