"""B14 vector search: sign-LSH near-dup blocking, embedding dedup
survivors, product quantization (PQ, ADC, IVF-PQ), k-NN accuracy, MIPS
and reciprocal-rank fusion of lexical and vector rankings.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.vectors import array_lit_d
from ..operators.similarity import _pseudo_planes, neardup_pairs_cosine
from .base import query


_DIM = 64  # embeddings.embedding width (TESTDATA.md)
_PLANES = _pseudo_planes(_DIM, 8, seed=42)


def _sql_dot_literal(vec_expr: str, plane: list[float]) -> str:
    """DuckDB fold of vec · plane-literal, accumulation order identical to
    functions/vectors.py dot_product (sequential left fold of per-index
    products, double arithmetic)."""
    from ._sqlgen import sql_double_literal

    lits = "[" + ", ".join(sql_double_literal(x) for x in plane) + "]"
    return f"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(range(1, {_DIM} + 1),
            i -> CAST({vec_expr}[i] AS DOUBLE) * CAST(({lits})[i] AS DOUBLE))),
        (x, y) -> x + y)"""


def _sql_signature(vec_expr: str) -> str:
    """8-bit sign-LSH signature, mirroring operators/similarity.py
    sign_lsh_signature: bit h = [vec · plane_h >= 0]."""
    terms = [
        f"(CASE WHEN {_sql_dot_literal(vec_expr, p)} >= 0 THEN {1 << h} ELSE 0 END)"
        for h, p in enumerate(_PLANES)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "b14_embedding_neardup_lsh",
    oracle=f"""
    WITH base AS (
        SELECT vec_id,
               {_sql_signature("embedding")} AS sig,
               embedding,
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                   (a, b) -> a + b)) AS nrm
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, {_DIM} + 1),
                              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
               (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
    FROM base a JOIN base b ON a.sig = b.sig AND a.vec_id < b.vec_id
    WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, {_DIM} + 1),
                              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
               (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.2
    """,
    doc="B14 (scale path): embedding near-dup pairs blocked by the 8-bit "
    "sign-LSH signature instead of a low-cardinality attribute — expected "
    "block size |corpus|/2^8, so no block is ever a corpus fraction "
    "(VERDICT r1 item 5). Recall vs the single-block ground truth asserted "
    "in tests/test_llm_ops.py; here the oracle replays the identical "
    "signature arithmetic (plane literals embedded) for a value-checked row.",
)
def b14_embedding_neardup_lsh(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return neardup_pairs_cosine(
        e, None, threshold=0.2, num_planes=8, dim=_DIM, seed=42
    )


def _emb_pairs_cte() -> str:
    """Shared CTE prefix replaying the sign-LSH blocked cosine pairs of
    b14_embedding_neardup_lsh (identical plane literals and fold order) and
    closing them transitively — the oracle-side twin of
    neardup_pairs_cosine + connected_components."""
    cos = """list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, {dim} + 1),
                              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
               (x, y) -> x + y) / (a.nrm * b.nrm)""".format(dim=_DIM)
    return f"""
    base AS (
        SELECT vec_id,
               {_sql_signature("embedding")} AS sig,
               embedding,
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                   (a, b) -> a + b)) AS nrm
        FROM embeddings
    ),
    epairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM base a JOIN base b ON a.sig = b.sig AND a.vec_id < b.vec_id
        WHERE {cos} >= 0.2
    ),
    eedges AS (SELECT id_a AS a, id_b AS b FROM epairs
               UNION ALL SELECT id_b, id_a FROM epairs),
    ereach AS (
        SELECT a AS id, a AS r FROM eedges
        UNION
        SELECT ereach.id, e.b FROM ereach JOIN eedges e ON ereach.r = e.a
    )
    """


@query(
    "b14_embedding_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_emb_pairs_cte()},
    ecomp AS (SELECT id, min(r) AS comp FROM ereach GROUP BY id)
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT id FROM ecomp WHERE id != comp)
    """,
    doc="B14 (LLM pipeline END PRODUCT for embeddings): sign-LSH blocked "
    "cosine pairs -> connected components -> one survivor (min vec_id) per "
    "near-dup cluster plus every unpaired vector. Completes the embedding "
    "dedup path the same way b13_dedup_survivors completes the text path: "
    "pairwise evidence alone doesn't dedup a corpus — A~B~C must collapse "
    "together. Blocked pairing (never |corpus|^2), distributed min-label "
    "propagation, shuffled anti-join (AQE broadcasts iff losers are small). "
    "Oracle replays plane arithmetic + recursive-CTE transitive closure.",
)
def b14_embedding_dedup_survivors(spark, sf_dir):
    from ..operators.dedup import connected_components

    e = load_table(spark, sf_dir, "embeddings")
    pairs = neardup_pairs_cosine(
        e, None, threshold=0.2, num_planes=8, dim=_DIM, seed=42
    )
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias("vec_id")
    )
    return e.select("vec_id", "label").join(losers, "vec_id", "left_anti")


def _ann_recall_oracle() -> str:
    from ..operators.similarity import _pseudo_planes
    from ._sqlgen import sql_dot, sql_norm, sql_signature

    planes = _pseudo_planes(64, 8, seed=42)
    return f"""
    WITH base AS (
        SELECT vec_id, embedding,
               {sql_signature("embedding", planes)} AS sig,
               {sql_norm("embedding")} AS nrm
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS qid, embedding AS qv, sig AS qsig, nrm AS qnrm
        FROM base WHERE vec_id % 101 = 0
    ),
    pairs AS (
        SELECT q.qid, c.vec_id AS cid, c.sig = q.qsig AS in_bucket,
               {sql_dot("c.embedding", "q.qv")} / (q.qnrm * c.nrm) AS cosine
        FROM base c, q WHERE c.vec_id != q.qid
    ),
    ranked AS (
        SELECT qid, in_bucket,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS exact_rn,
               row_number() OVER (
                   PARTITION BY qid, in_bucket
                   ORDER BY cosine DESC, cid ASC) AS bucket_rn
        FROM pairs
    )
    SELECT qid,
           count(*) FILTER (WHERE exact_rn <= 10) AS n_exact,
           count(*) FILTER (WHERE in_bucket AND bucket_rn <= 10) AS n_ann,
           count(*) FILTER (WHERE exact_rn <= 10 AND in_bucket
                              AND bucket_rn <= 10) AS n_hit,
           count(*) FILTER (WHERE exact_rn <= 10 AND in_bucket
                              AND bucket_rn <= 10) / 10.0 AS recall_at_10
    FROM ranked GROUP BY qid
    """


@query(
    "b14_ann_recall_report",
    oracle=_ann_recall_oracle(),
    doc="B14 (r7): ANN quality evaluation as a first-class DISTRIBUTED op — "
    "recall@10 of the sign-LSH bucket search against exact brute force, "
    "per query point, in ONE pass: the query set (vec_id % 101, a few "
    "rows) is broadcast against the corpus once (corpus x tiny query set, "
    "NOT corpus x corpus), both the ground-truth and the in-bucket "
    "rankings ride the same qid shuffle as two window functions with "
    "deterministic (cosine DESC, id) tie-breaks, and a single aggregation "
    "folds n_exact / n_ann / overlap. This is the eval loop a 100 TB "
    "embedding pipeline runs on a SAMPLED query set to tune planes/nprobe "
    "before committing an index sweep (tools/ann_ladder.py measures the "
    "cost side; this entry makes the QUALITY side a driver-checked "
    "query). Hyperplanes are seeded plan-time literals, so the oracle "
    "replays signature + cosine arithmetic bit-exactly (the b14_ann_lsh "
    "contract, extended to the recall computation). Honest finding the "
    "entry itself surfaces: on this ISOTROPIC synthetic corpus recall@10 "
    "is 0-0.2 — random 64-d vectors have no cluster structure, so "
    "top-10-of-2000 neighbors rarely share an 8-bit sign cone. That is "
    "the correct verdict for this index/data pair, and exactly why the "
    "production near-dup path (b14_embedding_neardup) uses sign-LSH only "
    "for HIGH-cosine pairs, where signature agreement is near-certain.",
)
def b14_ann_recall_report(spark, sf_dir):
    from ..functions.vectors import dot_product, l2_norm
    from ..operators.similarity import _pseudo_planes, sign_lsh_signature

    planes = _pseudo_planes(64, 8, seed=42)
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        "embedding",
        sign_lsh_signature("embedding", planes).alias("sig"),
        l2_norm("embedding").alias("nrm"),
    )
    q = base.filter(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("sig").alias("qsig"),
        F.col("nrm").alias("qnrm"),
    )
    c = base.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        "sig",
        F.col("nrm").alias("cnrm"),
    )
    # ONE broadcast pass builds every (query, candidate) cosine + bucket
    # flag; both rankings ride the SAME qid shuffle (two windows, one
    # exchange); one aggregation folds the three counts. No recomputation.
    pairs = (
        c.join(F.broadcast(q), F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            (F.col("sig") == F.col("qsig")).alias("in_bucket"),
            (dot_product("cv", "qv") / (F.col("qnrm") * F.col("cnrm"))).alias(
                "cosine"
            ),
        )
    )
    w_exact = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("cid").asc()
    )
    w_bucket = Window.partitionBy("qid", "in_bucket").orderBy(
        F.col("cosine").desc(), F.col("cid").asc()
    )
    ranked = pairs.select(
        "qid",
        "in_bucket",
        F.row_number().over(w_exact).alias("exact_rn"),
        F.row_number().over(w_bucket).alias("bucket_rn"),
    )
    in_exact = F.col("exact_rn") <= 10
    in_ann = F.col("in_bucket") & (F.col("bucket_rn") <= 10)
    n_hit = F.count(F.when(in_exact & in_ann, 1))
    return ranked.groupBy("qid").agg(
        F.count(F.when(in_exact, 1)).alias("n_exact"),
        F.count(F.when(in_ann, 1)).alias("n_ann"),
        n_hit.alias("n_hit"),
        (n_hit / F.lit(10.0)).alias("recall_at_10"),
    )


def _pq_oracle(m: int = 8, k: int = 8, dim: int = 64, src: str = "embeddings") -> str:
    from ..operators.similarity import pq_codebooks
    from ._sqlgen import sql_double_literal as _dl

    books = pq_codebooks(dim, m, k, seed=100)
    sub = dim // m
    cols = []
    for s, book in enumerate(books):
        dists = []
        for cent in book:
            terms = " + ".join(
                f"((CAST(embedding[{s * sub + i + 1}] AS DOUBLE)"
                f" - {_dl(cent[i])})"
                f" * (CAST(embedding[{s * sub + i + 1}] AS DOUBLE)"
                f" - {_dl(cent[i])}))"
                for i in range(sub)
            )
            dists.append(f"({terms})")
        arr = "[" + ", ".join(dists) + "]"
        cols.append(
            f"CAST(list_position({arr}, list_min({arr})) - 1 AS BIGINT) AS c{s}"
        )
    sel = ",\n           ".join(cols)
    return f"SELECT vec_id,\n           {sel}\n    FROM {src}"


@query(
    "b14_pq_codes",
    oracle=_pq_oracle(),
    doc="B14 (r7): product-quantization encode (Jegou et al.; the FAISS "
    "IVF+PQ workhorse) — each 64-dim embedding splits into 8 subvectors, "
    "each assigned to its nearest of 8 codebook centroids by squared L2, "
    "compressing 256 float bytes to 8 x 3 bits: the representation that "
    "makes billion-scale ANN RAM-resident, with asymmetric distances "
    "computed from tiny per-query lookup tables at search time. Codebooks "
    "are seeded plan-time literals (per-subspace, the IVF-centroid "
    "contract; production swaps in per-subspace k-means with the same "
    "dataflow), all distance arithmetic is JVM literal expressions inside "
    "whole-stage codegen with left-to-right summation, and argmin is "
    "first-minimum via array_position — so the DuckDB oracle replays "
    "every distance and every code bit-for-bit. Map-only, zero shuffles "
    "at any scale; plan-asserted.",
)
def b14_pq_codes(spark, sf_dir):
    from ..operators.similarity import pq_codes

    return pq_codes(load_table(spark, sf_dir, "embeddings"))


def _pq_adc_luts(qv, m: int = 8, k: int = 8, dim: int = 64):
    """Per-subspace ADC lookup tables for a literal query vector: lut[s][c] =
    squared L2 between the query's s-th subvector and centroid c — plain
    driver-side Python over the plan-time literals, left-to-right summation
    (the shared-formula contract: the SQL oracle embeds the SAME floats)."""
    from ..operators.similarity import pq_codebooks

    books = pq_codebooks(dim, m, k, seed=100)
    sub = dim // m
    luts = []
    for s, book in enumerate(books):
        row = []
        for cent in book:
            total = 0.0
            for i in range(sub):
                x = float(qv[s * sub + i]) - cent[i]
                total = total + x * x
            row.append(total)
        luts.append(row)
    return luts


def _pq_adc_oracle(m: int = 8, k: int = 8, dim: int = 64) -> str:
    codes_sql = _pq_oracle(m, k, dim)
    # LUTs depend on the query vector — resolved per-sf inside the oracle by
    # joining against the vec_id=0 row is impossible for literal tables, so
    # the oracle recomputes lut entries inline from the SAME centroid
    # literals and the query's embedding via a CTE.
    from ..operators.similarity import pq_codebooks
    from ._sqlgen import sql_double_literal as _dl

    books = pq_codebooks(dim, m, k, seed=100)
    sub = dim // m
    terms = []
    for s, book in enumerate(books):
        dists = []
        for cent in book:
            e = " + ".join(
                f"((CAST(q.qv[{s * sub + i + 1}] AS DOUBLE)"
                f" - {_dl(cent[i])})"
                f" * (CAST(q.qv[{s * sub + i + 1}] AS DOUBLE)"
                f" - {_dl(cent[i])}))"
                for i in range(sub)
            )
            dists.append(f"({e})")
        terms.append(f"([{', '.join(dists)}])[c.c{s} + 1]")
    adc = " + ".join(terms)
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    codes AS ({codes_sql})
    SELECT c.vec_id, {adc} AS adc_dist
    FROM codes c, q
    WHERE c.vec_id != 0
    ORDER BY adc_dist ASC, c.vec_id ASC
    LIMIT 10
    """


@query(
    "b14_pq_adc_topk",
    oracle=_pq_adc_oracle(),
    doc="B14 (r7): asymmetric-distance (ADC) top-k over the PQ codes — the "
    "search half of IVF+PQ: the query builds m tiny lookup tables (k "
    "squared-L2 entries per subspace, 64 floats total) ONCE, and each "
    "candidate's approximate distance is m table lookups + adds instead "
    "of a 64-dim float scan — the arithmetic that lets one core scan "
    "billions of codes. The LUTs are computed driver-side from the "
    "literal codebooks and the vec_id=0 query vector (same few-scalars "
    "model-state category as the IVF centroid means) and enter the plan "
    "as array literals indexed by the code columns — all JVM element_at "
    "+ adds in whole-stage codegen, ranked by TakeOrderedAndProject with "
    "a vec_id tie-break. The oracle recomputes the SAME lut floats "
    "inline from the shared centroid literals, so distances hash-match "
    "bit-for-bit. Map-only + top-k heap: zero full shuffles.",
)
def b14_pq_adc_topk(spark, sf_dir):
    from ..operators.similarity import pq_codes

    emb = load_table(spark, sf_dir, "embeddings")
    qv = (
        emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    )
    luts = _pq_adc_luts(qv)
    codes = pq_codes(emb).filter(F.col("vec_id") != 0)
    adc = None
    for s, lut in enumerate(luts):
        term = F.element_at(
            array_lit_d(lut),
            (F.col(f"c{s}") + 1).cast("int"),
        )
        adc = term if adc is None else adc + term
    return (
        codes.select("vec_id", adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )


def _adc_terms(m: int = 8, k: int = 8, dim: int = 64) -> str:
    """ADC distance as SQL over code columns c0..c{m-1} and the q CTE's qv —
    the shared-formula twin of _pq_adc_luts, inlined per centroid."""
    from ..operators.similarity import pq_codebooks
    from ._sqlgen import sql_double_literal as _dl

    books = pq_codebooks(dim, m, k, seed=100)
    sub = dim // m
    terms = []
    for s, book in enumerate(books):
        dists = []
        for cent in book:
            e = " + ".join(
                f"((CAST(q.qv[{s * sub + i + 1}] AS DOUBLE)"
                f" - {_dl(cent[i])})"
                f" * (CAST(q.qv[{s * sub + i + 1}] AS DOUBLE)"
                f" - {_dl(cent[i])}))"
                for i in range(sub)
            )
            dists.append(f"({e})")
        terms.append(f"([{', '.join(dists)}])[c.c{s} + 1]")
    return " + ".join(terms)


def _ivfpq_oracle() -> str:
    from ..operators.similarity import _pseudo_centroids
    from ._sqlgen import sql_centroid_values, sql_cosine

    cents = _pseudo_centroids(64, 16, seed=7)
    codes_sql = _pq_oracle(src="cand")
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    probe AS (
        SELECT cell FROM (
            SELECT cents.cell,
                   row_number() OVER (
                       ORDER BY {sql_cosine("cents.c", "q.qv")} DESC,
                                cents.cell ASC) AS rn
            FROM {sql_centroid_values(cents)}, q
        ) WHERE rn <= 4
    ),
    cand AS (
        SELECT vec_id, embedding FROM (
            SELECT e.vec_id, e.embedding, cents.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {sql_cosine("e.embedding", "cents.c")} DESC,
                                cents.cell DESC) AS rn
            FROM embeddings e, {sql_centroid_values(cents)}
        ) WHERE rn = 1 AND cell IN (SELECT cell FROM probe)
          AND vec_id != 0
    ),
    codes AS ({codes_sql})
    SELECT c.vec_id, {_adc_terms()} AS adc_dist
    FROM codes c, q
    ORDER BY adc_dist ASC, c.vec_id ASC
    LIMIT 10
    """


@query(
    "b14_ivfpq_topk",
    oracle=_ivfpq_oracle(),
    doc="B14 (r7): the full FAISS-style IVF+PQ search, end to end — coarse "
    "quantizer prunes the corpus to the query's 4 nearest of 16 inverted "
    "lists (~4/16 scanned, the b14_ann_ivf machinery), then candidates "
    "are ranked by PQ asymmetric distance (8 lookup-table adds per "
    "candidate, the b14_pq_adc_topk machinery) instead of a 64-float "
    "exact scan: at billion scale the probed lists are read as compact "
    "3-byte codes from cell-partitioned storage and never touch the raw "
    "vectors, which is THE standard production ANN architecture. Both "
    "quantizers are seeded plan-time literals, every distance and argmin "
    "is shared-formula replayed (probe ties -> lower cell, assignment "
    "ties -> higher cell, ADC ranked with a vec_id tie-break), so the "
    "composed pipeline stays fully value-checked. Map-side assignment + "
    "cell filter + TakeOrdered heap: the only wide op is the final "
    "k-row merge.",
)
def b14_ivfpq_topk(spark, sf_dir):
    from ..operators.similarity import (
        _pseudo_centroids,
        ivf_assignments,
        pq_codes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    centroids = _pseudo_centroids(64, 16, seed=7)

    def _cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return dot / (na * nb) if na and nb else 0.0

    probe = sorted(range(16), key=lambda i: -_cos(qv, centroids[i]))[:4]
    cand = (
        ivf_assignments(emb, centroids)
        .filter(F.col("cell").isin(probe) & (F.col("vec_id") != 0))
        .select("vec_id", "embedding")
    )
    codes = pq_codes(cand)
    luts = _pq_adc_luts(qv)
    adc = None
    for s, lut in enumerate(luts):
        term = F.element_at(
            array_lit_d(lut),
            (F.col(f"c{s}") + 1).cast("int"),
        )
        adc = term if adc is None else adc + term
    return (
        codes.select("vec_id", adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )


def _ivf_recall_clustered_oracle() -> str:
    from ..operators.similarity import _pseudo_centroids
    from ._sqlgen import (
        sql_centroid_values,
        sql_cosine,
        sql_dot,
        sql_norm,
        sql_vec_literal,
    )

    cents = _pseudo_centroids(64, 8, seed=21)
    nested = "[" + ", ".join(sql_vec_literal(c) for c in cents) + "]"
    cvec = f"""list_transform(range(1, 65),
        i -> CAST(embedding[i] AS DOUBLE) * 0.25e0
             + ({nested})[(vec_id % 8) + 1][i])"""
    return f"""
    WITH base AS (
        SELECT vec_id, {cvec} AS cvec FROM embeddings
    ),
    assigned AS (
        SELECT vec_id, cvec, cell FROM (
            SELECT b.vec_id, b.cvec, cents.cell,
                   row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY {sql_cosine("b.cvec", "cents.c")} DESC,
                                cents.cell DESC) AS rn
            FROM base b, {sql_centroid_values(cents)}
        ) WHERE rn = 1
    ),
    q AS (
        SELECT vec_id AS qid, cvec AS qv, cell AS qcell,
               {sql_norm("cvec")} AS qnrm
        FROM assigned WHERE vec_id % 101 = 0
    ),
    pairs AS (
        SELECT q.qid, c.vec_id AS cid, c.cell = q.qcell AS in_probe,
               {sql_dot("c.cvec", "q.qv")} / (q.qnrm * {sql_norm("c.cvec")})
                   AS cosine
        FROM assigned c, q WHERE c.vec_id != q.qid
    ),
    ranked AS (
        SELECT qid, in_probe,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS exact_rn,
               row_number() OVER (
                   PARTITION BY qid, in_probe
                   ORDER BY cosine DESC, cid ASC) AS probe_rn
        FROM pairs
    )
    SELECT qid,
           count(*) FILTER (WHERE exact_rn <= 10) AS n_exact,
           count(*) FILTER (WHERE in_probe AND probe_rn <= 10) AS n_ann,
           count(*) FILTER (WHERE exact_rn <= 10 AND in_probe
                              AND probe_rn <= 10) AS n_hit,
           count(*) FILTER (WHERE exact_rn <= 10 AND in_probe
                              AND probe_rn <= 10) / 10.0 AS recall_at_10
    FROM ranked GROUP BY qid
    """


@query(
    "b14_ivf_recall_clustered",
    oracle=_ivf_recall_clustered_oracle(),
    doc="B14 (r8): the POSITIVE recall demonstration the r7 report could "
    "not give — b14_ann_recall_report honestly measured recall ~0 on the "
    "isotropic synthetic corpus and explained that the number is a "
    "property of the data geometry, not the index. This entry closes "
    "that caveat with a demonstration: the corpus is made CLUSTERED in "
    "closed form (cvec = 0.25*embedding + center[vec_id % 8], 8 well-"
    "separated seeded centers, pairwise center cosine <= 0.63 while "
    "within-cluster cosine is ~0.99), the IVF coarse quantizer is the "
    "matching 8-centroid index (ivf_assignments, max-cosine cell, ties "
    "to the higher cell), and the query probes nprobe=1 — its own cell. "
    "Ground-truth top-10 and in-probe top-10 ride the same qid shuffle "
    "as two window rankings off ONE broadcast corpus-x-queries pass "
    "(the b14_ann_recall_report machinery verbatim), and recall@10 "
    "comes out ~1.0: when embeddings have neighbor structure and the "
    "quantizer matches it, scanning 1/8th of the corpus loses nothing — "
    "tests/test_llm_ops.py pins mean recall >= 0.9. Every float (cvec "
    "construction, assignment argmax, cosines, rankings) is shared-"
    "formula replayed by the oracle, so the recall numbers themselves "
    "are hash-checked. At 100 TB the corpus is written partitioned by "
    "cell and a query scans only its probed cells' files.",
)
def b14_ivf_recall_clustered(spark, sf_dir):
    from ..functions.vectors import dot_product, l2_norm
    from ..operators.similarity import _pseudo_centroids, ivf_assignments

    cents = _pseudo_centroids(64, 8, seed=21)
    cents_lit = F.array(*[array_lit_d(c) for c in cents])
    emb = load_table(spark, sf_dir, "embeddings")
    center = F.element_at(cents_lit, ((F.col("vec_id") % 8) + 1).cast("int"))
    cvec = F.zip_with(
        F.col("embedding"),
        center,
        lambda a, b: a.cast("double") * F.lit(0.25) + b,
    )
    clustered = emb.select("vec_id", cvec.alias("cvec"))
    assigned = ivf_assignments(clustered, cents, id_col="vec_id", vec_col="cvec")
    base = assigned.select(
        "vec_id", "cvec", "cell", l2_norm("cvec").alias("nrm")
    )
    q = base.filter(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("cvec").alias("qv"),
        F.col("cell").alias("qcell"),
        F.col("nrm").alias("qnrm"),
    )
    c = base.select(
        F.col("vec_id").alias("cid"),
        F.col("cvec").alias("cv"),
        "cell",
        F.col("nrm").alias("cnrm"),
    )
    pairs = c.join(F.broadcast(q), F.col("cid") != F.col("qid")).select(
        "qid",
        "cid",
        (F.col("cell") == F.col("qcell")).alias("in_probe"),
        (dot_product("cv", "qv") / (F.col("qnrm") * F.col("cnrm"))).alias(
            "cosine"
        ),
    )
    w_exact = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("cid").asc()
    )
    w_probe = Window.partitionBy("qid", "in_probe").orderBy(
        F.col("cosine").desc(), F.col("cid").asc()
    )
    ranked = pairs.select(
        "qid",
        "in_probe",
        F.row_number().over(w_exact).alias("exact_rn"),
        F.row_number().over(w_probe).alias("probe_rn"),
    )
    in_exact = F.col("exact_rn") <= 10
    in_ann = F.col("in_probe") & (F.col("probe_rn") <= 10)
    n_hit = F.count(F.when(in_exact & in_ann, 1))
    return ranked.groupBy("qid").agg(
        F.count(F.when(in_exact, 1)).alias("n_exact"),
        F.count(F.when(in_ann, 1)).alias("n_ann"),
        n_hit.alias("n_hit"),
        (n_hit / F.lit(10.0)).alias("recall_at_10"),
    )


@query(
    "b14_knn_accuracy",
    oracle="""
    WITH base AS (
        SELECT vec_id, label, embedding,
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(embedding,
                                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                   (a, b) -> a + b)) AS nrm
        FROM embeddings
    ),
    q AS (SELECT * FROM base WHERE vec_id % 13 = 0),
    pairs AS (
        SELECT q.vec_id AS qid, q.label AS qlabel,
               c.vec_id AS cid, c.label AS clabel,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, len(q.embedding) + 1),
                       i -> CAST(q.embedding[i] AS DOUBLE)
                            * CAST(c.embedding[i] AS DOUBLE))),
                   (a, b) -> a + b) / (q.nrm * c.nrm) AS cosine
        FROM q JOIN base c ON c.vec_id != q.vec_id
    ),
    ranked AS (
        SELECT qid, qlabel, clabel,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, cid ASC) AS rn
        FROM pairs
    ),
    votes AS (
        SELECT qid, qlabel, clabel, count(*) AS cnt
        FROM ranked WHERE rn <= 10 GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT qid, qlabel, clabel AS plabel
        FROM (
            SELECT qid, qlabel, clabel, row_number() OVER (
                PARTITION BY qid ORDER BY cnt DESC, clabel ASC) AS vr
            FROM votes
        ) WHERE vr = 1
    )
    SELECT qlabel AS label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(count(CASE WHEN plabel = qlabel THEN 1 END) AS BIGINT)
               AS n_correct,
           CAST(count(CASE WHEN plabel = qlabel THEN 1 END) AS DOUBLE)
               / count(*) AS accuracy
    FROM pred GROUP BY qlabel
    """,
    doc="B14 (r9): k-NN CLASSIFICATION ACCURACY — the end-use EVAL that "
    "closes the vector family's loop: b14_topk_cosine retrieves, "
    "b14_ann_recall_report scores retrieval against itself, this "
    "scores retrieval against GROUND TRUTH (the embeddings table's "
    "label column): per class, how often does a 10-NN majority vote "
    "over exact cosine predict a held-out vector's label — the "
    "embedding-quality number a training pipeline actually gates on. "
    "Every stage is the suite's deterministic form: the explicit "
    "sequential double fold for cosine (the list_reduce order both "
    "engines share — built-in cosine kernels accumulate differently), "
    "(cosine DESC, cid ASC) rank tie-break, majority vote broken by "
    "(count DESC, label ASC), ONE division for the accuracy. The "
    "query sample (vec_id % 13 = 0, ~8%) broadcasts once and the "
    "corpus streams past it — one pass, no all-pairs (the "
    "b14_ann_recall_report plan shape); both windows ride one qid "
    "exchange. At 100 TB the exact scorer is the calibration twin "
    "run on a sample next to the IVF/PQ serving path (b14_ivfpq_topk) "
    "— same contract, sampled cost. Honest read of the number itself: "
    "this near-isotropic synthetic corpus yields ~13% vs the 10% "
    "10-class chance floor (the same caveat b14_ivf_recall_clustered "
    "closes for recall) — the entry's value is the verified EVAL "
    "MACHINERY; the clustered-corpus variant would show the signal.",
)
def b14_knn_accuracy(spark, sf_dir):
    from pyspark.sql import Window

    from ..functions.vectors import dot_product, l2_norm

    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", l2_norm("embedding").alias("nrm")
    )
    q = base.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = base.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "qlabel",
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        (dot_product("qv", "embedding") / (F.col("qnrm") * F.col("nrm"))).alias(
            "cosine"
        ),
    )
    w_rank = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("cid").asc()
    )
    votes = (
        pairs.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 10)
        .groupBy("qid", "qlabel", "clabel")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_vote = Window.partitionBy("qid").orderBy(
        F.col("cnt").desc(), F.col("clabel").asc()
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(w_vote))
        .filter(F.col("vr") == 1)
        .select("qid", "qlabel", F.col("clabel").alias("plabel"))
    )
    correct = F.count(F.when(F.col("plabel") == F.col("qlabel"), 1))
    return pred.groupBy(F.col("qlabel").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        correct.cast("bigint").alias("n_correct"),
        (correct.cast("double") / F.count(F.lit(1))).alias("accuracy"),
    )


def _knn_accuracy_clustered_oracle() -> str:
    from ..operators.similarity import _pseudo_centroids
    from ._sqlgen import sql_dot, sql_norm, sql_vec_literal

    cents = _pseudo_centroids(64, 10, seed=33)
    nested = "[" + ", ".join(sql_vec_literal(c) for c in cents) + "]"
    cvec = f"""list_transform(range(1, 65),
        i -> CAST(embedding[i] AS DOUBLE) * 0.25e0
             + ({nested})[label + 1][i])"""
    return f"""
    WITH base AS (
        SELECT vec_id, label, {cvec} AS cvec FROM embeddings
    ),
    nb AS (
        SELECT vec_id, label, cvec, {sql_norm("cvec")} AS nrm FROM base
    ),
    q AS (SELECT * FROM nb WHERE vec_id % 13 = 0),
    pairs AS (
        SELECT q.vec_id AS qid, q.label AS qlabel,
               c.vec_id AS cid, c.label AS clabel,
               {sql_dot("q.cvec", "c.cvec")} / (q.nrm * c.nrm) AS cosine
        FROM q JOIN nb c ON c.vec_id != q.vec_id
    ),
    ranked AS (
        SELECT qid, qlabel, clabel,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, cid ASC) AS rn
        FROM pairs
    ),
    votes AS (
        SELECT qid, qlabel, clabel, count(*) AS cnt
        FROM ranked WHERE rn <= 10 GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT qid, qlabel, clabel AS plabel
        FROM (
            SELECT qid, qlabel, clabel, row_number() OVER (
                PARTITION BY qid ORDER BY cnt DESC, clabel ASC) AS vr
            FROM votes
        ) WHERE vr = 1
    )
    SELECT qlabel AS label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(count(CASE WHEN plabel = qlabel THEN 1 END) AS BIGINT)
               AS n_correct,
           CAST(count(CASE WHEN plabel = qlabel THEN 1 END) AS DOUBLE)
               / count(*) AS accuracy
    FROM pred GROUP BY qlabel
    """


@query(
    "b14_knn_accuracy_clustered",
    oracle=_knn_accuracy_clustered_oracle(),
    doc="B14 (r10): the SIGNAL-BEARING twin of b14_knn_accuracy (VERDICT "
    "r9 #3) — the same 10-NN majority-vote ground-truth eval, run on a "
    "corpus whose geometry actually ENCODES the labels: cvec = "
    "0.25*embedding + center[label], 10 well-separated seeded centers "
    "(the b14_ivf_recall_clustered mixture construction keyed by LABEL "
    "instead of vec_id), so nearest neighbors are overwhelmingly "
    "same-label and the vote recovers the class — "
    "tests/test_llm_ops.py pins overall accuracy >= 0.9, turning the "
    "parent entry's honest '~13% on isotropic data' caveat into a "
    "demonstration, exactly as b15_pmi_planted did for PMI. Machinery "
    "is the parent's verbatim: ~8% query sample (vec_id % 13) "
    "broadcast once, corpus streams past, explicit sequential double "
    "fold for cosine, (cosine DESC, cid ASC) rank and (cnt DESC, "
    "label ASC) vote tiebreaks, one division per accuracy at the "
    "edge; every float is shared-formula replayed by the oracle so "
    "the accuracy numbers themselves are hash-checked. At 100 TB this "
    "pair is the eval harness contract: run BOTH twins — the "
    "isotropic one calibrates the chance floor, the clustered one "
    "proves the harness detects real structure when present.",
)
def b14_knn_accuracy_clustered(spark, sf_dir):
    from pyspark.sql import Window

    from ..functions.vectors import dot_product, l2_norm
    from ..operators.similarity import _pseudo_centroids

    cents = _pseudo_centroids(64, 10, seed=33)
    cents_lit = F.array(*[array_lit_d(c) for c in cents])
    emb = load_table(spark, sf_dir, "embeddings")
    center = F.element_at(cents_lit, (F.col("label") + 1).cast("int"))
    cvec = F.zip_with(
        F.col("embedding"),
        center,
        lambda a, b: a.cast("double") * F.lit(0.25) + b,
    )
    base = emb.select("vec_id", "label", cvec.alias("cvec")).select(
        "vec_id", "label", "cvec", l2_norm("cvec").alias("nrm")
    )
    q = base.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("cvec").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = base.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "qlabel",
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        (dot_product("qv", "cvec") / (F.col("qnrm") * F.col("nrm"))).alias(
            "cosine"
        ),
    )
    w_rank = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("cid").asc()
    )
    votes = (
        pairs.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 10)
        .groupBy("qid", "qlabel", "clabel")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_vote = Window.partitionBy("qid").orderBy(
        F.col("cnt").desc(), F.col("clabel").asc()
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(w_vote))
        .filter(F.col("vr") == 1)
        .select("qid", "qlabel", F.col("clabel").alias("plabel"))
    )
    correct = F.count(F.when(F.col("plabel") == F.col("qlabel"), 1))
    return pred.groupBy(F.col("qlabel").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        correct.cast("bigint").alias("n_correct"),
        (correct.cast("double") / F.count(F.lit(1))).alias("accuracy"),
    )


# DuckDB twin of the exact double cosine fold (accumulation order identical
# to functions/vectors.py dot_product) — same text as llm_pipeline's
# _SQL_COSINE_FOLD, restated here because suite modules do not import each
# other's private SQL fragments across registration boundaries.
_RRF_COSINE_FOLD = """
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


def _rrf_bm25_scores(spark, d, weights, view="__r16_rrf_docs"):
    """(doc_id, score_milli): the exact-rational BM25 scorer shared by
    b14_rrf_hybrid (raw corpus, corpus query terms) and
    b14_rrf_fusion_gain (planted corpus, novel zq_ query terms) — k1=6/5,
    b=3/4 folded to the all-integer saturation quotient, computed in
    DECIMAL(38,0) per the ADVICE r12 contract (DuckDB replays it with
    HUGEINT //). ``d`` needs (doc_id, text); ``weights`` is the
    term -> idf-milli dictionary.

    r16 (the Py4J law applied to multi-relation dataflows): the whole
    scorer is ONE spark.sql call over a temp view — the Column-API chain
    cost ~340 bridge commands plus one JVM analysis per intermediate
    Dataset (~0.3 s warm per build); the SQL text is analyzed once. The
    weights relation is an inline VALUES table (the 3-row createDataFrame
    alone was ~35 commands + an RDD). Dataflow, hints and the DECIMAL
    quotient are verbatim transcriptions, so the physical plan and every
    value are unchanged — proven by the unchanged hash-checked oracles.
    spark.sql analyzes eagerly, so the returned plan has the view INLINED
    — later createOrReplaceTempView calls on the same name cannot
    retarget it."""
    from ._sqlgen import sql_string_literal

    d.createOrReplaceTempView(view)
    vals = ", ".join(
        f"({sql_string_literal(t)}, CAST({int(m)} AS BIGINT))"
        for t, m in weights.items()
    )
    return spark.sql(f"""
        WITH tok AS (
            SELECT doc_id, explode(split(text, ' ')) AS term FROM {view}
        ),
        dl AS (
            SELECT doc_id, CAST(count(1) AS BIGINT) AS dl
            FROM tok GROUP BY doc_id
        ),
        corp AS (
            SELECT CAST(count(1) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS tot_len
            FROM dl
        ),
        w AS (SELECT * FROM VALUES {vals} AS w(term, w_milli)),
        tfq AS (
            SELECT /*+ BROADCAST(w) */ tok.doc_id, tok.term,
                   CAST(count(1) AS BIGINT) AS tf
            FROM tok JOIN w ON tok.term = w.term
            GROUP BY tok.doc_id, tok.term
        )
        SELECT /*+ BROADCAST(w, corp) */ tfq.doc_id,
               CAST(sum(
                   CAST((CAST(w.w_milli AS DECIMAL(38,0)) * 44
                         * corp.tot_len * tfq.tf)
                        DIV (CAST(20 AS DECIMAL(38,0)) * corp.tot_len
                             * tfq.tf + 6 * corp.tot_len
                             + 18 * dl.dl * corp.n_docs) AS BIGINT)
               ) AS BIGINT) AS score_milli
        FROM tfq
        JOIN w ON tfq.term = w.term
        JOIN dl ON tfq.doc_id = dl.doc_id
        CROSS JOIN corp
        GROUP BY tfq.doc_id
    """)


@query(
    "b14_rrf_hybrid",
    oracle=f"""
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
    tfq AS (
        SELECT tok.doc_id, tok.term, CAST(count(*) AS BIGINT) AS tf
        FROM tok JOIN w ON tok.term = w.term
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT tfq.doc_id,
               CAST(sum((CAST(w.w_milli AS HUGEINT) * 44 * corp.tot_len
                         * tfq.tf)
                        // (CAST(20 AS HUGEINT) * corp.tot_len * tfq.tf
                            + 6 * corp.tot_len
                            + 18 * dl.dl * corp.n_docs)) AS BIGINT)
                   AS score_milli
        FROM tfq
        JOIN w ON tfq.term = w.term
        JOIN dl ON tfq.doc_id = dl.doc_id
        CROSS JOIN corp
        GROUP BY tfq.doc_id
    ),
    lex AS (
        SELECT doc_id, r_lex FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY score_milli DESC, doc_id)
                       AS r_lex
            FROM scored
        ) WHERE r_lex <= 20
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    vec AS (
        SELECT vec_id AS doc_id, r_vec FROM (
            SELECT vec_id,
                   row_number() OVER (ORDER BY cosine DESC, vec_id) AS r_vec
            FROM (SELECT e.vec_id, {_RRF_COSINE_FOLD} AS cosine
                  FROM embeddings e, q)
        ) WHERE r_vec <= 20
    ),
    fused AS (
        SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
               CAST(coalesce(l.r_lex, 0) AS BIGINT) AS rank_lex,
               CAST(coalesce(v.r_vec, 0) AS BIGINT) AS rank_vec,
               CAST(coalesce(1000000 // (60 + l.r_lex), 0)
                  + coalesce(1000000 // (60 + v.r_vec), 0) AS BIGINT)
                   AS rrf_ppm
        FROM lex l FULL JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, rank_lex, rank_vec, rrf_ppm,
           CAST(row_number() OVER (ORDER BY rrf_ppm DESC, doc_id) AS BIGINT)
               AS rank
    FROM fused
    ORDER BY rank LIMIT 10
    """,
    doc="B14/B15 (r12): RECIPROCAL-RANK-FUSION HYBRID RETRIEVAL — the "
    "standard way production search fuses a lexical ranker with a vector "
    "ranker (Cormack/Clarke/Buettcher 2009: RRF(d) = sum_r 1/(k + "
    "rank_r(d)), k = 60), and the op the retrieval family lacked: "
    "b15_bm25_topk ranks lexically, b14_topk_cosine ranks by embedding, "
    "nothing combined them. List 1 = the BM25 top-20 for the fixed "
    "3-term query under the exact integer fixed-point contract (the "
    "machinery deliberately MIRRORS b15_bm25_topk rather than refactor "
    "it — that entry's plan stays untouched per the freshness-"
    "window displacement rule; same k1=6/5, b=3/4 rational, same milli "
    "dictionary, same truncating-DIV parity — but the saturation "
    "quotient here is computed in DECIMAL(38,0) (Spark) // HUGEINT "
    "(DuckDB), ADVICE r12: the bigint numerator w_milli*44*L*tf wraps "
    "once L*tf exceeds ~7.2e13, i.e. BELOW the 100 TB posture this "
    "entry claims; the 128-bit quotient is exact to L*tf ~ 7.8e32 "
    "(both engines truncate toward zero on non-negative operands, so "
    "the BIGINT result is bit-identical where both are defined — "
    "b15_bm25_topk keeps the cheaper bigint codegen path with its "
    "boundary documented in-entry). List 2 = exact cosine top-20 against the "
    "vec_id=0 query vector (operators/similarity.topk_cosine; the "
    "oracle replays the identical sequential double fold). Fusion is "
    "pure integers: rrf_ppm = sum over the two lists of 10^6 DIV "
    "(60 + rank), absent-from-list contributes 0 (rank_lex/rank_vec "
    "emitted as 0 — at sf0.1 the corpus has 5,000 docs but only 2,000 "
    "embeddings, so lexical-only membership is a real, documented "
    "state, not an error). Plan shape: each list is a "
    "TakeOrderedAndProject heap (per-partition top-k, no global sort), "
    "the full-outer fusion join touches <= 40 rows total (full-outer "
    "cannot broadcast, but a 40-row sort-merge is nothing), and the "
    "final rank window runs over <= 40 rows. At 100 TB both feeder "
    "rankings stay heap-bounded end-to-end; the fusion cost is O(k).",
)
def b14_rrf_hybrid(spark, sf_dir):
    from ..operators.similarity import topk_cosine
    from .llm_pipeline import _query_vector

    d = load_table(spark, sf_dir, "documents")
    scored = _rrf_bm25_scores(
        spark, d, {"dup": 2900, "vector": 700, "scan": 600}
    )
    lw = Window.orderBy(F.col("score_milli").desc(), F.col("doc_id").asc())
    lex = (
        scored.orderBy(F.col("score_milli").desc(), F.col("doc_id").asc())
        .limit(20)
        .select("doc_id", F.row_number().over(lw).alias("r_lex"))
    )
    qv = _query_vector(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    vw = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    vec = (
        topk_cosine(e, qv, k=20)
        .select("vec_id", "cosine")
        .select(
            F.col("vec_id").alias("v_doc_id"),
            F.row_number().over(vw).alias("r_vec"),
        )
    )
    fused = (
        lex.join(vec, lex["doc_id"] == vec["v_doc_id"], "full_outer")
        .select(
            F.coalesce(F.col("doc_id"), F.col("v_doc_id")).alias("doc_id"),
            F.coalesce(F.col("r_lex"), F.lit(0)).cast("bigint").alias(
                "rank_lex"
            ),
            F.coalesce(F.col("r_vec"), F.lit(0)).cast("bigint").alias(
                "rank_vec"
            ),
            F.expr(
                "CAST(coalesce(1000000 DIV (60 + r_lex), 0) "
                "+ coalesce(1000000 DIV (60 + r_vec), 0) AS BIGINT)"
            ).alias("rrf_ppm"),
        )
    )
    rw = Window.orderBy(F.col("rrf_ppm").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn(
            "rank", F.row_number().over(rw).cast("bigint")
        )
        .orderBy("rank")
        .limit(10)
    )


# Planted relevance for b14_rrf_fusion_gain: two DISJOINT 5-doc sets, both
# inside the embeddings vec_id domain at every SF (ids <= 30 < 500), doc 0
# excluded everywhere (it is the query vector).
_FUSION_LEX_REL = [3, 9, 15, 21, 27]
_FUSION_VEC_REL = [6, 12, 18, 24, 30]


@query(
    "b14_rrf_fusion_gain",
    oracle=f"""
    WITH pd AS (
        SELECT doc_id,
               CASE WHEN doc_id IN (3, 9, 15, 21, 27)
                    THEN text || ' zq_alpha zq_beta zq_gamma'
                    ELSE text END AS text
        FROM documents
    ),
    tok AS (
        SELECT doc_id, t.term
        FROM pd, unnest(string_split(text, ' ')) AS t(term)
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
        SELECT * FROM (VALUES ('zq_alpha', CAST(2900 AS BIGINT)),
                              ('zq_beta', CAST(700 AS BIGINT)),
                              ('zq_gamma', CAST(600 AS BIGINT)))
            AS w(term, w_milli)
    ),
    tfq AS (
        SELECT tok.doc_id, tok.term, CAST(count(*) AS BIGINT) AS tf
        FROM tok JOIN w ON tok.term = w.term
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT tfq.doc_id,
               CAST(sum((CAST(w.w_milli AS HUGEINT) * 44 * corp.tot_len
                         * tfq.tf)
                        // (CAST(20 AS HUGEINT) * corp.tot_len * tfq.tf
                            + 6 * corp.tot_len
                            + 18 * dl.dl * corp.n_docs)) AS BIGINT)
                   AS score_milli
        FROM tfq
        JOIN w ON tfq.term = w.term
        JOIN dl ON tfq.doc_id = dl.doc_id
        CROSS JOIN corp
        GROUP BY tfq.doc_id
    ),
    lex AS (
        SELECT doc_id, r_lex FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY score_milli DESC, doc_id)
                       AS r_lex
            FROM scored
        ) WHERE r_lex <= 20
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    e2 AS (
        SELECT vec_id,
               CASE WHEN vec_id IN (6, 12, 18, 24, 30)
                    THEN (SELECT embedding FROM embeddings WHERE vec_id = 0)
                    ELSE embedding END AS embedding
        FROM embeddings WHERE vec_id <> 0
    ),
    vec AS (
        SELECT vec_id AS doc_id, r_vec FROM (
            SELECT vec_id,
                   row_number() OVER (ORDER BY cosine DESC, vec_id) AS r_vec
            FROM (SELECT e.vec_id, {_RRF_COSINE_FOLD} AS cosine
                  FROM e2 e, q)
        ) WHERE r_vec <= 20
    ),
    fused AS (
        SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
               CAST(coalesce(1000000 // (60 + l.r_lex), 0)
                  + coalesce(1000000 // (60 + v.r_vec), 0) AS BIGINT)
                   AS rrf_ppm
        FROM lex l FULL JOIN vec v ON l.doc_id = v.doc_id
    ),
    rrf10 AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY rrf_ppm DESC, doc_id) AS r
            FROM fused
        ) WHERE r <= 10
    ),
    truth AS (
        SELECT unnest([3, 9, 15, 21, 27, 6, 12, 18, 24, 30]) AS doc_id
    ),
    res AS (
        SELECT 'lexical' AS ranker,
               CAST(count(*) AS BIGINT) AS n_hits
        FROM (SELECT doc_id FROM lex WHERE r_lex <= 10) x
        JOIN truth USING (doc_id)
        UNION ALL
        SELECT 'rrf', CAST(count(*) AS BIGINT)
        FROM rrf10 JOIN truth USING (doc_id)
        UNION ALL
        SELECT 'vector', CAST(count(*) AS BIGINT)
        FROM (SELECT doc_id FROM vec WHERE r_vec <= 10) x
        JOIN truth USING (doc_id)
    )
    SELECT ranker, CAST(10 AS BIGINT) AS n_rel, n_hits,
           CAST(n_hits * 1000000 // 10 AS BIGINT) AS recall_ppm
    FROM res ORDER BY ranker
    """,
    doc="B14 (r13): RRF FUSION GAIN ON PLANTED DISJOINT RELEVANCE "
    "(VERDICT r12 #4) — the demonstration twin of b14_rrf_hybrid, which "
    "fuses correctly but ran lexical-only where docs lack embeddings and "
    "so never demonstrated the claim RRF exists to make. Here the claim "
    "is constructed to be falsifiable: 10 relevant docs, split into two "
    "DISJOINT planted sets that each feeder can only half-find. The five "
    "_FUSION_LEX_REL docs get the novel query terms zq_alpha/beta/gamma "
    "appended in-query (the zq_ prefix is absent from the corpus "
    "vocabulary per the b15_pmi_planted verification, so the lexical "
    "feeder retrieves EXACTLY these five — BM25 scores only docs "
    "containing a query term); the five _FUSION_VEC_REL docs get their "
    "embeddings replaced in-query by the query vector (vec_id 0, itself "
    "excluded from the candidate list as the query), so the vector "
    "feeder puts exactly these five at cosine 1.0 ranks 1-5 while their "
    "text stays query-term-free. Each feeder's recall@10 is therefore "
    "<= 5/10 + whatever its noise tail accidentally hits; RRF's "
    "1e6 DIV (60+rank) fusion puts both planted fives at "
    "16393..15384 ppm, above every single-list noise doc (rank >= 6 "
    "-> <= 15151), so the fused top-10 is exactly the 10 planted docs "
    "and rrf_recall = 1.0 > max(feeder recalls) — "
    "tests/test_planted_signals.py pins the inequality and the exact "
    "counts. Machinery: shared _rrf_bm25_scores (DECIMAL38 quotient), "
    "operators/similarity.topk_cosine, the same heap-bounded plan shape "
    "as the parent (TakeOrderedAndProject feeders, <=40-row fusion "
    "join, <=40-row rank windows) — audit-clean structurally.",
)
def b14_rrf_fusion_gain(spark, sf_dir):
    from ..operators.similarity import topk_cosine
    from .llm_pipeline import _query_vector

    d = load_table(spark, sf_dir, "documents")
    planted_text = F.when(
        F.col("doc_id").isin(_FUSION_LEX_REL),
        F.concat(F.col("text"), F.lit(" zq_alpha zq_beta zq_gamma")),
    ).otherwise(F.col("text"))
    pd_corpus = d.select("doc_id", planted_text.alias("text"))
    scored = _rrf_bm25_scores(
        spark,
        pd_corpus,
        {"zq_alpha": 2900, "zq_beta": 700, "zq_gamma": 600},
        view="__r16_rrf_fusion_docs",
    )
    lw = Window.orderBy(F.col("score_milli").desc(), F.col("doc_id").asc())
    lex = (
        scored.orderBy(F.col("score_milli").desc(), F.col("doc_id").asc())
        .limit(20)
        .select("doc_id", F.row_number().over(lw).alias("r_lex"))
    )
    qv = _query_vector(spark, sf_dir)
    qv_lit = array_lit_d(qv)
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    e2 = e.select(
        "vec_id",
        F.when(F.col("vec_id").isin(_FUSION_VEC_REL), qv_lit)
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    vw = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    vec = topk_cosine(e2, qv, k=20).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(vw).alias("r_vec"),
    )
    fused = lex.join(
        vec.withColumnRenamed("doc_id", "v_doc_id"),
        lex["doc_id"] == F.col("v_doc_id"),
        "full_outer",
    ).select(
        F.coalesce(F.col("doc_id"), F.col("v_doc_id")).alias("doc_id"),
        F.expr(
            "CAST(coalesce(1000000 DIV (60 + r_lex), 0) "
            "+ coalesce(1000000 DIV (60 + r_vec), 0) AS BIGINT)"
        ).alias("rrf_ppm"),
    )
    rw = Window.orderBy(F.col("rrf_ppm").desc(), F.col("doc_id").asc())
    rrf10 = (
        fused.orderBy(F.col("rrf_ppm").desc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", F.row_number().over(rw).alias("r"))
    )
    truth = _FUSION_LEX_REL + _FUSION_VEC_REL
    hit = lambda c: F.sum(  # noqa: E731
        F.when(F.col(c).isin(truth), 1).otherwise(0)
    ).cast("bigint")
    res = (
        lex.filter(F.col("r_lex") <= 10)
        .agg(F.lit("lexical").alias("ranker"), hit("doc_id").alias("n_hits"))
        .unionAll(
            rrf10.agg(
                F.lit("rrf").alias("ranker"), hit("doc_id").alias("n_hits")
            )
        )
        .unionAll(
            vec.filter(F.col("r_vec") <= 10).agg(
                F.lit("vector").alias("ranker"), hit("doc_id").alias("n_hits")
            )
        )
    )
    return res.select(
        "ranker",
        F.lit(10).cast("bigint").alias("n_rel"),
        "n_hits",
        F.expr("CAST(n_hits * 1000000 DIV 10 AS BIGINT)").alias("recall_ppm"),
    ).orderBy("ranker")


@query(
    "b14_mips_topk",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
    qn AS (
        SELECT sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
            (a, b) -> a + b)) AS q_nrm
        FROM q
    ),
    base AS (
        SELECT vec_id, embedding,
            sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(embedding,
                               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                (a, b) -> a + b)) AS nx
        FROM embeddings
    ),
    m AS (SELECT max(nx) AS m_nrm FROM base),
    scored AS (
        SELECT e.vec_id,
            list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, len(e.embedding) + 1),
                    i -> CAST(e.embedding[i] AS DOUBLE)
                         * CAST(q.qv[i] AS DOUBLE))),
                (a, b) -> a + b) AS ip,
            list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_append(
                    list_transform(range(1, len(e.embedding) + 1),
                        i -> (CAST(e.embedding[i] AS DOUBLE) / m.m_nrm)
                             * (CAST(q.qv[i] AS DOUBLE) / qn.q_nrm)),
                    sqrt(greatest(CAST(0 AS DOUBLE),
                        CAST(1 AS DOUBLE)
                        - (e.nx / m.m_nrm) * (e.nx / m.m_nrm)))
                    * CAST(0 AS DOUBLE))),
                (a, b) -> a + b) AS aug_cos
        FROM base e, q, qn, m
    )
    SELECT vec_id, ip, aug_cos
    FROM scored
    ORDER BY aug_cos DESC, vec_id ASC LIMIT 10
    """,
    doc="B14 (r14): MAXIMUM-INNER-PRODUCT top-10 via the norm-augmentation "
    "reduction to unit-sphere cosine (operators/similarity.py mips_topk; "
    "Bachrach et al. RecSys'14, the basis of asymmetric-LSH MIPS). MIPS "
    "is the retrieval mode recommender/reranker embeddings actually need "
    "and is NOT cosine: a long vector can win on <x,q> while losing on "
    "angle (pinned by the planted pytest where the cosine and MIPS "
    "winners differ and the reduction picks the MIPS one). The entry "
    "emits both scores: aug_cos = ip / (M * ||q||) with M the corpus max "
    "norm, so ranking by augmented cosine IS inner-product ranking and "
    "every sphere index (sign-LSH, IVF) now serves MIPS unchanged. "
    "Exactness: every fold is a sequential IEEE-double sum replayed "
    "identically by the oracle (the b14_topk_cosine contract), the "
    "query-side constants are the same left-fold in driver Python. At "
    "100 TB: one scalar max-norm aggregate (1-row broadcast, whitelisted "
    "BNLJ), one corpus pass, TakeOrdered heap — the b14_topk_cosine cost "
    "profile; M is corpus metadata a production system maintains "
    "incrementally (max is min-merge-monotone like the KMV sketches).",
)
def b14_mips_topk(spark, sf_dir):
    from ..operators.similarity import mips_topk

    e = load_table(spark, sf_dir, "embeddings")
    row = e.filter(F.col("vec_id") == 1).select("embedding").first()
    return mips_topk(e, [float(x) for x in row[0]], k=10)


def _mips_lsh_oracle() -> str:
    from ._sqlgen import (
        sql_dot,
        sql_mips_signature,
        sql_signature,
        sql_sumsq,
    )

    planes = _pseudo_planes(65, 8, seed=43)
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
    m AS (SELECT max({sql_sumsq('embedding')}) AS msq FROM embeddings)
    SELECT e.vec_id, {sql_dot('e.embedding', 'q.qv')} AS ip
    FROM embeddings e, q, m
    WHERE {sql_mips_signature('e.embedding', planes, 'm.msq')}
          = (SELECT {sql_signature('qv', [p[:64] for p in planes])} FROM q)
    ORDER BY ip DESC, vec_id ASC LIMIT 10
    """


@query(
    "b14_mips_lsh",
    oracle=_mips_lsh_oracle(),
    doc="B14 (r14): MIPS ANN via ASYMMETRIC sign-LSH — b14_mips_topk's "
    "closing claim ('every sphere index now serves MIPS unchanged') "
    "executed, not asserted (operators/similarity.py mips_topk_lsh; "
    "Shrivastava & Li NIPS'14). Data-side map [x, sqrt(M^2 - ||x||^2)] "
    "vs query-side map [q, 0] — DIFFERENT hash functions for the two "
    "roles, which is what makes sublinear MIPS possible at all; the "
    "squared-norm form of the scaled augmentation avoids any "
    "sqrt-of-max association hazard. Candidates = the query's 8-plane "
    "bucket over 65-component planes, exact inner-product re-rank "
    "inside it; the oracle replays signature, bucket filter and fold "
    "arithmetic literally (the b14_ann_lsh plane-replay contract), so "
    "an APPROXIMATE index is still value-checked exactly. Recall vs "
    "the exact b14_mips_topk is pinned in pytest (bucketing trades "
    "recall for a ~2^-H scan fraction; nprobe-style multi-bucket "
    "probing is the recall dial, as in the cosine twin). At 100 TB: "
    "the signature is a partition key (scan prunes to one bucket) and "
    "M^2 is max-monotone corpus metadata maintained on ingest.",
)
def b14_mips_lsh(spark, sf_dir):
    from ..operators.similarity import mips_topk_lsh

    e = load_table(spark, sf_dir, "embeddings")
    row = e.filter(F.col("vec_id") == 1).select("embedding").first()
    return mips_topk_lsh(e, [float(x) for x in row[0]], k=10, num_planes=8, seed=43)
