"""Similarity search over embedding columns (SURVEY.md §2 B14).

Two tiers:

* `topk_cosine` — exact brute-force top-k against one query vector. The
  query vector is a broadcast literal, so the scan is embarrassingly
  parallel (one pass, no shuffle) and the top-k is Spark's
  TakeOrderedAndProject (per-partition heap + driver merge of k·partitions
  rows). This IS the right 100 TB baseline for single-query search: cost is
  one read of the corpus, the same as any full-scan filter.

* `topk_cosine_lsh` — sign-random-projection LSH: H hyperplanes → H-bit
  bucket signature; candidates = corpus rows in the query's bucket (optionally
  hamming-≤1 neighbor buckets); exact re-rank inside the candidate set.
  Sub-linear reads when bucketed storage is partitioned by signature —
  the scale path for high-QPS ANN. Hyperplanes are derived deterministically
  from a seed via murmur3-based pseudo-randoms, so signatures are stable with
  no driver-side RNG state.

* `neardup_pairs_cosine` — all-pairs near-duplicate detection restricted by
  a blocking key (label / LSH bucket): within-block brute pairs, never a full
  |corpus|² cross join.

Everything stays JVM-side via functions/vectors.py fold expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import (
    _ident,
    array_lit_d,
    array_lit_sql,
    cosine_similarity,
    cosine_similarity_sql,
    dot_product,
    dot_product_sql,
    l2_norm,
    l2_norm_sql,
)

# r15: every expression builder here is assembled as ONE parsed SQL string
# (the Py4J expression law, docs/SCALE.md) — the DataFrame-API forms cost
# ~110-170 bridge commands per dot-product/lambda chain, which dominated
# these entries' BUILD time (~0.3-0.9 s each at 8 planes / 8x8 codebooks).
# The parsed trees are the identical Catalyst expressions (same fold order,
# same casts, same tie semantics); bit-parity is held by the unchanged
# DuckDB oracles.


def _query_vec_lit(query_vec: list[float]):
    # one parsed SQL literal, not |dim| Py4J calls (bit-equivalent —
    # see array_lit_d)
    return array_lit_d(query_vec)


def topk_cosine(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector; deterministic
    tiebreak on id. Plans as scan → project → TakeOrderedAndProject."""
    scored = embeddings.select(
        F.col(id_col),
        F.expr(
            cosine_similarity_sql(_ident(vec_col), array_lit_sql(query_vec))
        ).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def sign_lsh_signature_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """SQL text of the H-bit sign signature: bit h = [vec · plane_h >= 0].
    One parsed expression; left-associated + chain matches the old
    Column-sum form."""
    return " + ".join(
        f"(CASE WHEN {dot_product_sql(vec_sql, array_lit_sql(p))} >= 0 "
        f"THEN {1 << h} ELSE 0 END)"
        for h, p in enumerate(planes)
    )


def sign_lsh_signature(vec_col: str, planes: list[list[float]]):
    """H-bit sign signature of the array column NAMED ``vec_col``: bit h =
    [vec · plane_h >= 0], one parsed expression. A Column argument raises
    TypeError: compose SQL fragments through `sign_lsh_signature_sql`."""
    if not isinstance(vec_col, str):
        raise TypeError(
            f"sign_lsh_signature takes a column name, not {type(vec_col).__name__}; "
            "use sign_lsh_signature_sql to compose over an expression"
        )
    return F.expr(sign_lsh_signature_sql(_ident(vec_col), planes))


def _pseudo_planes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes without RNG state: component
    (h, d) = fractional part of sin-free integer hashing, mapped to [-1, 1).
    Quality is ample for LSH bucketing; reproducible everywhere."""
    planes = []
    for h in range(num_planes):
        row = []
        for d in range(dim):
            x = (1103515245 * (h * dim + d + seed) + 12345) % (1 << 31)
            row.append(x / float(1 << 30) - 1.0)
        planes.append(row)
    return planes


def topk_cosine_lsh(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: restrict to the query's sign-LSH bucket, exact re-rank
    inside it. Recall < 1 by construction (checked in tests against brute
    force); at scale the bucket column becomes a partition key so the scan
    prunes to matching buckets."""
    planes = _pseudo_planes(len(query_vec), num_planes, seed)
    bucketed = embeddings.withColumn("__sig", sign_lsh_signature(vec_col, planes))
    # Query signature computed driver-side with identical arithmetic.
    qsig = 0
    for h, p in enumerate(planes):
        dot = sum(float(a) * float(b) for a, b in zip(query_vec, p))
        if dot >= 0:
            qsig |= 1 << h
    cand = bucketed.filter(F.col("__sig") == qsig)
    scored = cand.select(
        F.col(id_col),
        F.expr(
            cosine_similarity_sql(_ident(vec_col), array_lit_sql(query_vec))
        ).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def neardup_pairs_cosine(
    embeddings: DataFrame,
    block_col: str | None,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 12,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs within a blocking key: equi-join on the block
    (one shuffle), pair filter id_a < id_b, exact cosine >= threshold.
    Pre-normalizing vectors once (norm column) halves the per-pair cost.

    Blocking: within-block pairing is quadratic in block size, so the block
    key must be HIGH-cardinality relative to the corpus. A low-cardinality
    attribute (e.g. a class label) is fine at test scale but a single block
    becomes corpus-fraction sized at 100×. Pass ``block_col=None`` to block
    by the sign-LSH signature instead (``num_planes`` hyperplanes ⇒ ~2^H
    buckets, expected block size |corpus|/2^H — tunable): true near-dups
    (cosine ≥ 0.95) almost always share the full signature, so recall stays
    high (asserted vs brute force in tests/test_llm_ops.py) while no bucket
    is ever a corpus fraction. Requires ``dim`` (the embedding width) since
    hyperplanes are plan-time literals."""
    if block_col is None:
        if dim is None:
            raise ValueError("neardup_pairs_cosine: dim is required for LSH blocking")
        planes = _pseudo_planes(dim, num_planes, seed)
        blk = sign_lsh_signature(vec_col, planes)
    else:
        blk = F.col(block_col)
    base = embeddings.select(
        F.col(id_col).alias("id"),
        blk.alias("blk"),
        F.col(vec_col).alias("v"),
        l2_norm(vec_col).alias("nrm"),
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id"))
    )
    cos = dot_product(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return pairs.select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), cos.alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def _pseudo_centroids(dim: int, num_centroids: int, seed: int = 7) -> list[list[float]]:
    """Deterministic coarse-quantizer centroids (same RNG-free generator as
    the LSH planes, different seed). A production IVF trains these with
    k-means over a sample; the assignment/probe dataflow is identical, so
    the Spark plumbing — not the centroid quality — is what this pins."""
    return _pseudo_planes(dim, num_centroids, seed)


def kmeans_centroids(
    embeddings: DataFrame,
    num_centroids: int = 16,
    iters: int = 3,
    sample_fraction: float | None = None,
    vec_col: str = "embedding",
    seed: int = 7,
) -> list[list[float]]:
    """Train IVF coarse-quantizer centroids with Lloyd iterations expressed as
    DataFrame ops — no MLlib dependency, same dataflow on a 1000-executor
    cluster:

        assign: max-cosine centroid per vector (scan, no shuffle)
        update: per-(cell, dimension) mean via posexplode + groupBy
                (one shuffle of |corpus|·dim skinny rows, partial-agg
                combined map-side so the shuffle is O(cells·dim))

    The k·dim result (16×64 doubles here) is driver-side metadata by nature —
    collecting it is not a driver-side loop over data. ``sample_fraction``
    trains on a deterministic sample (hash of the vector id), the standard
    1%-sample posture for 100 TB corpora; init is the deterministic
    pseudo-random quantizer so runs are reproducible end-to-end."""
    base = embeddings.select(F.col(vec_col).alias("v"))
    if sample_fraction is not None:
        # Deterministic, partitioning-independent sample: hash the vector
        # contents rather than rand().
        gate = F.pmod(F.xxhash64(F.col("v").cast("string")), F.lit(10_000))
        base = base.filter(gate < int(sample_fraction * 10_000))
    base = base.localCheckpoint()  # reused every iteration; cut re-scan + lineage
    first = base.first()
    if first is None:
        raise ValueError(
            "kmeans_centroids: empty training set — the input has no rows "
            f"(or sample_fraction={sample_fraction} filtered out every row); "
            "lower the fraction or pass the full corpus."
        )
    dim = len(first["v"])
    centroids = _pseudo_centroids(dim, num_centroids, seed)
    for _ in range(iters):
        assigned = ivf_assignments(
            base.select(F.lit(0).alias("_id"), "v"), centroids, id_col="_id", vec_col="v"
        )
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cell: dict[int, list[float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], [0.0] * dim)[r["pos"]] = float(r["m"])
        # Empty cells keep their previous centroid (standard Lloyd handling).
        centroids = [by_cell.get(i, centroids[i]) for i in range(num_centroids)]
    return centroids


def ivf_assignments(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cell): each vector assigned to its max-cosine centroid —
    the IVF inverted-list build. At scale, write this out partitioned by
    `cell` so queries prune to probed cells at the storage layer."""
    # Indexed-transform over ONE nested centroid array literal instead of
    # num_centroids expanded cosine expressions — same r7 compile-cost fix
    # as pq_codes (the expanded tree's analysis/codegen dominated bench
    # wall). Arithmetic and tie semantics are unchanged bit-for-bit:
    # zip_with/aggregate reproduce the sql_cosine fold order, and array_max
    # over (s, cell) structs still breaks score ties toward the HIGHER
    # cell, which the oracle mirrors (rn ... ORDER BY cos DESC, cell DESC).
    # r15: the whole assignment is ONE parsed SQL expression (Py4J law).
    cents_sql = "array(" + ",".join(array_lit_sql(c) for c in centroids) + ")"
    vi = _ident(vec_col)
    vnorm_sql = (
        f"sqrt(aggregate(transform({vi}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "0.0D, (a, t) -> a + t))"
    )
    scored_sql = (
        f"transform({cents_sql}, (c, i) -> struct("
        f"aggregate(zip_with({vi}, c, "
        "(a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), "
        "0.0D, (acc, t) -> acc + t)"
        f" / ({vnorm_sql} * sqrt(aggregate(transform(c, x -> x * x), "
        "0.0D, (a, t) -> a + t))) AS s, "
        "i AS cell))"
    )
    return embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(f"CAST(array_max({scored_sql}).cell AS INT)").alias("cell"),
    )


def topk_cosine_ivf(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN top-k: coarse-quantize the corpus into `num_centroids`
    inverted lists, probe the `nprobe` lists whose centroids are nearest the
    query, exact re-rank inside them. Scan cost drops to ~nprobe/num_centroids
    of the corpus; recall grows monotonically with nprobe (nprobe =
    num_centroids degenerates to exact brute force).

    ``centroids``: pass `kmeans_centroids(...)` output for a trained
    quantizer (balanced lists, better recall at fixed nprobe); defaults to
    the deterministic pseudo-random quantizer, which pins the dataflow but
    not list quality."""
    if centroids is None:
        centroids = _pseudo_centroids(len(query_vec), num_centroids, seed)
    num_centroids = len(centroids)

    def _cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return dot / (na * nb) if na and nb else 0.0

    # Probe list computed driver-side with the same arithmetic the executors
    # use for assignment (both IEEE double dot products over the same order).
    probe = sorted(
        range(num_centroids), key=lambda i: -_cos(query_vec, centroids[i])
    )[:nprobe]

    assigned = ivf_assignments(embeddings, centroids, id_col, vec_col)
    cand = assigned.filter(F.col("cell").isin(probe))
    scored = cand.select(
        F.col(id_col),
        F.expr(
            cosine_similarity_sql(_ident(vec_col), array_lit_sql(query_vec))
        ).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def mips_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by MAXIMUM INNER PRODUCT via the norm-augmentation
    reduction to unit-sphere cosine (Bachrach et al., RecSys 2014; the
    basis of asymmetric-LSH MIPS).

    MIPS is NOT cosine search: a long vector can win on <x,q> while losing
    on angle, so none of the unit-norm ANN machinery (sign-LSH, IVF on the
    sphere) applies directly. The reduction restores it: with
    M = max_corpus ||x||, map

        x -> x_hat = [x / M,  sqrt(1 - ||x||^2 / M^2)]   (unit norm)
        q -> q_hat = [q / ||q||,  0]

    and cos(x_hat, q_hat) = <x,q> / (M * ||q||) — a positive monotone
    transform of the inner product, so cosine top-k over the augmented
    vectors IS inner-product top-k, and every sphere-based index now
    serves MIPS unchanged.

    Returns (id, ip, aug_cos) for the top ``k`` by aug_cos (ties broken on
    id) — both scores emitted so the monotone equivalence is visible in
    the result. Plan: one scalar max-norm aggregate broadcast (a bounded
    1-row BNLJ), one corpus pass with fold expressions, TakeOrdered heap —
    identical cost profile to `topk_cosine` at any scale.

    Edge cases (ADVICE r14): a zero-norm ``query_vec`` raises ValueError —
    the q/||q|| augmentation is undefined and every inner product is 0, so
    no ranking exists. An all-zero CORPUS (max norm M = 0) is well-defined:
    the M divisor is floored at the smallest positive double, which is
    exact for any M > 0 and maps every zero vector to augmented [0..0, 1]
    — ip = 0, aug_cos = 0 for all rows, ties broken on id.
    """
    acc = 0.0
    for x in query_vec:  # explicit left fold: bitwise-matches the SQL fold
        acc += float(x) * float(x)
    q_nrm = acc**0.5
    if q_nrm == 0.0:
        raise ValueError(
            "mips_topk: query_vec has zero norm — inner-product ranking "
            "is degenerate (every <x,q> = 0) and the q/||q|| "
            "augmentation is undefined"
        )
    q_sql = array_lit_sql(query_vec)
    q_aug_sql = array_lit_sql([float(x) / q_nrm for x in query_vec] + [0.0])
    mx = embeddings.agg(F.max(l2_norm(vec_col)).alias("m_nrm"))
    vi = _ident(vec_col)
    # Floor the divisor at the smallest positive double: identity for any
    # real corpus (greatest(M, 5e-324) == M whenever M > 0, so oracle
    # bit-parity is untouched) and turns the all-zero-corpus 0/0 NaN into
    # the documented aug_cos = 0 (ADVICE r14).
    m_div_sql = "greatest(m_nrm, 5e-324D)"
    nx_sql = l2_norm_sql(vi)
    extra_sql = (
        f"sqrt(greatest(0.0D, 1.0D - ({nx_sql} / {m_div_sql}) "
        f"* ({nx_sql} / {m_div_sql})))"
    )
    x_aug_sql = (
        f"concat(transform({vi}, e -> CAST(e AS DOUBLE) / {m_div_sql}), "
        f"array({extra_sql}))"
    )
    scored = embeddings.crossJoin(F.broadcast(mx)).select(
        F.col(id_col),
        F.expr(dot_product_sql(vi, q_sql)).alias("ip"),
        F.expr(dot_product_sql(x_aug_sql, q_aug_sql)).alias("aug_cos"),
    )
    return scored.orderBy(F.col("aug_cos").desc(), F.col(id_col).asc()).limit(k)


def mips_topk_lsh(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 43,
) -> DataFrame:
    """MIPS ANN — the `mips_topk` docstring's claim ("every sphere index
    now serves MIPS unchanged") EXECUTED: sign-LSH bucketing over the
    norm-AUGMENTED vectors (asymmetric LSH, Shrivastava & Li NIPS'14 /
    Bachrach et al. RecSys'14), exact inner-product re-rank inside the
    query's bucket.

    Asymmetry is the point: the data-side map is
    x -> [x, sqrt(M^2 - ||x||^2)] (the UNIT augmentation scaled by M,
    which flips no signs, so the squared-norm form avoids any
    sqrt-of-max association hazard), while the query-side map is
    q -> [q, 0] — computed driver-side with the identical left-fold
    arithmetic. Candidates = corpus rows whose (dim+1)-plane sign
    signature equals the query's; recall < 1 by construction (pinned
    against the exact `mips_topk` in tests). At scale the signature is a
    partition key: bucketed storage prunes the scan to one bucket, and
    the scalar max-squared-norm M^2 is corpus metadata (max-monotone,
    maintained incrementally like the KMV sketches).
    """
    dim = len(query_vec)
    planes = _pseudo_planes(dim + 1, num_planes, seed)
    # query-side signature: extra component is 0, so only p[:dim] matters;
    # explicit left fold matches the executor/SQL association order
    q_sig = 0
    for h, p in enumerate(planes):
        acc = 0.0
        for i in range(dim):
            acc += float(query_vec[i]) * p[i]
        if acc >= 0:
            q_sig += 1 << h
    vi = _ident(vec_col)
    sumsq_sql = (
        f"aggregate(transform({vi}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "0.0D, (a, v) -> a + v)"
    )
    msq = embeddings.agg(F.expr(f"max({sumsq_sql})").alias("msq"))
    extra_sql = f"sqrt(greatest(0.0D, msq - {sumsq_sql}))"
    sig_sql = " + ".join(
        f"(CASE WHEN {dot_product_sql(vi, array_lit_sql(p[:dim]))} "
        f"+ {extra_sql} * {repr(float(p[dim]))}D >= 0 "
        f"THEN {1 << h} ELSE 0 END)"
        for h, p in enumerate(planes)
    )
    cand = (
        embeddings.crossJoin(F.broadcast(msq))
        .filter(F.expr(f"({sig_sql}) = {q_sig}"))
        .select(
            F.col(id_col),
            F.expr(dot_product_sql(vi, array_lit_sql(query_vec))).alias("ip"),
        )
    )
    return cand.orderBy(F.col("ip").desc(), F.col(id_col).asc()).limit(k)


def pq_codebooks(
    dim: int, m: int = 8, k: int = 8, seed: int = 100
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: for each of ``m``
    subvectors of width dim/m, ``k`` centroids from the seeded RNG-free
    generator (one seed per subvector). Production PQ trains these with
    per-subspace k-means; the encode dataflow is identical, so — as with
    the IVF coarse quantizer — the plumbing is what the suite pins."""
    sub = dim // m
    return [_pseudo_centroids(sub, k, seed=seed + s) for s in range(m)]


def pq_codes(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 100,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization encode: split each ``dim`` vector into ``m``
    subvectors, assign each to its nearest of ``k`` codebook centroids
    (squared L2, left-to-right summation; first-minimum tie-break via
    array_position), and emit the ``m`` small codes — the compressed form
    (m*log2(k) bits/vector, here 8x3 = 3 bytes vs 256 bytes of floats)
    that makes billion-scale ANN fit in memory (Jegou et al., PQ for
    nearest neighbor search; the IVF+PQ pairing is the FAISS workhorse).
    All JVM-side literal arithmetic inside whole-stage codegen — the same
    plan-time-literal contract as the LSH planes/IVF centroids, so a
    DuckDB oracle replays every distance and argmin bit-for-bit. Map-only:
    zero shuffles at any scale."""
    books = codebooks if codebooks is not None else pq_codebooks(dim, m, k, seed)
    sub = dim // m
    vi = _ident(vec_col)

    # Distances via higher-order functions over centroid ARRAY LITERALS, not
    # k*sub expanded scalar expressions: the expanded form compiled a ~4k-node
    # tree whose analysis/codegen dominated wall time at bench scale
    # (b14_pq_codes 3.7 s at sf0.1, almost all of it per-query compile). The
    # transform/zip_with/aggregate form is ~50 nodes, same arithmetic, same
    # IEEE order: zip_with preserves index order and aggregate folds left
    # with a 0.0 seed — and 0.0 + t0 == t0 exactly, so the SQL oracle's
    # explicit (t0 + t1 + ...) chains still hash-match bit-for-bit.
    # r15: each subspace's code is ONE parsed SQL expression (Py4J law).
    cols = []
    for s, book in enumerate(books):
        cents_sql = "array(" + ",".join(array_lit_sql(c) for c in book) + ")"
        dists_sql = (
            f"transform({cents_sql}, c -> aggregate(zip_with("
            f"slice({vi}, {s * sub + 1}, {sub}), c, "
            "(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
            "0.0D, (acc, x) -> acc + x))"
        )
        cols.append(
            F.expr(
                f"array_position({dists_sql}, array_min({dists_sql})) - 1"
            ).alias(f"c{s}")
        )
    return embeddings.select(F.col(id_col), *cols)


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 8,
    dim: int = 64,
    iters: int = 3,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """TRAINED product-quantization codebooks: one independent Lloyd run per
    subspace over the corpus's subvectors (the actual PQ training recipe),
    reusing `kmeans_centroids` — so the 100 TB posture (deterministic
    sampling, skinny-row mean shuffle, driver-side k*dim metadata) is
    inherited per subspace. Drop-in replacement for the seeded
    `pq_codebooks` in `pq_codes(codebooks=...)`; reconstruction error is
    guaranteed non-increasing per Lloyd step, measured in tools/pq_ladder.py
    against the untrained books."""
    sub = dim // m
    books = []
    for s in range(m):
        sliced = embeddings.select(
            F.slice(F.col(vec_col), s * sub + 1, sub).alias("v")
        )
        books.append(
            kmeans_centroids(
                sliced,
                num_centroids=k,
                iters=iters,
                sample_fraction=sample_fraction,
                vec_col="v",
                seed=100 + s,
            )
        )
    return books
