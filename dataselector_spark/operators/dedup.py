"""Deduplication operators (SURVEY.md §2 B12/B13) — exact through fuzzy.

Ladder, cheapest first; all distributed, none quadratic in corpus size:

  dedup_exact          hash groupBy on a key, deterministic survivor
  ngram_jaccard_pairs  exact set-similarity via shingle inverted index —
                       pairs sharing ≥1 shingle only (never all-pairs)
  minhash_*            MinHash + LSH banding: candidate pairs from band-bucket
                       joins, O(near-duplicates), the 100 TB fuzzy-dedup path
  simhash64            64-bit SimHash fingerprints + hamming-band candidates

Determinism: all hashing uses Spark's built-in murmur3 (`F.hash`, seeded per
permutation) / `F.xxhash64` — stable across runs and partitionings, so
rows-only driver checks are reproducible.

Reference tie-in: exact dedup on the composite minute+salt key is exactly the
reference's 2-flasks-per-event uniqueness problem (index.js:23-24,
example/data/README.md:9-10) generalized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.sql import quote_ident
from ..functions.text import fingerprint_sql, word_ngram_hashes_sql, word_ngrams_sql


def _materialize(df: DataFrame, mode: str | bool) -> DataFrame:
    """Cut lineage / force one computation of a reused subplan.

    ``mode``:
      - ``"local"`` (default) — ``localCheckpoint``: fast, but blocks are
        stored only on executors; an executor loss loses them and the lineage
        that could recompute them is gone.  Fine on local[*] and for short
        jobs.
      - ``"reliable"`` — ``checkpoint``: writes to the SparkContext's
        checkpoint directory (HDFS/object store on a real cluster).  The
        right choice for a multi-hour 100 TB dedup where executor churn is
        expected; requires ``sc.setCheckpointDir`` to have been called.
      - ``"persist"`` — cache without lineage truncation (re-computable after
        executor loss, but lineage replays grow per CC round).
      - ``False`` — no materialization (pure lazy plan).
    """
    if mode is False:
        return df
    if mode == "reliable":
        return df.checkpoint()
    if mode == "persist":
        df = df.persist()
        df.count()
        return df
    return df.localCheckpoint()


def _fan_out(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition ``df`` on ``key`` up to the session's parallelism if
    the scan under-partitioned it (a few-MB parquet file arrives as ONE
    partition, serializing the expensive shingle-explode work onto one
    core). The repartition is CHEAP relative to the explode it parallelizes,
    and because it hash-partitions on the downstream groupBy key, the
    aggregation reuses the exchange instead of shuffling again. On real
    multi-hundred-partition inputs this is a no-op.

    The partition count is read from ``df.rdd``: over a bare scan that is
    free, but when ``df`` has an exchange upstream (a window, a join) it
    EXECUTES those adaptive stages once, at build time."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, key)
    return df


def _docs_by_id(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The shingle source of every text-dedup builder: ``docs`` projected to
    (id, ``text_col``) and fanned out on id (`_fan_out`)."""
    return _fan_out(docs.select(F.col(id_col).alias("id"), F.col(text_col)), "id")


def dedup_exact(
    df: DataFrame, keys: list[str], order_by: list[Column | str]
) -> DataFrame:
    """Keep exactly one row per key, chosen deterministically by ``order_by``
    (unlike ``dropDuplicates``, which keeps an arbitrary row and is therefore
    unstable across runs/partitionings)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --- exact n-gram Jaccard via inverted shingle index ------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word-``n``-gram sets for every document
    pair sharing at least one shingle. Inverted-index join: cost is driven by
    shingle co-occurrence, not |docs|² — hot shingles (stop-phrases) are the
    skew risk; AQE skew-join splitting handles moderate cases, and ``df_cap``
    is the 100 TB mitigation: shingles appearing in more than ``df_cap``
    documents are dropped from the index BEFORE the self-join, bounding every
    join bucket to ≤ df_cap·(df_cap−1)/2 pairs (a stop-phrase shingle shared
    by k docs otherwise produces a quadratic k² hot bucket). With a cap, the
    Jaccard is computed over the capped shingle universe on BOTH sides of the
    ratio (sizes and intersections): a set similarity over the
    discriminative shingles, NOT the exact Jaccard join once any shingle's
    df exceeds the cap — pairs change similarity (and may cross the
    threshold either way), and pairs that share only dropped shingles
    vanish. On 4 exact copies of sf0.1, ``df_cap=50`` returns result hash
    ``eed316cf`` where the exact answer is ``935a63e4``. With
    ``df_cap=None`` the join is exact; the exact suite form is
    ``b13_prefix_filter_pairs``.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    # r16 (guide §2.3 — shuffle fewer bytes): shingles are hashed to int64
    # (xxhash64) BEFORE any exchange, so the DF-cap window, the sizes groupBy
    # and the inverted-index self-join all shuffle 8-byte keys instead of
    # n-word strings (the n-gram text never reaches any output — every
    # consumer emits ids/counts/ratios only). Collision math and the oracle
    # argument live on `word_ngram_hashes_sql`.
    shingles = _docs_by_id(docs, id_col, text_col).select(
        "id",
        F.expr(
            f"explode({word_ngram_hashes_sql(quote_ident(text_col), n)})"
        ).alias("sh"),
    )
    if df_cap is not None:
        # Pre-aggregate document frequency per shingle (map-side combine makes
        # this O(distinct shingles), far cheaper than the join it protects)
        # and keep only discriminative shingles.  The window form
        # count(*) OVER (PARTITION BY sh) reuses the same hash exchange the
        # join needs anyway.
        w = Window.partitionBy("sh")
        shingles = (
            shingles.withColumn("__df", F.count(F.lit(1)).over(w))
            .filter(F.col("__df") <= df_cap)
            .drop("__df")
        )
    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    jac = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold)


# --- MinHash + LSH ----------------------------------------------------------

# Fixed odd multipliers / offsets for the affine MinHash permutation family
# (splitmix64-style constants, deterministic across runs and engines).
_MIX_A = [(0x9E3779B97F4A7C15 * (2 * i + 1)) & ((1 << 63) - 1) | 1 for i in range(64)]
_MIX_B = [(0xBF58476D1CE4E5B9 * (i + 1)) & ((1 << 63) - 1) for i in range(64)]


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """(id, sig ARRAY<INT>) — per-document MinHash signature: for each of
    ``num_hashes`` seeded murmur3 permutations, the min hash over the
    document's distinct word-n-gram shingles. One explode + one groupBy."""
    # One string hash per shingle; the k "permutations" are affine mixes of
    # that 64-bit hash (wrapping long arithmetic — deterministic), which is
    # ~k× cheaper than k independent string hashes. Duplicate shingles are
    # NOT removed: min() is duplicate-insensitive, so array_distinct would be
    # pure overhead.
    # r15: shingle hash explode and the k min-aggregates are parsed SQL
    # strings (the Py4J expression law, docs/SCALE.md) — identical trees,
    # ~10x fewer bridge commands per build.
    ti = quote_ident(text_col)
    shingles = _docs_by_id(docs, id_col, text_col).select(
        "id",
        F.expr(
            f"explode(transform({word_ngrams_sql(ti, n)}, s -> xxhash64(s)))"
        ).alias("h"),
    )
    mins = [
        F.expr(f"min(h * {_MIX_A[i]} + {_MIX_B[i]})").alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = shingles.groupBy("id").agg(*mins)
    return sig.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


# Portable affine permutation family over the prime field — coefficients are
# deterministic and small enough that a*h + b stays < 2^60 (no wrap, so the
# arithmetic is identical in Spark, DuckDB, and plain Python).
MINHASH_MOD = 1_000_000_007
_PORT_A = [(1_103_515_245 * (2 * i + 1) + 12_345) % MINHASH_MOD for i in range(64)]
_PORT_B = [(69_069 * (i + 1) + 1) % MINHASH_MOD for i in range(64)]


def minhash_signatures_portable(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """(id, h0..h{k-1}) — MinHash signature with ENGINE-PORTABLE hashing: the
    per-shingle hash is the polynomial rolling hash (fold h*31 + codepoint
    mod 1e9+7, functions/text.py fingerprint) and the k permutations are
    affine maps (a_i·h + b_i) mod 1e9+7 — every step is exact int64
    arithmetic that an external SQL engine can replay, so the signature is
    value-checkable (unlike the xxhash64 production path, whose hash values
    are Spark-specific). Same plan shape as `minhash_signatures`: one
    explode + one groupBy. Emits scalar columns (not an array) so downstream
    tooling that can't canonicalize arrays can hash the result."""
    return _portable_shingles(docs, id_col, text_col, n).groupBy("id").agg(
        *_portable_mins(num_hashes)
    )


def _portable_shingles(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, h): one row per word-``n``-gram shingle occurrence, ``h`` its
    polynomial hash (`fingerprint_sql`)."""
    # r15: one parsed expression for the explode (the Py4J expression law,
    # docs/SCALE.md), as for each min-aggregate in `_portable_mins`.
    ti = quote_ident(text_col)
    return _docs_by_id(docs, id_col, text_col).select(
        "id",
        F.expr(
            f"explode(transform({word_ngrams_sql(ti, n)}, s -> {fingerprint_sql('s')}))"
        ).alias("h"),
    )


def _portable_mins(num_hashes: int) -> list[Column]:
    """min((a_i·h + b_i) mod 1e9+7) AS h{i} for the first ``num_hashes``
    portable permutations."""
    return [
        F.expr(
            f"min((h * {_PORT_A[i]} + {_PORT_B[i]}) % {MINHASH_MOD})"
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]


def simhash_portable(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """(id, simhash BIGINT) — SimHash with an ENGINE-PORTABLE hash family:
    the per-token hash is the polynomial rolling hash (mod 1e9+7) and bit i
    is derived by thresholding the affine map (a_i·h + b_i) mod 1e9+7 at
    M/2 (balanced bit). Same dataflow as the 64-bit xxhash64 production
    path (`simhash64`: one explode + one groupBy with conditional sums);
    this variant trades hash width for exact SQL replayability, so the
    bit-vote algebra itself is value-checkable by an external engine.
    a·h + b stays < 2^60 — no wrap, identical arithmetic everywhere."""
    half = MINHASH_MOD // 2

    # r15: parsed SQL strings per the Py4J expression law (docs/SCALE.md).
    toks = _docs_by_id(docs, id_col, text_col).select(
        "id", F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("th", F.expr(fingerprint_sql("tok")))
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (th * {_PORT_A[i]} + {_PORT_B[i]}) % {MINHASH_MOD} "
            f"> {half} THEN 1 ELSE -1 END)"
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("id").agg(*bit_sums)
    fp = F.expr(
        "CAST(0 AS BIGINT) + "
        + " + ".join(
            f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE CAST(0 AS BIGINT) END)"
            for i in range(bits)
        )
    )
    return agg.select("id", fp.alias("simhash"))


def minhash_lsh_pairs(
    signatures: DataFrame,
    bands: int = 4,
    est_threshold: float = 0.5,
    materialize: str | bool = "local",
) -> DataFrame:
    """LSH banding over MinHash signatures: split each signature into
    ``bands`` equal bands, hash each band, join on (band index, band hash) —
    candidate pairs are those agreeing on ≥1 full band. Estimated Jaccard =
    fraction of matching signature positions; filtered at ``est_threshold``.

    Returns (id_a, id_b, est_jaccard), id_a < id_b. The band join touches
    only colliding documents — the property that makes fuzzy dedup feasible
    at 100 TB (candidates ≈ true near-dups, not |docs|²).

    ``materialize``: the self-join consumes the signature subplan twice and
    Spark does not reuse the exchange across the two sides; materializing
    signatures once halves the dominant cost. See ``_materialize`` for the
    modes — default ``"local"`` (localCheckpoint) suits local/short runs;
    pass ``"reliable"`` on a real cluster so executor loss mid-dedup doesn't
    kill the job. At warehouse scale you would persist signatures as a table
    anyway — they are reused across every dedup run."""
    if materialize is not False:
        signatures = _materialize(signatures, materialize)
    banded = signatures.select(
        "id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.hash(
                        F.slice(
                            F.col("sig"),
                            bi * (F.size(F.col("sig")) / bands).cast("int") + 1,
                            (F.size(F.col("sig")) / bands).cast("int"),
                        ).cast("string"),
                    ).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select("id", "sig", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("double") / F.size("sig_a")
    return cand.select("id_a", "id_b", est.alias("est_jaccard")).filter(
        F.col("est_jaccard") >= est_threshold
    )


# --- SimHash ----------------------------------------------------------------


def simhash64(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash BIGINT) — 64-bit SimHash over xxhash64 token hashes:
    bit i of the fingerprint is the sign of Σ_tokens (±1 on bit i of the
    token hash). One explode + one groupBy with 64 conditional sums."""
    toks = _docs_by_id(docs, id_col, text_col).select(
        "id", F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("th", F.xxhash64("tok"))
    # r15: the 64 conditional sums and the 64-term recombination are parsed
    # SQL strings (the Py4J expression law, docs/SCALE.md) — the element-wise
    # Column build was ~900 bridge commands per call. Bit 63's two's-
    # complement weight is written (-9223372036854775807 - 1): bigint-exact
    # and parser-safe (a bare -2^63 token would parse as DECIMAL), constant-
    # folded to the identical Literal the F.lit path produced.
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(th, {i}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = toks.groupBy("id").agg(*bit_sums)
    weights = ["(-9223372036854775807 - 1)" if i == 63 else str(1 << i) for i in range(64)]
    fp = F.expr(
        "CAST(0 AS BIGINT) + "
        + " + ".join(
            f"(CASE WHEN b{i} > 0 THEN {weights[i]} ELSE CAST(0 AS BIGINT) END)"
            for i in range(64)
        )
    )
    return agg.select("id", fp.alias("simhash"))


def simhash_near_pairs(
    fingerprints: DataFrame, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """Candidate near-dup pairs from SimHash fingerprints: band the 64 bits
    into ``bands`` 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ some band equal),
    join on equal chunks, exact-filter on bit_count(xor) ≤ max_hamming."""
    width = 64 // bands
    mask = (1 << width) - 1
    banded = fingerprints.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), bi * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --- near-dup clustering: pairs -> components -> survivors -------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    materialize: str | bool = "local",
    stats: dict | None = None,
) -> DataFrame:
    """(id, component) for every node in ``pairs``: component = min node id
    reachable through the pair graph — the step that turns PAIRWISE near-dup
    evidence into dedup CLUSTERS (A ~ B ~ C collapse together even when A/C
    were never directly compared).

    Iterative min-label propagation: each round every node takes the min of
    its own and its neighbors' labels; converges in O(graph diameter) rounds
    (near-dup clusters are shallow — a handful of rounds in practice, capped
    at ``max_iter``). Each round is one shuffle join + aggregation; per-round
    materialization truncates the growing lineage so round N doesn't replay
    rounds 1..N-1 (``materialize="reliable"`` checkpoints to durable storage
    for cluster runs — see ``_materialize``). This is the GraphX/GraphFrames
    algorithm expressed in plain DataFrame ops — no extra library, works on
    any cluster.

    ``stats``: caller-supplied dict, filled with {"rounds": N} — the number
    of propagation rounds actually run (incl. the final no-change round).
    Measured on the sf0.1 documents corpus the LSH near-dup graph converges
    in 2 rounds + 1 confirmation (docs/SCALE.md) — min-label propagation is
    the right algorithm at this diameter; large-star/small-star only pays
    off when chains get deep (diameter >> 3), which near-dup clusters of
    crawl text don't produce."""
    # The adjacency holds both directions of every pair plus one SELF-LOOP
    # row per node, so each round is ONE equi-join + ONE aggregation:
    # min(comp) over a node's (neighbors ∪ self) is exactly least(own,
    # min(neighbors)), and the self row's joined comp IS the previous
    # label (min(comp) over a==b rows), which reads convergence. All four
    # rows per pair come from ONE projection over the pair plan, so the
    # (lazy, expensive) pair lineage runs once; `distinct` leaves exactly
    # one row per edge and per node whatever duplicate, reversed or self
    # pairs the input holds. Pre-partition on the join key ONCE, before
    # `distinct`: hash(b) already clusters every (a, b) key, so the
    # dedup needs no second exchange, and the materialized DataFrame keeps
    # that outputPartitioning, so every round's adj⋈labels join shuffles
    # only the (much smaller) labels side, not the edge list.
    adj = _materialize(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .selectExpr(
            "inline(array(named_struct('a', a, 'b', b), named_struct('a', b, 'b', a), "
            "named_struct('a', a, 'b', a), named_struct('a', b, 'b', b)))"
        )
        .repartition("b")
        .distinct(),
        materialize,
    )
    # Init labels = the self rows read back OUT of the materialized adj
    # (exactly one a==b row per node): a cheap filter over the checkpoint,
    # never a recompute of the pair-generation lineage, and no second
    # materialization job.
    labels = adj.filter(F.col("a") == F.col("b")).select(
        F.col("a").alias("id"), F.col("a").alias("comp")
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # Convergence is counted by an Observation on the aggregated frame,
        # so the count rides the materializing job: no labels-vs-labels
        # join and no second job per round. A lazy round (materialize=False)
        # still needs one action to fire it.
        changes = Observation()
        new = _materialize(
            adj.join(labels, adj.b == labels.id)
            .groupBy("a")
            .agg(
                F.min("comp").alias("comp"),
                F.min(
                    F.when(F.col("a") == F.col("b"), F.col("comp"))
                ).alias("__prev"),
            )
            .observe(
                changes, F.count_if(F.col("comp") != F.col("__prev")).alias("n")
            ),
            materialize,
        )
        if materialize is False:
            new.write.format("noop").mode("overwrite").save()
        changed = changes.get["n"]
        labels = new.select(F.col("a").alias("id"), "comp")
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    return labels


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """One row per near-dup cluster (the min-id member) plus every unpaired
    document — the final output of a fuzzy-dedup pass. Non-survivors =
    clustered nodes whose id != their component id, removed with an
    anti-join.

    Deliberately NO broadcast hint on the loser set: on a dedup-heavy corpus
    (web crawls run 30-50% near-dup) the losers are a large fraction of the
    input, and forcing a broadcast would OOM the driver/executors at scale.
    A shuffled anti-join is the safe default; AQE converts it to a broadcast
    join at runtime when the loser side actually turns out small — the right
    call is made from measured sizes, not a compile-time guess."""
    comp = connected_components(pairs, id_a, id_b)
    losers = comp.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def fuzzy_dedup_survivors(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """The full fuzzy-dedup pass (pairs → components → anti-join) with an
    EXACT-DUPLICATE PRE-COLLAPSE: each text's group min id is read first
    (one ``min(id) OVER (PARTITION BY md5(text))`` window over the narrow
    (id, md5) rows gives the canon map ``(id, rep_id)``; the rows with
    ``id = rep_id`` pick the representatives' text by a semi-join on id,
    so the text itself never crosses the window's exchange) and only one
    representative per unique text enters the n-gram/Jaccard/CC
    machinery. Web corpora run
    30-50% exact dups, and every group of k identical docs would otherwise
    contribute a k-clique — k²/2 pairs — to the component graph; the
    collapse removes that quadratic term while the result is provably
    unchanged (exact dups have Jaccard 1.0, so they were all in the
    cluster anyway, and each representative carries its group's min id).
    Docs with < n tokens have no shingles, can never pair, and bypass the
    collapse (two identical too-short docs both survive — same as the
    direct pipeline).

    With ``df_cap=None`` (the default) semantics are identical to
    ``dedup_survivors(docs, ngram_jaccard_pairs(docs, n, threshold))``: one
    survivor (min id) per near-dup cluster plus every unpaired document.

    With ``df_cap`` set, equivalence does NOT hold in general: the cap drops
    hot shingles from the candidate index, and the pre-collapse changes each
    shingle's document frequency (k identical docs count k times toward the
    direct pipeline's DF but once here), so the two pipelines may cap
    DIFFERENT shingles and recall different candidate pairs.  ``df_cap`` is a
    recall/cost knob for scale runs, not an exactness-preserving option —
    pinned by tests/test_llm_ops.py::test_fuzzy_survivors_df_cap_divergence."""
    eligible = docs.filter(
        F.size(F.split(F.col(text_col), " ")) >= n
    ).select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    canon_map = eligible.select(
        "id", F.min("id").over(Window.partitionBy(F.md5("__text"))).alias("rep_id")
    )
    rep_docs = eligible.join(
        canon_map.filter(F.col("id") == F.col("rep_id")).select("id"), "id", "left_semi"
    ).select(F.col("id").alias(id_col), F.col("__text").alias(text_col))
    pairs = ngram_jaccard_pairs(
        rep_docs, id_col=id_col, text_col=text_col, n=n,
        threshold=threshold, df_cap=df_cap,
    )
    comp = connected_components(pairs)
    # both sides grow with the corpus: SHUFFLE_HASH pins the join AQE raced
    doc_comp = canon_map.join(
        comp.withColumnRenamed("id", "rep_id").hint("SHUFFLE_HASH"), "rep_id", "left"
    ).select("id", F.coalesce(F.col("comp"), F.col("rep_id")).alias("__comp"))
    losers = doc_comp.filter(F.col("id") != F.col("__comp")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def minhash_signatures_portable_sharded(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    shards: int = 2,
) -> DataFrame:
    """Per-shard portable MinHash signatures min-merged into the per-doc
    signature — the incremental/sharded-ingest dataflow: each shard (here
    a deterministic ``h % shards`` split of the shingle relation,
    simulating partial arrival of a document's content) keeps only its
    own ``num_hashes`` bigints of bounded state, and the merge is an
    element-wise MIN.  min over a union is the min of per-part mins, so
    the merged signature equals the direct whole-corpus signature of
    `minhash_signatures_portable` exactly — the MinHash analogue of the
    KMV min-merge lemma, here EXECUTED as a two-level aggregate rather
    than assumed.  Same portable hash family (polynomial shingle hash +
    affine permutations mod 1e9+7), so the whole two-phase dataflow is
    value-checkable by an external SQL engine."""
    batched = _portable_shingles(docs, id_col, text_col, n).withColumn(
        "shard", F.pmod(F.col("h"), F.lit(shards)).cast("bigint")
    )
    per_shard = batched.groupBy("id", "shard").agg(*_portable_mins(num_hashes))
    merged = per_shard.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    return merged


def incremental_minhash_candidates(
    docs: DataFrame,
    batch_pred,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Incremental-ingest fuzzy dedup: band-join a NEW BATCH of documents
    (rows where ``batch_pred(id)`` holds) against the EXISTING CORPUS
    (the rest) and report, per batch document, its corpus near-dup
    candidates — the daily-ingest pattern for a 100 TB corpus, where the
    corpus band index is a maintained table and only the arriving batch
    is sketched and probed. Crucially the candidate join is
    batch x corpus only: corpus x corpus pairs (the quadratic bulk that
    the full-dedup entries handle with banding + df caps) are never
    formed, so ingest cost scales with |batch|, not |corpus|.

    Signatures use the portable hash family (`minhash_signatures_portable`:
    polynomial shingle hash + affine permutations mod 1e9+7, exact int64
    arithmetic), so the entire dataflow — sketch, band keys, join,
    aggregation — is value-checkable by an external SQL engine.

    Returns one row per batch document that has at least one shingle:
    (doc_id, n_candidates, best_match, is_dup) where best_match is the
    smallest candidate corpus id (NULL when none) and bands of width
    ``num_hashes // bands`` trade recall against candidate volume exactly
    as in the full-corpus LSH entries.
    """
    rows = num_hashes // bands
    sigs = minhash_signatures_portable(
        docs, id_col=id_col, text_col=text_col, n=n, num_hashes=num_hashes
    )

    def bandify(df, out_id):
        return df.select(
            F.col("id").alias(out_id),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            *[
                                F.col(f"h{b * rows + r}").alias(f"v{r}")
                                for r in range(rows)
                            ],
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bk"),
        ).select(out_id, "bk.*")

    batch = sigs.filter(batch_pred(F.col("id")))
    corpus = sigs.filter(~batch_pred(F.col("id")))
    keys = ["band"] + [f"v{r}" for r in range(rows)]
    cand = (
        bandify(batch, "batch_id")
        .join(bandify(corpus, "corpus_id"), keys)
        .select("batch_id", "corpus_id")
        .distinct()
    )
    agg = cand.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.min("corpus_id").cast("bigint").alias("best_match"),
    )
    return (
        batch.select(F.col("id").alias("batch_id"))
        .join(agg, "batch_id", "left")
        .select(
            F.col("batch_id").cast("bigint").alias(id_col),
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            F.col("best_match"),
            (F.coalesce(F.col("n_candidates"), F.lit(0)) > 0).alias("is_dup"),
        )
        .orderBy(id_col)
    )
