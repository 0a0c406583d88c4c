"""B26 graph and event-path analytics: funnels, retention cohorts, path
statistics, triangles, PageRank, BFS, k-core, shortest paths, community
detection and link prediction.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .base import query


@query(
    "b26_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t_signup FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t_view
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'view' AND e.ts > s1.t_signup
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > s2.t_view
        GROUP BY e.user_id
    )
    SELECT s1.user_id, s1.t_signup, s2.t_view, s3.t_purchase,
           s2.user_id IS NOT NULL AS reached_view,
           s3.user_id IS NOT NULL AS reached_purchase
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
    doc="B26 (behavioral analytics): ordered three-stage funnel — for each "
    "user, the first signup, the first view strictly AFTER that signup, "
    "and the first purchase strictly after that view (ordering matters: a "
    "view before signup does not count). All three stage times are nested "
    "conditional window-mins over the SAME user partitioning, so the whole "
    "funnel costs ONE shuffle of the events (plan-asserted), not one "
    "aggregation-join round per stage — the shape that survives adding a "
    "fourth or tenth stage at 100 TB.",
)
def b26_funnel(spark, sf_dir):
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    staged = (
        e.select("user_id", "event_type", "ts")
        .withColumn(
            "t_signup",
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_view",
            F.min(
                F.when(
                    (F.col("event_type") == "view") & (F.col("ts") > F.col("t_signup")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    return (
        staged.filter(F.col("t_signup").isNotNull())
        .groupBy("user_id")
        .agg(
            F.first("t_signup").alias("t_signup"),
            F.first("t_view").alias("t_view"),
            F.first("t_purchase").alias("t_purchase"),
        )
        .select(
            "user_id",
            "t_signup",
            "t_view",
            "t_purchase",
            F.col("t_view").isNotNull().alias("reached_view"),
            F.col("t_purchase").isNotNull().alias("reached_purchase"),
        )
    )


@query(
    "b26_retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(floor(date_diff('day', f.cohort_week,
                              CAST(date_trunc('week', e.ts) AS TIMESTAMP)) / 7.0)
                    AS BIGINT) AS week_n
        FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, week_n, count(*) AS n_active
    FROM activity GROUP BY cohort_week, week_n
    """,
    doc="B26 (behavioral analytics): weekly retention cohorts — each user "
    "joins the cohort of their first-activity week; the matrix counts how "
    "many of each cohort are active N weeks later. Two aggregations keyed "
    "on user_id then one on the (cohort, week) pair; integer week "
    "arithmetic so the matrix is engine-exact. The 100 TB shape: the "
    "firsts relation is one row per user — often broadcastable but not "
    "guaranteed at web scale, so the join carries no hint and AQE decides "
    "from measured sizes; activity dedup is one shuffle of (user, week) "
    "pairs, and the final matrix is O(cohorts x horizon).",
)
def b26_retention_cohorts(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.floor(
                    F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                    / 7
                )
            ).cast("bigint").alias("week_n"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_n").agg(
        F.count(F.lit(1)).alias("n_active")
    )


@query(
    "b26_transition_bigrams",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    doc="B26 (behavioral analytics): event-transition bigram counts — each "
    "user's event stream ordered by (ts, event_id), adjacent pairs counted "
    "into the Markov transition matrix behind funnels and anomaly "
    "detection. One window shuffle on user_id + one small aggregation; "
    "the deterministic (ts, event_id) tiebreak makes the matrix "
    "engine-exact.",
)
def b26_transition_bigrams(spark, sf_dir):
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        ordered.filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "b26_rolling_dau",
    oracle="""
    WITH day_user AS (
        SELECT DISTINCT CAST(time_bucket(INTERVAL 1 DAY, ts) AS DATE) AS day,
               user_id
        FROM events
    ),
    contrib AS (
        SELECT (day + k * (INTERVAL 1 DAY)) AS wday, user_id
        FROM day_user, (SELECT unnest(range(0, 7)) AS k)
    ),
    wau AS (
        SELECT CAST(wday AS DATE) AS day, count(DISTINCT user_id) AS wau
        FROM contrib GROUP BY 1
    ),
    dau AS (SELECT day, count(*) AS dau FROM day_user GROUP BY day)
    SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau
    FROM dau d JOIN wau w ON d.day = w.day
    """,
    doc="B26 (behavioral analytics): exact DAU + 7-day rolling distinct "
    "users (WAU) per active day. Rolling COUNT DISTINCT does not decompose "
    "into window frames, so the scale shape is contribution explode: each "
    "distinct (user, day) pair contributes to exactly 7 window days "
    "(constant 7x fan-out of the ALREADY-DEDUPLICATED day-user pairs — "
    "|users|x|days|, tiny next to raw events), then one distinct-count per "
    "window day. DAU falls out of the SAME exploded relation (each pair "
    "hits its own activity day exactly once), so the whole query is ONE "
    "scan, no join, three exchanges (asserted in tests/test_plans.py). "
    "Never buffers a 7-day raw-event window.",
)
def b26_rolling_dau(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    day_user = e.select(
        F.date_trunc("day", "ts").cast("date").alias("aday"), "user_id"
    ).distinct()
    contrib = day_user.select(
        "aday",
        "user_id",
        F.explode(
            F.sequence(F.col("aday"), F.date_add(F.col("aday"), 6))
        ).alias("day"),
    )
    agg = contrib.groupBy("day").agg(
        F.countDistinct("user_id").alias("wau"),
        # (aday, user_id) is deduplicated, so the day==aday rows ARE the
        # distinct active users of that day — a plain conditional count
        F.count(F.when(F.col("day") == F.col("aday"), 1)).alias("dau"),
    )
    # the explode manufactures up-to-6 trailing/gap days with wau-only
    # activity; the contract (and oracle) reports ACTIVE days only
    return agg.filter(F.col("dau") > 0).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "dau", "wau"
    )


@query(
    "b26_triangle_count",
    oracle="""
    WITH g AS (
        SELECT DISTINCT event_type,
               CAST(floor(epoch(ts) / 600) AS BIGINT) AS bucket,
               user_id
        FROM events
    ),
    e AS (
        SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
        FROM g a JOIN g b
          ON a.event_type = b.event_type AND a.bucket = b.bucket
         AND a.user_id < b.user_id
    ),
    deg AS (
        SELECT u, count(*) AS degree FROM (
            SELECT ua AS u FROM e UNION ALL SELECT ub FROM e
        ) GROUP BY u
    ),
    tri AS (
        SELECT e1.ua AS a, e1.ub AS b, e2.ub AS c
        FROM e e1
        JOIN e e2 ON e2.ua = e1.ub
        JOIN e e3 ON e3.ua = e1.ua AND e3.ub = e2.ub
    ),
    peru AS (
        SELECT u, count(*) AS n FROM (
            SELECT a AS u FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY u
    )
    SELECT deg.u AS user_id, deg.degree, coalesce(peru.n, 0) AS tri_count
    FROM deg LEFT JOIN peru ON peru.u = deg.u
    """,
    doc="B26 (r8): EXACT distributed triangle counting over the user "
    "co-occurrence graph (users sharing an (event_type, 10-minute) cell "
    "are adjacent) — the classic cohesion/community primitive, "
    "implemented with DEGREE-ORDERED edge orientation (Suri & "
    "Vassilvitskii, 'Counting Triangles and the Curse of the Last "
    "Reducer'): every edge is oriented from its (degree, id)-smaller to "
    "its larger endpoint, wedges are generated only at each vertex's "
    "ORIENTED out-neighbors, and a triangle is a wedge whose closing "
    "oriented edge exists. Out-degrees under this orientation are "
    "bounded by O(sqrt(|E|)) regardless of raw degree skew, so the "
    "wedge join — the step that explodes at a celebrity/hub vertex in "
    "the naive a<b<c three-way self-join — stays balanced at 100 TB "
    "(the oracle IS that naive three-way join, which is fine at oracle "
    "scale and proves the orientation produces the identical triangle "
    "set). Per-user participation counts come from exploding each "
    "triangle's three vertices — orientation-invariant, so they "
    "hash-match the id-ordered oracle exactly. Buckets compare as "
    "epoch-second integers on both engines (UTC, never formatted), and "
    "every output is bigint.",
)
def b26_triangle_count(spark, sf_dir):
    from ..operators.graph import cooccurrence_cells, cooccurrence_pairs

    ev = load_table(spark, sf_dir, "events")
    g = cooccurrence_cells(ev, 600)
    e = (
        cooccurrence_pairs(g)
        .distinct()
        # e is consumed 3x (degrees, both orientation joins) and `oriented`
        # below 3x more; without materialization every reuse re-runs the
        # co-occurrence self-join lineage — measured 69 shuffles / 386 plan
        # nodes before, ~10 shuffles after. Same lineage-truncation pattern
        # as connected_components (operators/dedup.py).
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("ua").alias("u"))
        .unionAll(e.select(F.col("ub").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(F.col("u").alias("ua"), F.col("degree").alias("dega"))
    db = deg.select(F.col("u").alias("ub"), F.col("degree").alias("degb"))
    ek = e.join(da, "ua").join(db, "ub")
    # orient from (degree, id)-smaller endpoint to larger
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("ua") < F.col("ub"))
    )
    # r15 (guide §1.2 "per-task work"): the wedge join evaluates its
    # non-equi condition ~29M times (sum of per-src out-degree squares at
    # sf0.1); the 4-branch (deg, id) lexicographic boolean was ~37% of the
    # entry's exec. Emit the order as ONE struct column instead — struct
    # `<` IS lexicographic compare, so `ordk < ordk` is the identical
    # total order in a single comparison. Scale-safe for any id type (no
    # 32-bit packing assumption); measured 3.89 -> 2.44 s isolated-min.
    oriented = ek.select(
        F.when(a_first, F.col("ua")).otherwise(F.col("ub")).alias("src"),
        F.when(a_first, F.col("ub")).otherwise(F.col("ua")).alias("dst"),
        F.struct(
            F.when(a_first, F.col("degb")).otherwise(F.col("dega")).alias("d"),
            F.when(a_first, F.col("ub")).otherwise(F.col("ua")).alias("i"),
        ).alias("ordk"),
    ).localCheckpoint()
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (F.col("o1.ordk") < F.col("o2.ordk")),
    ).select(
        F.col("o1.src").alias("x"),
        F.col("o1.dst").alias("y"),
        F.col("o2.dst").alias("z"),
    )
    closing = oriented.select(
        F.col("src").alias("y"), F.col("dst").alias("z")
    )
    tri = wedges.join(closing, ["y", "z"])
    peru = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("u"))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        deg.join(peru, "u", "left")
        .select(
            F.col("u").alias("user_id"),
            "degree",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("tri_count"),
        )
    )


@query(
    "b26_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE chain AS (
        SELECT c_custkey AS custkey, c_custkey AS root, 0 AS depth
        FROM customer WHERE c_custkey < 10
        UNION ALL
        SELECT c.c_custkey, ch.root, ch.depth + 1
        FROM customer c JOIN chain ch ON c.c_custkey // 10 = ch.custkey
        WHERE c.c_custkey >= 10
    )
    SELECT depth, count(*) AS n, CAST(sum(custkey) AS BIGINT) AS key_sum,
           count(DISTINCT root) AS n_roots
    FROM chain GROUP BY depth
    """,
    doc="B26 (r9): Spark 4 RECURSIVE CTE (SPARK-24497, new SQL surface in "
    "4.0) walking a reporting hierarchy — each customer's manager is "
    "c_custkey DIV 10, roots are custkeys < 10, so the chain depth is "
    "the key's digit count and the closure is exact and cycle-free by "
    "construction. Until 4.0 this took a driver-side loop (the suite's "
    "connected-components operators do exactly that); WITH RECURSIVE "
    "moves the iteration INTO Catalyst: each step is a join of the "
    "previous frontier against the base table, unioned until the "
    "frontier empties, with spark.sql.cteRecursionLevelLimit (default "
    "100) as the runaway guard — depth here is log10(max key), ~7 at "
    "100 TB, and each frontier join is an equi-join that AQE sizes per "
    "step. The DuckDB oracle runs the IDENTICAL recursive SQL (// vs "
    "DIV is the only dialect delta), so the hash match proves the two "
    "engines' fixpoint semantics agree level by level (per-depth counts "
    "+ key sums + root counts fingerprint every level of the closure). "
    "Integer-only output.",
)
def b26_recursive_hierarchy(spark, sf_dir):
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "rc_customer"
    )
    return spark.sql("""
        WITH RECURSIVE chain AS (
            SELECT c_custkey AS custkey, c_custkey AS root, 0 AS depth
            FROM rc_customer WHERE c_custkey < 10
            UNION ALL
            SELECT c.c_custkey, ch.root, ch.depth + 1
            FROM rc_customer c JOIN chain ch ON c.c_custkey DIV 10 = ch.custkey
            WHERE c.c_custkey >= 10
        )
        SELECT depth, count(*) AS n, sum(custkey) AS key_sum,
               count(DISTINCT root) AS n_roots
        FROM chain GROUP BY depth
    """)


# PageRank fixed-point scale: ranks are integers in units of 1e-6 "mass"
# so every contribution is integer-divided identically on both engines
# (Spark DIV == DuckDB // for non-negative operands) and sums are exact
# bigint arithmetic — order-independent, hence cross-engine hashable.
_PR_SCALE = 1_000_000
_PR_ITERS = 3


@query(
    "b26_pagerank_fixedpoint",
    oracle=f"""
    WITH g AS (
        SELECT DISTINCT event_type,
               CAST(floor(epoch(ts) / 600) AS BIGINT) AS bucket, user_id
        FROM events
    ),
    und AS (
        SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
        FROM g a JOIN g b
          ON a.event_type = b.event_type AND a.bucket = b.bucket
         AND a.user_id < b.user_id
    ),
    e AS (SELECT ua, ub FROM und UNION ALL SELECT ub, ua FROM und),
    deg AS (SELECT ua AS u, count(*) AS deg FROM e GROUP BY ua),
    r0 AS (SELECT u, CAST({_PR_SCALE} AS BIGINT) AS rank FROM deg),
    r1 AS (
        SELECT e.ub AS u,
               150000 + CAST(sum((r0.rank * 85) // (100 * d.deg)) AS BIGINT)
                   AS rank
        FROM e JOIN r0 ON e.ua = r0.u JOIN deg d ON e.ua = d.u GROUP BY e.ub
    ),
    r2 AS (
        SELECT e.ub AS u,
               150000 + CAST(sum((r1.rank * 85) // (100 * d.deg)) AS BIGINT)
                   AS rank
        FROM e JOIN r1 ON e.ua = r1.u JOIN deg d ON e.ua = d.u GROUP BY e.ub
    ),
    r3 AS (
        SELECT e.ub AS u,
               150000 + CAST(sum((r2.rank * 85) // (100 * d.deg)) AS BIGINT)
                   AS rank
        FROM e JOIN r2 ON e.ua = r2.u JOIN deg d ON e.ua = d.u GROUP BY e.ub
    )
    SELECT r3.u AS user_id, deg.deg AS degree, r3.rank
    FROM r3 JOIN deg ON r3.u = deg.u
    """,
    doc="B26 (r9): PageRank (3 damped iterations, d=0.85) over the user "
    "co-occurrence graph b26_triangle_count defines — the canonical "
    "ITERATIVE graph algorithm the suite lacked between one-shot "
    "closures (connected components) and local counting (triangles). "
    "Determinism is the hard part cross-engine: double rank sums are "
    "order-dependent, and the harness compares floats bit-exact. So "
    "ranks live in FIXED-POINT bigints (1e-6 mass units): each "
    "contribution is (rank*85) DIV (100*deg) — integer division that "
    "Spark's DIV and DuckDB's // evaluate identically for non-negative "
    "operands (NOT a double divide + cast: Spark casts doubles by "
    "truncation, DuckDB by rounding — 937 of 4074 first-iteration "
    "contributions differ between those, measured) — and the per-node "
    "sum is exact bigint arithmetic, associative under any shuffle "
    "order. The Spark side iterates a join+groupBy per step over a "
    "localCheckpoint()ed edge list, but deliberately does NOT "
    "checkpoint ranks between iterations — measured both ways "
    "(docs/SCALE.md \"PageRank iteration lineage\"): with ONE terminal "
    "action the lazy "
    "chain executes each iteration exactly once anyway (shuffle "
    "boundaries materialize map outputs), and per-iteration "
    "checkpoints only add cost (2.2 vs 1.3 s at 12 iters); the "
    "checkpoint earns its keep when each iteration runs its own "
    "ACTION (a convergence probe), where lazy re-executes the full "
    "prefix per probe — quadratic, measured 7.4 vs 3.0 s at 8 iters, "
    "crossover at ~3. That probe-per-iteration shape is how real "
    "PageRank runs at 100 TB, so the rule (checkpoint iff an action "
    "per iteration) is the load-bearing finding, same "
    "measurement-over-dogma call as b26_triangle_count vs "
    "prefix-filter. The oracle unrolls the identical three iterations "
    "as chained CTEs. Symmetrized edges mean no dangling nodes; every "
    "output column is bigint.",
)
def b26_pagerank_fixedpoint(spark, sf_dir):
    from ..operators.graph import cooccurrence_cells, cooccurrence_pairs

    ev = load_table(spark, sf_dir, "events")
    g = cooccurrence_cells(ev, 600)
    und = cooccurrence_pairs(g).distinct()
    # materialize the symmetrized edge list once: it feeds deg + one join
    # per iteration (4 consumers), and the co-occurrence self-join above
    # is the expensive subplan no ReusedExchange spans across iterations
    edges = (
        und.select("ua", "ub")
        .union(und.select(F.col("ub").alias("ua"), F.col("ua").alias("ub")))
        .localCheckpoint()
    )
    deg = edges.groupBy("ua").agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select(
        F.col("ua").alias("u"), F.lit(_PR_SCALE).cast("bigint").alias("rank")
    )
    # every side grows with the graph: SHUFFLE_HASH pins the joins AQE raced
    # (build: the per-node ranks and degrees, one row per node)
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks.hint("shuffle_hash"), edges.ua == ranks.u)
            .join(
                deg.withColumnRenamed("ua", "du").hint("shuffle_hash"),
                F.col("du") == F.col("u"),
            )
            .select(
                F.col("ub").alias("u2"),
                F.expr("(rank * 85) DIV (100 * deg)").alias("c"),
            )
        )
        # no per-iteration localCheckpoint: single terminal action, so the
        # lazy chain executes each step once (see docstring / ladder)
        ranks = (
            contrib.groupBy("u2")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("u2").alias("u"),
                (F.lit(150_000).cast("bigint") + F.col("s")).alias("rank"),
            )
        )
    return ranks.join(deg.hint("shuffle_hash"), ranks.u == deg.ua).select(
        F.col("u").alias("user_id"), F.col("deg").alias("degree"), "rank"
    )


@query(
    "b26_bfs_levels",
    oracle="""
    WITH RECURSIVE g AS (
        SELECT DISTINCT event_type,
               CAST(floor(epoch(ts) / 60) AS BIGINT) AS bucket,
               user_id
        FROM events
    ),
    ed AS (
        SELECT DISTINCT a.user_id AS src, b.user_id AS dst
        FROM g a JOIN g b
          ON a.event_type = b.event_type AND a.bucket = b.bucket
         AND a.user_id <> b.user_id
    ),
    seeds AS (
        SELECT DISTINCT user_id FROM g WHERE user_id % 50 = 0
    ),
    r AS (
        SELECT user_id AS node, 0 AS lvl FROM seeds
        UNION
        SELECT ed.dst AS node, r.lvl + 1 AS lvl
        FROM r JOIN ed ON ed.src = r.node
        WHERE r.lvl < 3
    )
    SELECT node AS user_id, CAST(min(lvl) AS BIGINT) AS level
    FROM r GROUP BY node
    """,
    doc="B26 (r9): multi-source BFS hop distance over the user "
    "co-occurrence graph (users sharing an (event_type, 60-second) cell "
    "are adjacent; seeds = user_id % 50 == 0; levels capped at 3) — the "
    "reachability/blast-radius primitive next to PageRank (importance), "
    "triangle count (cohesion), and connected components (partition). "
    "Implemented as ITERATIVE FRONTIER EXPANSION, the textbook "
    "distributed BFS: per level, the frontier equi-joins the (src,dst) "
    "edge list, dedups, and anti-joins the visited set so each vertex "
    "is labeled exactly once with its MINIMUM hop count; every step is "
    "an equi-join/distinct (shuffle on user_id — no broadcast of the "
    "visited set needed and no all-pairs anything), and the edge list "
    "is localCheckpoint()ed because all 3 levels consume it (the "
    "triangle-count lineage-truncation pattern; the 3-deep lazy "
    "frontier chain executes once under the single terminal action per "
    "the PageRank ladder's measurement, so per-level checkpoints of the "
    "frontier itself would only add cost). The oracle is a recursive "
    "CTE with UNION (not UNION ALL) dedup semantics, which bounds the "
    "DuckDB row set at nodes x levels instead of path enumeration — "
    "and min(lvl) collapses both engines to the same hop distances, so "
    "the hash match proves the frontier expansion finds exactly the "
    "recursive closure. At 100 TB the frontier/visited anti-join is "
    "the right shape: state per level is O(reached vertices), edges "
    "stream through an equi-join AQE can size, and level depth — not "
    "graph size — bounds the plan.",
)
def b26_bfs_levels(spark, sf_dir):
    from ..operators.graph import cooccurrence_cells, cooccurrence_pairs

    ev = load_table(spark, sf_dir, "events")
    g = cooccurrence_cells(ev, 60)
    ed = (
        cooccurrence_pairs(g, directed=True)
        .select(F.col("ua").alias("src"), F.col("ub").alias("dst"))
        .distinct()
        # consumed once per BFS level — truncate the self-join lineage
        .localCheckpoint()
    )
    seeds = g.select("user_id").distinct().filter(F.col("user_id") % 50 == 0)
    visited = seeds.select("user_id", F.lit(0).alias("level"))
    frontier = seeds
    for lvl in (1, 2, 3):
        nxt = (
            frontier.join(ed, frontier["user_id"] == ed["src"])
            .select(F.col("dst").alias("user_id"))
            .distinct()
            .join(visited.select("user_id"), "user_id", "left_anti")
        )
        visited = visited.unionByName(nxt.select("user_id", F.lit(lvl).alias("level")))
        frontier = nxt
    return visited.select("user_id", F.col("level").cast("bigint").alias("level"))


@query(
    "b26_kcore",
    oracle="""
    WITH g AS (
        SELECT DISTINCT event_type,
               CAST(floor(epoch(ts) / 60) AS BIGINT) AS bucket,
               user_id
        FROM events
    ),
    e0 AS (
        SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
        FROM g a JOIN g b
          ON a.event_type = b.event_type AND a.bucket = b.bucket
         AND a.user_id < b.user_id
    ),
    d1 AS (SELECT v, count(*) AS deg
           FROM (SELECT ua AS v FROM e0 UNION ALL SELECT ub FROM e0)
           GROUP BY v),
    e1 AS (SELECT ua, ub FROM e0
           WHERE ua IN (SELECT v FROM d1 WHERE deg >= 2)
             AND ub IN (SELECT v FROM d1 WHERE deg >= 2)),
    d2 AS (SELECT v, count(*) AS deg
           FROM (SELECT ua AS v FROM e1 UNION ALL SELECT ub FROM e1)
           GROUP BY v),
    e2 AS (SELECT ua, ub FROM e1
           WHERE ua IN (SELECT v FROM d2 WHERE deg >= 2)
             AND ub IN (SELECT v FROM d2 WHERE deg >= 2)),
    d3 AS (SELECT v, count(*) AS deg
           FROM (SELECT ua AS v FROM e2 UNION ALL SELECT ub FROM e2)
           GROUP BY v),
    e3 AS (SELECT ua, ub FROM e2
           WHERE ua IN (SELECT v FROM d3 WHERE deg >= 2)
             AND ub IN (SELECT v FROM d3 WHERE deg >= 2))
    SELECT v AS user_id, CAST(count(*) AS BIGINT) AS core_degree
    FROM (SELECT ua AS v FROM e3 UNION ALL SELECT ub AS v FROM e3)
    GROUP BY v
    """,
    doc="B26 (r9): K-CORE DECOMPOSITION (k=2, 3 peel rounds) over the same "
    "60-second co-occurrence graph as b26_bfs_levels — completing the "
    "graph-primitive family: PageRank (importance), triangles "
    "(cohesion), connected components (partition), BFS (reachability), "
    "k-core (density). Implemented as ITERATIVE PEELING, the textbook "
    "distributed algorithm: per round, per-vertex degree (one "
    "map-side-combinable groupBy over the exploded endpoints), then two "
    "LEFT SEMI joins keep only edges whose BOTH endpoints survive — "
    "every step an equi-join/aggregate, state shrinks monotonically, "
    "and the round count (not graph size) bounds plan depth. Each "
    "round's edge set is localCheckpoint()ed: unlike PageRank's lazy "
    "rank chain (ONE consumer per step), e_r here feeds FOUR subtree "
    "copies in round r+1 (two UNION ALL endpoint scans + two semi-join "
    "probes), so the lazy tree grows 4^rounds replicas of the expensive "
    "co-occurrence self-join — the triangle-count materialization rule, "
    "measured in docs/SCALE.md \"k-core ladder\". Peeling is MEASURED "
    "CONVERGENT "
    "at sf0.01 before the last round (edge sizes 207 -> 176 -> 172 -> "
    "172; a pytest pins that a 4th peel is the identity), so the fixed "
    "3-round output IS the true 2-core at the tested scales, not an "
    "approximation — the IVF-recall treatment of a fixpoint algorithm "
    "run for fixed rounds. The oracle unrolls the identical 3 peels as "
    "chained CTEs with IN-subquery semi-joins; every output is bigint, "
    "so the hash match replays each round's survivor set exactly. At "
    "sf0.001 the 60-second graph has no 2-core (empty result) — the "
    "degenerate case is part of the contract and the zero-row pytest.",
)
def b26_kcore(spark, sf_dir):
    from ..operators.graph import cooccurrence_cells, cooccurrence_pairs

    ev = load_table(spark, sf_dir, "events")
    g = cooccurrence_cells(ev, 60)
    e = cooccurrence_pairs(g).distinct().localCheckpoint()
    for _ in range(3):
        deg = (
            e.select(F.col("ua").alias("v"))
            .unionByName(e.select(F.col("ub").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= 2).select("v")
        e = (
            e.join(keep.withColumnRenamed("v", "ua"), "ua", "left_semi")
            .join(keep.withColumnRenamed("v", "ub"), "ub", "left_semi")
            .select("ua", "ub")
            .localCheckpoint()
        )
    return (
        e.select(F.col("ua").alias("user_id"))
        .unionByName(e.select(F.col("ub").alias("user_id")))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
    )


@query(
    "b26_sssp_bounded",
    oracle="""
    WITH g AS (
        SELECT DISTINCT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 60 AS bucket,
               user_id
        FROM events
    ),
    p AS (
        SELECT a.user_id AS ua, b.user_id AS ub,
               count(*) AS cnt
        FROM g a JOIN g b
          ON a.event_type = b.event_type AND a.bucket = b.bucket
         AND a.user_id < b.user_id
        GROUP BY 1, 2
    ),
    e AS (
        SELECT ua, ub, greatest(1, 10 - cnt) AS w FROM p
        UNION ALL
        SELECT ub, ua, greatest(1, 10 - cnt) AS w FROM p
    ),
    src AS (SELECT min(ua) AS s FROM e),
    d0 AS (SELECT s AS v, 0 AS d FROM src),
    d1 AS (SELECT v, min(d) AS d FROM (
        SELECT v, d FROM d0
        UNION ALL
        SELECT e.ub AS v, d0.d + e.w AS d FROM d0 JOIN e ON e.ua = d0.v
    ) GROUP BY v),
    d2 AS (SELECT v, min(d) AS d FROM (
        SELECT v, d FROM d1
        UNION ALL
        SELECT e.ub AS v, d1.d + e.w AS d FROM d1 JOIN e ON e.ua = d1.v
    ) GROUP BY v),
    d3 AS (SELECT v, min(d) AS d FROM (
        SELECT v, d FROM d2
        UNION ALL
        SELECT e.ub AS v, d2.d + e.w AS d FROM d2 JOIN e ON e.ua = d2.v
    ) GROUP BY v),
    d4 AS (SELECT v, min(d) AS d FROM (
        SELECT v, d FROM d3
        UNION ALL
        SELECT e.ub AS v, d3.d + e.w AS d FROM d3 JOIN e ON e.ua = d3.v
    ) GROUP BY v)
    SELECT v AS user_id, CAST(d AS BIGINT) AS dist FROM d4
    """,
    doc="B26 (r9): BOUNDED-HOP WEIGHTED SHORTEST PATH (4-round "
    "Bellman-Ford) from the minimum-id user over the 60-second "
    "co-occurrence graph — the weighted companion to b26_bfs_levels "
    "(hop COUNT) and the cost-aware question behind influence radius "
    "and routing: cheapest path cost using at most 4 edges, where an "
    "edge's cost is an affinity inverse (w = max(1, 10 - shared "
    "contexts): users who co-occur often are 'closer'). Bounded-hop is "
    "the SPEC, not an approximation — d_r(v) is exactly min cost over "
    "paths of <=r edges, a well-defined quantity the unrolled oracle "
    "replays round for round (all-integer weights, no float "
    "accumulation) — so unlike open-ended convergence loops the entry "
    "is correct at every scale by construction. Per round one "
    "equi-join (frontier x edges), a union, and a map-side-combinable "
    "min-groupBy; the edge list is localCheckpoint()ed once (consumed "
    "all 4 rounds) and each d_r is localCheckpoint()ed per the k-core "
    "fan-out rule (d_r feeds BOTH the union and the join in round "
    "r+1 — the 2-consumer case; the k-core ladder (docs/SCALE.md) "
    "measured the "
    "lazy alternative's Catalyst tree DNF). Relaxation never "
    "all-pairs: the join moves only (frontier x avg-degree) rows per "
    "round; at 100 TB the same plan is r scans of a bucketed edge "
    "table with AQE splitting hub-vertex skew.",
)
def b26_sssp_bounded(spark, sf_dir):
    from ..operators.graph import cooccurrence_cells, cooccurrence_pairs

    ev = load_table(spark, sf_dir, "events")
    g = cooccurrence_cells(ev, 60)
    p = (
        cooccurrence_pairs(g)
        .groupBy("ua", "ub")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "ua", "ub", F.greatest(F.lit(1), F.lit(10) - F.col("cnt")).alias("w")
        )
    )
    e = p.unionByName(
        p.select(F.col("ub").alias("ua"), F.col("ua").alias("ub"), "w")
    ).localCheckpoint()
    src = e.agg(F.min("ua").alias("v"))
    d = src.select("v", F.lit(0).cast("bigint").alias("d")).localCheckpoint()
    for _ in range(4):
        relaxed = d.join(e, d["v"] == e["ua"]).select(
            e["ub"].alias("v"), (d["d"] + e["w"]).alias("d")
        )
        d = (
            d.unionByName(relaxed)
            .groupBy("v")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
    return d.select(F.col("v").alias("user_id"), F.col("d").cast("bigint").alias("dist"))


@query(
    "b26_attribution_last_touch",
    oracle="""
    WITH e AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS tsec, ts
        FROM events
    ),
    marked AS (
        SELECT event_id, user_id, event_type, tsec,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_id END IGNORE NULLS)
                   OVER w AS t_id,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS)
                   OVER w AS t_type,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN tsec END IGNORE NULLS)
                   OVER w AS t_ts
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           CASE WHEN t_ts IS NOT NULL AND tsec - t_ts <= 1800
                THEN t_id END AS touch_event_id,
           CASE WHEN t_ts IS NOT NULL AND tsec - t_ts <= 1800
                THEN t_type END AS touch_type,
           CASE WHEN t_ts IS NOT NULL AND tsec - t_ts <= 1800
                THEN tsec - t_ts END AS lag_s
    FROM marked WHERE event_type = 'purchase'
    """,
    doc="B26 (r9): LAST-TOUCH ATTRIBUTION — for every purchase, the most "
    "recent click/view by the same user within a 30-minute lookback, or "
    "NULL if the purchase was unattributable: the conversion-credit "
    "question behind every marketing/behavioral funnel, and a "
    "same-relation as-of join (b05) expressed without one — a "
    "conditional running last_value(... IGNORE NULLS) carries the "
    "latest touch forward INSIDE the one per-user window pass, so no "
    "self-join, no second scan of events, one exchange (plan-asserted "
    "single Window). The ROWS frame is safe here for the same reason "
    "as b25_ewma_dyadic: ORDER BY (ts, event_id) is a total order "
    "(unique tiebreak), so the running last is a function of the data "
    "— and a tied-timestamp touch attributes only if its event_id "
    "orders before the purchase, a documented, deterministic edge. "
    "The 1800 s lookback is enforced AFTER the carry (touch older than "
    "the window -> NULL, not 'next older touch' — exactly last-touch "
    "semantics, not as-of-with-tolerance semantics; the difference is "
    "the point of the entry). All three carried fields ride the same "
    "frame so their NULLs coincide. At 100 TB: one shuffle keyed by "
    "user, linear state per partition, skewed users split by AQE; the "
    "NULL rows are retained because unattributed-rate is the metric "
    "the pipeline monitors.",
)
def b26_attribution_last_touch(spark, sf_dir):
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("tsec"),
        "ts",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_touch = F.col("event_type").isin("click", "view")
    marked = e.select(
        "event_id",
        "user_id",
        "event_type",
        "tsec",
        F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("t_id"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("t_type"),
        F.last(F.when(is_touch, F.col("tsec")), ignorenulls=True)
        .over(w)
        .alias("t_ts"),
    )
    in_window = F.col("t_ts").isNotNull() & (
        (F.col("tsec") - F.col("t_ts")) <= 1800
    )
    return marked.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.when(in_window, F.col("t_id")).alias("touch_event_id"),
        F.when(in_window, F.col("t_type")).alias("touch_type"),
        F.when(in_window, F.col("tsec") - F.col("t_ts")).alias("lag_s"),
    )


@query(
    "b26_top_paths",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(sum(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS sid
        FROM marked
    ),
    capped AS (
        SELECT user_id, sid, ts, event_id, event_type,
               row_number() OVER (PARTITION BY user_id, sid
                                  ORDER BY ts, event_id) AS rn
        FROM sess
    ),
    paths AS (
        SELECT user_id, sid,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM capped WHERE rn <= 8 GROUP BY user_id, sid
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path ASC LIMIT 10
    """,
    doc="B26 (r9): TOP CONVERTING PATHS — the 10 most common session "
    "journeys (ordered event_type sequences, capped at the first 8 "
    "steps) with session counts: the sequence-mining question behind "
    "'how do users actually move through the product', which the "
    "pairwise views (b26_transition_bigrams: Markov edges; b26_funnel: "
    "one fixed sequence) cannot answer — a path is the WHOLE ordered "
    "journey. Reuses b08_sessionize's gaps-and-islands numbering "
    "verbatim (30-min gap, (ts, event_id) total order), then builds "
    "each session's path by the suite's order-explicit reassembly rule "
    "(b13_repeated_span_dedup): collect structs keyed by the total "
    "order, array_sort, slice 8, array_join — NEVER collect_list's "
    "arrival order, which is partition-layout-dependent and would "
    "flake the hash. The sid cumsum runs ROWS-framed over the SAME "
    "total order on both engines (the b08_sessionize oracle orders by "
    "ts alone — safe only while per-user ts ties never straddle a "
    "session mark; this entry closes that latent ambiguity rather "
    "than inheriting it). Top-10 is (count DESC, path ASC) — path is "
    "the group key, so the composite sort is a total order and the "
    "cut is tie-proof. Plan: one user_id exchange carries both "
    "windows AND the (user, sid) groupBy (subset clustering); the "
    "path-count groupBy is map-side combined; the final cut is a "
    "TakeOrdered heap, not a global sort (plan-asserted). At 100 TB "
    "paths are bounded strings (<=8 types), the shuffle after "
    "session assembly carries one row per session, and hot paths are "
    "just hot groupBy keys — AQE territory, nothing all-pairs.",
)
def b26_top_paths(spark, sf_dir):
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("new_session"),
    )
    sess = marked.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("new_session").over(w_cum).cast("bigint").alias("sid"),
    )
    paths = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("ts").cast("long").alias("t"),
                                    F.col("event_id").alias("i"),
                                    F.col("event_type").alias("y"),
                                )
                            )
                        ),
                        lambda x: x["y"],
                    ),
                    1,
                    8,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(10)
    )


@query(
    "b26_clustering_coeff",
    oracle="""
    WITH g AS (
        SELECT DISTINCT event_type,
               CAST(floor(epoch(ts) / 600) AS BIGINT) AS bucket,
               user_id
        FROM events
    ),
    e AS (
        SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
        FROM g a JOIN g b
          ON a.event_type = b.event_type AND a.bucket = b.bucket
         AND a.user_id < b.user_id
    ),
    deg AS (
        SELECT u, count(*) AS degree FROM (
            SELECT ua AS u FROM e UNION ALL SELECT ub FROM e
        ) GROUP BY u
    ),
    tri AS (
        SELECT count(*) AS t
        FROM e e1
        JOIN e e2 ON e2.ua = e1.ub
        JOIN e e3 ON e3.ua = e1.ua AND e3.ub = e2.ub
    ),
    w AS (
        SELECT sum(degree * (degree - 1) // 2) AS wedges FROM deg
    )
    SELECT CAST(tri.t AS BIGINT) AS n_triangles,
           CAST(w.wedges AS BIGINT) AS n_wedges,
           CAST(3 * tri.t AS DOUBLE) / w.wedges AS global_cc
    FROM tri, w
    """,
    doc="B26 (r9): GLOBAL CLUSTERING COEFFICIENT (transitivity) of the "
    "10-minute co-occurrence graph — C = 3*triangles / wedges, the "
    "one-number answer to 'is this graph clique-ish or star-ish' that "
    "raw triangle counts (b26_triangle_count) can't give because T "
    "only means something relative to the wedge opportunity count. "
    "Completes the graph-topology family: count (triangles), "
    "components (CC), distance (BFS/SSSP), centrality (PageRank), "
    "cohesion (k-core), and now transitivity. Triangles reuse the "
    "Suri-Vassilvitskii degree-ordered orientation (each triangle "
    "counted exactly once from its degree-smallest vertex, wedge "
    "fan-out bounded O(sqrt(E)) under skew); wedges are a pure "
    "degree-table fold (sum deg*(deg-1)/2 — exact bigints, "
    "map-side-combined). 3T and W stay integers; the coefficient is "
    "ONE correctly-rounded division at the edge. The oracle counts "
    "triangles by the naive three-way join — the differential proves "
    "the oriented count identical, the same lossless contract as the "
    "parent entry. At 100 TB: wedges cost one degree aggregate; the "
    "triangle join is the bounded-orientation one the parent entry's "
    "ladder measured; nothing new shuffles.",
)
def b26_clustering_coeff(spark, sf_dir):
    from ..operators.graph import cooccurrence_cells, cooccurrence_pairs

    ev = load_table(spark, sf_dir, "events")
    g = cooccurrence_cells(ev, 600)
    e = cooccurrence_pairs(g).distinct().localCheckpoint()
    deg = (
        e.select(F.col("ua").alias("u"))
        .unionAll(e.select(F.col("ub").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint()
    )
    wedges = deg.agg(
        F.sum(F.expr("degree * (degree - 1) DIV 2")).alias("wedges")
    )
    da = deg.select(F.col("u").alias("ua"), F.col("degree").alias("dega"))
    db = deg.select(F.col("u").alias("ub"), F.col("degree").alias("degb"))
    ek = e.join(da, "ua").join(db, "ub")
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("ua") < F.col("ub"))
    )
    oriented = ek.select(
        F.when(a_first, F.col("ua")).otherwise(F.col("ub")).alias("src"),
        F.when(a_first, F.col("ub")).otherwise(F.col("ua")).alias("dst"),
    ).localCheckpoint()
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    # every side grows with the graph: SHUFFLE_HASH pins the joins AQE raced
    # (build: the oriented edges keyed by src, and the closing edge set)
    wedge_pairs = o1.join(
        o2.hint("shuffle_hash"), F.col("o1.src") == F.col("o2.src")
    ).filter(F.col("o1.dst") < F.col("o2.dst"))
    # a wedge closes iff (dst1, dst2) is an edge in EITHER orientation.
    # r15 (guide §2.4 "remove shuffles outright"): the old form re-derived
    # the undirected edge set from `oriented` (union of both orientations
    # -> filter x < y -> distinct: one full exchange + dedup of 2|E| rows
    # per run). But `oriented` is a bijective re-orientation of `e`, and
    # `e` is ALREADY that canonical (ua < ub, distinct, checkpointed) set
    # — {(min(src,dst), max(src,dst))} over oriented == e exactly. Use it
    # directly: the union/filter/distinct exchange disappears from the
    # plan (14 -> fewer Exchange nodes) and the result is provably
    # identical (oracle unchanged, re-verified at 3 SFs).
    closer = e.select(F.col("ua").alias("x"), F.col("ub").alias("y"))
    tri = (
        wedge_pairs.join(
            closer.hint("shuffle_hash"),
            (F.col("o1.dst") == F.col("x")) & (F.col("o2.dst") == F.col("y")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return tri.crossJoin(F.broadcast(wedges)).select(
        F.col("t").cast("bigint").alias("n_triangles"),
        F.col("wedges").cast("bigint").alias("n_wedges"),
        ((F.lit(3) * F.col("t")).cast("double") / F.col("wedges")).alias(
            "global_cc"
        ),
    )


@query(
    "b26_assortativity",
    oracle="""
    WITH g AS (
        SELECT DISTINCT event_type,
               CAST(floor(epoch(ts) / 600) AS BIGINT) AS bucket,
               user_id
        FROM events
    ),
    e AS (
        SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
        FROM g a JOIN g b
          ON a.event_type = b.event_type AND a.bucket = b.bucket
         AND a.user_id < b.user_id
    ),
    deg AS (
        SELECT u, count(*) AS d FROM (
            SELECT ua AS u FROM e UNION ALL SELECT ub FROM e
        ) GROUP BY u
    ),
    pairs AS (
        SELECT da.d AS x, db.d AS y
        FROM e JOIN deg da ON da.u = e.ua JOIN deg db ON db.u = e.ub
        UNION ALL
        SELECT db.d AS x, da.d AS y
        FROM e JOIN deg da ON da.u = e.ua JOIN deg db ON db.u = e.ub
    ),
    m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * x) AS DOUBLE) AS sxx,
               CAST(sum(y * y) AS DOUBLE) AS syy,
               CAST(sum(x * y) AS DOUBLE) AS sxy
        FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_endpoints,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
               AS assortativity
    FROM m
    """,
    doc="B26 (r9): DEGREE ASSORTATIVITY of the co-occurrence graph — "
    "Pearson correlation of endpoint degrees over the symmetrized "
    "edge list (Newman 2002): do hubs attach to hubs (positive) or "
    "to leaves (negative)? The last number in the graph-stats panel "
    "(clustering coefficient says how cliquish, assortativity says "
    "WHO cliques with whom), and it decides real plan choices: "
    "disassortative hub-leaf graphs are exactly where the "
    "b26_triangle_count degree-orientation and AQE skew-splitting "
    "pay. Method is the b06_correlation_exact_moments contract "
    "applied to graph data: degree moments are exact bigints "
    "(symmetrizing via UNION ALL makes x/y marginals identical and "
    "the coefficient the standard undirected r), each moment casts "
    "to double ONCE (degrees are tiny — far inside the 2^53 exact "
    "range), and the final expression is the identical "
    "add/mul/div/sqrt IEEE tree on both engines — built-in corr() "
    "could never hash. Joins are the same degree-annotation "
    "equi-joins as the triangle family; one scalar output row.",
)
def b26_assortativity(spark, sf_dir):
    from ..operators.graph import cooccurrence_cells, cooccurrence_pairs

    ev = load_table(spark, sf_dir, "events")
    g = cooccurrence_cells(ev, 600)
    e = cooccurrence_pairs(g).distinct().localCheckpoint()
    deg = (
        e.select(F.col("ua").alias("u"))
        .unionAll(e.select(F.col("ub").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("u").alias("ua"), F.col("d").alias("dx"))
    db = deg.select(F.col("u").alias("ub"), F.col("d").alias("dy"))
    # the degree sides grow with the graph: SHUFFLE_HASH pins the joins AQE
    # raced (build: the per-node degrees, one row per node)
    ek = e.join(da.hint("shuffle_hash"), "ua").join(db.hint("shuffle_hash"), "ub")
    pairs = ek.select(
        F.col("dx").alias("x"), F.col("dy").alias("y")
    ).unionAll(ek.select(F.col("dy").alias("x"), F.col("dx").alias("y")))
    m = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        n.cast("bigint").alias("n_endpoints"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("assortativity"),
    )


@query(
    "b26_cooccurrence_skew_guard",
    oracle="""
    WITH cells AS (
        SELECT DISTINCT event_type,
               CAST(floor(epoch(ts) / 60) AS BIGINT) AS bucket,
               user_id
        FROM events
    ),
    census AS (
        SELECT event_type, bucket,
               CAST(count(*) AS BIGINT) AS cell_rows,
               CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS pair_fanout
        FROM cells GROUP BY 1, 2
    )
    SELECT event_type, bucket, cell_rows, pair_fanout
    FROM census
    ORDER BY pair_fanout DESC, event_type ASC, bucket ASC
    LIMIT 20
    """,
    doc="B26 (r10): the HOT-CELL CENSUS behind the graph family's shared "
    "co-occurrence edge build (operators/graph.py, VERDICT r9 #2) — the "
    "audit a pipeline runs BEFORE paying for the quadratic cell "
    "self-join: per (event_type, 60 s bucket) cell, its membership count "
    "and the c*(c-1)/2 candidate-pair fan-out it would contribute, top-20 "
    "by fan-out with a full (fanout DESC, event_type, bucket) tiebreak. "
    "A flash-crowd cell's share of the JOIN work grows quadratically "
    "while its share of the INPUT grows linearly, so this census — one "
    "shuffle carrying one row per cell, TakeOrdered for the top-k (no "
    "single-partition global sort) — is how the r4 corrupted-timestamp "
    "incident class (0.44 s -> 34 s at sf0.1) is caught at plan time at "
    "100 TB: cap, salt, or drop the offenders it names, then build "
    "edges. The same numbers drive the sampled in-line probe "
    "(graph.warn_hot_cells) that every b26 graph entry now runs at "
    "construction; tests/test_graph_guard.py plants a 1000-user bucket "
    "and pins both the warning and the census arithmetic.",
)
def b26_cooccurrence_skew_guard(spark, sf_dir):
    from ..operators.graph import cell_census, cooccurrence_cells

    ev = load_table(spark, sf_dir, "events")
    census = cell_census(cooccurrence_cells(ev, 60))
    return census.orderBy(
        F.col("pair_fanout").desc(), F.col("event_type").asc(), F.col("bucket").asc()
    ).limit(20)


# Shared 4-round synchronous LPA CTE chain (g/ed/l0..l4) — the oracle-side
# twin of _lpa_core, consumed by b26_communities_lpa and b26_modularity so
# the two entries can never drift apart.
_LPA_CTE = """
    g AS (
        SELECT DISTINCT event_type,
               CAST(floor(epoch(ts) / 60) AS BIGINT) AS bucket,
               user_id
        FROM events
    ),
    ed AS (
        SELECT DISTINCT a.user_id AS src, b.user_id AS dst
        FROM g a JOIN g b
          ON a.event_type = b.event_type AND a.bucket = b.bucket
         AND a.user_id <> b.user_id
    ),
    l0 AS (SELECT DISTINCT user_id AS node, user_id AS label FROM g),
    c1 AS (
        SELECT ed.dst AS node, l.label, count(*) AS c
        FROM ed JOIN l0 l ON ed.src = l.node GROUP BY 1, 2
    ),
    v1 AS (
        SELECT node, min(CASE WHEN c = mx THEN label END) AS label
        FROM (SELECT node, label, c, max(c) OVER (PARTITION BY node) AS mx
              FROM c1)
        GROUP BY node
    ),
    l1 AS (SELECT l0.node, coalesce(v1.label, l0.label) AS label
           FROM l0 LEFT JOIN v1 ON v1.node = l0.node),
    c2 AS (
        SELECT ed.dst AS node, l.label, count(*) AS c
        FROM ed JOIN l1 l ON ed.src = l.node GROUP BY 1, 2
    ),
    v2 AS (
        SELECT node, min(CASE WHEN c = mx THEN label END) AS label
        FROM (SELECT node, label, c, max(c) OVER (PARTITION BY node) AS mx
              FROM c2)
        GROUP BY node
    ),
    l2 AS (SELECT l1.node, coalesce(v2.label, l1.label) AS label
           FROM l1 LEFT JOIN v2 ON v2.node = l1.node),
    c3 AS (
        SELECT ed.dst AS node, l.label, count(*) AS c
        FROM ed JOIN l2 l ON ed.src = l.node GROUP BY 1, 2
    ),
    v3 AS (
        SELECT node, min(CASE WHEN c = mx THEN label END) AS label
        FROM (SELECT node, label, c, max(c) OVER (PARTITION BY node) AS mx
              FROM c3)
        GROUP BY node
    ),
    l3 AS (SELECT l2.node, coalesce(v3.label, l2.label) AS label
           FROM l2 LEFT JOIN v3 ON v3.node = l2.node),
    c4 AS (
        SELECT ed.dst AS node, l.label, count(*) AS c
        FROM ed JOIN l3 l ON ed.src = l.node GROUP BY 1, 2
    ),
    v4 AS (
        SELECT node, min(CASE WHEN c = mx THEN label END) AS label
        FROM (SELECT node, label, c, max(c) OVER (PARTITION BY node) AS mx
              FROM c4)
        GROUP BY node
    ),
    l4 AS (SELECT l3.node, coalesce(v4.label, l3.label) AS label
           FROM l3 LEFT JOIN v4 ON v4.node = l3.node)
"""


def _lpa_core(spark, sf_dir, rounds=4):
    """Shared LPA machinery: (labels, edges) after ``rounds`` synchronous
    min-tie-break label-propagation rounds over the 60-second co-occurrence
    graph — consumed by b26_communities_lpa (the partition) and
    b26_modularity (its quality audit). Edge list and per-round label
    relation localCheckpoint()ed per the measured consumer-count policy."""
    from ..operators.graph import cooccurrence_cells, cooccurrence_pairs

    ev = load_table(spark, sf_dir, "events")
    g = cooccurrence_cells(ev, 60)
    ed = (
        cooccurrence_pairs(g, directed=True)
        .select(F.col("ua").alias("src"), F.col("ub").alias("dst"))
        .distinct()
        # r15 (guide §2.4): pre-partition on the per-round join key ONCE —
        # distinct() leaves the checkpoint hash-partitioned on (src, dst),
        # which does NOT satisfy the src equi-join, so every LPA round
        # (and the modularity audit's la-join) was re-shuffling the FULL
        # edge list; after repartition("src") only the much smaller labels
        # side moves each round (same pattern as connected_components).
        .repartition("src")
        # consumed once per LPA round (+3x by the modularity audit) —
        # truncate the self-join lineage
        .localCheckpoint()
    )
    labels = (
        g.select("user_id")
        .distinct()
        .select(F.col("user_id").alias("node"), F.col("user_id").alias("label"))
    )
    for _ in range(rounds):
        votes = (
            ed.join(labels, ed["src"] == labels["node"])
            .groupBy(F.col("dst").alias("vnode"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # r15 (guide §2.4 "window keyed like a preceding aggregation"):
        # the max-count-then-min-label argmax was a max() window over
        # vnode plus a second groupBy — an extra exchange AND a sort per
        # round. One aggregation computes the identical tie-broken vote:
        # min(struct(-c, label)) is (max count, then min label) — c >= 1
        # so the negation cannot overflow. Bit-identical labels (the
        # 4-round _LPA_CTE oracle re-verified at 3 SFs).
        arg = votes.groupBy("vnode").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("label")))
            .getField("label")
            .alias("vlabel")
        )
        labels = (
            labels.join(arg, labels["node"] == arg["vnode"], "left")
            .select("node", F.coalesce("vlabel", "label").alias("label"))
            # two consumers next round (vote join + coalesce): checkpoint
            # per the measured consumer-count policy
            .localCheckpoint()
        )
    return labels, ed


@query(
    "b26_communities_lpa",
    oracle="WITH " + _LPA_CTE + """
    SELECT node AS user_id, CAST(label AS BIGINT) AS community
    FROM l4
    """,
    doc="B26 (r11): LABEL-PROPAGATION COMMUNITY DETECTION (VERDICT r10 #6) "
    "— Raghavan et al.'s LPA, the classic communities primitive the "
    "graph family lacked (components partition by CONNECTIVITY; LPA "
    "partitions by vote DENSITY, splitting a connected graph into "
    "dense neighborhoods), on the same shared skew-guarded "
    "(event_type, 60-second)-cell co-occurrence edge build as "
    "b26_bfs_levels. SYNCHRONOUS bounded-round variant for a "
    "deterministic, oracle-checkable fixture: every node starts "
    "labeled with its own id; each of 4 rounds every node adopts the "
    "most frequent label among its in-neighbors, ties broken by MIN "
    "label, isolated nodes keep their own (asynchronous random-order "
    "LPA converges faster but is run-dependent — useless as a "
    "hash-checked contract; min-tie-break synchronous LPA is the "
    "standard deterministic formulation). Per round: one equi-join of "
    "the edge list against the label relation, a (node, label) "
    "count, argmax via a whole-partition window max consumed by the "
    "group's own rows (the b25_cusum rule — never groupBy+join-back), "
    "and a left-join coalesce to carry unvoted nodes. The label "
    "relation has TWO consumers per round (next round's vote join + "
    "its coalesce), so it is localCheckpoint()ed each round per the "
    "measured consumer-count materialization policy (docs/SCALE.md "
    "\"k-core ladder\": fan-out consumers -> checkpoint; single "
    "consumer -> lazy), and the edge list is checkpointed once for "
    "its 4 consumers, the triangle-count lineage pattern. The oracle "
    "unrolls the same 4 rounds as chained CTEs. At 100 TB: state per "
    "round is one (node, label) row per vertex, hash-partitioned on "
    "node; edges stream through an equi-join AQE can size; ROUND "
    "COUNT, not graph size, bounds the plan depth — and the bounded "
    "sync-round form is exactly how LPA ships in distributed graph "
    "systems (Pregel supersteps).",
)
def b26_communities_lpa(spark, sf_dir):
    labels, _ = _lpa_core(spark, sf_dir)
    return labels.select(
        F.col("node").alias("user_id"),
        F.col("label").cast("bigint").alias("community"),
    )


@query(
    "b26_modularity",
    oracle="WITH " + _LPA_CTE + """
    , deg AS (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY 1
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM ed),
    within AS (
        SELECT la.label AS community, CAST(count(*) AS BIGINT) AS e_in
        FROM ed
        JOIN l4 la ON la.node = ed.src
        JOIN l4 lb ON lb.node = ed.dst
        WHERE la.label = lb.label
        GROUP BY 1
    ),
    comm AS (
        SELECT l4.label AS community,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(coalesce(deg.deg, 0)) AS BIGINT) AS deg_sum
        FROM l4 LEFT JOIN deg ON deg.node = l4.node
        GROUP BY 1
    )
    SELECT CAST(c.community AS BIGINT) AS community, c.n_nodes, c.deg_sum,
           CAST(coalesce(w.e_in, 0) AS BIGINT) AS e_in,
           m.m2 AS m2,
           CAST(coalesce(w.e_in, 0) * m.m2 - c.deg_sum * c.deg_sum AS BIGINT)
               AS contrib_num,
           CAST(coalesce(w.e_in, 0) * m.m2 - c.deg_sum * c.deg_sum AS DOUBLE)
               / (CAST(m.m2 AS DOUBLE) * m.m2) AS q_contrib
    FROM comm c
    LEFT JOIN within w ON w.community = c.community
    CROSS JOIN m
    WHERE m.m2 > 0 AND c.deg_sum > 0
    """,
    doc="B26 (r11): NEWMAN MODULARITY of the LPA partition — the quality "
    "audit that makes b26_communities_lpa falsifiable instead of just "
    "reproducible: Q = sum_c [E_c/2m - (D_c/2m)^2] over communities "
    "(E_c = directed within-community edge count, D_c = community "
    "degree sum, 2m = directed edge count). EXACT INTEGER CORE: each "
    "community's contribution numerator is E_c*2m - D_c^2 (one bigint "
    "per row; Q itself is sum(contrib)/( (2m)^2 ), emitted per row as "
    "a single double division of two exact bigints). Both engines "
    "replay the identical 4-round _LPA_CTE chain, so the hash match "
    "proves partition AND audit agree end to end. The honest finding "
    "is the Benford pattern again: the synthetic events corpus "
    "assigns users to cells near-uniformly, so measured Q is ~0 "
    "(-0.038 at sf0.01, +0.007 at sf0.1) — the metric CORRECTLY "
    "reports that a near-random co-occurrence graph has no community "
    "structure, which is exactly what a quality audit is for "
    "(pinned in tests/test_planted_signals.py: |Q| < 0.2 here, Q > "
    "0.4 on a planted two-clique fixture where LPA recovers the "
    "plant). Plan: three keyed aggregates over the checkpointed edge "
    "list + the label relation, shuffle-hash joins (every side grows "
    "with the graph), one 1-row m2 broadcast; nothing scans raw events "
    "again. Bigint note: D_c^2 wraps past ~3e9 total degree per "
    "community under ANSI-off — at that scale move the two products to "
    "DECIMAL(38,0), the shape is unchanged.",
)
def b26_modularity(spark, sf_dir):
    labels, ed = _lpa_core(spark, sf_dir)
    deg = ed.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    m = ed.agg(F.count(F.lit(1)).cast("bigint").alias("m2"))
    la = labels.select(F.col("node").alias("src"), F.col("label").alias("cla"))
    lb = labels.select(F.col("node").alias("dst"), F.col("label").alias("clb"))
    # every side grows with the graph: SHUFFLE_HASH pins the joins AQE raced
    # (build: the per-node labels and degrees, the per-community counts)
    within = (
        ed.join(la.hint("shuffle_hash"), "src")
        .join(lb.hint("shuffle_hash"), "dst")
        .filter(F.col("cla") == F.col("clb"))
        .groupBy(F.col("cla").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_in"))
    )
    comm = (
        labels.join(deg.hint("shuffle_hash"), "node", "left")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum(F.coalesce(F.col("deg"), F.lit(0)))
            .cast("bigint")
            .alias("deg_sum"),
        )
    )
    contrib = (
        F.coalesce(F.col("e_in"), F.lit(0)) * F.col("m2")
        - F.col("deg_sum") * F.col("deg_sum")
    ).cast("bigint")
    return (
        comm.join(within.hint("shuffle_hash"), "community", "left")
        .crossJoin(F.broadcast(m))
        .filter((F.col("m2") > 0) & (F.col("deg_sum") > 0))
        .select(
            F.col("community").cast("bigint").alias("community"),
            "n_nodes",
            "deg_sum",
            F.coalesce(F.col("e_in"), F.lit(0)).cast("bigint").alias("e_in"),
            "m2",
            contrib.alias("contrib_num"),
            (
                contrib.cast("double")
                / (F.col("m2").cast("double") * F.col("m2"))
            ).alias("q_contrib"),
        )
    )


@query(
    "b26_link_prediction",
    oracle="""
    WITH g AS (
        SELECT DISTINCT event_type,
               CAST(floor(epoch(ts) / 60) AS BIGINT) AS bucket,
               user_id
        FROM events
    ),
    ed AS (
        SELECT DISTINCT a.user_id AS src, b.user_id AS dst
        FROM g a JOIN g b
          ON a.event_type = b.event_type AND a.bucket = b.bucket
         AND a.user_id <> b.user_id
    ),
    deg AS (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY 1
    ),
    two_hop AS (
        SELECT e1.src AS a, e2.dst AS b, CAST(count(*) AS BIGINT) AS common
        FROM ed e1 JOIN ed e2 ON e1.dst = e2.src AND e1.src < e2.dst
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT t.a, t.b, t.common
        FROM two_hop t
        LEFT JOIN ed ON ed.src = t.a AND ed.dst = t.b
        WHERE ed.src IS NULL
    ),
    scored AS (
        SELECT c.a, c.b, c.common,
               da.deg AS deg_a, db.deg AS deg_b,
               CAST(da.deg + db.deg - c.common AS BIGINT) AS union_n
        FROM cand c JOIN deg da ON da.node = c.a
                    JOIN deg db ON db.node = c.b
    ),
    ranked AS (
        SELECT a, b, common, deg_a, deg_b, union_n,
               CAST(common AS DOUBLE) / union_n AS jaccard,
               row_number() OVER (
                   ORDER BY common * 1000000 // union_n DESC,
                            common DESC, a, b) AS rank
        FROM scored
    )
    SELECT a AS user_a, b AS user_b, common, deg_a, deg_b, union_n,
           jaccard, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
    doc="B26 (r11): LINK PREDICTION by neighborhood overlap — the "
    "recommender primitive over the co-occurrence graph (Liben-Nowell "
    "& Kleinberg's common-neighbors / Jaccard predictors): candidate "
    "pairs are TWO-HOP neighbors not already adjacent (e1.dst = "
    "e2.src self-join of the directed edge list, canonical a < b, "
    "anti-join against the edge set — since the list carries both "
    "orientations one directed probe suffices), scored by common-"
    "neighbor count and neighborhood Jaccard |N(a) n N(b)| / "
    "|N(a) u N(b)| with the union by inclusion-exclusion (deg_a + "
    "deg_b - common, all exact bigints). RANKING stays in integers: "
    "the order key is the PPM-scaled Jaccard common*10^6 DIV union "
    "(truncating div, identical in both engines) with (common DESC, "
    "a, b) tie-break — the emitted double jaccard is one exact "
    "division for readability, never an order key. Top-20 via "
    "orderBy+limit so Spark plans a TakeOrderedAndProject heap "
    "(per-partition top-20, merged at the driver — never a single-"
    "partition global sort of the full candidate set; ADVICE r11), "
    "then row_number over the <=20 survivors to emit the rank "
    "column. SCALE: the two-hop expansion is "
    "sum_v deg(v)^2 pairs — the same quadratic hot-spot law as the "
    "cell self-join, owned by the SAME guard: warn_hot_cells fires on "
    "the underlying cell build, and a production run caps hub degree "
    "first (drop/sample nodes above a percentile — the "
    "b26_cooccurrence_skew_guard census decides); the anti-join and "
    "degree joins are all equi-joins AQE can size. At sf0.1 the "
    "honest numbers: best Jaccard 0.125 — near-random graphs predict "
    "weakly, and the entry reports it.",
)
def b26_link_prediction(spark, sf_dir):
    from ..operators.graph import cooccurrence_cells, cooccurrence_pairs

    ev = load_table(spark, sf_dir, "events")
    g = cooccurrence_cells(ev, 60)
    ed = (
        cooccurrence_pairs(g, directed=True)
        .select(F.col("ua").alias("src"), F.col("ub").alias("dst"))
        .distinct()
        # consumed 4x (two-hop both sides, anti-join, degrees)
        .localCheckpoint()
    )
    deg = ed.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    e1 = ed.select(F.col("src").alias("a"), F.col("dst").alias("mid"))
    e2 = ed.select(F.col("src").alias("mid"), F.col("dst").alias("b"))
    two_hop = (
        e1.join(e2, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    cand = two_hop.join(
        ed,
        (two_hop["a"] == ed["src"]) & (two_hop["b"] == ed["dst"]),
        "left_anti",
    )
    scored = (
        cand.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b")
        .select(
            "a",
            "b",
            "common",
            "deg_a",
            "deg_b",
            (F.col("deg_a") + F.col("deg_b") - F.col("common"))
            .cast("bigint")
            .alias("union_n"),
        )
    )
    # TakeOrderedAndProject heap over the full candidate set (ADVICE
    # r11: never an unpartitioned row_number window — that forces a
    # single-partition global sort of sum_v deg(v)^2 candidate rows);
    # the rank window then runs over <=20 surviving rows only.
    order_keys = [
        F.expr("common * 1000000 DIV union_n").desc(),
        F.col("common").desc(),
        F.col("a").asc(),
        F.col("b").asc(),
    ]
    top20 = scored.orderBy(*order_keys).limit(20)
    rw = Window.orderBy(*order_keys)
    return (
        top20.withColumn("rank", F.row_number().over(rw).cast("bigint"))
        .select(
            F.col("a").alias("user_a"),
            F.col("b").alias("user_b"),
            "common",
            "deg_a",
            "deg_b",
            "union_n",
            (F.col("common").cast("double") / F.col("union_n")).alias("jaccard"),
            "rank",
        )
    )


@query(
    "b26_link_prediction_capped",
    oracle="""
    WITH g AS (
        SELECT DISTINCT event_type,
               CAST(floor(epoch(ts) / 60) AS BIGINT) AS bucket,
               user_id
        FROM events
    ),
    ed AS (
        SELECT DISTINCT a.user_id AS src, b.user_id AS dst
        FROM g a JOIN g b
          ON a.event_type = b.event_type AND a.bucket = b.bucket
         AND a.user_id <> b.user_id
    ),
    deg0 AS (
        SELECT src, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg0),
    hist AS (
        SELECT deg, CAST(count(*) AS BIGINT) AS cnt FROM deg0 GROUP BY 1
    ),
    cumh AS (SELECT deg, sum(cnt) OVER (ORDER BY deg) AS cum FROM hist),
    cap AS (
        SELECT CAST(min(deg) AS BIGINT) AS cap
        FROM cumh, tot WHERE cum * 100 >= 99 * tot.n_nodes
    ),
    ced AS (
        SELECT src, dst
        FROM (SELECT src, dst,
                     row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
              FROM ed) r, cap
        WHERE r.rn <= cap.cap
    ),
    deg AS (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        FROM ced GROUP BY 1
    ),
    two_hop AS (
        SELECT e1.src AS a, e2.dst AS b, CAST(count(*) AS BIGINT) AS common
        FROM ced e1 JOIN ced e2 ON e1.dst = e2.src AND e1.src < e2.dst
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT t.a, t.b, t.common
        FROM two_hop t
        LEFT JOIN ed ON ed.src = t.a AND ed.dst = t.b
        WHERE ed.src IS NULL
    ),
    scored AS (
        SELECT c.a, c.b, c.common,
               da.deg AS deg_a, db.deg AS deg_b,
               CAST(da.deg + db.deg - c.common AS BIGINT) AS union_n
        FROM cand c JOIN deg da ON da.node = c.a
                    JOIN deg db ON db.node = c.b
    ),
    ranked AS (
        SELECT a, b, common, deg_a, deg_b, union_n,
               CAST(common AS DOUBLE) / union_n AS jaccard,
               row_number() OVER (
                   ORDER BY common * 1000000 // union_n DESC,
                            common DESC, a, b) AS rank
        FROM scored
    )
    SELECT a AS user_a, b AS user_b, common, deg_a, deg_b, union_n,
           jaccard, (SELECT cap FROM cap) AS cap,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
    doc="B26 (r12): DEGREE-CAPPED LINK PREDICTION (VERDICT r11 #2) — the "
    "production variant the uncapped b26_link_prediction's docstring and "
    "the link-prediction ladder (docs/SCALE.md) prescribe: the two-hop "
    "candidate stage "
    "materializes sum_v deg(v)^2 rows into the (a, b) aggregation "
    "shuffle, so a single hub owns a QUADRATIC share of the stage "
    "(ladder: +62% edges via one hub -> 1562x candidate groups -> 126x "
    "stage wall). The cap is fully DETERMINISTIC so DuckDB replays it "
    "bit for bit: cap = the exact p99 of the out-degree relation "
    "(integer cross-multiplied rank cum*100 >= 99*n_nodes over the "
    "<=|distinct degrees|-row histogram — the bounded unpartitioned "
    "window idiom), and each hub keeps its cap LOWEST-ID neighbors "
    "(row_number over (src ORDER BY dst) <= cap; dst is unique per src "
    "after DISTINCT, so the truncation is a total order, not a sample). "
    "Candidates expand over the CAPPED adjacency (two-hop rows now "
    "bounded by n*D99^2, flat in hub degree — the ladder's capped rung "
    "holds its wall where the uncapped one cliffs) but the anti-join "
    "rejects TRUE edges from the FULL edge set (a truncated-away edge "
    "must still never be 'predicted'), and Jaccard scores use capped "
    "degrees — the estimate is exact ON the capped graph, the standard "
    "recall trade recommenders make (truncated adjacency lists). "
    "Scoring and ranking are the uncapped entry's exactly: integer "
    "PPM-scaled Jaccard order key, top-20 via orderBy+limit = "
    "TakeOrderedAndProject heap, rank window over the <=20 survivors. "
    "The cap scalar rides a 1-row broadcast (BroadcastNestedLoopJoin "
    "Cross — the whitelisted scalar-stat shape); at the test SFs the "
    "graph is near-uniform so cap ~= max degree and the top-20 happens "
    "to match the audit variant — the entry's value is the EXECUTED, "
    "oracle-replayed cap machinery, priced by the ladder.",
)
def b26_link_prediction_capped(spark, sf_dir):
    from ..operators.graph import cooccurrence_cells, cooccurrence_pairs

    ev = load_table(spark, sf_dir, "events")
    g = cooccurrence_cells(ev, 60)
    ed = (
        cooccurrence_pairs(g, directed=True)
        .select(F.col("ua").alias("src"), F.col("ub").alias("dst"))
        .distinct()
        # consumed 4x (degree census, rank window, anti-join, cap)
        .localCheckpoint()
    )
    deg0 = ed.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    hist = deg0.groupBy("deg").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = deg0.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    # <=|distinct degrees| rows: the unpartitioned window is bounded
    wd = Window.orderBy("deg").rowsBetween(Window.unboundedPreceding, 0)
    cumh = hist.select("deg", F.sum("cnt").over(wd).alias("cum"))
    cap = (
        cumh.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") * 100 >= 99 * F.col("n_nodes"))
        .agg(F.min("deg").cast("bigint").alias("cap"))
    )
    rnw = Window.partitionBy("src").orderBy("dst")
    ced = (
        ed.withColumn("rn", F.row_number().over(rnw))
        .crossJoin(F.broadcast(cap))
        .filter(F.col("rn") <= F.col("cap"))
        .select("src", "dst")
        # consumed 3x (two-hop both sides, capped degrees)
        .localCheckpoint()
    )
    deg = ced.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    e1 = ced.select(F.col("src").alias("a"), F.col("dst").alias("mid"))
    e2 = ced.select(F.col("src").alias("mid"), F.col("dst").alias("b"))
    two_hop = (
        e1.join(e2, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    cand = two_hop.join(
        ed,
        (two_hop["a"] == ed["src"]) & (two_hop["b"] == ed["dst"]),
        "left_anti",
    )
    scored = (
        cand.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b")
        .select(
            "a",
            "b",
            "common",
            "deg_a",
            "deg_b",
            (F.col("deg_a") + F.col("deg_b") - F.col("common"))
            .cast("bigint")
            .alias("union_n"),
        )
    )
    order_keys = [
        F.expr("common * 1000000 DIV union_n").desc(),
        F.col("common").desc(),
        F.col("a").asc(),
        F.col("b").asc(),
    ]
    top20 = scored.orderBy(*order_keys).limit(20)
    rw = Window.orderBy(*order_keys)
    return (
        top20.withColumn("rank", F.row_number().over(rw).cast("bigint"))
        .crossJoin(F.broadcast(cap))
        .select(
            F.col("a").alias("user_a"),
            F.col("b").alias("user_b"),
            "common",
            "deg_a",
            "deg_b",
            "union_n",
            (F.col("common").cast("double") / F.col("union_n")).alias("jaccard"),
            "cap",
            "rank",
        )
    )


@query(
    "b26_funnel_exclusion",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, event_id, event_type,
               min(CASE WHEN event_type = 'purchase' THEN ts END) OVER w
                   AS next_purchase,
               min(CASE WHEN event_type = 'error' THEN ts END) OVER w
                   AS next_error
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    c AS (
        SELECT user_id,
               CASE WHEN next_purchase IS NULL
                         OR epoch_us(next_purchase) - epoch_us(ts)
                            > 86400000000
                    THEN 'expired'
                    WHEN next_error IS NOT NULL
                         AND next_error < next_purchase
                    THEN 'blocked'
                    ELSE 'converted' END AS status
        FROM o WHERE event_type = 'click'
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_clicks,
           CAST(sum(CASE WHEN status = 'converted' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted,
           CAST(sum(CASE WHEN status = 'blocked' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_blocked,
           CAST(sum(CASE WHEN status = 'expired' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_expired
    FROM c GROUP BY user_id
    """,
    doc="B26 (r12): FUNNEL WITH EXCLUSION — 'click then purchase within "
    "24h with NO error in between', the negation-constrained sequence "
    "pattern (MATCH_RECOGNIZE's bread and butter) that b26_funnel's "
    "monotone stage-mins cannot express. The naive formulation is two "
    "joins (click x purchase range join, then an interval ANTI-join "
    "against errors — candidate volume ~ clicks x purchases per user); "
    "this one is ZERO joins: one user-partitioned window computes, for "
    "every event, the NEXT purchase and NEXT error as a RUNNING "
    "conditional min in REVERSE time order (UNBOUNDED PRECEDING..-1 "
    "over ts DESC — Spark evaluates running frames in one accumulating "
    "pass per partition, where the equivalent-looking 1 FOLLOWING.."
    "UNBOUNDED frame re-scans to the partition end from EVERY row, "
    "O(n^2) per user: docs/SCALE.md \"Negation-constrained funnel\" "
    "measures 0.42 s -> 13.1 s "
    "on the naive frame at 64x per-user activity while this frame "
    "stays flat) — then each click classifies locally (expired: no purchase within 86,400 s by "
    "exact epoch_us bigint arithmetic; blocked: first error strictly "
    "before the first purchase; converted otherwise — a purchase and "
    "error at the identical timestamp counts as converted, ties "
    "documented). One events shuffle total, same scale posture as "
    "b26_funnel, and adding a second exclusion type is one more window "
    "column, not another join. sf0.01 exercises all three states: 545 "
    "converted / 147 blocked / 1,314 expired over 2,006 clicks (pinned "
    "in pytest). At 100 TB: cost = one keyed shuffle + per-user sort, "
    "no candidate-pair materialization ever.",
)
def b26_funnel_exclusion(spark, sf_dir):
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    # REVERSE-time running frame, NOT (1 FOLLOWING, UNBOUNDED FOLLOWING):
    # "everything strictly after me in ascending time" == "everything
    # strictly before me in descending time". Spark evaluates an
    # (UNBOUNDED PRECEDING, -1) frame as one accumulating pass per
    # partition, but re-scans an UNBOUNDED FOLLOWING frame from every row
    # to the partition end — O(n^2) per user. docs/SCALE.md
    # "Negation-constrained funnel" measures the cliff: at 64x per-user
    # activity (400k fixed events) the naive frame goes 0.42 s -> 13.1 s
    # while this frame stays flat at ~0.2-0.35 s and the join formulation
    # grows to 1.5 s.
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    o = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        )
        .over(w)
        .alias("next_purchase"),
        F.min(F.when(F.col("event_type") == "error", F.col("ts")))
        .over(w)
        .alias("next_error"),
    )
    status = (
        F.when(
            F.col("next_purchase").isNull()
            | (
                F.unix_micros("next_purchase") - F.unix_micros("ts")
                > F.lit(86400000000)
            ),
            F.lit("expired"),
        )
        .when(
            F.col("next_error").isNotNull()
            & (F.col("next_error") < F.col("next_purchase")),
            F.lit("blocked"),
        )
        .otherwise(F.lit("converted"))
    )
    clicks = o.filter(F.col("event_type") == "click").select(
        "user_id", status.alias("status")
    )
    return clicks.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clicks"),
        F.sum(F.when(F.col("status") == "converted", 1).otherwise(0))
        .cast("bigint")
        .alias("n_converted"),
        F.sum(F.when(F.col("status") == "blocked", 1).otherwise(0))
        .cast("bigint")
        .alias("n_blocked"),
        F.sum(F.when(F.col("status") == "expired", 1).otherwise(0))
        .cast("bigint")
        .alias("n_expired"),
    )
