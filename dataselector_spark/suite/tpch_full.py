"""The 22 TPC-H analogues, Q1 to Q22, in query-number order.

The driver's star schema is a reduced TPC-H (TESTDATA.md): no ``partsupp``,
no commit/receipt dates, no phone/comment columns.  Each query below keeps
the *shape* of its TPC-H namesake — the operator composition Catalyst has to
plan — and substitutes available columns for missing ones:

- part↔supplier linkage (Q2/Q11/Q16/Q20) rides ``lineitem`` (l_partkey,
  l_suppkey) instead of ``partsupp``; "supply cost" is min(l_extendedprice),
  "stock value" is sum(extendedprice*quantity) over shipped lines.
- "late" (Q12/Q21) is l_shipdate > o_orderdate + fixed interval, standing in
  for receiptdate>commitdate.
- Q22's "7-year dormant customer" is an anti-join against orders after
  1999-01-01 (every customer here has *some* order, so plain NOT EXISTS
  would be vacuously empty — see memory of data domains).

Float policy is relational.py's: exact DECIMAL accumulation, cast to DOUBLE
only at the edge; ratios/averages are computed as double÷double with the
identical expression in both engines (IEEE ops are deterministic); decimal
equality (Q2's min-cost match, Q15's max-revenue match) is exact, so
equality predicates on aggregates are hash-safe.

Scale notes (100 TB posture): every query shuffles facts at most once per
join key, dims (supplier/nation/region/part-filtered) are broadcast, scalar
subqueries (Q11 total, Q15 max) reduce to one row before the crossJoin so
they broadcast trivially, and the Q2/Q15 "argmin/argmax by group" pattern is
a window over the already-aggregated (small) relation, not the fact table.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.cleaning import dec2
from .base import query


def _revenue():
    return dec2("l_extendedprice") * dec2(F.lit(1) - F.col("l_discount"), 4)


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="B6: TPC-H Q1 pricing summary — the headline partial-aggregation benchmark. "
    "Map-side combine makes the shuffle O(groups), not O(rows).",
)
def q1_pricing_summary(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    disc = dec2(F.lit(1) - F.col("l_discount"), 4)
    charge_mult = dec2(F.lit(1) + F.col("l_tax"), 4)
    sum_qty = F.sum(dec2("l_quantity"))
    sum_price = F.sum(dec2("l_extendedprice"))
    n = F.count(F.lit(1))
    return (
        l.filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty.cast("double").alias("sum_qty"),
            sum_price.cast("double").alias("sum_base_price"),
            F.sum(dec2("l_extendedprice") * disc).cast("double").alias("sum_disc_price"),
            F.sum(dec2("l_extendedprice") * disc * charge_mult).cast("double").alias("sum_charge"),
            (sum_qty.cast("double") / n).alias("avg_qty"),
            (sum_price.cast("double") / n).alias("avg_price"),
            (F.sum(dec2("l_discount", 4)).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH offers AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             min(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
      GROUP BY 1, 2
    )
    SELECT s_acctbal, s_name, n_name, p_partkey,
           CAST(cost AS DOUBLE) AS supplycost
    FROM offers
    JOIN part     ON partkey = p_partkey
    JOIN supplier ON suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_size = 15
      AND cost = (SELECT min(cost) FROM offers o2 WHERE o2.partkey = offers.partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    """,
    doc="TPC-H Q2 analogue: cheapest EUROPE supplier per size-15 part, the "
    "partsupp role played by observed lineitem prices. The correlated "
    "min() becomes a window over the pre-aggregated offers relation "
    "(tiny), never a re-scan of the fact table; decimal min-equality is "
    "exact so the predicate is hash-safe.",
)
def q2_min_cost_supplier(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    offers = (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
        )
        .agg(F.min(dec2("l_extendedprice")).alias("cost"))
    )
    best = offers.withColumn(
        "min_cost", F.min("cost").over(Window.partitionBy("partkey"))
    ).filter(F.col("cost") == F.col("min_cost"))
    return (
        best.join(F.broadcast(p), F.col("partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            F.col("cost").cast("double").alias("supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
    doc="TPC-H Q3 analogue (o_orderpriority stands in for o_shippriority): "
    "segment filter prunes customer before the join; top-10 is "
    "TakeOrderedAndProject, never a full sort.",
)
def q3_shipping_priority(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-03-15 00:00:00"
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-03-15 00:00:00"
    )
    disc = dec2(F.lit(1) - F.col("l_discount"), 4)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(dec2("l_extendedprice") * disc).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4: EXISTS = left-semi join against the filtered lineitem "
    "side; the date filter pushes to the orders scan before the join.",
)
def q4_order_priority(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-07-01 00:00:00")
        & (F.col("o_orderdate") < "1997-10-01 00:00:00")
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
    doc="TPC-H Q5: six-table join. region/nation/supplier broadcast (dims), "
    "the two facts shuffle once each on their join keys; the local-supplier "
    "condition (c_nationkey = s_nationkey) rides the same join.",
)
def q5_local_supplier_volume(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01 00:00:00")
        & (F.col("o_orderdate") < "1998-01-01 00:00:00")
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    disc = dec2(F.lit(1) - F.col("l_discount"), 4)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(dec2("l_extendedprice") * disc).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24
    """,
    doc="TPC-H Q6: pure scan-filter-aggregate — the predicate-pushdown "
    "benchmark. All three predicates reach the parquet reader "
    "(PushedFilters); the agg is a single partial+final pair.",
)
def q6_forecast_revenue(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1997-01-01 00:00:00")
            & (F.col("l_shipdate") < "1998-01-01 00:00:00")
            & (F.col("l_discount").between(0.03, 0.05))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec2("l_extendedprice") * dec2("l_discount", 4))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year, l_extendedprice, l_discount
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
          AND l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                             AND TIMESTAMP '1998-12-31 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7: two broadcast copies of nation under different roles "
    "(supplier vs customer side) with a disjunctive nation-pair filter; "
    "facts shuffle once each.",
)
def q7_volume_shipping(spark, sf_dir):
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1997-01-01 00:00:00", "1998-12-31 00:00:00")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    disc = dec2(F.lit(1) - F.col("l_discount"), 4)
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
        | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    )
    return (
        F.broadcast(s).join(l, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(dec2("l_extendedprice") * disc).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    )
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
    doc="TPC-H Q8 analogue: NATION_7's share of PROMO-part revenue sold into "
    "ASIA, by order year. nation appears twice (customer side and supplier "
    "side) — both broadcast; numerator/denominator are exact decimal sums "
    "divided as doubles with the identical expression in both engines. "
    "A year with no NATION_7 sales yields NULL/NULL-safe 0 via sum-of-"
    "nothing = NULL, matching DuckDB (CASE with no ELSE).",
)
def q8_market_share(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01 00:00:00")
        & (F.col("o_orderdate") < "1999-01-01 00:00:00")
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = load_table(spark, sf_dir, "supplier")
    vol = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            _revenue().alias("volume"),
            "supp_nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_7", F.col("volume")))
                .cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q9_product_type_profit",
    oracle="""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
             - 0.1 * CAST(sum(CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE 'red%'
    GROUP BY n_name, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 analogue: profit on red parts by supplier nation × year; "
    "cost side uses p_retailprice×quantity (no partsupp.supplycost) scaled "
    "by 0.1 OUTSIDE the aggregate, so both engines accumulate exact "
    "decimals and do the same two double ops at the end.",
)
def q9_product_type_profit(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    joined = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            (
                F.sum(_revenue()).cast("double")
                - F.lit(0.1)
                * F.sum(dec2("p_retailprice") * dec2("l_quantity")).cast("double")
            ).alias("sum_profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    doc="TPC-H Q10: returned-item revenue per customer, one quarter — "
    "broadcast nation, pushed flag + date filters, top-20 TakeOrdered.",
)
def q10_returned_items(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-10-01 00:00:00")
        & (F.col("o_orderdate") < "1998-01-01 00:00:00")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    disc = dec2(F.lit(1) - F.col("l_discount"), 4)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(dec2("l_extendedprice") * disc).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q11_important_parts",
    oracle="""
    WITH v AS (
      SELECT l_partkey AS partkey,
             sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS val
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_12'
      GROUP BY 1
    )
    SELECT partkey, CAST(val AS DOUBLE) AS part_value
    FROM v
    WHERE CAST(val AS DOUBLE) > (SELECT CAST(sum(val) AS DOUBLE) FROM v) * 0.001
    ORDER BY part_value DESC, partkey
    """,
    doc="TPC-H Q11 analogue: parts whose NATION_12 shipped value exceeds "
    "0.1% of the nation total. The scalar subquery reduces v to ONE row "
    "before the crossJoin, so at scale it is a broadcast of 16 bytes, and "
    "v itself is computed once (Spark reuses the shuffle via the "
    "self-referencing plan; threshold compare in double on both sides).",
)
def q11_important_parts(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_12")
    v = (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(dec2("l_extendedprice") * dec2("l_quantity")).alias("val"))
    )
    total = v.agg((F.sum("val").cast("double") * F.lit(0.001)).alias("threshold"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("val").cast("double") > F.col("threshold"))
        .select("partkey", F.col("val").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), "partkey")
    )


@query(
    "q12_late_shipment_priority",
    oracle="""
    SELECT l_returnflag,
           count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT','2-HIGH'))     AS high_line_count,
           count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH')) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="TPC-H Q12 analogue: priority mix of late lines (ship > order+90d "
    "stands in for receipt > commit), bucketed by l_returnflag in lieu of "
    "l_shipmode. Conditional counts stay integral (BIGINT) in both engines.",
)
def q12_late_shipment_priority(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q13_customer_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13: order-count distribution over customers, the join "
    "predicate (priority filter) living in the LEFT JOIN's ON clause so "
    "order-less customers survive with c_count = 0. Two aggregations: the "
    "first shuffles on custkey (same key as the join — one exchange), the "
    "second on the tiny c_count domain.",
)
def q13_customer_distribution(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    c_orders = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(100.0 * sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))
                 ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)
           / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
           AS promo_revenue_pct,
           count(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
    doc="TPC-H Q14: conditional aggregation over a broadcast part join — "
    "both sums decimal-exact, one IEEE division at the end.",
)
def q14_promo_revenue(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01 00:00:00")
        & (F.col("l_shipdate") < "1997-10-01 00:00:00")
    )
    p = load_table(spark, sf_dir, "part")
    rev = dec2("l_extendedprice") * dec2(F.lit(1) - F.col("l_discount"), 4)
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(16,4)")
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                (F.lit(100.0) * F.sum(promo).cast("double"))
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT max(total_rev) FROM revenue)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15: supplier(s) with max 1997-H1 revenue. The max is taken "
    "over the per-supplier aggregate (|suppliers| rows), reduced to one "
    "row and broadcast; equality is on the exact DECIMAL, so ties are "
    "found exactly as DuckDB finds them.",
)
def q15_top_supplier(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01 00:00:00")
        & (F.col("l_shipdate") < "1997-07-01 00:00:00")
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_revenue()).alias("total_rev"))
    )
    top = revenue.agg(F.max("total_rev").alias("max_rev"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
      AND p_size IN (1, 4, 9, 15, 23, 36, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 analogue: distinct supplier counts per (brand, type, "
    "size) bucket, the supplier blacklist keyed on negative balance "
    "instead of the absent comment column. NOT IN is an anti-join against "
    "a broadcast dim (never null here, so NOT IN == ANTI is safe).",
)
def q16_supplier_part_counts(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 9, 15, 23, 36, 45, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        l.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (
          SELECT 0.2 * avg(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = lineitem.l_partkey
      )
    """,
    doc="TPC-H Q17: correlated scalar subquery, run through spark.sql so "
    "Catalyst's decorrelation rewrites it into the aggregate+join plan — "
    "proving the subquery surface, not hand-decorrelating. The per-part avg "
    "is exact (integer-valued doubles sum exactly in IEEE), so the boundary "
    "comparison is deterministic across engines. Brand filter broadcasts "
    "part; one shuffle per lineitem branch.",
)
def q17_small_quantity_revenue(spark, sf_dir):
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q17_lineitem")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("q17_part")
    return spark.sql("""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
               count(*) AS n
        FROM q17_lineitem JOIN q17_part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23'
          AND l_quantity < (
              SELECT 0.2 * avg(l_quantity) FROM q17_lineitem l2
              WHERE l2.l_partkey = q17_lineitem.l_partkey
          )
    """)


@query(
    "q18_large_volume_customer",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 300
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
    LIMIT 100
    """,
    doc="TPC-H Q18: grouped-HAVING IN-subquery = aggregate + left-semi join "
    "in the DataFrame plan. The qualifying-order set is small, so it "
    "broadcasts into the fact join; top-100 is TakeOrderedAndProject.",
)
def q18_large_volume_customer(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(dec2("l_quantity")).alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey, "left_semi")
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"), "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@query(
    "q19_discounted_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19: disjunctive mixed-table predicates over a broadcast "
    "join. The part-only conjuncts can't prune the lineitem scan, but "
    "Catalyst pushes the derivable disjunction of l_quantity ranges; part "
    "broadcasts so the OR evaluates stream-side with no shuffle.",
)
def q19_discounted_revenue(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    disc = dec2(F.lit(1) - F.col("l_discount"), 4)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 20) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 30) & F.col("l_quantity").between(20, 30))
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.sum(dec2("l_extendedprice") * disc).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q20_part_promotion_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey, l_partkey
      HAVING sum(l_quantity) > 60
    )
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q20 analogue: suppliers who moved >60 units of some red part "
    "in 1997 (partsupp.availqty threshold recast over shipped volume). "
    "The IN becomes a semi-join against the HAVING-filtered aggregate; "
    "l_quantity is integral so a double sum is exact.",
)
def q20_part_promotion_suppliers(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01 00:00:00")
        & (F.col("l_shipdate") < "1998-01-01 00:00:00")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    s = load_table(spark, sf_dir, "supplier")
    movers = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 60)
        .select("l_suppkey")
    )
    return (
        s.join(movers, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      GROUP BY l_orderkey, l_suppkey
    ),
    allsup AS (SELECT l_orderkey, l_suppkey FROM lineitem GROUP BY l_orderkey, l_suppkey)
    SELECT s_name, count(*) AS numwait
    FROM late l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE EXISTS (SELECT 1 FROM allsup a
                  WHERE a.l_orderkey = l1.l_orderkey AND a.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l2
                      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 analogue: in finished multi-supplier orders, suppliers "
    "who were the ONLY late one (ship > order+60d). The oracle states it "
    "as EXISTS/NOT EXISTS self-joins; the Spark plan is the algebraic "
    "rewrite — one deduplicated (order, supplier, was_late) relation, then "
    "per-order window counts: 'another supplier exists' ⇔ n_sup > 1, 'no "
    "other late supplier' ⇔ n_late = 1. One scan of lineitem, no "
    "self-joins, and both shuffles are on the order key (the second is a "
    "co-partitioned window). Ordering is total (s_name unique per group), "
    "so LIMIT 20 is deterministic.",
)
def q21_waiting_supplier(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier")
    was_late = (
        (F.col("o_orderstatus") == "F")
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    )
    # Left join so the pairs relation covers every lineitem even without a
    # matching order (order-less lines simply can't be late) — keeps the
    # rewrite equivalent to the oracle without assuming FK integrity.
    # One explicit shuffle on the order key serves BOTH the (order, supplier)
    # aggregation (hash partitioning on a subset of the grouping keys
    # satisfies its clustering) and the per-order window — without it Spark
    # plans two back-to-back exchanges. Map-side combine is worthless here
    # (|pairs| ≈ |lineitems|), so pre-partitioning raw rows costs nothing.
    pairs = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(was_late, 1).otherwise(0)).alias("is_late"))
    )
    w = Window.partitionBy("l_orderkey")
    lonely_late = (
        pairs.withColumn("n_sup", F.count("*").over(w))
        .withColumn("n_late", F.sum("is_late").over(w))
        .filter((F.col("is_late") == 1) & (F.col("n_sup") > 1) & (F.col("n_late") == 1))
    )
    return (
        lonely_late.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@query(
    "q22_dormant_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS avg_acctbal
      FROM customer WHERE c_acctbal > 0
    )
    SELECT n_name AS nation, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    CROSS JOIN avg_bal
    WHERE c_acctbal > avg_acctbal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY n_name
    ORDER BY nation
    """,
    doc="TPC-H Q22 analogue: wealthy customers dormant since 1999 (every "
    "customer here has some order, so the anti-join is date-bounded; "
    "nation stands in for the absent phone prefix). The average is "
    "sum/count in BOTH engines (exact decimal sum ÷ exact count, one "
    "IEEE divide), broadcast as a single row.",
)
def q22_dormant_customers(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01 00:00:00")
        .select("o_custkey")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(dec2("c_acctbal")).cast("double")
                / F.count("*").cast("double")
            ).alias("avg_acctbal")
        )
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_acctbal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum(dec2("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("nation")
    )
