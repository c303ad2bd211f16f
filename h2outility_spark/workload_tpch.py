"""Relational analytics family: TPC-H-flavoured queries (adapted to the
driver's slimmer star schema) plus the join, rollup, grouping-set,
percentile, funnel/cohort and skew-handling shapes Catalyst gives nearly for
free — correlated-exists, semi/anti joins, conditional bucketing,
ratio-of-sums, OR-of-ANDs pushdown, cube, regex extraction, bucketed
co-located joins — each oracle-checked.

Broadcast policy (100 TB rule): ``F.broadcast`` hints are reserved for
tables whose size is BOUNDED by the schema — nation (25 rows), region (5),
and derived scalar/top-k aggregates — never for tables that scale with the
data (customer, supplier, part, orders, lineitem, data-dependent keysets).
Those joins are left unhinted: AQE auto-broadcasts them while they fit
(including at this repo's test scales) and falls back to shuffle joins at
cluster scale, where a forced broadcast of a billion-row "dim" would OOM
the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import Window as W, functions as F

from h2outility_spark.functions import fround
from h2outility_spark.operators import mutation
from h2outility_spark.workload import _t, query, scratch_dir


# ---------------------------------------------------------------------------
# TPC-H style analytics (G/J/O families at scale)
# ---------------------------------------------------------------------------

@query(
    "tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
           floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS sum_base_price,
           floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
           floor((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100.0 + 0.5) / 100.0 AS sum_charge,
           floor((avg(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
           floor((avg(l_extendedprice)) * 10000.0 + 0.5) / 10000.0 AS avg_price,
           floor((avg(l_discount)) * 10000.0 + 0.5) / 10000.0 AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="G1-family: TPC-H Q1 pricing summary (8 aggregates, 2 group keys)",
    bench=True,
)
def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        fround(F.sum("l_quantity"), 2).alias("sum_qty"),
        fround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        fround(F.sum(disc_price), 2).alias("sum_disc_price"),
        fround(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        fround(F.avg("l_quantity"), 4).alias("avg_qty"),
        fround(F.avg("l_extendedprice"), 4).alias("avg_price"),
        fround(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "tpch_q3",
    oracle="""
    SELECT l_orderkey,
           floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    description="J1: TPC-H Q3 shipping-priority (fact-dim joins + top-k)",
    bench=True,
)
def q_tpch_q3(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15 00:00:00"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1997-03-15 00:00:00"))
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        cust, orders.o_custkey == cust.c_custkey
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q5",
    oracle="""
    SELECT n_name,
           floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    description="J1/J5: TPC-H Q5 multi-way broadcast star join, revenue by nation",
    bench=True,
)
def q_tpch_q5(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00")) & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@query(
    "tpch_q6",
    oracle="""
    SELECT floor((sum(l_extendedprice * l_discount)) * 100.0 + 0.5) / 100.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    description="P3/P4 + scalar agg: TPC-H Q6 forecast revenue",
)
def q_tpch_q6(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(fround(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Joins beyond inner (J3 semi, U2-style anti), keep-first dedup (U5)
# ---------------------------------------------------------------------------

@query(
    "semi_join_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_suppkey = s_suppkey
                    AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00')
    """,
    description="J3: left-semi join (suppliers with recent shipments)",
)
def q_semi_join_suppliers(spark, sf_dir):
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00"))
    return supp.join(li, supp.s_suppkey == li.l_suppkey, "left_semi").select("s_suppkey", "s_name")


@query(
    "anti_join_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
    """,
    description="U2-analog: left-anti join (customers with no recent orders)",
)
def q_anti_join_customers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00"))
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "dedup_keep_first",
    oracle="""
    SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber, l_quantity
    FROM (SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber, l_quantity,
                 row_number() OVER (PARTITION BY l_partkey, l_suppkey
                                    ORDER BY l_orderkey, l_linenumber) AS rn
          FROM lineitem)
    WHERE rn = 1
    """,
    description="U5-analog: deterministic exact dedup (keep first row per logical key)",
)
def q_dedup_keep_first(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_partkey", "l_suppkey").orderBy("l_orderkey", "l_linenumber")
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber", "l_quantity")
    )


@query(
    "tpch_q4_late_orders",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
    description="Q4-style: correlated EXISTS (semi join with cross-table predicate) per priority",
)
def q_tpch_q4_late_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q12_priority_buckets",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
             AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
             AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
    description="Q12-style: conditional bucketing aggregation across a fact-fact join",
)
def q_tpch_q12_priority_buckets(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q14_promo_share",
    oracle="""
    SELECT floor((100.0 * sum(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
                  / sum(l_extendedprice * (1 - l_discount))) * 10000.0 + 0.5) / 10000.0
             AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
    description="Q14-style: promo revenue share (ratio of conditional sums, broadcast dim join)",
)
def q_tpch_q14_promo_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00")) & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return joined.agg(
        fround(
            F.lit(100.0) * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)) / F.sum(rev), 4
        ).alias("promo_revenue_pct")
    )


@query(
    "tpch_q19_or_of_ands",
    oracle="""
    SELECT floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 40)
    """,
    description="Q19-style: disjunction of conjunctive predicates across join sides",
)
def q_tpch_q19_or_of_ands(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    b = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & (F.col("l_quantity") >= qlo)
        & (F.col("l_quantity") <= qhi)
    )
    cond = b("Brand#12", 15, 1, 21) | b("Brand#23", 25, 10, 30) | b("Brand#34", 35, 20, 40)
    return j.filter(cond).agg(
        fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@query(
    "tpch_q10_returned",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 10
    """,
    description="Q10-style: revenue lost to returns per customer, top-10 with deterministic tiebreak",
)
def q_tpch_q10_returned(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(10)
    )


@query(
    "tpch_q7_nation_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
    description="Q7-style: bilateral trade volume between two nations per ship year",
)
def q_tpch_q7_nation_volume(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    cn = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    sn = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cn), cust.c_nationkey == cn.c_nk)
        .join(F.broadcast(sn), supp.s_nationkey == sn.s_nk)
    )
    pair = ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        j.filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "tpch_q8_market_share",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           floor((sum(CASE WHEN sn.n_name = 'NATION_3'
                           THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
                  / sum(l_extendedprice * (1 - l_discount))) * 10000.0 + 0.5) / 10000.0 AS mkt_share
    FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
    GROUP BY 1
    """,
    description="Q8-style: one nation's market share of STANDARD-part revenue inside EUROPE per order year",
)
def q_tpch_q8_market_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cn = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    sn = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == cn.c_nk)
        .join(F.broadcast(region), cn.c_rk == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == sn.s_nk)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        fround(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(0.0)) / F.sum(rev), 4
        ).alias("mkt_share")
    )


@query(
    "tpch_q9_product_profit",
    bench=True,
    oracle="""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           floor((sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000.0 + 0.5) AS BIGINT))
                  / 1000000.0) * 100.0 + 0.5) / 100.0 AS sum_profit
    FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
    description=(
        "Q9-style: per-supplier-nation yearly revenue on parts matching a name pattern. "
        "Revenue is summed in exact integer micro-units (per-row round, then bigint sum) so "
        "the group total is independent of partial-aggregation order — one group here lands "
        "exactly on a 2dp rounding boundary, where float summation order flips the result"
    ),
)
def q_tpch_q9_product_profit(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    micros = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast("bigint")
    return j.groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")).agg(
        fround(F.sum(micros) / F.lit(1_000_000.0), 2).alias("sum_profit")
    )


@query(
    "tpch_q13_order_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey)
    GROUP BY 1
    """,
    description="Q13-style: histogram of orders-per-customer incl. zero (left join preserves orderless customers)",
)
def q_tpch_q13_order_distribution(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "tpch_q15_top_supplier",
    oracle="""
    WITH r AS (
      SELECT l_suppkey AS supplier_no,
             sum(l_extendedprice * (1 - l_discount)) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name,
           floor(total_rev * 100.0 + 0.5) / 100.0 AS total_revenue
    FROM supplier JOIN r ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT max(total_rev) FROM r)
    """,
    description="Q15-style: the supplier(s) with maximum quarterly revenue (scalar max subquery)",
)
def q_tpch_q15_top_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00"))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev"))
    )
    top = rev.agg(F.max("total_rev").alias("__mx"))
    return (
        rev.join(F.broadcast(top), rev.total_rev == F.col("__mx"))
        .join(supp, rev.supplier_no == supp.s_suppkey)
        .select("s_suppkey", "s_name", fround(F.col("total_rev"), 2).alias("total_revenue"))
    )


@query(
    "tpch_q16_supplier_cnt",
    oracle="""
    SELECT p_brand, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 5, 10, 15, 20, 25)
    GROUP BY 1, 2
    """,
    description=(
        "Q16-style: distinct suppliers per (brand, size) with NOT-pattern exclusions — "
        "lineitem stands in for partsupp (absent from the slim schema)"
    ),
)
def q_tpch_q16_supplier_cnt(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q17_small_qty_revenue",
    oracle="""
    SELECT floor((sum(l_extendedprice) / 7.0) * 100.0 + 0.5) / 100.0 AS avg_yearly
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#2'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
    description=(
        "Q17-style: revenue of below-one-fifth-of-average-quantity orders — correlated avg "
        "subquery rewritten as a per-part aggregate join"
    ),
)
def q_tpch_q17_small_qty_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    # correlated subquery -> per-part avg computed once, broadcast back
    avg_qty = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("__qty_cap")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("__pk"))
        .filter(F.col("l_quantity") < F.col("__qty_cap"))
        .agg(fround(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS total_qty
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300)
    GROUP BY 1, 2, 3, 4, 5
    """,
    description="Q18-style: customers behind the largest orders (HAVING-filtered IN subquery)",
)
def q_tpch_q18_large_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("__s")).filter(F.col("__s") > 300)
    return (
        li.join(big.select("l_orderkey"), "l_orderkey", "left_semi")
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(fround(F.sum("l_quantity"), 2).alias("total_qty"))
    )


@query(
    "tpch_q21_waiting_supplier",
    bench=True,
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
    description=(
        "Q21-style: suppliers solely responsible for late multi-supplier orders — "
        "correlated EXISTS + NOT EXISTS as semi/anti joins (late = shipped >60d after order)"
    ),
)
def q_tpch_q21_waiting_supplier(spark, sf_dir):
    """Two-level-aggregate form of the EXISTS / NOT EXISTS pair (guide
    §2.3 aggregate before you shuffle, §2.4 remove shuffles outright).
    The original plan scanned lineitem three times and shuffled the fact
    twice (semi + anti join, both keyed on l_orderkey); but every
    predicate is a fact about the ORDER's supplier set, so one grouped
    pass computes them all:

      * EXISTS another supplier on the order      ⇔ n_supp >= 2
      * NOT EXISTS another LATE supplier          ⇔ n_late_supp == 1
        (the candidate row itself is late, so "exactly one late supplier"
        and "no OTHER late supplier" coincide)
      * count(*) over qualifying l1 rows          ⇔ the order's late-row
        count, all of which belong to the sole late supplier.

    The distinct-supplier counts run as TWO stacked hash aggregates —
    (l_orderkey, l_suppkey) partials first, then per-order counts — NOT
    as countDistinct: the countDistinct Expand (x2 per distinct column)
    tripled the exchanged rows and measured 2.6 s vs 1.37 s for this form
    (in-process A/B at sf0.1; the original semi/anti form was 1.24-1.39 s
    locally but shuffles the full fact twice and scans it three times).
    Result-identical to the semi/anti formulation (the driver oracle pins
    it); plan: 3 lineitem scans + 2 full-fact Exchanges → 1 scan + 1
    map-side-combined Exchange of distinct (order, supplier) partials,
    orders/supplier broadcast."""
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late_cut = F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")

    lo = li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
    per_os = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("l_shipdate") > late_cut, 1).otherwise(0)).alias("__late_rows")
    )
    per_order = (
        per_os.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("__n_supp"),
            F.sum(F.when(F.col("__late_rows") > 0, 1).otherwise(0)).alias("__n_late_supp"),
            F.max(F.when(F.col("__late_rows") > 0, F.col("l_suppkey"))).alias("__late_sk"),
            F.sum("__late_rows").alias("__late_rows_total"),
        )
        .filter((F.col("__n_supp") >= 2) & (F.col("__n_late_supp") == 1))
    )
    return (
        per_order.join(F.broadcast(supp), F.col("__late_sk") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("__late_rows_total").alias("numwait"))
    )


@query(
    "tpch_q22_idle_rich_customers",
    oracle="""
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
           floor((sum(c_acctbal)) * 100.0 + 0.5) / 100.0 AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY 1
    """,
    description=(
        "Q22-style: above-average-balance customers with no recent orders — scalar avg "
        "subquery + anti join, grouped by market segment"
    ),
)
def q_tpch_q22_idle_rich_customers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00"))
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("__avg"))
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("numcust"), fround(F.sum("c_acctbal"), 2).alias("totacctbal"))
    )


@query(
    "cube_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    description="Full cube over two dimensions (all 4 grouping sets)",
)
def q_cube_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), fround(F.sum("o_totalprice"), 2).alias("total")
    )


@query(
    "json_props_stats",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS INT) AS k,
           CAST(count(*) AS BIGINT) AS n,
           floor((avg(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
    GROUP BY 1
    """,
    description=(
        "F-family/§7.4: typed JSON parsing of the props column (from_json with an "
        "explicit schema, not regex) aggregated per extracted key — the structured "
        "form of regexp_extract_props"
    ),
)
def q_json_props_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), fround(F.avg("value"), 4).alias("avg_value"))
    )


@query(
    "regexp_extract_props",
    oracle="""
    SELECT CAST(regexp_extract(props, '"k":[ \\t\\n\\r\\f\\x0B]*(\\d+)', 1) AS INT) % 10 AS k_bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    WHERE regexp_matches(props, '"k":[ \\t\\n\\r\\f\\x0B]*\\d{2}')
    GROUP BY 1
    """,
    description="F7: regex extraction + rlike filtering over the JSON props column",
)
def q_regexp_extract_props(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", '"k":[ \\t\\n\\r\\f\\x0B]*([0-9]+)', 1).cast("int")
    return (
        ev.filter(F.col("props").rlike('"k":[ \\t\\n\\r\\f\\x0B]*[0-9]{2}'))
        .groupBy((k % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# The test schema carries no partsupp table, so TPC-H Q2/Q11/Q20 cannot be
# ported literally; the per-(part, supplier) aggregate of lineitem stands in
# for it. What matters is the operator SHAPE each query exercises —
# arg-min-per-group with join-back (Q2), HAVING against a global scalar
# (Q11), and a nested quantity-threshold semi-join chain (Q20) — each absent
# from the rest of the registry.


@query(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             floor((avg(l_extendedprice / l_quantity)) * 100.0 + 0.5) / 100.0 AS cost
      FROM lineitem GROUP BY 1, 2
    ),
    minc AS (SELECT partkey, min(cost) AS min_cost FROM ps GROUP BY 1)
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand, ps.cost
    FROM ps
      JOIN minc ON ps.partkey = minc.partkey AND ps.cost = minc.min_cost
      JOIN part p ON p.p_partkey = ps.partkey AND p.p_size <= 10
      JOIN supplier s ON s.s_suppkey = ps.suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
    description=(
        "Q2-shape: min-cost supplier per part (arg-min per group via min-aggregate "
        "join-back, ties kept like the original), star lookups, deterministic top-100"
    ),
)
def q_tpch_q2_min_cost_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(fround(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 2).alias("cost"))
    minc = ps.groupBy("partkey").agg(F.min("cost").alias("min_cost"))
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        ps.join(minc, (ps.partkey == minc.partkey) & (ps.cost == minc.min_cost))
        .drop(minc.partkey)
        .join(part, F.col("partkey") == part.p_partkey)
        .join(supp, F.col("suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "cost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "tpch_q11_value_share",
    oracle="""
    WITH pv AS (
      SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS part_value
      FROM lineitem GROUP BY 1
    )
    SELECT l_partkey,
           floor((part_value) * 100.0 + 0.5) / 100.0 AS part_value
    FROM pv
    WHERE part_value > (SELECT avg(part_value) * 1.2 FROM pv)
    ORDER BY part_value DESC, l_partkey
    """,
    description=(
        "Q11-shape: per-part revenue kept only when above a multiple of the GLOBAL "
        "average — aggregate filtered against a broadcast scalar subquery (the "
        "avg-relative threshold keeps the selection meaningful at every scale "
        "factor, unlike Q11's fixed fraction-of-total, which empties as |part| grows)"
    ),
)
def q_tpch_q11_value_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("part_value")
    )
    total = pv.agg((F.avg("part_value") * F.lit(1.2)).alias("threshold"))
    return (
        pv.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", fround(F.col("part_value"), 2).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@query(
    "tpch_q20_excess_suppliers",
    oracle="""
    WITH sq AS (
      SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    pt AS (
      SELECT l_partkey, sum(l_quantity) AS total_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (
      SELECT 1
      FROM sq JOIN pt ON sq.l_partkey = pt.l_partkey
              JOIN part ON p_partkey = sq.l_partkey AND p_name LIKE 'small%'
      WHERE sq.l_suppkey = s_suppkey AND sq.qty > 0.3 * pt.total_qty
    )
    ORDER BY s_suppkey
    """,
    description=(
        "Q20-shape: suppliers holding an outsized share (>30%) of a year's shipments "
        "of any 'small%' part — nested aggregate-vs-aggregate threshold feeding a semi join"
    ),
)
def q_tpch_q20_excess_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00"))
    )
    sq = li.groupBy("l_suppkey", "l_partkey").agg(F.sum("l_quantity").alias("qty"))
    pt = li.groupBy("l_partkey").agg(F.sum("l_quantity").alias("total_qty"))
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%")).select("p_partkey")
    excess = (
        sq.join(pt, "l_partkey")
        .join(part, sq.l_partkey == part.p_partkey, "left_semi")
        .filter(F.col("qty") > F.lit(0.3) * F.col("total_qty"))
        .select("l_suppkey")
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(excess, supp.s_suppkey == excess.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "self_alias_join",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2
    """,
    description="J6: the same dim joined twice under aliases (customer nation vs supplier nation)",
)
def q_self_alias_join(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00")) & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    cn = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    sn = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cn), cust.c_nationkey == cn.c_nk)
        .join(F.broadcast(sn), supp.s_nationkey == sn.s_nk)
    )
    return joined.groupBy("cust_nation", "supp_nation").agg(
        fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


# ---------------------------------------------------------------------------
# Rollup / unpivot / percentiles
# ---------------------------------------------------------------------------

@query(
    "rollup_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    description="Hierarchical rollup (subtotals + grand total) — free from Catalyst, absent in the reference",
)
def q_rollup_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
    """,
    description="Wide->long unpivot (melt) — inverse of the A1 pivot",
)
def q_unpivot_part_metrics(spark, sf_dir):
    part = _t(spark, sf_dir, "part").withColumn("p_size", F.col("p_size").cast("double"))
    return part.unpivot(["p_partkey"], ["p_size", "p_retailprice"], "metric", "val")


@query(
    "percentile_summary",
    oracle="""
    SELECT l_returnflag,
           floor((quantile_cont(l_quantity, 0.25)) * 10000.0 + 0.5) / 10000.0 AS p25,
           floor((quantile_cont(l_quantity, 0.50)) * 10000.0 + 0.5) / 10000.0 AS p50,
           floor((quantile_cont(l_quantity, 0.75)) * 10000.0 + 0.5) / 10000.0 AS p75
    FROM lineitem
    GROUP BY 1
    """,
    description="Exact linear-interpolated percentiles per group",
)
def q_percentile_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        fround(F.percentile("l_quantity", F.lit(0.25)), 4).alias("p25"),
        fround(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50"),
        fround(F.percentile("l_quantity", F.lit(0.75)), 4).alias("p75"),
    )


# ---------------------------------------------------------------------------
# Set ops (U1 + U5)
# ---------------------------------------------------------------------------

@query(
    "union_dedup",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1
    """,
    description="U1+U5: insert-by-union then logical-key dedup collapses the duplicates",
)
def q_union_dedup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    doubled = mutation.add_points(ev, ev)
    deduped = mutation.drop_logical_duplicates(doubled)
    return deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Skew-safe aggregation (semantics-preserving two-phase salted agg)
# ---------------------------------------------------------------------------

@query(
    "salted_agg",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           floor((sum(value)) * 100.0 + 0.5) / 100.0 AS sum_value
    FROM events
    GROUP BY 1
    """,
    description=(
        "Skew-safe two-phase salted aggregation over a hot key — identical results to the "
        "plain groupBy (the oracle), with per-key volume split across 16 salted partials"
    ),
)
def q_salted_agg(spark, sf_dir):
    from h2outility_spark.operators import skew

    ev = _t(spark, sf_dir, "events")
    out = skew.salted_agg(
        ev,
        ["event_type"],
        {"n": ("count", "value"), "sum_raw": ("sum", "value")},
        salt_source=F.col("event_id"),
    )
    return out.select("event_type", F.col("n").cast("bigint").alias("n"), fround(F.col("sum_raw"), 2).alias("sum_value"))


# ---------------------------------------------------------------------------
# SQL-API twin, funnels, cohorts, grouping sets
# ---------------------------------------------------------------------------

@query(
    "sql_api_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="S2-analog: the spark.sql/view-registration surface (same Catalyst plan as the DataFrame form)",
)
def q_sql_api_q1(spark, sf_dir):
    from h2outility_spark.sources.parquet import register_views

    register_views(spark, sf_dir)
    # NB: bare decimal literals are DecimalType in Spark SQL (unlike the
    # DataFrame API) — the D suffix keeps the arithmetic in doubles so the
    # result is bit-identical to the oracle's.
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               floor(sum(l_quantity) * 100.0D + 0.5D) / 100.0D AS sum_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """)


@query(
    "funnel_conversion",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT user_id, ts AS t_click FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts AS t_purchase FROM events WHERE event_type = 'purchase'),
    vc AS (SELECT v.user_id, v.t_view, min(c.t_click) AS t_click
           FROM v JOIN c ON v.user_id = c.user_id AND c.t_click > v.t_view
           GROUP BY 1, 2),
    vcp AS (SELECT vc.user_id, vc.t_view, vc.t_click, min(p.t_purchase) AS t_purchase
            FROM vc JOIN p ON vc.user_id = p.user_id AND p.t_purchase > vc.t_click
            GROUP BY 1, 2, 3)
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_viewed,
           CAST((SELECT count(*) FROM vc) AS BIGINT) AS n_clicked_after,
           CAST((SELECT count(*) FROM vcp) AS BIGINT) AS n_purchased_after
    """,
    description=(
        "Sequential funnel: users whose first view is followed by a click, then a "
        "purchase, in strict event-time order — each stage is an earliest-event-after "
        "aggregate join (min-after-anchor), the ordered-sequence shape plain joins "
        "cannot express without the time predicate"
    ),
)
def q_funnel_conversion(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = ev.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("t_click"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t_purchase")
    )
    vc = (
        v.join(c, "user_id")
        .filter(F.col("t_click") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("t_click").alias("t_click"))
    )
    vcp = (
        vc.join(p, "user_id")
        .filter(F.col("t_purchase") > F.col("t_click"))
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min("t_purchase").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .join(F.broadcast(vc.agg(F.count(F.lit(1)).alias("n_clicked_after"))))
        .join(F.broadcast(vcp.agg(F.count(F.lit(1)).alias("n_purchased_after"))))
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY 1
    ),
    activity AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events)
    SELECT f.cohort_week,
           CAST(datediff('week', f.cohort_week, a.act_week) AS INT) AS week_offset,
           CAST(count(DISTINCT f.user_id) AS BIGINT) AS n_active
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    description=(
        "Retention cohorts: users grouped by first-activity week, counted active per "
        "week offset — the self-referential cohort shape (first-touch aggregate joined "
        "back to the activity stream)"
    ),
)
def q_retention_cohorts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("act_week")).distinct()
    joined = firsts.join(activity, "user_id")
    week_off = (
        (F.unix_micros(F.col("act_week")) - F.unix_micros(F.col("cohort_week")))
        / F.lit(7 * 86400 * 1_000_000)
    ).cast("int")
    return joined.groupBy(
        F.to_date("cohort_week").alias("cohort_week"), week_off.alias("week_offset")
    ).agg(F.count_distinct("user_id").alias("n_active"))


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
    description=(
        "Custom GROUPING SETS (each axis alone + the pair, no grand total) — the "
        "general form cube/rollup specialize; one pass, Catalyst expands the sets"
    ),
)
def q_grouping_sets_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], ["l_returnflag", "l_linestatus"]],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


# -- bucketed co-located join ------------------------------------------------------

#: (session, table_name) pairs pending a best-effort DROP at interpreter
#: exit. ONE atexit handler drains the whole list — per-invocation
#: registration accumulated a handler per call for the life of the
#: session (ADVICE r10).
_BUCKETED_TABLES: list = []


_BUCKETED_ATEXIT_ARMED = False


def _register_bucketed_tables(spark, *names) -> None:
    global _BUCKETED_ATEXIT_ARMED
    _BUCKETED_TABLES.extend((spark, n) for n in names)
    if not _BUCKETED_ATEXIT_ARMED:
        import atexit

        def _drain():
            for session, n in _BUCKETED_TABLES:
                try:
                    session.sql(f"DROP TABLE IF EXISTS {n}")
                except Exception:  # noqa: BLE001 — session may already be stopped
                    pass
            _BUCKETED_TABLES.clear()

        atexit.register(_drain)
        _BUCKETED_ATEXIT_ARMED = True


BUCKETED_JOIN_ORACLE = """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query(
    "bucketed_join_orders",
    oracle=BUCKETED_JOIN_ORACLE,
    description="bucketed co-located fact-dim join: 8 buckets, exchange-free sort-merge plan",
)
def q_bucketed_join_orders(spark, sf_dir):
    """The co-located join the 100 TB plan wants: both sides are written
    BUCKETED on the join key (8 buckets, sorted), so the fact-dim join
    runs bucket-to-bucket with NO exchange on either side — the shuffle
    is paid once at layout time and amortized over every subsequent
    join, which is exactly how a 100 TB fact table should meet its
    high-cardinality dims (pytest pins the no-Exchange plan; the driver
    hash certifies the result). The tiny post-join rollup is the only
    shuffle left."""
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", cents.alias("cents"))
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    # Per-invocation table names (derived from the scratch dir's unique
    # suffix): fixed session-global names raced under interleaved
    # invocations — the sf0.001 parity run, the sf0.01 driver run, and the
    # plan-audit all call this fn in one session, and the returned frame
    # resolves its table names LAZILY (ADVICE r9). Unique names make each
    # invocation self-contained; a single module-level atexit hook drains
    # the accumulated name list at interpreter exit (ADVICE r10: one
    # registered handler, not one per invocation) without breaking the
    # late driver collect.
    base = scratch_dir("h2ou_bkt_")
    tag = os.path.basename(base).replace("h2ou_bkt_", "").replace("-", "_")
    t_orders, t_cust = f"bkt_orders_{tag}", f"bkt_customer_{tag}"
    _register_bucketed_tables(spark, t_orders, t_cust)
    (
        orders.write.format("parquet")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", base + "/orders")
        .mode("overwrite")
        .saveAsTable(t_orders)
    )
    (
        cust.write.format("parquet")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", base + "/customer")
        .mode("overwrite")
        .saveAsTable(t_cust)
    )
    j = spark.table(t_orders).join(
        spark.table(t_cust), F.col("o_custkey") == F.col("c_custkey")
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("total_cents"),
    )
