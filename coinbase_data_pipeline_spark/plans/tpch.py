"""Catalog part 4: the relational/OLAP core widened — TPC-H-shaped
queries adapted to the testdata star schema (no partsupp table; no
l_commitdate/l_shipmode/p_container columns, so Q4/Q12/Q19 use
equivalent predicates over the columns that exist; date constants sit
inside the synthetic 1995–2001 range).

Shuffle strategy, stated per query and visible in .explain:
- broadcast HINTS only on fixed-cardinality dims (nation, region).
  Everything SF-proportional (customer, supplier, part, orders) is
  left to the session's join policy (session.py): the static planner
  broadcasts it only while its plan estimate is under 10 MB, and
  beyond that plans a shuffle join that AQE re-broadcasts only when
  the side's exact runtime shuffle size is under 64 MB — the plan
  that survives a 100× scale-up.
- aggregations are partial (map-side combine) before their single
  exchange.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.tables import load_table
from .catalog import RND

def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS → left-semi join. Adapted predicate
    (no l_commitdate): a 'late' order has any lineitem shipped more
    than 60 days after the order date."""
    od = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-10-01"))
    li = load_table(spark, sf_dir, "lineitem")
    late = od.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate")
           > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


SQL_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: pure scan-filter-aggregate; every predicate reaches
    the parquet scan (PushedFilters), zero joins, one partial agg."""
    li = load_table(spark, sf_dir, "lineitem")
    out = (li.filter((F.col("l_shipdate") >= "1997-01-01")
                     & (F.col("l_shipdate") < "1998-01-01")
                     & (F.col("l_discount") >= 0.05)
                     & (F.col("l_discount") <= 0.07)
                     & (F.col("l_quantity") < 24))
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * F.col("l_discount")), 2)
                 .alias("revenue")))
    return out


SQL_Q6 = """
SELECT ROUND(sum(l_extendedprice * l_discount), 2) + 0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: two nation lenses over one flow; only the
    fixed-cardinality nation dims are force-broadcast — supplier and
    customer grow with SF, so AQE picks their join strategy."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") <= "1997-12-31"))
    od = load_table(spark, sf_dir, "orders")
    su = load_table(spark, sf_dir, "supplier")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    n1 = na.select(F.col("n_nationkey").alias("s_nkey"),
                   F.col("n_name").alias("supp_nation"))
    n2 = na.select(F.col("n_nationkey").alias("c_nkey"),
                   F.col("n_name").alias("cust_nation"))
    out = (li
           .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
           .join(su, F.col("l_suppkey") == F.col("s_suppkey"))
           .join(cu, F.col("o_custkey") == F.col("c_custkey"))
           .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
           .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
           .filter(((F.col("supp_nation") == "NATION_12")
                    & (F.col("cust_nation") == "NATION_10"))
                   | ((F.col("supp_nation") == "NATION_10")
                      & (F.col("cust_nation") == "NATION_12")))
           .groupBy("supp_nation", "cust_nation",
                    F.year("l_shipdate").alias("l_year"))
           .agg(F.round(F.sum(_rev()), 2).alias("revenue")))
    return out


SQL_Q7 = """
SELECT supp_nation, cust_nation, l_year,
       ROUND(sum(volume), 2) + 0 AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
    AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
      OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                       AND TIMESTAMP '1997-12-31 00:00:00'
) GROUP BY supp_nation, cust_nation, l_year
"""


def q10_returned_items(spark, sf_dir):
    """TPC-H Q10: returned-item revenue per customer; nation broadcast,
    customer is SF-proportional so AQE sizes that join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R")
    od = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01")
        & (F.col("o_orderdate") < "1997-01-01"))
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    out = (li
           .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
           .join(cu, F.col("o_custkey") == F.col("c_custkey"))
           .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
           .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
           .agg(F.round(F.sum(_rev()), RND).alias("revenue")))
    return out


SQL_Q10 = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 6) + 0 AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
"""


def q14_promo_effect(spark, sf_dir):
    """TPC-H Q14: conditional aggregate over a part join. No broadcast
    hint — part is SF-proportional; Catalyst's size stats broadcast it
    while it fits and AQE shuffles it when it doesn't."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01")
        & (F.col("l_shipdate") < "1997-10-01"))
    pa = load_table(spark, sf_dir, "part")
    out = (li.join(pa, F.col("l_partkey") == F.col("p_partkey"))
           .agg((F.round(
               F.lit(100.0)
               * F.sum(F.when(F.col("p_type") == "PROMO", _rev())
                       .otherwise(F.lit(0.0)))
               / F.sum(_rev()), RND) + F.lit(0.0)).alias("promo_revenue")))
    return out


SQL_Q14 = """
SELECT ROUND(100.00 * sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) + 0
         AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
"""


def q18_large_orders(spark, sf_dir):
    """TPC-H Q18: self-aggregation of the fact as a semi-join filter.
    The HAVING subquery is the same lineitem scan aggregated once —
    AQE turns the IN into a shuffled semi join on orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
             .agg(F.sum("l_quantity").alias("_sumq"))
             .filter(F.col("_sumq") > 200)
             .select("l_orderkey"))
    out = (li.join(big.withColumnRenamed("l_orderkey", "b_orderkey"),
                   F.col("l_orderkey") == F.col("b_orderkey"), "left_semi")
           .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
           .join(cu, F.col("o_custkey") == F.col("c_custkey"))
           .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice")
           .agg(F.round(F.sum("l_quantity"), RND).alias("sum_qty")))
    return out


SQL_Q18 = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       ROUND(sum(l_quantity), 6) + 0 AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
"""


def q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive multi-attribute predicate across
    the join (brand/size/quantity stand in for brand/container/qty).
    The OR-of-ANDs evaluates post-join, row-local; part carries no
    broadcast hint (SF-proportional — planner stats/AQE decide)."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1")
         & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2")
           & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(5, 30))
        | ((F.col("p_brand") == "Brand#3")
           & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(10, 40)))
    out = (li.join(pa, F.col("l_partkey") == F.col("p_partkey"))
           .filter(cond)
           .agg(F.round(F.sum(_rev()), 2).alias("revenue")))
    return out


SQL_Q19 = """
SELECT ROUND(sum(l_extendedprice * (1 - l_discount)), 2) + 0 AS revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        AND l_quantity BETWEEN 1 AND 20)
    OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        AND l_quantity BETWEEN 5 AND 30)
    OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        AND l_quantity BETWEEN 10 AND 40))
"""


def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of regional revenue per year.
    Fixed-cardinality dims (nation, region) and the tightly filtered
    part slice broadcast; customer/supplier scale with SF → AQE."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") <= "1997-12-31"))
    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    pa = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA")
    n_cust = na.select(F.col("n_nationkey").alias("cn_key"),
                       F.col("n_regionkey").alias("cr_key"))
    n_supp = na.select(F.col("n_nationkey").alias("sn_key"),
                       F.col("n_name").alias("supp_nation"))
    # r13 join order (guide §1.2/§3.1): the part slice is the most
    # selective relation and broadcasts at every SF — joining it
    # FIRST prunes lineitem before the SF×SF orders join instead of
    # after (Catalyst does not reorder joins without CBO). Inner
    # equi-joins commute (same row multiset into the aggregate);
    # outputs hash-verified identical to the r12 plan at sf0.1 and
    # 100×, oracle parity green at sf0.001/sf0.01.
    joined = (li
              .join(pa, F.col("l_partkey") == F.col("p_partkey"))
              .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(cu, F.col("o_custkey") == F.col("c_custkey"))
              .join(su, F.col("l_suppkey") == F.col("s_suppkey"))
              .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
              .join(F.broadcast(re), F.col("cr_key") == F.col("r_regionkey"))
              .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key")))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = (joined.groupBy(F.year("o_orderdate").alias("o_year"))
           .agg((F.round(
               F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)
                     .otherwise(F.lit(0.0))) / F.sum(vol), RND)
               + F.lit(0.0)).alias("mkt_share")))
    return out


SQL_Q8 = """
SELECT o_year,
       ROUND(sum(CASE WHEN nation = 'NATION_3' THEN volume
                 ELSE 0.0 END) / sum(volume), 6) + 0 AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part, supplier, lineitem, orders, customer, nation n1,
       nation n2, region
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                        AND TIMESTAMP '1997-12-31 00:00:00'
    AND p_type = 'ECONOMY'
)
GROUP BY o_year
"""


def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (no partsupp → profit = discounted revenue):
    per supplier-nation per year over a part name filter.

    Join ORDER is the optimization (r13, guide §1.2/§3.1): the part
    name filter is the query's only selective predicate (~6% of
    parts), and Catalyst does not reorder joins without CBO — the r12
    plan shuffled the ENTIRE lineitem into the orders join and
    applied the part filter after. Joining the filtered part slice
    FIRST (broadcast — it stays dim-sized at every SF) prunes ~94% of
    lineitem before the one SF×SF join (orders), so the big-big
    shuffle carries only part-matched lines. Inner equi-joins commute
    (same row multiset into the aggregate); the 6dp-rounded sums were
    hash-verified identical to the r12 plan at sf0.1 AND the 100×
    probe, and oracle parity re-ran green at sf0.001/sf0.01 — the
    checked guarantee, since double summation order is not exact for
    2dp×2dp terms."""
    li = load_table(spark, sf_dir, "lineitem")
    # orders is the one SF×SF side left after the part prune; past the
    # session's static broadcast threshold it is shuffle-joined (100x
    # probe: 14.5 s all-broadcast vs 3.4 s merge — the 15M-row
    # broadcast build dominated)
    od = load_table(spark, sf_dir, "orders")
    su = load_table(spark, sf_dir, "supplier")
    pa = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("red"))
    na = load_table(spark, sf_dir, "nation")
    out = (li
           .join(pa, F.col("l_partkey") == F.col("p_partkey"))
           .join(su, F.col("l_suppkey") == F.col("s_suppkey"))
           .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
           .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
           .groupBy(F.col("n_name").alias("nation"),
                    F.year("o_orderdate").alias("o_year"))
           .agg((F.round(F.sum(_rev()), RND) + F.lit(0.0))
                .alias("sum_profit")))
    return out


SQL_Q9 = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 6) + 0 AS sum_profit
FROM part, supplier, lineitem, orders, nation
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
  AND p_name LIKE '%red%'
GROUP BY n_name, o_year
"""


def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: LEFT OUTER join (customers with zero orders
    kept) → per-customer count → count-of-counts distribution."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT")
    per_cust = (cu.join(od, F.col("c_custkey") == F.col("o_custkey"),
                        "left_outer")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


SQL_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: revenue view + argmax — one aggregate pass,
    scalar max broadcast back (never a re-scan subquery, never a
    single-partition window)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-04-01"))
    su = load_table(spark, sf_dir, "supplier")
    revenue = (li.groupBy("l_suppkey")
               .agg(F.round(F.sum(_rev()), RND).alias("total_revenue")))
    # scalar max via broadcast crossJoin (house pattern) — the old
    # empty-partition max window put the whole supplier aggregate in
    # one WindowExec partition
    mx = revenue.agg(F.max("total_revenue").alias("_max"))
    top = (revenue.crossJoin(F.broadcast(mx))
           .filter(F.col("total_revenue") == F.col("_max"))
           .drop("_max"))
    return (top.join(su,
                     F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name",
                    (F.col("total_revenue") + F.lit(0.0))
                    .alias("total_revenue")))


SQL_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         ROUND(sum(l_extendedprice * (1 - l_discount)), 6) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue + 0 AS total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def q17_small_quantity(spark, sf_dir):
    """TPC-H Q17 shape: the correlated per-part average becomes a
    grouped aggregate joined back to the fact (one extra pass, no
    correlated re-execution)."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#5")
    avg_qty = (li.groupBy(F.col("l_partkey").alias("a_partkey"))
               .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_lim")))
    out = (li.join(pa, F.col("l_partkey") == F.col("p_partkey"))
           .join(avg_qty, F.col("l_partkey") == F.col("a_partkey"))
           .filter(F.col("l_quantity") < F.col("qty_lim"))
           .agg((F.round(F.sum("l_extendedprice") / 7.0, RND)
                 + F.lit(0.0)).alias("avg_yearly")))
    return out


SQL_Q17 = """
SELECT ROUND(sum(l_extendedprice) / 7.0, 6) + 0 AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand = 'Brand#5'
  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem
                    WHERE l_partkey = p_partkey)
"""


def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape: ANTI join gated by a broadcast scalar (average
    positive balance). Adapted predicate: 'lapsed' high-balance
    customers — none of their orders fall after the cutoff (every
    synthetic customer has SOME order, so the classic no-orders-ever
    filter would be empty)."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-06-01")
    avg_bal = (cu.filter(F.col("c_acctbal") > 0.0)
               .agg(F.avg("c_acctbal").alias("avg_bal")))
    no_orders = cu.join(od, F.col("c_custkey") == F.col("o_custkey"),
                        "left_anti")
    out = (no_orders.crossJoin(F.broadcast(avg_bal))
           .filter(F.col("c_acctbal") > F.col("avg_bal"))
           .groupBy("c_mktsegment")
           .agg(F.count(F.lit(1)).alias("numcust"),
                (F.round(F.sum("c_acctbal"), RND) + F.lit(0.0))
                .alias("totacctbal")))
    return out


SQL_Q22 = """
SELECT c_mktsegment, count(*) AS numcust,
       ROUND(sum(c_acctbal), 6) + 0 AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                   WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
GROUP BY c_mktsegment
"""


def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (no partsupp → unit cost observed from lineitem):
    for each STANDARD small part, the cheapest EUROPE supplier. The
    correlated MIN subquery becomes one grouped aggregate joined back
    on (part, cost) — one extra pass instead of per-row re-execution.
    Unit cost is an IEEE division, bit-identical across engines, so the
    equality join-back is exact."""
    pa = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re_ = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE")
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "unit_cost", F.col("l_extendedprice") / F.col("l_quantity"))
    offers = (li
              .join(pa, F.col("l_partkey") == F.col("p_partkey"))
              .join(su, F.col("l_suppkey") == F.col("s_suppkey"))
              .join(F.broadcast(na),
                    F.col("s_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(re_),
                    F.col("n_regionkey") == F.col("r_regionkey")))
    min_cost = (offers.groupBy(F.col("p_partkey").alias("m_partkey"))
                .agg(F.min("unit_cost").alias("m_cost")))
    return (offers
            .join(min_cost,
                  (F.col("p_partkey") == F.col("m_partkey"))
                  & (F.col("unit_cost") == F.col("m_cost")))
            .select("s_acctbal", "s_name", "n_name", "p_partkey",
                    "p_name",
                    (F.round(F.col("unit_cost"), RND) + F.lit(0.0))
                    .alias("min_cost"))
            .distinct())


SQL_Q2 = """
WITH offers AS (
  SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
         l_extendedprice / l_quantity AS unit_cost
  FROM lineitem, part, supplier, nation, region
  WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
    AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
    AND r_name = 'EUROPE' AND p_type = 'STANDARD' AND p_size <= 10
)
SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name,
       ROUND(unit_cost, 6) + 0 AS min_cost
FROM offers o
WHERE unit_cost = (SELECT min(unit_cost) FROM offers
                   WHERE p_partkey = o.p_partkey)
"""


def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape (no partsupp → part value observed from one
    nation's shipped revenue): per-part revenue over NATION_3
    suppliers, kept when above 2× the average part value — a
    scale-invariant gate (the classic fixed fraction of the total
    empties as part count grows with SF). The scalar HAVING subquery
    is a broadcast-scalar crossJoin, never a re-scan."""
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3")
    li = load_table(spark, sf_dir, "lineitem")
    flow = (li.join(su, F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(na),
                  F.col("s_nationkey") == F.col("n_nationkey")))
    per_part = (flow.groupBy("l_partkey")
                .agg(F.sum(_rev()).alias("part_value")))
    total = per_part.agg(
        (F.avg("part_value") * F.lit(2.0)).alias("threshold"))
    return (per_part.crossJoin(F.broadcast(total))
            .filter(F.col("part_value") > F.col("threshold"))
            .select("l_partkey",
                    (F.round(F.col("part_value"), RND) + F.lit(0.0))
                    .alias("part_value")))


SQL_Q11 = """
WITH per_part AS (
  SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS part_value
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT l_partkey, ROUND(part_value, 6) + 0 AS part_value
FROM per_part
WHERE part_value > (SELECT avg(part_value) * 2.0 FROM per_part)
"""


def q12_priority_shipping(spark, sf_dir):
    """TPC-H Q12 shape (no l_shipmode/l_commitdate → linestatus buckets
    and shipped-late predicate): per linestatus, how many late lines
    carried high- vs low-priority orders. Fact-fact join on orderkey +
    CASE counts; every filter reaches the lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01"))
    od = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
            .filter(F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
            .groupBy("l_linestatus")
            .agg(F.count(F.when(high, F.lit(1))).alias("high_line_count"),
                 F.count(F.when(~high, F.lit(1))).alias("low_line_count")))


SQL_Q12 = """
SELECT l_linestatus,
       count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS high_line_count,
       count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS low_line_count
FROM lineitem, orders
WHERE l_orderkey = o_orderkey
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_linestatus
"""


def q16_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    combo, minus an excluded supplier set (negative-balance stands in
    for the complaints comment). The NOT IN becomes a left-anti join;
    count(distinct) shuffles once on the group keys."""
    pa = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 14, 23, 45))
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem")
    return (li.join(pa, F.col("l_partkey") == F.col("p_partkey"))
            .join(bad, F.col("l_suppkey") == F.col("s_suppkey"),
                  "left_anti")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


SQL_Q16 = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 14, 23, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q20_part_promotion(spark, sf_dir):
    """TPC-H Q20 shape (no partsupp → shipped volume stands in for
    stock): EUROPE suppliers that moved more than 20 units of some
    red part during 1997. Two nested semi-joins, both derived from
    grouped aggregates — no correlated re-execution; quantity sums
    are exact small-integer doubles so the >20 gate is stable."""
    pa = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("red")).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01"))
    heavy = (li.join(pa, F.col("l_partkey") == F.col("p_partkey"),
                     "left_semi")
             .groupBy("l_suppkey", "l_partkey")
             .agg(F.sum("l_quantity").alias("qty"))
             .filter(F.col("qty") > 20)
             .select("l_suppkey").distinct())
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re_ = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE")
    return (su.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"),
                    "left_semi")
            .join(F.broadcast(na),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(re_),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .select("s_name", "s_acctbal"))


SQL_Q20 = """
SELECT s_name, s_acctbal
FROM supplier, nation, region
WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part
                        WHERE p_name LIKE '%red%')
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > 20)
"""


def q21_suppliers_kept_waiting(spark, sf_dir):
    """TPC-H Q21 shape (late = shipped >60 days after order date):
    ASIA-region suppliers who were the sole late supplier on a finished
    multi-supplier order, counted once per order (the classic query
    counts late lines; the oracle's count(DISTINCT orderkey) pins the
    per-order semantics). The EXISTS / NOT EXISTS pair over other
    suppliers' lines collapses into one grouped pass per order
    (distinct suppliers, distinct late suppliers, the single late
    supplier) — no self-join re-scan of lineitem."""
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    # r13 (§2.3 shuffle fewer bytes): the two countDistincts over the
    # joined relation planned as an Expand ×3 — every joined row
    # shuffled three times into the per-order aggregate. But `late`
    # compares l_shipdate against a threshold CONSTANT within the
    # order (o_orderdate + 60d), so a supplier has a late line iff
    # its MAX ship date is late — pre-aggregate lineitem to one row
    # per (order, supplier) BEFORE the join (map-side combinable; no
    # Expand anywhere), and the per-order pass becomes plain
    # count/sum/max over supplier rows. All-integer pipeline —
    # exactly equivalent by set semantics, no float-order exposure;
    # the join output is already partitioned by l_orderkey, so the
    # final groupBy adds no exchange.
    per_supp = (li.groupBy("l_orderkey", "l_suppkey")
                .agg(F.max("l_shipdate").alias("_max_ship")))
    late = F.col("_max_ship") > (F.col("o_orderdate")
                                 + F.expr("INTERVAL 60 DAYS"))
    per_order = (per_supp
                 .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
                 .groupBy("l_orderkey")
                 .agg(F.count(F.lit(1)).alias("nsupp"),
                      F.sum(late.cast("int")).alias("nlate"),
                      F.max(F.when(late, F.col("l_suppkey")))
                       .alias("late_supp"))
                 .filter((F.col("nsupp") >= 2) & (F.col("nlate") == 1)))
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re_ = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA")
    return (per_order
            .join(su, F.col("late_supp") == F.col("s_suppkey"))
            .join(F.broadcast(na),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(re_),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait")))


SQL_Q21 = """
SELECT s_name, count(DISTINCT l1.l_orderkey) AS numwait
FROM supplier, lineitem l1, orders, nation, region
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
GROUP BY s_name
"""


# ----------------------------------------------------------------- registry

SPARK_QUERIES_TPCH: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q4_order_priority": q4_order_priority,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q10_returned_items": q10_returned_items,
    "q14_promo_effect": q14_promo_effect,
    "q18_large_orders": q18_large_orders,
    "q19_discounted_revenue": q19_discounted_revenue,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q13_customer_distribution": q13_customer_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_quantity": q17_small_quantity,
    "q22_global_sales_opportunity": q22_global_sales_opportunity,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q11_important_stock": q11_important_stock,
    "q12_priority_shipping": q12_priority_shipping,
    "q16_supplier_cnt": q16_supplier_cnt,
    "q20_part_promotion": q20_part_promotion,
    "q21_suppliers_kept_waiting": q21_suppliers_kept_waiting,
}

ORACLE_SQL_TPCH: dict[str, str] = {
    "q4_order_priority": SQL_Q4,
    "q6_forecast_revenue": SQL_Q6,
    "q7_volume_shipping": SQL_Q7,
    "q10_returned_items": SQL_Q10,
    "q14_promo_effect": SQL_Q14,
    "q18_large_orders": SQL_Q18,
    "q19_discounted_revenue": SQL_Q19,
    "q8_market_share": SQL_Q8,
    "q9_product_profit": SQL_Q9,
    "q13_customer_distribution": SQL_Q13,
    "q15_top_supplier": SQL_Q15,
    "q17_small_quantity": SQL_Q17,
    "q22_global_sales_opportunity": SQL_Q22,
    "q2_min_cost_supplier": SQL_Q2,
    "q11_important_stock": SQL_Q11,
    "q12_priority_shipping": SQL_Q12,
    "q16_supplier_cnt": SQL_Q16,
    "q20_part_promotion": SQL_Q20,
    "q21_suppliers_kept_waiting": SQL_Q21,
}
