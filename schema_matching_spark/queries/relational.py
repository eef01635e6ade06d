"""TPC-H-style queries: the four ``bench.HEADLINE`` times, plus a few
relational-operator checks.

bench.py times ``pricing_summary``, ``top_unshipped``,
``local_supplier_volume`` and ``window_top_orders`` next to the CDC
legs.  The other seven pin the operators the CDC engine is built from
(rollup, distinct / HLL aggregation, running window frames, semi/anti
and full outer joins, set difference) against DuckDB.  Every query
with an oracle uses identically aliased columns (the driver's compare
sorts columns by name before hashing values).  None of them touch the
CDC engine; the engine's own plans are pinned in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------- aggregation

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 style: filtered scan + grouped aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_unshipped(spark, sf_dir):
    """TPC-H Q3 style: join + agg + top-k."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


SQL_TOP_UNSHIPPED = """
SELECT l_orderkey,
       sum(l_extendedprice * (1 - l_discount)) AS revenue,
       o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 style: 5-way join with two broadcastable dims."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


SQL_LOCAL_SUPPLIER = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_rollup_orders(spark, sf_dir):
    """rollup / grouping-sets aggregation."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


SQL_ROLLUP = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


def q_distinct_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_orderstatus")
    )


SQL_DISTINCT_AGG = """
SELECT o_orderstatus,
       count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HLL) next to the exact count — the approx
    value is engine-specific, so rows-only; the test checks relative
    error < 5% against the exact column."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        )
        .orderBy("l_returnflag")
    )


# ------------------------------------------------------------------- windows

def q_window_top_orders(spark, sf_dir):
    """Per-customer top-2 orders by price (window row_number + lag)."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        )
        .where(F.col("rn") <= 2)
        .orderBy("o_custkey", "rn")
    )


SQL_WINDOW_TOP = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER w AS rn,
         lag(o_totalprice, 1) OVER w AS prev_price
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
) WHERE rn <= 2
ORDER BY o_custkey, rn
"""

def q_running_revenue(spark, sf_dir):
    """Running-frame window: cumulative revenue by ship month."""
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    monthly = (
        li.groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("month_revenue"))
    )
    w = Window.orderBy("ship_month").rowsBetween(Window.unboundedPreceding, 0)
    return monthly.select(
        "ship_month",
        "month_revenue",
        F.round(F.sum("month_revenue").over(w), 2).alias("cum_revenue"),
    ).orderBy("ship_month")


SQL_RUNNING_REVENUE = """
SELECT ship_month, month_revenue,
       round(sum(month_revenue) OVER (ORDER BY ship_month
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_revenue
FROM (
  SELECT date_trunc('month', l_shipdate) AS ship_month,
         round(sum(l_extendedprice), 2) AS month_revenue
  FROM lineitem GROUP BY 1
)
ORDER BY ship_month
"""


# --------------------------------------------------------------------- joins

def q_semi_anti_join(spark, sf_dir):
    """Customers with ≥1 order (semi) and none (anti), via union-tagged."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    with_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", F.lit("with_orders").alias("segment"))
    )
    without = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", F.lit("no_orders").alias("segment"))
    )
    return with_orders.unionByName(without).orderBy("c_custkey")


SQL_SEMI_ANTI = """
SELECT c_custkey, 'with_orders' AS segment FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT c_custkey, 'no_orders' AS segment FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
ORDER BY c_custkey
"""


def q_full_outer(spark, sf_dir):
    """Full outer join of per-nation customer and supplier account sums."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    c = cust.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.round(F.sum("c_acctbal"), 2).alias("cust_bal")
    )
    s = supp.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.round(F.sum("s_acctbal"), 2).alias("supp_bal")
    )
    return c.join(s, "nationkey", "full_outer").orderBy("nationkey")


SQL_FULL_OUTER = """
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey, cust_bal, supp_bal
FROM (SELECT c_nationkey AS nationkey, round(sum(c_acctbal),2) AS cust_bal
      FROM customer GROUP BY 1) c
FULL OUTER JOIN
     (SELECT s_nationkey AS nationkey, round(sum(s_acctbal),2) AS supp_bal
      FROM supplier GROUP BY 1) s
USING (nationkey)
ORDER BY nationkey
"""


# ------------------------------------------------------------------- set ops

def q_set_ops(spark, sf_dir):
    """intersect / except over customer nation sets."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    c_nations = cust.select(F.col("c_nationkey").alias("nationkey")).distinct()
    s_nations = supp.select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = c_nations.intersect(s_nations).select(
        "nationkey", F.lit("both").alias("side")
    )
    only_c = c_nations.exceptAll(s_nations).select(
        "nationkey", F.lit("cust_only").alias("side")
    )
    return both.unionByName(only_c).orderBy("side", "nationkey")


SQL_SET_OPS = """
SELECT nationkey, 'both' AS side FROM
  (SELECT DISTINCT c_nationkey AS nationkey FROM customer
   INTERSECT
   SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'cust_only' AS side FROM
  (SELECT DISTINCT c_nationkey AS nationkey FROM customer
   EXCEPT
   SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
ORDER BY side, nationkey
"""


# ----------------------------------------------------------- registry

QUERIES = {
    "pricing_summary": q_pricing_summary,
    "top_unshipped": q_top_unshipped,
    "local_supplier_volume": q_local_supplier_volume,
    "window_top_orders": q_window_top_orders,
    "rollup_orders": q_rollup_orders,
    "distinct_agg": q_distinct_agg,
    "approx_distinct": q_approx_distinct,
    "running_revenue": q_running_revenue,
    "semi_anti_join": q_semi_anti_join,
    "full_outer": q_full_outer,
    "set_ops": q_set_ops,
}

ORACLE = {
    "pricing_summary": SQL_PRICING,
    "top_unshipped": SQL_TOP_UNSHIPPED,
    "local_supplier_volume": SQL_LOCAL_SUPPLIER,
    "window_top_orders": SQL_WINDOW_TOP,
    "rollup_orders": SQL_ROLLUP,
    "distinct_agg": SQL_DISTINCT_AGG,
    # approx_distinct: HLL sketch values are engine-specific — rows-only
    "running_revenue": SQL_RUNNING_REVENUE,
    "semi_anti_join": SQL_SEMI_ANTI,
    "full_outer": SQL_FULL_OUTER,
    "set_ops": SQL_SET_OPS,
}
