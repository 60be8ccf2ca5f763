"""TPC-H-style warehouse queries, adapted to the testdata's columns.

These exercise the SQL-engine surface a dbt project runs on Spark SQL:
multi-way joins, broadcast dimension joins, conditional aggregation,
semi-joins, and top-N. Monetary arithmetic uses fixed-point integers
(price/discount/tax carry exactly 2 decimals) so sums are exact and
order-independent — bit-identical to the ANSI oracle.

Scale notes (100 TB): Spark broadcasts the dimension tables
(region/nation/supplier, and part while it is small — it has 200k×SF
rows) from their file sizes, or from measured stage sizes under AQE,
so the fact side does not shuffle;
orders⋈lineitem and customer⋈orders are co-partitioned shuffle joins
on their keys, which AQE can re-plan (incl. skew splitting). Top-N is
``orderBy().limit(n)`` — Spark runs TakeOrderedAndProject, a per-
partition heap + driver merge, never a global sort spill.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.sources import load_table

# Fixed-point helper fragments (oracle side).
_EP100 = "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
_DISC100 = "CAST(round(l_discount * 100, 0) AS BIGINT)"
_TAX100 = "CAST(round(l_tax * 100, 0) AS BIGINT)"
_QTY = "CAST(l_quantity AS BIGINT)"


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem with fixed-point monetary columns added."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .withColumn("ep100", F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))
        .withColumn("disc100", F.round(F.col("l_discount") * 100, 0).cast("bigint"))
        .withColumn("tax100", F.round(F.col("l_tax") * 100, 0).cast("bigint"))
        .withColumn("qty", F.col("l_quantity").cast("bigint"))
    )


def _revenue10000() -> F.Column:
    """l_extendedprice*(1-l_discount) in ×10000 fixed point."""
    return F.col("ep100") * (F.lit(100) - F.col("disc100"))


@register(
    "tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM({_QTY}) AS BIGINT) AS sum_qty,
           SUM({_EP100}) / 100.0 AS sum_base_price,
           SUM({_EP100} * (100 - {_DISC100})) / 10000.0 AS sum_disc_price,
           SUM({_EP100} * (100 - {_DISC100}) * (100 + {_TAX100})) / 1000000.0 AS sum_charge,
           SUM({_QTY}) / (COUNT(*) * 1.0) AS avg_qty,
           SUM({_EP100}) / (COUNT(*) * 100.0) AS avg_price,
           SUM({_DISC100}) / (COUNT(*) * 100.0) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (TPC-H Q1 shape)."""
    li = _lineitem(spark, sf_dir).filter(F.col("l_shipdate") <= "2000-12-01")
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty").alias("sum_qty"),
        (F.sum("ep100") / F.lit(100.0)).alias("sum_base_price"),
        (F.sum(_revenue10000()) / F.lit(10000.0)).alias("sum_disc_price"),
        (
            F.sum(F.col("ep100") * (F.lit(100) - F.col("disc100")) * (F.lit(100) + F.col("tax100")))
            / F.lit(1000000.0)
        ).alias("sum_charge"),
        (F.sum("qty") / (n * F.lit(1.0))).alias("avg_qty"),
        (F.sum("ep100") / (n * F.lit(100.0))).alias("avg_price"),
        (F.sum("disc100") / (n * F.lit(100.0))).alias("avg_disc"),
        n.alias("count_order"),
    )


@register(
    "tpch_q3",
    oracle=f"""
    SELECT l_orderkey,
           SUM({_EP100} * (100 - {_DISC100})) / 10000.0 AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority: 3-way join + top-N (TPC-H Q3 shape)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = _lineitem(spark, sf_dir).filter(F.col("l_shipdate") > "1998-01-01")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .agg((F.sum(_revenue10000()) / F.lit(10000.0)).alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q4",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking via EXISTS semi-join (TPC-H Q4 shape;
    l_shipdate > o_orderdate stands in for the missing commit/receipt
    dates)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    joined = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "tpch_q5",
    oracle=f"""
    SELECT n_name,
           SUM({_EP100} * (100 - {_DISC100})) / 10000.0 AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local supplier volume: 6-way join with broadcast dims (TPC-H Q5)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _lineitem(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg((F.sum(_revenue10000()) / F.lit(10000.0)).alias("revenue"))
    )


@register(
    "tpch_q6",
    oracle=f"""
    SELECT SUM({_EP100} * {_DISC100}) / 10000.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND round(l_discount * 100, 0) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast revenue change: pure filter+agg, the predicate-pushdown
    showcase (TPC-H Q6)."""
    li = _lineitem(spark, sf_dir).filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & F.col("disc100").between(5, 7)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        (F.sum(F.col("ep100") * F.col("disc100")) / F.lit(10000.0)).alias("revenue")
    )


@register(
    "tpch_q7",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           SUM({_EP100} * (100 - {_DISC100})) / 10000.0 AS revenue
    FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                  JOIN orders ON o_orderkey = l_orderkey
                  JOIN customer ON c_custkey = o_custkey
                  JOIN nation sn ON s_nationkey = sn.n_nationkey
                  JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping between nation pair, by year (TPC-H Q7 shape)."""
    nation = load_table(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    supp = load_table(spark, sf_dir, "supplier")
    li = _lineitem(spark, sf_dir).filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    df = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sn, F.col("s_nationkey") == F.col("s_nkey"))
        .join(cn, F.col("c_nationkey") == F.col("c_nkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return df.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
    ).agg((F.sum(_revenue10000()) / F.lit(10000.0)).alias("revenue"))


@register(
    "tpch_q8",
    oracle=f"""
    WITH base AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             {_EP100} * (100 - {_DISC100}) AS vol10000,
             sn.n_name AS supp_nation
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation cn ON c_nationkey = cn.n_nationkey
                    JOIN region ON cn.n_regionkey = r_regionkey
                    JOIN supplier ON l_suppkey = s_suppkey
                    JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'AMERICA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol10000 ELSE 0 END) AS BIGINT)
             / (SUM(vol10000) * 1.0) AS mkt_share
    FROM base GROUP BY o_year
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share within a region (TPC-H Q8 shape)."""
    nation = load_table(spark, sf_dir, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = load_table(spark, sf_dir, "customer")
    li = _lineitem(spark, sf_dir)
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(cn, F.col("c_nationkey") == F.col("c_nkey"))
        .join(region, F.col("c_rkey") == F.col("r_regionkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(sn, F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            _revenue10000().alias("vol10000"),
            "supp_nation",
        )
    )
    return base.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("vol10000")).otherwise(F.lit(0))).cast("bigint")
            / (F.sum("vol10000") * F.lit(1.0))
        ).alias("mkt_share")
    )


@register(
    "tpch_q10",
    oracle=f"""
    SELECT c_custkey, c_name,
           SUM({_EP100} * (100 - {_DISC100})) / 10000.0 AS revenue,
           c_acctbal, n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting: top-20 lost revenue (TPC-H Q10 shape)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _lineitem(spark, sf_dir).filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(_revenue10000()) / F.lit(10000.0)).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q14",
    oracle=f"""
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                              THEN {_EP100} * (100 - {_DISC100}) ELSE 0 END) AS BIGINT)
           / (SUM({_EP100} * (100 - {_DISC100})) * 1.0) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion effect: conditional agg over broadcast join (Q14)."""
    part = load_table(spark, sf_dir, "part")
    li = _lineitem(spark, sf_dir).filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    joined = li.join(part, li.l_partkey == part.p_partkey)
    vol = _revenue10000()
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0))).cast("bigint")
            / (F.sum(vol) * F.lit(1.0))
        ).alias("promo_revenue_pct")
    )


@register(
    "tpch_q18",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM({_QTY}) > 150)
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_totalprice,
           CAST(SUM({_QTY}) AS BIGINT) AS sum_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_name, c_custkey, o_orderkey, orderdate, o_totalprice
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers: semi-join against an aggregate (Q18)."""
    li = _lineitem(spark, sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    cust = load_table(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
        )
        .agg(F.sum("qty").alias("sum_qty"))
    )


@register(
    "tpch_q13",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): left outer
    join keeps zero-order customers; COUNT(col) skips their NULLs."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q15",
    oracle=f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no,
             SUM({_EP100} * (100 - {_DISC100})) AS total10000
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total10000 / 10000.0 AS total_revenue
    FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
    WHERE total10000 = (SELECT MAX(total10000) FROM revenue0)
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (TPC-H Q15): scalar-subquery max against a derived
    revenue view. Integer fixed-point makes the MAX tie-exact."""
    li = _lineitem(spark, sf_dir).filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue0 = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_revenue10000()).alias("total10000")
    )
    mx = revenue0.agg(F.max("total10000").alias("m"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        revenue0.join(mx, revenue0.total10000 == F.col("m"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total10000") / F.lit(10000.0)).alias("total_revenue"),
        )
    )


@register(
    "tpch_q17",
    oracle=f"""
    WITH avg_qty AS (
      SELECT l_partkey AS pk, SUM({_QTY}) / (COUNT(*) * 5.0) AS fifth_avg
      FROM lineitem GROUP BY l_partkey)
    SELECT SUM({_EP100}) / (100.0 * 7) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
                  JOIN avg_qty ON pk = l_partkey
    WHERE p_brand = 'Brand#1' AND l_quantity < fifth_avg
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17): correlated avg
    subquery decorrelated into a per-part aggregate join. The 1/5·avg
    threshold is computed as an exact integer ratio."""
    li = _lineitem(spark, sf_dir)
    avg_qty = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum("qty") / (F.count(F.lit(1)) * F.lit(5.0))).alias("fifth_avg")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == avg_qty.pk)
        .filter(F.col("l_quantity") < F.col("fifth_avg"))
        .agg((F.sum("ep100") / F.lit(100.0 * 7)).alias("avg_yearly"))
    )


@register(
    "tpch_q21",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    """,
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (TPC-H Q21 shape): EXISTS +
    NOT EXISTS against the same fact, expressed as semi/anti joins
    (l_shipdate > sibling shipdate stands in for receipt/commit)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    l1 = li.alias("l1")
    l2 = li.alias("l2")
    l3 = li.alias("l3")
    base = (
        l1.join(orders, F.col("l1.l_orderkey") == orders.o_orderkey)
        .filter(F.col("l1.l_shipdate") > F.col("o_orderdate"))
    )
    with_other = base.join(
        l2,
        (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
        "left_semi",
    )
    not_later = with_other.join(
        l3,
        (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey"))
        & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate")),
        "left_anti",
    )
    return (
        not_later.join(supp, F.col("l1.l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "tpch_q22",
    oracle="""
    WITH avg_bal AS (
      SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0),
    eligible AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer, avg_bal
      WHERE c_acctbal > ab)
    SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) / 100.0
               AS totacctbal
    FROM eligible
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sales opportunity (TPC-H Q22 shape): scalar avg subquery
    + anti-join for above-average-balance customers with no orders in
    1997. The avg threshold is a float comparison against raw parquet
    doubles — identical bits on both engines, so the filter set
    matches exactly."""
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    eligible = cust.join(avg_bal, F.col("c_acctbal") > F.col("ab"))
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    no_orders = eligible.join(
        orders, eligible.c_custkey == orders.o_custkey, "left_anti"
    )
    return no_orders.groupBy(F.col("c_nationkey").alias("cntrycode")).agg(
        F.count(F.lit(1)).alias("numcust"),
        (
            F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("bigint")).cast("bigint")
            / F.lit(100.0)
        ).alias("totacctbal"),
    )


@register(
    "tpch_q2",
    oracle=f"""
    WITH price AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             MIN({_EP100} / {_QTY}) AS unit100
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    best AS (SELECT pk, MIN(unit100) AS best100 FROM price GROUP BY pk)
    SELECT p.p_partkey, p.p_name, s.s_name, n.n_name AS nation,
           pr.unit100 / 100.0 AS unit_price
    FROM price pr JOIN best b ON pr.pk = b.pk AND pr.unit100 = b.best100
                  JOIN part p ON p.p_partkey = pr.pk
                  JOIN supplier s ON s.s_suppkey = pr.sk
                  JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size >= 40
    """,
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier (TPC-H Q2 shape): the correlated min
    subquery decorrelated into a per-part best-price join; observed
    unit price from lineitem stands in for the missing partsupp
    supplycost. Ties keep every best-price supplier, like Q2."""
    li = _lineitem(spark, sf_dir)
    price = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.min((F.col("ep100") / F.col("qty")).cast("double")).alias("unit100"))
    # NOTE: ep100/qty is exact-int ÷ exact-int in double — bit-stable.
    best = price.groupBy("pk").agg(F.min("unit100").alias("best100"))
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        price.join(best, (price.pk == best.pk) & (price.unit100 == best.best100))
        .drop(best.pk)
        .join(part, F.col("pk") == part.p_partkey)
        .join(supp, F.col("sk") == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("n_name").alias("nation"),
            (F.col("unit100") / F.lit(100.0)).alias("unit_price"),
        )
    )


@register(
    "tpch_q9",
    oracle=f"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           SUM({_EP100} * (100 - {_DISC100})
               - CAST(round(p_retailprice * 100, 0) AS BIGINT) * {_QTY} * 80)
             / 10000.0 AS sum_profit
    FROM lineitem JOIN part ON p_partkey = l_partkey
                  JOIN supplier ON s_suppkey = l_suppkey
                  JOIN nation ON s_nationkey = n_nationkey
                  JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (TPC-H Q9 shape): revenue minus a cost
    basis (0.8 × retail price × qty stands in for ps_supplycost),
    by supplier nation and order year, for parts matching a name
    pattern."""
    li = _lineitem(spark, sf_dir)
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .withColumn("rp100", F.round(F.col("p_retailprice") * 100, 0).cast("bigint"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    profit = _revenue10000() - F.col("rp100") * F.col("qty") * F.lit(80)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg((F.sum(profit) / F.lit(10000.0)).alias("sum_profit"))
    )


@register(
    "tpch_q11",
    oracle=f"""
    WITH pv AS (
      SELECT l_partkey, SUM({_EP100} * (100 - {_DISC100})) AS val10000
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                    JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_5'
      GROUP BY l_partkey)
    SELECT l_partkey AS ps_partkey, val10000 / 10000.0 AS value
    FROM pv
    WHERE val10000 > (SELECT CAST(SUM(val10000) * 0.001 AS DOUBLE) FROM pv)
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important stock identification (TPC-H Q11 shape): parts whose
    traded value within one nation exceeds 0.1% of that nation's total
    — scalar aggregate subquery as a broadcast cross-filter."""
    li = _lineitem(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    pv = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(_revenue10000()).alias("val10000"))
    )
    thresh = pv.agg((F.sum("val10000") * F.lit(0.001)).cast("double").alias("t"))
    return (
        pv.join(thresh, F.col("val10000") > F.col("t"))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            (F.col("val10000") / F.lit(10000.0)).alias("value"),
        )
    )


@register(
    "tpch_q12",
    oracle="""
    SELECT l_linestatus AS shipmode,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority split (TPC-H Q12 shape): conditional counts
    of urgent vs other orders per line status (standing in for the
    missing l_shipmode)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    orders = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_linestatus").alias("shipmode"))
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#3' AND p_size IN (10, 20, 30, 40, 50)
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-supplier relationship count (TPC-H Q16 shape): distinct
    suppliers per part attribute combo, from observed lineitem pairs
    (partsupp stand-in)."""
    part = (
        load_table(spark, sf_dir, "part").filter(
            (F.col("p_brand") != "Brand#3")
            & F.col("p_size").isin(10, 20, 30, 40, 50)
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q19",
    oracle=f"""
    SELECT SUM({_EP100} * (100 - {_DISC100})) / 10000.0 AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue over an OR-of-ANDs predicate (TPC-H Q19
    shape) — the disjunctive-pushdown stressor."""
    li = _lineitem(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 15))
    )
    return j.filter(cond).agg(
        (F.sum(_revenue10000()) / F.lit(10000.0)).alias("revenue")
    )


@register(
    "tpch_q20",
    oracle=f"""
    WITH shipped AS (
      SELECT l_suppkey, SUM({_QTY}) AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_name, s_nationkey
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM shipped WHERE qty > 100)
    """,
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers with significant promo volume (TPC-H Q20 shape):
    aggregate-derived key set consumed via semi-join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    shipped = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    return supp.join(
        shipped, supp.s_suppkey == shipped.l_suppkey, "left_semi"
    ).select("s_name", "s_nationkey")
