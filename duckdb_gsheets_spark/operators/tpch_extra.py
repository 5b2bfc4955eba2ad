"""Extended TPC-H-style battery (SURVEY.md §2.2 'delegated to host').

The driver's testdata is a slimmed TPC-H star schema (no partsupp, no
l_shipmode/l_commitdate, no comment columns — see TESTDATA.md), so the
classic queries whose predicates need those columns are adapted to the
available ones while keeping their *operator shape* intact: the join
graph, the agg structure, the subquery pattern, and the ordering
semantics are what each query exercises.

Scale notes follow relational.py: fixed-size dims broadcast, fact-fact
joins shuffle on natural keys, every top-k has a unique-key tiebreak,
money aggregates go through operators.determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_gsheets_spark.operators.determinism import (
    davg,
    dsum,
    oracle_davg,
    oracle_dsum,
)
from duckdb_gsheets_spark.operators.registry import QueryDef
from duckdb_gsheets_spark.operators.windows import prefix_scan
from duckdb_gsheets_spark.plans.catalog import load_table


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two nation lookups on opposite sides of a
    fact-fact join, nation-pair predicate, per-year revenue."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    pair_pred = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .where(pair_pred)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dsum(revenue, scale=4).alias("revenue"))
    )


Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year,
       {oracle_dsum('l_extendedprice * (1.0 - l_discount)', scale=4)} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: conditional-share-of-total per year — the
    supplier nation's revenue fraction among EUROPE-customer orders
    for one part type."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    n_cust = (
        nation.join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "EUROPE")
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    germany_volume = F.when(F.col("supp_nation") == "NATION_2", volume).otherwise(
        F.lit(0.0)
    )
    return (
        lineitem.join(
            part.where(F.col("p_type") == "ECONOMY"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"), "left_semi")
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                dsum(germany_volume, scale=4) / dsum(volume, scale=4)
            ).alias("mkt_share"),
            dsum(volume, scale=4).alias("total_volume"),
        )
    )


Q8_ORACLE = f"""
SELECT
  CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
  {oracle_dsum("CASE WHEN n2.n_name = 'NATION_2' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", scale=4)}
    / {oracle_dsum('l_extendedprice * (1.0 - l_discount)', scale=4)} AS mkt_share,
  {oracle_dsum('l_extendedprice * (1.0 - l_discount)', scale=4)} AS total_volume
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'ECONOMY'
  AND c_nationkey IN (
    SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE')
GROUP BY 1
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-(nation, year) profit over a part-name
    substring filter (no partsupp in the testdata → profit is the
    discounted revenue)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        lineitem.join(
            part.where(F.col("p_name").like("%red%")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(profit, scale=4).alias("sum_profit"))
    )


Q9_ORACLE = f"""
SELECT n_name AS nation,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
       {oracle_dsum('l_extendedprice * (1.0 - l_discount)', scale=4)} AS sum_profit
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
GROUP BY n_name, o_year
"""


def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per-class conditional counts over a fact-fact
    join (l_shipmode → l_linestatus; priority split kept verbatim)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01 00:00:00")
            & (F.col("l_shipdate") < "1997-01-01 00:00:00")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


Q12_ORACLE = """
SELECT l_linestatus,
       COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
       COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: orders-per-customer histogram via left-outer join +
    two-level aggregation (zeros included)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q16_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    group, with NOT IN exclusion (partsupp → the lineitem link)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    # Exclusion subquery: suppliers with below-zero balance (stands in
    # for Q16's complaint-comment filter, same NOT-IN shape).
    bad = supplier.where(F.col("s_acctbal") < 0.0).select("s_suppkey")
    return (
        lineitem.join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(
            part.where(F.col("p_brand") != "Brand#45"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_ORACLE = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: avg-quantity-correlated subquery — revenue from
    lineitems below 20% of their part's mean quantity, one brand."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand_parts = part.where(F.col("p_brand") == "Brand#23").select("p_partkey")
    li = lineitem.join(
        F.broadcast(brand_parts),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (davg("l_quantity") * F.lit(0.2)).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("ap_key"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q17_ORACLE = f"""
WITH li AS (
  SELECT * FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23')
), thresholds AS (
  SELECT l_partkey AS ap_key, ({oracle_davg('l_quantity')} * 0.2) AS qty_threshold
  FROM li GROUP BY l_partkey
)
SELECT ({oracle_dsum('l_extendedprice')} / 7.0) AS avg_yearly,
       COUNT(*) AS n_items
FROM li JOIN thresholds ON l_partkey = ap_key
WHERE l_quantity < qty_threshold
"""


def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs join predicate battery (brand × size ×
    quantity windows)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1.0, 11.0)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10.0, 20.0)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20.0, 30.0)
        )
    )
    return (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(
            dsum(revenue, scale=4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q19_ORACLE = f"""
SELECT {oracle_dsum('l_extendedprice * (1.0 - l_discount)', scale=4)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1.0 AND 11.0)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10.0 AND 20.0)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20.0 AND 30.0)
"""


def q22_global_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar (uncorrelated) subquery threshold +
    anti join — high-balance customers with no recent orders, per
    nation (every customer has *some* order in the testdata, so the
    anti join is date-restricted to stay selective)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    recent = orders.where(F.col("o_orderdate") >= "2000-01-01 00:00:00")
    threshold = (
        customer.where(F.col("c_acctbal") > 0.0)
        .agg(davg("c_acctbal").alias("avg_bal"))
    )
    return (
        customer.crossJoin(F.broadcast(threshold))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


Q22_ORACLE = f"""
SELECT c_nationkey AS nationkey, COUNT(*) AS numcust,
       {oracle_dsum('c_acctbal')} AS totacctbal
FROM customer
WHERE c_acctbal > (
  SELECT {oracle_davg('c_acctbal')} FROM customer WHERE c_acctbal > 0.0
)
AND NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
)
GROUP BY c_nationkey
"""


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value totals filtered by a scalar
    fraction-of-grand-total subquery (no partsupp → lineitem value per
    part)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    per_part = lineitem.groupBy("l_partkey").agg(
        dsum("l_extendedprice").alias("part_value")
    )
    total = per_part.agg(
        F.sum(F.round(F.col("part_value") * F.lit(100.0)).cast("long")).alias(
            "total_cents"
        ),
        F.count(F.lit(1)).alias("n_parts"),
    )
    # 1.5× the mean part value: scale-invariant selectivity (the
    # classic fixed 0.0001/SF fraction degenerates as part count grows).
    threshold = (
        F.col("total_cents").cast("double")
        / F.lit(100.0)
        / F.col("n_parts").cast("double")
    ) * F.lit(1.5)
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("part_value") > threshold)
        .select("l_partkey", "part_value")
    )


Q11_ORACLE = f"""
WITH per_part AS (
  SELECT l_partkey, {oracle_dsum('l_extendedprice')} AS part_value
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM per_part
WHERE part_value > (
  SELECT (CAST(SUM(CAST(ROUND(part_value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
          / CAST(COUNT(*) AS DOUBLE)) * 1.5
  FROM per_part
)
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: revenue view + scalar MAX subquery; exact-cents sums
    make the equality join safe across engines."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = (
        lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01 00:00:00")
            & (F.col("l_shipdate") < "1996-04-01 00:00:00")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                scale=4,
            ).alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(supplier, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {oracle_dsum('l_extendedprice * (1.0 - l_discount)', scale=4)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain — suppliers whose 1996
    shipped quantity of red parts exceeds a threshold."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    red_parts = part.where(F.col("p_name").like("%red%")).select("p_partkey")
    heavy = (
        lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01 00:00:00")
            & (F.col("l_shipdate") < "1997-01-01 00:00:00")
        )
        .join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(dsum("l_quantity").alias("red_qty"))
        .where(F.col("red_qty") > 500.0)
    )
    return supplier.join(
        heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


Q20_ORACLE = f"""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_suppkey
  HAVING {oracle_dsum('l_quantity')} > 500.0
)
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole-late-supplier-in-a-multi-supplier-
    order pattern (EXISTS + NOT-EXISTS pair), decorrelated into two
    order-level aggregates ("late" = shipped >365 days after order —
    no commit/receipt dates in the testdata)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    lines = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS"))
        .cast("int")
        .alias("late"),
    )
    per_supp = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("supp_late")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum("supp_late").alias("n_late_supps"),
    )
    waiting = (
        per_supp.join(per_order, "l_orderkey")
        .where(
            (F.col("n_supps") >= 2)
            & (F.col("n_late_supps") == 1)
            & (F.col("supp_late") == 1)
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return (
        waiting.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.col("s_name"))
        .limit(25)
    )


Q21_ORACLE = """
WITH per_supp AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 365 DAY THEN 1 ELSE 0 END) AS supp_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey, l_suppkey
), per_order AS (
  SELECT l_orderkey, COUNT(*) AS n_supps, SUM(supp_late) AS n_late_supps
  FROM per_supp GROUP BY l_orderkey
)
SELECT s_name, numwait
FROM (
  SELECT l_suppkey, COUNT(*) AS numwait
  FROM per_supp JOIN per_order USING (l_orderkey)
  WHERE n_supps >= 2 AND n_late_supps = 1 AND supp_late = 1
  GROUP BY l_suppkey
) w
JOIN supplier ON l_suppkey = s_suppkey
ORDER BY numwait DESC, s_name
LIMIT 25
"""


def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY GROUPING SETS — the explicit-set variant (rollup/cube
    are in relational.py); sets = {(status, priority), (status), ()}."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )


GROUPING_SETS_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       {oracle_dsum('o_totalprice')} AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def approx_count_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct counts per event type, with the exact
    count alongside. Sketch values are engine-specific → rows-only
    check; the pytest suite bounds the relative error instead."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part within a region
    (correlated-min subquery + 5-way join + ordered top-100).

    The test schema has no partsupp, so supply cost is derived from
    lineitem: per (part, supplier), MIN unit price rounded to cents —
    same correlated-min-against-a-regional-subset structure as Q2.
    nation/region broadcast (fixed-size dims). The correlated min is
    a ``min() over (partition by part)`` WINDOW on the cost table,
    not a self-join (round 8: the groupBy+rejoin formulation
    re-expanded the whole lineitem-agg subtree into both join sides
    — 9 scans; the window keeps one partkey exchange and 5 scans,
    one per table). Ties keep every min-cost supplier, identical to
    the join-back semantics. Top-100 is a TakeOrderedAndProject with
    a full unique-key tiebreak.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    europe_nations = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    eu_suppliers = supplier.join(
        F.broadcast(europe_nations),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    cost = (
        lineitem.groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.min(F.round(F.col("l_extendedprice") / F.col("l_quantity"), 2)).alias(
                "supply_cost"
            )
        )
        .join(
            F.broadcast(eu_suppliers),
            F.col("ps_suppkey") == F.col("s_suppkey"),
        )
    )
    w_part = Window.partitionBy("ps_partkey")
    sized_parts = part.where(
        (F.col("p_size").between(10, 20)) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_brand")
    return (
        cost.withColumn("min_cost", F.min("supply_cost").over(w_part))
        .where(F.col("supply_cost") == F.col("min_cost"))
        .join(sized_parts, F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            "supply_cost",
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey", "supply_cost"
        )
        .limit(100)
    )


Q2_ORACLE = """
WITH eu_suppliers AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), cost AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(ROUND(l_extendedprice / l_quantity, 2)) AS supply_cost
  FROM lineitem GROUP BY 1, 2
), eu_cost AS (
  SELECT c.*, s.s_name, s.s_acctbal, s.n_name
  FROM cost c JOIN eu_suppliers s ON c.ps_suppkey = s.s_suppkey
), min_cost AS (
  SELECT ps_partkey AS mc_partkey, MIN(supply_cost) AS min_cost
  FROM eu_cost GROUP BY 1
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, supply_cost
FROM eu_cost
JOIN min_cost ON ps_partkey = mc_partkey AND supply_cost = min_cost
JOIN part ON ps_partkey = p_partkey
WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, supply_cost
LIMIT 100
"""


def range_join_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join without a cartesian stage: count, per order
    month, the 1995 orders falling inside each returned lineitem's
    "active" window [l_shipdate, l_shipdate + l_quantity days].

    A naive range join is a nested-loop cross product (Spark plans raw
    ``BETWEEN`` joins as BroadcastNestedLoop). Round 14 (guide §8 —
    decide with small rows): the month-bucket equi-join this ran
    through round 13 still ENUMERATED every matching (order, lineitem)
    pair — ~10⁸ rows at sf0.1 fanned ×3 again by the two-countDistinct
    Expand, 33 s exec-only. But every output counts only through
    DAY-level aggregates, so no pair is ever materialized now:

    - ``n_pairs``  = Σ_day  n_orders(day) · n_intervals_covering(day),
    - ``n_orders`` = Σ over covered days of n_orders(day)
      (o_orderkey is unique, and an order joins iff ≥1 interval
      covers its date),
    - ``n_shipments`` = COUNT(DISTINCT l_orderkey) over interval-day
      rows that land on an order-bearing day.

    The ≤|days-in-1995| order histogram broadcasts onto the bounded
    interval-day explode (spans are ≤ 51 days); the exact BETWEEN is
    structural (an interval-day row IS a day inside [d0, d1]). At
    100 TB: one narrow bounded explode, one broadcast join, two
    map-side-combining aggregates — no shuffle ever carries a pair.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            F.col("l_shipdate").cast("date").alias("d0"),
            F.date_add(
                F.col("l_shipdate").cast("date"),
                F.col("l_quantity").cast("int"),
            ).alias("d1"),
        )
    )
    day_hist = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").between("1995-01-01", "1995-12-31"))
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_ord"))
    )
    hits = li.withColumn(
        "day",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))),
    ).join(F.broadcast(day_hist), "day")
    month = F.date_format("day", "yyyy-MM").alias("order_month")
    pair_ship = hits.groupBy(month).agg(
        F.sum("n_ord").alias("n_pairs"),
        F.countDistinct("l_orderkey").alias("n_shipments"),
    )
    ord_agg = (
        hits.select("day", "n_ord")
        .distinct()
        .groupBy(month)
        .agg(F.sum("n_ord").alias("n_orders"))
    )
    return pair_ship.join(ord_agg, "order_month").select(
        "order_month", "n_pairs", "n_orders", "n_shipments"
    )


RANGE_JOIN_ORACLE = """
SELECT strftime(CAST(o.o_orderdate AS DATE), '%Y-%m') AS order_month,
       COUNT(*) AS n_pairs,
       COUNT(DISTINCT o.o_orderkey) AS n_orders,
       COUNT(DISTINCT l.l_orderkey) AS n_shipments
FROM orders o
JOIN lineitem l
  ON CAST(o.o_orderdate AS DATE)
     BETWEEN CAST(l.l_shipdate AS DATE)
         AND CAST(l.l_shipdate AS DATE) + to_days(CAST(l.l_quantity AS INTEGER))
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
GROUP BY 1
"""


#: Monetary pre-bucket width for the RFM quintile tiling: bounds the
#: distinct-value table the M window runs over.
RFM_M_BUCKET = 1000.0


def _quintile_scores(vals, key: str, score_name: str):
    """(key, cnt) distinct-value counts → (key, score 1..5) with
    score 1 = top of the DESC order. The cumulative window runs over
    the DISTINCT-VALUE table only (same bounded-tiling argument as
    quality_deciles) — never the entity table."""
    w = (
        Window.orderBy(F.desc(key))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vals.select(
        key,
        "cnt",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("n_before"),
    ).join(F.broadcast(vals.agg(F.sum("cnt").alias("n_total"))))
    return cum.select(
        key,
        (F.lit(1) + F.expr("div(n_before * 5, n_total)"))
        .cast("int")
        .alias(score_name),
    )


def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quintile scores for Recency (latest
    order date), Frequency (order count) and Monetary (exact money
    sum, pre-bucketed to ``RFM_M_BUCKET``), rolled up to one row per
    (r, f, m) segment.

    Every quintile is assigned by VALUE-LEVEL tiling: the windows run
    over the distinct order-dates (~calendar-bounded), distinct order
    counts (tiny) and distinct monetary buckets (range-bounded by the
    pre-bucketing) — never over the customer table, so the shape holds
    at any customer count. Score joins broadcast back onto the
    per-customer aggregate; money flows through scaled-long sums.

    The per-customer aggregate is consumed FOUR times (three
    value-level count tables + the final score join), so it is
    eagerly ``localCheckpoint``'ed: one orders scan + one
    (o_custkey) shuffle materialize the narrow 5-column table once,
    and every branch reads blocks (round 7's plan re-derived the
    scan per branch: 7 scans / 14 exchanges).
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("r_date"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("monetary"),
        )
        .withColumn(
            "m_bucket",
            F.floor(F.col("monetary") / F.lit(RFM_M_BUCKET)).cast("long"),
        )
        .localCheckpoint(eager=True)
    )

    def counts(col):
        return per_cust.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))

    rsc = _quintile_scores(counts("r_date"), "r_date", "r_score")
    fsc = _quintile_scores(counts("n_orders"), "n_orders", "f_score")
    msc = _quintile_scores(counts("m_bucket"), "m_bucket", "m_score")
    return (
        per_cust.join(F.broadcast(rsc), "r_date")
        .join(F.broadcast(fsc), "n_orders")
        .join(F.broadcast(msc), "m_bucket")
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("monetary").alias("total_monetary"),
        )
    )


_RFM_TILE = """
SELECT {key},
       CAST(1 + (SUM(cnt) OVER (ORDER BY {key} DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt) * 5
            // (SUM(cnt) OVER ()) AS INTEGER) AS {score}
FROM (SELECT {key}, COUNT(*) AS cnt FROM per_cust GROUP BY {key})
"""

RFM_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS r_date,
         COUNT(*) AS n_orders,
         {oracle_dsum('o_totalprice')} AS monetary,
         CAST(FLOOR(({oracle_dsum('o_totalprice')}) / {RFM_M_BUCKET}) AS BIGINT) AS m_bucket
  FROM orders GROUP BY o_custkey
), rsc AS ({_RFM_TILE.format(key='r_date', score='r_score')}),
fsc AS ({_RFM_TILE.format(key='n_orders', score='f_score')}),
msc AS ({_RFM_TILE.format(key='m_bucket', score='m_score')})
SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
       {oracle_dsum('monetary')} AS total_monetary
FROM per_cust
JOIN rsc USING (r_date)
JOIN fsc USING (n_orders)
JOIN msc USING (m_bucket)
GROUP BY r_score, f_score, m_score
"""


def orders_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto/Lorenz) report: customers ranked
    by lifetime order revenue, tiled into deciles, with each decile's
    share and cumulative share of total revenue — the "do 20% of
    customers drive 80% of revenue" audit.

    The global cumulative customer count and both totals come from
    :func:`~duckdb_gsheets_spark.operators.windows.prefix_scan` over
    the per-revenue-value table, so no single-task window sees a
    corpus-sized input. Revenue is exact scaled-long cents end to end
    with one rounded division per reported ratio; the cumulative share
    is a final window over the ≤10 decile rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_c"
        )
    )
    vals = cust.groupBy("rev_c").agg(F.count(F.lit(1)).alias("cnt"))
    scanned = prefix_scan(
        vals.withColumn("rev", F.col("rev_c") * F.col("cnt")),
        [F.desc("rev_c")],
        sums=["cnt", "rev"],
    )
    tiled = scanned.withColumn(
        "decile",
        (F.lit(1) + F.expr("div((cum_cnt - cnt) * 10, tot_cnt)")).cast("int"),
    )
    per_decile = tiled.groupBy("decile").agg(
        F.sum("cnt").alias("n_customers"),
        F.sum("rev").alias("rev_c_sum"),
        F.first("tot_rev").alias("rev_total"),
    )
    wd = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_decile.select(
        "decile",
        "n_customers",
        (F.col("rev_c_sum").cast("double") / F.lit(100.0)).alias(
            "decile_revenue"
        ),
        F.round(
            F.col("rev_c_sum").cast("double")
            / F.col("rev_total").cast("double"),
            6,
        ).alias("revenue_share"),
        F.round(
            F.sum("rev_c_sum").over(wd).cast("double")
            / F.col("rev_total").cast("double"),
            6,
        ).alias("cum_revenue_share"),
    )


ORDERS_PARETO_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY 1
), vals AS (
  SELECT rev_c, COUNT(*) AS cnt FROM cust GROUP BY 1
), totals AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
         CAST(SUM(rev_c * cnt) AS BIGINT) AS rev_total
  FROM vals
), tiled AS (
  SELECT v.rev_c, v.cnt, t.n_total, t.rev_total,
         CAST(1 + ((SUM(v.cnt) OVER (ORDER BY v.rev_c DESC
                    ROWS UNBOUNDED PRECEDING) - v.cnt) * 10) // t.n_total
              AS INTEGER) AS decile
  FROM vals v CROSS JOIN totals t
), per_decile AS (
  SELECT decile,
         CAST(SUM(cnt) AS BIGINT) AS n_customers,
         CAST(SUM(rev_c * cnt) AS BIGINT) AS rev_c_sum,
         ANY_VALUE(rev_total) AS rev_total
  FROM tiled GROUP BY 1
)
SELECT decile, n_customers,
       CAST(rev_c_sum AS DOUBLE) / 100.0 AS decile_revenue,
       ROUND(CAST(rev_c_sum AS DOUBLE) / CAST(rev_total AS DOUBLE), 6)
         AS revenue_share,
       ROUND(CAST(SUM(rev_c_sum) OVER (ORDER BY decile
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / CAST(rev_total AS DOUBLE), 6) AS cum_revenue_share
FROM per_decile
"""


#: Market-basket mining: support floor and report size.
BASKET_MIN_SUPPORT = 2
BASKET_TOPK = 25


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-purchased part pairs (market-basket support
    counting, the pair stage of Apriori/FP-growth): for every pair of
    DISTINCT parts appearing in the same order, the number of orders
    containing both, top-K by support.

    The pair join is an equi-join on ``l_orderkey`` — bounded by the
    per-basket item count (TPC-H ⇒ ≤7 lineitems/order), so the pair
    explosion is Σ k_i², linear in order count for bounded baskets.
    The slim (orderkey, partkey) projection is deduped BEFORE the
    self-join (a part twice in one basket is one membership), each
    side shuffles once on the shared orderkey (co-located), and the
    support count is map-side combined. ``part_a < part_b``
    canonicalizes pairs; top-K is TakeOrderedAndProject.
    """
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pairs = (
        items.alias("a")
        .join(items.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= BASKET_MIN_SUPPORT)
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(BASKET_TOPK)
    )


BASKET_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       COUNT(*) AS support
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
ORDER BY support DESC, part_a, part_b
LIMIT {BASKET_TOPK}
"""


def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule stage on top of :func:`basket_part_pairs`:
    for the top-support co-purchase pairs, the lift
    (``N·supp_ab / (supp_a·supp_b)``) and both directional
    confidences — the numbers that separate "bought together because
    both are popular" from a real association.

    Shuffle ledger: item supports are one map-side-combined rollup of
    the deduped (order, part) table; the top-K pair table (≤25 rows)
    then BROADCASTS into two support lookups, and the basket count N
    is a 1-row broadcast — nothing pair-shaped ever shuffles the
    corpus again.
    """
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    item_supp = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("supp")
    )
    n_baskets = items.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    pairs = basket_part_pairs(spark, sf_dir)
    return (
        F.broadcast(pairs)
        .join(
            item_supp.select(
                F.col("l_partkey").alias("part_a"),
                F.col("supp").alias("supp_a"),
            ),
            "part_a",
        )
        .join(
            item_supp.select(
                F.col("l_partkey").alias("part_b"),
                F.col("supp").alias("supp_b"),
            ),
            "part_b",
        )
        .join(F.broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            "support",
            "supp_a",
            "supp_b",
            F.round(
                F.col("support").cast("double")
                * F.col("n_baskets").cast("double")
                / (
                    F.col("supp_a").cast("double")
                    * F.col("supp_b").cast("double")
                ),
                6,
            ).alias("lift"),
            F.round(
                F.col("support").cast("double")
                / F.col("supp_a").cast("double"),
                6,
            ).alias("conf_a_to_b"),
            F.round(
                F.col("support").cast("double")
                / F.col("supp_b").cast("double"),
                6,
            ).alias("conf_b_to_a"),
        )
    )


BASKET_LIFT_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS support
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
  ORDER BY support DESC, part_a, part_b
  LIMIT {BASKET_TOPK}
), item_supp AS (
  SELECT l_partkey, COUNT(*) AS supp FROM items GROUP BY 1
), nb AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM items
)
SELECT p.part_a, p.part_b, p.support,
       sa.supp AS supp_a, sb.supp AS supp_b,
       ROUND(CAST(p.support AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)
             / (CAST(sa.supp AS DOUBLE) * CAST(sb.supp AS DOUBLE)), 6)
         AS lift,
       ROUND(CAST(p.support AS DOUBLE) / CAST(sa.supp AS DOUBLE), 6)
         AS conf_a_to_b,
       ROUND(CAST(p.support AS DOUBLE) / CAST(sb.supp AS DOUBLE), 6)
         AS conf_b_to_a
FROM pairs p
JOIN item_supp sa ON sa.l_partkey = p.part_a
JOIN item_supp sb ON sb.l_partkey = p.part_b
CROSS JOIN nb
"""


def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-base concentration per nation: the Herfindahl–Hirschman
    index of supplier revenue shares, supplier count, total revenue,
    and the largest supplier's share — the risk report behind "is
    this nation's supply one bankruptcy away from a shortage".

    Exactness: supplier revenues accumulate as long CENTS (the
    determinism contract), and HHI = Σcents² / (Σcents)² is computed
    on DECIMAL(38,0)/HUGEINT integer sums — no order-dependent double
    summation anywhere; the two double divisions at the end are in
    fixed written order. Shuffle ledger: one suppkey-partitioned
    rollup of lineitem (map-side combined) with the supplier
    dimension broadcast, then a |nations|-row rollup and a broadcast
    nation-name join.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cents = F.round(
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        * F.lit(100.0)
    ).cast("long")
    per_supp = (
        lineitem.join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(cents).alias("cents"))
    )
    dec = F.col("cents").cast("decimal(38,0)")
    per_nation = per_supp.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(dec).alias("total_cents"),
        F.sum(dec * dec).alias("sq_cents"),
        F.max("cents").alias("max_cents"),
    )
    total_d = F.col("total_cents").cast("double")
    return per_nation.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("s_nationkey"),
                F.col("n_name").alias("nation"),
            )
        ),
        "s_nationkey",
    ).select(
        "nation",
        "n_suppliers",
        (total_d / F.lit(100.0)).alias("revenue"),
        F.round(
            F.col("sq_cents").cast("double") / (total_d * total_d), 6
        ).alias("hhi"),
        F.round(F.col("max_cents").cast("double") / total_d, 6).alias(
            "top_share"
        ),
    )


SUPPLIER_HHI_ORACLE = """
WITH per_supp AS (
  SELECT s.s_nationkey, l.l_suppkey,
         CAST(SUM(CAST(ROUND((l.l_extendedprice * (1.0 - l.l_discount))
                             * 100.0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1, 2
), per_nation AS (
  SELECT s_nationkey, COUNT(*) AS n_suppliers,
         SUM(CAST(cents AS HUGEINT)) AS total_cents,
         SUM(CAST(cents AS HUGEINT) * cents) AS sq_cents,
         MAX(cents) AS max_cents
  FROM per_supp GROUP BY 1
)
SELECT n.n_name AS nation, p.n_suppliers,
       CAST(p.total_cents AS DOUBLE) / 100.0 AS revenue,
       ROUND(CAST(p.sq_cents AS DOUBLE)
             / (CAST(p.total_cents AS DOUBLE)
                * CAST(p.total_cents AS DOUBLE)), 6) AS hhi,
       ROUND(CAST(p.max_cents AS DOUBLE)
             / CAST(p.total_cents AS DOUBLE), 6) AS top_share
FROM per_nation p JOIN nation n ON n.n_nationkey = p.s_nationkey
"""


def orders_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with the year-over-year comparison — the
    seasonality-aware trend view (January vs last January, not
    January vs December). The YoY lag uses a window PARTITIONED BY
    month-of-year ordered by year: 12 bounded partitions, each a few
    rows per year of history — no unpartitioned calendar window, no
    self-join on (year−1).

    Revenue accumulates as exact long cents (determinism contract);
    the monthly rollup map-side-combines to ≤|months| rows before the
    window. ``prev_year_revenue``/``yoy_change`` are NULL unless that
    calendar month EXISTS exactly one year back — after a zero-order
    gap year the comparison resets rather than silently reaching
    further into history.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * F.lit(100.0)).cast("long")
    monthly = orders.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(F.sum(cents).alias("cents"))
    w = Window.partitionBy(F.month("month")).orderBy(F.year("month"))
    adjacent = (F.year("month") - F.lag(F.year("month")).over(w)) == 1
    prev = F.when(adjacent, F.lag("cents").over(w))
    return monthly.select(
        F.col("month").cast("string").alias("month"),
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        (prev.cast("double") / F.lit(100.0)).alias("prev_year_revenue"),
        F.round(
            (F.col("cents") - prev).cast("double") / prev.cast("double"),
            6,
        ).alias("yoy_change"),
    )


ORDERS_YOY_ORACLE = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), lagged AS (
  SELECT month, cents,
         CASE WHEN year(month) - LAG(year(month)) OVER w = 1
              THEN LAG(cents) OVER w END AS prev_cents
  FROM monthly
  WINDOW w AS (PARTITION BY month(month) ORDER BY year(month))
)
SELECT CAST(month AS VARCHAR) AS month,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CAST(prev_cents AS DOUBLE) / 100.0 AS prev_year_revenue,
       ROUND(CAST(cents - prev_cents AS DOUBLE)
             / CAST(prev_cents AS DOUBLE), 6) AS yoy_change
FROM lagged
"""


#: The star schema's FK edges: (label, child table, child key,
#: parent table, parent key).
FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def fk_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across every FK edge of the star
    schema: child row count, orphan count (child key with no parent —
    NULL keys count as orphans, matching anti-join semantics), and
    the orphan rate. The nightly data-quality gate a warehouse load
    runs before publishing a snapshot.

    Shuffle ledger, sized for 100 TB: every CHILD table is scanned
    exactly ONCE — all of a child's FK edges fuse into one pass
    (round 8; the per-edge formulation scanned lineitem, the giant
    fact table, six times: a count + an anti-join per edge). The
    child's key projection LEFT-joins each parent's distinct keyset
    with a presence indicator, and one aggregate emits
    ``count(*)`` + one orphan sum per edge; dims broadcast, the one
    fact-fact edge (lineitem→orders) shuffles on the shared
    orderkey; the final report is a ≤7-row union of 1-row folds.
    NULL child keys never equi-join, so they count as orphans —
    identical to the anti-join semantics the oracle replays.
    """
    tables = {
        name: load_table(spark, sf_dir, name)
        for name in (
            "lineitem",
            "orders",
            "part",
            "supplier",
            "customer",
            "nation",
            "region",
        )
    }
    by_child: dict[str, list] = {}
    for edge in FK_EDGES:
        by_child.setdefault(edge[1], []).append(edge)
    reports = []
    for child, edges in by_child.items():
        probe = tables[child].select(*[e[2] for e in edges])
        for i, (_, _, ckey, parent, pkey) in enumerate(edges):
            keyset = (
                tables[parent]
                .select(F.col(pkey).alias(ckey))
                .distinct()
                .withColumn(f"hit_{i}", F.lit(1))
            )
            probe = probe.join(keyset, ckey, "left")
        fold = probe.agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.sum(
                    F.when(F.col(f"hit_{i}").isNull(), 1).otherwise(0)
                ).alias(f"orph_{i}")
                for i in range(len(edges))
            ],
        )
        # Unpivot the 1-row fold into |edges| report rows in ONE
        # consumption (a per-edge select would re-expand the child
        # scan per edge — the exact shape this rewrite removes).
        edge_structs = F.array(
            *[
                F.struct(
                    F.lit(label).alias("relationship"),
                    F.col(f"orph_{i}").alias("n_orphans"),
                )
                for i, (label, _, _, _, _) in enumerate(edges)
            ]
        )
        reports.append(
            fold.select("n_rows", F.explode(edge_structs).alias("e")).select(
                F.col("e.relationship").alias("relationship"),
                "n_rows",
                F.col("e.n_orphans").alias("n_orphans"),
                F.round(
                    F.col("e.n_orphans").cast("double")
                    / F.col("n_rows").cast("double"),
                    6,
                ).alias("orphan_rate"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def _fk_oracle() -> str:
    parts = []
    for label, child, ckey, parent, pkey in FK_EDGES:
        parts.append(f"""
SELECT '{label}' AS relationship,
       (SELECT COUNT(*) FROM {child}) AS n_rows,
       (SELECT COUNT(*) FROM {child} c
        WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                          WHERE p.{pkey} = c.{ckey})) AS n_orphans,
       ROUND(CAST((SELECT COUNT(*) FROM {child} c
                   WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                                     WHERE p.{pkey} = c.{ckey})) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM {child}) AS DOUBLE), 6)
         AS orphan_rate""")
    return "\nUNION ALL\n".join(parts)


FK_INTEGRITY_ORACLE = _fk_oracle()


#: Edit-distance bar for the fuzzy name matcher.
FUZZY_LEV_MAX = 4


def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution stage: near-identical part names found by a
    BLOCKED edit-distance join — the record-linkage pattern ("Acme
    Corp" vs "Acme Corp.") that neither exact dedup nor shingle
    MinHash covers for short strings. Names are deduped to their
    (vocabulary-bounded) distinct table with part counts, BLOCKED on
    the last name token, and only within-block pairs pay a
    levenshtein evaluation — never a names×names cartesian.

    Shuffle ledger: one map-side-combined name rollup, one
    block-keyed equi-self-join of the distinct-name table (the
    classic blocking trade: recall bounded by the blocking key,
    candidates bounded by block sizes), distance filter post-join in
    codegen. Spark and DuckDB agree exactly on levenshtein.
    """
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    blocked = names.select(
        F.col("p_name").alias("name"),
        "n_parts",
        F.element_at(F.split(F.col("p_name"), " "), -1).alias("block"),
    )
    a = blocked.select(
        F.col("name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        "block",
    )
    b = blocked.select(
        F.col("name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        "block",
    )
    return (
        a.join(b, "block")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn("lev", F.levenshtein("name_a", "name_b"))
        .where(F.col("lev") <= FUZZY_LEV_MAX)
        .select("block", "name_a", "name_b", "lev", "n_parts_a", "n_parts_b")
    )


PART_FUZZY_ORACLE = f"""
WITH names AS (
  SELECT p_name AS name, COUNT(*) AS n_parts FROM part GROUP BY p_name
), blocked AS (
  SELECT name, n_parts,
         list_extract(regexp_split_to_array(name, ' '), -1) AS block
  FROM names
)
SELECT a.block, a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INTEGER) AS lev,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM blocked a JOIN blocked b
  ON a.block = b.block AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= {FUZZY_LEV_MAX}
"""


def orders_reconciliation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table monetary reconciliation: does each order's header
    total equal the sum of its line revenues
    (``Σ extprice·(1+tax)·(1−discount)``, TPC-H's own invariant)?
    One summary row: orders with/without lines, exact reconciliations,
    mismatches, and the worst and total absolute gaps — the ledger
    closing check a finance pipeline runs nightly (on THIS synthetic
    feed the header totals are independent of the lines, and the
    audit says so: 100 % mismatched).

    Exactness: both sides accumulate as long cents with ONE written
    op order; gap totals sum in DECIMAL(38,0)/HUGEINT. Shuffle
    ledger: one map-side-combined lineitem rollup on l_orderkey, one
    orderkey-partitioned join, then a 1-row aggregate.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    line_cents = F.round(
        (
            (F.col("l_extendedprice") * (F.lit(1.0) + F.col("l_tax")))
            * (F.lit(1.0) - F.col("l_discount"))
        )
        * F.lit(100.0)
    ).cast("long")
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.sum(line_cents).alias("lc")
    )
    joined = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * F.lit(100.0))
        .cast("long")
        .alias("oc"),
    ).join(per_order, F.col("o_orderkey") == F.col("l_orderkey"), "left")
    diff = F.abs(F.col("oc") - F.col("lc"))
    return joined.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("lc").isNull().cast("int")).alias("n_no_lines"),
        F.sum((diff == 0).cast("int")).alias("n_reconciled"),
        F.sum((diff > 0).cast("int")).alias("n_mismatched"),
        (F.max(diff).cast("double") / F.lit(100.0)).alias("max_abs_gap"),
        (
            F.sum(diff.cast("decimal(38,0)")).cast("double") / F.lit(100.0)
        ).alias("total_abs_gap"),
    )


ORDERS_RECONCILIATION_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(ROUND(((l_extendedprice * (1.0 + l_tax))
                              * (1.0 - l_discount)) * 100.0) AS BIGINT))
              AS BIGINT) AS lc
  FROM lineitem GROUP BY 1
), joined AS (
  SELECT CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS oc, lc
  FROM orders LEFT JOIN per_order ON l_orderkey = o_orderkey
)
SELECT COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN lc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_no_lines,
       CAST(SUM(CASE WHEN ABS(oc - lc) = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_reconciled,
       CAST(SUM(CASE WHEN ABS(oc - lc) > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mismatched,
       CAST(MAX(ABS(oc - lc)) AS DOUBLE) / 100.0 AS max_abs_gap,
       CAST(SUM(CAST(ABS(oc - lc) AS HUGEINT)) AS DOUBLE) / 100.0
         AS total_abs_gap
FROM joined
"""


#: Fulfilment SLA bar (days from order to line-item ship).
SLA_DAYS = 60


def order_ship_delay_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfilment SLA report: per order priority, the exact
    p50/p90/p99 of the order→ship delay (days per line item) and the
    share of items shipped past the ``SLA_DAYS`` bar — the
    supply-chain health view Q12's priority classification summarizes
    away. Date differences are exact integer days; quantiles are the
    interpolated exact order statistics (sketchable at 100 TB, see
    events_value_quantiles); the SLA share is a small-integer ratio
    rounded once. One orderkey-co-located join + a
    |priorities|-row rollup.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rows = li.select("l_orderkey", "l_shipdate").join(
        orders.select(
            F.col("o_orderkey").alias("l_orderkey"),
            "o_orderpriority",
            "o_orderdate",
        ),
        "l_orderkey",
    ).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").alias("delay_days"),
    )
    late = F.sum(F.when(F.col("delay_days") > SLA_DAYS, 1).otherwise(0))
    n = F.count(F.lit(1))
    return rows.groupBy("o_orderpriority").agg(
        n.alias("n_items"),
        F.round(late.cast("double") / n.cast("double"), 6).alias(
            "past_sla_share"
        ),
        F.round(F.percentile("delay_days", 0.5), 6).alias("p50_days"),
        F.round(F.percentile("delay_days", 0.9), 6).alias("p90_days"),
        F.round(F.percentile("delay_days", 0.99), 6).alias("p99_days"),
    )


ORDER_SHIP_DELAY_ORACLE = f"""
WITH d AS (
  SELECT o.o_orderpriority,
         CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
           AS delay_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT o_orderpriority, COUNT(*) AS n_items,
       ROUND(CAST(SUM(CASE WHEN delay_days > {SLA_DAYS} THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS past_sla_share,
       ROUND(quantile_cont(delay_days, 0.5), 6) AS p50_days,
       ROUND(quantile_cont(delay_days, 0.9), 6) AS p90_days,
       ROUND(quantile_cont(delay_days, 0.99), 6) AS p99_days
FROM d
GROUP BY o_orderpriority
"""


def customer_order_gap_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: per market segment, the exact
    p50/p90/p99 of the days between a customer's consecutive orders —
    the relational twin of events_interarrival_quantiles and the
    input to churn-window definitions ("after how many silent days is
    a BUILDING customer actually gone?").

    Gaps are exact integer day differences from ONE lag window per
    customer; the segment lookup is a broadcast-sized dimension join;
    quantiles are the exact interpolated order statistics
    (sketchable at 100 TB, see events_value_quantiles).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey",
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w)
            ).alias("gap_days"),
        )
        .where(F.col("gap_days").isNotNull())
        .join(
            F.broadcast(
                customer.select(
                    F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
                )
            ),
            "o_custkey",
        )
    )
    return gaps.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.percentile("gap_days", 0.5), 6).alias("p50_days"),
        F.round(F.percentile("gap_days", 0.9), 6).alias("p90_days"),
        F.round(F.percentile("gap_days", 0.99), 6).alias("p99_days"),
    )


CUSTOMER_GAP_ORACLE = """
WITH gaps AS (
  SELECT o_custkey,
         CAST(o_orderdate AS DATE)
           - LAG(CAST(o_orderdate AS DATE)) OVER w AS gap_days
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT c.c_mktsegment, COUNT(*) AS n_gaps,
       ROUND(quantile_cont(g.gap_days, 0.5), 6) AS p50_days,
       ROUND(quantile_cont(g.gap_days, 0.9), 6) AS p90_days,
       ROUND(quantile_cont(g.gap_days, 0.99), 6) AS p99_days
FROM gaps g JOIN customer c ON c.c_custkey = g.o_custkey
WHERE g.gap_days IS NOT NULL
GROUP BY c.c_mktsegment
"""


def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog — the classic interval-stabbing query
    ("how many orders were in flight on day d") computed the scalable
    way: each order becomes a +1 delta on its order date and a −1
    delta on the day its LAST line item ships, the deltas roll up to
    one row per calendar day, and a running sum over that bounded day
    table is the backlog. No interval join, no per-day fan-out.

    Interval rule (stated because the synthetic data has noise a real
    OLTP feed would not): an order closes on
    ``greatest(o_orderdate, max(l_shipdate))`` — records whose last
    ship date precedes the order date close same-day (net 0) — and an
    order with NO line items never closes (it stays in the terminal
    backlog, which is exactly what an ops dashboard should show).

    Shuffle ledger: one map-side-combined agg of lineitem on
    l_orderkey, one orderkey-partitioned join against orders, then a
    rollup to ≤|calendar days| rows. The running sum is a
    single-partition window over that day table — bounded by the time
    span (years), not the corpus, so it holds at 100 TB
    (allowlisted in tests/test_plans.py bounded_ok).
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    lastship = lineitem.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("lastship")
    )
    iv = (
        orders.select(
            "o_orderkey", F.to_date("o_orderdate").alias("start_day")
        )
        .join(
            lastship,
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left",
        )
        .select(
            "start_day",
            F.when(
                F.col("lastship").isNull(), F.lit(None).cast("date")
            )
            .otherwise(F.greatest("start_day", "lastship"))
            .alias("end_day"),
        )
    )
    deltas = iv.select(
        F.col("start_day").alias("day"),
        F.lit(1).alias("opened"),
        F.lit(0).alias("closed"),
    ).unionAll(
        iv.where(F.col("end_day").isNotNull()).select(
            F.col("end_day").alias("day"),
            F.lit(0).alias("opened"),
            F.lit(1).alias("closed"),
        )
    )
    daily = deltas.groupBy("day").agg(
        F.sum("opened").alias("n_opened"),
        F.sum("closed").alias("n_closed"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        F.col("day").cast("string").alias("day"),
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed"))
        .over(w)
        .alias("backlog"),
    )


ORDERS_BACKLOG_ORACLE = """
WITH ls AS (
  SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS lastship
  FROM lineitem GROUP BY 1
), iv AS (
  SELECT CAST(o_orderdate AS DATE) AS start_day,
         CASE WHEN lastship IS NULL THEN NULL
              WHEN lastship > CAST(o_orderdate AS DATE) THEN lastship
              ELSE CAST(o_orderdate AS DATE) END AS end_day
  FROM orders LEFT JOIN ls ON o_orderkey = l_orderkey
), deltas AS (
  SELECT start_day AS day, 1 AS opened, 0 AS closed FROM iv
  UNION ALL
  SELECT end_day, 0, 1 FROM iv WHERE end_day IS NOT NULL
), daily AS (
  SELECT day, CAST(SUM(opened) AS BIGINT) AS n_opened,
         CAST(SUM(closed) AS BIGINT) AS n_closed
  FROM deltas GROUP BY day
)
SELECT CAST(day AS VARCHAR) AS day, n_opened, n_closed,
       CAST(SUM(n_opened - n_closed)
            OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS backlog
FROM daily
"""


QUERIES: list[QueryDef] = [
    QueryDef("q2_min_cost_supplier", q2_min_cost_supplier, Q2_ORACLE, "TPC-H Q2 min-cost supplier"),
    QueryDef("orders_open_backlog", orders_open_backlog, ORDERS_BACKLOG_ORACLE, "daily open-order backlog via interval deltas + bounded prefix sum"),
    QueryDef("customer_order_gap_quantiles", customer_order_gap_quantiles, CUSTOMER_GAP_ORACLE, "per-segment repeat-order gap quantiles (churn-window input)"),
    QueryDef("order_ship_delay_quantiles", order_ship_delay_quantiles, ORDER_SHIP_DELAY_ORACLE, "per-priority order-to-ship delay quantiles + SLA share"),
    QueryDef("basket_part_pairs", basket_part_pairs, BASKET_ORACLE, "market-basket co-purchase pair support (Apriori pair stage)"),
    QueryDef("basket_pair_lift", basket_pair_lift, BASKET_LIFT_ORACLE, "association-rule lift/confidence over the top co-purchase pairs"),
    QueryDef("supplier_concentration_hhi", supplier_concentration_hhi, SUPPLIER_HHI_ORACLE, "per-nation supplier-revenue HHI concentration report (exact integer sums)"),
    QueryDef("orders_revenue_yoy", orders_revenue_yoy, ORDERS_YOY_ORACLE, "monthly revenue with YoY change via month-of-year partitioned lag"),
    QueryDef("fk_integrity_report", fk_integrity_report, FK_INTEGRITY_ORACLE, "referential-integrity orphan audit across every star-schema FK edge"),
    QueryDef("part_name_fuzzy_pairs", part_name_fuzzy_pairs, PART_FUZZY_ORACLE, "blocked edit-distance entity resolution over part names"),
    QueryDef("orders_reconciliation_audit", orders_reconciliation_audit, ORDERS_RECONCILIATION_ORACLE, "header-vs-lines monetary reconciliation (exact cents, 1-row report)"),
    QueryDef("orders_pareto_share", orders_pareto_share, ORDERS_PARETO_ORACLE, "Pareto/Lorenz revenue-concentration deciles (value-level tiling)"),
    QueryDef("q7_volume_shipping", q7_volume_shipping, Q7_ORACLE, "TPC-H Q7 nation-pair"),
    QueryDef("q8_market_share", q8_market_share, Q8_ORACLE, "TPC-H Q8 share-of-total"),
    QueryDef("q9_product_profit", q9_product_profit, Q9_ORACLE, "TPC-H Q9 profit"),
    QueryDef("q12_priority_class", q12_priority_class, Q12_ORACLE, "TPC-H Q12 cond counts"),
    QueryDef("q13_customer_distribution", q13_customer_distribution, Q13_ORACLE, "TPC-H Q13 histogram"),
    QueryDef("q16_supplier_relationship", q16_supplier_relationship, Q16_ORACLE, "TPC-H Q16 NOT IN"),
    QueryDef("q17_small_quantity_revenue", q17_small_quantity_revenue, Q17_ORACLE, "TPC-H Q17 corr avg"),
    QueryDef("q19_disjunctive_predicates", q19_disjunctive_predicates, Q19_ORACLE, "TPC-H Q19 OR-of-ANDs"),
    QueryDef("q11_important_stock", q11_important_stock, Q11_ORACLE, "TPC-H Q11 scalar threshold"),
    QueryDef("q15_top_supplier", q15_top_supplier, Q15_ORACLE, "TPC-H Q15 max-subquery"),
    QueryDef("q20_promotion_suppliers", q20_promotion_suppliers, Q20_ORACLE, "TPC-H Q20 semi chain"),
    QueryDef("q21_waiting_suppliers", q21_waiting_suppliers, Q21_ORACLE, "TPC-H Q21 sole-late-supplier"),
    QueryDef("q22_global_customers", q22_global_customers, Q22_ORACLE, "TPC-H Q22 anti+scalar"),
    QueryDef("orders_rfm_segments", orders_rfm_segments, RFM_ORACLE, "RFM quintile segmentation (value-level tiling)"),
    QueryDef("grouping_sets_sales", grouping_sets_sales, GROUPING_SETS_ORACLE, "GROUPING SETS"),
    QueryDef("approx_count_distinct_users", approx_count_distinct_users, None, "HLL approx distinct"),
    QueryDef("range_join_shipments", range_join_shipments, RANGE_JOIN_ORACLE, "binned interval/range join"),
]
