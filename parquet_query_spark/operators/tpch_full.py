"""The remaining TPC-H query shapes (Q2/Q9/Q11/Q13/Q15/Q16/Q20/Q21),
adapted to the driver's star schema.

The testdata has no ``partsupp`` table and ``lineitem`` lacks
commit/receipt dates, so the five queries that touch those are adapted
while preserving the *operator shape* TPC-H exercises:

* Q2  — correlated MIN subquery over a derived part-supplier relation
  (observed unit price from lineitem stands in for ps_supplycost).
* Q9  — multi-way fact join + profit expression grouped by nation×year
  (cost proxy: 10% of p_retailprice per unit).
* Q11 — group-by with a HAVING threshold against a global scalar
  subquery (inventory value from lineitem revenue per part).
* Q13 — outer join + double aggregation (order-count distribution).
* Q15 — CTE revenue view + argmax-by-scalar-subquery top supplier.
* Q16 — distinct part-supplier pairs + COUNT(DISTINCT) + NOT IN.
* Q20 — nested IN with a correlated quantity-share threshold
  (dominant supplier per part stands in for excess availqty).
* Q21 — multi-line-order EXISTS/NOT-EXISTS, re-expressed as one
  grouped pass (late := shipped >60 days after order date).

Scale notes: every aggregate that feeds a cross-engine equality
comparison (Q15 argmax, Q11 threshold) is computed as an order-free
integer-cents SUM so parallel summation order can never flip the
answer; dimension joins broadcast; the Q21 double grouping keys share
a prefix so AQE coalesces the second exchange.

Reference parity: the reference app (src/duckdb.ts:46-49) forwards any
SQL text to DuckDB, so all 22 TPC-H shapes "work" there; this module
closes the engine-side catalog to the full set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_query_spark.operators.catalog import query, views


def _cents(col: F.Column) -> F.Column:
    """Order-free exact revenue: per-row round to integer cents, SUM as bigint."""
    return F.round(col * 100).cast("bigint")


@query(
    "q2_min_cost_supplier",
    oracle="""
WITH ps AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         min(round(l_extendedprice / l_quantity, 4)) AS unit_cost
  FROM lineitem
  GROUP BY 1, 2
),
eu AS (
  SELECT ps.partkey, ps.suppkey, ps.unit_cost,
         s_acctbal, s_name, n_name
  FROM ps
  JOIN supplier ON s_suppkey = ps.suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       round(unit_cost, 4) AS unit_cost
FROM part
JOIN eu ON p_partkey = eu.partkey
WHERE p_size <= 15 AND p_type = 'LARGE'
  AND unit_cost = (SELECT min(e2.unit_cost) FROM eu e2
                   WHERE e2.partkey = p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
    tags=("join", "subquery"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest regional supplier per part.

    The correlated ``MIN`` subquery is lowered to a window min over the
    part key — the derived part-supplier relation is shuffled ONCE on
    (partkey, suppkey) and the per-part min reuses that partitioning
    (no second shuffle, no self-join). Unit cost is rounded per pair
    before the min so the cross-engine equality is exact.
    """
    v = views(spark, sf_dir)
    ps = (
        v["lineitem"]
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(F.min(F.round(F.col("l_extendedprice") / F.col("l_quantity"), 4)).alias("unit_cost"))
    )
    eu_sup = (
        v["supplier"]
        .join(F.broadcast(v["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(v["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    eu = ps.join(F.broadcast(eu_sup), ps.suppkey == F.col("s_suppkey"))
    w = Window.partitionBy("partkey")
    best = eu.withColumn("min_cost", F.min("unit_cost").over(w)).where(
        F.col("unit_cost") == F.col("min_cost")
    )
    part = v["part"].where((F.col("p_size") <= 15) & (F.col("p_type") == "LARGE"))
    return (
        best.join(F.broadcast(part), best.partkey == part.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round(F.col("unit_cost"), 4).alias("unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q9_product_type_profit",
    oracle="""
SELECT n_name AS nation_name,
       year(o_orderdate) AS o_year,
       round(SUM(l_extendedprice * (1 - l_discount)
                 - p_retailprice * 0.1 * l_quantity), 2) AS sum_profit
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN part     ON p_partkey = l_partkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY nation_name, o_year
""",
    tags=("join", "aggregate"),
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation × order year.

    ps_supplycost doesn't exist here; unit cost proxies as 10% of
    p_retailprice. The part filter broadcasts and prunes the fact scan
    before the orders join; supplier/nation broadcast; the only shuffle
    is the final (nation, year) aggregation — partial map-side first.
    """
    v = views(spark, sf_dir)
    part = v["part"].where(F.col("p_name").like("%red%")).select("p_partkey", "p_retailprice")
    sup = (
        v["supplier"]
        .join(F.broadcast(v["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * 0.1 * F.col("l_quantity")
    return (
        v["lineitem"]
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(v["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
    )


@query(
    "q11_important_stock",
    oracle="""
WITH supval AS (
  SELECT l_partkey AS partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY 1
)
SELECT partkey, round(value_cents / 100.0, 2) AS part_value
FROM supval
WHERE value_cents * 1000 > (SELECT CAST(SUM(value_cents) AS BIGINT) FROM supval)
""",
    tags=("aggregate", "subquery"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose stock value exceeds a fraction of the total.

    The per-part value and the global threshold are both integer-cents
    sums, and the HAVING comparison is pure integer arithmetic
    (value*1000 > total) — no float threshold can flip between engines
    or between runs. The grouped relation is computed once; the global
    total is a broadcast scalar over the (tiny) grouped output, not a
    second fact scan.
    """
    v = views(spark, sf_dir)
    sup = (
        v["supplier"]
        .join(F.broadcast(v["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .where(F.col("n_name") == "NATION_7")
        .select("s_suppkey")
    )
    supval = (
        v["lineitem"]
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("value_cents"))
    )
    total = supval.agg(F.sum("value_cents").alias("total_cents"))
    return (
        supval.crossJoin(F.broadcast(total))
        .where(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select("partkey", F.round(F.col("value_cents") / 100.0, 2).alias("part_value"))
    )


@query(
    "q13_customer_order_distribution",
    oracle="""
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
""",
    tags=("join", "aggregate"),
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of per-customer order counts (outer join

    keeps zero-order customers). The priority predicate filters the
    orders side BEFORE the left join (equivalent to the ON-clause
    placement since it references only the right side). Second
    aggregation runs on 1 row per customer — trivially small shuffle.
    """
    v = views(spark, sf_dir)
    orders = v["orders"].where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        v["customer"]
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@query(
    "q15_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
           AS total_revenue_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name,
       round(total_revenue_cents / 100.0, 2) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue_cents = (SELECT MAX(total_revenue_cents) FROM revenue)
""",
    tags=("aggregate", "subquery", "cte"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue.

    The classic flake here is ``revenue = (SELECT MAX(revenue))`` over a
    float SUM — parallel summation order can differ by a ULP and flip
    the argmax between engines/runs. Revenue is therefore an integer-
    cents SUM: exact, associative, identical everywhere. The revenue CTE
    is computed once (cached via a local checkpointless reuse — Spark
    plans the scalar max as a broadcast over the same aggregate).
    """
    v = views(spark, sf_dir)
    rev = (
        v["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("total_revenue_cents"))
    )
    best = rev.agg(F.max("total_revenue_cents").alias("max_cents"))
    return (
        rev.crossJoin(F.broadcast(best))
        .where(F.col("total_revenue_cents") == F.col("max_cents"))
        .join(F.broadcast(v["supplier"]), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_revenue_cents") / 100.0, 2).alias("total_revenue"),
        )
    )


@query(
    "q16_part_supplier_counts",
    oracle="""
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type <> 'MEDIUM'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
    tags=("join", "aggregate", "subquery"),
)
def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per part group, minus

    excluded suppliers. The part-supplier relation derives from
    lineitem's observed pairs (no partsupp table); the NOT IN lowers to
    a broadcast LEFT ANTI join (s_suppkey is non-null so the semantics
    coincide); the part filter broadcasts. dropDuplicates before the
    join shrinks the fact side to one row per pair.
    """
    v = views(spark, sf_dir)
    pairs = v["lineitem"].select("l_partkey", "l_suppkey").dropDuplicates()
    bad_sup = v["supplier"].where(F.col("s_acctbal") < 0).select("s_suppkey")
    part = v["part"].where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    return (
        pairs.join(F.broadcast(bad_sup), pairs.l_suppkey == bad_sup.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_dominant_part_suppliers",
    oracle="""
WITH sup_part AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sup_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
),
part_total AS (
  SELECT partkey, CAST(SUM(sup_qty) AS BIGINT) AS total_qty
  FROM sup_part GROUP BY 1
)
SELECT DISTINCT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT suppkey
    FROM sup_part
    JOIN part_total USING (partkey)
    JOIN part ON p_partkey = partkey
    WHERE p_name LIKE '%bolt%' AND sup_qty * 2 > total_qty)
""",
    tags=("join", "subquery", "aggregate"),
)
def q20_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding a dominant share of a part's flow.

    ps_availqty doesn't exist; "dominant" adapts the correlated
    threshold (> half of the part's yearly shipped quantity). The
    per-(part, supplier) sums and the per-part totals come from ONE
    grouped pass each — the total reuses the sup_part output (tiny)
    instead of re-scanning the fact table, and the threshold compare is
    integer arithmetic. The qualifying supplier set semi-joins into the
    nation-filtered supplier dim.
    """
    v = views(spark, sf_dir)
    year = (
        v["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
    )
    sup_part = year.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sup_qty"))
    part_total = sup_part.groupBy("partkey").agg(F.sum("sup_qty").alias("total_qty"))
    bolt = v["part"].where(F.col("p_name").like("%bolt%")).select("p_partkey")
    dominant = (
        sup_part.join(part_total, "partkey")
        .join(F.broadcast(bolt), F.col("partkey") == F.col("p_partkey"))
        .where(F.col("sup_qty") * 2 > F.col("total_qty"))
        .select("suppkey")
    )
    nat_sup = (
        v["supplier"]
        .join(F.broadcast(v["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .where(F.col("n_name") == "NATION_3")
        .select("s_suppkey", "s_name")
    )
    return nat_sup.join(dominant, nat_sup.s_suppkey == dominant.suppkey, "left_semi")


@query(
    "q21_suppliers_kept_waiting",
    oracle="""
WITH flagged AS (
  SELECT l_orderkey AS orderkey, l_suppkey AS suppkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END)
           AS is_late
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY 1, 2
),
order_stats AS (
  SELECT orderkey,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(is_late) AS BIGINT) AS n_late
  FROM flagged GROUP BY 1
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM flagged
JOIN order_stats USING (orderkey)
JOIN supplier ON s_suppkey = suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE is_late = 1 AND n_suppliers > 1 AND n_late = 1
  AND n_name = 'NATION_5'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
    tags=("join", "aggregate", "subquery"),
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole late supplier on multi-supplier orders.

    No commit/receipt dates in this schema, so "late" adapts to
    shipping >60 days after the order date. The classic EXISTS /
    NOT-EXISTS pair over lineitem (two correlated subqueries → two
    extra fact scans) is re-expressed as ONE grouped pass: per
    (order, supplier) a late flag, then the per-order supplier/late
    counts as WINDOW aggregates over that same reduced relation, then
    the filter ``is_late AND n_suppliers > 1 AND n_late = 1`` — exactly
    "others exist, none of the others late".  The window (vs a second
    groupBy + join back) matters: re-joining onto ``flagged`` makes
    Spark recompute the lineitem⋈orders branch twice (6 parquet scans
    observed; test_plans.py pins ≤4), while the window form scans each
    fact table once.  At 100 TB: one fact shuffle + one per-order window
    repartition vs the textbook correlated plan's three fact scans.
    """
    v = views(spark, sf_dir)
    li = v["lineitem"].select("l_orderkey", "l_suppkey", "l_shipdate")
    ords = v["orders"].where(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    flagged = (
        li.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                    1,
                ).otherwise(0)
            ).alias("is_late")
        )
    )
    w_ord = Window.partitionBy("orderkey")
    stats = flagged.withColumn("n_suppliers", F.count("*").over(w_ord)).withColumn(
        "n_late", F.sum("is_late").over(w_ord)
    )
    nat_sup = (
        v["supplier"]
        .join(F.broadcast(v["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .where(F.col("n_name") == "NATION_5")
        .select("s_suppkey", "s_name")
    )
    return (
        stats.where((F.col("is_late") == 1) & (F.col("n_suppliers") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(nat_sup), F.col("suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
