"""TPC-H-shaped golden queries over the driver's star schema.

These exercise the §2.B/§2.C relational surface (scan → filter → project →
join → aggregate → sort → limit) with the plans a 100 TB deployment wants:

* Filters/projections are expressed declaratively so Catalyst pushes them
  into the Parquet scan (row-group pruning + column pruning).
* Dimension tables (region/nation/customer/supplier/part) are tiny relative
  to the fact tables — AQE picks broadcast joins; `F.broadcast` hints are
  placed where the small side is known a priori so the plan is broadcast even
  without runtime stats.
* Aggregations are partial (map-side) + final automatically; sorts feeding a
  LIMIT plan as TakeOrderedAndProject (no global sort).

Floating-point aggregates are rounded for oracle determinism (see
catalog.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_query_spark.operators.catalog import query, views


@query(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2)                                        AS sum_qty,
       round(SUM(l_extendedprice), 2)                                   AS sum_base_price,
       round(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(AVG(l_quantity), 4)                                        AS avg_qty,
       round(AVG(l_extendedprice), 4)                                   AS avg_price,
       round(AVG(l_discount), 4)                                        AS avg_disc,
       COUNT(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("aggregate", "bench"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: wide aggregation; partial agg keeps the shuffle tiny."""
    li = views(spark, sf_dir)["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
SELECT l_orderkey,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    tags=("join", "aggregate", "topk", "bench"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: fact-fact join + broadcast dim; top-k via TakeOrdered."""
    v = views(spark, sf_dir)
    cust = v["customer"].where(F.col("c_mktsegment") == "BUILDING")
    orders = v["orders"].where(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = v["lineitem"].where(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
SELECT n_name,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey  = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
""",
    tags=("join", "aggregate", "bench"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join; dims broadcast, facts shuffle on join keys.

    The one fact-fact join (lineitem ⋈ year-filtered orders) relies on
    the session's ``preferSortMergeJoin=false``: at 64× the planner
    picks a shuffled hash join (orders slice too big to broadcast, small
    enough for per-partition hash builds — measured r8: 2.24 s vs
    3.13 s SMJ, identical results), while at sf0.1 AQE converts the same
    join to broadcast.  An explicit SHUFFLE_HASH hint would win at 64×
    but BLOCK the AQE broadcast conversion at small scale (measured
    0.70 s vs 0.42 s) — the session default gets both."""
    v = views(spark, sf_dir)
    return (
        v["lineitem"]
        .join(
            v["orders"].where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(v["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(v["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(v["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(v["region"].where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "q6_forecast_revenue",
    oracle="""
SELECT round(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
    tags=("aggregate", "pushdown", "bench"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-agg; all four predicates push to Parquet."""
    li = views(spark, sf_dir)["lineitem"]
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


@query(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(c_acctbal, 2) AS acctbal,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    tags=("join", "aggregate", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue ranking."""
    v = views(spark, sf_dir)
    return (
        v["lineitem"].where(F.col("l_returnflag") == "R")
        .join(
            v["orders"].where(
                (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(v["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(v["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "pushdown_scan_project",
    oracle="""
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2001-10-01' AND l_quantity > 45
""",
    tags=("pushdown",),
)
def pushdown_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal scan: 2 predicates + 3-column projection, both pushed to the
    Parquet reader (verified in tests via the physical plan's PushedFilters /
    ReadSchema)."""
    li = views(spark, sf_dir)["lineitem"]
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("2001-10-01").cast("timestamp"))
            & (F.col("l_quantity") > 45)
        )
        .select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("price"))
    )


@query(
    "q4_priority_with_returns",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
""",
    tags=("subquery", "join"),
)
def q4_priority_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery -> left-semi join.

    Catalyst rewrites EXISTS into a semi join; only o_orderkey shuffles from
    the probe side, and the date filter is pushed into the orders scan."""
    v = views(spark, sf_dir)
    o = v["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("date"))
    )
    returned = v["lineitem"].where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.join(returned, o["o_orderkey"] == returned["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q12_late_shipments_by_priority",
    oracle="""
SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high' ELSE 'low' END
         AS priority_class,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL '90' DAY THEN 1 ELSE 0 END)
            AS BIGINT) AS late_lines
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY 1
""",
    tags=("join", "aggregate"),
)
def q12_late_shipments_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + conditional aggregation.

    orders<->lineitem is the one genuinely large-x-large join in this schema;
    at 100 TB both sides shuffle on orderkey (or are pre-bucketed on it) and
    the CASE aggregation is map-side partial."""
    v = views(spark, sf_dir)
    j = v["orders"].join(v["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    return (
        j.groupBy(F.when(is_high, "high").otherwise("low").alias("priority_class"))
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(late, 1).otherwise(0)).alias("late_lines"),
        )
    )


@query(
    "q14_promo_revenue_share",
    oracle="""
SELECT round(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-02-01'
""",
    tags=("join", "aggregate"),
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: broadcast dim join + ratio-of-conditional-sums.

    `part` is a dimension table -> explicit broadcast hint keeps the plan a
    map-side hash join with zero shuffle of the (filtered) fact side."""
    v = views(spark, sf_dir)
    li = v["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("date"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(v["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share_pct")
        )
    )


@query(
    "q18_large_volume_customers",
    oracle="""
SELECT c_name, o_orderkey, round(o_totalprice, 2) AS total_price,
       round(big.sum_qty, 2) AS sum_qty
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 200) big
  ON o_orderkey = big.l_orderkey
ORDER BY total_price DESC, o_orderkey
LIMIT 100
""",
    tags=("join", "aggregate", "topk"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: pre-aggregate-then-join + global top-k.

    Aggregating lineitem BEFORE joining collapses the big side to one row
    per order (the HAVING filters it further), so the join probe is tiny;
    ORDER BY + LIMIT plans as TakeOrderedAndProject — no global sort."""
    v = views(spark, sf_dir)
    big = (
        v["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 200)
    )
    return (
        v["orders"]
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(v["customer"]), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.desc("total_price"), "o_orderkey")
        .limit(100)
    )


@query(
    "q19_brand_size_qty_revenue",
    oracle="""
SELECT round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
""",
    tags=("join", "aggregate"),
)
def q19_brand_size_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-attribute predicate over a
    broadcast join — the OR-of-ANDs stays a single post-join filter (no
    union-of-three-scans rewrite needed)."""
    v = views(spark, sf_dir)
    j = v["lineitem"].join(F.broadcast(v["part"]), F.col("p_partkey") == F.col("l_partkey"))
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.where(
        arm("Brand#12", 15, 1, 20) | arm("Brand#23", 25, 10, 30) | arm("Brand#34", 35, 20, 40)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@query(
    "q7_volume_shipping_nation_pairs",
    oracle="""
SELECT supp_nation, cust_nation, l_year, round(SUM(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(year FROM l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
) GROUP BY supp_nation, cust_nation, l_year
""",
    tags=("join", "aggregate"),
)
def q7_volume_shipping_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: 5-way join with a symmetric nation-pair predicate.

    The nation filter lands on the two broadcast dim joins, shrinking the
    fact stream before the orders<->lineitem shuffle; the year extraction
    keys the final (tiny) aggregation."""
    v = views(spark, sf_dir)
    n1 = v["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = v["nation"].select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    li = v["lineitem"].where(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31 23:59:59")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(v["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(v["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(v["customer"]), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q8_market_share",
    oracle="""
SELECT o_year,
       round(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / SUM(volume), 4) AS mkt_share
FROM (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
    AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
) GROUP BY o_year
""",
    tags=("join", "aggregate"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: 8-way snowflake join + conditional-share aggregation.

    Every dimension (part, supplier, customer, nation x2, region) broadcasts;
    the only shuffle is orders<->lineitem.  Region/p_type filters apply
    before their joins, so the broadcast hash sets stay small."""
    v = views(spark, sf_dir)
    n1 = v["nation"].select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = v["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    europe = v["region"].where(F.col("r_name") == "EUROPE")
    promo = v["part"].where(F.col("p_type") == "PROMO")
    o = v["orders"].where(F.col("o_orderdate").between("1996-01-01", "1997-12-31 23:59:59"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        v["lineitem"]
        .join(F.broadcast(promo), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(v["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(v["customer"]), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(europe), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
SELECT round(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#11'
  AND l_quantity < (
    SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l_partkey
  )
""",
    tags=("join", "subquery", "aggregate"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated average subquery against the fact table.

    Catalyst decorrelates into (per-part avg aggregate) joined back to
    lineitem — the aggregate side collapses to one row per part BEFORE the
    join, so the extra pass over lineitem shuffles only (partkey, avg)."""
    return spark.sql(
        """
        SELECT round(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM {lineitem}
        JOIN {part} ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#11'
          AND l_quantity < (
            SELECT 0.5 * AVG(l2.l_quantity) FROM {lineitem} l2 WHERE l2.l_partkey = l_partkey
          )
        """,
        **views(spark, sf_dir),
    )


@query(
    "q22_dormant_high_balance_customers",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_cust, round(SUM(c_acctbal), 2) AS total_bal
FROM customer c
WHERE c.c_acctbal > (
        SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0
      )
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
GROUP BY c_mktsegment
""",
    tags=("join", "subquery", "aggregate"),
)
def q22_dormant_high_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar subquery (broadcast as a
    literal-like single-row side) + NOT EXISTS anti join."""
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_cust, round(SUM(c_acctbal), 2) AS total_bal
        FROM {customer} c
        WHERE c.c_acctbal > (
                SELECT AVG(c2.c_acctbal) FROM {customer} c2 WHERE c2.c_acctbal > 0
              )
          AND NOT EXISTS (SELECT 1 FROM {orders} o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        GROUP BY c_mktsegment
        """,
        **views(spark, sf_dir),
    )
