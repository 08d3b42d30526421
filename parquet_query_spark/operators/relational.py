"""Relational operator coverage — joins, windows, set ops, grouping sets,
subqueries, scalar functions (SURVEY §2.C delegated surface).

Each query is deliberately shaped so its *plan* is the one you'd want at
100 TB: broadcast for dim joins, semi/anti joins instead of IN/NOT IN
materialization, window partitioning on the natural key (no global sort),
grouping-set expansion left to the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parquet_query_spark.operators.catalog import query, views


# ---------------------------------------------------------------- joins

@query(
    "join_semi_customers_with_orders",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
ORDER BY c_custkey
""",
    tags=("join",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join = EXISTS — no row multiplication, no payload shuffle
    of the probe side's non-key columns."""
    v = views(spark, sf_dir)
    big = v["orders"].where(F.col("o_totalprice") > 300000)
    return (
        v["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "join_anti_customers_without_orders",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
ORDER BY c_custkey
""",
    tags=("join",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join = NOT EXISTS.

    The filter on the anti side matters: every customer in the testdata has
    SOME order, so an unfiltered NOT EXISTS would be vacuously empty and
    prove nothing — this variant returns a real (non-empty) complement."""
    v = views(spark, sf_dir)
    big = v["orders"].where(F.col("o_totalprice") > 400000)
    return (
        v["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "join_left_outer_order_counts",
    oracle="""
SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
       round(COALESCE(SUM(o_totalprice), 0), 2) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
ORDER BY c_custkey
""",
    tags=("join", "aggregate"),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero orders (COUNT(col)
    skips nulls; COALESCE for the null sum)."""
    v = views(spark, sf_dir)
    return (
        v["customer"]
        .join(v["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


@query(
    "join_full_outer_nation_activity",
    oracle="""
WITH cust_n AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
     supp_n AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
SELECT COALESCE(cust_n.nk, supp_n.nk) AS nationkey,
       COALESCE(n_cust, 0) AS n_cust,
       COALESCE(n_supp, 0) AS n_supp
FROM cust_n FULL OUTER JOIN supp_n ON cust_n.nk = supp_n.nk
ORDER BY nationkey
""",
    tags=("join", "cte"),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two pre-aggregated sides (aggregate-before-join
    shrinks the shuffle to |nations| rows)."""
    v = views(spark, sf_dir)
    cust_n = v["customer"].groupBy(F.col("c_nationkey").alias("nk")).agg(F.count("*").alias("n_cust"))
    supp_n = v["supplier"].groupBy(F.col("s_nationkey").alias("nk")).agg(F.count("*").alias("n_supp"))
    return (
        cust_n.join(supp_n, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@query(
    "join_cross_region_priority_grid",
    oracle="""
SELECT r_name, o_orderpriority, COUNT(*) AS n
FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
CROSS JOIN (SELECT 1 AS one) d
GROUP BY r_name, o_orderpriority
ORDER BY r_name, o_orderpriority
""",
    tags=("join",),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS join of two tiny inputs (broadcast NL join — legitimate only
    because both sides are bounded)."""
    v = views(spark, sf_dir)
    prios = v["orders"].select("o_orderpriority").distinct()
    return (
        v["region"].crossJoin(prios)
        .groupBy("r_name", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy("r_name", "o_orderpriority")
    )


# ---------------------------------------------------------------- windows

@query(
    "window_top3_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) t
WHERE rn <= 3
ORDER BY o_custkey, rn
""",
    tags=("window", "topk"),
)
def window_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via row_number — the scalable alternative to a global
    sort; one shuffle on the partition key."""
    v = views(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        v["orders"]
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rn")
        .orderBy("o_custkey", "rn")
    )


@query(
    "window_running_total_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
FROM orders
ORDER BY o_custkey, o_orderkey
""",
    tags=("window",),
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) aggregate with an explicit ROWS frame."""
    v = views(spark, sf_dir)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        v["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "window_lag_lead_order_gaps",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(o_totalprice - LAG(o_totalprice) OVER w, 2)  AS delta_prev,
       LEAD(o_orderkey) OVER w                             AS next_orderkey,
       RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS price_rank,
       NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
""",
    tags=("window",),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD/RANK/NTILE share one shuffle on the common partition key."""
    v = views(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_rank = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return (
        v["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias("delta_prev"),
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
            F.rank().over(w_rank).alias("price_rank"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------- set ops

@query(
    "setop_union_all_active_keys",
    oracle="""
SELECT k, src FROM (
  SELECT o_custkey AS k, 'orders' AS src FROM orders WHERE o_orderstatus = 'O'
  UNION ALL
  SELECT c_custkey AS k, 'customer' AS src FROM customer WHERE c_acctbal > 9000
) t
ORDER BY k, src
""",
    tags=("setop",),
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL — pure concatenation, no shuffle."""
    v = views(spark, sf_dir)
    a = v["orders"].where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("k"), F.lit("orders").alias("src")
    )
    b = v["customer"].where(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("k"), F.lit("customer").alias("src")
    )
    return a.unionByName(b).orderBy("k", "src")


@query(
    "setop_intersect_except",
    oracle="""
SELECT k, 'both' AS tag FROM (
  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
) a
UNION ALL
SELECT k, 'only_building' AS tag FROM (
  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
  EXCEPT
  SELECT o_custkey AS k FROM orders
) b
ORDER BY tag, k
""",
    tags=("setop",),
)
def setop_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (distinct semantics) — planned as semi/anti joins."""
    v = views(spark, sf_dir)
    building = v["customer"].where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    finished = v["orders"].where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    )
    any_order = v["orders"].select(F.col("o_custkey").alias("k"))
    both = building.intersect(finished).select("k", F.lit("both").alias("tag"))
    only = building.exceptAll(any_order).distinct().select("k", F.lit("only_building").alias("tag"))
    return both.unionByName(only).orderBy("tag", "k")


# ---------------------------------------------------------------- grouping

@query(
    "agg_rollup_region_nation",
    oracle="""
SELECT r_name, n_name, COUNT(*) AS n_customers, round(SUM(c_acctbal), 2) AS total_balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
""",
    tags=("aggregate", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP — hierarchical totals in one pass (engine expands grouping
    sets; partial aggregation still applies)."""
    v = views(spark, sf_dir)
    joined = (
        v["customer"]
        .join(F.broadcast(v["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(v["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("total_balance"))
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


@query(
    "agg_cube_status_priority",
    oracle="""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, round(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
    tags=("aggregate", "rollup"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dimensions."""
    v = views(spark, sf_dir)
    return (
        v["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "agg_distinct_and_filtered",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(DISTINCT l_suppkey)  AS n_suppliers,
       CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_bulk_lines
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("aggregate",),
)
def agg_distinct_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) + a filtered aggregate (expand + partial)."""
    v = views(spark, sf_dir)
    return (
        v["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.sum(F.when(F.col("l_quantity") > 25, 1).otherwise(0)).alias("n_bulk_lines"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_approx_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS n_exact_orders,
       (abs(approx_count_distinct(l_orderkey) - COUNT(DISTINCT l_orderkey))
          <= 0.10 * COUNT(DISTINCT l_orderkey))::INTEGER AS orders_within_10pct,
       (abs(approx_quantile(l_extendedprice, 0.5)
            - quantile_cont(l_extendedprice, 0.5))
          <= 0.05 * quantile_cont(l_extendedprice, 0.5))::INTEGER AS p50_within_5pct,
       (abs(approx_quantile(l_extendedprice, 0.95)
            - quantile_cont(l_extendedprice, 0.95))
          <= 0.05 * quantile_cont(l_extendedprice, 0.95))::INTEGER AS p95_within_5pct,
       (abs(approx_quantile(l_extendedprice, 0.99)
            - quantile_cont(l_extendedprice, 0.99))
          <= 0.05 * quantile_cont(l_extendedprice, 0.99))::INTEGER AS p99_within_5pct
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("aggregate", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct + approximate quantiles — sketch-based,
    mergeable, constant memory per partition (the 100 TB path).

    Raw sketch values are engine-specific, so the verifiable output is a
    tolerance boolean per group: EACH engine compares ITS OWN sketch to
    ITS OWN exact value and emits whether it landed within tolerance —
    deterministic 1 on both sides (HLL error ~1-2% ≪ 10%; quantile-sketch
    value error ≪ 5% at these accuracies), hence hash-matchable, while
    still executing the real sketch aggregates."""
    v = views(spark, sf_dir)
    exact_orders = F.countDistinct("l_orderkey")

    def q_flag(p: float, name: str) -> F.Column:
        exact = F.percentile("l_extendedprice", F.lit(p))
        # accuracy 1000 ≈ ±0.1% rank error — sketch memory and merge cost
        # scale with accuracy, and 10k was 4s of pure sketch build at sf0.01
        approx = F.percentile_approx("l_extendedprice", F.lit(p), F.lit(1000))
        return (F.abs(approx - exact) <= 0.05 * exact).cast("int").alias(name)

    return (
        v["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            exact_orders.alias("n_exact_orders"),
            (
                F.abs(F.approx_count_distinct("l_orderkey") - exact_orders)
                <= 0.10 * exact_orders
            )
            .cast("int")
            .alias("orders_within_10pct"),
            q_flag(0.5, "p50_within_5pct"),
            q_flag(0.95, "p95_within_5pct"),
            q_flag(0.99, "p99_within_5pct"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------- subqueries

@query(
    "subq_orders_above_avg",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
FROM orders
WHERE o_totalprice > 1.7 * (SELECT AVG(o_totalprice) FROM orders)
ORDER BY o_orderkey
""",
    tags=("subquery",),
)
def subq_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (computed once, broadcast into the predicate)."""
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
        FROM {orders}
        WHERE o_totalprice > 1.7 * (SELECT AVG(o_totalprice) FROM {orders})
        ORDER BY o_orderkey
        """,
        **views(spark, sf_dir),
    )


@query(
    "subq_correlated_max_line",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
FROM orders
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
)
ORDER BY o_orderkey
""",
    tags=("subquery",),
)
def subq_in_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (aggregated subquery) — decorrelated to a semi join by Catalyst."""
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
        FROM {orders}
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM {lineitem} GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
        )
        ORDER BY o_orderkey
        """,
        **views(spark, sf_dir),
    )


@query(
    "cte_customer_ltv_band",
    oracle="""
WITH spend AS (
  SELECT o_custkey, SUM(o_totalprice) AS total FROM orders GROUP BY o_custkey
),
banded AS (
  SELECT o_custkey,
         CASE WHEN total >= 1500000 THEN 'high'
              WHEN total >=  500000 THEN 'mid'
              ELSE 'low' END AS band
  FROM spend
)
SELECT band, COUNT(*) AS n_customers
FROM banded GROUP BY band ORDER BY band
""",
    tags=("cte", "aggregate"),
)
def cte_ltv_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained CTEs + CASE banding."""
    return spark.sql(
        """
        WITH spend AS (
          SELECT o_custkey, SUM(o_totalprice) AS total FROM {orders} GROUP BY o_custkey
        ),
        banded AS (
          SELECT o_custkey,
                 CASE WHEN total >= 1500000 THEN 'high'
                      WHEN total >=  500000 THEN 'mid'
                      ELSE 'low' END AS band
          FROM spend
        )
        SELECT band, COUNT(*) AS n_customers
        FROM banded GROUP BY band ORDER BY band
        """,
        **views(spark, sf_dir),
    )


# ---------------------------------------------------------------- misc

@query(
    "topk_global_orders",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
""",
    tags=("topk",),
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k — TakeOrderedAndProject (per-partition heap + driver
    merge of k·P rows), never a full sort."""
    v = views(spark, sf_dir)
    return (
        v["orders"]
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "o_orderdate")
    )


@query(
    "scalar_string_functions",
    oracle="""
SELECT p_partkey,
       upper(p_brand)                                   AS brand_u,
       lower(p_type)                                    AS type_l,
       substr(p_name, 1, 8)                             AS name_prefix,
       replace(p_type, ' ', '_')                        AS type_snake,
       concat(p_brand, ':', p_type)                     AS brand_type,
       length(p_name)                                   AS name_len,
       trim(concat(' ', p_brand, ' '))                  AS brand_trim,
       CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END AS is_brass,
       regexp_extract(p_type, '([A-Z]+)$', 1)           AS last_word
FROM part
ORDER BY p_partkey
""",
    tags=("scalar",),
)
def scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function sweep (B-tier scalars) — all JVM builtins, one scan."""
    v = views(spark, sf_dir)
    p = v["part"]
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.trim(F.concat(F.lit(" "), F.col("p_brand"), F.lit(" "))).alias("brand_trim"),
        F.when(F.col("p_type").like("%BRASS%"), 1).otherwise(0).alias("is_brass"),
        F.regexp_extract("p_type", r"([A-Z]+)$", 1).alias("last_word"),
    ).orderBy("p_partkey")


@query(
    "scalar_date_functions",
    oracle="""
SELECT o_orderkey,
       year(o_orderdate)                    AS yr,
       month(o_orderdate)                   AS mo,
       day(o_orderdate)                     AS dy,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)   AS month_start,
       CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS quarter_start,
       CAST(o_orderdate + INTERVAL '30' DAY AS TIMESTAMP) AS due_date
FROM orders
WHERE o_orderdate >= TIMESTAMP '2001-01-01'
ORDER BY o_orderkey
""",
    tags=("scalar", "date"),
)
def scalar_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval sweep incl. the reference's date_trunc + INTERVAL forms
    (B13-B15)."""
    v = views(spark, sf_dir)
    return (
        v["orders"]
        .where(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            F.dayofmonth("o_orderdate").alias("dy"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            F.date_trunc("quarter", "o_orderdate").alias("quarter_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_date"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "scalar_case_coalesce_nullif",
    oracle="""
SELECT s_suppkey,
       COALESCE(NULLIF(s_name, ''), 'unknown') AS name_or_default,
       CASE WHEN s_acctbal < 0 THEN 'debt'
            WHEN s_acctbal < 5000 THEN 'ok'
            ELSE 'rich' END AS balance_band,
       round(abs(s_acctbal), 2)    AS abs_bal,
       round(greatest(s_acctbal, 0.0), 2) AS pos_bal,
       CAST(floor(s_acctbal / 1000) AS BIGINT) AS bal_k
FROM supplier
ORDER BY s_suppkey
""",
    tags=("scalar",),
)
def scalar_case_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/COALESCE/NULLIF/abs/greatest/floor sweep (B11-B12 + math)."""
    v = views(spark, sf_dir)
    return (
        v["supplier"]
        .select(
            "s_suppkey",
            F.coalesce(F.nullif(F.col("s_name"), F.lit("")), F.lit("unknown")).alias(
                "name_or_default"
            ),
            F.when(F.col("s_acctbal") < 0, "debt")
            .when(F.col("s_acctbal") < 5000, "ok")
            .otherwise("rich")
            .alias("balance_band"),
            F.round(F.abs("s_acctbal"), 2).alias("abs_bal"),
            F.round(F.greatest("s_acctbal", F.lit(0.0)), 2).alias("pos_bal"),
            F.floor(F.col("s_acctbal") / 1000).alias("bal_k"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "groupby_output_alias",
    oracle="""
SELECT upper(c_mktsegment) AS segment, COUNT(*) AS n
FROM customer
GROUP BY segment
ORDER BY segment
""",
    tags=("aggregate", "dialect"),
)
def groupby_output_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B21 — GROUP BY a SELECT alias (both dialects resolve it)."""
    return spark.sql(
        """
        SELECT upper(c_mktsegment) AS segment, COUNT(*) AS n
        FROM {customer}
        GROUP BY segment
        ORDER BY segment
        """,
        **views(spark, sf_dir),
    )


@query(
    "join_right_outer_customer_orders",
    oracle="""
SELECT c_custkey, c_name, o_orderkey
FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
WHERE c_custkey < 100
ORDER BY c_custkey, o_orderkey NULLS FIRST
""",
    tags=("join",),
)
def join_right_outer_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join (customers without orders keep a NULL orderkey) —
    Catalyst canonicalizes it to the mirrored left outer, so the plan is
    identical to the flipped form."""
    v = views(spark, sf_dir)
    return (
        v["orders"]
        .join(v["customer"], F.col("o_custkey") == F.col("c_custkey"), "right")
        .where(F.col("c_custkey") < 100)
        .select("c_custkey", "c_name", "o_orderkey")
        .orderBy("c_custkey", F.asc_nulls_first("o_orderkey"))
    )


@query(
    "distinct_projection",
    oracle="""
SELECT DISTINCT c_mktsegment, o_orderstatus
FROM customer JOIN orders ON c_custkey = o_custkey
ORDER BY c_mktsegment, o_orderstatus
""",
    tags=("aggregate",),
)
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT over a join — planned as a hash aggregate on the
    projected columns (same shuffle as a groupBy on them)."""
    v = views(spark, sf_dir)
    return (
        v["customer"]
        .join(v["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .select("c_mktsegment", "o_orderstatus")
        .distinct()
        .orderBy("c_mktsegment", "o_orderstatus")
    )


@query(
    "setop_all_variants",
    oracle="""
SELECT flag, COUNT(*) AS n FROM (
  SELECT 'intersect_all' AS flag, k FROM (
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
  ) a
  UNION ALL
  SELECT 'except_all' AS flag, k FROM (
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
  ) b
) GROUP BY flag
ORDER BY flag
""",
    tags=("setop",),
)
def setop_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL (bag semantics — multiplicities preserved
    via the generated row-count window, not a distinct)."""
    return spark.sql(
        """
        SELECT flag, COUNT(*) AS n FROM (
          SELECT 'intersect_all' AS flag, k FROM (
            SELECT o_custkey AS k FROM {orders} WHERE o_orderstatus = 'F'
            INTERSECT ALL
            SELECT o_custkey AS k FROM {orders} WHERE o_orderpriority = '1-URGENT'
          ) a
          UNION ALL
          SELECT 'except_all' AS flag, k FROM (
            SELECT o_custkey AS k FROM {orders} WHERE o_orderstatus = 'F'
            EXCEPT ALL
            SELECT o_custkey AS k FROM {orders} WHERE o_orderpriority = '1-URGENT'
          ) b
        ) GROUP BY flag
        ORDER BY flag
        """,
        **views(spark, sf_dir),
    )


@query(
    "scalar_string_functions2",
    oracle="""
SELECT p_partkey,
       lpad(CAST(p_partkey AS VARCHAR), 8, '0')       AS key_padded,
       split_part(p_type, ' ', 1)                     AS type_head,
       reverse(p_brand)                               AS brand_rev,
       repeat('*', p_size % 5)                        AS stars,
       translate(p_brand, '#', '-')                   AS brand_dash,
       levenshtein(p_brand, 'Brand#1')                AS edit_dist,
       position('#' IN p_brand)                       AS hash_pos,
       left(p_name, 4)                                AS name_l4,
       right(p_name, 4)                               AS name_r4
FROM part
ORDER BY p_partkey
""",
    tags=("scalar",),
)
def scalar_string_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string-function sweep: padding, split_part, reverse, repeat,
    translate, levenshtein, position, left/right — identical names and
    semantics in both dialects."""
    return spark.sql(
        """
        SELECT p_partkey,
               lpad(CAST(p_partkey AS STRING), 8, '0')  AS key_padded,
               split_part(p_type, ' ', 1)               AS type_head,
               reverse(p_brand)                         AS brand_rev,
               repeat('*', p_size % 5)                  AS stars,
               translate(p_brand, '#', '-')             AS brand_dash,
               levenshtein(p_brand, 'Brand#1')          AS edit_dist,
               position('#' IN p_brand)                 AS hash_pos,
               left(p_name, 4)                          AS name_l4,
               right(p_name, 4)                         AS name_r4
        FROM {part}
        ORDER BY p_partkey
        """,
        **views(spark, sf_dir),
    )


@query(
    "scalar_math_functions",
    oracle="""
SELECT l_orderkey, l_linenumber,
       abs(l_discount - 0.05)                          AS disc_dev,
       CAST(ceil(l_extendedprice / 1000) AS BIGINT)    AS price_k_ceil,
       CAST(floor(l_quantity / 10) AS BIGINT)          AS qty_decile,
       round(ln(l_extendedprice), 6)                   AS price_ln,
       round(log10(l_extendedprice), 6)                AS price_log10,
       round(sqrt(l_quantity), 6)                      AS qty_sqrt,
       round(pow(1 + l_tax, 2), 6)                     AS tax_sq,
       CAST(sign(l_discount - 0.05) AS INTEGER)        AS disc_sign,
       CAST(l_orderkey % 7 AS BIGINT)                  AS key_mod,
       greatest(l_discount, l_tax)                     AS rate_hi,
       least(l_discount, l_tax)                        AS rate_lo,
       CASE WHEN l_quantity >= 50 THEN 6
            ELSE CAST(floor(l_quantity / 10) + 1 AS BIGINT) END AS qty_bucket
FROM lineitem
WHERE l_orderkey < 200
ORDER BY l_orderkey, l_linenumber
""",
    tags=("scalar",),
)
def scalar_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-function sweep: abs/ceil/floor/ln/log10/sqrt/pow/sign/mod/
    greatest/least/width_bucket — all codegen builtins in Spark, same
    names in DuckDB (floor/ceil return DOUBLE there, BIGINT here — pinned
    by explicit casts; width_bucket has no DuckDB builtin, so the oracle
    emulates its bucket arithmetic)."""
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               abs(l_discount - 0.05)                       AS disc_dev,
               CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_k_ceil,
               CAST(floor(l_quantity / 10) AS BIGINT)       AS qty_decile,
               round(ln(l_extendedprice), 6)                AS price_ln,
               round(log10(l_extendedprice), 6)             AS price_log10,
               round(sqrt(l_quantity), 6)                   AS qty_sqrt,
               round(pow(1 + l_tax, 2), 6)                  AS tax_sq,
               CAST(sign(l_discount - 0.05) AS INT)         AS disc_sign,
               CAST(l_orderkey % 7 AS BIGINT)               AS key_mod,
               greatest(l_discount, l_tax)                  AS rate_hi,
               least(l_discount, l_tax)                     AS rate_lo,
               width_bucket(l_quantity, 0, 50, 5)           AS qty_bucket
        FROM {lineitem}
        WHERE l_orderkey < 200
        ORDER BY l_orderkey, l_linenumber
        """,
        **views(spark, sf_dir),
    )


@query(
    "agg_hll_mergeable_sketches",
    oracle="""
WITH per AS (
  SELECT event_type,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact_users,
         (abs(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
            <= 0.05 * COUNT(DISTINCT user_id))::INTEGER AS est_within_5pct
  FROM events GROUP BY 1
),
allr AS (
  SELECT 'ALL' AS event_type,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact_users,
         (abs(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
            <= 0.05 * COUNT(DISTINCT user_id))::INTEGER AS est_within_5pct
  FROM events
)
SELECT * FROM per
UNION ALL
SELECT * FROM allr
ORDER BY event_type
""",
    tags=("aggregate", "approx", "scale"),
)
def agg_hll_mergeable_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches, ``hll_sketch_agg``):
    per-group sketches of distinct users, with the ALL row's estimate
    produced by ``hll_union_agg`` over the per-group SKETCHES — never by
    re-scanning raw events.  That merge step is the distributed-counting
    architecture at 100 TB: partial sketches roll up across partitions /
    days / sources in constant memory, exactly like the incremental-agg
    monoid but for DISTINCT.

    Sketch bytes are engine-specific, so (as with agg_approx_distinct)
    the verifiable output is each engine's own estimate-vs-exact
    tolerance flag plus the exact counts; the DuckDB oracle's ALL
    estimate comes from a raw re-aggregation because DuckDB SQL cannot
    union sketch partials — which is rather the point of this entry."""
    v = views(spark, sf_dir)
    ev = v["events"]
    per = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact_users"),
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
    )
    per_flags = per.select(
        "event_type",
        "n_exact_users",
        (
            F.abs(F.expr("hll_sketch_estimate(sk)") - F.col("n_exact_users"))
            <= 0.05 * F.col("n_exact_users")
        )
        .cast("int")
        .alias("est_within_5pct"),
    )
    merged = per.agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"))
    all_exact = ev.agg(F.countDistinct("user_id").alias("n_exact_users"))
    all_row = (
        all_exact.crossJoin(F.broadcast(merged))
        .select(
            F.lit("ALL").alias("event_type"),
            "n_exact_users",
            (F.abs(F.col("est") - F.col("n_exact_users")) <= 0.05 * F.col("n_exact_users"))
            .cast("int")
            .alias("est_within_5pct"),
        )
    )
    return per_flags.unionAll(all_row).orderBy("event_type")
