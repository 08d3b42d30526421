"""Relational operator coverage — joins, windows, set ops, grouping sets,
subqueries, scalar functions (SURVEY §2.C delegated surface), the SQL
constructs (inline VALUES, UNPIVOT, struct/map constructors, LATERAL,
null-safe equality, the recursive CTE), and the business analytics over
the orders, lineitem, customer, supplier and nation tables (RFM and
cohorts, seasonality, Pareto and concentration, lead times, survival).

Each query is deliberately shaped so its *plan* is the one you'd want at
100 TB: broadcast for dim joins, semi/anti joins instead of IN/NOT IN
materialization, window partitioning on the natural key (no global sort),
grouping-set expansion left to the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parquet_query_spark.operators.catalog import bare_names, query, views


# ---------------------------------------------------------------- joins

@query(
    "join_semi_customers_with_orders",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
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
    )


@query(
    "join_anti_customers_without_orders",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
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
    )


@query(
    "join_left_outer_order_counts",
    oracle="""
SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
       round(COALESCE(SUM(o_totalprice), 0), 2) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
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
    )


@query(
    "join_cross_region_priority_grid",
    oracle="""
SELECT r_name, o_orderpriority, COUNT(*) AS n
FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
CROSS JOIN (SELECT 1 AS one) d
GROUP BY r_name, o_orderpriority
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
    )


@query(
    "window_running_total_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
FROM orders
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
    return a.unionByName(b)


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
    return both.unionByName(only)


# ---------------------------------------------------------------- grouping

@query(
    "agg_rollup_region_nation",
    oracle="""
SELECT r_name, n_name, COUNT(*) AS n_customers, round(SUM(c_acctbal), 2) AS total_balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
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
    )


@query(
    "agg_cube_status_priority",
    oracle="""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, round(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
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
    )


# ---------------------------------------------------------------- subqueries

@query(
    "subq_orders_above_avg",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
FROM orders
WHERE o_totalprice > 1.7 * (SELECT AVG(o_totalprice) FROM orders)
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
FROM banded GROUP BY band
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
        FROM banded GROUP BY band
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
    )


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
    )


@query(
    "groupby_output_alias",
    oracle="""
SELECT upper(c_mktsegment) AS segment, COUNT(*) AS n
FROM customer
GROUP BY segment
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
        """,
        **views(spark, sf_dir),
    )


@query(
    "join_right_outer_customer_orders",
    oracle="""
SELECT c_custkey, c_name, o_orderkey
FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
WHERE c_custkey < 100
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
    )


@query(
    "distinct_projection",
    oracle="""
SELECT DISTINCT c_mktsegment, o_orderstatus
FROM customer JOIN orders ON c_custkey = o_custkey
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
    return per_flags.unionAll(all_row)


# ---------------------------------------------------------------- constructs

@query(
    "subq_correlated_min_price",
    oracle="""
SELECT p.p_partkey, p.p_brand, round(p.p_retailprice, 2) AS price
FROM part p
WHERE p.p_retailprice = (
  SELECT MIN(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
)
""",
    tags=("subquery",),
)
def subq_correlated_min_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q2 shape) — Catalyst decorrelates
    it into an aggregate + join; never a per-row re-execution."""
    return spark.sql(
        """
        SELECT p.p_partkey, p.p_brand, round(p.p_retailprice, 2) AS price
        FROM {part} p
        WHERE p.p_retailprice = (
          SELECT MIN(p2.p_retailprice) FROM {part} p2 WHERE p2.p_brand = p.p_brand
        )
        """,
        **views(spark, sf_dir),
    )


@query(
    "unpivot_lineitem_measures",
    oracle="""
SELECT l_orderkey, l_linenumber, measure, round(val, 2) AS val
FROM (
  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
  FROM lineitem WHERE l_orderkey < 100
) UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
""",
    tags=("reshape",),
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long) — identical SQL in both dialects."""
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, measure, round(val, 2) AS val
        FROM (
          SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
          FROM {lineitem} WHERE l_orderkey < 100
        ) UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
        """,
        **views(spark, sf_dir),
    )


@query(
    "values_inline_table",
    oracle="""
SELECT t.grade, COUNT(*) AS n_customers
FROM customer
JOIN (VALUES ('AUTOMOBILE', 'A'), ('BUILDING', 'B'), ('FURNITURE', 'F'),
             ('HOUSEHOLD', 'H'), ('MACHINERY', 'M')) AS t(seg, grade)
  ON c_mktsegment = t.seg
GROUP BY t.grade
""",
    tags=("scan",),
)
def values_inline_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES relation joined to a table (B2 family — constant
    relations; broadcast for free)."""
    return spark.sql(
        """
        SELECT t.grade, COUNT(*) AS n_customers
        FROM {customer}
        JOIN (VALUES ('AUTOMOBILE', 'A'), ('BUILDING', 'B'), ('FURNITURE', 'F'),
                     ('HOUSEHOLD', 'H'), ('MACHINERY', 'M')) AS t(seg, grade)
          ON c_mktsegment = t.seg
        GROUP BY t.grade
        """,
        **views(spark, sf_dir),
    )


@query(
    "struct_and_map_constructors",
    oracle="""
SELECT r_regionkey,
       to_json({'region': r_name, 'key_sq': r_regionkey * r_regionkey}) AS info,
       to_json(MAP(['name_len', 'key'], [length(r_name), r_regionkey])) AS metrics
FROM region
""",
    tags=("scalar", "nested"),
)
def struct_and_map_constructors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type constructors: named struct + map columns (the reference
    displays these JSON-encoded — A14's object branch)."""
    v = views(spark, sf_dir)
    return (
        v["region"]
        .select(
            "r_regionkey",
            # struct crosses the comparison boundary as JSON too — struct-typed
            # output columns crash the driver canonicalizer
            F.to_json(
                F.struct(
                    F.col("r_name").alias("region"),
                    (F.col("r_regionkey") * F.col("r_regionkey")).alias("key_sq"),
                )
            ).alias("info"),
            # maps cross the comparison boundary as JSON — the DuckDB client
            # materializes MAP as {'key': [...], 'value': [...]} otherwise
            F.to_json(
                F.create_map(
                    F.lit("name_len"), F.length("r_name"),
                    F.lit("key"), F.col("r_regionkey"),
                )
            ).alias("metrics"),
        )
    )


@query(
    "lateral_top2_customers_per_nation",
    oracle="""
SELECT n_name, c.c_name, round(c.c_acctbal, 2) AS acctbal
FROM nation, LATERAL (
  SELECT c_name, c_acctbal
  FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_name
  LIMIT 2
) c
""",
    tags=("join", "lateral"),
)
def lateral_top2_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — per-nation top-2.

    Catalyst rewrites the lateral into a ranked window over a single join
    (DomainJoin decorrelation), so it stays one shuffle — not a re-executed
    subquery per outer row."""
    return spark.sql(
        """
        SELECT n_name, c.c_name, round(c.c_acctbal, 2) AS acctbal
        FROM {nation}, LATERAL (
          SELECT c_name, c_acctbal
          FROM {customer}
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_name
          LIMIT 2
        ) c
        """,
        **views(spark, sf_dir),
    )


_RECURSIVE_MONTHS_SQL = """
WITH RECURSIVE months(m) AS (
  SELECT CAST('1995-01-01' AS DATE)
  UNION ALL
  SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months WHERE m < DATE '2001-07-01'
)
SELECT CAST(m AS TIMESTAMP) AS m, COUNT(o_orderkey) AS n_orders
FROM months
LEFT JOIN {orders}
  ON year(o_orderdate) * 100 + month(o_orderdate) = year(m) * 100 + month(m)
GROUP BY m
"""


@query(
    "recursive_cte_month_series",
    oracle=bare_names(_RECURSIVE_MONTHS_SQL),
    tags=("cte", "recursive"),
)
def recursive_cte_month_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (SQL:1999) — calendar-fill: generate every month in the
    data range, left-join order counts so empty months appear as zero.
    Identical SQL text on both engines (Spark 4 recursion <-> DuckDB);
    month equality via integer year*100+month since date_trunc return
    types differ across dialects."""
    return spark.sql(_RECURSIVE_MONTHS_SQL, **views(spark, sf_dir))


@query(
    "join_null_safe_contrast",
    oracle="""
WITH clicks AS (
  SELECT event_id,
         NULLIF(CAST(json_extract_string(props, '$.k') AS BIGINT) % 7, 0) AS nk
  FROM events WHERE event_type = 'click'
),
purch AS (
  SELECT DISTINCT NULLIF(CAST(json_extract_string(props, '$.k') AS BIGINT) % 7, 0) AS nk,
         1 AS marker
  FROM events WHERE event_type = 'purchase'
)
SELECT c.nk,
       CAST(COUNT(*) AS BIGINT) AS n_clicks,
       CAST(SUM(CASE WHEN p.marker IS NOT NULL AND c.nk IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_plain_hits,
       CAST(SUM(CASE WHEN p.marker IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_hits
FROM clicks c
LEFT JOIN purch p ON c.nk IS NOT DISTINCT FROM p.nk
GROUP BY c.nk
""",
    tags=("join", "semantics"),
)
def join_null_safe_contrast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe join semantics (`<=>` / IS NOT DISTINCT FROM) contrasted
    with the plain equi-join on the same key: the NULL-keyed row shows
    zero plain hits but full null-safe hits — the semantic a sessionless/
    anonymous-id join needs and the one a plain `=` silently drops.

    The key is derived (NULLIF(k % 7, 0)) so a NULL class genuinely
    exists.  Scale shape: the right side is a distinct key list
    (dimension-bounded, broadcast); null-safe equality still hash-
    partitions — NULL hashes like any value under `<=>` — so no skew
    pathology is introduced."""
    v = views(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    nk = F.nullif(k % 7, F.lit(0))
    ev = v["events"]
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", nk.alias("nk")
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .select(nk.alias("p_nk"))
        .distinct()
        .withColumn("marker", F.lit(1))
    )
    return (
        clicks.join(F.broadcast(purch), clicks.nk.eqNullSafe(purch.p_nk), "left")
        .groupBy("nk")
        .agg(
            F.count("*").cast("bigint").alias("n_clicks"),
            F.sum(
                F.when(F.col("marker").isNotNull() & F.col("nk").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_plain_hits"),
            F.sum(F.when(F.col("marker").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_nullsafe_hits"),
        )
    )


# ---------------------------------------------------------------- business analytics

@query(
    "orders_backlog_burndown",
    oracle="""
WITH done AS (
  SELECT l_orderkey AS okey, max(l_shipdate) AS ship_complete
  FROM lineitem GROUP BY l_orderkey
),
deltas AS (
  SELECT date_trunc('month', o.o_orderdate) AS month, count(*)::BIGINT AS d
  FROM orders o JOIN done ON o.o_orderkey = done.okey
  GROUP BY 1
  UNION ALL
  SELECT date_trunc('month', done.ship_complete) + INTERVAL 1 MONTH AS month,
         -count(*)::BIGINT AS d
  FROM orders o JOIN done ON o.o_orderkey = done.okey
  GROUP BY 1
),
monthly AS (
  SELECT month, CAST(SUM(d) AS BIGINT) AS net_delta FROM deltas GROUP BY month
)
SELECT CAST(month AS DATE) AS month, net_delta,
       CAST(SUM(net_delta) OVER (ORDER BY month) AS BIGINT) AS open_backlog
FROM monthly
""",
    tags=("orders", "window"),
)
def orders_backlog_burndown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly open-order backlog via the +1/−1 delta-cumsum pattern.

    An order is open from its order month until the month AFTER its last
    line ships.  Scale shape: the orderkey join is fact-by-fact (grows
    with data), but the cumsum runs on the month-bounded delta series
    (dozens of rows regardless of SF), so the single-partition window is
    a constant-size reduction, never a data-volume sort."""
    v = views(spark, sf_dir)
    done = v["lineitem"].groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.max("l_shipdate").alias("ship_complete")
    )
    joined = v["orders"].join(done, F.col("o_orderkey") == F.col("okey"))
    deltas = joined.select(
        F.date_trunc("month", "o_orderdate").alias("month"), F.lit(1).alias("d")
    ).unionAll(
        joined.select(
            F.add_months(F.date_trunc("month", "ship_complete"), 1).alias("month"),
            F.lit(-1).alias("d"),
        )
    )
    monthly = deltas.groupBy("month").agg(F.sum("d").cast("bigint").alias("net_delta"))
    w = W.orderBy("month").rowsBetween(W.unboundedPreceding, 0)
    return (
        monthly.select(
            F.col("month").cast("date").alias("month"),
            "net_delta",
            F.sum("net_delta").over(w).cast("bigint").alias("open_backlog"),
        )
    )


@query(
    "lineitem_returnflag_mix_shift",
    oracle="""
WITH cells AS (
  SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
         count(*) FILTER (WHERE l_returnflag = 'A')::DOUBLE AS n_a,
         count(*) FILTER (WHERE l_returnflag = 'N')::DOUBLE AS n_n,
         count(*) FILTER (WHERE l_returnflag = 'R')::DOUBLE AS n_r,
         count(*)::DOUBLE AS n
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT SUM(n_a) AS t_a, SUM(n_n) AS t_n, SUM(n_r) AS t_r, SUM(n) AS t
  FROM cells
)
SELECT yr, CAST(n AS BIGINT) AS n_lines,
       round(
         (n_a - n * t_a / t) * (n_a - n * t_a / t) / (n * t_a / t)
         + (n_n - n * t_n / t) * (n_n - n * t_n / t) / (n * t_n / t)
         + (n_r - n * t_r / t) * (n_r - n * t_r / t) / (n * t_r / t), 6) AS chi2,
       round(n_a / n, 4) AS share_a,
       round(n_n / n, 4) AS share_n,
       round(n_r / n, 4) AS share_r
FROM cells, tot
""",
    tags=("lineitem", "agg"),
)
def lineitem_returnflag_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year return-flag mix-shift: per-year chi-square distance
    of the flag distribution from the all-time distribution.

    All inputs are integer counts (exact in float64), expected values and
    chi-square contributions are evaluated in a FIXED expression order
    (explicit a+b+c, not SUM over a group), so both engines produce
    bit-identical doubles.  Plan: one scan with FILTER aggregates, then a
    broadcast of the 1-row totals — no second pass over data."""
    v = views(spark, sf_dir)
    cells = v["lineitem"].groupBy(
        F.year("l_shipdate").cast("int").alias("yr")
    ).agg(
        F.count(F.when(F.col("l_returnflag") == "A", 1)).cast("double").alias("n_a"),
        F.count(F.when(F.col("l_returnflag") == "N", 1)).cast("double").alias("n_n"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).cast("double").alias("n_r"),
        F.count("*").cast("double").alias("n"),
    )
    tot = cells.agg(
        F.sum("n_a").alias("t_a"),
        F.sum("n_n").alias("t_n"),
        F.sum("n_r").alias("t_r"),
        F.sum("n").alias("t"),
    )

    def contrib(obs, flag_tot):
        e = F.col("n") * F.col(flag_tot) / F.col("t")
        return (F.col(obs) - e) * (F.col(obs) - e) / e

    chi2 = F.round(
        contrib("n_a", "t_a") + contrib("n_n", "t_n") + contrib("n_r", "t_r"), 6
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "yr",
            F.col("n").cast("bigint").alias("n_lines"),
            chi2.alias("chi2"),
            F.round(F.col("n_a") / F.col("n"), 4).alias("share_a"),
            F.round(F.col("n_n") / F.col("n"), 4).alias("share_n"),
            F.round(F.col("n_r") / F.col("n"), 4).alias("share_r"),
        )
    )


_KM_GRID_WEEKS = list(range(4, 53, 4))  # 4, 8, ..., 52


@query(
    "customers_repeat_survival_km",
    oracle=f"""
WITH ranked AS (
  SELECT o_custkey,
         o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
mx AS (SELECT max(o_orderdate) AS max_d FROM orders),
dur AS (
  SELECT c.c_mktsegment AS segment,
         CAST(floor(datediff('day', f.o_orderdate,
                             coalesce(s.o_orderdate, mx.max_d)) / 7)
              AS BIGINT) AS w,
         CASE WHEN s.o_custkey IS NULL THEN 0 ELSE 1 END AS event
  FROM (SELECT * FROM ranked WHERE rn = 1) f
  LEFT JOIN (SELECT * FROM ranked WHERE rn = 2) s
         ON s.o_custkey = f.o_custkey
  JOIN customer c ON c.c_custkey = f.o_custkey
  CROSS JOIN mx
),
wk AS (
  SELECT segment, w,
         CAST(SUM(event) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS c_all
  FROM dur GROUP BY segment, w
),
tot AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n FROM dur GROUP BY segment),
curve0 AS (
  SELECT wk.segment, wk.w, wk.d,
         tot.n - SUM(wk.c_all) OVER (PARTITION BY wk.segment ORDER BY wk.w)
           + wk.c_all AS at_risk
  FROM wk JOIN tot ON tot.segment = wk.segment
),
curve AS (
  SELECT segment, w,
         SUM(CASE WHEN d > 0 THEN
               ln(greatest(1.0 - CAST(d AS DOUBLE) / at_risk, 1e-12))
             ELSE 0.0 END)
           OVER (PARTITION BY segment ORDER BY w) AS cum_ln,
         SUM(d) OVER (PARTITION BY segment ORDER BY w) AS cum_events
  FROM curve0
),
grid AS (SELECT unnest([{', '.join(str(t) for t in _KM_GRID_WEEKS)}]) AS t_weeks),
best AS (
  SELECT g.t_weeks, c.segment, c.cum_ln, c.cum_events,
         ROW_NUMBER() OVER (PARTITION BY c.segment, g.t_weeks
                            ORDER BY c.w DESC) AS rn
  FROM grid g JOIN curve c ON c.w <= g.t_weeks
)
SELECT segment, CAST(t_weeks AS BIGINT) AS t_weeks,
       CAST(cum_events AS BIGINT) AS cum_events,
       round(exp(cum_ln), 4) AS survival
FROM best WHERE rn = 1
""",
    tags=("orders", "stats"),
)
def customers_repeat_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier curve of time-to-repeat-purchase per market segment:
    customers enter at their first order, the event is the second order,
    one-order customers are right-censored at the dataset end — the
    churn-analysis staple done properly (naive repeat-rate ignores
    censoring and biases every recent cohort down).  Survival at week t
    is the product over event weeks u <= t of (1 - d_u / n_u), computed
    as exp of a running ln-sum.

    Determinism: d/n are ratios of exact BIGINT counts; the running sum
    accumulates in week order on both engines (window ORDER BY w); one
    round at 4dp absorbs ulps.  The 1e-12 clamp keeps ln finite when a
    risk set collapses (Spark ln(0) is NULL, DuckDB -inf — the clamp
    makes both produce survival 0.0).

    Scale shape: the per-customer first/second order is one window over
    the custkey shuffle; everything after runs on the (segment, week)
    rollup — bounded by segments x horizon weeks, never order-sized.
    The grid join broadcasts 13 rows."""
    v = views(spark, sf_dir)
    w_rank = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = v["orders"].select(
        "o_custkey", "o_orderdate", F.row_number().over(w_rank).alias("rn")
    )
    first = ranked.where("rn = 1").select(
        F.col("o_custkey").alias("ck"), F.col("o_orderdate").alias("d1")
    )
    second = ranked.where("rn = 2").select(
        F.col("o_custkey").alias("ck2"), F.col("o_orderdate").alias("d2")
    )
    mx = v["orders"].agg(F.max("o_orderdate").alias("max_d"))
    seg = v["customer"].select(
        F.col("c_custkey").alias("ck"), F.col("c_mktsegment").alias("segment")
    )
    dur = (
        first.join(second, first["ck"] == second["ck2"], "left")
        .crossJoin(F.broadcast(mx))
        .join(F.broadcast(seg), "ck")
        .select(
            "segment",
            F.floor(
                F.datediff(F.coalesce(F.col("d2"), F.col("max_d")), F.col("d1")) / 7
            )
            .cast("bigint")
            .alias("w"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("event"),
        )
    )
    wk = dur.groupBy("segment", "w").agg(
        F.sum("event").cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("c_all"),
    )
    tot = dur.groupBy("segment").agg(F.count("*").cast("bigint").alias("n"))
    w_cum = W.partitionBy("segment").orderBy("w")
    curve0 = wk.join(F.broadcast(tot), "segment").select(
        "segment",
        "w",
        "d",
        (F.col("n") - F.sum("c_all").over(w_cum) + F.col("c_all")).alias("at_risk"),
    )
    ln_term = F.when(
        F.col("d") > 0,
        F.log(
            F.greatest(
                1.0 - F.col("d").cast("double") / F.col("at_risk"), F.lit(1e-12)
            )
        ),
    ).otherwise(0.0)
    curve = curve0.select(
        "segment",
        "w",
        F.sum(ln_term).over(w_cum).alias("cum_ln"),
        F.sum("d").over(w_cum).alias("cum_events"),
    )
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in _KM_GRID_WEEKS])).alias("t_weeks")
    )
    best = (
        curve.join(F.broadcast(grid), F.col("w") <= F.col("t_weeks"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("segment", "t_weeks").orderBy(F.desc("w"))
            ),
        )
        .where("rn = 1")
    )
    return best.select(
        "segment",
        F.col("t_weeks").cast("bigint").alias("t_weeks"),
        F.col("cum_events").cast("bigint").alias("cum_events"),
        F.round(F.exp("cum_ln"), 4).alias("survival"),
    )


@query(
    "orders_rfm_migration",
    oracle="""
WITH h1 AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY o_custkey
),
h2 AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders WHERE o_orderdate >= DATE '1996-01-01' GROUP BY o_custkey
),
s1 AS (
  SELECT o_custkey,
         CAST(NTILE(5) OVER (ORDER BY cents DESC, o_custkey) AS INTEGER) AS m1
  FROM h1
),
s2 AS (
  SELECT o_custkey,
         CAST(NTILE(5) OVER (ORDER BY cents DESC, o_custkey) AS INTEGER) AS m2
  FROM h2
)
SELECT coalesce(s1.m1, 0) AS m_score_h1,
       coalesce(s2.m2, 0) AS m_score_h2,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM s1 FULL OUTER JOIN s2 ON s1.o_custkey = s2.o_custkey
GROUP BY 1, 2
""",
    tags=("analytics", "segmentation", "drift"),
)
def orders_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monetary-quintile migration matrix between the two halves of the
    order timeline (split at 1996-01-01): how customers move between
    spend quintiles, with score 0 = absent from that half (churned /
    newly acquired) — the segment-drift readout behind retention and
    win-back targeting, complementing the static customers_rfm_segmentation.

    Scale shape: each half reduces to one row per active customer before
    its NTILE window (same discipline and tie-break as the RFM operator);
    the migration matrix itself is at most 6 x 6 rows from one
    customer-keyed full-outer join."""
    v = views(spark, sf_dir)
    o = v["orders"]
    cents = F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")

    def half(pred):
        return o.where(pred).groupBy("o_custkey").agg(cents)

    cut = F.lit("1996-01-01").cast("date")
    s1 = half(F.col("o_orderdate") < cut).select(
        F.col("o_custkey").alias("ck1"),
        F.ntile(5)
        .over(W.orderBy(F.desc("cents"), F.asc("o_custkey")))
        .cast("int")
        .alias("m1"),
    )
    s2 = half(F.col("o_orderdate") >= cut).select(
        F.col("o_custkey").alias("ck2"),
        F.ntile(5)
        .over(W.orderBy(F.desc("cents"), F.asc("o_custkey")))
        .cast("int")
        .alias("m2"),
    )
    return (
        s1.join(s2, s1["ck1"] == s2["ck2"], "full_outer")
        .select(
            F.coalesce(F.col("m1"), F.lit(0)).alias("m_score_h1"),
            F.coalesce(F.col("m2"), F.lit(0)).alias("m_score_h2"),
        )
        .groupBy("m_score_h1", "m_score_h2")
        .agg(F.count("*").cast("bigint").alias("n_customers"))
    )


@query(
    "customers_rfm_segmentation",
    oracle="""
WITH rfm AS (
  SELECT o_custkey,
         date_diff('day', MAX(o_orderdate), DATE '1998-12-31') AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, recency_days, frequency, monetary_cents,
       CAST(NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS INTEGER) AS r_score,
       CAST(NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS INTEGER) AS f_score,
       CAST(NTILE(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS INTEGER) AS m_score
FROM rfm
""",
    tags=("analytics", "window", "segmentation"),
)
def customers_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic warehouse scoring pass: one aggregate per customer, then
    quintile scores per dimension.  Low r_score = recently active; high
    f/m quintile 1 = the most frequent / highest-spend customers.

    Scale shape: one key-partitioned aggregation reduces the fact table
    to one row per customer; the three NTILE windows then run over the
    customer relation (orders of magnitude smaller than the facts).
    Global ordered windows on the customer table are the accepted cost of
    exact quantile ranks; at extreme customer counts swap NTILE for
    percent_rank over range-partitioned sorts.  All three windows
    tie-break on the key, so quintile boundaries are deterministic."""
    v = views(spark, sf_dir)
    rfm = v["orders"].groupBy("o_custkey").agg(
        F.datediff(F.lit("1998-12-31").cast("date"), F.max("o_orderdate")).alias(
            "recency_days"
        ),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "monetary_cents"
        ),
    )
    return rfm.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5)
        .over(W.orderBy("recency_days", "o_custkey"))
        .cast("int")
        .alias("r_score"),
        F.ntile(5)
        .over(W.orderBy(F.desc("frequency"), F.asc("o_custkey")))
        .cast("int")
        .alias("f_score"),
        F.ntile(5)
        .over(W.orderBy(F.desc("monetary_cents"), F.asc("o_custkey")))
        .cast("int")
        .alias("m_score"),
    )


@query(
    "orders_basket_pairs",
    oracle="""
WITH lp AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
n_orders AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS total FROM lp),
part_n AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n FROM lp GROUP BY pk),
pair_n AS (
  SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
  HAVING COUNT(*) >= 2
)
SELECT p.part_a, p.part_b, p.n_ab,
       na.n AS n_a, nb.n AS n_b,
       round(CAST(p.n_ab AS DOUBLE) * t.total / (na.n * nb.n), 4) AS lift
FROM pair_n p
JOIN part_n na ON na.pk = p.part_a
JOIN part_n nb ON nb.pk = p.part_b
CROSS JOIN n_orders t
ORDER BY p.n_ab DESC, p.part_a, p.part_b
LIMIT 50
""",
    tags=("aggregate", "join", "analytics"),
)
def orders_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: which parts are co-ordered more than
    chance — support counts and lift for every part pair appearing in ≥2
    shared orders, top-50.  The frequent-itemset kernel behind
    recommendation and assortment analytics.

    Scale shape: the Apriori-on-Spark layout — one order-keyed shuffle
    builds per-order baskets (collect_set, basket-bounded arrays), pair
    expansion happens SCAN-SIDE over each ≤13-element array (never a
    self-join, never corpus²), and the basket table is localCheckpointed
    so the pair rollup, part frequencies, and order total all read it
    once instead of re-deriving the distinct three times.  Part counts
    and the one-row total are dimension-bounded and broadcast; top-50 is
    TakeOrdered, never a global sort.  Lift divides exact BIGINT counts
    once, rounded to 4dp identically in both engines."""
    v = views(spark, sf_dir)
    baskets = (
        v["lineitem"]
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.collect_set("pk").alias("parts"))
        .localCheckpoint(eager=False)
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "filter(flatten(transform(parts, x -> transform(parts, y -> "
                "struct(x AS part_a, y AS part_b)))), s -> s.part_a < s.part_b)"
            )
        ).alias("p")
    ).select(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
    pair_n = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    part_n = (
        baskets.select(F.explode("parts").alias("pk"))
        .groupBy("pk")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    n_orders = baskets.agg(F.count("*").cast("bigint").alias("total"))
    return (
        pair_n.join(
            F.broadcast(part_n.select(F.col("pk").alias("part_a"), F.col("n").alias("n_a"))),
            "part_a",
        )
        .join(
            F.broadcast(part_n.select(F.col("pk").alias("part_b"), F.col("n").alias("n_b"))),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab").cast("double") * F.col("total") / (F.col("n_a") * F.col("n_b")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_ab"), "part_a", "part_b")
        .limit(50)
    )


@query(
    "pareto_supplier_revenue",
    oracle="""
WITH sup_rev AS (
  SELECT s.s_nationkey, l.l_suppkey,
         CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
),
ranked AS (
  SELECT s_nationkey, cents,
         SUM(cents) OVER (PARTITION BY s_nationkey
                          ORDER BY cents DESC, l_suppkey
                          ROWS UNBOUNDED PRECEDING) AS running_cents,
         SUM(cents) OVER (PARTITION BY s_nationkey) AS total_cents,
         ROW_NUMBER() OVER (PARTITION BY s_nationkey
                            ORDER BY cents DESC, l_suppkey) AS rnk
  FROM sup_rev
)
SELECT s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(CASE WHEN running_cents * 5 < total_cents * 4 THEN 1 ELSE 0 END) + 1
            AS BIGINT) AS n_to_80pct,
       CAST(MAX(CASE WHEN rnk = 1 THEN cents * 10000 // total_cents END)
            AS BIGINT) AS top1_share_bp,
       CAST(MAX(total_cents) AS BIGINT) AS total_cents
FROM ranked
GROUP BY s_nationkey
""",
    tags=("window", "aggregate", "analytics"),
)
def pareto_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto/80-20) audit per nation: how many
    suppliers carry 80% of lineitem revenue, and the top supplier's share
    in basis points — the assortment-risk readout every procurement
    dashboard carries.

    The 80% cutoff is decided by the INTEGER comparison
    running*5 < total*4 (no division, no float boundary), and the top
    share is a floor-divided basis-point ratio of exact cent sums — every
    output column is a BIGINT.  The supplier rollup map-side-combines
    before its shuffle; the windows then move only one row per supplier."""
    v = views(spark, sf_dir)
    sup_rev = (
        v["lineitem"]
        .join(
            F.broadcast(v["supplier"].select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    order = [F.desc("cents"), F.asc("l_suppkey")]
    w_run = W.partitionBy("s_nationkey").orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    w_all = W.partitionBy("s_nationkey")
    ranked = sup_rev.select(
        "s_nationkey",
        "cents",
        F.sum("cents").over(w_run).alias("running_cents"),
        F.sum("cents").over(w_all).alias("total_cents"),
        F.row_number().over(W.partitionBy("s_nationkey").orderBy(*order)).alias("rnk"),
    )
    return (
        ranked.groupBy("s_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n_suppliers"),
            (
                F.sum(
                    F.when(F.col("running_cents") * 5 < F.col("total_cents") * 4, 1).otherwise(0)
                )
                + 1
            )
            .cast("bigint")
            .alias("n_to_80pct"),
            F.max(
                F.when(F.col("rnk") == 1, F.expr("cents * 10000 DIV total_cents"))
            )
            .cast("bigint")
            .alias("top1_share_bp"),
            F.max("total_cents").cast("bigint").alias("total_cents"),
        )
    )


@query(
    "orders_duplicate_payments",
    oracle="""
WITH cents AS (
  SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
),
seq AS (
  SELECT o_orderkey, o_custkey, o_orderdate, price_cents,
         LAG(o_orderdate) OVER (PARTITION BY o_custkey, price_cents
                                ORDER BY o_orderdate, o_orderkey) AS prev_date,
         LAG(o_orderkey) OVER (PARTITION BY o_custkey, price_cents
                               ORDER BY o_orderdate, o_orderkey) AS prev_key
  FROM cents
)
SELECT o_custkey, prev_key AS first_orderkey, o_orderkey AS dup_orderkey,
       price_cents,
       CAST(o_orderdate - prev_date AS BIGINT) AS gap_days
FROM seq
WHERE prev_date IS NOT NULL AND o_orderdate - prev_date <= 7
""",
    tags=("window", "analytics", "qa"),
)
def orders_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detector: same customer, same amount (exact
    cents), within 7 days — the double-charge / replayed-invoice audit
    every billing pipeline runs.  Expressed as a LAG over
    (customer, amount) so each order compares only to its predecessor in
    that group: one shuffle on the composite key, never a self-join's
    pair expansion, and hot customers degrade linearly.

    Amounts compare as exact integer cents (float equality would silently
    miss or invent duplicates) and the day gap is an exact DATE
    difference."""
    v = views(spark, sf_dir)
    cents = v["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    w = W.partitionBy("o_custkey", "price_cents").orderBy("o_orderdate", "o_orderkey")
    seq = cents.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "price_cents",
        F.lag("o_orderdate").over(w).alias("prev_date"),
        F.lag("o_orderkey").over(w).alias("prev_key"),
    )
    gap = F.datediff(F.col("o_orderdate"), F.col("prev_date"))
    return (
        seq.where(F.col("prev_date").isNotNull() & (gap <= 7))
        .select(
            "o_custkey",
            F.col("prev_key").alias("first_orderkey"),
            F.col("o_orderkey").alias("dup_orderkey"),
            "price_cents",
            gap.cast("bigint").alias("gap_days"),
        )
    )


@query(
    "orders_monthly_seasonality",
    oracle="""
WITH m AS (
  SELECT month(o_orderdate) AS mon,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY month(o_orderdate)
),
t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total_cents FROM m)
SELECT CAST(mon AS INTEGER) AS mon, n_orders, cents,
       CAST(cents * 12 * 10000 // total_cents AS BIGINT) AS seasonal_index_bp
FROM m CROSS JOIN t
""",
    tags=("aggregate", "temporal", "analytics"),
)
def orders_monthly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly seasonality index: each calendar month's revenue share
    scaled so 10000 bp = a perfectly flat year — the demand-planning
    primitive (and the detector for a data pipeline that silently dropped
    a month).  Exact integer cents and a single one-row broadcast total;
    index = cents·12·10000 / total, floor-divided."""
    v = views(spark, sf_dir)
    m = (
        v["orders"]
        .groupBy(F.month("o_orderdate").alias("mon"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
    )
    t = m.agg(F.sum("cents").cast("bigint").alias("total_cents"))
    return (
        m.crossJoin(F.broadcast(t))
        .select(
            F.col("mon").cast("int").alias("mon"),
            "n_orders",
            "cents",
            F.expr("cents * 12 * 10000 DIV total_cents").cast("bigint").alias(
                "seasonal_index_bp"
            ),
        )
    )


@query(
    "lineitem_discount_elasticity",
    oracle="""
WITH q AS (
  SELECT l_returnflag,
         CAST(round(l_discount * 100) AS BIGINT) AS x,
         CAST(round(l_quantity) AS BIGINT) AS y
  FROM lineitem
),
s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
  FROM q GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 4)
         AS discount_qty_corr
FROM s
""",
    tags=("aggregate", "analytics"),
)
def lineitem_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of discount vs quantity per return flag — the
    price-elasticity sanity check (does discounting actually move
    volume?).  The five regression sums accumulate as exact BIGINTs over
    integer-quantized inputs (discount in whole points, quantity in whole
    units), so the one-shot correlation formula runs on exact operands in
    a fixed IEEE order — the same order-free-sums-then-one-division
    discipline as text_zipf_slope, here as a grouped aggregate."""
    v = views(spark, sf_dir)
    q = v["lineitem"].select(
        "l_returnflag",
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x"),
        F.round(F.col("l_quantity")).cast("bigint").alias("y"),
    )
    s = q.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    corr = F.round(
        (F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
        / F.sqrt(
            (F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
            * (F.col("n").cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
        ),
        4,
    )
    return s.select("l_returnflag", "n", corr.alias("discount_qty_corr"))


@query(
    "orders_fulfillment_lead_time",
    oracle="""
WITH lt AS (
  SELECT o.o_orderpriority,
         CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) AS BIGINT)
           AS lead_days
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(MIN(lead_days) AS BIGINT) AS min_days,
       floor(quantile_cont(lead_days, 0.50) * 100 + 0.5) / 100 AS p50_days,
       floor(quantile_cont(lead_days, 0.95) * 100 + 0.5) / 100 AS p95_days,
       CAST(MAX(lead_days) AS BIGINT) AS max_days
FROM lt
GROUP BY o_orderpriority
""",
    tags=("aggregate", "quantile", "analytics", "join"),
)
def orders_fulfillment_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead time distribution per priority class — the
    fulfillment SLA readout (does URGENT actually ship faster, and what
    does the p95 tail look like?).  Lead time is an exact integer day
    difference; quantiles use the shared interpolated-percentile
    discipline (pure double arithmetic, floor-quantized — round()'s
    half-rule on inexact doubles is engine-dependent).

    The orders side joins broadcast (it's the smaller relation after
    column pruning at these shapes; AQE keeps the choice honest at other
    ratios) and the rollup is per-priority — five groups, map-side
    combined."""
    v = views(spark, sf_dir)
    lt = (
        v["lineitem"]
        .select("l_orderkey", F.col("l_shipdate").cast("date").alias("ship_d"))
        .join(
            v["orders"].select(
                "o_orderkey",
                "o_orderpriority",
                F.col("o_orderdate").cast("date").alias("order_d"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "o_orderpriority",
            F.datediff("ship_d", "order_d").cast("bigint").alias("lead_days"),
        )
    )
    q = lambda p: F.floor(F.percentile("lead_days", F.lit(p)) * 100 + 0.5) / 100  # noqa: E731
    return (
        lt.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.min("lead_days").cast("bigint").alias("min_days"),
            q(0.50).alias("p50_days"),
            q(0.95).alias("p95_days"),
            F.max("lead_days").cast("bigint").alias("max_days"),
        )
    )


@query(
    "revenue_yoy_growth",
    oracle="""
WITH yearly AS (
  SELECT n.n_name, year(o.o_orderdate) AS yr,
         CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name, year(o.o_orderdate)
)
SELECT n_name, CAST(yr AS INTEGER) AS yr, cents,
       CAST(LAG(cents) OVER (PARTITION BY n_name ORDER BY yr) AS BIGINT) AS prev_cents,
       CAST(CASE WHEN LAG(cents) OVER (PARTITION BY n_name ORDER BY yr) IS NULL THEN NULL
            ELSE (cents - LAG(cents) OVER (PARTITION BY n_name ORDER BY yr)) * 10000
                 // LAG(cents) OVER (PARTITION BY n_name ORDER BY yr) END AS BIGINT)
         AS yoy_growth_bp
FROM yearly
""",
    tags=("window", "aggregate", "analytics", "join"),
)
def revenue_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation in basis points — the
    board-slide metric, computed from exact discounted-cents sums with a
    floor-divided integer ratio (positive revenues, so Spark's truncating
    DIV and DuckDB's flooring // agree).  Dimension joins broadcast; one
    (nation, year) rollup feeds the LAG window on its own output."""
    v = views(spark, sf_dir)
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    yearly = (
        v["lineitem"]
        .join(v["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(v["customer"].select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(v["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    w = W.partitionBy("n_name").orderBy("yr")
    with_prev = yearly.select(
        "n_name",
        F.col("yr").cast("int").alias("yr"),
        "cents",
        F.lag("cents").over(w).cast("bigint").alias("prev_cents"),
    )
    return with_prev.select(
        "n_name",
        "yr",
        "cents",
        "prev_cents",
        F.when(F.col("prev_cents").isNull(), F.lit(None).cast("bigint"))
        .otherwise(F.expr("(cents - prev_cents) * 10000 DIV prev_cents").cast("bigint"))
        .alias("yoy_growth_bp"),
    )


@query(
    "parts_supply_risk_matrix",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
  FROM lineitem GROUP BY l_partkey
),
t AS (
  SELECT floor(quantile_cont(cents, 0.75) * 100 + 0.5) / 100 AS hi_rev,
         floor(quantile_cont(n_suppliers, 0.25) * 100 + 0.5) / 100 AS lo_sup
  FROM rev
)
SELECT CASE WHEN cents >= hi_rev AND n_suppliers <= lo_sup THEN 'a_critical'
            WHEN cents >= hi_rev THEN 'b_high_value_diversified'
            WHEN n_suppliers <= lo_sup THEN 'c_low_value_concentrated'
            ELSE 'd_stable' END AS risk_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(cents) AS BIGINT) AS cents_total
FROM rev CROSS JOIN t
GROUP BY 1
""",
    tags=("aggregate", "analytics", "quantile"),
)
def parts_supply_risk_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain risk quadrants: parts classified by revenue (top
    quartile = high value) × supplier diversity (bottom quartile = 
    concentrated).  The a_critical cell — high revenue riding on few
    suppliers — is the procurement risk register.  Thresholds are corpus
    percentiles computed once and broadcast as a one-row scalar (the
    pipeline_quality_threshold pattern); revenue is exact cents and the
    quadrant comparison uses the shared floor-quantized percentile, so
    classification can't flake."""
    v = views(spark, sf_dir)
    rev = (
        v["lineitem"]
        .groupBy("l_partkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.countDistinct("l_suppkey").cast("bigint").alias("n_suppliers"),
        )
    )
    t = rev.agg(
        (F.floor(F.percentile("cents", F.lit(0.75)) * 100 + 0.5) / 100).alias("hi_rev"),
        (F.floor(F.percentile("n_suppliers", F.lit(0.25)) * 100 + 0.5) / 100).alias(
            "lo_sup"
        ),
    )
    cls = (
        F.when(
            (F.col("cents") >= F.col("hi_rev")) & (F.col("n_suppliers") <= F.col("lo_sup")),
            "a_critical",
        )
        .when(F.col("cents") >= F.col("hi_rev"), "b_high_value_diversified")
        .when(F.col("n_suppliers") <= F.col("lo_sup"), "c_low_value_concentrated")
        .otherwise("d_stable")
    )
    return (
        rev.crossJoin(F.broadcast(t))
        .select(cls.alias("risk_class"), "cents")
        .groupBy("risk_class")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("cents").cast("bigint").alias("cents_total"),
        )
    )


@query(
    "customer_interpurchase_time",
    oracle="""
WITH seq AS (
  SELECT c.c_mktsegment,
         CAST(CAST(o.o_orderdate AS DATE)
              - LAG(CAST(o.o_orderdate AS DATE))
                OVER (PARTITION BY o.o_custkey ORDER BY o.o_orderdate, o.o_orderkey)
              AS BIGINT) AS gap_days
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
)
SELECT c_mktsegment,
       CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
       floor(quantile_cont(gap_days, 0.50) * 100 + 0.5) / 100 AS p50_days,
       floor(quantile_cont(gap_days, 0.90) * 100 + 0.5) / 100 AS p90_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_days
FROM seq
WHERE gap_days IS NOT NULL
GROUP BY c_mktsegment
""",
    tags=("window", "quantile", "analytics", "join"),
)
def customer_interpurchase_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cycle per market segment: the distribution of days
    between a customer's consecutive orders — the number that calibrates
    churn windows ("inactive" should mean ~p90 of the natural cycle, not
    a guessed 30 days).  One customer-keyed LAG window over exact DATE
    gaps, then the shared floor-quantized percentiles per segment."""
    v = views(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        v["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
        .withColumn("gap_days", F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).cast("bigint"))
        .join(
            F.broadcast(v["customer"].select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .where(F.col("gap_days").isNotNull())
    )
    q = lambda p: F.floor(F.percentile("gap_days", F.lit(p)) * 100 + 0.5) / 100  # noqa: E731
    return (
        seq.groupBy("c_mktsegment")
        .agg(
            F.count("gap_days").cast("bigint").alias("n_gaps"),
            q(0.50).alias("p50_days"),
            q(0.90).alias("p90_days"),
            F.max("gap_days").cast("bigint").alias("max_days"),
        )
    )


@query(
    "orders_customer_hhi",
    oracle="""
WITH rev AS (
  SELECT n.n_name, o.o_custkey,
         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name, o.o_custkey
),
tot AS (SELECT n_name, CAST(SUM(cents) AS BIGINT) AS total FROM rev GROUP BY n_name)
SELECT r.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM((r.cents * 10000 // t.total) * (r.cents * 10000 // t.total)) AS BIGINT)
         AS hhi_bp2
FROM rev r JOIN tot t ON t.n_name = r.n_name
GROUP BY r.n_name
""",
    tags=("aggregate", "analytics", "join"),
)
def orders_customer_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman revenue-concentration index per nation:
    Σ(customer share in bp)² — the antitrust-style concentration number
    that complements the Gini (distribution shape) and Pareto (cutoff
    count) audits; >2500²-scale values mean a nation's revenue hangs on
    a handful of accounts.  Shares floor-divide to integer basis points
    BEFORE squaring, so the index is an exact BIGINT sum — order-free by
    construction."""
    v = views(spark, sf_dir)
    rev = (
        v["orders"]
        .join(
            F.broadcast(v["customer"].select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(v["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    tot = rev.groupBy("n_name").agg(F.sum("cents").cast("bigint").alias("total"))
    share = F.expr("cents * 10000 DIV total")
    return (
        rev.join(tot, "n_name")
        .select("n_name", (share * share).alias("share_sq"))
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("share_sq").cast("bigint").alias("hhi_bp2"),
        )
    )


@query(
    "orders_quarter_end_loading",
    oracle="""
WITH q AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
         CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN CAST(date_trunc('quarter', o_orderdate) AS DATE)
                   + INTERVAL '3' MONTH - INTERVAL '7' DAY
                   <= CAST(o_orderdate AS DATE)
              THEN 1 ELSE 0 END AS in_last_week
  FROM orders
)
SELECT yr, qtr,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS cents_total,
       CAST(SUM(in_last_week * cents) AS BIGINT) AS cents_last_week,
       CAST(SUM(in_last_week * cents) * 10000 // SUM(cents) AS BIGINT)
         AS last_week_share_bp
FROM q
GROUP BY yr, qtr
""",
    tags=("aggregate", "temporal", "qa", "analytics"),
)
def orders_quarter_end_loading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter-end loading detector: the share of each quarter's revenue
    booked in its final seven days — ~770 bp is the uniform expectation,
    and a sustained excess is the classic signature of quota-driven
    deal-pulling (or a batch job that stamps orders at period close).
    Exact cents, integer basis points, calendar arithmetic on DATEs —
    one scan, one (year, quarter) rollup."""
    v = views(spark, sf_dir)
    od = F.col("o_orderdate").cast("date")
    last_week = (
        F.date_sub(F.add_months(F.date_trunc("quarter", "o_orderdate").cast("date"), 3), 7)
        <= od
    ).cast("int")
    q = v["orders"].select(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        last_week.alias("in_last_week"),
    )
    return (
        q.groupBy("yr", "qtr")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents_total"),
            F.sum(F.col("in_last_week") * F.col("cents")).cast("bigint").alias(
                "cents_last_week"
            ),
            F.expr("SUM(in_last_week * cents) * 10000 DIV SUM(cents)")
            .cast("bigint")
            .alias("last_week_share_bp"),
        )
    )


@query(
    "supplier_revenue_volatility",
    oracle="""
WITH monthly AS (
  SELECT l_suppkey, year(l_shipdate) * 100 + month(l_shipdate) AS ym,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) // 100000 AS BIGINT) AS kd
  FROM lineitem GROUP BY 1, 2
),
s AS (
  SELECT l_suppkey,
         CAST(COUNT(*) AS BIGINT) AS n_months,
         CAST(SUM(kd) AS BIGINT) AS sum_kd,
         CAST(SUM(kd * kd) AS BIGINT) AS sumsq_kd
  FROM monthly GROUP BY l_suppkey
  HAVING COUNT(*) >= 12
)
SELECT l_suppkey, n_months,
       CAST(sum_kd // n_months AS BIGINT) AS mean_month_kd,
       CAST(100 * n_months * sumsq_kd >= 125 * sum_kd * sum_kd AS INTEGER) AS volatile
FROM s
""",
    tags=("aggregate", "analytics", "qa"),
)
def supplier_revenue_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue-volatility screen: a supplier is flagged volatile
    when the coefficient of variation of its monthly revenue exceeds 0.5
    — evaluated as the pure-integer inequality
    100·n·Σc² ≥ 125·(Σc)²  (⇔ var ≥ mean²/4, the same no-division
    no-sqrt discipline as the bot-cadence detector, applied to monthly
    revenue floor-quantized to exact kilodollars so the squared sums
    stay far inside int64).  Erratic suppliers are the ones procurement
    dual-sources first.  One (supplier, month) rollup feeding a
    supplier-level moment aggregation — both map-side combined."""
    v = views(spark, sf_dir)
    monthly = (
        v["lineitem"]
        .groupBy(
            "l_suppkey",
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("ym"),
        )
        .agg(
            F.expr(
                "SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) DIV 100000"
            )
            .cast("bigint")
            .alias("kd")
        )
    )
    s = (
        monthly.groupBy("l_suppkey")
        .agg(
            F.count("*").cast("bigint").alias("n_months"),
            F.sum("kd").cast("bigint").alias("sum_kd"),
            F.sum(F.col("kd") * F.col("kd")).cast("bigint").alias("sumsq_kd"),
        )
        .where(F.col("n_months") >= 12)
    )
    return s.select(
        "l_suppkey",
        "n_months",
        F.expr("sum_kd DIV n_months").cast("bigint").alias("mean_month_kd"),
        (
            F.lit(100) * F.col("n_months") * F.col("sumsq_kd")
            >= F.lit(125) * F.col("sum_kd") * F.col("sum_kd")
        )
        .cast("int")
        .alias("volatile"),
    )


@query(
    "orders_priority_segment_contingency",
    oracle="""
WITH obs AS (
  SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
margins AS (
  SELECT segment, CAST(SUM(n_obs) AS BIGINT) AS row_n FROM obs GROUP BY segment
),
cols AS (
  SELECT priority, CAST(SUM(n_obs) AS BIGINT) AS col_n FROM obs GROUP BY priority
),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS total FROM obs)
SELECT o.segment, o.priority, o.n_obs,
       CAST(m.row_n * c.col_n * 1000 // t.total AS BIGINT) AS expected_milli,
       CAST(o.n_obs * 1000 - m.row_n * c.col_n * 1000 // t.total AS BIGINT)
         AS deviation_milli
FROM obs o
JOIN margins m ON m.segment = o.segment
JOIN cols c ON c.priority = o.priority
CROSS JOIN tot t
""",
    tags=("aggregate", "analytics", "join"),
)
def orders_priority_segment_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table with independence deviations: observed
    segment × priority order counts against the expected count under
    independence (row total × column total / grand total, floor-divided
    to exact milli-units) — the chi-square ingredients, exposed as exact
    integers so any consumer can finish the test without re-scanning.
    Large |deviation| cells mean a segment genuinely orders at different
    urgency — a real mix effect the marginal reports hide.

    One 25-cell rollup; margins and the grand total are re-aggregations
    of the cells themselves (never the fact table), broadcast back."""
    v = views(spark, sf_dir)
    obs = (
        v["orders"]
        .join(
            F.broadcast(v["customer"].select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )
    margins = obs.groupBy("segment").agg(F.sum("n_obs").cast("bigint").alias("row_n"))
    cols = obs.groupBy("priority").agg(F.sum("n_obs").cast("bigint").alias("col_n"))
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("total"))
    return (
        obs.join(F.broadcast(margins), "segment")
        .join(F.broadcast(cols), "priority")
        .crossJoin(F.broadcast(tot))
        .select(
            "segment",
            "priority",
            "n_obs",
            F.expr("row_n * col_n * 1000 DIV total").cast("bigint").alias("expected_milli"),
            F.expr("n_obs * 1000 - row_n * col_n * 1000 DIV total")
            .cast("bigint")
            .alias("deviation_milli"),
        )
    )


@query(
    "lineitem_returns_by_brand",
    oracle="""
SELECT p.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       CAST(SUM(CASE WHEN l.l_returnflag = 'R'
                     THEN CAST(round(l.l_extendedprice * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS returned_cents,
       CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) * 10000 // COUNT(*)
            AS BIGINT) AS return_bp
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
GROUP BY p.p_brand
""",
    tags=("aggregate", "analytics", "join", "qa"),
)
def lineitem_returns_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate per brand in basis points plus returned revenue — the
    merchandise-quality league table (a brand returning at 2× the fleet
    rate is a supplier-quality or listing-accuracy problem).  Broadcast
    part dimension, one brand rollup of exact integers."""
    v = views(spark, sf_dir)
    ret = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    cents = F.when(
        F.col("l_returnflag") == "R",
        F.round(F.col("l_extendedprice") * 100).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        v["lineitem"]
        .join(
            F.broadcast(v["part"].select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(ret).cast("bigint").alias("n_returned"),
            F.sum(cents).cast("bigint").alias("returned_cents"),
            F.expr(
                "SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 10000 DIV COUNT(*)"
            )
            .cast("bigint")
            .alias("return_bp"),
        )
    )


@query(
    "orders_cohort_ltv",
    oracle="""
WITH first_order AS (
  SELECT o_custkey,
         CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS cohort_month
  FROM orders GROUP BY o_custkey
),
labeled AS (
  SELECT f.cohort_month,
         CAST((extract(year FROM o.o_orderdate) - extract(year FROM f.cohort_month)) * 12
              + (extract(month FROM o.o_orderdate) - extract(month FROM f.cohort_month))
              AS BIGINT) AS cohort_age,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
),
cell AS (
  SELECT cohort_month, cohort_age, SUM(cents) AS rev_cents
  FROM labeled GROUP BY cohort_month, cohort_age
)
SELECT cohort_month, cohort_age,
       round(CAST(rev_cents AS DOUBLE) / 100, 2) AS revenue,
       round(CAST(SUM(rev_cents) OVER (PARTITION BY cohort_month
                                       ORDER BY cohort_age) AS DOUBLE) / 100, 2)
         AS cumulative_revenue
FROM cell
WHERE cohort_age <= 11
""",
    tags=("window", "analytics", "aggregate"),
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by first-order
    month, revenue accumulated by cohort age (months since first order,
    first year) — the LTV curve behind acquisition-spend decisions.
    Revenue sums in exact integer cents so the cumulative window is
    order-independent.

    Scale shape: first-order is a map-side-combined min per customer;
    the fact join is key-partitioned (customer); the triangle itself is
    |cohorts| x 12 cells, so the cumulative window runs over a bounded
    series."""
    v = views(spark, sf_dir)
    first = v["orders"].groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("cohort_month")
    )
    labeled = (
        v["orders"]
        .join(first, "o_custkey")
        .select(
            "cohort_month",
            (
                (F.year("o_orderdate") - F.year("cohort_month")) * 12
                + (F.month("o_orderdate") - F.month("cohort_month"))
            )
            .cast("bigint")
            .alias("cohort_age"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    cell = labeled.groupBy("cohort_month", "cohort_age").agg(
        F.sum("cents").alias("rev_cents")
    )
    w = W.partitionBy("cohort_month").orderBy("cohort_age")
    return (
        cell.where(F.col("cohort_age") <= 11)
        .select(
            "cohort_month",
            "cohort_age",
            F.round(F.col("rev_cents").cast("double") / 100, 2).alias("revenue"),
            F.round(
                F.sum("rev_cents").over(w).cast("double") / 100, 2
            ).alias("cumulative_revenue"),
        )
    )


@query(
    "supplier_lead_time_control_chart",
    oracle="""
WITH lt AS (
  SELECT l.l_suppkey AS suppkey,
         CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate >= o.o_orderdate
),
g AS (SELECT avg(CAST(days AS DOUBLE)) AS mu, stddev_samp(CAST(days AS DOUBLE)) AS sigma FROM lt),
s AS (
  SELECT suppkey, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(days) AS day_sum,
         CAST(MIN(days) AS BIGINT) AS min_days,
         CAST(MAX(days) AS BIGINT) AS max_days
  FROM lt GROUP BY suppkey
)
SELECT s.suppkey, s.n,
       round(CAST(s.day_sum AS DOUBLE) / s.n, 3) AS mean_days,
       s.min_days, s.max_days,
       round(g.mu, 3) AS center_line,
       round((CAST(s.day_sum AS DOUBLE) / s.n - g.mu)
             / (g.sigma / sqrt(CAST(s.n AS DOUBLE))), 2) AS z,
       CASE WHEN abs(round((CAST(s.day_sum AS DOUBLE) / s.n - g.mu)
                     / (g.sigma / sqrt(CAST(s.n AS DOUBLE))), 2)) > 3.0
            THEN 1 ELSE 0 END AS out_of_control
FROM s, g
WHERE s.n >= 30
""",
    tags=("aggregate", "analytics", "anomaly"),
)
def supplier_lead_time_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPC control chart over supplier shipping lead times: each
    supplier's mean lead time z-tested against the process center line
    (global mean, sigma/sqrt(n) limits) — out-of-control suppliers are
    the ones to call.  Lead times are exact integer days; per-supplier
    means divide an exact BIGINT day sum so both engines feed identical
    doubles to the z computation.

    Scale shape: one fact-fact key join (orderkey), then a supplier
    rollup and a broadcast 2-double global stat."""
    v = views(spark, sf_dir)
    lt = (
        v["lineitem"]
        .join(v["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.datediff("l_shipdate", "o_orderdate").cast("bigint").alias("days"),
        )
    )
    g = lt.agg(
        F.avg(F.col("days").cast("double")).alias("mu"),
        F.stddev_samp(F.col("days").cast("double")).alias("sigma"),
    )
    s = lt.groupBy("suppkey").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("days").alias("day_sum"),
        F.min("days").cast("bigint").alias("min_days"),
        F.max("days").cast("bigint").alias("max_days"),
    )
    mean_days = F.col("day_sum").cast("double") / F.col("n")
    z = F.round(
        (mean_days - F.col("mu"))
        / (F.col("sigma") / F.sqrt(F.col("n").cast("double"))),
        2,
    )
    return (
        s.crossJoin(F.broadcast(g))
        .where(F.col("n") >= 30)
        .select(
            "suppkey",
            "n",
            F.round(mean_days, 3).alias("mean_days"),
            "min_days",
            "max_days",
            F.round("mu", 3).alias("center_line"),
            z.alias("z"),
            F.when(F.abs(z) > 3.0, 1).otherwise(0).alias("out_of_control"),
        )
    )


@query(
    "orders_weekday_effect_ftest",
    oracle="""
WITH d AS (
  SELECT CAST(extract(dow FROM o_orderdate) AS INTEGER) AS dow,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
g AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(cents) AS s, SUM(CAST(cents AS HUGEINT) * cents) AS ss
  FROM d GROUP BY dow
),
t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_total, SUM(s) AS s_total,
         CAST(COUNT(*) AS BIGINT) AS k,
         SUM(CAST(s AS DOUBLE) * s / n) AS sum_group_means
  FROM g
),
parts AS (
  SELECT t.k, t.n_total,
         t.sum_group_means - CAST(t.s_total AS DOUBLE) * t.s_total / t.n_total
           AS ss_between,
         (SELECT SUM(CAST(ss AS DOUBLE)) FROM g)
           - t.sum_group_means AS ss_within
  FROM t
)
SELECT CAST(k AS BIGINT) AS n_groups, n_total,
       round(ss_between / (k - 1) / (ss_within / (n_total - k)), 4) AS f_stat,
       CASE WHEN ss_between / (k - 1) / (ss_within / (n_total - k)) > 2.01
            THEN 1 ELSE 0 END AS weekday_effect
FROM parts
""",
    tags=("aggregate", "analytics"),
)
def orders_weekday_effect_ftest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-statistic for a day-of-week effect on order value
    — the seasonality-significance screen run before anyone builds
    per-weekday pricing.  All sums accumulate in exact integer cents
    (sum and sum-of-squares per group), so both engines assemble the F
    ratio from identical integers and round once.

    Scale shape: one map-side-combined 7-group rollup; everything after
    is arithmetic on 7 rows."""
    v = views(spark, sf_dir)
    d = v["orders"].select(
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    g = d.groupBy("dow").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").alias("s"),
        # cents^2 sums overflow BIGINT at sf0.1; decimal(38,0) keeps the
        # accumulation exact (DuckDB side uses HUGEINT)
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("ss"),
    )
    t = g.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum("s").alias("s_total"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.col("s").cast("double") * F.col("s") / F.col("n")).alias(
            "sum_group_means"
        ),
        F.sum(F.col("ss")).cast("double").alias("ss_all"),
    )
    ss_between = (
        F.col("sum_group_means")
        - F.col("s_total").cast("double") * F.col("s_total") / F.col("n_total")
    )
    ss_within = F.col("ss_all") - F.col("sum_group_means")
    f_stat = (ss_between / (F.col("k") - 1)) / (
        ss_within / (F.col("n_total") - F.col("k"))
    )
    return t.select(
        F.col("k").cast("bigint").alias("n_groups"),
        "n_total",
        F.round(f_stat, 4).alias("f_stat"),
        F.when(f_stat > 2.01, 1).otherwise(0).alias("weekday_effect"),
    )


@query(
    "nation_revenue_rank_shift",
    oracle="""
WITH r AS (
  SELECT n.n_name AS nation,
         CAST(extract(year FROM o.o_orderdate) AS INTEGER) AS yr,
         SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS rev_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, yr
),
ranked AS (
  SELECT nation, yr, rev_cents,
         CAST(rank() OVER (PARTITION BY yr
                           ORDER BY rev_cents DESC, nation) AS BIGINT) AS rnk
  FROM r
)
SELECT nation, yr, round(CAST(rev_cents AS DOUBLE) / 100, 2) AS revenue,
       rnk,
       CAST(lag(rnk) OVER (PARTITION BY nation ORDER BY yr) - rnk AS BIGINT)
         AS rank_gain
FROM ranked
""",
    tags=("window", "join", "analytics"),
)
def nation_revenue_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year league table of nations by customer revenue with
    each nation's rank change — the market-movement view (who is
    climbing, who is sliding).  Revenue in exact integer cents; rank
    ties break by name so both engines agree.

    Scale shape: the fact join broadcasts the nation dim; the rollup is
    |nations|x|years| rows, and both windows run on that bounded grid."""
    v = views(spark, sf_dir)
    r = (
        v["orders"]
        .join(v["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(v["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "rev_cents"
            )
        )
    )
    ranked = r.select(
        "nation",
        "yr",
        "rev_cents",
        F.rank()
        .over(W.partitionBy("yr").orderBy(F.desc("rev_cents"), F.asc("nation")))
        .cast("bigint")
        .alias("rnk"),
    )
    return (
        ranked.select(
            "nation",
            "yr",
            F.round(F.col("rev_cents").cast("double") / 100, 2).alias("revenue"),
            "rnk",
            (
                F.lag("rnk").over(W.partitionBy("nation").orderBy("yr")) - F.col("rnk")
            )
            .cast("bigint")
            .alias("rank_gain"),
        )
    )


@query(
    "orders_open_order_aging",
    oracle="""
WITH now_ref AS (SELECT MAX(o_orderdate) AS ref FROM orders),
open_orders AS (
  SELECT o.o_orderkey, o.o_orderpriority,
         CAST(date_diff('day', o.o_orderdate, r.ref) AS BIGINT) AS age_days
  FROM orders o CROSS JOIN now_ref r
  WHERE o.o_orderstatus = 'O'
)
SELECT o_orderpriority,
       CASE WHEN age_days < 30 THEN '0-29'
            WHEN age_days < 90 THEN '30-89'
            WHEN age_days < 365 THEN '90-364'
            ELSE '365+' END AS age_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(o_orderkey) AS BIGINT) AS oldest_example
FROM open_orders
GROUP BY o_orderpriority, age_bucket
""",
    tags=("aggregate", "analytics"),
)
def orders_open_order_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging report: unfulfilled ('O') orders bucketed by age
    against the dataset's reference date, per priority — the backlog
    triage view (an URGENT order aging past a year is a process failure,
    not a queue).  Integer day arithmetic against a broadcast one-row
    reference keeps the buckets exact.

    Scale shape: scan-side filter + bucket, one broadcast scalar, one
    bounded rollup."""
    v = views(spark, sf_dir)
    ref = v["orders"].agg(F.max("o_orderdate").alias("ref"))
    age = F.datediff(F.col("ref"), F.col("o_orderdate")).cast("bigint")
    bucket = (
        F.when(age < 30, "0-29")
        .when(age < 90, "30-89")
        .when(age < 365, "90-364")
        .otherwise("365+")
    )
    return (
        v["orders"]
        .where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(ref))
        .groupBy("o_orderpriority", bucket.alias("age_bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.min("o_orderkey").cast("bigint").alias("oldest_example"),
        )
    )
