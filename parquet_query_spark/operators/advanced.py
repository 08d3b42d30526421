"""Advanced aggregate/window/array coverage (SURVEY §2.C long tail).

Statistical moments, arg-min/max, ordered string aggregation, exact and
weighted median, higher-order array functions, n-gram frequency top-k,
HAVING, value-window functions, distribution ranks, batch sliding windows
and rolling medians; column, correlation and value-histogram profiles,
data-quality rule sweeps, and mergeable bottom-k sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parquet_query_spark.operators.catalog import query, views


@query(
    "agg_stats_moments",
    oracle="""
SELECT l_returnflag,
       round(stddev_samp(l_extendedprice), 4) AS price_stddev,
       round(var_samp(l_quantity), 4)         AS qty_var,
       round(corr(l_quantity, l_extendedprice), 6)       AS qty_price_corr,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("aggregate", "stats"),
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics — single-pass, mergeable partial state."""
    v = views(spark, sf_dir)
    return (
        v["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
            F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_covar"),
        )
    )


@query(
    "agg_argminmax",
    oracle="""
SELECT o_orderstatus,
       max_by(o_custkey, o_orderkey) AS latest_cust,
       min_by(o_custkey, o_orderkey) AS first_cust,
       max(o_orderkey)               AS max_orderkey
FROM orders
GROUP BY o_orderstatus
""",
    tags=("aggregate",),
)
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-min/max with a UNIQUE ordering value (o_orderkey) — ties under
    max_by are engine-defined, so the ordering key must be total."""
    v = views(spark, sf_dir)
    return (
        v["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.max_by("o_custkey", "o_orderkey").alias("latest_cust"),
            F.min_by("o_custkey", "o_orderkey").alias("first_cust"),
            F.max("o_orderkey").alias("max_orderkey"),
        )
    )


@query(
    "agg_ordered_string_agg",
    oracle="""
SELECT c_mktsegment,
       string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY c_mktsegment
""",
    tags=("aggregate",),
)
def agg_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered distinct string aggregation — collect_set → array_sort →
    array_join keeps the merge associative (safe under partial agg),
    equivalent to DuckDB's ordered string_agg."""
    v = views(spark, sf_dir)
    return (
        v["customer"]
        .join(F.broadcast(v["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nations")
        )
    )


@query(
    "agg_exact_median",
    oracle="""
SELECT o_orderstatus,
       floor(median(o_totalprice) * 10000 + 0.5) / 10000          AS median_price,
       floor(quantile_cont(o_totalprice, 0.25) * 10000 + 0.5) / 10000 AS p25,
       floor(quantile_cont(o_totalprice, 0.75) * 10000 + 0.5) / 10000 AS p75
FROM orders
GROUP BY o_orderstatus
""",
    tags=("aggregate", "stats"),
)
def agg_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median/quartiles (continuous interpolation).  Exact percentiles
    buffer the group — at 100 TB prefer `percentile_approx` (see
    agg_approx_distinct); this is the small-group/exactness path."""
    v = views(spark, sf_dir)
    return (
        v["orders"]
        .groupBy("o_orderstatus")
        .agg(
            # floor(x*1e4+0.5)/1e4, not round(): interpolated medians land
            # on exact .5 boundaries where round()'s half-rule diverges
            (F.floor(F.median("o_totalprice") * 10000 + 0.5) / 10000).alias("median_price"),
            (F.floor(F.percentile("o_totalprice", F.lit(0.25)) * 10000 + 0.5) / 10000).alias("p25"),
            (F.floor(F.percentile("o_totalprice", F.lit(0.75)) * 10000 + 0.5) / 10000).alias("p75"),
        )
    )


@query(
    "array_higher_order_functions",
    oracle="""
SELECT vec_id,
       len(list_filter(embedding, x -> x > 0))                          AS n_positive,
       CASE WHEN len(list_filter(embedding, x -> x > 2.0)) > 0
            THEN true ELSE false END                                     AS any_gt2,
       array_to_string(list_transform(embedding[1:3],
           x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS VARCHAR)),
           ',')                                                          AS head3,
       round(CAST(list_sum(list_transform(embedding, x -> CASE WHEN x > 0
             THEN CAST(x AS DOUBLE) ELSE 0.0 END)) AS DOUBLE), 4)        AS pos_sum
FROM embeddings
""",
    tags=("array", "scalar"),
)
def array_higher_order_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter/exists/slice/transform/aggregate — the lambda-expression
    family, all evaluated inside codegen (no Python)."""
    v = views(spark, sf_dir)
    return (
        v["embeddings"]
        .select(
            "vec_id",
            F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
            F.exists("embedding", lambda x: x > 2.0).alias("any_gt2"),
            # stringified (scaled-int) form: array-typed output columns crash
            # the driver's row canonicalizer, so render "12345,-678,9" instead
            F.concat_ws(
                ",",
                F.transform(
                    F.slice("embedding", 1, 3),
                    lambda x: F.floor(x.cast("double") * 10000 + 0.5)
                    .cast("bigint")
                    .cast("string"),
                ),
            ).alias("head3"),
            F.round(
                F.aggregate(
                    "embedding",
                    F.lit(0.0),
                    lambda acc, x: acc + F.when(x > 0, x.cast("double")).otherwise(0.0),
                ),
                4,
            ).alias("pos_sum"),
        )
    )


@query(
    "text_ngram_topk",
    oracle="""
SELECT token, COUNT(*) AS freq
FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents) t
GROUP BY token
ORDER BY freq DESC, token
LIMIT 50
""",
    tags=("text", "topk"),
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency top-k: explode → partial-agg count → top-k.
    The map-side partial aggregation collapses each partition to its
    vocabulary before the shuffle — the only scalable shape for 100 TB."""
    v = views(spark, sf_dir)
    return (
        v["documents"]
        .select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(50)
    )


@query(
    "agg_having",
    oracle="""
SELECT o_custkey, COUNT(*) AS n_orders, round(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 15 AND SUM(o_totalprice) > 3000000
""",
    tags=("aggregate",),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING — post-aggregation predicate."""
    return spark.sql(
        """
        SELECT o_custkey, COUNT(*) AS n_orders, round(SUM(o_totalprice), 2) AS total
        FROM {orders}
        GROUP BY o_custkey
        HAVING COUNT(*) >= 15 AND SUM(o_totalprice) > 3000000
        """,
        **views(spark, sf_dir),
    )


@query(
    "window_first_last_value",
    oracle="""
SELECT o_custkey, o_orderkey,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order,
       nth_value(o_orderkey, 2) OVER w AS second_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    tags=("window",),
)
def window_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value windows — last_value needs the full-frame
    spelling (the default frame ends at CURRENT ROW in both engines)."""
    v = views(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        v["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            F.first("o_orderkey").over(w).alias("first_order"),
            F.last("o_orderkey").over(w_full).alias("last_order"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
        )
    )


@query(
    "window_distribution_ranks",
    oracle="""
SELECT o_orderkey, o_orderstatus,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6)    AS cume,
       dense_rank() OVER w             AS drank
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice)
""",
    tags=("window",),
)
def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist/dense_rank — tie-stable (equal values share a
    rank), so no artificial tie-break is needed."""
    v = views(spark, sf_dir)
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice")
    return (
        v["orders"]
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.dense_rank().over(w).alias("drank"),
        )
    )


@query(
    "events_sliding_window_counts",
    oracle="""
WITH assigned AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL '1' HOUR AS window_start, event_type FROM events
)
SELECT window_start, event_type, COUNT(*) AS n
FROM assigned
GROUP BY window_start, event_type
""",
    tags=("events", "window"),
)
def events_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h length, 1h slide) in batch via ``window()`` — each
    event lands in exactly two windows; the oracle materializes the same
    assignment with a UNION ALL of the two hour-truncations."""
    v = views(spark, sf_dir)
    return (
        v["events"]
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )


@query(
    "agg_grouping_sets",
    oracle="""
SELECT c_mktsegment, n_name,
       GROUPING(c_mktsegment) AS g_seg, GROUPING(n_name) AS g_nat,
       COUNT(*) AS n_customers, round(SUM(c_acctbal), 2) AS total_balance
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((c_mktsegment, n_name), (c_mktsegment), (n_name), ())
""",
    tags=("aggregate", "groupingsets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond ROLLUP/CUBE): four chosen granularities
    in one shuffle; GROUPING() disambiguates real NULL keys from subtotal
    rows — identical SQL both dialects."""
    return spark.sql(
        """
        SELECT c_mktsegment, n_name,
               GROUPING(c_mktsegment) AS g_seg, GROUPING(n_name) AS g_nat,
               COUNT(*) AS n_customers, round(SUM(c_acctbal), 2) AS total_balance
        FROM {customer} JOIN {nation} ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((c_mktsegment, n_name), (c_mktsegment), (n_name), ())
        """,
        **views(spark, sf_dir),
    )


@query(
    "agg_exact_quantiles",
    oracle="""
SELECT l_returnflag,
       floor(quantile_cont(l_extendedprice, 0.25) * 100 + 0.5) / 100 AS p25,
       floor(quantile_cont(l_extendedprice, 0.50) * 100 + 0.5) / 100 AS p50,
       floor(quantile_cont(l_extendedprice, 0.75) * 100 + 0.5) / 100 AS p75,
       floor(quantile_cont(l_extendedprice, 0.95) * 100 + 0.5) / 100 AS p95
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("aggregate", "quantile"),
)
def agg_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-quantile per group (`percentile` = linear interpolation,
    same definition as DuckDB's quantile_cont).  For 100 TB you'd flip to
    `approx_percentile` (t-digest-style mergeable sketch, no full sort) —
    exposed as the weak-oracle `agg_approx_quantiles`."""
    li = views(spark, sf_dir)["lineitem"]
    # floor(x*100+0.5)/100 instead of round(): both engines produce the SAME
    # interpolated double, but round()'s half-rule on inexact doubles is
    # engine-dependent (even-count medians land on exact half-cents);
    # pure double arithmetic is identical on identical inputs
    q = lambda p: F.floor(F.percentile("l_extendedprice", F.lit(p)) * 100 + 0.5) / 100  # noqa: E731
    return (
        li.groupBy("l_returnflag")
        .agg(
            q(0.25).alias("p25"),
            q(0.50).alias("p50"),
            q(0.75).alias("p75"),
            q(0.95).alias("p95"),
        )
    )


@query(
    "agg_approx_quantiles",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       (abs(approx_quantile(l_extendedprice, 0.25)
            - quantile_cont(l_extendedprice, 0.25))
          <= 0.05 * quantile_cont(l_extendedprice, 0.25))::INTEGER AS ap25_within_5pct,
       (abs(approx_quantile(l_extendedprice, 0.50)
            - quantile_cont(l_extendedprice, 0.50))
          <= 0.05 * quantile_cont(l_extendedprice, 0.50))::INTEGER AS ap50_within_5pct,
       (abs(approx_quantile(l_extendedprice, 0.75)
            - quantile_cont(l_extendedprice, 0.75))
          <= 0.05 * quantile_cont(l_extendedprice, 0.75))::INTEGER AS ap75_within_5pct,
       (abs(approx_quantile(l_extendedprice, 0.95)
            - quantile_cont(l_extendedprice, 0.95))
          <= 0.05 * quantile_cont(l_extendedprice, 0.95))::INTEGER AS ap95_within_5pct
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("aggregate", "quantile", "approx"),
)
def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles (`approx_percentile`) — the mergeable,
    single-pass form that replaces the exact sort at cluster scale.

    Sketch outputs are engine-specific, so the verifiable column is a
    per-quantile tolerance flag: each engine checks its own sketch against
    its own exact quantile (both deterministic on fixed input) and emits 1
    — hash-matchable across engines while still running the real sketch.
    Note each approx_percentile call builds its own independent sketch
    (four sketches per group, not one probed 4×); the array form would
    share one, but array outputs crash the driver canonicalizer."""
    li = views(spark, sf_dir)["lineitem"]

    def flag(p: float, name: str) -> F.Column:
        exact = F.percentile("l_extendedprice", F.lit(p))
        approx = F.approx_percentile("l_extendedprice", F.lit(p))
        return (F.abs(approx - exact) <= 0.05 * exact).cast("int").alias(name)

    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            flag(0.25, "ap25_within_5pct"),
            flag(0.50, "ap50_within_5pct"),
            flag(0.75, "ap75_within_5pct"),
            flag(0.95, "ap95_within_5pct"),
        )
    )


@query(
    "window_range_frame_weekly_revenue",
    oracle="""
SELECT o_custkey, o_orderkey, day_no,
       round(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY day_no
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS rev_7d
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             datediff('day', DATE '1995-01-01', o_orderdate) AS day_no
      FROM orders)
""",
    tags=("window", "rangeframe"),
)
def window_range_frame_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (value-based, not row-based): trailing-7-day
    revenue per customer.  Day numbers make the frame numeric so the exact
    same frame definition runs on both engines."""

    o = views(spark, sf_dir)["orders"].withColumn(
        "day_no", F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    )
    w = W.partitionBy("o_custkey").orderBy("day_no").rangeBetween(-6, W.currentRow)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "day_no",
            F.round(F.sum("o_totalprice").over(w), 2).alias("rev_7d"),
        )
    )


@query(
    "array_functions2",
    oracle="""
SELECT r_regionkey,
       array_to_string([r_regionkey, r_regionkey * 2, r_regionkey * 3], ',') AS triples,
       array_to_string(list_slice([10, 20, 30, 40, 50], 2, 4), ',')          AS mid,
       list_position([5, 1, 4, 1], 1)                                        AS first_one,
       array_to_string(list_sort([3, 1, 2], 'DESC'), ',')                    AS sorted_desc,
       array_to_string(flatten([[1, 2], [3], []]), ',')                      AS flat,
       list_contains([1, 2, 3], r_regionkey)                                 AS has_key,
       array_to_string([r_regionkey, 9], '-')                                AS joined,
       array_to_string(range(1, r_regionkey + 2), ',')                       AS upto
FROM region
""",
    tags=("scalar", "nested"),
)
def array_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function sweep beyond the higher-order basics: construction,
    slice, position, sort, flatten, contains, join, sequence.  Name deltas
    live in the oracle (DuckDB ``list_*``; DuckDB ``range`` is
    end-exclusive vs Spark ``sequence`` inclusive, adjusted by bounds)."""
    v = views(spark, sf_dir)
    return (
        v["region"]
        .select(
            "r_regionkey",
            # integer arrays rendered "a,b,c" — array-typed output columns
            # crash the driver canonicalizer; int→string is engine-identical
            F.array_join(
                F.array(
                    F.col("r_regionkey"),
                    F.col("r_regionkey") * 2,
                    F.col("r_regionkey") * 3,
                ),
                ",",
            ).alias("triples"),
            F.array_join(
                F.slice(F.array(*[F.lit(x) for x in (10, 20, 30, 40, 50)]), 2, 3), ","
            ).alias("mid"),
            F.array_position(F.array(F.lit(5), F.lit(1), F.lit(4), F.lit(1)), 1).alias("first_one"),
            F.array_join(
                F.sort_array(F.array(F.lit(3), F.lit(1), F.lit(2)), asc=False), ","
            ).alias("sorted_desc"),
            F.array_join(
                F.flatten(
                    F.array(
                        F.array(F.lit(1), F.lit(2)),
                        F.array(F.lit(3)),
                        F.array().cast("array<int>"),
                    )
                ),
                ",",
            ).alias("flat"),
            F.array_contains(F.array(F.lit(1), F.lit(2), F.lit(3)), F.col("r_regionkey")).alias("has_key"),
            F.array_join(F.array(F.col("r_regionkey"), F.lit(9)), "-").alias("joined"),
            F.array_join(F.sequence(F.lit(1), F.col("r_regionkey") + 1), ",").alias("upto"),
        )
    )


@query(
    "scalar_bitwise_functions",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderkey & 255 AS BIGINT)  AS and_mask,
       CAST(o_orderkey | 4096 AS BIGINT) AS or_flag,
       CAST(xor(o_orderkey, 21845) AS BIGINT) AS xor_pat,
       CAST(o_orderkey << 3 AS BIGINT)   AS shl3,
       CAST(o_orderkey >> 2 AS BIGINT)   AS shr2,
       CAST(bit_count(o_orderkey) AS INTEGER) AS popcount
FROM orders
WHERE o_orderkey < 200
""",
    tags=("scalar",),
)
def scalar_bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar surface: AND/OR/XOR masks, shifts, popcount — the
    primitives under every hash/bitmap/bloom construction in the catalog,
    exercised directly as a scalar sweep (the delegated-SQL tier a
    workbench user reaches with bit tricks).  Pure codegen scan."""
    v = views(spark, sf_dir)
    k = F.col("o_orderkey")
    return (
        v["orders"]
        .where(k < 200)
        .select(
            "o_orderkey",
            k.bitwiseAND(F.lit(255)).cast("bigint").alias("and_mask"),
            k.bitwiseOR(F.lit(4096)).cast("bigint").alias("or_flag"),
            k.bitwiseXOR(F.lit(21845)).cast("bigint").alias("xor_pat"),
            F.expr("shiftleft(o_orderkey, 3)").cast("bigint").alias("shl3"),
            F.expr("shiftright(o_orderkey, 2)").cast("bigint").alias("shr2"),
            F.expr("bit_count(o_orderkey)").cast("int").alias("popcount"),
        )
    )


@query(
    "scalar_datetime_functions",
    oracle="""
SELECT o_orderkey,
       CAST(date_trunc('quarter', o_orderdate) AS DATE)      AS quarter_start,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE)     AS month_end,
       CAST(extract(quarter FROM o_orderdate) AS INTEGER)    AS q,
       CAST(extract(dow FROM o_orderdate) AS INTEGER)        AS dow_sun0,
       CAST(extract(doy FROM o_orderdate) AS INTEGER)        AS doy,
       CAST(o_orderdate + INTERVAL 45 DAY AS DATE)           AS plus45,
       CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT)
                                                             AS days_since_95,
       strftime(o_orderdate, '%Y-%m')                        AS ym
FROM orders
WHERE o_orderkey <= 2000
""",
    tags=("scalar", "temporal"),
)
def scalar_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar-function parity sweep (the date twin of the
    string/bitwise sweeps): quarter truncation, month end, quarter/
    day-of-week/day-of-year extraction, interval arithmetic, day diffs,
    and formatting.  DOW is normalized to DuckDB's Sunday=0 convention
    (Spark's dayofweek is Sunday=1)."""
    v = views(spark, sf_dir)
    d = F.col("o_orderdate")
    return (
        v["orders"]
        .where(F.col("o_orderkey") <= 2000)
        .select(
            "o_orderkey",
            F.date_trunc("quarter", d).cast("date").alias("quarter_start"),
            F.last_day(d).alias("month_end"),
            F.quarter(d).cast("int").alias("q"),
            (F.dayofweek(d) - 1).cast("int").alias("dow_sun0"),
            F.dayofyear(d).cast("int").alias("doy"),
            F.date_add(d.cast("date"), 45).alias("plus45"),
            F.datediff(d, F.lit("1995-01-01")).cast("bigint").alias("days_since_95"),
            F.date_format(d, "yyyy-MM").alias("ym"),
        )
    )


@query(
    "agg_exact_mode_per_group",
    oracle="""
WITH c AS (
  SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY o_orderpriority, o_orderstatus
)
SELECT o_orderpriority,
       arg_max(o_orderstatus,
               lpad(CAST(n AS VARCHAR), 12, '0') || '|' || o_orderstatus)
         AS mode_status,
       CAST(MAX(n) AS BIGINT) AS mode_n,
       CAST(SUM(n) AS BIGINT) AS total_n
FROM c
GROUP BY o_orderpriority
""",
    tags=("aggregate",),
)
def agg_exact_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group statistical mode with a total tie-break (highest
    count, then highest value — one zero-padded count||value max_by key,
    so both engines agree bit-for-bit).  Spark has no mode() aggregate;
    the two-level rollup IS the scalable formulation — the value-count
    layer map-side combines, and the argmax layer runs on
    |groups|x|values| rows."""
    v = views(spark, sf_dir)
    c = v["orders"].groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return (
        c.groupBy("o_orderpriority")
        .agg(
            F.expr(
                "max_by(o_orderstatus, concat_ws('|', lpad(CAST(n AS STRING), 12, '0'), o_orderstatus))"
            ).alias("mode_status"),
            F.max("n").cast("bigint").alias("mode_n"),
            F.sum("n").cast("bigint").alias("total_n"),
        )
    )


@query(
    "agg_weighted_median",
    oracle="""
WITH pp AS (  -- collapse ties first so the cumsum is deterministic
  SELECT l_returnflag AS flag, l_extendedprice AS price,
         SUM(l_quantity) AS w
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT flag, price, w,
         SUM(w) OVER (PARTITION BY flag ORDER BY price) AS cw,
         SUM(w) OVER (PARTITION BY flag) AS tw
  FROM pp
)
SELECT flag, round(MIN(price), 2) AS weighted_median,
       CAST(MIN(tw) AS BIGINT) AS total_weight
FROM cum WHERE cw >= tw / 2
GROUP BY flag
""",
    tags=("agg",),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (price weighted by quantity) per return flag.

    Exactness: quantities are integral doubles, so every SUM here is
    exact in float64 regardless of reduction order — no decimal needed.
    Ties collapse in a pre-aggregation so the running sum is a function
    of (flag, price), not of row order.  The per-flag window sorts only
    the collapsed (flag, price) domain."""
    v = views(spark, sf_dir)
    pp = v["lineitem"].groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
    ).agg(F.sum("l_quantity").alias("w"))
    wc = W.partitionBy("flag").orderBy("price")
    wt = W.partitionBy("flag")
    cum = pp.select(
        "flag",
        "price",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    return (
        cum.where(F.col("cw") >= F.col("tw") / 2)
        .groupBy("flag")
        .agg(
            F.round(F.min("price"), 2).alias("weighted_median"),
            F.min("tw").cast("bigint").alias("total_weight"),
        )
    )


# Pearson r is scale-invariant, so each measure is quantized to integer
# units first (quantity is integral; price → cents; discount/tax → bp).
# Every co-moment sum then accumulates in BIGINT — exact and
# reduction-order-independent — EXCEPT Σprice_cents² which exceeds int64
# range at sf0.1 volumes (playbook: cents² overflows BIGINT) and uses
# decimal(38,0)/HUGEINT.  One decimal aggregate instead of twelve: the
# all-decimal first cut measured 14.0 s at 8× vs 0.57 s at sf0.1 —
# Spark's decimal sum is the non-vectorized path; this version is
# integer-vectorized except the single unavoidable column.
# SQL-string expressions valid in BOTH dialects; the Spark side wraps
# them in F.expr lazily (building Columns at module import would require
# an active SparkContext before the catalog ever runs).
_CORR_COLS = {
    "qty": "CAST(l_quantity AS BIGINT)",
    "price": "CAST(round(l_extendedprice * 100) AS BIGINT)",
    "disc": "CAST(round(l_discount * 100) AS BIGINT)",
    "tax": "CAST(round(l_tax * 100) AS BIGINT)",
}


_CORR_PAIRS = [("qty", "price"), ("qty", "disc"), ("price", "tax"), ("disc", "tax")]


# the one square that overflows int64 at scale
_DECIMAL_SQUARES = {"price"}


def _corr_formula_sql(x: str, y: str) -> str:
    def sq(c):
        e = f"{_CORR_COLS[c]} * {_CORR_COLS[c]}"
        if c in _DECIMAL_SQUARES:
            return f"CAST(SUM(CAST({e} AS DECIMAL(38,0))) AS DOUBLE)"
        return f"CAST(SUM({e}) AS DOUBLE)"

    xs, ys = _CORR_COLS[x], _CORR_COLS[y]
    return f"""round(
      (count(*)::DOUBLE * CAST(SUM({xs} * {ys}) AS DOUBLE)
        - CAST(SUM({xs}) AS DOUBLE) * CAST(SUM({ys}) AS DOUBLE))
      / sqrt(
          (count(*)::DOUBLE * {sq(x)}
            - CAST(SUM({xs}) AS DOUBLE) * CAST(SUM({xs}) AS DOUBLE))
          * (count(*)::DOUBLE * {sq(y)}
            - CAST(SUM({ys}) AS DOUBLE) * CAST(SUM({ys}) AS DOUBLE))), 6)"""


def _corr_formula(x: str, y: str):
    def sq(c):
        e = F.expr(_CORR_COLS[c]) * F.expr(_CORR_COLS[c])
        if c in _DECIMAL_SQUARES:
            return F.sum(e.cast("decimal(38,0)")).cast("double")
        return F.sum(e).cast("double")

    xc, yc = F.expr(_CORR_COLS[x]), F.expr(_CORR_COLS[y])
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum(xc).cast("double"), F.sum(yc).cast("double")
    sxy = F.sum(xc * yc).cast("double")
    return F.round(
        (n * sxy - sx * sy) / F.sqrt((n * sq(x) - sx * sx) * (n * sq(y) - sy * sy)),
        6,
    )


@query(
    "profile_numeric_correlations",
    oracle="SELECT "
    + ", ".join(
        f"{_corr_formula_sql(x, y)} AS corr_{x}_{y}" for x, y in _CORR_PAIRS
    )
    + " FROM lineitem",
    tags=("profile", "agg"),
)
def profile_numeric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass pairwise Pearson correlation profile of the lineitem
    measures.  Integer-quantized co-moment sums (exact, order-free)
    instead of the built-in corr() — float corr drifts in the last
    digits under parallel reduction; these sums cannot.  The final
    ratio mirrors the oracle's expression shape exactly, so both
    engines run the identical IEEE operation sequence.  Single
    aggregation, no shuffle beyond the 1-row reduce."""
    v = views(spark, sf_dir)
    return v["lineitem"].agg(
        *[_corr_formula(x, y).alias(f"corr_{x}_{y}") for x, y in _CORR_PAIRS]
    )


def _bottom_k_oracle() -> str:
    from parquet_query_spark.functions.xxh64_sql import MASK56, hash_long_sql

    h = hash_long_sql("o_orderkey")
    return f"""
WITH keyed AS (
  SELECT o_orderkey, CAST(({h}) & {MASK56} AS BIGINT) AS draw
  FROM orders
)
SELECT CAST(row_number() OVER (ORDER BY draw) AS BIGINT) AS sample_rank,
       o_orderkey, draw
FROM keyed
ORDER BY draw
LIMIT 100
"""


@query(
    "sample_bottom_k_mergeable",
    oracle=_bottom_k_oracle(),
    tags=("sample",),
)
def sample_bottom_k_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable uniform sample: bottom-k by xxhash64 key.

    The classic distributed sampling trick — each partition keeps its k
    smallest hash draws, merging keeps the k smallest of the union, and
    the result is a uniform k-sample of the whole dataset that is (a)
    identical regardless of partitioning/arrival order and (b) unions
    correctly across shards/days (sample(A ∪ B) = bottom_k(sample(A) ∪
    sample(B))).  Spark plans the orderBy+limit as TakeOrdered — exactly
    the per-partition top-k + merge, no global sort.  Oracle reproduces
    Spark's xxhash64 bit-for-bit in pure SQL (functions/xxh64_sql.py);
    both sides mask to 56 bits where u64/i64 agree."""
    from parquet_query_spark.functions.xxh64_sql import MASK56

    v = views(spark, sf_dir)
    keyed = v["orders"].select(
        "o_orderkey",
        F.expr(f"xxhash64(o_orderkey) & {MASK56}").alias("draw"),
    )
    w = W.orderBy("draw")
    return (
        keyed.orderBy("draw")
        .limit(100)
        .select(
            F.row_number().over(w).cast("bigint").alias("sample_rank"),
            "o_orderkey",
            "draw",
        )
    )


@query(
    "window_rolling_median_revenue",
    oracle="""
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS day,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) * 2
           AS rev_cents2
  FROM lineitem GROUP BY 1
)
SELECT day, round(rev_cents2 / 200.0, 2) AS revenue,
       ((CAST(median(rev_cents2) OVER (
           ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
         ) AS BIGINT) + 1) // 2) / 100.0 AS rolling_median_7d
FROM daily
""",
    tags=("window",),
)
def window_rolling_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-row rolling median of daily revenue.  Spark has no median
    window aggregate, so the frame is materialized per row with
    collect_list OVER the same frame and the median read from the sorted
    array — correct because the frame is bounded (7 elements), which is
    precisely when exact rolling medians are tractable at scale.  Revenue
    is accumulated in DOUBLED integer cents so the even-frame
    interpolation (a+b)/2 is itself an exact integer K (in half-cents);
    the 2-dp rounding is then done in INTEGER space — round(K/200, 2) ≡
    ((K+1) // 2)/100 for positive K — because a double division puts
    half-cent medians exactly on the .005 boundary where Spark
    (shortest-decimal HALF_UP) and DuckDB (raw-binary multiply-round)
    disagree.  The window runs on the day-bounded series, not raw rows."""
    v = views(spark, sf_dir)
    daily = v["lineitem"].groupBy(
        F.col("l_shipdate").cast("date").alias("day")
    ).agg(
        (
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).cast(
                "bigint"
            )
            * 2
        ).alias("rev_cents2")
    )
    w = W.orderBy("day").rowsBetween(-6, 0)
    frame = F.array_sort(F.collect_list("rev_cents2").over(w))
    n = F.size(frame)
    mid = ((n + 1) / 2).cast("int")
    half = (n / 2).cast("int")
    median2 = F.when(
        n % 2 == 1, F.element_at(frame, mid).cast("double")
    ).otherwise(
        (F.element_at(frame, half) + F.element_at(frame, half + 1)) / 2.0
    )
    return (
        daily.select(
            "day",
            F.round(F.col("rev_cents2") / 200.0, 2).alias("revenue"),
            (
                F.floor((median2.cast("bigint") + 1) / 2).cast("bigint") / 100.0
            ).alias("rolling_median_7d"),
        )
    )


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


@query(
    "profile_orders_columns",
    oracle="""
SELECT 'o_orderkey' AS col, COUNT(*) AS n_rows, COUNT(o_orderkey) AS n_non_null,
       COUNT(DISTINCT o_orderkey) AS n_distinct FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*), COUNT(o_custkey), COUNT(DISTINCT o_custkey) FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus) FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice), COUNT(DISTINCT o_totalprice) FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*), COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority) FROM orders
""",
    tags=("profile", "aggregate"),
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (null counts + exact distinct per column) built
    programmatically from the schema — the data-quality pass that gates a
    training pipeline.

    One scan computes all columns' stats together (vs the oracle's
    per-column UNION ALL — same result, N scans); at 100 TB swap
    countDistinct for approx_count_distinct and it becomes a single
    map-side sketch pass."""
    o = views(spark, sf_dir)["orders"]
    per_col = [
        F.struct(
            F.lit(c).alias("col"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.col(c)).alias("n_non_null"),
            F.countDistinct(F.col(c)).alias("n_distinct"),
        ).alias(c)
        for c in _PROFILE_COLS
    ]
    wide = o.agg(*per_col)
    return (
        wide.select(F.explode(F.array(*[F.col(c) for c in _PROFILE_COLS])).alias("s"))
        .select("s.col", "s.n_rows", "s.n_non_null", "s.n_distinct")
    )


@query(
    "profile_value_histogram",
    oracle="""
WITH b AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
SELECT LEAST(CAST(floor((o_totalprice - lo)
                        / (GREATEST(hi - lo, 1e-12) / 20.0)) AS BIGINT), 19)
         AS bucket,
       COUNT(*) AS n
FROM orders CROSS JOIN b
GROUP BY bucket
""",
    tags=("profiling", "histogram"),
)
def profile_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of a numeric column — the data
    profiler's distribution sketch (and the stats a cost-based optimizer
    collects).  Bucket edges derive from a one-row min/max aggregate
    broadcast back over the scan; the top edge folds into the last bucket.

    Scale shape: two passes (bounds, then bucketed count), each a
    map-side-combinable aggregation; the histogram itself is 20 rows no
    matter the input size.  Both engines evaluate the identical bucket
    expression on identical doubles, so edges land identically."""
    v = views(spark, sf_dir)
    o = v["orders"]
    b = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    # greatest(hi - lo, eps): a constant column otherwise makes the bucket
    # width 0 and double div-by-zero differs across engines (Spark NULL vs
    # DuckDB inf) — with the guard every value lands in bucket 0 on both.
    width = F.greatest(F.col("hi") - F.col("lo"), F.lit(1e-12)) / 20.0
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("bigint"),
        F.lit(19).cast("bigint"),
    )
    return (
        o.crossJoin(F.broadcast(b))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


@query(
    "dq_rule_violations",
    oracle="""
SELECT 'orders_null_priority' AS rule,
       CAST(COUNT(*) AS BIGINT) AS n_violations,
       CAST(MIN(o_orderkey) AS BIGINT) AS example_key
FROM orders WHERE o_orderpriority IS NULL
UNION ALL
SELECT 'orders_nonpositive_price',
       CAST(COUNT(*) AS BIGINT), CAST(MIN(o_orderkey) AS BIGINT)
FROM orders WHERE o_totalprice <= 0
UNION ALL
SELECT 'lineitem_discount_range',
       CAST(COUNT(*) AS BIGINT), CAST(MIN(l_orderkey) AS BIGINT)
FROM lineitem WHERE l_discount < 0 OR l_discount > 0.5
UNION ALL
SELECT 'lineitem_ship_before_order',
       CAST(COUNT(*) AS BIGINT), CAST(MIN(l.l_orderkey) AS BIGINT)
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate < o.o_orderdate
UNION ALL
SELECT 'lineitem_orphan_orderkey',
       CAST(COUNT(*) AS BIGINT), CAST(MIN(l.l_orderkey) AS BIGINT)
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IS NULL
UNION ALL
SELECT 'customer_dup_names',
       CAST(COUNT(*) AS BIGINT), CAST(MIN(k) AS BIGINT)
FROM (
  SELECT MIN(c_custkey) AS k
  FROM customer GROUP BY c_name HAVING COUNT(*) > 1
)
""",
    tags=("quality", "aggregate", "join"),
)
def dq_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rule sweep (the Deequ/great-expectations
    shape): six constraint classes — null check, range check, value
    bound, cross-table temporal sanity, referential orphans, uniqueness
    — each reported as (rule, violation count, example key).  Zero
    counts stay in the report: "checked and clean" is the deliverable.

    Scale shape: each rule is one scan-side filter or one keyed
    join/anti-join rollup; the report is |rules| rows.  At 100 TB the
    rules share scans via a single pass per table (Catalyst reuses the
    cached scan across the union branches)."""
    v = views(spark, sf_dir)
    o, l, c = v["orders"], v["lineitem"], v["customer"]

    def rule(name, df, key):
        return df.agg(
            F.lit(name).alias("rule"),
            F.count("*").cast("bigint").alias("n_violations"),
            F.min(key).cast("bigint").alias("example_key"),
        )

    ship_before = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") < F.col("o_orderdate"))
    )
    orphans = l.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
    dup_names = (
        c.groupBy("c_name")
        .agg(F.count("*").alias("cnt"), F.min("c_custkey").alias("k"))
        .where(F.col("cnt") > 1)
    )
    report = (
        rule("orders_null_priority", o.where(F.col("o_orderpriority").isNull()), "o_orderkey")
        .unionByName(rule("orders_nonpositive_price", o.where(F.col("o_totalprice") <= 0), "o_orderkey"))
        .unionByName(
            rule(
                "lineitem_discount_range",
                l.where((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)),
                "l_orderkey",
            )
        )
        .unionByName(rule("lineitem_ship_before_order", ship_before, "l_orderkey"))
        .unionByName(rule("lineitem_orphan_orderkey", orphans, "l_orderkey"))
        .unionByName(rule("customer_dup_names", dup_names, "k"))
    )
    return report
