"""Temporal joins the reference's SQL surface reaches via DuckDB (ASOF JOIN,
range predicates) re-expressed as scalable Spark compositions.

* **As-of join** — implemented with the union-tag trick: tag both streams,
  union, ONE window pass per user ordered by time, carry the last seen
  left-side row forward with ``last(..., ignorenulls)``.  This is the
  100 TB formulation: a single shuffle on the key, no per-key pair
  expansion (a naive ``JOIN ON ts <= ts`` blows up quadratically on hot
  keys), and it degrades gracefully under AQE skew splitting.
* **Range join** — equi-key + bounded time predicate.  At 100 TB the win is
  bucketing both sides by (key, time-bucket) so the range condition only
  probes adjacent buckets; here the equi-key join + predicate is the same
  plan Catalyst would produce for that, minus the bucket pruning.

Oracles are plain ANSI SQL (row_number formulation) so the semantics —
including tie-breaks — are pinned exactly, not left to an engine's ASOF
implementation choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_query_spark.operators.catalog import query, views


@query(
    "asof_purchase_last_view",
    oracle="""
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
     j AS (
       SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
              v.event_id AS view_id, v.ts AS view_ts,
              ROW_NUMBER() OVER (PARTITION BY p.event_id
                                 ORDER BY v.ts DESC, v.event_id DESC) AS rn
       FROM p JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
     )
SELECT purchase_id, user_id, purchase_ts, view_id, view_ts
FROM j WHERE rn = 1
""",
    tags=("join", "asof", "events"),
)
def asof_purchase_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the same user's most recent view
    at-or-before it (ties broken by highest event_id).

    Union-tag formulation: views sort before purchases at equal ts, so a
    running ``last(view_struct, ignorenulls)`` over (user, ts, tag,
    event_id) gives every purchase its as-of match in one window pass."""
    ev = views(spark, sf_dir)["events"]
    tagged = ev.where(F.col("event_type").isin("view", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        # views first at equal ts (a view AT the purchase instant matches)
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_p"),
        F.when(
            F.col("event_type") == "view", F.struct("ts", "event_id")
        ).alias("view_struct"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("last_view", F.last("view_struct", ignorenulls=True).over(w))
        .where((F.col("is_p") == 1) & F.col("last_view").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("last_view.event_id").alias("view_id"),
            F.col("last_view.ts").alias("view_ts"),
        )
    )


# The oracle of range_join_errors_after_purchase and of
# range_join_bucketed_probes, the same query planned by time bucket.
_RANGE_ERRORS_ORACLE = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     e AS (SELECT user_id, ts FROM events WHERE event_type = 'error')
SELECT p.event_id AS purchase_id, p.user_id,
       COUNT(e.ts) AS errors_within_1h
FROM p LEFT JOIN e
  ON p.user_id = e.user_id
 AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL '1' HOUR
GROUP BY p.event_id, p.user_id
"""


@query(
    "range_join_errors_after_purchase",
    oracle=_RANGE_ERRORS_ORACLE,
    tags=("join", "range", "events"),
)
def range_join_errors_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: per purchase, count same-user errors in the next hour.

    Equi-join on user_id carries the shuffle; the time-range predicate is
    evaluated join-side.  The left join + COUNT(col) keeps zero-error
    purchases in the output."""
    ev = views(spark, sf_dir)["events"]
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    e = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    cond = (
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") > F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return (
        p.join(e, cond, "left")
        .groupBy("purchase_id", F.col("p_user").alias("user_id"))
        .agg(F.count("e_ts").alias("errors_within_1h"))
    )


# ---------------------------------------------------------------------------
# EWMA smoothing with exact integer arithmetic.

_EWMA_TAPS = 16  # alpha = 1/2 over the last 16 observed hourly buckets


def _ewma_terms_sql() -> tuple[str, str]:
    """Unrolled numerator/denominator for the DuckDB oracle window."""
    num = " + ".join(
        f"COALESCE(LAG(cents, {i}) OVER w, 0) * {1 << (_EWMA_TAPS - 1 - i)}"
        for i in range(_EWMA_TAPS)
    )
    den = " + ".join(
        f"CASE WHEN LAG(cents, {i}) OVER w IS NOT NULL THEN {1 << (_EWMA_TAPS - 1 - i)} ELSE 0 END"
        for i in range(_EWMA_TAPS)
    )
    return num, den


_EWMA_NUM_SQL, _EWMA_DEN_SQL = _ewma_terms_sql()


# The oracle of events_ewma_hourly and of its streaming twin,
# streaming_ewma_hourly.
_EWMA_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  GROUP BY event_type, date_trunc('hour', ts)
),
smoothed AS (
  SELECT event_type, hour_ts, cents,
         {_EWMA_NUM_SQL} AS num,
         {_EWMA_DEN_SQL} AS den
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts)
)
SELECT event_type, hour_ts, cents,
       CAST(num * 1000000 // den AS BIGINT) AS ewma_micro
FROM smoothed
"""


@query(
    "events_ewma_hourly",
    oracle=_EWMA_ORACLE,
    tags=("temporal", "window", "aggregate"),
)
def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of hourly revenue per event
    type — the smoothing pass behind every ops dashboard and anomaly
    threshold, computed with EXACT integer arithmetic so the hash compare
    can never flake: alpha = 1/2 gives power-of-two weights, so the EWMA
    over the last 16 observed buckets is a ratio of two BIGINT window sums
    (weights 2^15..2^0), reported in floor-divided integer micro-units.

    Two tiny post-aggregation shuffles (the (type, hour) rollup, then
    the type-keyed window) — deliberately NOT collapsed into one raw-row
    repartition, which forfeits map-side combine and measured 2.7x slower
    at 8x.  The frame is ROWS-based
    over observed buckets (documented choice — gap hours carry no weight),
    so state per key is bounded at 16 values regardless of history length
    — the same reason this shape ports directly to the streaming tier."""
    v = views(spark, sf_dir)
    # NOTE: an explicit repartition(event_type) before the rollup would
    # collapse the two Exchanges into one, but it shuffles RAW events
    # (no map-side combine below an explicit repartition) — measured 2.7x
    # slower at 8x.  Two tiny post-aggregation shuffles beat one raw one.
    hourly = (
        v["events"]
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("hour_ts")
    num = None
    den = None
    for i in range(_EWMA_TAPS):
        weight = 1 << (_EWMA_TAPS - 1 - i)
        lag_i = F.lag("cents", i).over(w)
        term_n = F.coalesce(lag_i, F.lit(0)) * F.lit(weight)
        term_d = F.when(lag_i.isNotNull(), F.lit(weight)).otherwise(F.lit(0))
        num = term_n if num is None else num + term_n
        den = term_d if den is None else den + term_d
    return (
        hourly.select(
            "event_type",
            "hour_ts",
            "cents",
            num.alias("num"),
            den.alias("den"),
        )
        .select(
            "event_type",
            "hour_ts",
            "cents",
            F.expr("num * 1000000 DIV den").cast("bigint").alias("ewma_micro"),
        )
    )


@query(
    "range_join_bucketed_probes",
    oracle=_RANGE_ERRORS_ORACLE,
    tags=("join", "range", "events", "bucketed"),
)
def range_join_bucketed_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE formulation of the range join (same semantics and oracle
    as range_join_errors_after_purchase, different plan): both sides
    bucket by (user, hour), each purchase probes exactly its own and the
    next bucket, and the time predicate applies AFTER an equi-join on
    (user, bucket).  A ≤1-bucket-wide interval can only land in those two
    buckets, so the unbounded range condition becomes a bounded hash
    join — per-user pair expansion is capped by bucket occupancy instead
    of the full per-user history, which is the difference between a plan
    that survives a hot user at 100 TB and one that doesn't.  (The plain
    variant keeps the simpler plan; this one exists to pin the bucketed
    technique with a hash-verified implementation.)"""
    ev = views(spark, sf_dir)["events"]
    bucket = lambda c: F.floor(F.col(c).cast("long") / 3600).cast("bigint")  # noqa: E731
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            bucket("ts").alias("b"),
        )
        .select(
            "purchase_id",
            "p_user",
            "p_ts",
            F.explode(F.array(F.col("b"), F.col("b") + 1)).alias("probe_b"),
        )
    )
    e = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        bucket("ts").alias("e_b"),
    )
    joined = p.join(
        e,
        (F.col("p_user") == F.col("e_user")) & (F.col("probe_b") == F.col("e_b")),
        "left",
    )
    in_range = (F.col("e_ts") > F.col("p_ts")) & (
        F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")
    )
    return (
        joined.groupBy("purchase_id", F.col("p_user").alias("user_id"))
        .agg(
            F.sum(F.when(F.col("e_ts").isNotNull() & in_range, 1).otherwise(0)).alias(
                "errors_within_1h"
            )
        )
    )


@query(
    "events_conversion_lag_histogram",
    oracle="""
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
     j AS (
       SELECT p.event_id AS purchase_id, p.ts AS purchase_ts, v.ts AS view_ts,
              ROW_NUMBER() OVER (PARTITION BY p.event_id
                                 ORDER BY v.ts DESC, v.event_id DESC) AS rn
       FROM p JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
     ),
     lags AS (
       SELECT (epoch_us(purchase_ts) - epoch_us(view_ts)) // 60000000 AS lag_min
       FROM j WHERE rn = 1
     ),
     bucketed AS (
       SELECT CASE
                WHEN lag_min < 1 THEN 'a_under_1m'
                WHEN lag_min < 10 THEN 'b_1_to_10m'
                WHEN lag_min < 60 THEN 'c_10_to_60m'
                WHEN lag_min < 1440 THEN 'd_1_to_24h'
                ELSE 'e_over_24h'
              END AS lag_bucket
       FROM lags
     )
SELECT lag_bucket, CAST(COUNT(*) AS BIGINT) AS n_conversions
FROM bucketed
GROUP BY lag_bucket
""",
    tags=("events", "asof", "aggregate", "analytics"),
)
def events_conversion_lag_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversion-lag distribution: how long after the last
    preceding view does a purchase land?  Composes the as-of kernel (same
    union-tag single-window formulation as asof_purchase_last_view) with
    an exact integer minute-bucket rollup — the funnel-latency histogram
    that sizes attribution windows and retargeting delays.

    Lag is a floor-divided exact microsecond difference, so the bucket
    edges can never flake; one user-keyed shuffle for the as-of pass,
    then a five-group rollup."""
    out = asof_purchase_last_view(spark, sf_dir)
    lag_min = F.expr(
        "(unix_micros(purchase_ts) - unix_micros(view_ts)) DIV 60000000"
    )
    bucket = (
        F.when(lag_min < 1, "a_under_1m")
        .when(lag_min < 10, "b_1_to_10m")
        .when(lag_min < 60, "c_10_to_60m")
        .when(lag_min < 1440, "d_1_to_24h")
        .otherwise("e_over_24h")
    )
    return (
        out.select(bucket.alias("lag_bucket"))
        .groupBy("lag_bucket")
        .agg(F.count("*").cast("bigint").alias("n_conversions"))
    )


@query(
    "lineitem_rolling_revenue_zscore",
    oracle="""
WITH m AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_e4
  FROM lineitem GROUP BY 1
),
w AS (
  SELECT ship_month, CAST(rev_e4 AS DOUBLE) / 10000.0 AS revenue,
         avg(CAST(rev_e4 AS DOUBLE) / 10000.0)         OVER t AS mu,
         stddev_samp(CAST(rev_e4 AS DOUBLE) / 10000.0) OVER t AS sigma,
         COUNT(*)                                      OVER t AS n_win
  FROM m
  WINDOW t AS (ORDER BY ship_month ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
)
SELECT ship_month, round(revenue, 2) AS revenue,
       round(mu, 2) AS trailing_mean,
       round((revenue - mu) / sigma, 3) AS z
FROM w
WHERE n_win = 6 AND sigma > 0
""",
    tags=("window", "temporal", "anomaly"),
)
def lineitem_rolling_revenue_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue z-scored against its own trailing six months —
    the seasonality-robust revenue anomaly screen.  The monthly revenue
    is rounded to cents BEFORE the window statistics so both engines
    feed identical inputs to mean/stddev (float-sum ulps never reach the
    z-score).

    Scale shape: the fact scan rolls up map-side to one row per month;
    the window runs over a time-bounded series."""

    v = views(spark, sf_dir)
    m = (
        v["lineitem"]
        .groupBy(F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month"))
        .agg(
            # exact integer e4 units (price has 2dp, discount 2dp): the
            # monthly sum is order-independent, so both engines window
            # over bit-identical doubles
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
            ).alias("rev_e4")
        )
        .select("ship_month", (F.col("rev_e4").cast("double") / 10000.0).alias("revenue"))
    )
    t = Window.orderBy("ship_month").rowsBetween(-6, -1)
    w = m.select(
        "ship_month",
        "revenue",
        F.avg("revenue").over(t).alias("mu"),
        F.stddev_samp("revenue").over(t).alias("sigma"),
        F.count("revenue").over(t).alias("n_win"),
    )
    return (
        w.where((F.col("n_win") == 6) & (F.col("sigma") > 0))
        .select(
            "ship_month",
            F.round("revenue", 2).alias("revenue"),
            F.round("mu", 2).alias("trailing_mean"),
            F.round((F.col("revenue") - F.col("mu")) / F.col("sigma"), 3).alias("z"),
        )
    )
