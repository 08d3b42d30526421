"""Event-stream batch operators: JSON extraction, time bucketing,
sessionization (SURVEY §7 step 7's batch counterparts).

The ``events`` table is the driver's stream stand-in (nanosecond timestamps,
JSON ``props``).  Everything here is expressed so the same logic lifts to
Structured Streaming (see streaming/streaming_ops.py): time bucketing uses
alignment-stable truncation, sessionization uses the lag+cumsum formulation
whose streaming twin is ``session_window``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parquet_query_spark.operators.catalog import query, views


@query(
    "events_json_extract",
    oracle="""
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 90
""",
    tags=("events", "json"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the props column (stays in codegen via
    get_json_object — no Python)."""
    v = views(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        v["events"]
        .select("event_id", "event_type", k.alias("k_val"))
        .where(F.col("k_val") >= 90)
    )


@query(
    "events_hourly_stats",
    oracle="""
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       COUNT(*) AS n,
       round(SUM(value), 2) AS total_value,
       CAST((2 * SUM(CAST(round(value * 100) AS BIGINT)) * 100 + COUNT(*))
            // (2 * COUNT(*)) AS DOUBLE) / 10000.0 AS avg_value,
       round(MIN(value), 2) AS min_value,
       round(MAX(value), 2) AS max_value
FROM events
GROUP BY hour_start, event_type
""",
    tags=("events", "aggregate"),
)
def events_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour rollup — the batch twin of the streaming windowed agg."""
    v = views(spark, sf_dir)
    return (
        v["events"]
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
            # avg in integer cents with explicit half-up division: hourly
            # means land exactly on .5 boundaries (e.g. 889.59/24), where
            # double round() is engine-dependent; values are exact cents so
            # this is lossless AND deterministic
            (
                F.expr(
                    "(2 * SUM(CAST(round(value * 100) AS BIGINT)) * 100 + COUNT(*))"
                    " div (2 * COUNT(*))"
                ).cast("double")
                / 10000.0
            ).alias("avg_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
    )


@query(
    "events_weekday_hour_heatmap",
    oracle="""
SELECT isodow(ts) - 1 AS weekday, hour(ts) AS hr, event_type, COUNT(*) AS n
FROM events
GROUP BY weekday, hr, event_type
""",
    tags=("events", "aggregate"),
)
def events_weekday_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday×hour activity grid (Spark weekday(): 0=Monday — DuckDB
    equivalent is isodow-1)."""
    v = views(spark, sf_dir)
    return (
        v["events"]
        .groupBy(
            F.weekday("ts").alias("weekday"),
            F.hour("ts").alias("hr"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )


@query(
    "events_sessionize",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL '30' MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sessions AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM gaps
)
SELECT user_id, session_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
""",
    tags=("events", "window", "session"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: lag-gap flag + running sum = session id.  One
    shuffle on user_id serves both windows and the final group-by (Catalyst
    reuses the partitioning).  Streaming twin: ``session_window(ts, '30
    minutes')`` — cross-checked in streaming tests."""
    v = views(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    return (
        v["events"]
        .select("user_id", "ts", "event_id", is_new.alias("is_new"))
        .withColumn("session_id", F.sum("is_new").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )


@query(
    "events_pivot_type_by_user",
    oracle="""
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY user_id
""",
    tags=("events", "pivot"),
)
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never the two-pass inferred pivot
    — the value scan is a full extra job at scale)."""
    v = views(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        v["events"]
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .fillna(0, subset=types)
    )


@query(
    "events_two_level_rollup",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type,
         COUNT(*) AS n, SUM(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events
  GROUP BY h, event_type
)
SELECT CAST(date_trunc('day', h) AS TIMESTAMP) AS day, event_type,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_value
FROM hourly
GROUP BY day, event_type
""",
    tags=("events", "aggregate", "rollup"),
)
def events_two_level_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate pattern: the daily rollup is computed FROM the
    hourly rollup, not from raw events.

    This is the hypertable/materialized-rollup shape: at 100 TB the hourly
    aggregate is maintained incrementally (e.g. by the streaming tumbling
    job in streaming_ops), and coarser windows re-aggregate ~24 rows per
    key instead of re-scanning the raw table.  COUNT and SUM re-roll
    losslessly; value is carried as integer cents so the two-level sum is
    exactly the one-level sum."""
    v = views(spark, sf_dir)
    hourly = (
        v["events"]
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        )
    )
    return (
        hourly.groupBy(
            # timestamp, not date: date-typed outputs land in pandas as
            # object(datetime.date) vs DuckDB's datetime64 — driver canon mismatch
            F.date_trunc("day", F.col("h")).alias("day"), "event_type"
        )
        .agg(
            F.sum("n").alias("n_events"),
            (F.sum("cents").cast("double") / 100.0).alias("total_value"),
        )
    )


@query(
    "events_funnel",
    oracle="""
WITH v1 AS (
  SELECT user_id, MIN(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id
),
c1 AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v1 ON e.user_id = v1.user_id
  WHERE e.event_type = 'click' AND e.ts > v1.t_view
  GROUP BY e.user_id
),
p1 AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c1 ON e.user_id = c1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c1.t_click
  GROUP BY e.user_id
),
n AS (
  SELECT (SELECT COUNT(*) FROM v1) AS n_view,
         (SELECT COUNT(*) FROM c1) AS n_click,
         (SELECT COUNT(*) FROM p1) AS n_purchase
)
SELECT 1 AS stage, 'view' AS stage_name, n_view AS n_users,
       round(1.0, 4) AS conversion FROM n
UNION ALL
SELECT 2, 'click_after_view', n_click,
       round(CAST(n_click AS DOUBLE) / n_view, 4) FROM n
UNION ALL
SELECT 3, 'purchase_after_click', n_purchase,
       round(CAST(n_purchase AS DOUBLE) / n_view, 4) FROM n
""",
    tags=("events", "funnel"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): a user counts
    for stage N only with an event strictly AFTER their stage-N-1 time.

    Scale shape: each stage is a filtered scan + groupBy(user_id) min —
    map-side combinable, shuffling only (user_id, timestamp).  The stage
    joins are user_id equi-joins whose right side shrinks monotonically
    (funnels only narrow), and the final counts are three scalar
    aggregates broadcast into one row — no window over raw events, no
    per-user event array materialization."""
    v = views(spark, sf_dir)
    ev = v["events"]

    def first_after(etype: str, prev: DataFrame, prev_ts: str, out_ts: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == etype)
            .join(prev, "user_id")
            .where(F.col("ts") > F.col(prev_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    v1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c1 = first_after("click", v1, "t_view", "t_click")
    p1 = first_after("purchase", c1, "t_click", "t_purchase")

    n = (
        v1.agg(F.count("*").alias("n_view"))
        .crossJoin(F.broadcast(c1.agg(F.count("*").alias("n_click"))))
        .crossJoin(F.broadcast(p1.agg(F.count("*").alias("n_purchase"))))
    )
    return n.selectExpr(
        """stack(3,
             1, 'view',                 n_view,     round(CAST(1.0 AS DOUBLE), 4),
             2, 'click_after_view',     n_click,    round(CAST(n_click AS DOUBLE) / n_view, 4),
             3, 'purchase_after_click', n_purchase, round(CAST(n_purchase AS DOUBLE) / n_view, 4)
           ) AS (stage, stage_name, n_users, conversion)"""
    )


@query(
    "events_retention_cohorts",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
),
labeled AS (
  SELECT ev.user_id,
         CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
         CAST(floor(date_diff('day', date_trunc('week', f.first_ts),
                              date_trunc('week', ev.ts)) / 7) AS INTEGER)
           AS weeks_since
  FROM events ev JOIN firsts f ON ev.user_id = f.user_id
)
SELECT cohort_week, weeks_since, COUNT(DISTINCT user_id) AS active_users
FROM labeled
GROUP BY cohort_week, weeks_since
""",
    tags=("events", "window", "cohort"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts — the canonical product-analytics rollup:
    bucket each user by the week of their first event, then count how many
    of each cohort are still active N weeks later.

    Scale shape: two key-partitioned aggregations (first-event per user,
    then distinct users per cohort cell) and one join that re-attaches the
    tiny per-user cohort label to the event stream — the label relation is
    orders of magnitude smaller than the events and broadcast-joins, so
    the event table is scanned once and shuffles only into the final
    (cohort, week) cells.  Week truncation is Monday-aligned on both
    engines, so cell boundaries agree exactly."""
    v = views(spark, sf_dir)
    ev = v["events"]
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    labeled = ev.join(F.broadcast(firsts), "user_id").select(
        "user_id",
        F.date_trunc("week", F.col("first_ts")).cast("date").alias("cohort_week"),
        F.floor(
            F.datediff(
                F.date_trunc("week", F.col("ts")),
                F.date_trunc("week", F.col("first_ts")),
            )
            / 7
        )
        .cast("int")
        .alias("weeks_since"),
    )
    return (
        labeled.groupBy("cohort_week", "weeks_since")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@query(
    "events_anomaly_mad",
    oracle="""
WITH med AS (
  SELECT event_type, floor(median(value) * 1e6 + 0.5) / 1e6 AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, floor(median(adev) * 1e6 + 0.5) / 1e6 AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       COUNT(*) AS n_events,
       ANY_VALUE(d.med) AS median_value,
       ANY_VALUE(m.mad) AS mad,
       CAST(SUM(CASE WHEN abs(d.value - d.med) > 3 * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
""",
    tags=("events", "stats", "anomaly"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type: flag values more than
    3 median-absolute-deviations from the median — the outlier rule that
    survives heavy-tailed metrics where mean/stddev z-scores break.

    Scale shape: two grouped exact medians (each one shuffle on
    event_type; swap in percentile_approx at 100 TB for one-pass sketch
    medians) with the tiny per-type median/MAD relations BROADCAST back
    onto the event stream — the events table is never reshuffled for the
    flagging pass.  Medians are floored at 1e-6 before the comparison so
    both engines threshold on identical doubles."""
    v = views(spark, sf_dir)
    ev = v["events"]
    med = ev.groupBy("event_type").agg(
        (F.floor(F.median("value") * 1e6 + 0.5) / 1e6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        (F.floor(F.median("adev") * 1e6 + 0.5) / 1e6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.any_value("med").alias("median_value"),
            F.any_value("mad").alias("mad"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


@query(
    "events_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n,
       round(CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY prev_type), 4) AS p
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
    tags=("events", "window", "markov"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next event type | previous event type) — the behavioral model behind
    next-action prediction, anomaly scoring (improbable transitions), and
    funnel leak analysis.

    Scale shape: one window shuffle on user_id to order each user's
    stream, then a (prev, next)-keyed aggregation whose output is
    |event types|² rows — the row-normalizing window runs on that tiny
    matrix, not the event stream.  The probability is a ratio of counts
    rounded at fixed precision, so both engines emit identical values."""
    v = views(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = v["events"].select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    counts = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    w_norm = W.partitionBy("prev_type")
    return (
        counts.withColumn(
            "p", F.round(F.col("n").cast("double") / F.sum("n").over(w_norm), 4)
        )
    )


@query(
    "events_gapfill_hourly",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM events
),
hours AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT t.event_type, h.hour FROM types t CROSS JOIN hours h),
actual AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM events GROUP BY event_type, hour
)
SELECT g.event_type, g.hour, COALESCE(a.n, 0) AS n
FROM grid g LEFT JOIN actual a ON g.event_type = a.event_type AND g.hour = a.hour
""",
    tags=("events", "timeseries", "gapfill"),
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense (event_type × hour) grid with
    zero-filled empty cells — the densification step every downstream
    forecaster/alerting rule needs, since a missing bucket and a zero
    bucket mean different things to an aggregate but the same thing to a
    time series.

    Scale shape: the hour spine is GENERATED from a one-row bounds
    aggregate (sequence + explode — never materialized wider than
    types × hours), the per-bucket counts are one keyed aggregation of
    the stream, and the spine join is broadcast-sized by construction.
    The pattern extends to carry-forward fills by swapping COALESCE for a
    last_value window over the same grid."""
    v = views(spark, sf_dir)
    ev = v["events"]
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(hours))
    actual = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n"))
    return (
        grid.join(actual, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce("n", F.lit(0).cast("bigint")).alias("n"),
        )
    )


@query(
    "events_concurrency_sweep",
    oracle="""
WITH iv AS (
  SELECT ts AS t_start, ts + INTERVAL 30 MINUTE AS t_end FROM events
),
pts AS (
  SELECT t_start AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT t_end AS t, -1 AS delta FROM iv
),
sweep AS (
  SELECT t, CAST(SUM(SUM(delta)) OVER (ORDER BY t) AS BIGINT) AS concurrent
  FROM pts GROUP BY t
)
SELECT t, concurrent FROM sweep
""",
    tags=("events", "timeseries", "sweepline"),
)
def events_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-concurrency profile via a sweep line: treat each event as
    a 30-minute activity interval, emit +1/-1 boundary points, and the
    running sum over time IS the number of concurrent intervals — the
    classic peak-load / capacity-planning query.

    Scale shape: a naive ``SUM() OVER (ORDER BY t)`` is a GLOBAL ordered
    window — Spark plans it as a single partition, the one shape that
    cannot scale.  This implementation is the distributed two-phase
    prefix sum: per-day partial running sums (window partitioned by day),
    plus per-day totals cumulated on the tiny day relation and broadcast
    back as offsets.  Identical result, no single-partition stage; the
    global window survives only in the oracle."""

    v = views(spark, sf_dir)
    pts = v["events"].select(
        F.explode(
            F.array(
                F.struct(F.col("ts").alias("t"), F.lit(1).alias("delta")),
                F.struct(
                    (F.col("ts") + F.expr("interval 30 minutes")).alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("p")
    ).select("p.t", "p.delta")
    per_t = pts.groupBy("t").agg(F.sum("delta").alias("d"))
    day = F.date_trunc("day", F.col("t")).alias("b")
    keyed = per_t.select("t", "d", day)
    w_in = (
        W.partitionBy("b")
        .orderBy("t")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    in_sum = keyed.withColumn("in_sum", F.sum("d").over(w_in))
    bucket_tot = keyed.groupBy("b").agg(F.sum("d").alias("tot"))
    w_b = (
        W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = bucket_tot.withColumn(
        "off", F.coalesce(F.sum("tot").over(w_b), F.lit(0))
    ).select("b", "off")
    return (
        in_sum.join(F.broadcast(offsets), "b")
        .select(
            "t",
            (F.col("in_sum") + F.col("off")).cast("bigint").alias("concurrent"),
        )
    )


@query(
    "events_rate_limited_sample",
    oracle="""
WITH ranked AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, hour,
       COUNT(*) AS n_seen,
       CAST(SUM(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM ranked
GROUP BY user_id, hour
""",
    tags=("events", "sampling", "ratelimit"),
)
def events_rate_limited_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key rate limiting: keep at most 3 events per (user, hour) —
    the ingestion-throttling / hot-key-capping pass that protects a
    pipeline from one runaway producer drowning the corpus.  Output
    reports seen-vs-kept per cell so the drop rate is auditable.

    Scale shape: one window + the summary aggregation share the same
    (user, hour) partitioning, so Catalyst plans a single shuffle; the
    deterministic (ts, event_id) order makes the kept set reproducible —
    re-running the limiter on the same data keeps the same events."""
    v = views(spark, sf_dir)
    w = W.partitionBy("user_id", "hour").orderBy("ts", "event_id")
    ranked = v["events"].select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "ts",
        "event_id",
    ).withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("user_id", "hour")
        .agg(
            F.count("*").alias("n_seen"),
            F.sum(F.when(F.col("rn") <= 3, 1).otherwise(0)).alias("n_kept"),
        )
    )


# The oracle of events_hourly_ohlc and of its streaming twin,
# streaming_hourly_ohlc.
_OHLC_ORACLE = """
SELECT event_type,
       date_trunc('hour', ts) AS bar_hour,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                            || '|' || lpad(CAST(event_id AS VARCHAR), 12, '0')), 4) AS open,
       round(MAX(value), 4) AS high,
       round(MIN(value), 4) AS low,
       round(arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                            || '|' || lpad(CAST(event_id AS VARCHAR), 12, '0')), 4) AS close,
       CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS volume_e4
FROM events
GROUP BY 1, 2
"""


@query(
    "events_hourly_ohlc",
    oracle=_OHLC_ORACLE,
    tags=("aggregate", "events"),
)
def events_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type — the time-series downsampling every
    metrics/market pipeline runs: open/close via arg-min/arg-max on a
    zero-padded (epoch_us, event_id) string key — a total order, so the
    result is deterministic under ts ties (unlike bare first()/last(),
    which are partition-order-dependent in Spark) and the key shape is
    accepted by both engines' arg_min/min_by.  High/low are plain
    MIN/MAX; volume is an order-free integer sum.

    Scale shape: pure single-pass aggregation — partial min_by/max_by
    combine map-side like any algebraic aggregate, so the shuffle carries
    one row per (type, hour) group, not the raw stream.  No window, no
    sort, no self-join."""
    v = views(spark, sf_dir)
    key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lit("|"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        v["events"]
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("bar_hour"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min_by("value", key), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", key), 4).alias("close"),
            F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias("volume_e4"),
        )
    )


@query(
    "events_session_paths",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
         COUNT(*) AS path_len
  FROM sess
  GROUP BY 1, 2
  HAVING COUNT(*) <= 6
)
SELECT path, CAST(path_len AS BIGINT) AS path_len,
       CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths
GROUP BY path, path_len
ORDER BY n_sessions DESC, path
LIMIT 25
""",
    tags=("events", "window", "topk"),
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 most common session journeys: sessionize (same lag-gap +
    running-sum kernel as events_sessionize), concatenate each session's
    event types in (ts, event_id) order into a path string, and rank
    paths by frequency — the product-analytics "user flows" report.
    Paths longer than 6 steps are dropped (long tails are unique anyway
    and explode the distinct-path space).

    Scale shape: the two windows and the per-session aggregation all run
    on the single user_id shuffle (partitioning reuse); the path count is
    a second, much smaller shuffle keyed by path string; the final top-25
    is TakeOrdered — no global sort.  The path string uses an explicit
    in-aggregation ORDER BY (Spark: sort the collected struct list) so
    the concatenation order is a total order, not arrival order."""
    v = views(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (
        v["events"]
        .select("user_id", "ts", "event_id", "event_type", is_new.alias("is_new"))
        .withColumn("session_id", F.sum("is_new").over(run))
    )
    # Filter long sessions BEFORE collecting: collect_list materializes a
    # session's whole event array in one reducer, so a bot mega-session
    # would build an unbounded array just to be thrown away by the length
    # cut.  The size window runs on the same user_id shuffle (no extra
    # exchange), so only ≤6-event sessions ever reach the collector.
    w_size = W.partitionBy("user_id", "session_id")
    sess = sess.withColumn("sess_n", F.count("*").over(w_size)).where(F.col("sess_n") <= 6)
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path"),
            F.count("*").alias("path_len"),
        )
        .where(F.col("path_len") <= 6)
    )
    return (
        paths.groupBy("path", "path_len")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(25)
    )


@query(
    "events_first_touch_attribution",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id, event_type, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
touched AS (
  SELECT *,
         first_value(event_type) OVER (
           PARTITION BY user_id, session_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS first_touch
  FROM sess
)
SELECT first_touch,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS attributed_e4
FROM touched
WHERE event_type = 'purchase'
GROUP BY first_touch
""",
    tags=("events", "window", "pipeline"),
)
def events_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: credit each purchase to the event type that
    OPENED its session — the marketing-analytics kernel (which acquisition
    channel do conversions trace back to?).

    Three windows (lag-gap, running session id, session first_value) all
    share the single user_id-prefixed sort order, so Catalyst plans ONE
    shuffle + one sort for the whole chain; the attribution rollup then
    groups the (tiny) purchase subset.  Revenue is an order-free integer
    sum.  first_value over the full-session frame (not default) makes the
    attribution deterministic under the (ts, event_id) total order."""
    v = views(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (
        v["events"]
        .select("user_id", "ts", "event_id", "event_type", "value", is_new.alias("is_new"))
        .withColumn("session_id", F.sum("is_new").over(run))
    )
    w_sess = (
        W.partitionBy("user_id", "session_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    touched = sess.withColumn("first_touch", F.first("event_type").over(w_sess))
    return (
        touched.where(F.col("event_type") == "purchase")
        .groupBy("first_touch")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias("attributed_e4"),
        )
    )


@query(
    "events_incremental_agg_merge",
    oracle="""
WITH full_agg AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS v_e4
  FROM events GROUP BY 1, 2
)
SELECT event_type, h, n, v_e4 FROM full_agg
""",
    tags=("aggregate", "pipeline", "scale"),
)
def events_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the base aggregate (all
    events before a cutoff) merges with a delta aggregate (events at or
    after the cutoff) by summing partials — COUNT and integer-SUM form a
    commutative monoid, so merge(old_state, agg(delta)) ≡ agg(all).  The
    oracle IS the full recompute, so the driver hash-check proves the
    incremental algebra exact — the property that lets a 100 TB pipeline
    refresh an hourly rollup by touching only the new partition instead
    of re-scanning history.

    Plan shape: two partial aggregations (each pruned to its time slice
    at the scan by the cutoff predicate) and one merge groupBy over
    rollup-sized rows — the merge shuffle carries (type, hour) partials,
    never raw events."""
    v = views(spark, sf_dir)
    cutoff = F.lit("2024-06-01").cast("timestamp")

    def agg_slice(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias("v_e4"),
        )

    base = agg_slice(v["events"].where(F.col("ts") < cutoff))
    delta = agg_slice(v["events"].where(F.col("ts") >= cutoff))
    return (
        base.unionAll(delta)
        .groupBy("event_type", "h")
        .agg(F.sum("n").alias("n"), F.sum("v_e4").alias("v_e4"))
    )


@query(
    "events_value_winsorize",
    oracle="""
WITH b AS (
  SELECT event_type,
         round(quantile_cont(value, 0.01), 6) AS p01,
         round(quantile_cont(value, 0.99), 6) AS p99
  FROM events GROUP BY 1
)
SELECT e.event_type,
       round(p01, 4) AS p01, round(p99, 4) AS p99,
       CAST(COUNT(*) FILTER (value < p01) AS BIGINT) AS n_clip_lo,
       CAST(COUNT(*) FILTER (value > p99) AS BIGINT) AS n_clip_hi,
       CAST(SUM(CAST(ROUND(least(greatest(value, p01), p99) * 10000) AS BIGINT))
            AS BIGINT) AS winsorized_e4
FROM events e JOIN b USING (event_type)
GROUP BY e.event_type, p01, p99
""",
    tags=("events", "aggregate", "pipeline"),
)
def events_value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (robust clipping at the exact p01/p99 per group) — the
    outlier guard every feature/metrics pipeline applies before averaging.

    The thresholds are exact interpolated percentiles rounded to 6 dp
    BEFORE clipping in both engines, so a last-ulp interpolation
    difference between implementations can never flip a boundary
    comparison (the int8-quantization lesson).  Two passes: a tiny
    per-group threshold aggregate broadcast back onto the stream, then
    one clip-and-sum scan — never a per-row sort.  The winsorized sum is
    an order-free integer."""
    v = views(spark, sf_dir)
    ev = v["events"]
    b = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.01)), 6).alias("p01"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
    return (
        ev.join(F.broadcast(b), "event_type")
        .groupBy("event_type", "p01", "p99")
        .agg(
            F.count_if(F.col("value") < F.col("p01")).alias("n_clip_lo"),
            F.count_if(F.col("value") > F.col("p99")).alias("n_clip_hi"),
            F.sum(F.round(clipped * 10000).cast("bigint")).alias("winsorized_e4"),
        )
        .select(
            "event_type",
            F.round("p01", 4).alias("p01"),
            F.round("p99", 4).alias("p99"),
            "n_clip_lo",
            "n_clip_hi",
            "winsorized_e4",
        )
    )


@query(
    "events_cusum_changepoint",
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  GROUP BY event_type, date_trunc('hour', ts)
),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(cents) AS BIGINT) AS total_cents
  FROM hourly GROUP BY event_type
),
dev AS (
  SELECT h.event_type, h.hour_ts, h.cents, s.n_hours,
         h.cents * 1000000 - (s.total_cents * 1000000 // s.n_hours) AS dev_micro
  FROM hourly h JOIN stats s ON s.event_type = h.event_type
),
cusum AS (
  SELECT event_type, hour_ts, n_hours,
         CAST(SUM(dev_micro) OVER (PARTITION BY event_type ORDER BY hour_ts
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum_micro
  FROM dev
)
SELECT event_type, n_hours, hour_ts AS change_hour,
       CAST(abs(cusum_micro) AS BIGINT) AS max_abs_cusum_micro,
       CASE WHEN cusum_micro < 0 THEN 'shift_up' ELSE 'shift_down' END AS direction
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY abs(cusum_micro) DESC, hour_ts) AS rn
  FROM cusum
) WHERE rn = 1
""",
    tags=("temporal", "window", "analytics"),
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the hour where the
    cumulative sum of deviations from the series mean peaks in magnitude
    — the classic single-changepoint estimator (a minimum of the CUSUM
    curve marks the onset of an upward level shift, a maximum a downward
    one).  The ops answer to "when did this metric's behavior change?".

    Everything is exact integers: hourly cents, the mean as a floor-divided
    micro-unit ratio of two BIGINTs, deviations and their running sum in
    micro-units — the argmax (earliest-hour tie-break) is therefore
    hash-stable across engines.  All shuffles downstream of the hourly
    rollup carry only (type, hour) rows — the map-side combine does the
    heavy reduction before anything moves."""

    v = views(spark, sf_dir)
    # (No explicit repartition here — see events_ewma_hourly: shuffling
    # raw events by type forfeits map-side combine and loses at scale.)
    hourly = (
        v["events"]
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_hours"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    dev = hourly.join(stats, "event_type").select(
        "event_type",
        "hour_ts",
        "n_hours",
        (
            F.col("cents") * 1_000_000
            - F.expr("total_cents * 1000000 DIV n_hours")
        ).alias("dev_micro"),
    )
    w_sum = W.partitionBy("event_type").orderBy("hour_ts").rowsBetween(W.unboundedPreceding, 0)
    cusum = dev.select(
        "event_type",
        "hour_ts",
        "n_hours",
        F.sum("dev_micro").over(w_sum).cast("bigint").alias("cusum_micro"),
    )
    w_rank = W.partitionBy("event_type").orderBy(F.desc(F.abs(F.col("cusum_micro"))), "hour_ts")
    return (
        cusum.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            "n_hours",
            F.col("hour_ts").alias("change_hour"),
            F.abs(F.col("cusum_micro")).cast("bigint").alias("max_abs_cusum_micro"),
            F.when(F.col("cusum_micro") < 0, "shift_up").otherwise("shift_down").alias("direction"),
        )
    )


@query(
    "events_late_arrival_audit",
    oracle="""
WITH arr AS (
  SELECT event_id, event_type, epoch_us(ts) AS ts_us,
         MAX(epoch_us(ts)) OVER (ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm_us
  FROM events
),
lat AS (
  SELECT event_type,
         CASE WHEN hwm_us IS NULL OR hwm_us <= ts_us THEN 0
              ELSE hwm_us - ts_us END AS late_us
  FROM arr
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1h,
       CAST(MAX(late_us) AS BIGINT) AS max_late_us,
       CAST(SUM(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) * 10000 // COUNT(*)
            AS BIGINT) AS late_bp
FROM lat
GROUP BY event_type
""",
    tags=("events", "streaming", "qa"),
)
def events_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-planning audit: how late does data actually arrive?  Using
    ingest order (event_id) as arrival order, each event's lateness is the
    gap to the event-time high watermark at its arrival; the report counts
    events a 1-hour watermark WOULD drop, per type — the measurement that
    justifies (or indicts) a streaming job's watermark setting before
    anything is lost in production.

    The high watermark is a GLOBAL prefix max — the one shape that cannot
    run as a single ordered window at scale — so it uses the same
    distributed two-phase decomposition as events_concurrency_sweep:
    within-bucket running max partitioned by arrival bucket, plus
    per-bucket maxima cumulated on the tiny bucket relation and broadcast
    back; the global window survives only in the oracle."""

    v = views(spark, sf_dir)
    base = v["events"].select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        (F.col("event_id") / 10000).cast("bigint").alias("b"),
    )
    w_in = (
        W.partitionBy("b")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    in_max = base.withColumn("in_hwm", F.max("ts_us").over(w_in))
    bucket_max = base.groupBy("b").agg(F.max("ts_us").alias("bmax"))
    w_b = W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
    offsets = bucket_max.withColumn("off", F.max("bmax").over(w_b)).select("b", "off")
    late_us = F.when(
        F.greatest(F.col("in_hwm"), F.col("off")).isNull()
        | (F.greatest(F.col("in_hwm"), F.col("off")) <= F.col("ts_us")),
        F.lit(0),
    ).otherwise(F.greatest(F.col("in_hwm"), F.col("off")) - F.col("ts_us"))
    lat = in_max.join(F.broadcast(offsets), "b").select(
        "event_type", late_us.alias("late_us")
    )
    late_flag = F.when(F.col("late_us") > 3_600_000_000, 1).otherwise(0)
    return (
        lat.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(late_flag).cast("bigint").alias("n_late_1h"),
            F.max("late_us").cast("bigint").alias("max_late_us"),
            F.expr(
                "SUM(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) * 10000 DIV COUNT(*)"
            )
            .cast("bigint")
            .alias("late_bp"),
        )
    )


@query(
    "events_seasonal_naive_backtest",
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  GROUP BY event_type, date_trunc('hour', ts)
),
fc AS (
  SELECT event_type, hour_ts, cents,
         LAG(cents, 168) OVER (PARTITION BY event_type ORDER BY hour_ts) AS forecast
  FROM hourly
)
SELECT event_type,
       CAST(COUNT(forecast) AS BIGINT) AS n_backtest,
       CAST(SUM(abs(cents - forecast)) AS BIGINT) AS sum_abs_err_cents,
       CAST(SUM(cents - forecast) AS BIGINT) AS sum_err_cents,
       CAST(MAX(abs(cents - forecast)) AS BIGINT) AS max_abs_err_cents,
       CAST(SUM(abs(cents - forecast)) // COUNT(forecast) AS BIGINT) AS mae_cents
FROM fc
WHERE forecast IS NOT NULL
GROUP BY event_type
""",
    tags=("temporal", "window", "analytics"),
)
def events_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each hour's revenue as the
    value 168 hours (one week) earlier and score the prediction — MAE,
    signed bias, and worst miss per event type, all in exact integer
    cents.  The seasonal-naive is THE baseline every forecasting system
    must beat, and this backtest is how you measure that on 100 TB of
    telemetry without leaving SQL semantics.

    Shapes: hourly rollup (map-side combined) then a single 168-step LAG
    window per type — bias is reported as a raw signed sum (integer
    division of signed values rounds differently across engines; the two
    exact sums let any consumer derive it), MAE divides two non-negative
    BIGINTs."""

    v = views(spark, sf_dir)
    hourly = (
        v["events"]
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents"))
    )
    w = W.partitionBy("event_type").orderBy("hour_ts")
    fc = hourly.withColumn("forecast", F.lag("cents", 168).over(w)).where(
        F.col("forecast").isNotNull()
    )
    err = F.col("cents") - F.col("forecast")
    return (
        fc.groupBy("event_type")
        .agg(
            F.count("forecast").cast("bigint").alias("n_backtest"),
            F.sum(F.abs(err)).cast("bigint").alias("sum_abs_err_cents"),
            F.sum(err).cast("bigint").alias("sum_err_cents"),
            F.max(F.abs(err)).cast("bigint").alias("max_abs_err_cents"),
            F.expr("SUM(abs(cents - forecast)) DIV COUNT(forecast)")
            .cast("bigint")
            .alias("mae_cents"),
        )
    )


@query(
    "events_ab_test_two_proportion",
    oracle="""
WITH assign AS (
  SELECT user_id, user_id % 2 AS variant,
         MAX(CASE WHEN event_type = 'purchase'
                  AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 90
                  THEN 1 ELSE 0 END) AS converted
  FROM events
  GROUP BY user_id
),
s AS (
  SELECT
    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
  FROM assign
)
SELECT n_a, conv_a, n_b, conv_b,
       CAST(conv_a * 10000 // n_a AS BIGINT) AS rate_a_bp,
       CAST(conv_b * 10000 // n_b AS BIGINT) AS rate_b_bp,
       CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0.0
            ELSE round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 4) END AS z_score,
       CAST(abs(CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0.0
            ELSE round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 4) END) >= 1.96 AS INTEGER) AS significant_95
FROM s
""",
    tags=("events", "aggregate", "analytics"),
)
def events_ab_test_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on conversion (the experimentation primitive):
    users split by id parity into variants, converted = reached at least
    one high-value purchase (props.k >= 90 — a non-universal event, so the
    pooled variance is nondegenerate); reports per-variant rates in integer basis points, the
    pooled z-score, and the |z| >= 1.96 significance flag — the entire
    readout an A/B dashboard derives from 100 TB of raw event logs.

    One user-keyed aggregation reduces the stream to per-user conversion
    bits; the test statistic is computed from four exact BIGINTs with a
    fixed IEEE expression order (and the significance flag compares the
    ROUNDED z), so the hash compare is stable."""
    v = views(spark, sf_dir)
    assign = (
        v["events"]
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.get_json_object("props", "$.k").cast("bigint") >= 90),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .withColumn("variant", F.col("user_id") % 2)
    )
    s = assign.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    pa = F.col("conv_a").cast("double") / F.col("n_a")
    pb = F.col("conv_b").cast("double") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    degenerate = (F.col("conv_a") + F.col("conv_b") == 0) | (
        F.col("conv_a") + F.col("conv_b") == F.col("n_a") + F.col("n_b")
    )
    z = F.when(degenerate, F.lit(0.0)).otherwise(
        F.round(
            (pa - pb)
            / F.sqrt(
                pool
                * (F.lit(1.0) - pool)
                * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
            ),
            4,
        )
    )
    return s.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.expr("conv_a * 10000 DIV n_a").cast("bigint").alias("rate_a_bp"),
        F.expr("conv_b * 10000 DIV n_b").cast("bigint").alias("rate_b_bp"),
        z.alias("z_score"),
        (F.abs(z) >= 1.96).cast("int").alias("significant_95"),
    )


@query(
    "events_user_gini",
    oracle="""
WITH per_user AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, user_id
),
ranked AS (
  SELECT event_type, cnt,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cnt, user_id) AS rnk
  FROM per_user
),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(cnt) AS BIGINT) AS total_events,
         CAST(SUM(rnk * cnt) AS BIGINT) AS s1
  FROM ranked GROUP BY event_type
)
SELECT event_type, n_users, total_events,
       round((2.0 * s1) / (n_users * total_events) - (n_users + 1.0) / n_users, 4)
         AS gini
FROM s
""",
    tags=("events", "window", "analytics"),
)
def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity, per event type — the
    inequality gauge for traffic concentration (gini near 0 = evenly
    spread users, near 1 = a handful of power users generate everything;
    the same number flags bot farms and single-tenant hot keys before
    they become shuffle skew).

    Uses the rank formulation G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over counts
    sorted ascending: both sums are exact BIGINTs (the rank window and
    per-user rollup share the event_type-keyed shuffle) and the final
    expression is a fixed-order IEEE computation rounded once."""

    v = views(spark, sf_dir)
    per_user = (
        v["events"]
        .groupBy("event_type", "user_id")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w = W.partitionBy("event_type").orderBy("cnt", "user_id")
    ranked = per_user.withColumn("rnk", F.row_number().over(w))
    s = ranked.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("cnt").cast("bigint").alias("total_events"),
        F.sum(F.col("rnk") * F.col("cnt")).cast("bigint").alias("s1"),
    )
    return s.select(
        "event_type",
        "n_users",
        "total_events",
        F.round(
            (F.lit(2.0) * F.col("s1")) / (F.col("n_users") * F.col("total_events"))
            - (F.col("n_users") + F.lit(1.0)) / F.col("n_users"),
            4,
        ).alias("gini"),
    )


# The oracle of events_bot_cadence and of its streaming twin,
# streaming_bot_cadence.
_BOT_CADENCE_ORACLE = """
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) // 1000000
           - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id)) // 1000000 AS gap_s
  FROM events
),
s AS (
  SELECT user_id,
         CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_s) AS BIGINT) AS sum_s,
         CAST(SUM(gap_s * gap_s) AS BIGINT) AS sumsq_s
  FROM gaps
  WHERE gap_s IS NOT NULL
  GROUP BY user_id
  HAVING COUNT(gap_s) >= 5
)
SELECT user_id, n_gaps,
       CAST(sum_s // n_gaps AS BIGINT) AS mean_gap_s,
       CAST(100 * n_gaps * sumsq_s < 101 * sum_s * sum_s AS INTEGER) AS metronomic
FROM s
"""


@query(
    "events_bot_cadence",
    oracle=_BOT_CADENCE_ORACLE,
    tags=("events", "window", "qa", "analytics"),
)
def events_bot_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation detector: users whose inter-event cadence is too
    regular to be human.  The flag is coefficient-of-variation < 0.1,
    evaluated as the PURE-INTEGER inequality
    100·n·Σg² < 101·(Σg)²  (algebraically identical to var < mean²/100,
    derived so no division or sqrt ever happens) — the comparison can
    never flake across engines because every operand is an exact BIGINT
    of second-granularity gaps.

    One user-keyed shuffle serves the LAG window and the moment sums;
    the ≥5-gap floor keeps the statistic meaningful."""

    v = views(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = v["events"].select(
        "user_id",
        (
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
        ).alias("gap_s"),
    )
    s = (
        gaps.where(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap_s").cast("bigint").alias("n_gaps"),
            F.sum("gap_s").cast("bigint").alias("sum_s"),
            F.sum(F.col("gap_s") * F.col("gap_s")).cast("bigint").alias("sumsq_s"),
        )
        .where(F.col("n_gaps") >= 5)
    )
    return s.select(
        "user_id",
        "n_gaps",
        F.expr("sum_s DIV n_gaps").cast("bigint").alias("mean_gap_s"),
        (
            F.lit(100) * F.col("n_gaps") * F.col("sumsq_s")
            < F.lit(101) * F.col("sum_s") * F.col("sum_s")
        )
        .cast("int")
        .alias("metronomic"),
    )


@query(
    "events_dau_wau_stickiness",
    oracle="""
WITH userday AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events
),
days AS (SELECT DISTINCT d FROM userday),
dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM userday GROUP BY d),
wau AS (
  SELECT s.d, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM days s
  JOIN userday u ON u.d BETWEEN s.d - 6 AND s.d
  GROUP BY s.d
)
SELECT CAST(dau.d AS TIMESTAMP) AS day, dau.dau, wau.wau,
       CAST(dau.dau * 10000 // wau.wau AS BIGINT) AS stickiness_bp
FROM dau JOIN wau ON wau.d = dau.d
""",
    tags=("events", "aggregate", "analytics"),
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the product-health
    triple every analytics deck opens with, computed EXACTLY (not
    sketched): the raw stream first collapses to the distinct (user, day)
    grid — the only corpus-sized reduction needed — and the trailing
    window is that grid joined to the day spine with a ±6-day band, a
    bounded ×7 expansion of an already-small relation, never a sliding
    COUNT DISTINCT window over raw events (which Spark would plan as one
    partition per frame).  Stickiness is an integer basis-point ratio.

    At 100 TB the (user, day) grid is users × active-days — the natural
    switch-over point to the catalog's mergeable HLL sketches
    (agg_hll_mergeable_sketches) if even that grid outgrows memory."""
    v = views(spark, sf_dir)
    userday = (
        v["events"]
        .select("user_id", F.date_trunc("day", "ts").cast("date").alias("d"))
        .distinct()
    )
    days = userday.select("d").distinct()
    dau = userday.groupBy("d").agg(F.count("*").cast("bigint").alias("dau"))
    spine = days.select(F.col("d").alias("s_d"))
    wau = (
        userday.join(
            F.broadcast(spine),
            (F.col("d") >= F.date_sub(F.col("s_d"), 6)) & (F.col("d") <= F.col("s_d")),
        )
        .groupBy("s_d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )
    return (
        dau.join(wau, dau.d == wau.s_d)
        .select(
            F.col("d").cast("timestamp").alias("day"),
            "dau",
            "wau",
            F.expr("dau * 10000 DIV wau").cast("bigint").alias("stickiness_bp"),
        )
    )


@query(
    "events_session_surprisal",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL '30' MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM gaps
),
trans AS (
  SELECT user_id, session_id, event_type AS cur,
         LAG(event_type) OVER (PARTITION BY user_id, session_id
                               ORDER BY ts, event_id) AS prev
  FROM sess
),
edges AS (SELECT user_id, session_id, prev, cur FROM trans WHERE prev IS NOT NULL),
model AS (
  SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c_ab FROM edges GROUP BY prev, cur
),
outdeg AS (SELECT prev, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM model GROUP BY prev),
scored AS (
  SELECT e.user_id, e.session_id,
         CAST(floor(-log2(CAST(m.c_ab AS DOUBLE) / o.c_a) * 1000000 + 0.5) AS BIGINT)
           AS s_micro
  FROM edges e
  JOIN model m ON m.prev = e.prev AND m.cur = e.cur
  JOIN outdeg o ON o.prev = e.prev
)
SELECT user_id, session_id,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(SUM(s_micro) AS BIGINT) AS surprisal_micro,
       CAST(SUM(s_micro) // COUNT(*) AS BIGINT) AS per_step_micro
FROM scored
GROUP BY user_id, session_id
ORDER BY surprisal_micro DESC, user_id, session_id
LIMIT 20
""",
    tags=("events", "session", "analytics", "quality"),
)
def events_session_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-path anomaly scoring: each session's journey is scored
    under the corpus's own first-order transition model — total surprisal
    -log2 P(next|current) summed over the session's steps; the top-20
    most improbable journeys are the sessions a fraud/UX review looks at
    first.  This composes three catalog kernels (sessionization, Markov
    transitions, LM-style scoring) into one plan.

    Determinism: per-step surprisal quantizes to integer micro-units
    (fixed floor formula) BEFORE the per-session sum, so aggregation
    order can't flake the ranking; ties break on (user, session).  Scale
    shape: sessionize and the transition LAG share one user-keyed
    shuffle; the model is type×type (≤25 rows) and broadcast; top-20 is
    TakeOrdered."""

    v = views(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    sess = (
        v["events"]
        .select("user_id", "ts", "event_id", "event_type", is_new.alias("is_new"))
        .withColumn("session_id", F.sum("is_new").over(run))
    )
    w_s = W.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    trans = sess.select(
        "user_id",
        "session_id",
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w_s).alias("prev"),
    )
    edges = trans.where(F.col("prev").isNotNull())
    model = edges.groupBy("prev", "cur").agg(F.count("*").cast("bigint").alias("c_ab"))
    outdeg = model.groupBy("prev").agg(F.sum("c_ab").cast("bigint").alias("c_a"))
    scored_model = model.join(outdeg, "prev").select(
        "prev",
        "cur",
        F.floor(
            -F.log2(F.col("c_ab").cast("double") / F.col("c_a")) * 1000000 + 0.5
        )
        .cast("bigint")
        .alias("s_micro"),
    )
    return (
        edges.join(F.broadcast(scored_model), ["prev", "cur"])
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").cast("bigint").alias("n_transitions"),
            F.sum("s_micro").cast("bigint").alias("surprisal_micro"),
            F.expr("SUM(s_micro) DIV COUNT(*)").cast("bigint").alias("per_step_micro"),
        )
        .orderBy(F.desc("surprisal_micro"), "user_id", "session_id")
        .limit(20)
    )


@query(
    "events_hourly_entropy",
    oracle="""
WITH cell AS (
  SELECT date_trunc('hour', ts) AS hour_ts, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT hour_ts, CAST(SUM(n) AS BIGINT) AS total FROM cell GROUP BY hour_ts
),
terms AS (
  SELECT c.hour_ts, t.total, c.event_type, c.n,
         CAST(floor(-(CAST(c.n AS DOUBLE) / t.total)
                    * log2(CAST(c.n AS DOUBLE) / t.total) * 1e9 + 0.5) AS BIGINT)
           AS term_nano
  FROM cell c JOIN tot t ON t.hour_ts = c.hour_ts
)
SELECT hour_ts,
       CAST(MAX(total) AS BIGINT) AS n_events,
       CAST(SUM(term_nano) AS BIGINT) AS entropy_nano,
       arg_max(event_type, lpad(CAST(n AS VARCHAR), 12, '0') || '|' || event_type)
         AS dominant_type
FROM terms
GROUP BY hour_ts
""",
    tags=("events", "aggregate", "analytics"),
)
def events_hourly_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event-type mix per hour — the
    one-number diversity monitor: entropy collapsing toward zero means
    one event type is flooding the stream (an error storm, a bot, a
    stuck producer) long before absolute volumes look anomalous.

    Each -p·log2 p term quantizes to integer nano-units BEFORE the
    per-hour sum (the catalog's standard order-free trick), and the
    dominant type uses an arg_max on a zero-padded ``count|type`` string
    key so ties break identically on both engines.  Two rollups over the
    (hour, type) cells — the shuffle carries cells, not events."""
    v = views(spark, sf_dir)
    cell = (
        v["events"]
        .groupBy(F.date_trunc("hour", "ts").alias("hour_ts"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = cell.groupBy("hour_ts").agg(F.sum("n").cast("bigint").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    terms = cell.join(tot, "hour_ts").select(
        "hour_ts",
        "total",
        "event_type",
        "n",
        F.floor(-p * F.log2(p) * 1e9 + 0.5).cast("bigint").alias("term_nano"),
    )
    key = F.concat(
        F.lpad(F.col("n").cast("string"), 12, "0"), F.lit("|"), F.col("event_type")
    )
    return (
        terms.groupBy("hour_ts")
        .agg(
            F.max("total").cast("bigint").alias("n_events"),
            F.sum("term_nano").cast("bigint").alias("entropy_nano"),
            F.max_by("event_type", key).alias("dominant_type"),
        )
    )


@query(
    "events_benford_profile",
    oracle="""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS INTEGER) AS d
  FROM events
  WHERE CAST(round(value * 100) AS BIGINT) >= 1
),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM digits)
SELECT d AS first_digit,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) * 10000 // MAX(s.total) AS BIGINT) AS observed_bp,
       CAST(floor(log10(1.0 + 1.0 / d) * 10000 + 0.5) AS BIGINT) AS benford_bp
FROM digits CROSS JOIN s
GROUP BY d
""",
    tags=("events", "aggregate", "qa", "analytics"),
)
def events_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit: the first-digit distribution of transaction
    values against the log10(1 + 1/d) expectation — the classic
    fabricated-data detector (invented numbers over-use mid digits;
    organic multiplicative processes follow Benford).  Digits come from
    the exact integer cents representation; shares are floor-divided
    basis points and the Benford expectation quantizes with the fixed
    floor formula, so all nine rows hash exactly.

    One scan + a nine-group rollup with a single-row broadcast total —
    runs at scan speed on any corpus size."""
    v = views(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    digits = (
        v["events"]
        .select(cents.alias("c"))
        .where(F.col("c") >= 1)
        .select(F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("d"))
    )
    s = digits.agg(F.count("*").cast("bigint").alias("total"))
    return (
        digits.crossJoin(F.broadcast(s))
        .groupBy("d")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.expr("COUNT(*) * 10000 DIV MAX(total)").cast("bigint").alias("observed_bp"),
            F.floor(F.log10(1.0 + 1.0 / F.col("d")) * 10000 + 0.5)
            .cast("bigint")
            .alias("benford_bp"),
        )
        .select(
            F.col("d").alias("first_digit"), "n", "observed_bp", "benford_bp"
        )
    )


@query(
    "events_new_vs_returning",
    oracle="""
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS first_day
  FROM events GROUP BY user_id
),
daily AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events
)
SELECT CAST(d AS TIMESTAMP) AS day,
       CAST(SUM(CASE WHEN f.first_day = daily.d THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN f.first_day <> daily.d THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returning,
       CAST(COUNT(*) AS BIGINT) AS n_active
FROM daily JOIN firsts f ON f.user_id = daily.user_id
GROUP BY d
""",
    tags=("events", "aggregate", "analytics"),
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: every active day split into new (first-ever
    activity) vs returning users — the canonical top-of-dashboard
    decomposition that separates acquisition from retention at a glance.
    The per-user first day is one aggregation broadcast back onto the
    distinct (user, day) grid (the retention-cohorts join geometry), so
    no raw event crosses a second shuffle."""
    v = views(spark, sf_dir)
    firsts = (
        v["events"]
        .groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).cast("date").alias("first_day"))
    )
    daily = (
        v["events"]
        .select("user_id", F.date_trunc("day", "ts").cast("date").alias("d"))
        .distinct()
    )
    return (
        daily.join(F.broadcast(firsts), "user_id")
        .groupBy("d")
        .agg(
            F.sum(F.when(F.col("first_day") == F.col("d"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("first_day") != F.col("d"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_returning"),
            F.count("*").cast("bigint").alias("n_active"),
        )
        .select(
            F.col("d").cast("timestamp").alias("day"), "n_new", "n_returning", "n_active"
        )
    )


@query(
    "events_value_boxplot",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       floor(MIN(value) * 100 + 0.5) / 100 AS v_min,
       floor(quantile_cont(value, 0.25) * 100 + 0.5) / 100 AS p25,
       floor(quantile_cont(value, 0.50) * 100 + 0.5) / 100 AS p50,
       floor(quantile_cont(value, 0.75) * 100 + 0.5) / 100 AS p75,
       floor(MAX(value) * 100 + 0.5) / 100 AS v_max,
       CAST(SUM(CASE WHEN value > 3 * (SELECT quantile_cont(value, 0.75) FROM events e2
                                        WHERE e2.event_type = events.event_type)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_beyond_3x_p75
FROM events
GROUP BY event_type
""",
    tags=("events", "quantile", "aggregate"),
)
def events_value_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-number summary (boxplot stats) of value per event type plus a
    3×p75 heavy-tail count — the first table any metric triage pulls up.
    Quantiles use the shared floor-quantized interpolation; the tail
    count compares against the per-type p75 computed in the same
    aggregation (Catalyst plans the correlated form as one grouped pass +
    a self-join on the five-row aggregate, not a per-row subquery)."""
    from pyspark.sql import functions as F2

    v = views(spark, sf_dir)
    fq = lambda p: F.floor(F.percentile("value", F.lit(p)) * 100 + 0.5) / 100  # noqa: E731
    base = v["events"].groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        (F.floor(F.min("value") * 100 + 0.5) / 100).alias("v_min"),
        fq(0.25).alias("p25"),
        fq(0.50).alias("p50"),
        fq(0.75).alias("p75"),
        (F.floor(F.max("value") * 100 + 0.5) / 100).alias("v_max"),
        F.percentile("value", F.lit(0.75)).alias("_p75_raw"),
    )
    tail = (
        v["events"]
        .join(
            F2.broadcast(base.select(F.col("event_type").alias("bt"), "_p75_raw")),
            F.col("event_type") == F.col("bt"),
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") > 3 * F.col("_p75_raw"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_beyond_3x_p75")
        )
    )
    return (
        base.drop("_p75_raw")
        .join(tail, "event_type")
    )


@query(
    "events_error_rate_alert",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_ts,
         CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
  FROM events GROUP BY 1
),
trailed AS (
  SELECT hour_ts, n_all, n_err,
         CAST(SUM(n_all) OVER w AS BIGINT) AS base_all,
         CAST(SUM(n_err) OVER w AS BIGINT) AS base_err
  FROM hourly
  WINDOW w AS (ORDER BY hour_ts ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT hour_ts, n_all, n_err, base_all, base_err,
       CAST(CASE WHEN base_err > 0 AND n_err * base_all > 2 * base_err * n_all
                 THEN 1 ELSE 0 END AS INTEGER) AS alert
FROM trailed
WHERE base_all IS NOT NULL
""",
    tags=("events", "window", "qa", "analytics"),
)
def events_error_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE-style burn alert: an hour alerts when its error RATE exceeds
    2× the trailing-24-hour baseline rate.  The comparison is the
    cross-multiplied integer inequality n_err·base_all > 2·base_err·n_all
    — rates never materialize as floats, so the alert bit is exact on
    both engines.  The global hourly series is ≤ corpus-days×24 rows
    (aggregation output, not raw events), so the single ordered window
    over it is bounded — unlike a raw-event global window, which is the
    anti-pattern the late-arrival audit decomposes away."""

    v = views(spark, sf_dir)
    hourly = (
        v["events"]
        .groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(
            F.count("*").cast("bigint").alias("n_all"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("n_err"),
        )
    )
    w = W.orderBy("hour_ts").rowsBetween(-24, -1)
    trailed = hourly.select(
        "hour_ts",
        "n_all",
        "n_err",
        F.sum("n_all").over(w).cast("bigint").alias("base_all"),
        F.sum("n_err").over(w).cast("bigint").alias("base_err"),
    )
    alert = (
        (F.col("base_err") > 0)
        & (F.col("n_err") * F.col("base_all") > 2 * F.col("base_err") * F.col("n_all"))
    ).cast("int")
    return (
        trailed.where(F.col("base_all").isNotNull())
        .select("hour_ts", "n_all", "n_err", "base_all", "base_err", alert.alias("alert"))
    )


@query(
    "events_volume_autocorrelation",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_ts, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
pairs AS (
  SELECT n AS y,
         LAG(n, 24) OVER (ORDER BY hour_ts) AS x
  FROM hourly
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs WHERE x IS NOT NULL
)
SELECT n AS n_pairs,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 4)
         AS acf_24h
FROM s
""",
    tags=("events", "temporal", "analytics", "window"),
)
def events_volume_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-seasonality strength: the lag-24-hour autocorrelation of
    hourly event volume.  Near 1 means volume repeats on a daily clock
    (forecast with the seasonal-naive), near 0 means the seasonal-naive
    baseline is pointless and smoothing (EWMA) is the better predictor —
    this single number chooses between the catalog's two forecasting
    primitives.  Five exact BIGINT sums over integer counts, one IEEE
    division rounded once (the zipf/elasticity discipline); the ordered
    window runs over the bounded hourly rollup."""

    v = views(spark, sf_dir)
    hourly = (
        v["events"]
        .groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = W.orderBy("hour_ts")
    pairs = hourly.select(
        F.col("n").alias("y"), F.lag("n", 24).over(w).alias("x")
    ).where(F.col("x").isNotNull())
    s = pairs.agg(
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
    return s.select(F.col("n").alias("n_pairs"), corr.alias("acf_24h"))


@query(
    "events_heavy_hitter_drift",
    oracle="""
WITH weekly AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS wk, user_id,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT wk, user_id,
         ROW_NUMBER() OVER (PARTITION BY wk ORDER BY n DESC, user_id) AS rnk
  FROM weekly
),
top AS (SELECT wk, user_id FROM ranked WHERE rnk <= 20),
wks AS (SELECT DISTINCT wk FROM top),
seq AS (
  SELECT wk, LAG(wk) OVER (ORDER BY wk) AS prev_wk FROM wks
),
overlap AS (
  SELECT s.wk, s.prev_wk,
         CAST(COUNT(b.user_id) AS BIGINT) AS n_shared
  FROM seq s
  JOIN top a ON a.wk = s.wk
  LEFT JOIN top b ON b.wk = s.prev_wk AND b.user_id = a.user_id
  WHERE s.prev_wk IS NOT NULL
  GROUP BY s.wk, s.prev_wk
)
SELECT CAST(wk AS TIMESTAMP) AS week, n_shared,
       CAST(n_shared * 10000 // (40 - n_shared) AS BIGINT) AS jaccard_bp
FROM overlap
""",
    tags=("events", "window", "analytics", "qa"),
)
def events_heavy_hitter_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter stability: week-over-week Jaccard of the top-20 user
    sets.  A stable set is organic power usage; a set that churns
    completely every week is rotating abuse infrastructure (or an id
    pipeline bug) — either way the capacity planner and the skew-salting
    config want to know.  Top-20 per week via a rank window over the
    (week, user) rollup; consecutive weeks compare with one slim
    self-join of 20-row sets; Jaccard is exact-integer (|A|=|B|=20 ⇒
    union = 40 − shared)."""

    v = views(spark, sf_dir)
    weekly = (
        v["events"]
        .groupBy(F.date_trunc("week", "ts").cast("date").alias("wk"), "user_id")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = W.partitionBy("wk").orderBy(F.desc("n"), "user_id")
    top = weekly.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= 20)
    wks = top.select("wk").distinct()
    seq = wks.select(
        "wk", F.lag("wk").over(W.orderBy("wk")).alias("prev_wk")
    ).where(F.col("prev_wk").isNotNull())
    a = top.select(F.col("wk").alias("a_wk"), F.col("user_id").alias("a_uid"))
    b = top.select(F.col("wk").alias("b_wk"), F.col("user_id").alias("b_uid"))
    overlap = (
        seq.join(F.broadcast(a), F.col("a_wk") == F.col("wk"))
        .join(
            F.broadcast(b),
            (F.col("b_wk") == F.col("prev_wk")) & (F.col("b_uid") == F.col("a_uid")),
            "left",
        )
        .groupBy("wk", "prev_wk")
        .agg(F.count("b_uid").cast("bigint").alias("n_shared"))
    )
    return overlap.select(
        F.col("wk").cast("timestamp").alias("week"),
        "n_shared",
        F.expr("n_shared * 10000 DIV (40 - n_shared)").cast("bigint").alias("jaccard_bp"),
    )


@query(
    "events_session_bounce_rate",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL '30' MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM gaps
),
per_session AS (
  SELECT user_id, session_id,
         arg_min(event_type, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                             || '|' || lpad(CAST(event_id AS VARCHAR), 12, '0'))
           AS entry_type,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sess
  GROUP BY user_id, session_id
)
SELECT entry_type,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000 // COUNT(*)
            AS BIGINT) AS bounce_bp
FROM per_session
GROUP BY entry_type
""",
    tags=("events", "session", "analytics"),
)
def events_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session entry type: the share of sessions that end
    after a single event, split by what the session OPENED with — the
    landing-quality metric (an entry type that bounces at 2× the others
    is a broken funnel entrance).  Sessionization reuses the lag+cumsum
    kernel; the entry event resolves via arg_min on the zero-padded
    (timestamp, id) key so ties are deterministic; rates are
    floor-divided integer basis points."""

    v = views(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    sess = (
        v["events"]
        .select("user_id", "ts", "event_id", "event_type", is_new.alias("is_new"))
        .withColumn("session_id", F.sum("is_new").over(run))
    )
    key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lit("|"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.min_by("event_type", key).alias("entry_type"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    return (
        per_session.groupBy("entry_type")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_bounces"),
            F.expr(
                "SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000 DIV COUNT(*)"
            )
            .cast("bigint")
            .alias("bounce_bp"),
        )
    )


@query(
    "events_type_cooccurrence",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL '30' MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, event_type,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM gaps
),
baskets AS (
  SELECT user_id, session_id, list_sort(list(DISTINCT event_type)) AS types
  FROM sess GROUP BY user_id, session_id
),
n_sessions AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM baskets),
type_n AS (
  SELECT t.t AS typ, CAST(COUNT(*) AS BIGINT) AS n
  FROM baskets, unnest(types) AS t(t) GROUP BY t.t
),
pair_n AS (
  SELECT a.t AS type_a, b.t AS type_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM baskets, unnest(types) AS a(t), unnest(types) AS b(t)
  WHERE a.t < b.t
  GROUP BY a.t, b.t
)
SELECT p.type_a, p.type_b, p.n_ab,
       na.n AS n_a, nb.n AS n_b,
       round(CAST(p.n_ab AS DOUBLE) * t.total / (na.n * nb.n), 4) AS lift
FROM pair_n p
JOIN type_n na ON na.typ = p.type_a
JOIN type_n nb ON nb.typ = p.type_b
CROSS JOIN n_sessions t
""",
    tags=("events", "session", "aggregate", "analytics"),
)
def events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session event-type co-occurrence with lift — the basket
    analysis applied to BEHAVIOR: which activities travel together inside
    one visit (error co-occurring with purchase above chance is a
    checkout bug; signup co-occurring with nothing is a dead-end page).
    Same Apriori shape as orders_basket_pairs: per-session distinct-type
    arrays (≤5 elements), scan-side pair expansion, type marginals
    broadcast; lift divides exact BIGINTs once."""

    v = views(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    sess = (
        v["events"]
        .select("user_id", "ts", "event_id", "event_type", is_new.alias("is_new"))
        .withColumn("session_id", F.sum("is_new").over(run))
    )
    baskets = (
        sess.groupBy("user_id", "session_id")
        .agg(F.array_sort(F.collect_set("event_type")).alias("types"))
        .localCheckpoint(eager=False)
    )
    n_sessions = baskets.agg(F.count("*").cast("bigint").alias("total"))
    type_n = (
        baskets.select(F.explode("types").alias("typ"))
        .groupBy("typ")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "filter(flatten(transform(types, x -> transform(types, y -> "
                "struct(x AS type_a, y AS type_b)))), s -> s.type_a < s.type_b)"
            )
        ).alias("p")
    ).select(F.col("p.type_a").alias("type_a"), F.col("p.type_b").alias("type_b"))
    pair_n = pairs.groupBy("type_a", "type_b").agg(
        F.count("*").cast("bigint").alias("n_ab")
    )
    return (
        pair_n.join(
            F.broadcast(type_n.select(F.col("typ").alias("type_a"), F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(type_n.select(F.col("typ").alias("type_b"), F.col("n").alias("n_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n_sessions))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab").cast("double") * F.col("total") / (F.col("n_a") * F.col("n_b")),
                4,
            ).alias("lift"),
        )
    )


@query(
    "events_adoption_curve",
    oracle="""
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS first_day
  FROM events GROUP BY user_id
),
daily AS (
  SELECT first_day, CAST(COUNT(*) AS BIGINT) AS n_new FROM firsts GROUP BY first_day
),
tot AS (SELECT CAST(SUM(n_new) AS BIGINT) AS total FROM daily)
SELECT CAST(first_day AS TIMESTAMP) AS day, n_new,
       CAST(SUM(n_new) OVER (ORDER BY first_day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cumulative_users,
       CAST(SUM(n_new) OVER (ORDER BY first_day ROWS UNBOUNDED PRECEDING) * 10000
            // MAX(t.total) OVER () AS BIGINT) AS adoption_bp
FROM daily CROSS JOIN tot t
""",
    tags=("events", "window", "analytics"),
)
def events_adoption_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative user-adoption curve: new users per day and the running
    share of the eventually-observed population in basis points — the
    S-curve every launch review plots, and the input to saturation
    forecasting.  The ordered window runs over the per-DAY rollup (one
    row per day — bounded, unlike a raw-event global window); all
    arithmetic is exact integers."""

    v = views(spark, sf_dir)
    firsts = (
        v["events"]
        .groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).cast("date").alias("first_day"))
    )
    daily = firsts.groupBy("first_day").agg(F.count("*").cast("bigint").alias("n_new"))
    tot = daily.agg(F.sum("n_new").cast("bigint").alias("total"))
    w = W.orderBy("first_day").rowsBetween(W.unboundedPreceding, 0)
    return (
        daily.crossJoin(F.broadcast(tot))
        .select(
            F.col("first_day").cast("timestamp").alias("day"),
            "n_new",
            F.sum("n_new").over(w).cast("bigint").alias("cumulative_users"),
            F.expr(
                "SUM(n_new) OVER (ORDER BY first_day ROWS BETWEEN UNBOUNDED PRECEDING "
                "AND CURRENT ROW) * 10000 DIV total"
            )
            .cast("bigint")
            .alias("adoption_bp"),
        )
    )


@query(
    "events_session_interarrival",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL '30' MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM gaps
),
bounds AS (
  SELECT user_id, session_id, MIN(ts) AS s_start, MAX(ts) AS s_end
  FROM sess GROUP BY user_id, session_id
),
inter AS (
  SELECT (epoch_us(s_start)
          - epoch_us(LAG(s_end) OVER (PARTITION BY user_id ORDER BY session_id)))
         // 60000000 AS away_min
  FROM bounds
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_returns,
       CAST(MIN(away_min) AS BIGINT) AS min_away_min,
       floor(quantile_cont(away_min, 0.50) * 100 + 0.5) / 100 AS p50_away_min,
       floor(quantile_cont(away_min, 0.90) * 100 + 0.5) / 100 AS p90_away_min,
       CAST(MAX(away_min) AS BIGINT) AS max_away_min
FROM inter
WHERE away_min IS NOT NULL
""",
    tags=("events", "session", "quantile", "analytics"),
)
def events_session_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-cycle distribution: minutes between a user's session END and
    their NEXT session start — the natural re-engagement cadence that
    calibrates push/notification timing and the session-timeout constant
    itself (a p50 close to the 30-minute cutoff says the sessionizer is
    splitting single visits).  Session bounds reuse the lag+cumsum
    kernel's one user-keyed shuffle; away-time is an exact floor-divided
    minute integer and the percentiles use the shared floor-quantized
    interpolation."""

    v = views(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    sess = (
        v["events"]
        .select("user_id", "ts", "event_id", is_new.alias("is_new"))
        .withColumn("session_id", F.sum("is_new").over(run))
    )
    bounds = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    w_s = W.partitionBy("user_id").orderBy("session_id")
    # sessions are disjoint (a >30 min gap separates them), so the away
    # time is strictly positive and truncating division == floor division
    inter = bounds.select(
        (
            (F.unix_micros("s_start") - F.unix_micros(F.lag("s_end").over(w_s)))
            / F.lit(60000000)
        )
        .cast("bigint")
        .alias("away_min")
    )
    q = lambda p: F.floor(F.percentile("away_min", F.lit(p)) * 100 + 0.5) / 100  # noqa: E731
    return inter.where(F.col("away_min").isNotNull()).agg(
        F.count("*").cast("bigint").alias("n_returns"),
        F.min("away_min").cast("bigint").alias("min_away_min"),
        q(0.50).alias("p50_away_min"),
        q(0.90).alias("p90_away_min"),
        F.max("away_min").cast("bigint").alias("max_away_min"),
    )


@query(
    "events_peak_hours",
    oracle="""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour_start, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
w AS (
  SELECT hour_start, n,
         lag(n)  OVER (ORDER BY hour_start) AS prev_n,
         lead(n) OVER (ORDER BY hour_start) AS next_n,
         avg(n)  OVER (ORDER BY hour_start
                       ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS base,
         COUNT(*) OVER (ORDER BY hour_start
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS base_n
  FROM h
)
SELECT hour_start, n, prev_n, next_n, round(base, 2) AS baseline
FROM w
WHERE base_n = 24
  AND n > prev_n AND n >= next_n
  AND CAST(n AS DOUBLE) >= 1.2 * base
""",
    tags=("events", "window", "anomaly"),
)
def events_peak_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic peaks: hours that are a local maximum AND >= 1.2x their own
    trailing-24h baseline.  Both conditions matter — local maxima alone
    flag every wiggle, baseline alone misses short spikes inside a busy
    day.  Integer counts keep the predicate cross-engine exact.

    Scale shape: the hourly rollup map-side combines to one row per hour,
    so the window runs over a series whose length is time-, not
    volume-, bound; single unpartitioned window over that tiny series is
    deliberate (documented same as source mixing)."""

    v = views(spark, sf_dir)
    h = v["events"].groupBy(
        F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count("*").cast("bigint").alias("n"))
    w = W.orderBy("hour_start")
    wb = w.rowsBetween(-24, -1)
    scored = h.select(
        "hour_start",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        F.lead("n").over(w).alias("next_n"),
        F.avg("n").over(wb).alias("base"),
        F.count("n").over(wb).alias("base_n"),
    )
    return (
        scored.where(
            (F.col("base_n") == 24)
            & (F.col("n") > F.col("prev_n"))
            & (F.col("n") >= F.col("next_n"))
            & (F.col("n").cast("double") >= 1.2 * F.col("base"))
        )
        .select(
            "hour_start",
            "n",
            "prev_n",
            "next_n",
            F.round("base", 2).alias("baseline"),
        )
    )


@query(
    "events_user_active_streaks",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events
),
grp AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER)
           AS island
  FROM days
),
streaks AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len,
         MIN(d) AS streak_start
  FROM grp GROUP BY user_id, island
)
SELECT user_id,
       CAST(MAX(len) AS BIGINT) AS longest_streak_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       MIN(streak_start) AS first_active_day
FROM streaks
GROUP BY user_id
HAVING MAX(len) >= 3
""",
    tags=("events", "window", "analytics"),
)
def events_user_active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the classic
    gaps-and-islands pattern (date minus dense row_number is constant
    within an island), the engagement metric behind every habit loop.

    Scale shape: distinct (user, day) collapses the event volume
    map-side; the row_number window is per-user (keyed shuffle, no
    global sort); the island rollup is two more map-side-combined
    groupings on the same user partitioning."""

    v = views(spark, sf_dir)
    days = (
        v["events"]
        .select("user_id", F.date_trunc("day", "ts").cast("date").alias("d"))
        .distinct()
    )
    grp = days.select(
        "user_id",
        "d",
        F.date_sub(
            "d", F.row_number().over(W.partitionBy("user_id").orderBy("d"))
        ).alias("island"),
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count("*").cast("bigint").alias("len"),
        F.min("d").alias("streak_start"),
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("len").cast("bigint").alias("longest_streak_days"),
            F.count("*").cast("bigint").alias("n_streaks"),
            F.min("streak_start").alias("first_active_day"),
        )
        .where(F.col("longest_streak_days") >= 3)
    )


@query(
    "events_outage_windows",
    oracle="""
WITH m AS (
  SELECT DISTINCT date_trunc('minute', ts) AS minute FROM events
),
g AS (
  SELECT minute,
         lag(minute) OVER (ORDER BY minute) AS prev_minute
  FROM m
)
SELECT prev_minute AS gap_start, minute AS gap_end,
       CAST(date_diff('minute', prev_minute, minute) - 1 AS BIGINT)
         AS silent_minutes
FROM g
WHERE date_diff('minute', prev_minute, minute) > 5
""",
    tags=("events", "window", "anomaly"),
)
def events_outage_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outage detection: stretches of >5 silent minutes in the event
    stream, found as gaps between consecutive ACTIVE minutes — the
    monitoring question ("when did ingest stop?") answered from the data
    itself.

    Scale shape: the event volume collapses map-side to distinct active
    minutes (time-bounded series, corpus-size-independent), and only
    that series flows through the unpartitioned lag window — the same
    bounded-series justification as the hourly anomaly ops."""

    v = views(spark, sf_dir)
    m = v["events"].select(F.date_trunc("minute", "ts").alias("minute")).distinct()
    g = m.select(
        "minute", F.lag("minute").over(W.orderBy("minute")).alias("prev_minute")
    )
    gap_min = (
        F.col("minute").cast("long") - F.col("prev_minute").cast("long")
    ) / 60
    return (
        g.where(gap_min > 5)
        .select(
            F.col("prev_minute").alias("gap_start"),
            F.col("minute").alias("gap_end"),
            (gap_min - 1).cast("bigint").alias("silent_minutes"),
        )
    )


@query(
    "events_spike_attribution",
    oracle="""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour_start, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
w AS (
  SELECT hour_start, n,
         avg(n) OVER (ORDER BY hour_start
                      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS base,
         COUNT(*) OVER (ORDER BY hour_start
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS base_n
  FROM h
),
spikes AS (
  SELECT hour_start, n, base FROM w
  WHERE base_n = 24 AND CAST(n AS DOUBLE) >= 1.3 * base
),
bytype AS (
  SELECT date_trunc('hour', ts) AS hour_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS type_n
  FROM events GROUP BY 1, 2
)
SELECT s.hour_start, s.n AS spike_n, round(s.base, 2) AS baseline,
       arg_max(b.event_type,
               lpad(CAST(b.type_n AS VARCHAR), 12, '0') || '|' || b.event_type)
         AS top_type,
       CAST(MAX(b.type_n) AS BIGINT) AS top_type_n,
       CAST(MAX(b.type_n) * 10000 // s.n AS BIGINT) AS top_type_share_bp
FROM spikes s JOIN bytype b ON b.hour_start = s.hour_start
GROUP BY s.hour_start, s.n, s.base
""",
    tags=("events", "window", "anomaly"),
)
def events_spike_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spike drill-down: for every hour running >=1.3x its trailing-24h
    baseline, which event type contributed most and what share of the
    spike it owns — the first question an on-call asks after the pager
    fires.  Tie-break via the padded count||type argmax key.

    Scale shape: both rollups map-side combine onto hour(-type) keys; the
    join is hour-keyed against the tiny spike set."""

    v = views(spark, sf_dir)
    h = v["events"].groupBy(
        F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count("*").cast("bigint").alias("n"))
    wb = W.orderBy("hour_start").rowsBetween(-24, -1)
    spikes = (
        h.select(
            "hour_start",
            "n",
            F.avg("n").over(wb).alias("base"),
            F.count("n").over(wb).alias("base_n"),
        )
        .where((F.col("base_n") == 24) & (F.col("n").cast("double") >= 1.3 * F.col("base")))
        .select("hour_start", F.col("n").alias("spike_n"), "base")
    )
    bytype = v["events"].groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
    ).agg(F.count("*").cast("bigint").alias("type_n"))
    return (
        bytype.join(spikes, "hour_start")
        .groupBy("hour_start", "spike_n", "base")
        .agg(
            F.expr(
                "max_by(event_type, concat_ws('|', lpad(CAST(type_n AS STRING), 12, '0'), event_type))"
            ).alias("top_type"),
            F.max("type_n").cast("bigint").alias("top_type_n"),
            F.expr("MAX(type_n) * 10000 DIV MAX(spike_n)")
            .cast("bigint")
            .alias("top_type_share_bp"),
        )
        .select(
            "hour_start",
            "spike_n",
            F.round("base", 2).alias("baseline"),
            "top_type",
            "top_type_n",
            "top_type_share_bp",
        )
    )


@query(
    "events_error_budget_burn",
    oracle="""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour_start,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_err
  FROM events GROUP BY 1
),
w AS (
  SELECT hour_start, n, n_err,
         SUM(n_err) OVER s1 AS err_1h, SUM(n) OVER s1 AS all_1h,
         SUM(n_err) OVER s6 AS err_6h, SUM(n) OVER s6 AS all_6h
  FROM h
  WINDOW s1 AS (ORDER BY hour_start ROWS BETWEEN 0 PRECEDING AND CURRENT ROW),
         s6 AS (ORDER BY hour_start ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT hour_start,
       round(CAST(err_1h AS DOUBLE) / all_1h / 0.25, 3) AS burn_1h,
       round(CAST(err_6h AS DOUBLE) / all_6h / 0.25, 3) AS burn_6h,
       CASE WHEN CAST(err_1h AS DOUBLE) / all_1h / 0.25 > 1.2
              AND CAST(err_6h AS DOUBLE) / all_6h / 0.25 > 1.1
            THEN 1 ELSE 0 END AS page
FROM w
WHERE CAST(err_1h AS DOUBLE) / all_1h / 0.25 > 1.0
""",
    tags=("events", "window", "anomaly"),
)
def events_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window error-budget burn-rate alerting (the SRE workbook
    pattern): against a 25% error-share SLO, page only when BOTH the
    fast (1 h) and slow (6 h) windows burn above threshold — the fast
    window catches the incident, the slow one suppresses blips.

    Scale shape: the event volume collapses map-side to hourly
    (n, n_err) pairs; both burn windows run over that time-bounded
    series."""

    v = views(spark, sf_dir)
    h = v["events"].groupBy(
        F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_err"),
    )
    s1 = W.orderBy("hour_start").rowsBetween(0, 0)
    s6 = W.orderBy("hour_start").rowsBetween(-5, 0)
    w = h.select(
        "hour_start",
        (F.sum("n_err").over(s1).cast("double") / F.sum("n").over(s1) / 0.25).alias(
            "b1"
        ),
        (F.sum("n_err").over(s6).cast("double") / F.sum("n").over(s6) / 0.25).alias(
            "b6"
        ),
    )
    return (
        w.where(F.col("b1") > 1.0)
        .select(
            "hour_start",
            F.round("b1", 3).alias("burn_1h"),
            F.round("b6", 3).alias("burn_6h"),
            F.when((F.col("b1") > 1.2) & (F.col("b6") > 1.1), 1)
            .otherwise(0)
            .alias("page"),
        )
    )


@query(
    "events_alert_flap_detector",
    oracle="""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour_start,
         CASE WHEN CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                         AS DOUBLE) / COUNT(*) > 0.22
              THEN 1 ELSE 0 END AS firing
  FROM events GROUP BY 1
),
t AS (
  SELECT CAST(hour_start AS DATE) AS day, firing,
         lag(firing) OVER (ORDER BY hour_start) AS prev_firing
  FROM h
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(firing) AS BIGINT) AS firing_hours,
       CAST(SUM(CASE WHEN prev_firing IS NOT NULL AND firing <> prev_firing
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions,
       CASE WHEN SUM(CASE WHEN prev_firing IS NOT NULL AND firing <> prev_firing
                          THEN 1 ELSE 0 END) >= 6
            THEN 1 ELSE 0 END AS is_flapping
FROM t
GROUP BY day
""",
    tags=("events", "window", "anomaly"),
)
def events_alert_flap_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert-flap audit: per day, how often the error-rate alert state
    TRANSITIONED (fired/cleared) — ≥6 transitions a day means the
    threshold is tuned wrong and the on-call is being paged by noise.
    Integer comparisons on exact counts keep the state cross-engine
    deterministic (0.22 is never an attainable ratio boundary at these
    counts? it can be — the threshold compares an exact rational to a
    short decimal, which both engines evaluate identically in binary).

    Scale shape: hourly state map-side combines; the lag window and day
    rollup run over the bounded hour series."""

    v = views(spark, sf_dir)
    h = v["events"].groupBy(
        F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).cast(
                "double"
            )
            / F.count("*")
            > 0.22,
            1,
        )
        .otherwise(0)
        .alias("firing")
    )
    t = h.select(
        F.col("hour_start").cast("date").alias("day"),
        "firing",
        F.lag("firing").over(W.orderBy("hour_start")).alias("prev_firing"),
    )
    flip = F.when(
        F.col("prev_firing").isNotNull() & (F.col("firing") != F.col("prev_firing")),
        1,
    ).otherwise(0)
    return (
        t.groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("n_hours"),
            F.sum("firing").cast("bigint").alias("firing_hours"),
            F.sum(flip).cast("bigint").alias("n_transitions"),
            F.when(F.sum(flip) >= 6, 1).otherwise(0).alias("is_flapping"),
        )
    )


@query(
    "events_sliding_distinct_users",
    oracle="""
WITH uh AS (
  SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour FROM events
),
expanded AS (
  SELECT user_id, hour + to_hours(CAST(off AS BIGINT)) AS target
  FROM uh, (SELECT unnest(range(0, 24)) AS off)
),
bounds AS (SELECT max(date_trunc('hour', ts)) AS hmax FROM events)
SELECT CAST(target AS TIMESTAMP) AS window_end,
       count(DISTINCT user_id)::BIGINT AS users_24h
FROM expanded, bounds
WHERE target <= hmax
GROUP BY target
""",
    tags=("events", "window"),
)
def events_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h distinct users, evaluated at every hour.

    Exact sliding COUNT(DISTINCT) does not decompose into window frames,
    so: collapse to distinct (user, hour) map-side, explode each pair
    into the 24 target hours it can serve (bounded fan-out — output is
    hours×users, never events×24), then a plain grouped distinct.  The
    shuffle carries the collapsed pair set, not raw events."""
    v = views(spark, sf_dir)
    uh = v["events"].select(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).distinct()
    hmax = v["events"].agg(F.max(F.date_trunc("hour", "ts")).alias("hmax"))
    expanded = uh.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(23))).alias("off"),
        "hour",
    ).select(
        "user_id",
        (F.col("hour") + F.make_interval(hours=F.col("off"))).alias("target"),
    )
    return (
        expanded.join(F.broadcast(hmax), F.col("target") <= F.col("hmax"))
        .groupBy(F.col("target").alias("window_end"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("users_24h"))
    )


@query(
    "events_burstiness_fano",
    oracle="""
WITH per_hour AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, count(*)::DOUBLE AS c
  FROM events GROUP BY 1, 2
),
per_user AS (
  SELECT user_id,
         SUM(c) AS total,
         SUM(c * c) AS sumsq,
         ((epoch_us(max(hour)) // 1000000 - epoch_us(min(hour)) // 1000000)
          / 3600 + 1)::DOUBLE AS span_hours
  FROM per_hour GROUP BY user_id
)
SELECT user_id, CAST(total AS BIGINT) AS n_events,
       CAST(span_hours AS BIGINT) AS span_hours,
       round(((sumsq / span_hours) - (total / span_hours) * (total / span_hours))
             / (total / span_hours), 4) AS fano
FROM per_user
WHERE total >= 50
ORDER BY fano DESC, user_id
LIMIT 20
""",
    tags=("events", "agg"),
)
def events_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness: Fano factor (variance/mean) of the hourly
    event-count series over the user's active span, zero hours included
    analytically (via span length) instead of materializing a gap-filled
    series.  Fano ≈ 1 is Poisson; ≫1 flags bursty/bot-like cadence.

    Exactness: hourly counts are integers, so total/sumsq/span are exact
    doubles and the variance identity is evaluated in fixed expression
    order — bit-identical across engines.  Two map-side-combined rollups,
    one slim (user) shuffle, top-k merge."""
    v = views(spark, sf_dir)
    per_hour = v["events"].groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").cast("double").alias("c"))
    per_user = per_hour.groupBy("user_id").agg(
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("sumsq"),
        (
            (
                F.max("hour").cast("long") - F.min("hour").cast("long")
            ) / 3600 + 1
        ).cast("double").alias("span_hours"),
    )
    mean = F.col("total") / F.col("span_hours")
    fano = F.round(
        ((F.col("sumsq") / F.col("span_hours")) - mean * mean) / mean, 4
    )
    return (
        per_user.where(F.col("total") >= 50)
        .select(
            "user_id",
            F.col("total").cast("bigint").alias("n_events"),
            F.col("span_hours").cast("bigint").alias("span_hours"),
            fano.alias("fano"),
        )
        .orderBy(F.desc("fano"), F.asc("user_id"))
        .limit(20)
    )


@query(
    "events_trend_mann_kendall",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, c,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
pairs AS (
  SELECT a.event_type,
         CAST(sign(b.c - a.c) AS BIGINT) AS sgn,
         (b.c - a.c) / CAST(b.i - a.i AS DOUBLE) AS slope
  FROM idx a JOIN idx b
    ON a.event_type = b.event_type AND a.i < b.i
),
stat AS (
  SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s_stat,
         round(quantile_cont(slope, 0.5), 6) AS theil_sen_slope
  FROM pairs GROUP BY event_type
),
ties AS (
  SELECT event_type,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
         CAST(SUM(t) AS BIGINT) AS n
  FROM (SELECT event_type, c, count(*)::BIGINT AS t FROM daily GROUP BY 1, 2)
  GROUP BY event_type
),
z AS (
  SELECT s.event_type, s.s_stat, s.theil_sen_slope, t.n,
         t.n * (t.n - 1) * (2 * t.n + 5) - t.tie_term AS var18,
         round(CASE
           WHEN s.s_stat > 0 THEN (s.s_stat - 1) / sqrt((t.n * (t.n - 1) * (2 * t.n + 5) - t.tie_term) / 18.0)
           WHEN s.s_stat < 0 THEN (s.s_stat + 1) / sqrt((t.n * (t.n - 1) * (2 * t.n + 5) - t.tie_term) / 18.0)
           ELSE 0.0 END, 4) AS z_mk
  FROM stat s JOIN ties t ON s.event_type = t.event_type
)
SELECT event_type, n AS n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
       z_mk, theil_sen_slope,
       CASE WHEN z_mk > 1.96 THEN 'rising'
            WHEN z_mk < -1.96 THEN 'falling'
            ELSE 'none' END AS trend
FROM z
""",
    tags=("events", "stats"),
)
def events_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test + Theil-Sen slope per event type
    over the daily volume series — the nonparametric "is this metric
    actually trending" primitive behind alert tuning (no normality or
    linearity assumption, robust to the outlier days the z-score ops
    flag).

    Exactness: S and the tie-corrected 18·Var(S) are pure BIGINT
    arithmetic; floats appear only in the final z / slope, rounded to
    fixed dp in both engines.  The Theil-Sen median interpolates over
    pairwise-slope doubles that are bit-identical per engine (integer
    count deltas over integer index gaps).

    Scale shape: the daily rollup is the only data-volume pass (map-side
    combined).  Everything after runs on the calendar-bounded series —
    the i<j pair join is types × days² (5 × ~435 here), broadcast both
    sides, so a 100 TB events table changes only the first rollup."""
    v = views(spark, sf_dir)
    daily = (
        v["events"]
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    idx = daily.select(
        "event_type",
        "c",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .alias("i"),
    ).localCheckpoint(eager=False)
    a, b = idx.alias("a"), idx.alias("b")
    pairs = F.broadcast(a).join(
        F.broadcast(b),
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.i") < F.col("b.i")),
    )
    stat = pairs.groupBy(F.col("a.event_type").alias("event_type")).agg(
        F.sum(F.signum(F.col("b.c") - F.col("a.c")).cast("bigint"))
        .cast("bigint")
        .alias("s_stat"),
        F.round(
            F.expr("percentile((b.c - a.c) / CAST(b.i - a.i AS DOUBLE), 0.5)"), 6
        ).alias("theil_sen_slope"),
    )
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.count("*").cast("bigint").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("bigint")
            .alias("tie_term"),
            F.sum("t").cast("bigint").alias("n"),
        )
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
    )
    z_raw = F.when(
        F.col("s_stat") > 0,
        (F.col("s_stat") - 1) / F.sqrt(F.col("var18") / 18.0),
    ).when(
        F.col("s_stat") < 0,
        (F.col("s_stat") + 1) / F.sqrt(F.col("var18") / 18.0),
    ).otherwise(F.lit(0.0))
    return (
        stat.join(F.broadcast(ties), "event_type")
        .withColumn("var18", var18.cast("bigint"))
        .withColumn("z_mk", F.round(z_raw, 4))
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "s_stat",
            "var18",
            "z_mk",
            "theil_sen_slope",
            F.when(F.col("z_mk") > 1.96, "rising")
            .when(F.col("z_mk") < -1.96, "falling")
            .otherwise("none")
            .alias("trend"),
        )
    )


@query(
    "events_kl_drift_daily",
    oracle="""
WITH c AS (
  SELECT CAST(ts AS DATE) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT d.day, t.event_type, coalesce(c.c, 0) AS c
  FROM (SELECT DISTINCT day FROM c) d
  CROSS JOIN (SELECT DISTINCT event_type FROM c) t
  LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
),
probs AS (
  SELECT day, event_type,
         CAST(c + 1 AS DOUBLE)
           / (SUM(c) OVER (PARTITION BY day) + COUNT(*) OVER (PARTITION BY day))
           AS p
  FROM grid
)
SELECT a.day,
       round(SUM(a.p * ln(a.p / b.p)), 4) AS kl_nats
FROM probs a
JOIN probs b ON b.day = a.day - INTERVAL 1 DAY AND b.event_type = a.event_type
GROUP BY a.day
""",
    tags=("events", "drift", "aggregate"),
)
def events_kl_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day KL divergence of the event-type mix — the
    distribution-drift alarm a streaming ingest pipeline runs on every
    slice key.  Add-one smoothing over the full day x type grid keeps
    both distributions strictly positive, so the divergence is finite
    even when a type disappears for a day.

    Determinism: exact BIGINT counts feed identical doubles into the
    same ln terms; one round at 4dp absorbs summation-order ulps (same
    contract as text_js_divergence_by_source).

    Scale shape: the (day, type) count is one map-side-combined
    aggregation; the grid is |days| x |types| (tiny — both dimensions
    are bounded); the prev-day self-join runs on the grid, not the
    events."""
    v = views(spark, sf_dir)
    c = (
        v["events"]
        .select(F.col("ts").cast("date").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    days = c.select("day").distinct()
    types = c.select("event_type").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(c, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    wd = W.partitionBy("day")
    probs = grid.select(
        "day",
        "event_type",
        (
            (F.col("c") + 1).cast("double")
            / (F.sum("c").over(wd) + F.count("*").over(wd))
        ).alias("p"),
    )
    a = probs.alias("a")
    # the grid is |days| x |types| — broadcast the prev-day side so the
    # self-join never sort-merges (both sides are bounded, not data-sized)
    b = F.broadcast(probs.alias("b"))
    return (
        a.join(
            b,
            (F.col("b.day") == F.date_sub(F.col("a.day"), 1))
            & (F.col("b.event_type") == F.col("a.event_type")),
        )
        .groupBy(F.col("a.day").alias("day"))
        .agg(
            F.round(F.sum(F.col("a.p") * F.log(F.col("a.p") / F.col("b.p"))), 4).alias(
                "kl_nats"
            )
        )
    )


@query(
    "events_markov_entropy_rate",
    oracle="""
WITH seq AS (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
c AS (
  SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
rowtot AS (
  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS nt FROM c GROUP BY prev_type
),
alltot AS (SELECT CAST(SUM(n) AS BIGINT) AS g FROM c),
h AS (
  SELECT c.prev_type, rowtot.nt,
         SUM(- (CAST(c.n AS DOUBLE) / rowtot.nt)
             * log2(CAST(c.n AS DOUBLE) / rowtot.nt)) AS hbits
  FROM c JOIN rowtot ON rowtot.prev_type = c.prev_type
  GROUP BY c.prev_type, rowtot.nt
)
SELECT h.prev_type,
       h.nt AS n_from,
       round(CAST(h.nt AS DOUBLE) / alltot.g, 4) AS stationary_share,
       round(h.hbits, 4) AS cond_entropy_bits,
       round((CAST(h.nt AS DOUBLE) / alltot.g) * h.hbits, 4)
         AS rate_contrib_bits
FROM h CROSS JOIN alltot
""",
    tags=("events", "stats"),
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event stream under its own first-order
    Markov model: conditional next-event entropy per source state plus
    its stationary-weighted contribution (summing the last column gives
    the chain's entropy rate in bits/event).  Low-entropy states =
    predictable flows (funnels, bots); the per-state decomposition says
    WHERE the predictability lives — the sequence-compressibility signal
    behind behavioral anomaly scoring.

    Determinism: every probability is a ratio of exact BIGINT transition
    counts — identical doubles into log2 on both engines, one final
    round per column (same contract as events_hourly_entropy).

    Scale shape: one user_id window shuffle orders the streams; all the
    entropy math runs on the |types|^2 transition matrix."""
    v = views(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = v["events"].select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    c = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    rowtot = c.groupBy("prev_type").agg(F.sum("n").cast("bigint").alias("nt"))
    alltot = c.agg(F.sum("n").cast("bigint").alias("g"))
    p = F.col("n").cast("double") / F.col("nt")
    h = (
        c.join(F.broadcast(rowtot), "prev_type")
        .groupBy("prev_type", "nt")
        .agg(F.sum(-p * F.log2(p)).alias("hbits"))
    )
    share = F.col("nt").cast("double") / F.col("g")
    return (
        h.crossJoin(F.broadcast(alltot))
        .select(
            "prev_type",
            F.col("nt").alias("n_from"),
            F.round(share, 4).alias("stationary_share"),
            F.round(F.col("hbits"), 4).alias("cond_entropy_bits"),
            F.round(share * F.col("hbits"), 4).alias("rate_contrib_bits"),
        )
    )


@query(
    "events_from_json_struct",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
       CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
            THEN 'high' ELSE 'low' END AS k_band
FROM events
""",
    tags=("events", "json"),
)
def events_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-full JSON parsing (`from_json`) — unlike get_json_object this
    yields a typed struct column usable downstream without re-parsing."""
    v = views(spark, sf_dir)
    parsed = F.from_json("props", "k INT")
    return (
        v["events"]
        .select("event_id", parsed.alias("p"))
        .select(
            "event_id",
            F.col("p.k").alias("k_val"),
            F.when(F.col("p.k") >= 50, "high").otherwise("low").alias("k_band"),
        )
    )
