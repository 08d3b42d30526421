"""Skew- and scale-management patterns as first-class, oracle-checked
operators.

These produce the SAME results as their naive formulations (the oracles are
the plain SQL), but with plan shapes that survive hot keys at 100 TB:

* **Salted two-phase aggregation** — a groupBy on a low-cardinality /
  highly-skewed key funnels entire key populations through single reducers.
  Salting fans each key across N_SALT partial aggregates, then re-combines;
  the second shuffle carries one row per (key, salt) instead of the raw data.
* **Salted skew join** — replicate the small side N_SALT times, salt the big
  side; each hot-key partition shrinks by ~N_SALT.  (AQE's skew-join split
  does this adaptively for sort-merge joins; the explicit form also covers
  aggregations and deterministic plans.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_query_spark.operators.catalog import query, views

N_SALT = 8


@query(
    "agg_salted_skew",
    oracle="""
SELECT event_type, COUNT(*) AS n_events, round(SUM(value), 2) AS total_value
FROM events
GROUP BY event_type
""",
    tags=("aggregate", "skew"),
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a 5-value key.

    Phase 1 groups by (key, hash(event_id) % N_SALT) — every executor core
    gets a share of each hot key; phase 2 merges the N_SALT partials.  COUNT
    and SUM re-aggregate losslessly (any distributive aggregate does)."""
    ev = views(spark, sf_dir)["events"]
    partial = (
        ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALT)))
        .groupBy("event_type", "salt")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("s"), 2).alias("total_value"),
        )
    )


@query(
    "join_salted_skew",
    oracle="""
SELECT e.event_type, CAST(m.weight AS DOUBLE) AS weight, COUNT(*) AS n,
       round(SUM(e.value * m.weight), 2) AS weighted_value
FROM events e
JOIN (VALUES ('click', 1.0), ('view', 0.5), ('purchase', 10.0),
             ('signup', 5.0), ('error', 0.0)) AS m(etype, weight)
  ON e.event_type = m.etype
GROUP BY e.event_type, m.weight
""",
    tags=("join", "skew"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join against a tiny weight table on a hot 5-value key.

    The small side is replicated once per salt value (5×8 = 40 rows) and the
    fact side salted, so a shuffle join on (key, salt) spreads each hot key
    over N_SALT reducers.  (With a table this small you'd broadcast instead —
    the salt pattern is for small-but-over-broadcast-threshold sides; the
    result is identical either way, which is what the oracle pins.)"""
    ev = views(spark, sf_dir)["events"]
    weights = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 10.0), ("signup", 5.0), ("error", 0.0)],
        "etype string, weight double",
    )
    salts = spark.range(N_SALT).select(F.col("id").cast("int").alias("salt"))
    weights_rep = weights.crossJoin(salts)
    salted = ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALT)).cast("int"))
    return (
        salted.join(
            weights_rep.hint("shuffle_hash"),
            (F.col("event_type") == F.col("etype")) & (salted["salt"] == weights_rep["salt"]),
        )
        .groupBy("event_type", "weight")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("weighted_value"),
        )
    )


@query(
    "sample_deterministic_hash",
    oracle="""
SELECT event_type, COUNT(*) AS n_sampled,
       round(SUM(value), 2) AS sampled_value
FROM events
WHERE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 < 10
GROUP BY event_type
""",
    tags=("sample",),
)
def sample_deterministic_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by content hash — the reproducible
    alternative to TABLESAMPLE/rand() (which differ per engine, per run,
    and per partitioning).

    Hash-mod sampling is stable under repartitioning, joins, and retries —
    the property training pipelines need so a sampled doc set stays FIXED
    across runs and engines.  md5 is the portable hash (xxhash64 seeds
    differ across engines); scan-side, no shuffle beyond the aggregation."""
    ev = views(spark, sf_dir)["events"]
    bucket = F.expr(
        "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 4), 16, 10) AS INT) % 100"
    )
    return (
        ev.where(bucket < 10)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.sum("value"), 2).alias("sampled_value"),
        )
    )


@query(
    "sample_stratified_per_lang",
    oracle="""
SELECT doc_id, lang, source, rn
FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) t
WHERE rn <= 25
""",
    tags=("sample", "pipeline"),
)
def sample_stratified_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: a fixed-size (25-doc) deterministic sample per
    language stratum, ordered by content hash so the draw is uniform,
    reproducible across engines/runs, and stable under repartitioning.

    The balancing step of corpus construction (equal per-language quotas
    regardless of raw distribution).  One shuffle on the stratum key; the
    hash order makes it a random-but-fixed draw without rand()'s
    engine/run instability."""
    from pyspark.sql import Window as W

    d = views(spark, sf_dir)["documents"]
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang", "source", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 25)
    )


@query(
    "incremental_upsert_orders",
    oracle="""
WITH base AS (
  SELECT * FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders WHERE o_orderdate < DATE '1997-01-01') WHERE rn = 1
),
updates AS (
  SELECT * FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders WHERE o_orderdate >= DATE '1997-01-01') WHERE rn = 1
)
SELECT COUNT(*) AS n_current,
       CAST(SUM(CASE WHEN u.o_custkey IS NOT NULL AND b.o_custkey IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
       CAST(SUM(CASE WHEN b.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_inserted,
       CAST(SUM(CASE WHEN u.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_carried,
       CAST(SUM(CAST(round(COALESCE(u.o_totalprice, b.o_totalprice) * 100)
                     AS BIGINT)) AS BIGINT) AS state_cents
FROM base b FULL JOIN updates u ON b.o_custkey = u.o_custkey
""",
    tags=("incremental", "merge", "join"),
)
def incremental_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert (CDC apply): maintain a per-customer current-state
    table where a batch of newer records overrides the stored state by key
    — updates win, unmatched updates insert, unmatched state carries over.
    This is the incremental-maintenance kernel of every lakehouse table
    (Delta MERGE INTO / Hudi upsert) expressed as a full-outer join.

    Scale shape: both sides reduce to one row per key BEFORE the merge
    join (window argmax — map-side-friendly), so the full-outer join
    carries |keys| rows, not |history|; at 100 TB bucket both state and
    CDC batches on the merge key and the join drops its shuffle entirely
    (see sink_roundtrip_bucketed_join).  The summary proves row
    provenance: updated vs inserted vs carried counts plus an exact
    integer-cents checksum of the merged state."""
    from pyspark.sql import Window as W

    v = views(spark, sf_dir)
    orders = v["orders"]
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("o_custkey", "o_totalprice")
        )

    base = latest(orders.where(F.col("o_orderdate") < "1997-01-01"))
    updates = latest(orders.where(F.col("o_orderdate") >= "1997-01-01"))
    b = base.select(
        F.col("o_custkey").alias("b_key"), F.col("o_totalprice").alias("b_price")
    )
    u = updates.select(
        F.col("o_custkey").alias("u_key"), F.col("o_totalprice").alias("u_price")
    )
    merged = b.join(u, b["b_key"] == u["u_key"], "full_outer")
    return merged.agg(
        F.count("*").alias("n_current"),
        F.sum(
            F.when(F.col("u_key").isNotNull() & F.col("b_key").isNotNull(), 1).otherwise(0)
        ).alias("n_updated"),
        F.sum(F.when(F.col("b_key").isNull(), 1).otherwise(0)).alias("n_inserted"),
        F.sum(F.when(F.col("u_key").isNull(), 1).otherwise(0)).alias("n_carried"),
        F.sum(
            F.round(F.coalesce("u_price", "b_price") * 100).cast("bigint")
        ).alias("state_cents"),
    )


@query(
    "orders_scd2_history",
    oracle="""
SELECT o_custkey,
       o_orderkey,
       o_orderdate AS valid_from,
       LEAD(o_orderdate) OVER w AS valid_to,
       LEAD(o_orderdate) OVER w IS NULL AS is_current,
       o_totalprice AS state_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    tags=("incremental", "scd", "window"),
)
def orders_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: turn an event-ordered fact stream into
    validity-interval rows — each state valid from its own date until the
    next state's date, the open interval marking the current row.  This is
    the dimension-history layout every warehouse derives before as-of
    joins (and the batch twin of CDC apply in incremental_upsert_orders).

    Scale shape: one window over (key, date) — a single key-partitioned
    shuffle, no self-join (the naive formulation joins the table to itself
    on "next date", doubling the shuffle and exploding on date ties).
    At 100 TB this is the cheapest possible interval build: shuffle once,
    LEAD within partitions."""
    from pyspark.sql import Window as W

    v = views(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        v["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").alias("valid_from"),
            F.lead("o_orderdate").over(w).alias("valid_to"),
            F.lead("o_orderdate").over(w).isNull().alias("is_current"),
            F.col("o_totalprice").alias("state_price"),
        )
    )


# ── Bloom-filter semi-join pruning ──────────────────────────────────────────

_BLOOM_M = 16384  # filter bits (2 KiB) — sized for ~300 keys at sf0.01
_BLOOM_K = 5      # probes per key
_MASK56 = (1 << 56) - 1


def _bloom_oracle() -> str:
    """DuckDB oracle replicating the Spark Bloom filter BIT-FOR-BIT.

    Both engines derive the k probe positions with Kirsch-Mitzenmacher
    double hashing over Spark's xxhash64 of the BIGINT key — the DuckDB
    side uses the generated closed-form ``hash_long_sql`` /
    ``spark_xxhash64_long1_sql`` (functions/xxh64_sql.py), so false
    positives (not just true matches) agree exactly across engines.
    """
    from parquet_query_spark.functions.xxh64_sql import (
        hash_long_sql,
        spark_xxhash64_long1_sql,
    )

    def h12(col: str) -> str:
        return (
            f"CAST({hash_long_sql(col)} & {_MASK56} AS BIGINT) AS h1, "
            f"CAST(({spark_xxhash64_long1_sql(col)}) & {_MASK56} AS BIGINT) * 2 + 1 AS h2"
        )

    probe_join = " ".join(
        f"LEFT JOIN words w{i} ON w{i}.w = ((h1 + {i} * h2) % {_BLOOM_M}) // 64 "
        f"AND (w{i}.word & (CAST(1 AS HUGEINT) << ((h1 + {i} * h2) % {_BLOOM_M}) % 64)) <> 0"
        for i in range(_BLOOM_K)
    )
    pass_cond = " AND ".join(f"w{i}.w IS NOT NULL" for i in range(_BLOOM_K))
    return f"""
WITH keys AS (
  SELECT c_custkey, {h12('c_custkey')}
  FROM customer WHERE c_mktsegment = 'BUILDING'
),
bits AS (
  SELECT DISTINCT ((h1 + r.range * h2) % {_BLOOM_M}) AS pos
  FROM keys CROSS JOIN range({_BLOOM_K}) r
),
words AS (
  SELECT pos // 64 AS w, bit_or(CAST(1 AS HUGEINT) << (pos % 64)) AS word
  FROM bits GROUP BY 1
),
probe AS (
  SELECT o_custkey, o_totalprice, {h12('o_custkey')}
  FROM orders
),
flagged AS (
  SELECT probe.*, ({pass_cond}) AS bloom_pass,
         EXISTS (SELECT 1 FROM keys k WHERE k.c_custkey = probe.o_custkey) AS exact_match
  FROM probe {probe_join}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(*) FILTER (bloom_pass) AS BIGINT) AS n_bloom_pass,
       CAST(COUNT(*) FILTER (exact_match) AS BIGINT) AS n_exact,
       CAST(COUNT(*) FILTER (bloom_pass AND NOT exact_match) AS BIGINT) AS n_false_pos,
       CAST(SUM(CASE WHEN exact_match
                     THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS matched_cents
FROM flagged
"""


@query("bloom_prune_join", oracle=_bloom_oracle(), tags=("join", "skew", "scale"))
def bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction: prune a fact scan with a tiny
    bit-array filter built from the dimension's qualifying keys BEFORE the
    exact join — the manual form of what runtime row-group filters /
    dynamic partition pruning do, and the 100 TB pattern for cutting a
    shuffle's input when the build side is selective.

    Build: qualifying keys → k=5 probe positions via double hashing
    (h1 + i*h2 mod m, both halves from Spark's xxhash64 of the key) →
    per-word OR-reduction → a 2 KiB word array collected to the driver
    (bounded by m/64 = 256 words — the legitimate broadcast-scalar
    pattern, like the k-means codebooks).  Probe: scan-side boolean over
    the embedded word literals; only surviving rows reach the exact
    semi-join that removes false positives.  The summary row carries the
    filter's observed selectivity and false-positive count, and the
    whole construction is hash-verified against a DuckDB oracle that
    rebuilds the identical filter (closed-form XXH64 SQL).
    """
    v = views(spark, sf_dir)
    h1 = F.xxhash64("c_custkey").bitwiseAND(F.lit(_MASK56)).alias("h1")
    h2 = (F.xxhash64("c_custkey", F.lit(1)).bitwiseAND(F.lit(_MASK56)) * 2 + 1).alias("h2")
    keys = v["customer"].where(F.col("c_mktsegment") == "BUILDING").select("c_custkey", h1, h2)

    words_df = (
        keys.select(F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))).alias("i"), "h1", "h2")
        .withColumn("pos", (F.col("h1") + F.col("i") * F.col("h2")) % _BLOOM_M)
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
    )
    # Bounded driver transfer: ≤ m/64 = 256 longs (2 KiB), independent of
    # fact-table size — the filter itself is the reduction.
    words = [0] * (_BLOOM_M // 64)
    for r in words_df.collect():
        words[r["w"]] = r["word"]
    warr = F.array(*[F.lit(int(w)) for w in words])

    oh1 = F.xxhash64("o_custkey").bitwiseAND(F.lit(_MASK56))
    oh2 = F.xxhash64("o_custkey", F.lit(1)).bitwiseAND(F.lit(_MASK56)) * 2 + 1
    probe = v["orders"].select(
        "o_custkey",
        "o_totalprice",
        oh1.alias("h1"),
        oh2.alias("h2"),
    ).withColumn("warr", warr)
    checks = None
    for i in range(_BLOOM_K):
        c = F.expr(
            f"(element_at(warr, CAST((h1 + {i} * h2) % {_BLOOM_M} DIV 64 + 1 AS INT)) & "
            f"shiftleft(CAST(1 AS BIGINT), CAST((h1 + {i} * h2) % {_BLOOM_M} % 64 AS INT))) <> 0"
        )
        checks = c if checks is None else (checks & c)
    flagged = probe.withColumn("bloom_pass", checks).drop("warr")
    matched = (
        flagged.join(
            F.broadcast(keys.select("c_custkey")),
            flagged.o_custkey == F.col("c_custkey"),
            "left",
        )
        .withColumn("exact_match", F.col("c_custkey").isNotNull())
        .drop("c_custkey")
    )
    return matched.agg(
        F.count("*").alias("n_orders"),
        F.count_if("bloom_pass").alias("n_bloom_pass"),
        F.count_if("exact_match").alias("n_exact"),
        F.count_if(F.col("bloom_pass") & ~F.col("exact_match")).alias("n_false_pos"),
        F.sum(
            F.when(
                F.col("exact_match"),
                F.round(F.col("o_totalprice") * 100).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("matched_cents"),
    )


@query(
    "warehouse_forget_users",
    oracle="""
WITH flagged AS (
  SELECT event_type, value, user_id, user_id % 97 = 0 AS gone
  FROM events
)
SELECT event_type,
       CAST(SUM(CASE WHEN NOT gone THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN gone THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       CAST(SUM(CASE WHEN NOT gone THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS kept_cents,
       CAST(SUM(CASE WHEN gone THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS deleted_cents,
       CAST(COUNT(DISTINCT CASE WHEN gone THEN user_id END) AS BIGINT) AS n_users_deleted
FROM flagged
GROUP BY event_type
""",
    tags=("pipeline", "warehouse", "join"),
)
def warehouse_forget_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten (GDPR/CCPA) delete: given a deletion-request
    table of user ids, split the fact table into the surviving corpus and
    the purged rows, and emit the per-type audit a compliance run must
    produce (row counts, value checksums, distinct users purged).

    The id list here is derived deterministically (user_id % 97 = 0 stands
    in for the request table) but the PLAN is the real one: requests are a
    table, not a predicate — the fact scan LEFT ANTI / LEFT SEMI joins
    against the broadcast id list, so a 100 TB corpus is touched in one
    pass per output and no executor ever sees the full request list as a
    parsed IN-list.  The oracle states the same split as plain SQL."""
    v = views(spark, sf_dir)
    ev = v["events"]
    tomb = (
        ev.where(F.col("user_id") % 97 == 0)
        .select("user_id")
        .distinct()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    kept = (
        ev.join(F.broadcast(tomb), "user_id", "left_anti")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.sum(cents).cast("bigint").alias("kept_cents"),
        )
    )
    deleted = (
        ev.join(F.broadcast(tomb), "user_id", "left_semi")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_deleted"),
            F.sum(cents).cast("bigint").alias("deleted_cents"),
            F.countDistinct("user_id").cast("bigint").alias("n_users_deleted"),
        )
    )
    return (
        kept.join(deleted, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("n_deleted", F.lit(0)).cast("bigint").alias("n_deleted"),
            F.coalesce("kept_cents", F.lit(0)).cast("bigint").alias("kept_cents"),
            F.coalesce("deleted_cents", F.lit(0)).cast("bigint").alias("deleted_cents"),
            F.coalesce("n_users_deleted", F.lit(0)).cast("bigint").alias("n_users_deleted"),
        )
    )


_CMS_W = 512  # counters per row
_CMS_D = 4    # hash rows


def _cms_oracle() -> str:
    from parquet_query_spark.functions.xxh64_sql import (
        hash_long_sql,
        spark_xxhash64_long1_sql,
    )

    def h12(col: str) -> str:
        return (
            f"CAST({hash_long_sql(col)} & {_MASK56} AS BIGINT) AS h1, "
            f"CAST(({spark_xxhash64_long1_sql(col)}) & {_MASK56} AS BIGINT) * 2 + 1 AS h2"
        )

    return f"""
WITH hashed AS (
  SELECT user_id, {h12('user_id')}
  FROM events
),
sketch AS (
  SELECT r.range AS d, (h1 + r.range * h2) % {_CMS_W} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS counter
  FROM hashed CROSS JOIN range({_CMS_D}) r
  GROUP BY 1, 2
),
top AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM events GROUP BY user_id
  ORDER BY exact_n DESC, user_id
  LIMIT 10
),
th AS (
  SELECT t.user_id, t.exact_n, {h12('t.user_id')}
  FROM top t
),
est AS (
  SELECT th.user_id, th.exact_n, MIN(s.counter) AS cms_n
  FROM th CROSS JOIN range({_CMS_D}) r
  JOIN sketch s ON s.d = r.range AND s.bucket = (th.h1 + r.range * th.h2) % {_CMS_W}
  GROUP BY th.user_id, th.exact_n
)
SELECT user_id, exact_n, CAST(cms_n AS BIGINT) AS cms_n,
       CAST(cms_n - exact_n AS BIGINT) AS overcount
FROM est
"""


@query(
    "agg_cms_heavy_hitters",
    oracle=_cms_oracle(),
    tags=("aggregate", "approx", "sketch"),
)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy-hitter estimation, fully hash-verified: a
    4x512 counter matrix summarizes the per-user event stream in constant
    (merge-friendly, map-side-combinable) memory, then the exact top-10
    users are probed against it — estimate = min over the 4 rows, never an
    underestimate, overcount reported per key.  Unlike the HLL/quantile
    entries (self-check tolerance flags), this sketch is built from the
    same deterministic double-hash family as bloom_prune_join (Spark
    xxhash64, reproduced closed-form in the oracle SQL), so BOTH engines
    build bit-identical counters and the driver hash-compares real sketch
    estimates, collisions and all.

    Scale shape: the sketch aggregation carries (d, bucket) — at most
    2048 groups regardless of corpus size; the probe side is 10 keys
    joining a broadcast sketch."""
    v = views(spark, sf_dir)
    ev = v["events"].select("user_id")

    def h1(col: str) -> F.Column:
        return F.xxhash64(col).bitwiseAND(F.lit(_MASK56))

    def h2(col: str) -> F.Column:
        return F.xxhash64(col, F.lit(1)).bitwiseAND(F.lit(_MASK56)) * 2 + 1

    hashed = ev.select("user_id", h1("user_id").alias("h1"), h2("user_id").alias("h2"))
    sketch = (
        hashed.select(
            F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("d"), "h1", "h2"
        )
        .withColumn("bucket", (F.col("h1") + F.col("d") * F.col("h2")) % _CMS_W)
        .groupBy("d", "bucket")
        .agg(F.count("*").cast("bigint").alias("counter"))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(10)
    )
    th = top.select(
        "user_id", "exact_n", h1("user_id").alias("h1"), h2("user_id").alias("h2")
    )
    probes = th.select(
        "user_id",
        "exact_n",
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("d"),
        "h1",
        "h2",
    ).withColumn("bucket", (F.col("h1") + F.col("d") * F.col("h2")) % _CMS_W)
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("counter").cast("bigint").alias("cms_n"))
        .select(
            "user_id",
            "exact_n",
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).cast("bigint").alias("overcount"),
        )
    )


@query(
    "warehouse_snapshot_diff",
    oracle="""
WITH old AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 97 <> 0
),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 89 = 0
              THEN round(o_totalprice * 1.1, 2) ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 101 <> 0
),
d AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN o.o_totalprice <> n.o_totalprice THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(o_orderkey) AS BIGINT) AS first_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS last_key
FROM d GROUP BY status
""",
    tags=("warehouse", "join"),
)
def warehouse_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot table diff (added / removed / changed /
    unchanged counts) — the reconciliation report behind incremental
    ingestion audits.  Snapshots are derived deterministically from the
    orders table (key-mod drops simulate churn, a key-mod price bump
    simulates updates) so both engines diff identical inputs.

    Scale shape: ONE key-partitioned full-outer join of the two
    snapshots — the canonical unbroadcastable fact-by-fact merge where
    sort-merge is the plan you want — followed by a 4-row rollup.  At
    100 TB both sides would be bucketed on the key to make the merge
    shuffle-free."""
    v = views(spark, sf_dir)
    o = v["orders"]
    old = o.where(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", F.col("o_totalprice").alias("old_price")
    )
    new = o.where(F.col("o_orderkey") % 101 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 89 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("new_price"),
    )
    d = old.join(new, "o_orderkey", "full_outer").select(
        "o_orderkey",
        F.when(F.col("old_price").isNull(), "added")
        .when(F.col("new_price").isNull(), "removed")
        .when(F.col("old_price") != F.col("new_price"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return (
        d.groupBy("status")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("o_orderkey").cast("bigint").alias("first_key"),
            F.max("o_orderkey").cast("bigint").alias("last_key"),
        )
    )


@query(
    "warehouse_partition_skew_report",
    oracle="""
WITH p AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS part_day,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM events GROUP BY 1
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(n_rows) AS BIGINT) AS total_rows,
         CAST(MAX(n_rows) AS BIGINT) AS max_rows
  FROM p
)
SELECT p.part_day, p.n_rows,
       round(CAST(p.n_rows AS DOUBLE) * s.n_parts / s.total_rows, 3) AS skew_factor,
       CASE WHEN CAST(p.n_rows AS DOUBLE) * s.n_parts / s.total_rows > 2.0
            THEN 1 ELSE 0 END AS is_hot
FROM p, s
WHERE CAST(p.n_rows AS DOUBLE) * s.n_parts / s.total_rows > 1.5
   OR p.n_rows = s.max_rows
""",
    tags=("warehouse", "aggregate", "skew"),
)
def warehouse_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-health report for a day-partitioned events table: each
    day's row count against the uniform expectation (skew factor =
    n_rows x n_parts / total), listing days above 1.5x plus the single
    largest day.  Hot partitions are what turn a 1000-executor scan into
    a one-straggler scan; this is the report that justifies salting or
    sub-partitioning BEFORE the job falls over.

    Scale shape: one map-side-combined day rollup and a broadcast 3-int
    global stat; the report is bounded by the calendar."""
    v = views(spark, sf_dir)
    p = v["events"].groupBy(
        F.date_trunc("day", "ts").cast("date").alias("part_day")
    ).agg(F.count("*").cast("bigint").alias("n_rows"))
    s = p.agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.max("n_rows").cast("bigint").alias("max_rows"),
    )
    skew = F.col("n_rows").cast("double") * F.col("n_parts") / F.col("total_rows")
    return (
        p.crossJoin(F.broadcast(s))
        .where((skew > 1.5) | (F.col("n_rows") == F.col("max_rows")))
        .select(
            "part_day",
            "n_rows",
            F.round(skew, 3).alias("skew_factor"),
            F.when(skew > 2.0, 1).otherwise(0).alias("is_hot"),
        )
    )
