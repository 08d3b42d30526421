"""Round-7 operators: operational analytics (backlog burndown, sliding
reach), exact weighted statistics, deterministic mergeable sampling,
regex-function parity, LSH design tooling, and curriculum/data-governance
pipeline reports.

Parity model: reference (dotted-ai/parquet-query) delegates all SQL to
DuckdB-WASM (src/duckdb.ts:46-49), so every operator here carries a
DuckDB oracle and is verified by the differential harness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parquet_query_spark.operators.catalog import query, views


# ── orders_backlog_burndown ─────────────────────────────────────────────


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
ORDER BY month
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
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return (
        monthly.select(
            F.col("month").cast("date").alias("month"),
            "net_delta",
            F.sum("net_delta").over(w).cast("bigint").alias("open_backlog"),
        )
        .orderBy("month")
    )


# ── agg_weighted_median ─────────────────────────────────────────────────


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
ORDER BY flag
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
    wc = Window.partitionBy("flag").orderBy("price")
    wt = Window.partitionBy("flag")
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
        .orderBy("flag")
    )


# ── events_sliding_distinct_users ───────────────────────────────────────


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
ORDER BY target
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
        .orderBy("window_end")
    )


# ── scalar_regex_functions ──────────────────────────────────────────────


@query(
    "scalar_regex_functions",
    oracle=r"""
SELECT doc_id,
       regexp_extract(text, '[a-z]+') AS first_word,
       regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS second_word,
       regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled_prefix,
       regexp_matches(text, 'agg|scan') AS mentions_op,
       len(regexp_extract_all(text, '\b[a-z]{5,}\b')) AS long_words,
       len(string_split_regex(text, '\s+')) AS n_tokens
FROM (SELECT doc_id, substr(text, 1, 80) AS text FROM documents)
ORDER BY doc_id
""",
    tags=("scalar",),
)
def scalar_regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-function parity sweep: extract (group 0 and group n), global
    replace (DuckDB needs the 'g' flag; Spark replaces globally by
    default), rlike, match counting, and regex split — all on a bounded
    80-char prefix so the row stays cheap scan-side codegen."""
    v = views(spark, sf_dir)
    t = F.substring("text", 1, 80)
    return (
        v["documents"]
        .select("doc_id", t.alias("text"))
        .select(
            "doc_id",
            F.regexp_extract("text", "[a-z]+", 0).alias("first_word"),
            F.regexp_extract("text", "([a-z]+) ([a-z]+)", 2).alias("second_word"),
            F.regexp_replace("text", "[aeiou]", "_").alias("devoweled_prefix"),
            F.col("text").rlike("agg|scan").alias("mentions_op"),
            F.regexp_count("text", F.lit(r"\b[a-z]{5,}\b")).alias("long_words"),
            F.size(F.split("text", r"\s+")).alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


# ── profile_numeric_correlations ────────────────────────────────────────


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


# ── dedup_band_tuning_table ─────────────────────────────────────────────


@query(
    "dedup_band_tuning_table",
    oracle="""
WITH cfg AS (
  SELECT * FROM (VALUES (64, 1), (32, 2), (16, 4), (8, 8), (4, 16), (2, 32), (1, 64))
       AS t(bands, rows_per_band)
),
sims AS (SELECT CAST(unnest([0.5, 0.7, 0.8, 0.9, 0.95]) AS DOUBLE) AS s)
SELECT bands, rows_per_band,
       round(pow(1.0 / bands, 1.0 / rows_per_band), 3) AS approx_threshold,
       s AS jaccard,
       round(1.0 - pow(1.0 - pow(s, rows_per_band), bands), 4) AS p_candidate
FROM cfg, sims
ORDER BY bands DESC, s
""",
    tags=("dedup",),
)
def dedup_band_tuning_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding design table for a 64-hash MinHash signature: for each
    (bands, rows) factorization, the S-curve candidate probability
    1−(1−s^r)^b at representative Jaccard levels, plus the ~(1/b)^(1/r)
    threshold.  This is the table you consult before picking the band
    layout for a corpus-scale dedup run; pure literal compute, no scan."""
    return spark.sql(
        """
        WITH cfg AS (
          SELECT * FROM VALUES (64, 1), (32, 2), (16, 4), (8, 8), (4, 16),
                               (2, 32), (1, 64) AS t(bands, rows_per_band)
        ),
        sims AS (SELECT explode(array(0.5D, 0.7D, 0.8D, 0.9D, 0.95D)) AS s)
        SELECT bands, rows_per_band,
               round(power(1.0 / bands, 1.0 / rows_per_band), 3) AS approx_threshold,
               s AS jaccard,
               round(1.0 - power(1.0 - power(s, rows_per_band), bands), 4) AS p_candidate
        FROM cfg CROSS JOIN sims
        ORDER BY bands DESC, s
        """
    )


# ── sample_bottom_k_mergeable ───────────────────────────────────────────


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
    w = Window.orderBy("draw")
    return (
        keyed.orderBy("draw")
        .limit(100)
        .select(
            F.row_number().over(w).cast("bigint").alias("sample_rank"),
            "o_orderkey",
            "draw",
        )
        .orderBy("draw")
    )


# ── multimodal_exact_dupes_by_hash ──────────────────────────────────────


@query(
    "multimodal_exact_dupes_by_hash",
    oracle="""
WITH params AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS fmt,
         64 + ((ascii(substr(text, 1, 1)) % 256) * 7 + strlen(text)) % 1856 AS w,
         64 + ((ascii(substr(text, 1, 1)) % 256) * 13 + strlen(text) * 3) % 1016 AS h
  FROM documents
)
SELECT min(doc_id) AS keeper, count(*)::BIGINT AS n_copies, fmt
FROM params
GROUP BY fmt, w, h
HAVING count(*) > 1
ORDER BY keeper
""",
    tags=("multimodal", "dedup", "pandas-udf"),
)
def multimodal_exact_dupes_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary dedup of media payloads by content digest.

    The Spark side hashes the ACTUAL synthesized container bytes
    (sha2-256 over the binary column) and clusters on the digest — the
    pattern for byte-identical image/audio dedup over a lake, where the
    digest shuffles (32 bytes) instead of payloads (MBs).  The oracle
    cannot hash bytes it never materializes; it predicts the clusters
    analytically from the payload-synthesis parameters (format cycle +
    content-derived dimensions — multimodal.py:71), so a green row
    proves the byte-level clustering matches the content identity."""
    from parquet_query_spark.operators.multimodal import media_payloads

    media = media_payloads(spark, sf_dir)
    fmt = (
        F.when(F.col("doc_id") % 3 == 0, "png")
        .when(F.col("doc_id") % 3 == 1, "jpeg")
        .otherwise("gif")
    )
    return (
        media.select("doc_id", fmt.alias("fmt"), F.sha2("payload", 256).alias("digest"))
        .groupBy("digest", "fmt")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
        .select("keeper", "n_copies", "fmt")
        .orderBy("keeper")
    )


# ── text_c4_quality_filters ─────────────────────────────────────────────


@query(
    "text_c4_quality_filters",
    oracle=r"""
WITH scored AS (
  SELECT source,
         CASE WHEN NOT regexp_matches(text, '[.!?]\s*$') THEN 1 ELSE 0 END AS f_no_terminal_punct,
         CASE WHEN len(string_split_regex(trim(text), '\s+')) < 50 THEN 1 ELSE 0 END AS f_too_short,
         CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE)
                   / len(string_split_regex(trim(text), '\s+')) NOT BETWEEN 3 AND 10
              THEN 1 ELSE 0 END AS f_word_len,
         CASE WHEN contains(text, '{') THEN 1 ELSE 0 END AS f_brace,
         CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END AS f_lorem
  FROM documents
)
SELECT source, count(*)::BIGINT AS n_docs,
       CAST(SUM(f_no_terminal_punct) AS BIGINT) AS no_terminal_punct,
       CAST(SUM(f_too_short) AS BIGINT) AS too_short,
       CAST(SUM(f_word_len) AS BIGINT) AS bad_word_len,
       CAST(SUM(f_brace) AS BIGINT) AS has_brace,
       CAST(SUM(f_lorem) AS BIGINT) AS has_lorem,
       round(AVG(CASE WHEN f_no_terminal_punct + f_too_short + f_word_len
                          + f_brace + f_lorem = 0 THEN 1.0 ELSE 0.0 END), 4) AS pass_rate
FROM scored
GROUP BY source
ORDER BY source
""",
    tags=("text", "pipeline"),
)
def text_c4_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristic filter census per source: terminal punctuation,
    minimum word count, mean word length in [3,10], curly braces
    (code/markup tell), 'lorem ipsum' boilerplate.  One scan, all rules
    share the tokenization; per-source rollup is bounded by the source
    vocabulary.  (C4: Raffel et al. 2020, §2.2 heuristics.)"""
    v = views(spark, sf_dir)
    words = F.split(F.trim(F.col("text")), r"\s+")
    awl = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / F.size(words)
    d = v["documents"].select(
        "source",
        (~F.col("text").rlike(r"[.!?]\s*$")).cast("int").alias("f_no_terminal_punct"),
        (F.size(words) < 50).cast("int").alias("f_too_short"),
        (~awl.between(3, 10)).cast("int").alias("f_word_len"),
        F.col("text").contains("{").cast("int").alias("f_brace"),
        F.lower(F.col("text")).contains("lorem ipsum").cast("int").alias("f_lorem"),
    )
    total_flags = (
        F.col("f_no_terminal_punct") + F.col("f_too_short") + F.col("f_word_len")
        + F.col("f_brace") + F.col("f_lorem")
    )
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("f_no_terminal_punct").cast("bigint").alias("no_terminal_punct"),
            F.sum("f_too_short").cast("bigint").alias("too_short"),
            F.sum("f_word_len").cast("bigint").alias("bad_word_len"),
            F.sum("f_brace").cast("bigint").alias("has_brace"),
            F.sum("f_lorem").cast("bigint").alias("has_lorem"),
            F.round(F.avg(F.when(total_flags == 0, 1.0).otherwise(0.0)), 4).alias(
                "pass_rate"
            ),
        )
        .orderBy("source")
    )


# ── pipeline_curriculum_order ───────────────────────────────────────────


@query(
    "pipeline_curriculum_order",
    oracle=r"""
WITH scored AS (
  SELECT doc_id,
         round(
           0.5 * (len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE
                  / len(string_split_regex(trim(text), '\s+')))
           + 0.5 * least(len(string_split_regex(trim(text), '\s+'))::DOUBLE / 500.0, 1.0),
           6) AS score,
         len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
  FROM documents
),
tiled AS (
  SELECT doc_id, score, n_tokens,
         ntile(10) OVER (ORDER BY score DESC, doc_id) AS decile
  FROM scored
)
SELECT decile,
       CASE WHEN decile <= 3 THEN 'phase1_high'
            WHEN decile <= 7 THEN 'phase2_mid'
            ELSE 'phase3_tail' END AS phase,
       count(*)::BIGINT AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS phase_tokens,
       round(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_score,
       round(MIN(score), 6) AS min_score,
       round(MAX(score), 6) AS max_score
FROM tiled
GROUP BY decile
ORDER BY decile
""",
    tags=("pipeline", "text"),
)
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum assignment for training: score every document
    (lexical-diversity + length), NTILE into quality deciles, map deciles
    to curriculum phases, and report token budget per decile.

    Determinism: the per-doc score is rounded to 6 dp before ranking
    (NTILE ties broken by doc_id), and the group average accumulates in
    decimal(18,6) so reduction order cannot flip the rounded output.
    Scale: scoring is scan-side; NTILE sorts (score, doc_id) pairs only."""
    v = views(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tok = F.size(toks)
    score = F.round(
        0.5 * (F.size(F.array_distinct(toks)).cast("double") / n_tok)
        + 0.5 * F.least(n_tok.cast("double") / 500.0, F.lit(1.0)),
        6,
    )
    scored = v["documents"].select(
        "doc_id", score.alias("score"), n_tok.cast("bigint").alias("n_tokens")
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    tiled = scored.withColumn("decile", F.ntile(10).over(w))
    phase = (
        F.when(F.col("decile") <= 3, "phase1_high")
        .when(F.col("decile") <= 7, "phase2_mid")
        .otherwise("phase3_tail")
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("phase_tokens"),
            F.round(
                F.sum(F.col("score").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_score"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
        )
        .select("decile", phase.alias("phase"), "n_docs", "phase_tokens",
                "avg_score", "min_score", "max_score")
        .orderBy("decile")
    )


# ── lineitem_returnflag_mix_shift ───────────────────────────────────────


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
ORDER BY yr
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
        .orderBy("yr")
    )


# ── events_burstiness_fano ──────────────────────────────────────────────


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


# ── vocab_coverage_curve ────────────────────────────────────────────────


@query(
    "vocab_coverage_curve",
    oracle=r"""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
),
counts AS (SELECT token, count(*)::DOUBLE AS c FROM tok GROUP BY token),
totals AS (SELECT SUM(c) AS total, count(*)::BIGINT AS vocab FROM counts),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, token) AS rnk FROM counts
),
cum AS (
  SELECT rnk, SUM(c) OVER (ORDER BY rnk) AS cum_c FROM ranked WHERE rnk <= 1000
)
SELECT CAST(rnk AS INTEGER) AS top_n,
       round(cum_c / total, 4) AS coverage,
       vocab AS vocab_size,
       CAST(total AS BIGINT) AS total_tokens
FROM cum, totals
WHERE rnk IN (10, 100, 1000)
ORDER BY rnk
""",
    tags=("text", "pipeline"),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design curve: what fraction of all token occurrences the
    top-{10,100,1000} vocabulary entries cover.  Token counting is a
    map-side-combined rollup over the exploded corpus; only the top-1000
    (via TakeOrdered, no global sort) enter the cumulative window, so
    the single-partition cumsum is bounded at 1000 rows regardless of
    corpus size.  Counts are integers — sums exact in float64."""
    v = views(spark, sf_dir)
    counts = (
        v["documents"]
        .select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("double").alias("c"))
    )
    totals = counts.agg(
        F.sum("c").alias("total"), F.count("*").cast("bigint").alias("vocab")
    )
    top = counts.orderBy(F.desc("c"), F.asc("token")).limit(1000)
    w_rank = Window.orderBy(F.desc("c"), F.asc("token"))
    w_cum = Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0)
    ranked = top.withColumn("rnk", F.row_number().over(w_rank))
    cum = ranked.withColumn("cum_c", F.sum("c").over(w_cum))
    return (
        cum.where(F.col("rnk").isin(10, 100, 1000))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("rnk").cast("int").alias("top_n"),
            F.round(F.col("cum_c") / F.col("total"), 4).alias("coverage"),
            F.col("vocab").alias("vocab_size"),
            F.col("total").cast("bigint").alias("total_tokens"),
        )
        .orderBy("top_n")
    )


# ── window_rolling_median_revenue ───────────────────────────────────────


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
ORDER BY day
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
    w = Window.orderBy("day").rowsBetween(-6, 0)
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
        .orderBy("day")
    )


# ── embedding_ivf_nprobe_sweep ──────────────────────────────────────────


def _nprobe_sweep_oracle() -> str:
    from parquet_query_spark.operators.similarity import (
        _DUCKDB_COSINE_RAW,
        N_IVF_QUERIES,
    )

    cos_ec = _DUCKDB_COSINE_RAW.format(a="e.ev", b="c.cv")
    cos_qc = _DUCKDB_COSINE_RAW.format(a="q.qv", b="c.cv")
    cos_cand = _DUCKDB_COSINE_RAW.format(a="p.qv", b="p.ev")
    cos_truth = _DUCKDB_COSINE_RAW.format(a="q.qv", b="e.ev")
    return f"""
WITH cent_elems AS (
  SELECT label, i, round(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS v
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
  GROUP BY label, i
),
cent AS (SELECT label, list(v ORDER BY i) AS cv FROM cent_elems GROUP BY label),
corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings
),
assigned AS (
  SELECT vec_id, ev, c_label FROM (
    SELECT e.vec_id, e.ev, c.label AS c_label,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {cos_ec} DESC, c.label) AS rn
    FROM corpus e CROSS JOIN cent c
  ) WHERE rn = 1
),
queries AS (SELECT vec_id AS qid, ev AS qv FROM corpus WHERE vec_id < {N_IVF_QUERIES}),
probe_rank AS (
  SELECT q.qid, q.qv, c.label AS c_label,
         ROW_NUMBER() OVER (PARTITION BY q.qid
           ORDER BY {cos_qc} DESC, c.label) AS probe_rn
  FROM queries q CROSS JOIN cent c
),
truth AS (
  SELECT qid, neighbor_id FROM (
    SELECT q.qid, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid
             ORDER BY {cos_truth} DESC, e.vec_id) AS rnk
    FROM queries q CROSS JOIN corpus e
    WHERE e.vec_id <> q.qid
  ) WHERE rnk <= 5
),
sweep AS (SELECT unnest(range(1, 4)) AS nprobe),
cand AS (
  SELECT s.nprobe, p.qid, p.qv, a.vec_id AS neighbor_id, a.ev
  FROM sweep s
  JOIN probe_rank p ON p.probe_rn <= s.nprobe
  JOIN assigned a ON a.c_label = p.c_label
  WHERE a.vec_id <> p.qid
),
approx AS (
  SELECT nprobe, qid, neighbor_id FROM (
    SELECT p.nprobe, p.qid, p.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY p.nprobe, p.qid
             ORDER BY {cos_cand} DESC, p.neighbor_id) AS rnk
    FROM cand p
  ) WHERE rnk <= 5
),
hits AS (
  SELECT a.nprobe, count(*) AS n_hits
  FROM approx a JOIN truth t ON t.qid = a.qid AND t.neighbor_id = a.neighbor_id
  GROUP BY a.nprobe
),
scanned AS (
  SELECT nprobe, count(*) AS n_scanned FROM cand GROUP BY nprobe
),
sizes AS (SELECT count(*)::BIGINT AS corpus_n FROM corpus)
SELECT CAST(s.nprobe AS INTEGER) AS nprobe,
       CAST(COALESCE(h.n_hits, 0) * 10000 // ({N_IVF_QUERIES} * 5) AS BIGINT) AS recall_bp,
       CAST(sc.n_scanned * 10000 // ({N_IVF_QUERIES} * z.corpus_n) AS BIGINT) AS scanned_bp
FROM sweep s
LEFT JOIN hits h ON h.nprobe = s.nprobe
JOIN scanned sc ON sc.nprobe = s.nprobe
CROSS JOIN sizes z
ORDER BY nprobe
"""


@query(
    "embedding_ivf_nprobe_sweep",
    oracle=_nprobe_sweep_oracle(),
    tags=("similarity", "ann", "qa"),
)
def embedding_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@5 vs corpus-scanned fraction at
    nprobe ∈ {1,2,3} — the table consulted before picking nprobe for an
    ANN deployment (more probed cells = higher recall, more scan).

    Plan shape: ONE cell-assignment pass over the corpus (broadcast
    centroids), ONE probe ranking per query, then the sweep explodes
    only the (nprobe, probed-cell) pairs — the corpus is never
    rescanned per nprobe level.  Exact ground truth comes from the
    brute-force kernel on the bounded query slice.  Recall and scan
    share are floor-divided integer basis points (order-free)."""
    from pyspark.sql.window import Window as W

    from parquet_query_spark.operators.similarity import (
        N_IVF_QUERIES,
        _as_double,
        _dot,
        _norm,
    )

    v = views(spark, sf_dir)
    emb = v["embeddings"].select("vec_id", "label", _as_double("embedding").alias("ev"))
    cent = (
        emb.select("label", F.posexplode("ev").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("v"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
            ).alias("cv")
        )
        .select(F.col("label").alias("c_label"), "cv")
    )
    cos_ec = F.round(_dot("ev", "cv") / (_norm("ev") * _norm("cv")), 6)
    w_assign = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("c_label"))
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "ev", "c_label", cos_ec.alias("sim"))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "ev", "c_label")
    )
    q = emb.where(F.col("vec_id") < N_IVF_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("ev").alias("qv")
    )
    cos_qc = F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 6)
    w_probe = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("c_label"))
    probe_rank = (
        q.crossJoin(F.broadcast(cent))
        .select("qid", "qv", "c_label", cos_qc.alias("sim"))
        .withColumn("probe_rn", F.row_number().over(w_probe))
        .select("qid", "qv", "c_label", "probe_rn")
    )
    cos_qe = F.round(_dot("qv", "ev") / (_norm("qv") * _norm("ev")), 6)
    w_truth = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    truth = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("neighbor_id"), cos_qe.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w_truth))
        .where(F.col("rnk") <= 5)
        .select("qid", "neighbor_id")
    )
    sweep = spark.range(1, 4).select(F.col("id").cast("int").alias("nprobe"))
    cand = (
        assigned.join(
            F.broadcast(
                probe_rank.crossJoin(sweep).where(F.col("probe_rn") <= F.col("nprobe"))
            ),
            "c_label",
        )
        .where(F.col("vec_id") != F.col("qid"))
        .select("nprobe", "qid", "qv", F.col("vec_id").alias("neighbor_id"), "ev")
    )
    w_rank = W.partitionBy("nprobe", "qid").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    approx = (
        cand.select("nprobe", "qid", "neighbor_id", cos_qe.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w_rank))
        .where(F.col("rnk") <= 5)
        .select("nprobe", "qid", "neighbor_id")
    )
    # truth/hits/scanned are all query-slice-bounded (≤ queries×5×nprobe
    # rows) — broadcast them so no SortMergeJoin survives (VERDICT r7 #6)
    hits = approx.join(F.broadcast(truth), ["qid", "neighbor_id"]).groupBy(
        "nprobe"
    ).agg(F.count("*").alias("n_hits"))
    scanned = cand.groupBy("nprobe").agg(F.count("*").alias("n_scanned"))
    corpus_n = emb.agg(F.count("*").cast("bigint").alias("corpus_n"))
    return (
        sweep.join(F.broadcast(hits), "nprobe", "left")
        .join(F.broadcast(scanned), "nprobe")
        .crossJoin(F.broadcast(corpus_n))
        .select(
            "nprobe",
            F.expr(
                f"CAST(coalesce(n_hits, 0) * 10000 DIV ({N_IVF_QUERIES} * 5) AS BIGINT)"
            ).alias("recall_bp"),
            F.expr(
                f"CAST(n_scanned * 10000 DIV ({N_IVF_QUERIES} * corpus_n) AS BIGINT)"
            ).alias("scanned_bp"),
        )
        .orderBy("nprobe")
    )


# ── pipeline_mix_rebalance_delta ────────────────────────────────────────


@query(
    "pipeline_mix_rebalance_delta",
    oracle=r"""
WITH src AS (
  SELECT source,
         count(*)::BIGINT AS n_docs,
         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS t, CAST(SUM(CAST(floor(sqrt(tokens) * 1000000) AS BIGINT)) AS BIGINT) AS rsum FROM src)
SELECT source, n_docs, tokens,
       CAST(tokens * 10000 // t AS BIGINT) AS current_bp,
       CAST(CAST(floor(sqrt(tokens) * 1000000) AS BIGINT) * 10000 // rsum AS BIGINT) AS target_bp,
       CAST((CAST(floor(sqrt(tokens) * 1000000) AS BIGINT) * 10000 // rsum) * t // 10000
            - tokens AS BIGINT) AS token_delta,
       CAST(((CAST(floor(sqrt(tokens) * 1000000) AS BIGINT) * 10000 // rsum) * t // 10000
            - tokens) // greatest(tokens // n_docs, 1) AS BIGINT) AS doc_delta
FROM src, tot
ORDER BY source
""",
    tags=("pipeline",),
)
def pipeline_mix_rebalance_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-rebalance worksheet: given the τ=0.5 temperature-scaled
    target mixture (weights ∝ √tokens — the standard multilingual-LM
    upsampling curve), how many tokens/documents to add (+) or remove
    (−) per source to hit it.  Complements pipeline_source_mixing (which
    reports weights) by emitting the actionable delta.

    Exactness: √tokens is quantized to integer micro-units BEFORE the
    normalizing sum, then every share/delta is floor-divided integer
    arithmetic — no float reduction anywhere, so both engines agree to
    the last digit.  One scan, source-bounded rollup."""
    v = views(spark, sf_dir)
    src = v["documents"].groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("bigint")
        .alias("tokens"),
    )
    r = F.floor(F.sqrt(F.col("tokens")) * 1000000).cast("bigint")
    keyed = src.withColumn("r", r)
    tot = keyed.agg(
        F.sum("tokens").cast("bigint").alias("t"),
        F.sum("r").cast("bigint").alias("rsum"),
    )
    out = keyed.crossJoin(F.broadcast(tot))
    target_bp = F.expr("r * 10000 DIV rsum")
    token_delta = F.expr("(r * 10000 DIV rsum) * t DIV 10000 - tokens")
    return (
        out.select(
            "source",
            "n_docs",
            "tokens",
            F.expr("tokens * 10000 DIV t").cast("bigint").alias("current_bp"),
            target_bp.cast("bigint").alias("target_bp"),
            token_delta.cast("bigint").alias("token_delta"),
            F.expr(
                "((r * 10000 DIV rsum) * t DIV 10000 - tokens) "
                "DIV greatest(tokens DIV n_docs, 1)"
            ).cast("bigint").alias("doc_delta"),
        )
        .orderBy("source")
    )


# ── events_trend_mann_kendall ───────────────────────────────────────────


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
ORDER BY event_type
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
        .over(Window.partitionBy("event_type").orderBy("day"))
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
        .orderBy("event_type")
    )


# ── text_zipf_law_fit ───────────────────────────────────────────────────


@query(
    "text_zipf_law_fit",
    oracle=r"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
),
counts AS (
  SELECT source, token, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2
),
ranked AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, token) AS rnk
  FROM counts
),
terms AS (
  SELECT source,
         CAST(round(ln(rnk) * 1e9) AS BIGINT) AS x,
         CAST(round(ln(c) * 1e9) AS BIGINT) AS y,
         CAST(round(ln(rnk) * ln(c) * 1e9) AS BIGINT) AS xy,
         CAST(round(ln(rnk) * ln(rnk) * 1e9) AS BIGINT) AS x2,
         CAST(round(ln(c) * ln(c) * 1e9) AS BIGINT) AS y2
  FROM ranked WHERE rnk <= 100
),
sums AS (
  SELECT source, count(*)::HUGEINT AS k,
         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(xy) AS HUGEINT) AS sxy, CAST(SUM(x2) AS HUGEINT) AS sx2,
         CAST(SUM(y2) AS HUGEINT) AS sy2
  FROM terms GROUP BY source
)
SELECT source, CAST(k AS BIGINT) AS n_terms,
       round(CAST(-(1e9 * k * sxy - sx * sy) AS DOUBLE)
             / CAST(1e9 * k * sx2 - sx * sx AS DOUBLE), 6) AS zipf_slope,
       round(CAST((1e9 * k * sxy - sx * sy) AS DOUBLE)
             * CAST((1e9 * k * sxy - sx * sy) AS DOUBLE)
             / (CAST(1e9 * k * sx2 - sx * sx AS DOUBLE)
                * CAST(1e9 * k * sy2 - sy * sy AS DOUBLE)), 6) AS zipf_r2
FROM sums
ORDER BY source
""",
    tags=("text", "pipeline"),
)
def text_zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf-law fit: log-log OLS slope + R² over the top-100
    token frequencies — natural text sits near slope ~1 with high R²;
    machine-generated or templated sources drift off it, making this a
    corpus-composition screen next to the language-mix and code-detection
    ops.

    Determinism discipline (the events_hourly_entropy pattern): every
    per-term log product is nano-quantized to BIGINT BEFORE the sums, so
    aggregation order cannot move a bit; the five sums then feed one
    closed-form slope/R² per source in decimal(38,0) (HUGEINT on the
    oracle side — sx·sy overflows 64-bit), rounded to 6 dp.

    Scale shape: the token explode + (source, token) rollup is the only
    corpus-sized stage (map-side combined); the per-source rank window
    runs over the vocabulary-bounded count table and everything after is
    ≤100 rows per source."""
    v = views(spark, sf_dir)
    counts = (
        v["documents"]
        .select(
            "source",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    ranked = counts.select(
        "source",
        "c",
        F.row_number()
        .over(Window.partitionBy("source").orderBy(F.desc("c"), F.asc("token")))
        .alias("rnk"),
    ).where(F.col("rnk") <= 100)
    lx, ly = F.log(F.col("rnk").cast("double")), F.log(F.col("c").cast("double"))
    nano = lambda e: F.round(e * 1e9, 0).cast("bigint")  # noqa: E731
    terms = ranked.select(
        "source",
        nano(lx).alias("x"),
        nano(ly).alias("y"),
        nano(lx * ly).alias("xy"),
        nano(lx * lx).alias("x2"),
        nano(ly * ly).alias("y2"),
    )
    dec = "decimal(38,0)"
    sums = terms.groupBy("source").agg(
        F.count("*").cast(dec).alias("k"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum("xy").cast(dec).alias("sxy"),
        F.sum("x2").cast(dec).alias("sx2"),
        F.sum("y2").cast(dec).alias("sy2"),
    )
    giga = F.lit(1000000000).cast(dec)
    num = (giga * F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den_x = (giga * F.col("k") * F.col("sx2") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den_y = (giga * F.col("k") * F.col("sy2") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return sums.select(
        "source",
        F.col("k").cast("bigint").alias("n_terms"),
        F.round(-num / den_x, 6).alias("zipf_slope"),
        F.round(num * num / (den_x * den_y), 6).alias("zipf_r2"),
    ).orderBy("source")
