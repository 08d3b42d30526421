"""Composed training-data pipeline: the operators chained the way a real
corpus-cleaning job chains them — one declarative plan, one pass.

Composition matters at 100 TB: each stage below is a narrow projection or
filter that Catalyst fuses into the scan + a single dedup shuffle, instead
of three materialized intermediate datasets.  (Language filter and quality
metrics are scan-side; only the content-hash dedup shuffles.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_query_spark.operators.catalog import query, views


@query(
    "pipeline_clean_corpus",
    oracle="""
WITH m AS (
  SELECT doc_id, lang, source, text,
         length(text) AS n_chars,
         len(string_split_regex(trim(text), '\\s+')) AS n_words,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct
  FROM documents
),
kept AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM m
  WHERE lang = 'en'
    AND n_words >= 20
    AND CAST(n_punct AS DOUBLE) / n_chars < 0.1
)
SELECT doc_id, source, n_words,
       round(CAST(n_punct AS DOUBLE) / n_chars, 4) AS punct_ratio
FROM kept WHERE rn = 1
""",
    tags=("pipeline", "dedup", "text"),
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """language filter -> quality filter -> exact dedup (keep lowest doc_id),
    in one plan.

    The filters run scan-side (no shuffle); the only exchange is the
    content-hash window for dedup.  At 100 TB this is the shape you want:
    data reduction BEFORE the expensive shuffle, and the shuffle keyed on
    a 128-bit hash, never the document text."""
    d = views(spark, sf_dir)["documents"]
    m = d.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.length("text").alias("n_chars"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_words"),
        F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]+", "")).alias("n_punct"),
    )
    kept = m.where(
        (F.col("lang") == "en")
        & (F.col("n_words") >= 20)
        & (F.col("n_punct").cast("double") / F.col("n_chars") < 0.1)
    )
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    return (
        kept.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "source",
            "n_words",
            F.round(F.col("n_punct").cast("double") / F.col("n_chars"), 4).alias(
                "punct_ratio"
            ),
        )
    )


@query(
    "pipeline_quality_threshold",
    oracle="""
WITH m AS (
  SELECT doc_id, lang,
         len(string_split_regex(trim(text), '\\s+')) AS n_words
  FROM documents
),
t AS (SELECT quantile_cont(n_words, 0.10) AS thr FROM m)
SELECT m.doc_id, m.lang, m.n_words
FROM m CROSS JOIN t
WHERE m.n_words >= t.thr
""",
    tags=("pipeline", "text"),
)
def pipeline_quality_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality filtering: drop documents below the 10th
    percentile of a quality metric (here word count).

    The pattern that matters at 100 TB: the threshold is ONE aggregated
    scalar broadcast back over the corpus (scalar-subquery shape), so the
    filter runs scan-side against a single number — no per-row window, no
    second shuffle of the data.  At cluster scale you'd swap the exact
    percentile for approx_percentile (mergeable sketch); exact is used
    here so the threshold is engine-identical for the oracle."""
    d = views(spark, sf_dir)["documents"]
    m = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_words"),
    )
    thr = m.agg(F.percentile("n_words", F.lit(0.10)).alias("thr"))
    return (
        m.crossJoin(F.broadcast(thr))
        .where(F.col("n_words") >= F.col("thr"))
        .select("doc_id", "lang", "n_words")
    )


@query(
    "pipeline_pack_sequences",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks FROM documents
),
chunks AS (
  SELECT doc_id, lang,
         unnest(range(0, CAST(ceil(len(toks) / 32.0) AS BIGINT))) AS chunk_no,
         toks
  FROM t
),
sized AS (
  SELECT doc_id, lang, CAST(chunk_no AS INTEGER) AS chunk_no,
         len(list_slice(toks, chunk_no * 32 + 1, chunk_no * 32 + 32)) AS n_tokens,
         md5(array_to_string(list_slice(toks, chunk_no * 32 + 1, chunk_no * 32 + 32), ' ')) AS chunk_hash
  FROM chunks
),
placed AS (
  SELECT *,
         CAST(floor((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id, chunk_no
                                         ROWS UNBOUNDED PRECEDING) - n_tokens) / 256.0) AS BIGINT) AS bin_id
  FROM sized
)
SELECT lang, bin_id,
       COUNT(*)                          AS n_chunks,
       SUM(n_tokens)::BIGINT             AS n_tokens,
       round(SUM(n_tokens) / 256.0, 4)   AS fill_ratio,
       md5(string_agg(chunk_hash, '' ORDER BY doc_id, chunk_no)) AS bin_hash
FROM placed
GROUP BY lang, bin_id
""",
    tags=("pipeline", "text"),
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: split documents into 32-token chunks,
    concatenate per language in (doc_id, chunk_no) order, and cut the
    stream into 256-token bins (GPT-style packing — chunks may straddle a
    bin boundary; bin = floor(start_offset / budget)).

    Scale shape: chunking is a scan-side 1→N explode; placement is ONE
    running-sum window per language partition (shuffle keyed on lang — at
    production scale partition by (lang, shard) so each window partition
    fits an executor); the per-bin rollup re-uses the same partitioning.
    bin_hash fingerprints bin contents order-sensitively so a re-run or a
    second engine can verify identical packing."""

    v = views(spark, sf_dir)
    t = v["documents"].select(
        "doc_id", "lang", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    chunks = t.select(
        "doc_id",
        "lang",
        "toks",
        F.explode(
            F.expr("sequence(0, CAST(ceil(size(toks) / 32.0) AS BIGINT) - 1)")
        ).alias("chunk_no"),
    )
    piece = F.expr("slice(toks, CAST(chunk_no * 32 + 1 AS INT), 32)")
    sized = chunks.select(
        "doc_id",
        "lang",
        F.col("chunk_no").cast("int").alias("chunk_no"),
        F.size(piece).alias("n_tokens"),
        F.md5(F.concat_ws(" ", piece)).alias("chunk_hash"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id", "chunk_no")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = sized.withColumn(
        "bin_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 256.0).cast("long"),
    )
    ordered_hashes = F.expr(
        "transform(array_sort(collect_list(struct(doc_id, chunk_no, chunk_hash))), x -> x.chunk_hash)"
    )
    return (
        placed.groupBy("lang", "bin_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.sum("n_tokens") / 256.0, 4).alias("fill_ratio"),
            F.md5(F.concat_ws("", ordered_hashes)).alias("bin_hash"),
        )
    )


@query(
    "pipeline_source_mixing",
    oracle="""
WITH per_source AS (
  SELECT source,
         COUNT(*) AS n_docs,
         SUM(len(string_split_regex(trim(text), '\\s+')))::BIGINT AS n_tokens
  FROM documents
  GROUP BY source
),
weighted AS (
  SELECT *,
         pow(CAST(n_tokens AS DOUBLE), 0.5) AS raw_w,
         SUM(n_tokens) OVER ()              AS tot_tokens,
         SUM(pow(CAST(n_tokens AS DOUBLE), 0.5)) OVER () AS tot_w
  FROM per_source
)
SELECT source, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6)        AS natural_share,
       round(raw_w / tot_w, 6)                                AS mix_weight,
       round((raw_w / tot_w) * tot_tokens / n_tokens, 4)      AS epochs
FROM weighted
""",
    tags=("pipeline", "text"),
)
def pipeline_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture design (temperature-sampled source weighting, the
    multilingual-LM alpha=0.5 recipe): per source, token counts, the
    natural share, the temperature-flattened mixing weight, and the implied
    epoch count (how many passes over that source one training run makes
    when sampling by weight).  epochs > 1 on small sources = upsampling.

    Scale shape: token counting collapses into a map-side-combined
    groupBy(source) — the shuffle carries one (source, count, sum) row per
    source per task.  The normalization terms are window aggregates over
    the per-SOURCE table (tens of rows), so the unpartitioned window is a
    one-task no-op, not a corpus-wide single-partition shuffle."""

    v = views(spark, sf_dir)
    per_source = (
        v["documents"]
        .select("source", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_toks"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
    )
    raw_w = F.pow(F.col("n_tokens").cast("double"), 0.5)
    w_all = Window.partitionBy()
    weighted = per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        raw_w.alias("raw_w"),
        F.sum("n_tokens").over(w_all).alias("tot_tokens"),
        F.sum(raw_w).over(w_all).alias("tot_w"),
    )
    return weighted.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("tot_tokens"), 6).alias("natural_share"),
        F.round(F.col("raw_w") / F.col("tot_w"), 6).alias("mix_weight"),
        F.round(
            (F.col("raw_w") / F.col("tot_w")) * F.col("tot_tokens") / F.col("n_tokens"), 4
        ).alias("epochs"),
    )


@query(
    "pipeline_dataset_card",
    oracle="""
WITH per_source AS (
  SELECT source,
         COUNT(*) AS n_docs,
         COUNT(DISTINCT lang) AS n_langs,
         SUM(n_chars) AS total_chars
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_docs) AS tot_docs FROM per_source),
top_lang AS (
  SELECT source, lang AS top_lang FROM (
    SELECT source, lang,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY COUNT(*) DESC, lang) AS rnk
    FROM documents GROUP BY source, lang
  ) WHERE rnk = 1
)
SELECT s.source,
       s.n_docs,
       s.n_langs,
       CAST(s.total_chars AS BIGINT) AS total_chars,
       CAST(floor(s.total_chars * 1.0 / s.n_docs) AS BIGINT) AS avg_chars,
       CAST(floor(s.n_docs * 10000.0 / t.tot_docs) AS BIGINT) AS share_bp,
       l.top_lang
FROM per_source s CROSS JOIN tot t JOIN top_lang l ON s.source = l.source
""",
    tags=("pipeline", "profiling"),
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card generation: the per-source summary a corpus release
    publishes — document counts, language diversity, size, corpus share
    (basis points), and dominant language.  This is the profiling pass
    that runs after every pipeline stage to catch composition drift.

    Scale shape: one corpus scan feeding two key-partitioned aggregations
    (per-source rollup; per-(source,lang) counts for the argmax), plus a
    single-row total broadcast back onto the tiny per-source relation —
    the share computation never reshuffles the corpus.  Ratios are
    floored at fixed precision so both engines emit identical integers."""
    v = views(spark, sf_dir)
    docs = v["documents"]
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    tot = per_source.agg(F.sum("n_docs").alias("tot_docs"))
    w_top = Window.partitionBy("source").orderBy(F.desc("lang_docs"), F.asc("lang"))
    top_lang = (
        docs.groupBy("source", "lang")
        .agg(F.count("*").alias("lang_docs"))
        .withColumn("rnk", F.row_number().over(w_top))
        .where(F.col("rnk") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        per_source.crossJoin(F.broadcast(tot))
        .join(top_lang, "source")
        .select(
            "source",
            "n_docs",
            "n_langs",
            "total_chars",
            F.floor(F.col("total_chars") * 1.0 / F.col("n_docs"))
            .cast("bigint")
            .alias("avg_chars"),
            F.floor(F.col("n_docs") * 10000.0 / F.col("tot_docs"))
            .cast("bigint")
            .alias("share_bp"),
            "top_lang",
        )
    )


@query(
    "pipeline_gopher_rules",
    oracle="""
WITH m AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS words,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_sym
  FROM documents
),
r AS (
  SELECT doc_id,
         len(words) AS n_words,
         CAST(len(list_filter(words, w -> w IN ('the','a','of','to','and')))
              AS DOUBLE) / len(words) AS stop_frac,
         CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distinct_frac,
         CAST(n_chars - len(words) + 1 AS DOUBLE) / len(words) AS mean_wlen,
         CAST(n_sym AS DOUBLE) / n_chars AS sym_ratio
  FROM m
)
SELECT doc_id, n_words,
       n_words BETWEEN 20 AND 5000       AS rule_length,
       mean_wlen BETWEEN 3 AND 10        AS rule_word_length,
       sym_ratio <= 0.1                  AS rule_symbols,
       stop_frac >= 0.02                 AS rule_stopwords,
       distinct_frac >= 0.3              AS rule_diversity,
       (n_words BETWEEN 20 AND 5000) AND (mean_wlen BETWEEN 3 AND 10)
         AND sym_ratio <= 0.1 AND stop_frac >= 0.02 AND distinct_frac >= 0.3
         AS keep
FROM r
""",
    tags=("pipeline", "quality", "filter"),
)
def pipeline_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality filter (Rae et al. 2021 §A1.1,
    adapted thresholds): the rule battery a pretraining corpus pass
    applies per document — length bounds, mean word length, symbol ratio,
    function-word floor (real prose contains them), and lexical-diversity
    floor (kills boilerplate/repetition).  Emits every rule verdict plus
    the conjunction, so downstream audits see WHY a document fell.

    Scale shape: pure scan-side codegen expressions on one corpus pass —
    no UDFs, no shuffle; at 100 TB this
    filter is I/O-bound, which is the point (quality rules must not cost
    more than reading the data)."""
    v = views(spark, sf_dir)
    m = v["documents"].select(
        "doc_id",
        F.split(F.trim("text"), r"\s+").alias("words"),
        F.length("text").alias("n_chars"),
        F.expr(r"length(regexp_replace(text, '[A-Za-z0-9\\s]+', ''))").alias("n_sym"),
    )
    r = m.select(
        "doc_id",
        F.size("words").alias("n_words"),
        (
            F.size(
                F.filter(
                    "words",
                    lambda w: w.isin("the", "a", "of", "to", "and"),
                )
            ).cast("double")
            / F.size("words")
        ).alias("stop_frac"),
        (F.size(F.array_distinct("words")).cast("double") / F.size("words")).alias(
            "distinct_frac"
        ),
        (
            (F.col("n_chars") - F.size("words") + 1).cast("double") / F.size("words")
        ).alias("mean_wlen"),
        (F.col("n_sym").cast("double") / F.col("n_chars")).alias("sym_ratio"),
    )
    rule_length = F.col("n_words").between(20, 5000)
    rule_word_length = F.col("mean_wlen").between(3, 10)
    rule_symbols = F.col("sym_ratio") <= 0.1
    rule_stopwords = F.col("stop_frac") >= 0.02
    rule_diversity = F.col("distinct_frac") >= 0.3
    return r.select(
        "doc_id",
        "n_words",
        rule_length.alias("rule_length"),
        rule_word_length.alias("rule_word_length"),
        rule_symbols.alias("rule_symbols"),
        rule_stopwords.alias("rule_stopwords"),
        rule_diversity.alias("rule_diversity"),
        (
            rule_length & rule_word_length & rule_symbols & rule_stopwords & rule_diversity
        ).alias("keep"),
    )


def _shard_oracle() -> str:
    """Oracle for pipeline_shard_assignment — reproduces Spark's
    xxhash64(doc_id) via the closed-form hashLong SQL
    (functions/xxh64_sql.py), so shard membership matches bit-for-bit."""
    from parquet_query_spark.functions.xxh64_sql import MASK56, hash_long_sql

    h56 = f"CAST(({hash_long_sql('doc_id')}) & {MASK56} AS BIGINT)"
    return f"""
WITH hashed AS (
  SELECT doc_id, n_chars, {h56} AS h56, {h56} % 16 AS shard
  FROM documents
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
       CAST(bit_xor(h56) AS BIGINT) AS content_fingerprint
FROM hashed
GROUP BY shard
"""


@query("pipeline_shard_assignment", oracle=_shard_oracle(), tags=("pipeline", "scale"))
def pipeline_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment: every document maps to one
    of 16 output shards by content-independent key hash — the layout step
    before a sharded corpus write (`df.repartition(N, shard).write`), where
    reproducibility across engines, runs, and repartitioning is the whole
    point (retries and backfills must land each doc in the SAME shard).

    The report is the shard manifest a writer publishes: per-shard doc
    count, character volume (balance check — hash sharding keeps shards
    within a few percent of each other), id range, and an ORDER-FREE
    content fingerprint (bit_xor of the 56-bit key hashes) that lets an
    auditor verify shard membership without reading the data.  All
    integer aggregates; the shard hash is Spark's xxhash64, reproduced
    closed-form in the DuckDB oracle."""
    d = views(spark, sf_dir)["documents"]
    from parquet_query_spark.functions.xxh64_sql import MASK56

    h56 = F.xxhash64("doc_id").bitwiseAND(F.lit(MASK56))
    hashed = d.select(
        "doc_id", "n_chars", h56.alias("h56"), (h56 % 16).alias("shard")
    )
    return (
        hashed.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.expr("bit_xor(h56)").alias("content_fingerprint"),
        )
    )


@query(
    "pipeline_funnel_report",
    oracle="""
WITH m AS (
  SELECT doc_id, text,
         CAST(lang = 'en' AS INTEGER) AS f1,
         CAST(lang = 'en'
              AND len(string_split_regex(trim(text), '\\s+')) >= 20
              AND CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
                  / length(text) < 0.1 AS INTEGER) AS f2,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
),
w AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                               ORDER BY CASE WHEN f2 = 1 THEN 0 ELSE 1 END, doc_id) AS rn
  FROM m
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(f1) AS BIGINT) AS n1,
         CAST(SUM(f2) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN f2 = 1 AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(SUM(n_chars) AS BIGINT) AS c0,
         CAST(SUM(f1 * n_chars) AS BIGINT) AS c1,
         CAST(SUM(f2 * n_chars) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN f2 = 1 AND rn = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS c3
  FROM w
)
SELECT * FROM (
  SELECT CAST(0 AS INTEGER) AS stage_no, 'raw' AS stage, n0 AS n_docs, c0 AS n_chars,
         CAST(10000 AS BIGINT) AS retained_bp FROM s
  UNION ALL
  SELECT 1, 'lang_en', n1, c1, CAST(n1 * 10000 // n0 AS BIGINT) FROM s
  UNION ALL
  SELECT 2, 'quality', n2, c2, CAST(n2 * 10000 // n0 AS BIGINT) FROM s
  UNION ALL
  SELECT 3, 'exact_dedup', n3, c3, CAST(n3 * 10000 // n0 AS BIGINT) FROM s
)
""",
    tags=("pipeline", "text", "quality"),
)
def pipeline_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage attrition report for the cleaning funnel (raw →
    language → quality → exact dedup): document counts, byte volume, and
    integer-basis-point retention at every stage — the one-page summary a
    data-curation run publishes so mixture planners can see WHERE the
    corpus shrank (a language filter that eats 80% and a dedup pass that
    eats 2% need very different follow-ups).

    Everything is ONE corpus pass: stage membership is computed as
    cumulative flags per row, the dedup keeper is a content-hash window
    ranked (eligible-first, doc_id) so exactly one eligible row survives
    per content group, and a single conditional aggregation produces all
    four stages' counts — no per-stage rescans, no per-stage shuffles
    (the content-hash window's exchange is the only data movement)."""
    d = views(spark, sf_dir)["documents"]
    f1 = (F.col("lang") == "en").cast("int")
    f2 = (
        (F.col("lang") == "en")
        & (F.size(F.split(F.trim(F.col("text")), r"\s+")) >= 20)
        & (
            F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]+", "")).cast("double")
            / F.length("text")
            < 0.1
        )
    ).cast("int")
    m = d.select(
        "doc_id",
        "text",
        f1.alias("f1"),
        f2.alias("f2"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy(
        F.when(F.col("f2") == 1, 0).otherwise(1), F.col("doc_id")
    )
    ranked = m.withColumn("rn", F.row_number().over(w))
    keep3 = F.when((F.col("f2") == 1) & (F.col("rn") == 1), 1).otherwise(0)
    s = ranked.agg(
        F.count("*").cast("bigint").alias("n0"),
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum("f2").cast("bigint").alias("n2"),
        F.sum(keep3).cast("bigint").alias("n3"),
        F.sum("n_chars").cast("bigint").alias("c0"),
        F.sum(F.col("f1") * F.col("n_chars")).cast("bigint").alias("c1"),
        F.sum(F.col("f2") * F.col("n_chars")).cast("bigint").alias("c2"),
        F.sum(keep3 * F.col("n_chars")).cast("bigint").alias("c3"),
    )
    stages = s.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("stage_no"),
                        F.lit(name).alias("stage"),
                        F.col(f"n{i}").alias("n_docs"),
                        F.col(f"c{i}").alias("n_chars"),
                        (
                            F.lit(10000).cast("bigint")
                            if i == 0
                            else F.expr(f"n{i} * 10000 DIV n0").cast("bigint")
                        ).alias("retained_bp"),
                    )
                    for i, name in enumerate(["raw", "lang_en", "quality", "exact_dedup"])
                ]
            )
        ).alias("r")
    ).select("r.*")
    return stages


@query(
    "pipeline_token_budget_mix",
    oracle="""
WITH s AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n_sources FROM s)
SELECT s.source, s.n_docs, s.n_tokens,
       round(CAST(s.n_tokens AS DOUBLE) / t.total, 4)            AS observed_share,
       round(1.0 / t.n_sources, 4)                               AS target_share,
       round((1.0 / t.n_sources) * t.total / s.n_tokens, 3)      AS epochs_at_budget,
       CASE WHEN (1.0 / t.n_sources) * t.total / s.n_tokens > 3.0
            THEN 1 ELSE 0 END                                    AS overrepeat_risk
FROM s, t
""",
    tags=("pipeline", "aggregate"),
)
def pipeline_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation for a target mixture: given per-source
    token mass and a (here uniform) target share, how many epochs of each
    source does the budget imply — the data-budgeting arithmetic behind
    mixture reweighting, with a >3-epoch repeat-risk flag (repeating a
    small source many times degrades models faster than downweighting).

    Scale shape: one scan, per-source map-side-combined token sums, and
    a broadcast one-row total — the rollup is |sources| rows."""
    v = views(spark, sf_dir)
    s = v["documents"].groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    t = s.agg(
        F.sum("n_tokens").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_sources"),
    )
    epochs = (F.lit(1.0) / F.col("n_sources")) * F.col("total") / F.col("n_tokens")
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("total"), 4).alias(
                "observed_share"
            ),
            F.round(F.lit(1.0) / F.col("n_sources"), 4).alias("target_share"),
            F.round(epochs, 3).alias("epochs_at_budget"),
            F.when(epochs > 3.0, 1).otherwise(0).alias("overrepeat_risk"),
        )
    )


@query(
    "pipeline_holdout_split",
    oracle="""
WITH tagged AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 < 80
                THEN 'train'
              WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 < 90
                THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM tagged
GROUP BY split, lang
""",
    tags=("pipeline", "sample"),
)
def pipeline_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-stable key
    hash (md5-prefix bucket on doc_id, the same engine-portable hash the
    deterministic sampler uses) with the per-(split, lang) census that
    verifies the split didn't skew any language — assignment must be a
    pure function of the key so re-runs, engines, and backfills agree.

    Scale shape: pure scan-side bucketing + a |splits| x |langs|
    map-side-combined rollup; no shuffle of documents."""
    v = views(spark, sf_dir)
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "long"
    ) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        v["documents"]
        .select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )


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
    )


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
    )


_ANNEAL_BUDGET = 1_000_000  # tokens; 90% phase-1 uniform, 10% anneal


@query(
    "pipeline_annealing_mix",
    oracle=f"""
WITH per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)
              AS BIGINT) AS tokens,
         CAST(SUM(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_long
  FROM documents GROUP BY source
),
weighted AS (
  SELECT *,
         0.5 + CAST(n_long AS DOUBLE) / n_docs AS quality_w
  FROM per_source
),
tot AS (
  SELECT CAST(SUM(tokens) AS BIGINT) AS t_all,
         SUM(tokens * quality_w) AS t_weighted
  FROM weighted
)
SELECT source, tokens,
       round(CAST(n_long AS DOUBLE) / n_docs, 4) AS frac_long,
       CAST(round({_ANNEAL_BUDGET} * 0.9 * tokens / t_all) AS BIGINT)
         AS phase1_tokens,
       CAST(round({_ANNEAL_BUDGET} * 0.1 * tokens * quality_w / t_weighted) AS BIGINT)
         AS phase2_tokens,
       round({_ANNEAL_BUDGET} * 0.1 * quality_w / t_weighted, 6) AS phase2_epochs
FROM weighted CROSS JOIN tot
""",
    tags=("pipeline", "mixing"),
)
def pipeline_annealing_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase training-mix schedule (pretrain + anneal): phase 1
    allocates 90% of the token budget proportional to each source's raw
    token share; phase 2 (the anneal) re-weights by a quality factor
    (0.5 + fraction of long documents), upsampling high-quality sources
    — the schedule shape used by data-mixture annealing recipes.
    phase2_epochs = passes over the source the anneal allocation
    implies (sampling rate sanity check: >1 means repetition).

    Scale shape: one map-side-combined per-source aggregation; the
    budget math runs on |sources| rows against a broadcast 1-row total."""
    v = views(spark, sf_dir)
    toks = (
        F.length(F.trim(F.col("text")))
        - F.length(F.replace(F.trim(F.col("text")), F.lit(" "), F.lit("")))
        + 1
    )
    per_source = v["documents"].groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(toks).cast("bigint").alias("tokens"),
        F.sum(F.when(F.col("n_chars") >= 300, 1).otherwise(0))
        .cast("bigint")
        .alias("n_long"),
    )
    weighted = per_source.withColumn(
        "quality_w", F.lit(0.5) + F.col("n_long").cast("double") / F.col("n_docs")
    )
    tot = weighted.agg(
        F.sum("tokens").cast("bigint").alias("t_all"),
        F.sum(F.col("tokens") * F.col("quality_w")).alias("t_weighted"),
    )
    b = float(_ANNEAL_BUDGET)
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "tokens",
            F.round(F.col("n_long").cast("double") / F.col("n_docs"), 4).alias(
                "frac_long"
            ),
            F.round(b * 0.9 * F.col("tokens") / F.col("t_all"))
            .cast("bigint")
            .alias("phase1_tokens"),
            F.round(b * 0.1 * F.col("tokens") * F.col("quality_w") / F.col("t_weighted"))
            .cast("bigint")
            .alias("phase2_tokens"),
            F.round(b * 0.1 * F.col("quality_w") / F.col("t_weighted"), 6).alias(
                "phase2_epochs"
            ),
        )
    )


_SHUF_MOD = 2147483647  # 2^31 - 1 (Park-Miller modulus)


_SHUF_MULT = 48271


_SHUF_EPOCH = 8191


_N_SHARDS = 16


@query(
    "pipeline_epoch_shuffle_blocks",
    oracle=f"""
WITH keyed AS (
  SELECT e.epoch, d.doc_id,
         (d.doc_id * {_SHUF_MULT} + e.epoch * {_SHUF_EPOCH}) % {_SHUF_MOD} AS k
  FROM documents d
  CROSS JOIN (SELECT unnest([0, 1, 2]) AS epoch) e
),
placed AS (
  SELECT epoch, doc_id, k % {_N_SHARDS} AS shard,
         ROW_NUMBER() OVER (PARTITION BY epoch, k % {_N_SHARDS}
                            ORDER BY k, doc_id) AS pos
  FROM keyed
)
SELECT CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(pos * doc_id) AS BIGINT) AS order_checksum
FROM placed GROUP BY epoch, shard
""",
    tags=("pipeline", "shuffle"),
)
def pipeline_epoch_shuffle_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch corpus shuffle: every (doc, epoch) gets a
    Park-Miller-style key (doc_id * 48271 + epoch * 8191 mod 2^31-1),
    docs land in key-mod-16 shards and are ordered by key within the
    shard — the reshuffle-per-epoch a dataloader needs, reproducible
    from (doc_id, epoch) alone with no stored permutation.  The
    order_checksum (sum of position x doc_id) pins the exact within-
    shard order cross-engine, and differs across epochs (the point).

    Scale shape: keys are scan-side integer arithmetic (no overflow:
    doc_id * 48271 fits BIGINT to ~1.9e14 docs); the only window
    partitions by (epoch, shard) — at production scale shard count
    scales with the corpus, keeping partitions executor-sized."""
    v = views(spark, sf_dir)
    epochs = spark.range(3).select(F.col("id").alias("epoch"))
    keyed = (
        v["documents"]
        .select("doc_id")
        .crossJoin(F.broadcast(epochs))
        .select(
            "epoch",
            "doc_id",
            (
                (F.col("doc_id") * _SHUF_MULT + F.col("epoch") * _SHUF_EPOCH)
                % _SHUF_MOD
            ).alias("k"),
        )
    )
    placed = keyed.select(
        "epoch", "doc_id", "k", (F.col("k") % _N_SHARDS).alias("shard")
    ).withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
        ),
    )
    return (
        placed.groupBy(
            F.col("epoch").cast("bigint").alias("epoch"),
            F.col("shard").cast("bigint").alias("shard"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("pos") * F.col("doc_id")).cast("bigint").alias(
                "order_checksum"
            ),
        )
    )
