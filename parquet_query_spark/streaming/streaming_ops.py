"""Structured Streaming operators over the events table.

The reference has no streaming surface (SURVEY §2.C: execution is one-shot);
this is the planned extension (§7 step 7).  Each operator reads the events
parquet as a *stream* (``readStream``), applies watermark + windowed/stateful
logic, runs to completion against the static file (``processAllAvailable``)
and returns the materialized result — so the driver can treat it like any
batch query, and the DuckDB oracle is the equivalent batch SQL.

Scale notes: watermarks bound state; tumbling windows aggregate with
partial state per (window,key); session windows keep per-key session state.
On a real cluster the same code points at Kafka + a checkpoint location.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from parquet_query_spark.operators.catalog import query
from parquet_query_spark.operators.dedup import (
    _DUCKDB_SHINGLES,
    _SPARK_SHINGLES_SQL,
    _with_shingles,
)
from parquet_query_spark.operators.events_ops import _OHLC_ORACLE
from parquet_query_spark.sources.registry import load_table, read_parquet
from parquet_query_spark.sources.registry import _merged_schema, _parquet_footer, _parquet_parts


# Extra options applied to every streaming file source — tests set
# {"maxFilesPerTrigger": "1"} (with a multi-file table dir) to force the
# stream across micro-batch boundaries, exercising cross-batch state
# (VERDICT r7 Next-round #3).  Empty in production: the per-round driver
# drains each static file in however many batches the source picks.
_STREAM_READ_OPTIONS: dict[str, str] = {}

# Sink output dirs created by _run_to_table — removed at interpreter exit
# (the temp views read them lazily, so they must outlive the drive;
# without this every drive leaked a parquet dir, ADVICE r12).
_SINK_DIRS: list[str] = []


def _cleanup_sink_dirs() -> None:
    while _SINK_DIRS:
        shutil.rmtree(_SINK_DIRS.pop(), ignore_errors=True)


atexit.register(_cleanup_sink_dirs)


def _file_stream(spark: SparkSession, sf_dir: str, filename: str) -> tuple[DataFrame, int]:
    """``{sf_dir}/{filename}`` as a file-source stream, with the source's
    byte count (the input ``_state_partitions`` sizes the drive from).
    The path may be a single parquet file (normal testdata layout) or a
    DIRECTORY of part files — with ``maxFilesPerTrigger=1`` the parts
    arrive one micro-batch at a time in modification-time order, which is
    how the multi-batch tests drive order-sensitive state across batch
    boundaries.  The schema is the parts' footers merged on the driver
    (``sources.registry``), so building a stream runs no job."""
    path = f"{sf_dir}/{filename}"
    parts = _parquet_parts(path)
    schema = _merged_schema(spark, [_parquet_footer(spark, p) for p in parts])
    source_bytes = sum(os.path.getsize(p) for p in parts)
    reader = spark.readStream.schema(schema).format("parquet")
    for k, val in _STREAM_READ_OPTIONS.items():
        reader = reader.option(k, val)
    if os.path.isdir(path):
        return reader.load(path), source_bytes
    return reader.option("pathGlobFilter", filename).load(sf_dir), source_bytes


def _state_partitions(spark: SparkSession, source_bytes: int) -> int:
    """Shuffle/state-store partition count for a streaming drive, sized
    from ``source_bytes``, the byte count of the drive's file source
    (r14, VERDICT r13 #5).

    A streaming query freezes ``spark.sql.shuffle.partitions`` into its
    checkpoint at first batch, and each state partition is a live state
    store (under RocksDB: a native instance with real per-partition fixed
    cost — the r12 key-cardinality rehearsal measured ~3× wall at the
    512× tier when a flat 256 was used where the key count only needed
    ~32).  One config therefore cannot serve the whole decade unless it
    ADAPTS: size partitions at ~64 MB of source per state partition —
    key cardinality is bounded by rows, and rows track bytes for a fixed
    schema — clamped to [cores, 32×cores] so tiny corpora keep full
    parallelism and huge ones stay within sane instance counts per box
    (a cluster deployment scales the clamp with its core count)."""
    cpus = spark.sparkContext.defaultParallelism
    by_bytes = source_bytes // (64 << 20) + 1
    return int(max(cpus, min(32 * cpus, by_bytes)))


def _events_stream(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """events.parquet as a stream, nanos repaired inside the stream plan,
    with its source bytes (``_file_stream``)."""
    stream, source_bytes = _file_stream(spark, sf_dir, "events.parquet")
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # unadjusted-UTC parquet timestamps surface as NTZ, which watermarks
        # reject; session TZ is UTC so the cast is value-preserving
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream, source_bytes


def _run_to_table(
    result: DataFrame, name_prefix: str, source_bytes: int, mode: str = "complete"
) -> str:
    """Drive the streaming query over the static source to completion and
    register its output as the temp view whose name is returned.
    ``source_bytes`` is the source's byte count from ``_file_stream``; it
    sizes the drive's state partitioning (``_state_partitions``).

    This is the one streaming drive, and it has one sink: foreachBatch
    into parquet files.  Emitted rows never gather on the driver, so the
    sink holds up at scale; the memory sink it replaced shipped >1 GB of
    update-mode task results into ``spark.driver.maxResultSize`` at the
    r12 rehearsal's 512× tier, and this sink halved the 64× wall
    (28.2 → 12.7 s, BASELINE.md r12).  At sf0.01 it costs ~0.1–0.2 s per
    drive over the memory sink (4-vCPU VM, local[4], warm session, median
    of 8 drives per process, two processes per side: 1.13–1.29 vs
    0.98–1.08 s for ``streaming_tumbling_counts``, 1.46–1.60 vs
    1.36–1.43 s for ``streaming_stateful_user_totals``).

    Complete mode re-emits the full result every batch, so each batch
    overwrites the whole directory.  Update and append emissions are
    per-batch deltas, so each batch overwrites its own
    ``pqs_sink_batch=<id>`` directory and a checkpoint-recovery replay of
    a batch rewrites its output instead of adding rows twice.  The key is
    obscure so no result column collides with the partition-discovery
    column, and has no leading underscore, because Spark's path filter
    hides such directories.  The output is read back with the result's
    known schema (``_read_sink``).

    The query name is unique per drive and names the sink view too; the
    drive keeps no record of its own (listeners read its progress events
    by that name).  The checkpoint is removed and the query stopped
    whether or not the drive fails; the output directory outlives the
    drive, because the view reads it lazily, and is removed at
    interpreter exit."""
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    session = result.sparkSession
    schema = result.schema
    out_dir = tempfile.mkdtemp(prefix=f"sink_{name}_")
    _SINK_DIRS.append(out_dir)

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        target = out_dir
        if mode != "complete":
            target = os.path.join(out_dir, f"pqs_sink_batch={batch_id}")
        batch_df.write.mode("overwrite").parquet(target)

    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    # Adaptive state partitioning (r14): the count is frozen into the new
    # checkpoint at first batch, so set it just for this drive and restore
    # after — batch queries in the same session keep the session setting.
    prev_parts = session.conf.get("spark.sql.shuffle.partitions")
    session.conf.set("spark.sql.shuffle.partitions", str(_state_partitions(session, source_bytes)))
    try:
        q = (
            result.writeStream.outputMode(mode)
            .foreachBatch(_write_batch)
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        session.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(ckpt, ignore_errors=True)
    _read_sink(session, schema, out_dir).createOrReplaceTempView(name)
    return name


def _read_sink(spark: SparkSession, schema: StructType, out_dir: str) -> DataFrame:
    """``_run_to_table``'s output directory as a DataFrame of ``schema``:
    no inference job, an empty directory (or batch directories holding
    only ``_SUCCESS``) reads as no rows, and the select drops the
    ``pqs_sink_batch`` discovery column."""
    return spark.read.schema(schema).parquet(out_dir).select(*schema.names)


@query(
    "streaming_tumbling_counts",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n, round(SUM(value), 2) AS total_value
FROM events
GROUP BY window_start, event_type
""",
    tags=("streaming", "window"),
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows + 1-hour watermark over the event stream.

    Epoch-aligned ``window('1 hour')`` starts coincide with
    ``date_trunc('hour')`` — which is exactly what the batch oracle
    computes, so this is a true streaming-vs-batch differential test."""
    stream, source_bytes = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    name = _run_to_table(agg, "tumbling", source_bytes)
    return spark.table(name)


@query(
    "streaming_dedup_by_key",
    oracle="""
SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
FROM events
GROUP BY event_type
""",
    tags=("streaming", "dedup"),
)
def streaming_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (`dropDuplicates` keyed state) then count —
    the streaming twin of exact dedup; watermark bounds the dedup state."""
    stream, source_bytes = _events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        # rows are unique after dropDuplicates; COUNT(DISTINCT) is not
        # allowed on streams, and count(*) is equivalent here
        .agg(F.count("*").alias("n_unique"))
    )
    name = _run_to_table(deduped, "dedup", source_bytes)
    return spark.table(name)


@query(
    "streaming_session_windows",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR ts - LAG(ts) OVER w >= INTERVAL '30' MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM gaps
)
SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions, COUNT(*) AS n_events
FROM sess
GROUP BY user_id
""",
    tags=("streaming", "session"),
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) in streaming.

    Oracle is the batch lag+cumsum sessionization — the two formulations
    must agree on session counts.  Note Spark closes a session when the gap
    is >= the timeout, hence the oracle's ``>=``."""
    stream, source_bytes = _events_stream(spark, sf_dir)
    # ONE stateful operator in the stream (session_window agg); the per-user
    # rollup happens in batch on the materialized sessions — chaining two
    # stateful aggs behind one watermark is a streaming-correctness trap.
    sessions = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    name = _run_to_table(sessions, "sessions", source_bytes)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )


@query(
    "streaming_static_join_enrich",
    oracle="""
SELECT c.c_mktsegment AS segment, e.event_type,
       COUNT(*) AS n, round(SUM(e.value), 2) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY segment, e.event_type
""",
    tags=("streaming", "join"),
)
def streaming_static_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich the event stream with a dimension table,
    then aggregate per (segment, type).

    The static side is re-read per micro-batch (so dimension updates are
    picked up) and joins broadcast — the canonical streaming-enrichment
    pattern; no state is kept for the join itself, only for the windowless
    aggregation."""
    stream, source_bytes = _events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    agg = (
        stream.join(F.broadcast(customer), "user_id")
        .groupBy("segment", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    name = _run_to_table(agg, "stream_enrich", source_bytes)
    return spark.table(name)


@query(
    "streaming_stream_stream_join",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id,
       v.event_id AS view_id,
       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL '2' HOUR AND v.ts < p.ts
""",
    tags=("streaming", "join"),
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases joined to the same user's
    views from the preceding 2 hours.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so the state store can evict rows once the watermark passes
    the interval — the ONLY way a stream-stream join is bounded-memory at
    100 TB.  Inner join + append mode; the oracle is the identical batch
    join."""
    purchases, source_bytes = _events_stream(spark, sf_dir)
    p = (
        purchases.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    # both sides scan the one events source, so the drive is sized by its
    # bytes, not by twice them
    views_seen, _ = _events_stream(spark, sf_dir)
    v = (
        views_seen.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    joined = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 2 HOURS"))
        & (F.col("v_ts") < F.col("p_ts")),
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "view_id",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("gap_us"),
    )
    name = _run_to_table(joined, "ss_join", source_bytes, mode="append")
    return spark.table(name)


@query(
    "streaming_corpus_ingest_dedup",
    oracle="""
SELECT DISTINCT md5(text) AS text_hash
FROM documents
""",
    tags=("streaming", "dedup", "pipeline"),
)
def streaming_corpus_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-time dedup: documents arriving on a stream are
    admitted once per content hash (``dropDuplicates`` keyed on md5(text)
    — the state store holds only 16-byte keys, never text).

    This is the admission-control shape of a continuously-ingesting
    corpus: exact dedup happens before anything lands downstream.  With
    an event-time column you'd add ``withWatermark`` so seen-key state
    ages out; the documents table has no timestamps, so state here is the
    full key set (bounded by corpus cardinality)."""
    stream, source_bytes = _file_stream(spark, sf_dir, "documents.parquet")
    deduped = stream.select(F.md5("text").alias("text_hash")).dropDuplicates(
        ["text_hash"]
    )
    name = _run_to_table(deduped, "ingest_dedup", source_bytes, mode="append")
    return spark.table(name)


@query(
    "streaming_hourly_ohlc",
    oracle=_OHLC_ORACLE,
    tags=("streaming", "window", "aggregate"),
)
def streaming_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_hourly_ohlc``: per-type 1-hour tumbling
    OHLC bars computed INCREMENTALLY — min_by/max_by/min/max/sum are all
    algebraic, so each micro-batch folds into per-window state in
    constant memory and the watermark retires closed bars.  This is the
    live-metrics shape (candlestick feeds, SLO dashboards) of the batch
    downsampler, checked against the identical batch SQL oracle."""
    stream, source_bytes = _events_stream(spark, sf_dir)
    key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lit("|"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min_by("value", key), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", key), 4).alias("close"),
            F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias("volume_e4"),
        )
        .select(
            "event_type",
            F.col("window.start").alias("bar_hour"),
            "n",
            "open",
            "high",
            "low",
            "close",
            "volume_e4",
        )
    )
    name = _run_to_table(agg, "ohlc", source_bytes)
    return spark.table(name)


@query(
    "streaming_ingest_decontaminate",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, source, {_DUCKDB_SHINGLES} AS shingles
  FROM documents
),
bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id < 20
),
dirty AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id >= 20) c
  JOIN bench b ON c.shingle = b.shingle
)
SELECT s.source,
       CAST(COUNT(*) AS BIGINT) AS n_seen,
       CAST(SUM(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
       CAST(SUM(CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_rejected
FROM sh s LEFT JOIN dirty d ON s.doc_id = d.doc_id
WHERE s.doc_id >= 20
GROUP BY s.source
""",
    tags=("streaming", "dedup", "decontamination"),
)
def streaming_ingest_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time benchmark decontamination: documents arriving on a
    stream are screened against the held-out benchmark's 3-token shingle
    set (doc_id < 20 stands in for the eval suite) and admitted only when
    they share none — leakage never lands downstream, instead of being
    scrubbed after the fact.

    Stream shape: the benchmark shingle set is a STATIC one-row
    collect_set broadcast into the stream (eval-suite-bounded, the same
    legitimacy class as the Bloom word array); the stream side is
    stateless scan-side shingling + arrays_overlap, so there is no state
    store at all — admission control at full scan speed.  The per-source
    admit/reject rollup here is the monitoring view a gate would emit."""
    batch = read_parquet(spark, [f"{sf_dir}/documents.parquet"])
    bench = (
        _with_shingles(batch.where(F.col("doc_id") < 20))
        .select(F.explode("shingles").alias("shingle"))
        .agg(F.collect_set("shingle").alias("bench_shingles"))
    )
    stream, source_bytes = _file_stream(spark, sf_dir, "documents.parquet")
    screened = (
        stream.where(F.col("doc_id") >= 20)
        .select(
            "source", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
        )
        .select("source", F.expr(_SPARK_SHINGLES_SQL).alias("shingles"))
        .crossJoin(F.broadcast(bench))
        .select(
            "source",
            F.arrays_overlap("shingles", "bench_shingles").alias("is_dirty"),
        )
    )
    name = _run_to_table(screened, "ingest_decon", source_bytes, mode="append")
    return (
        spark.table(name)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_seen"),
            F.sum(F.when(F.col("is_dirty"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_admitted"),
            F.sum(F.when(F.col("is_dirty"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_rejected"),
        )
    )
