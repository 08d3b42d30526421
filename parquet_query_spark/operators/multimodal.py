"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The Spark-side pattern for image/audio/video at 100 TB: the payload is an
opaque ``binary`` column; decode / feature-extract / resize run as
Arrow-batched Pandas UDFs over ``mapInPandas`` so each task touches one
partition's batches and nothing ever lands on the driver.

The *decode* step is a real pure-Python container parser
(`functions/image_meta.py`): PNG IHDR with CRC verification, JPEG SOF
marker walk, GIF screen descriptor — it reads dimensions from any real
.png/.jpg/.gif file without pixel decode (header-only, which is what a
100 TB cataloging pass wants anyway).  The container environment has no
image libraries and the test lake has no binary media, so the *ingest*
side synthesizes genuine minimal container byte streams (valid
signatures, chunk CRCs, marker structure) with content-derived
dimensions; a green oracle row therefore proves the parser extracted the
dimensions from the actual bytes.  Full pixel decode (PIL/ffmpeg) slots
into the same mapInPandas worker unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_query_spark.functions.av_meta import MP4_STREAM_BYTES
from parquet_query_spark.functions.image_meta import (
    GIF_STREAM_BYTES,
    JPEG_STREAM_BYTES,
    PNG_STREAM_BYTES,
    image_dimensions,
    make_gif,
    make_jpeg,
    make_png,
)
from parquet_query_spark.operators.catalog import query, views

META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("aspect", T.DoubleType()),
    ]
)

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def _content_dims(text: str) -> tuple[int, int]:
    """Deterministic content→dimension mapping used by the synthetic ingest
    (so the DuckDB oracle can predict what the parser must read back).

    Uses the first character's Unicode codepoint mod 256 — NOT the first
    UTF-8 byte — because the oracle's only per-character accessor is
    ``ascii()`` (codepoint); ``% 256`` keeps both sides identical for
    non-ASCII leading characters too.  Length is UTF-8 byte length
    (DuckDB ``strlen``)."""
    first = (ord(text[0]) % 256) if text else 0
    n = len(text.encode("utf-8"))
    width = 64 + (first * 7 + n) % 1856
    height = 64 + (first * 13 + n * 3) % 1016
    return width, height


def synthesize_media_batches(batches) -> Iterator:
    """mapInPandas worker: text rows → real PNG/JPEG/GIF byte streams
    (format cycles by doc_id % 3), standing in for lake ingest."""
    import pandas as pd

    writers = (make_png, make_jpeg, make_gif)

    def encode(doc_id: int, text: str) -> bytes:
        w, h = _content_dims(text)
        return writers[doc_id % 3](w, h)

    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": [
                    encode(i, t) for i, t in zip(pdf["doc_id"], pdf["text"])
                ],
            }
        )


def decode_meta_batches(batches) -> Iterator:
    """mapInPandas worker: binary payloads → metadata rows via the REAL
    header parsers, batch-at-a-time."""
    import math

    import pandas as pd

    def round_half_up(x: float, nd: int) -> float:
        # SQL ROUND semantics (half away from zero) — Python's round() is
        # banker's rounding and diverges on exact .5 boundaries
        scale = 10**nd
        return math.floor(x * scale + 0.5) / scale

    for pdf in batches:
        meta = pdf["payload"].map(lambda b: image_dimensions(bytes(b)))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "format": meta.map(lambda m: m[0]),
                "n_bytes": pdf["payload"].map(len).astype("int32"),
                "width": meta.map(lambda m: m[1]).astype("int32"),
                "height": meta.map(lambda m: m[2]).astype("int32"),
                "aspect": meta.map(lambda m: round_half_up(m[1] / m[2], 4)),
            }
        )


def media_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, payload binary) of real container bytes."""
    v = views(spark, sf_dir)
    return v["documents"].select("doc_id", "text").mapInPandas(
        synthesize_media_batches, PAYLOAD_SCHEMA
    )


@query(
    "multimodal_decode_meta",
    oracle=f"""
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
       (CASE doc_id % 3 WHEN 0 THEN {PNG_STREAM_BYTES}
                        WHEN 1 THEN {JPEG_STREAM_BYTES}
                        ELSE {GIF_STREAM_BYTES} END)::INTEGER AS n_bytes,
       (64 + ((ascii(substr(text, 1, 1)) % 256) * 7 + strlen(text)) % 1856)::INTEGER  AS width,
       (64 + ((ascii(substr(text, 1, 1)) % 256) * 13 + strlen(text) * 3) % 1016)::INTEGER AS height,
       round(CAST(64 + ((ascii(substr(text, 1, 1)) % 256) * 7 + strlen(text)) % 1856 AS DOUBLE)
             / (64 + ((ascii(substr(text, 1, 1)) % 256) * 13 + strlen(text) * 3) % 1016), 4) AS aspect
FROM documents
""",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary→metadata extraction over mapInPandas with REAL parsers.

    Ingest synthesizes genuine PNG/JPEG/GIF byte streams whose headers
    encode content-derived dimensions; decode walks the actual container
    structure (IHDR + CRC-32 check / SOF marker scan / screen descriptor).
    The oracle predicts format, exact byte size, and dimensions from the
    source text — a green row proves the parser read them from the bytes."""
    media = media_payloads(spark, sf_dir)
    return media.mapInPandas(decode_meta_batches, META_SCHEMA)


@query(
    "multimodal_frame_sample",
    oracle="""
WITH f AS (
  SELECT doc_id, text,
         CAST(ceil(length(text) / 64.0) AS BIGINT) AS n_chunks
  FROM documents
),
k AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(ceil(n_chunks / 3.0) AS BIGINT))) AS frame_no
  FROM f
)
SELECT doc_id,
       CAST(frame_no AS INTEGER) AS frame_no,
       strlen(substr(text, CAST(frame_no * 192 + 1 AS BIGINT), 64))::INTEGER AS frame_bytes,
       md5(substr(text, CAST(frame_no * 192 + 1 AS BIGINT), 64)) AS frame_digest
FROM k
""",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads.

    Splits each payload into fixed-size "frames" (stub for keyframe
    extraction — a real decoder slots into the same worker) and emits one
    row per sampled frame (every 3rd), demonstrating the 1→N explode shape
    with bounded memory per batch and a content digest per frame.

    Frames are 64-CHARACTER slices: the oracle engine can slice and md5
    only VARCHARs (no BLOB substring/digest in DuckDB 1.0), and md5 of a
    character slice hashes its UTF-8 bytes on both engines — so digests,
    byte counts, and frame numbering are all content-predicted by the
    oracle, proving the worker actually sliced and hashed the payload."""
    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_no", T.IntegerType()),
            T.StructField("frame_bytes", T.IntegerType()),
            T.StructField("frame_digest", T.StringType()),
        ]
    )

    def sample_frames(batches) -> Iterator:
        import hashlib

        FRAME, STRIDE = 64, 3  # 64-char frames, every 3rd

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                frames = [text[i : i + FRAME] for i in range(0, len(text), FRAME)]
                for n, fr in enumerate(frames[::STRIDE]):
                    raw = fr.encode("utf-8")
                    rows.append((doc_id, n, len(raw), hashlib.md5(raw).hexdigest()))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_no", "frame_bytes", "frame_digest"]
            ).astype({"frame_no": "int32", "frame_bytes": "int32"})

    v = views(spark, sf_dir)
    media = v["documents"].select("doc_id", "text")
    return media.mapInPandas(sample_frames, schema)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("src_w", T.IntegerType()),
        T.StructField("src_h", T.IntegerType()),
        T.StructField("dst_w", T.IntegerType()),
        T.StructField("dst_h", T.IntegerType()),
        T.StructField("dst_bytes", T.LongType()),
    ]
)


@query(
    "multimodal_resize_plan",
    oracle="""
WITH meta AS (
  SELECT doc_id,
         64 + ((ascii(substr(text, 1, 1)) % 256) * 7 + strlen(text)) % 1856  AS w,
         64 + ((ascii(substr(text, 1, 1)) % 256) * 13 + strlen(text) * 3) % 1016 AS h
  FROM documents
),
scaled AS (
  SELECT doc_id, w, h,
         least(256.0 / w, 256.0 / h, 1.0) AS s
  FROM meta
)
SELECT doc_id, w::INTEGER AS src_w, h::INTEGER AS src_h,
       greatest(1, floor(w * s))::INTEGER AS dst_w,
       greatest(1, floor(h * s))::INTEGER AS dst_h,
       (greatest(1, floor(w * s)) * greatest(1, floor(h * s)) * 3)::BIGINT AS dst_bytes
FROM scaled
""",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: parse real container headers for source dims, fit
    into a 256x256 box (never upscale), emit target geometry + RGB byte
    budget.

    Runs as the same mapInPandas pipeline a real resizer would (PIL
    ``img.resize((dst_w, dst_h))`` slots in where the arithmetic is); the
    oracle recomputes the geometry from the content→dimension mapping the
    synthetic ingest wrote into the headers, pinning parse + batch
    plumbing end-to-end."""
    import math

    import pandas as pd

    def resize_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _, w, h = image_dimensions(bytes(payload))
                s = min(256.0 / w, 256.0 / h, 1.0)
                dw, dh = max(1, math.floor(w * s)), max(1, math.floor(h * s))
                rows.append((doc_id, w, h, dw, dh, dw * dh * 3))
            yield pd.DataFrame(
                rows, columns=["doc_id", "src_w", "src_h", "dst_w", "dst_h", "dst_bytes"]
            )

    media = media_payloads(spark, sf_dir)
    return media.mapInPandas(resize_batches, RESIZE_SCHEMA)


# ── audio / video metadata (real WAV + MP4 container parsers) ───────────

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bits", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


@query(
    "multimodal_audio_meta",
    oracle="""
WITH synth AS (
  SELECT doc_id,
         (1 + doc_id % 2)::INTEGER AS channels,
         (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END)::INTEGER
           AS sample_rate,
         16::INTEGER AS bits,
         (200 + (strlen(text) * 7) % 1800)::BIGINT AS n_frames
  FROM documents
)
SELECT doc_id, channels, sample_rate, bits, n_frames,
       (n_frames * 1000) // sample_rate AS duration_ms,
       (44 + n_frames * channels * 2)::BIGINT AS n_bytes
FROM synth
""",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio cataloging over opaque binary payloads: synthesize real PCM
    WAV byte streams (RIFF + fmt + zero data) with content-derived layout,
    then parse channels/rate/bits/frames back out of the RIFF chunks and
    derive duration — header-only, no sample decode, the 100 TB shape.

    The oracle predicts every field (including exact byte size, 44-byte
    header + frames x block-align) from the source row, so a green row
    proves the parser read the actual chunk structure."""
    import pandas as pd

    from parquet_query_spark.functions.av_meta import make_wav, wav_info

    RATES = (8000, 16000, 44100)

    def audio_batches(batches) -> Iterator:
        for pdf in batches:
            payloads = [
                make_wav(
                    1 + doc_id % 2,
                    RATES[doc_id % 3],
                    16,
                    200 + (len(text.encode("utf-8")) * 7) % 1800,
                )
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
            ]
            meta = [wav_info(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "channels": pd.Series(
                        [m[0] for m in meta], dtype="int32"
                    ),
                    "sample_rate": pd.Series(
                        [m[1] for m in meta], dtype="int32"
                    ),
                    "bits": pd.Series([m[2] for m in meta], dtype="int32"),
                    "n_frames": [m[3] for m in meta],
                    "duration_ms": [m[3] * 1000 // m[1] for m in meta],
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    v = views(spark, sf_dir)
    return (
        v["documents"]
        .select("doc_id", "text")
        .mapInPandas(audio_batches, AUDIO_SCHEMA)
    )


VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


@query(
    "multimodal_video_meta",
    oracle=f"""
SELECT doc_id,
       (64 + ((ascii(substr(text, 1, 1)) % 256) * 7 + strlen(text)) % 1856)::INTEGER  AS width,
       (64 + ((ascii(substr(text, 1, 1)) % 256) * 13 + strlen(text) * 3) % 1016)::INTEGER AS height,
       (1000 + (strlen(text) * 13) % 59000)::BIGINT AS duration_ms,
       {MP4_STREAM_BYTES}::BIGINT AS n_bytes
FROM documents
""",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video cataloging over opaque binary payloads: synthesize real ISO
    BMFF (MP4) byte streams — ftyp + moov(mvhd + trak/tkhd) — with
    content-derived geometry and duration, then walk the box tree to read
    width/height (tkhd 16.16 fixed point) and duration (mvhd timescale
    units → ms).  Header-only box walk; frame decode is codec territory
    and stays out of the catalog pass."""
    import pandas as pd

    from parquet_query_spark.functions.av_meta import make_mp4, mp4_info

    def video_batches(batches) -> Iterator:
        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w, h = _content_dims(text)
                payloads.append(
                    make_mp4(w, h, 1000 + (len(text.encode("utf-8")) * 13) % 59000)
                )
            meta = [mp4_info(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.Series([m[0] for m in meta], dtype="int32"),
                    "height": pd.Series([m[1] for m in meta], dtype="int32"),
                    "duration_ms": [m[2] for m in meta],
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    v = views(spark, sf_dir)
    return (
        v["documents"]
        .select("doc_id", "text")
        .mapInPandas(video_batches, VIDEO_SCHEMA)
    )


@query(
    "multimodal_size_histogram",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
         (64 + ((ascii(substr(text, 1, 1)) % 256) * 7 + strlen(text)) % 1856)::INTEGER AS w,
         (64 + ((ascii(substr(text, 1, 1)) % 256) * 13 + strlen(text) * 3) % 1016)::INTEGER AS h
  FROM documents
)
SELECT format,
       CASE WHEN w > h THEN 'landscape' WHEN w < h THEN 'portrait' ELSE 'square' END AS orientation,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(MIN(w) AS INTEGER) AS min_width,
       CAST(MAX(w) AS INTEGER) AS max_width,
       CAST(SUM(CAST(w AS BIGINT) * h) AS BIGINT) AS total_pixels
FROM dims
GROUP BY 1, 2
""",
    tags=("multimodal", "aggregate", "pandas-udf"),
)
def multimodal_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level resolution audit: decode every container header (the
    REAL PNG/JPEG/GIF parsers, same mapInPandas pass as
    multimodal_decode_meta) and roll the dimensions up into a
    format x orientation histogram with pixel-volume totals — the
    distribution a vision-data pipeline inspects before choosing resize
    targets and batch shapes (and the detector for a scraper that
    ingested thumbnails).  Decode is scan-side Arrow-batched Python; the
    rollup groups 6 keys, so the aggregate is map-side-combined and the
    shuffle is a few rows per partition regardless of corpus size.  The
    oracle predicts dimensions from the content formula, so a green row
    proves the parsers read every header correctly."""
    media = media_payloads(spark, sf_dir)
    meta = media.mapInPandas(decode_meta_batches, META_SCHEMA)
    w, h = F.col("width"), F.col("height")
    return (
        meta.select(
            "format",
            F.when(w > h, "landscape").when(w < h, "portrait").otherwise("square").alias(
                "orientation"
            ),
            w.alias("w"),
            h.alias("h"),
        )
        .groupBy("format", "orientation")
        .agg(
            F.count("*").cast("bigint").alias("n_images"),
            F.min("w").cast("int").alias("min_width"),
            F.max("w").cast("int").alias("max_width"),
            F.sum(F.col("w").cast("bigint") * F.col("h")).cast("bigint").alias("total_pixels"),
        )
    )


@query(
    "multimodal_corrupt_audit",
    oracle="""
SELECT CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
       CAST(COUNT(*) AS BIGINT) AS n_payloads,
       CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
       CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_parsed,
       CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) * 10000 // COUNT(*)
            AS BIGINT) AS corrupt_bp
FROM documents
GROUP BY 1
""",
    tags=("multimodal", "qa", "pandas-udf"),
)
def multimodal_corrupt_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time corruption audit: a deterministic slice of payloads
    (doc_id % 13 == 0) is truncated to 8 bytes — below every container's
    minimum header — and the REAL parsers must reject exactly those.  The
    per-format report (parsed vs corrupt, corruption basis points) is the
    quarantine summary a lake ingest job emits; the oracle predicts the
    failure set from the corruption rule, so a green row proves the
    parsers' error paths fire exactly when they should — no crash on bad
    bytes, no silent acceptance of truncated streams.

    Scale shape: synthesize + corrupt + parse all happen in one
    mapInPandas pass; the rollup groups 3 formats map-side."""

    def corrupt_and_parse(batches) -> Iterator:
        import pandas as pd

        writers = (make_png, make_jpeg, make_gif)
        for pdf in batches:
            fmts, oks = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w, h = _content_dims(text)
                payload = writers[doc_id % 3](w, h)
                if doc_id % 13 == 0:
                    payload = payload[:8]
                fmts.append(("png", "jpeg", "gif")[doc_id % 3])
                try:
                    image_dimensions(payload)
                    oks.append(1)
                except Exception:  # any parse failure counts as corrupt
                    oks.append(0)
            yield pd.DataFrame({"format": fmts, "ok": pd.Series(oks, dtype="int32")})

    schema = T.StructType(
        [T.StructField("format", T.StringType()), T.StructField("ok", T.IntegerType())]
    )
    v = views(spark, sf_dir)
    parsed = v["documents"].select("doc_id", "text").mapInPandas(corrupt_and_parse, schema)
    return (
        parsed.groupBy("format")
        .agg(
            F.count("*").cast("bigint").alias("n_payloads"),
            F.sum(1 - F.col("ok")).cast("bigint").alias("n_corrupt"),
            F.sum("ok").cast("bigint").alias("n_parsed"),
            F.expr("SUM(1 - ok) * 10000 DIV COUNT(*)").cast("bigint").alias("corrupt_bp"),
        )
    )


@query(
    "multimodal_aspect_outliers",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
         (64 + ((ascii(substr(text, 1, 1)) % 256) * 7 + strlen(text)) % 1856)::BIGINT AS w,
         (64 + ((ascii(substr(text, 1, 1)) % 256) * 13 + strlen(text) * 3) % 1016)::BIGINT AS h
  FROM documents
)
SELECT format,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(CASE WHEN w * 10 >= h * 25 OR h * 10 >= w * 25 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_extreme_aspect,
       CAST(SUM(CASE WHEN w * h < 160 * 160 THEN 1 ELSE 0 END) AS BIGINT) AS n_tiny,
       CAST(SUM(CASE WHEN (w * 10 >= h * 25 OR h * 10 >= w * 25)
                       OR w * h < 160 * 160 THEN 1 ELSE 0 END) * 10000 // COUNT(*)
            AS BIGINT) AS reject_bp
FROM dims
GROUP BY format
""",
    tags=("multimodal", "qa", "pandas-udf"),
)
def multimodal_aspect_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vision-data admission filter: images with extreme aspect ratios
    (≥2.5:1 — banners, slivers, scrollbars) or tiny pixel area (<160²
    — thumbnails, tracking pixels) flagged per format, with the combined
    reject rate in basis points.  These are the two standard geometric
    rejects before any pixel ever decodes; dimensions come from the REAL
    header parsers and the cutoffs are pure-integer cross-multiplied
    comparisons (w·10 ≥ h·25 — no float ratio to flake).

    Same one-pass decode + tiny rollup shape as the other multimodal
    audits."""
    media = media_payloads(spark, sf_dir)
    meta = media.mapInPandas(decode_meta_batches, META_SCHEMA)
    w = F.col("width").cast("bigint")
    h = F.col("height").cast("bigint")
    extreme = (w * 10 >= h * 25) | (h * 10 >= w * 25)
    tiny = w * h < 160 * 160
    return (
        meta.select("format", extreme.alias("extreme"), tiny.alias("tiny"))
        .groupBy("format")
        .agg(
            F.count("*").cast("bigint").alias("n_images"),
            F.sum(F.when(F.col("extreme"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_extreme_aspect"),
            F.sum(F.when(F.col("tiny"), 1).otherwise(0)).cast("bigint").alias("n_tiny"),
            F.expr(
                "SUM(CASE WHEN extreme OR tiny THEN 1 ELSE 0 END) * 10000 DIV COUNT(*)"
            )
            .cast("bigint")
            .alias("reject_bp"),
        )
    )


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
    )
