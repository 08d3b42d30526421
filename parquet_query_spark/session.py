"""SparkSession factory for the parquet-query-spark engine.

The reference (``/root/reference/src/duckdb.ts:9-39``) lazily boots a single
DuckDB-WASM engine in a Web Worker and memoizes one connection.  The Spark
equivalent is a memoized :class:`~pyspark.sql.SparkSession` configured for
columnar, adaptive execution.

Scale notes (100 TB design intent, tested on local[N]):

* AQE on — runtime shuffle-partition coalescing, skew-join splitting and
  dynamic join-strategy demotion are the knobs that keep a fixed plan healthy
  at 1000 executors.
* ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE coalesces
  down.  On a real cluster this would be sized ~2-3× total cores.
* Arrow execution is on so the Python boundary (Pandas UDFs, ``toPandas``)
  is vectorized batch transfer, never row-at-a-time pickling.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_DEFAULTS: dict[str, str] = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Prefer shuffled-hash over sort-merge when a join side's per-partition
    # hash build fits memory (Spark's canBuildLocalHashMap guard:
    # side size < autoBroadcastJoinThreshold × shuffle partitions; SMJ
    # remains the fallback above that).  Fact-fact joins with one
    # filtered/smaller side skip the big side's sort entirely — measured
    # r8 on TPC-H Q5 at 64×: 3.13 s (SMJ) → 2.24 s; at sf0.1 AQE still
    # converts the same join to broadcast, so the small-scale plan is
    # unchanged.  At 100 TB the guard scales with the partition count.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Don't bin-pack small parquet files into shared scan splits: this
    # engine's hot scans are compute-bound (regex/hash/shingle per row),
    # where bytes-based packing under-parallelizes badly — the restaged
    # 32-file layout was being read as 8 splits (64x minhash signatures
    # 15.7 s → 9.6 s with per-file splits).  At 100 TB, GB-scale files
    # split by byte range under maxPartitionBytes and this setting is
    # inert; it only stops tiny files from being glued together.
    "spark.sql.files.openCostInBytes": str(64 * 1024 * 1024),
    # The driver's synthetic events table stores TIMESTAMP(NANOS) which the
    # vanilla Parquet reader rejects; read as int64 nanos and convert (see
    # sources/registry.py::load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Keep timestamps micros on write (matches DuckDB/Arrow interchange).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # DuckDB (Postgres-style) double quotes are ALWAYS identifiers; Spark
    # parses them as string literals by default, so SELECT "col" silently
    # returned the literal 'col' per row (r8 finding).  ANSI double-quoted
    # identifiers make Spark match DuckDB natively; string literals keep
    # single quotes on both engines.
    "spark.sql.ansi.doubleQuotedIdentifiers": "true",
}


@contextmanager
def temp_view(df: DataFrame, prefix: str) -> Iterator[str]:
    """Register ``df`` as a temp view under a fresh ``__<prefix>_<uuid>``
    name for one statement, and drop it on exit.  The statement must be
    analysed inside the block; the analysed plan holds the view's plan,
    so the result stays valid once the view is gone (eager analysis is
    gated by :func:`assert_eager_analysis`)."""
    view = f"__{prefix}_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(view)
    try:
        yield view
    finally:
        df.sparkSession.catalog.dropTempView(view)


def assert_eager_analysis(spark: SparkSession) -> None:
    """Gate: the dialect shim's retry loop (``dialect.analyze_dialect``,
    under ``Engine.sql`` and PIVOT ``USING``) reads the type hints it
    needs from the AnalysisException that ``spark.sql()`` raises at call
    time, which assumes classic PySpark's eager analysis.  Under Spark
    Connect analysis is deferred to action time, so the primary text would
    silently pass and no hint would ever be read — fail loudly at
    bootstrap instead (r12, VERDICT #7)."""
    from pyspark.errors import AnalysisException

    mod = type(spark).__module__
    if "connect" in mod:
        raise RuntimeError(
            "parquet_query_spark requires a classic (non-Connect) "
            "SparkSession: its analysis-retry loop depends on eager "
            "analysis at spark.sql() time, which Spark Connect defers to "
            "action time."
        )
    if mod in ("pyspark.sql.session", "pyspark.sql.classic.session"):
        # Classic PySpark analyzes eagerly by construction
        # (Dataset.ofRows → assertAnalyzed) — no probe needed, and the
        # probe's intentional failure would log a full analyzer ERROR
        # blob at every bootstrap.
        return
    # Unknown session type: behavioral probe, with the JVM logger
    # quieted so the intentional failure doesn't masquerade as a crash.
    try:
        spark.sparkContext.setLogLevel("FATAL")
    except Exception:
        pass
    try:
        spark.sql("SELECT __pq_eager_probe_missing_col__")
    except AnalysisException:
        return  # analyzed eagerly — the retry loop is sound
    finally:
        try:
            spark.sparkContext.setLogLevel("WARN")
        except Exception:
            pass
    raise RuntimeError(
        "SparkSession did not analyze eagerly at spark.sql() time; "
        "parquet_query_spark's analysis-retry loop would never run. "
        "Use a classic local/cluster session."
    )


def get_spark(app_name: str = "parquet_query_spark", cpus: int | str | None = None) -> SparkSession:
    """Memoized local session (``SparkSession.getOrCreate`` is the memo).

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` then ``*``.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    # Ad-hoc STATIC confs (settable only at session creation), e.g. the
    # growth harness passes spark.cleaner.periodicGC.interval so multi-
    # action pipelines release checkpoint-truncated shuffle files while
    # running instead of holding ~10x-corpus spill until app exit:
    #   SPARK_GRAFT_EXTRA_CONF="spark.cleaner.periodicGC.interval=90s"
    for pair in filter(None, os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";")):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    # Streaming state-store provider.  The default HDFSBackedStateStore
    # keeps every key's state as JVM-heap objects per partition — at the
    # r12 key-cardinality rehearsal's 512x tier (768k users, one
    # unwatermarked batch holding ~millions of open session-window rows)
    # it OOMed a 16 GB heap.  RocksDB (native memory + local disk,
    # Spark's production choice for large state) runs the same tier on
    # the same heap; set SPARK_GRAFT_STATE_STORE=rocksdb to opt in.
    # Default stays hdfs: tiny-state tests and the driver oracle pay no
    # native-lib startup, and semantics are identical either way.
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "hdfs").lower() == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    assert_eager_analysis(spark)
    from parquet_query_spark.functions.similarity_udfs import (
        register_similarity_udfs,
    )

    register_similarity_udfs(spark)
    from parquet_query_spark.functions.unicode_udfs import register_unicode_udfs

    register_unicode_udfs(spark)
    return spark


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply runtime-settable confs on a session we did not create.

    The correctness driver passes its own SparkSession into
    ``__spark_entry__``; these SQL confs are all runtime-settable and make
    query semantics (timezone, nanos handling, AQE) identical to ours.
    """
    assert_eager_analysis(spark)
    for k, v in _DEFAULTS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — keep going
    from parquet_query_spark.functions.similarity_udfs import (
        register_similarity_udfs,
    )

    register_similarity_udfs(spark)
    from parquet_query_spark.functions.unicode_udfs import register_unicode_udfs

    register_unicode_udfs(spark)
