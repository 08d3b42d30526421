"""Write paths: distributed sinks with the layouts that matter at 100 TB.

The reference's only sink is a driver-streamed CSV download
(``/root/reference/src/arrow.ts:47-88``); the workbench layer ports that
byte-for-byte (``workbench/csv_sink.py``), which also holds the one
distributed CSV writer, ``write_csv_distributed``.  This module is the
*engine* sink surface:

* **Partitioned parquet** — `partitionBy(cols)` hive-style layout so later
  scans prune whole directories (PartitionFilters, not data filters).  The
  cardinality rule: partition columns must be low-cardinality (date, region,
  format) or you create a small-files problem; high-cardinality layout
  belongs in bucketing.
* **Bucketed tables** — `bucketBy(n, key)` pre-shuffles data by join/agg key
  at write time.  Two tables bucketed on the same key with the same bucket
  count join with ZERO exchange — at 100 TB this converts every recurring
  fact-fact join from a full network shuffle into a local merge.
* **maxRecordsPerFile** caps file size so a skewed partition doesn't emit
  one giant file (the write-side analog of AQE skew splitting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Distributed parquet sink; hive-partitioned when ``partition_by``."""
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed ndjson sink (one JSON object per line — the same format
    the reader side ingests)."""
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed ORC sink — the columnar interchange format for
    Hive/Trino-adjacent warehouses.  Spark's ORC writer keeps the same
    predicate-pushdown + column-pruning story as parquet on read-back."""
    df.write.mode(mode).orc(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sort-ordered) managed
    table.  Joins/aggregations on ``bucket_cols`` against an equally
    bucketed table need no shuffle; ``sort_cols`` additionally removes the
    sort from sort-merge joins."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)


def drop_table(spark: SparkSession, name: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS `{name.replace('`', '``')}`")
