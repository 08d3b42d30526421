"""Driver-checkable sink round-trips: write → read back → aggregate.

The reference's only sink is the CSV download (``/root/reference/src/
arrow.ts:47-88``, ported in workbench/csv_sink.py); these queries prove the
*engine* sink surface (sources/sinks.py) end-to-end under the correctness
gate: the write is lossless, the read-back scan prunes, and the final
aggregate matches DuckDB computed directly on the source table.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_query_spark.operators.catalog import query, views
from parquet_query_spark.sources.sinks import (
    drop_table,
    write_bucketed_table,
    write_orc,
    write_parquet,
)


def _drop_with_location(spark: SparkSession, name: str) -> None:
    """Drop a managed table AND its warehouse directory.

    A fresh session's in-memory catalog forgets managed tables, but their
    warehouse directories survive — saveAsTable then fails with
    LOCATION_ALREADY_EXISTS.  Clear both."""
    import shutil
    from urllib.parse import urlparse

    drop_table(spark, name)
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    path = urlparse(warehouse).path or warehouse
    shutil.rmtree(f"{path.rstrip('/')}/{name}", ignore_errors=True)


@query(
    "sink_roundtrip_partitioned",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price
FROM orders
WHERE o_orderstatus IN ('F', 'O')
GROUP BY o_orderstatus
""",
    tags=("sink", "partition"),
)
def sink_roundtrip_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet round-trip: write orders partitioned by
    o_orderstatus, read back filtering on the partition column, aggregate.

    The filter is satisfied by directory pruning (PartitionFilters in the
    scan, zero data-filter rows read from the excluded partition) — the
    oracle aggregates the source table directly, so a green row proves the
    sink is lossless AND the pruned read is complete.  Money is summed as
    integer cents (order-independent, no float shuffle drift)."""
    import os
    import shutil

    v = views(spark, sf_dir)
    # Fixed scratch path, delete-then-write: repeated bench/correctness runs
    # reuse one directory instead of leaking a fresh mkdtemp copy each time.
    out = os.path.join(tempfile.gettempdir(), "pqs_sink_roundtrip_part")
    shutil.rmtree(out, ignore_errors=True)
    write_parquet(v["orders"], out, partition_by=["o_orderstatus"])
    back = spark.read.parquet(out).where(F.col("o_orderstatus").isin("F", "O"))
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("double")
                / 100.0
            ).alias("total_price"),
        )
    )


@query(
    "sink_roundtrip_bucketed_join",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
    tags=("sink", "bucket", "join"),
)
def sink_roundtrip_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table round-trip: persist orders and lineitem bucketed on
    the join key, join the bucketed tables, aggregate.

    Both sides bucketed on orderkey with the same bucket count → the join
    plans with ZERO Exchange (asserted in tests/test_sinks.py); at 100 TB
    this is the layout that turns every recurring fact-fact join into a
    local merge.  The oracle runs the same join on the raw tables, so a
    green row proves bucketed write + bucket-aware join return identical
    results to the shuffle join."""
    v = views(spark, sf_dir)
    for t in ("sink_rt_orders_b", "sink_rt_lineitem_b"):
        _drop_with_location(spark, t)
    write_bucketed_table(
        v["orders"].select("o_orderkey", "o_orderpriority"),
        "sink_rt_orders_b",
        ["o_orderkey"],
        num_buckets=8,
    )
    write_bucketed_table(
        v["lineitem"].select("l_orderkey", "l_extendedprice"),
        "sink_rt_lineitem_b",
        ["l_orderkey"],
        num_buckets=8,
    )
    o = spark.table("sink_rt_orders_b")
    li = spark.table("sink_rt_lineitem_b")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            (
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).cast("double")
                / 100.0
            ).alias("total_price"),
        )
    )


__all__ = ["sink_roundtrip_partitioned", "sink_roundtrip_bucketed_join", "drop_table"]


@query(
    "sink_roundtrip_orc",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01'
GROUP BY l_returnflag
""",
    tags=("sink", "orc", "format"),
)
def sink_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip: write lineitem to ORC, read it back with a pushed
    filter, aggregate.  Proves the second columnar format end-to-end —
    Spark's ORC scan keeps the same predicate-pushdown/column-pruning
    machinery as parquet, so a warehouse standardized on ORC gets the
    identical plan shape.  The oracle aggregates the parquet source
    directly: a green row proves the ORC write is lossless and the
    filtered read-back is complete."""
    import os
    import shutil

    v = views(spark, sf_dir)
    out = os.path.join(tempfile.gettempdir(), "pqs_sink_roundtrip_orc")
    shutil.rmtree(out, ignore_errors=True)
    write_orc(
        v["lineitem"].select("l_returnflag", "l_extendedprice", "l_shipdate"), out
    )
    back = spark.read.orc(out).where(F.col("l_shipdate") >= "1995-01-01")
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            (
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).cast("double")
                / 100.0
            ).alias("total_price"),
        )
    )


_COMPACT_SMALL = 64  # deliberately fragmented write
_COMPACT_TARGET = 4  # post-compaction file count


@query(
    "maintenance_compact_small_files",
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price,
       {_COMPACT_SMALL} AS files_small,
       {_COMPACT_TARGET} AS files_compacted
FROM orders
GROUP BY o_orderstatus
""",
    tags=("sink", "maintenance", "compaction"),
)
def maintenance_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance pass every long-lived
    100 TB dataset needs: streaming/incremental writers fragment tables
    into thousands of KB-sized files, and scan throughput collapses under
    per-file open cost.  Write orders deliberately fragmented (64 files),
    compact by rewriting through repartition(4) (deterministic output
    layout; coalesce is the shuffle-free variant but its partition count
    floats with the reader's file packing), and aggregate the compacted
    table.

    The output carries the OBSERVED file counts from directory listings;
    the oracle pins them as literals — a wrong-sized write or a lossy
    compaction both break the hash match."""
    import os
    import shutil

    v = views(spark, sf_dir)
    base = os.path.join(tempfile.gettempdir(), "pqs_compact")
    small, compacted = f"{base}_small", f"{base}_out"
    for d in (small, compacted):
        shutil.rmtree(d, ignore_errors=True)
    write_parquet(v["orders"].repartition(_COMPACT_SMALL), small)
    write_parquet(spark.read.parquet(small).repartition(_COMPACT_TARGET), compacted)

    def _n_files(d: str) -> int:
        return sum(1 for f in os.listdir(d) if f.startswith("part-"))

    back = spark.read.parquet(compacted)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("double")
                / 100.0
            ).alias("total_price"),
        )
        .withColumn("files_small", F.lit(_n_files(small)))
        .withColumn("files_compacted", F.lit(_n_files(compacted)))
    )


_Z_BITS = 10  # bits per dimension interleaved into the z-value


def _z_expr(x: str, y: str) -> str:
    """Bit-interleave expression for a 2-d z-order curve — identical text
    runs on Spark and DuckDB (both support >>, &, * on BIGINT)."""
    terms = []
    for b in range(_Z_BITS):
        terms.append(f"((({x} >> {b}) & 1) * {1 << (2 * b)})")
        terms.append(f"((({y} >> {b}) & 1) * {1 << (2 * b + 1)})")
    return " + ".join(terms)


@query(
    "sink_zorder_cluster",
    oracle=f"""
WITH keyed AS (
  SELECT l_orderkey % 1024 AS xk, l_partkey % 1024 AS yk, l_extendedprice
  FROM lineitem
)
SELECT COUNT(*) AS n_lines,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price
FROM keyed
WHERE xk BETWEEN 100 AND 227 AND yk BETWEEN 300 AND 427
""",
    tags=("sink", "zorder", "clustering"),
)
def sink_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered write: interleave the bits of two filter columns
    into a space-filling-curve key, range-partition + sort the write on
    it, then answer a 2-d box query from the clustered copy.

    Why it matters at 100 TB: a table sorted on ONE column prunes row
    groups only for that column; z-ordering makes row-group min/max
    stats tight on BOTH dimensions simultaneously, so 2-d selective
    scans (time × tenant, key × date) skip most of the table — the same
    layout trick Delta's OPTIMIZE ZORDER applies.  Row-group stats
    tightness is asserted in tests/test_sinks.py; this query proves the
    clustered copy answers the box query losslessly (oracle computes the
    same box from the raw source)."""
    import os
    import shutil

    v = views(spark, sf_dir)
    out = os.path.join(tempfile.gettempdir(), "pqs_zorder")
    shutil.rmtree(out, ignore_errors=True)
    keyed = v["lineitem"].select(
        (F.col("l_orderkey") % 1024).alias("xk"),
        (F.col("l_partkey") % 1024).alias("yk"),
        "l_extendedprice",
    ).withColumn("zval", F.expr(_z_expr("xk", "yk")))
    (
        keyed.repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).where(
        F.col("xk").between(100, 227) & F.col("yk").between(300, 427)
    )
    return back.agg(
        F.count("*").alias("n_lines"),
        (
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).cast("double")
            / 100.0
        ).alias("total_price"),
    )
