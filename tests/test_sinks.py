"""Sink-layer tests: partitioned layout prunes, bucketed layout joins
without exchange, round-trips preserve data."""

import os

from pyspark.sql import functions as F

from parquet_query_spark.sources import sinks
from parquet_query_spark.sources.registry import load_table
from parquet_query_spark.workbench.csv_sink import write_csv_distributed

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_prunes(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "events_by_type")
    sinks.write_parquet(ev, out, partition_by=["event_type"])

    # hive layout on disk
    assert any(d.startswith("event_type=") for d in os.listdir(out))

    back = spark.read.parquet(out)
    clicks = back.where(F.col("event_type") == "click")
    assert clicks.count() == ev.where(F.col("event_type") == "click").count()
    # the filter must become a partition filter (directory pruning),
    # not a data filter evaluated per row
    plan = _plan(clicks)
    assert "PartitionFilters: [" in plan
    assert "event_type" in plan.split("PartitionFilters:")[1].split("]")[0]


def test_partitioned_write_round_trip(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "events_rt")
    sinks.write_parquet(ev, out, partition_by=["event_type"], max_records_per_file=500)
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    a = {tuple(r) for r in ev.select("event_id", "user_id").collect()}
    b = {tuple(r) for r in back.select("event_id", "user_id").collect()}
    assert a == b


def test_bucketed_join_has_no_exchange(spark):
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    sinks.write_bucketed_table(orders, "t_orders_b", ["o_orderkey"], 8, ["o_orderkey"])
    sinks.write_bucketed_table(lineitem, "t_lineitem_b", ["l_orderkey"], 8, ["l_orderkey"])
    try:
        o = spark.table("t_orders_b")
        l = spark.table("t_lineitem_b")
        j = o.hint("merge").join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        # sort order also satisfied by the bucket-file sort
        assert j.count() == lineitem.count()
    finally:
        sinks.drop_table(spark, "t_orders_b")
        sinks.drop_table(spark, "t_lineitem_b")


def test_json_csv_round_trip(spark, tmp_path):
    region = load_table(spark, SF_DIR, "region")
    jout, cout = str(tmp_path / "r_json"), str(tmp_path / "r_csv")
    sinks.write_json(region, jout)
    write_csv_distributed(region, cout)
    jback = spark.read.json(jout)
    cback = spark.read.option("header", True).option("inferSchema", True).csv(cout)
    assert jback.count() == region.count()
    assert cback.count() == region.count()
    assert set(jback.columns) == set(region.columns)
    assert set(cback.columns) == set(region.columns)


def test_sink_roundtrip_queries_match_source(spark):
    """The two driver-facing sink round-trip catalog queries: results match
    the same aggregate computed directly on the source tables, and the
    bucketed variant's join runs without a join-side Exchange."""
    from parquet_query_spark.operators.catalog import load_all

    catalog = load_all()
    part = catalog["sink_roundtrip_partitioned"].fn(spark, SF_DIR)
    o = load_table(spark, SF_DIR, "orders")
    direct = (
        o.where(F.col("o_orderstatus").isin("F", "O"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("double")
                / 100.0
            ).alias("total_price"),
        )
    )
    assert sorted(part.collect()) == sorted(direct.collect())

    bucketed = catalog["sink_roundtrip_bucketed_join"].fn(spark, SF_DIR)
    plan = _plan(bucketed)
    # the join of the two bucketed tables must not shuffle its inputs: no
    # hash-partitioning Exchange on either join key (the remaining
    # Exchanges belong to the final groupBy; a BroadcastExchange on the
    # tiny-SF side is fine — broadcast is also shuffle-free)
    assert "hashpartitioning(o_orderkey" not in plan, plan
    assert "hashpartitioning(l_orderkey" not in plan, plan
    li = load_table(spark, SF_DIR, "lineitem")
    direct_join = (
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
    assert sorted(bucketed.collect()) == sorted(direct_join.collect())


def test_zorder_write_rowgroup_stats_are_tight(spark):
    # the z-order clustered copy must give each output file a narrow,
    # non-overlapping zval range (that's what makes 2-d min/max pruning
    # work); verify via parquet footer stats
    import glob
    import os
    import tempfile

    import pyarrow.parquet as pq

    from parquet_query_spark.operators.catalog import CATALOG

    CATALOG["sink_zorder_cluster"].fn(spark, "/root/testdata/sf0.001").collect()
    out = os.path.join(tempfile.gettempdir(), "pqs_zorder")
    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        zi = md.schema.names.index("zval")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(zi).statistics
            ranges.append((st.min, st.max))
    assert len(ranges) >= 4
    ranges.sort()
    # file/row-group zval ranges must not overlap (range partition + sort)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (ranges,)


def test_compaction_reduces_file_count(spark):
    import os
    import tempfile

    from parquet_query_spark.operators.catalog import CATALOG

    rows = CATALOG["maintenance_compact_small_files"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    base = os.path.join(tempfile.gettempdir(), "pqs_compact")
    n_small = sum(1 for f in os.listdir(f"{base}_small") if f.startswith("part-"))
    n_out = sum(1 for f in os.listdir(f"{base}_out") if f.startswith("part-"))
    assert (n_small, n_out) == (64, 4)
    assert all(r.files_small == 64 and r.files_compacted == 4 for r in rows)


def test_zorder_bit_interleave_roundtrip():
    # the z-value expression must interleave losslessly: decoding even/odd
    # bits recovers (x, y) for every corner and random-ish value
    from parquet_query_spark.operators.sink_queries import _Z_BITS, _z_expr

    import duckdb

    con = duckdb.connect()
    cases = [(0, 0), (1, 0), (0, 1), (1023, 1023), (511, 512), (123, 987)]
    for x, y in cases:
        (z,) = con.execute(f"SELECT {_z_expr(str(x), str(y))}").fetchone()
        dx = sum(((z >> (2 * b)) & 1) << b for b in range(_Z_BITS))
        dy = sum(((z >> (2 * b + 1)) & 1) << b for b in range(_Z_BITS))
        assert (dx, dy) == (x, y), (x, y, z)
