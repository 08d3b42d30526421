"""Semantic invariants of the graph operators (graph.py) over the verified
near-duplicate graph.  Value-level DuckDB parity is covered by
tests/test_oracle_parity.py."""

from parquet_query_spark.operators.graph import neardup_kcore

# these invariants are stated over the sf0.01 tables (more rows than the
# default ``sf_dir``)
SF = "/root/testdata/sf0.01"


def test_kcore_trace_monotone(spark, sf_dir):
    rows = sorted(neardup_kcore(spark, sf_dir).collect(), key=lambda r: r["round"])
    assert [r["round"] for r in rows] == list(range(6))
    for a, b in zip(rows, rows[1:]):
        assert b["n_nodes"] <= a["n_nodes"]
        assert b["n_edges"] <= a["n_edges"]


def test_lpa_communities_partition_nodes(catalog, spark):
    rows = catalog["neardup_label_propagation"].fn(spark, SF).collect()
    assert rows
    sizes = [r["size"] for r in rows]
    assert sizes == sorted(sizes, reverse=True)
    assert all(s >= 1 for s in sizes)
    # labels are node ids, hence distinct communities
    assert len({r["community"] for r in rows}) == len(rows)
