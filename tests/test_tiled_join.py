"""Regression guards for the round-5 scale fixes.

1. The tiled hot-key self-join (``dedup._tiled_pair_ctes``, under the LSH
   band join and ``fuzzy_join_rarest_token``) must produce EXACTLY the
   naive equi-join's pair set — tiling is a physical rewrite, never a
   semantic one.  It runs over the operator's rarest-token blocks of the
   real sf0.001 corpus and over a synthetic single-hot-block corpus shaped
   like the one that serialized at 8× (the AQE-invisible output-explosion
   topology, BASELINE.md round-5 section); the naive twin is built inline
   here (plain block_key join + doc_a < doc_b) and compared set-to-set.

2. ``bloom_prune_join``'s plan must keep the probe scan-side: the exact
   membership join broadcasts (no SortMergeJoin anywhere), so the only
   thing that ever shuffles is the one-row aggregate.
"""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _blocked(spark, docs):
    """The operator's own rarest-token block assignment
    (``dedup._rarest_token_ctes``) over ``docs``."""
    from parquet_query_spark.operators.dedup import _rarest_token_ctes

    return spark.sql(
        f"WITH {_rarest_token_ctes('{docs}')}\nSELECT doc_id, block_key FROM blocked",
        docs=docs,
    )


def _tile_join(spark, blocked, chunk_c):
    """The operators' hot-key self-join (``dedup._tiled_pair_ctes``, shared
    by the LSH band join and ``fuzzy_join_rarest_token``) over ``blocked``
    at chunk size ``chunk_c``."""
    from parquet_query_spark.operators.dedup import _tiled_pair_ctes

    ctes = _tiled_pair_ctes(spark, "{blocked}", "block_key", chunk_c)
    return spark.sql(f"WITH {ctes}\nSELECT doc_a, doc_b FROM tiled", blocked=blocked)


def _naive_pairs(blocked):
    a = blocked.select(F.col("doc_id").alias("doc_a"), "block_key")
    b = blocked.select(F.col("doc_id").alias("doc_b"), "block_key")
    return a.join(b, "block_key").where(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b"
    )


@pytest.mark.parametrize("chunk_c", [3, 2048])
def test_tiled_equals_naive_on_corpus(spark, views, chunk_c):
    """Real corpus; chunk_c=3 forces many tiles per block so tile-boundary
    pairs (ca<cb), intra-tile pairs (ca=cb), and single-chunk blocks are
    all exercised; 2048 is the production setting."""
    blocked = _blocked(spark, views["documents"])
    tiled = {(r.doc_a, r.doc_b) for r in _tile_join(spark, blocked, chunk_c).collect()}
    naive = {(r.doc_a, r.doc_b) for r in _naive_pairs(blocked).collect()}
    assert tiled == naive
    assert len(tiled) > 0


def test_tiled_equals_naive_on_hot_block(spark):
    """One 403-doc block (not divisible by the chunk size) + a 5-doc block
    + a singleton — n*(n-1)/2 pairs, each exactly once."""
    rows = (
        [(i, "hot") for i in range(403)]
        + [(1000 + i, "warm") for i in range(5)]
        + [(2000, "solo")]
    )
    blocked = spark.createDataFrame(rows, "doc_id long, block_key string")
    tiled = _tile_join(spark, blocked, 100).collect()
    pairs = {(r.doc_a, r.doc_b) for r in tiled}
    assert len(tiled) == len(pairs), "duplicate pairs emitted"
    assert len(pairs) == 403 * 402 // 2 + 5 * 4 // 2
    assert all(a < b for a, b in pairs)


def test_bloom_prune_join_plan_broadcasts(spark):
    """The exact-membership join must broadcast and nothing may sort-merge:
    the Bloom probe stays scan-side, so the only shuffle in the plan is
    the final one-row aggregate."""
    from parquet_query_spark.operators.catalog import load_all

    df = load_all()["bloom_prune_join"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_filter_never_false_negative(spark):
    """The Bloom invariant: every order whose key IS in the build set must
    pass the filter (n_exact rows are a subset of n_bloom_pass rows), and
    the summary must be internally consistent."""
    from parquet_query_spark.operators.catalog import load_all

    row = load_all()["bloom_prune_join"].fn(spark, SF_DIR).collect()[0]
    assert row.n_bloom_pass >= row.n_exact
    assert row.n_false_pos == row.n_bloom_pass - row.n_exact
    assert row.n_orders >= row.n_bloom_pass
    assert row.n_exact > 0
