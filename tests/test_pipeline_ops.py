"""Semantic invariants of the training-data pipeline operators
(pipeline.py): monotone funnels, budget and share conservation, epoch
variance.  Value-level DuckDB parity is covered by
tests/test_oracle_parity.py."""

# these invariants are stated over the sf0.01 tables (more rows than the
# default ``sf_dir``)
SF = "/root/testdata/sf0.01"


def test_funnel_monotone_and_bounded(catalog, spark, sf_dir):
    rows = sorted(catalog["pipeline_funnel_report"].fn(spark, sf_dir).collect(), key=lambda r: r["stage_no"])
    assert [r["stage"] for r in rows] == ["raw", "lang_en", "quality", "exact_dedup"]
    for a, b in zip(rows, rows[1:]):
        assert b["n_docs"] <= a["n_docs"]
        assert b["n_chars"] <= a["n_chars"]
    assert rows[0]["retained_bp"] == 10000


def test_token_budget_shares_sum_to_one(catalog, spark):
    rows = catalog["pipeline_token_budget_mix"].fn(spark, SF).collect()
    assert abs(sum(r.observed_share for r in rows) - 1.0) < 0.01
    assert abs(sum(r.target_share for r in rows) - 1.0) < 0.01
    # uniform target over N sources: epochs > 1 iff under-represented
    for r in rows:
        assert (r.epochs_at_budget > 1.0) == (r.observed_share < r.target_share)


def test_curriculum_deciles_partition_corpus(catalog, spark):
    rows = sorted(catalog["pipeline_curriculum_order"].fn(spark, SF).collect(), key=lambda r: r.decile)
    assert [r.decile for r in rows] == list(range(1, 11))
    assert sum(r.n_docs for r in rows) == 500
    # quality ordering: decile 1 has the highest scores
    for a, b in zip(rows, rows[1:]):
        assert a.min_score >= b.max_score - 1e-9


def test_mix_rebalance_deltas_consistent(catalog, spark):
    rows = catalog["pipeline_mix_rebalance_delta"].fn(spark, SF).collect()
    assert rows
    # temperature 0.5 flattens: over-represented sources lose, small gain
    for r in rows:
        if r.current_bp > r.target_bp:
            assert r.token_delta <= 0
        elif r.current_bp < r.target_bp:
            assert r.token_delta >= 0
        assert 0 <= r.target_bp <= 10000


def test_annealing_mix_spends_the_budget(catalog, spark):
    rows = catalog["pipeline_annealing_mix"].fn(spark, SF).collect()
    assert rows
    p1 = sum(r["phase1_tokens"] for r in rows)
    p2 = sum(r["phase2_tokens"] for r in rows)
    # per-source rounding drifts at most half a token per source
    assert abs(p1 - 900_000) <= len(rows)
    assert abs(p2 - 100_000) <= len(rows)
    for r in rows:
        assert 0 <= r["frac_long"] <= 1
        assert r["phase2_epochs"] > 0


def test_epoch_shuffle_varies_by_epoch_and_conserves_docs(catalog, spark):
    from parquet_query_spark.operators.catalog import views

    rows = catalog["pipeline_epoch_shuffle_blocks"].fn(spark, SF).collect()
    n_docs = views(spark, SF)["documents"].count()
    per_epoch = {}
    for r in rows:
        per_epoch.setdefault(r["epoch"], []).append(r)
    assert sorted(per_epoch) == [0, 1, 2]
    checksums = {}
    for epoch, shard_rows in per_epoch.items():
        assert sum(r["n_docs"] for r in shard_rows) == n_docs
        checksums[epoch] = tuple(
            r["order_checksum"] for r in sorted(shard_rows, key=lambda r: r["shard"])
        )
    # the permutation must actually change between epochs
    assert checksums[0] != checksums[1]
    assert checksums[1] != checksums[2]
