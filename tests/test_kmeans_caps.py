"""Bounds on the k-means driver state (similarity.py): the adaptive K is
capped independent of corpus size, the capped pipeline still runs, and the
Lloyd loop keeps at most one centroid broadcast alive."""

SF = "/root/testdata/sf0.01"


def test_km_broadcast_pool_bounded(spark):
    """After a full adaptive-K Lloyd run, at most ONE tracked broadcast
    remains (the returned DataFrame's); a second run releases it too."""
    import parquet_query_spark.operators.similarity as S

    # force the numpy-broadcast path at tiny N so the test is cheap
    orig = S._KM_SMALL_N
    try:
        S._KM_SMALL_N = 0
        S._km_final_assign(spark, "/root/testdata/sf0.001").collect()
        assert len(S._KM_LIVE_BC) <= 1
        first = list(S._KM_LIVE_BC)
        S._km_final_assign(spark, "/root/testdata/sf0.001").collect()
        assert len(S._KM_LIVE_BC) <= 1
        # the previous run's broadcast was released from the pool
        assert not (set(first) & set(S._KM_LIVE_BC))
    finally:
        S._KM_SMALL_N = orig


def test_km_k_eff_is_capped():
    """VERDICT r13 #3: the adaptive K must be bounded independent of
    corpus size — the centroid state is driver-collected and broadcast."""
    from parquet_query_spark.operators import similarity as S

    # below the cap: unchanged adaptive formula
    assert S._km_k_eff(2001) == S._KM_K
    assert S._km_k_eff(8_192_000) == -(-8_192_000 // S._KM_TARGET_CLUSTER)
    # at/above the engagement point: hard cap
    assert S._km_k_eff(S._KM_MAX_K * S._KM_TARGET_CLUSTER + 1) == S._KM_MAX_K
    assert S._km_k_eff(10**12) == S._KM_MAX_K
    # cap arithmetic stated in BASELINE.md: ~0.55 GB broadcast at dim 64
    assert S._KM_MAX_K * (S._DIM + 2) * 8 < (1 << 30)


def test_km_cap_engages_and_pipeline_still_runs(spark, monkeypatch):
    """With the cap forced below the adaptive K, the Lloyd pipeline must
    run end-to-end and emit no more than _KM_MAX_K clusters."""
    from parquet_query_spark.operators import similarity as S

    monkeypatch.setattr(S, "_KM_SMALL_N", 0)   # force the adaptive regime
    monkeypatch.setattr(S, "_KM_MAX_K", 4)     # engage the cap (k_eff 8 -> 4)
    assign = S._km_final_assign(spark, SF)
    cids = {r.cid for r in assign.select("cid").distinct().collect()}
    assert 0 < len(cids) <= 4
    assert cids <= set(range(4))  # init centroids are vec_id < k_eff
