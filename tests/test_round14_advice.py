"""Round-14 optimization pins (VERDICT r13 follow-ups + ADVICE r13)."""

import pytest

from parquet_query_spark.operators.catalog import CATALOG, load_all

load_all()


@pytest.fixture(scope="module")
def engine(sf_dir):
    from parquet_query_spark.engine import Engine

    return Engine.open(sf_dir, table_name="alldata")


def test_ctas_backup_drop_failure_does_not_fail_the_swap(engine, monkeypatch):
    """ADVICE r13: once the OR REPLACE promotion has succeeded, a failure
    dropping the internal backup table must not surface as a CTAS error
    — the swap is done; the backup is leftover disk."""
    n = "__r14_bakdrop"
    engine.exec(f"DROP TABLE IF EXISTS {n}")
    engine.sql(f"CREATE TABLE {n} AS SELECT 1 AS x")
    spark = engine.spark
    real_sql = spark.sql
    fails = {"left": 1}

    def flaky(stmt, *a, **kw):
        if (
            isinstance(stmt, str)
            and stmt.startswith("DROP TABLE IF EXISTS `__ctas_swap")
            and stmt.rstrip().endswith("_bak`")
            and fails["left"] > 0
        ):
            fails["left"] -= 1
            raise RuntimeError("injected drop hiccup")
        return real_sql(stmt, *a, **kw)

    monkeypatch.setattr(spark, "sql", flaky)
    engine.sql(f"CREATE OR REPLACE TABLE {n} AS SELECT 2 AS x")  # must not raise
    monkeypatch.undo()
    assert [r[0] for r in engine.sql(f"SELECT x FROM {n}").collect()] == [2]
    # the backup leaked by the injected failure is discoverable + droppable
    leftovers = [t.name for t in spark.catalog.listTables() if "__ctas_swap" in t.name]
    for t in leftovers:
        real_sql(f"DROP TABLE IF EXISTS `{t}`")
    engine.exec(f"DROP TABLE {n}")


SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    from parquet_query_spark.session import get_spark

    return get_spark("test-round14")


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


def test_zero_norm_document_assigns_lowest_label(spark):
    """ADVICE r13, adjudicated: a zero-norm DOCUMENT has undefined cosine
    against every centroid, so the assignment degenerates to the lowest
    label — the same output the replaced window form (sim DESC NULLS
    LAST, label) produced for an all-NULL sim column.  Non-degenerate
    documents keep nulls-lose vs degenerate centroids."""
    from parquet_query_spark.operators.similarity import _assign_cells_scanside

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, ev array<double>"
    )
    cents = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]  # cid 0 degenerate
    got = {
        r.vec_id: r.c_label
        for r in _assign_cells_scanside(emb, cents).select("vec_id", "c_label").collect()
    }
    # doc 1 is degenerate: every centroid ties, lowest cid (0) wins;
    # doc 2 is normal: the degenerate centroid loses as before
    assert got == {1: 0, 2: 2}


def test_km_cap_engages_and_pipeline_still_runs(spark, monkeypatch):
    """With the cap forced below the adaptive K, the Lloyd pipeline must
    run end-to-end and emit no more than _KM_MAX_K clusters."""
    from parquet_query_spark.operators import similarity as S

    monkeypatch.setattr(S, "_KM_SMALL_N", 0)   # force the adaptive regime
    monkeypatch.setattr(S, "_KM_MAX_K", 4)     # engage the cap (k_eff 8 -> 4)
    assign = S._km_final_assign(spark, SF01)
    cids = {r.cid for r in assign.select("cid").distinct().collect()}
    assert 0 < len(cids) <= 4
    assert cids <= set(range(4))  # init centroids are vec_id < k_eff
