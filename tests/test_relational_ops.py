"""Semantic invariants of the relational, analytics and warehouse operators
(relational.py, advanced.py, scale_patterns.py, temporal.py): the bounds,
conservation and consistency properties the oracle hash-compare can't
express.  Value-level DuckDB parity is covered by tests/test_oracle_parity.py."""

from pyspark.sql import functions as F

from parquet_query_spark.operators.scale_patterns import warehouse_forget_users

# these invariants are stated over the sf0.01 tables (more rows than the
# default ``sf_dir``)
SF = "/root/testdata/sf0.01"


def test_forget_users_partitions_the_corpus(spark, sf_dir, views):
    rows = warehouse_forget_users(spark, sf_dir).collect()
    n_total = views["events"].count()
    assert sum(r["n_kept"] + r["n_deleted"] for r in rows) == n_total
    assert all(r["n_users_deleted"] <= r["n_deleted"] for r in rows)


def test_cms_never_underestimates(catalog, spark, sf_dir):
    for r in catalog["agg_cms_heavy_hitters"].fn(spark, sf_dir).collect():
        assert r["cms_n"] >= r["exact_n"]
        assert r["overcount"] == r["cms_n"] - r["exact_n"]


def test_basket_lift_positive_and_support_bounds(catalog, spark, sf_dir):
    for r in catalog["orders_basket_pairs"].fn(spark, sf_dir).collect():
        assert r["n_ab"] >= 2
        assert r["n_ab"] <= min(r["n_a"], r["n_b"])
        assert r["lift"] > 0


def test_pareto_cutoff_bounds(catalog, spark, sf_dir):
    for r in catalog["pareto_supplier_revenue"].fn(spark, sf_dir).collect():
        assert 1 <= r["n_to_80pct"] <= r["n_suppliers"]
        assert 0 < r["top1_share_bp"] <= 10000


def test_null_safe_dominates_plain(catalog, spark, sf_dir):
    rows = catalog["join_null_safe_contrast"].fn(spark, sf_dir).collect()
    for r in rows:
        assert r["n_plain_hits"] <= r["n_nullsafe_hits"]
    null_rows = [r for r in rows if r["nk"] is None]
    if null_rows:  # the NULL class exists at every non-trivial SF
        assert null_rows[0]["n_plain_hits"] == 0


def test_duplicate_payments_gap_bound(catalog, spark, sf_dir):
    for r in catalog["orders_duplicate_payments"].fn(spark, sf_dir).collect():
        assert 0 <= r["gap_days"] <= 7
        assert r["first_orderkey"] != r["dup_orderkey"]


def test_lead_time_percentile_ordering(catalog, spark, sf_dir):
    for r in catalog["orders_fulfillment_lead_time"].fn(spark, sf_dir).collect():
        assert r["min_days"] <= r["p50_days"] <= r["p95_days"] <= r["max_days"]


def test_yoy_growth_null_only_first_year(catalog, spark, sf_dir):
    rows = sorted(catalog["revenue_yoy_growth"].fn(spark, sf_dir).collect(), key=lambda r: r["yr"])
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r["n_name"], []).append(r)
    for nation, seq in by_nation.items():
        assert seq[0]["yoy_growth_bp"] is None
        for r in seq[1:]:
            assert r["yoy_growth_bp"] is not None
            assert r["prev_cents"] is not None


def test_bitwise_popcount_matches_python(catalog, spark, sf_dir):
    for r in catalog["scalar_bitwise_functions"].fn(spark, sf_dir).collect():
        assert r["popcount"] == bin(r["o_orderkey"]).count("1")
        assert r["shl3"] == r["o_orderkey"] << 3
        assert r["shr2"] == r["o_orderkey"] >> 2


def test_snapshot_diff_partitions_the_key_space(catalog, spark):
    rows = {r.status: r for r in catalog["warehouse_snapshot_diff"].fn(spark, SF).collect()}
    assert set(rows) == {"added", "removed", "changed", "unchanged"}
    from parquet_query_spark.operators.catalog import views

    n_orders = views(spark, SF)["orders"].count()
    union = sum(r.n for r in rows.values())
    # every order key appears in at least one snapshot unless dropped by both mods
    dropped_by_both = (
        views(spark, SF)["orders"]
        .where((F.col("o_orderkey") % 97 == 0) & (F.col("o_orderkey") % 101 == 0))
        .count()
    )
    assert union == n_orders - dropped_by_both


def test_rolling_zscore_windows_complete(catalog, spark):
    rows = catalog["lineitem_rolling_revenue_zscore"].fn(spark, SF).collect()
    assert rows
    months = [r.ship_month for r in rows]
    assert months == sorted(months)


def test_datetime_sweep_dow_range(catalog, spark):
    rows = catalog["scalar_datetime_functions"].fn(spark, SF).limit(200).collect()
    for r in rows:
        assert 0 <= r.dow_sun0 <= 6
        assert 1 <= r.q <= 4
        assert r.month_end >= r.quarter_start


def test_mode_bounded_by_total(catalog, spark):
    rows = catalog["agg_exact_mode_per_group"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 < r.mode_n <= r.total_n


def test_backlog_burndown_conserves_orders(catalog, spark):
    rows = sorted(catalog["orders_backlog_burndown"].fn(spark, SF).collect(), key=lambda r: r.month)
    assert rows
    # deltas must conserve: backlog starts at first month's net and ends at 0
    assert rows[-1].open_backlog == 0
    assert sum(r.net_delta for r in rows) == 0
    assert all(r.open_backlog >= 0 for r in rows)
    # cumulative consistency
    run = 0
    for r in rows:
        run += r.net_delta
        assert run == r.open_backlog


def test_weighted_median_within_range(catalog, spark):
    from parquet_query_spark.operators.catalog import views

    rows = catalog["agg_weighted_median"].fn(spark, SF).collect()
    v = views(spark, SF)
    bounds = {
        r.flag: r
        for r in v["lineitem"]
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi"))
        .collect()
    }
    assert len(rows) == 3
    for r in rows:
        assert bounds[r.flag].lo <= r.weighted_median <= bounds[r.flag].hi


def test_bottom_k_sample_is_mergeable(catalog, spark):
    """bottom_k(A ∪ B) == bottom_k(bottom_k(A) ∪ bottom_k(B)) — the
    property that makes the sample unionable across shards/days."""
    from parquet_query_spark.functions.xxh64_sql import MASK56
    from parquet_query_spark.operators.catalog import views

    v = views(spark, SF)
    keyed = v["orders"].select(
        "o_orderkey", F.expr(f"xxhash64(o_orderkey) & {MASK56}").alias("draw")
    )
    whole = [r.o_orderkey for r in keyed.orderBy("draw").limit(100).collect()]
    lo = keyed.where(F.col("o_orderkey") % 2 == 0).orderBy("draw").limit(100)
    hi = keyed.where(F.col("o_orderkey") % 2 == 1).orderBy("draw").limit(100)
    merged = [
        r.o_orderkey for r in lo.unionAll(hi).orderBy("draw").limit(100).collect()
    ]
    assert whole == merged
    # and it matches the catalog operator
    op = [r.o_orderkey for r in catalog["sample_bottom_k_mergeable"].fn(spark, SF).collect()]
    assert op == whole


def test_mix_shift_shares_sum_to_one(catalog, spark):
    rows = catalog["lineitem_returnflag_mix_shift"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.chi2 >= 0.0
        assert abs(r.share_a + r.share_n + r.share_r - 1.0) < 2e-4


def test_rolling_median_within_frame_bounds(catalog, spark):
    rows = catalog["window_rolling_median_revenue"].fn(spark, SF).collect()
    assert rows
    for i, r in enumerate(rows):
        frame = [x.revenue for x in rows[max(0, i - 6) : i + 1]]
        assert min(frame) - 0.01 <= r.rolling_median_7d <= max(frame) + 0.01


def test_correlation_values_in_range(catalog, spark):
    row = catalog["profile_numeric_correlations"].fn(spark, SF).collect()[0]
    for v in row.asDict().values():
        assert -1.0 <= v <= 1.0


def test_km_survival_monotone_and_bounded(catalog, spark):
    rows = catalog["customers_repeat_survival_km"].fn(spark, SF).collect()
    assert rows
    per_seg = {}
    for r in rows:
        per_seg.setdefault(r["segment"], []).append(r)
    for seg, seg_rows in per_seg.items():
        seg_rows.sort(key=lambda r: r["t_weeks"])
        assert [r["t_weeks"] for r in seg_rows] == list(range(4, 53, 4))
        surv = [r["survival"] for r in seg_rows]
        ev = [r["cum_events"] for r in seg_rows]
        assert all(0.0 <= s <= 1.0 for s in surv)
        # survival non-increasing, events non-decreasing in t
        assert all(a >= b - 1e-9 for a, b in zip(surv, surv[1:]))
        assert all(a <= b for a, b in zip(ev, ev[1:]))


def test_rfm_migration_conserves_customers(catalog, spark):
    from parquet_query_spark.operators.catalog import views

    rows = catalog["orders_rfm_migration"].fn(spark, SF).collect()
    active = (
        views(spark, SF)["orders"].select("o_custkey").distinct().count()
    )
    # every active customer lands in exactly one matrix cell
    assert sum(r["n_customers"] for r in rows) == active
    for r in rows:
        assert 0 <= r["m_score_h1"] <= 5 and 0 <= r["m_score_h2"] <= 5
        # (0, 0) is impossible: a customer absent from both halves has no orders
        assert (r["m_score_h1"], r["m_score_h2"]) != (0, 0)
