"""Semantic invariants of the event-stream batch operators (events_ops.py,
temporal.py): bounds and internal consistency the oracle hash-compare can't
express.  Value-level DuckDB parity is covered by tests/test_oracle_parity.py."""

from pyspark.sql import functions as F

from parquet_query_spark.operators.temporal import events_ewma_hourly

# these invariants are stated over the sf0.01 tables (more rows than the
# default ``sf_dir``)
SF = "/root/testdata/sf0.01"


def test_ewma_tracks_constant_series(spark, sf_dir):
    # EWMA of any series stays within [min, max] of its last 16 taps;
    # cheap global check: ewma in micro-units within corpus-wide bounds.
    rows = events_ewma_hourly(spark, sf_dir).collect()
    cents = [r["cents"] for r in rows]
    lo, hi = min(cents), max(cents)
    for r in rows:
        assert lo * 1_000_000 <= r["ewma_micro"] <= hi * 1_000_000 + 1


def test_late_audit_bounds(catalog, spark, sf_dir):
    for r in catalog["events_late_arrival_audit"].fn(spark, sf_dir).collect():
        assert 0 <= r["n_late_1h"] <= r["n_events"]
        assert 0 <= r["late_bp"] <= 10000
        assert r["max_late_us"] >= 0


def test_seasonal_backtest_mae_bounds(catalog, spark, sf_dir):
    for r in catalog["events_seasonal_naive_backtest"].fn(spark, sf_dir).collect():
        assert r["sum_abs_err_cents"] >= abs(r["sum_err_cents"])
        assert r["mae_cents"] <= r["max_abs_err_cents"]


def test_ab_test_consistency(catalog, spark, sf_dir):
    rows = catalog["events_ab_test_two_proportion"].fn(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["conv_a"] <= r["n_a"] and r["conv_b"] <= r["n_b"]
    assert r["significant_95"] == (1 if abs(r["z_score"]) >= 1.96 else 0)


def test_cusum_direction_values(catalog, spark, sf_dir):
    for r in catalog["events_cusum_changepoint"].fn(spark, sf_dir).collect():
        assert r["direction"] in ("shift_up", "shift_down")
        assert r["max_abs_cusum_micro"] >= 0


def test_gini_in_unit_interval(catalog, spark, sf_dir):
    for r in catalog["events_user_gini"].fn(spark, sf_dir).collect():
        assert -0.0001 <= r["gini"] <= 1.0


def test_bot_cadence_fields(catalog, spark, sf_dir):
    for r in catalog["events_bot_cadence"].fn(spark, sf_dir).collect():
        assert r["n_gaps"] >= 5
        assert r["mean_gap_s"] >= 0
        assert r["metronomic"] in (0, 1)


def test_dau_never_exceeds_wau(catalog, spark, sf_dir):
    for r in catalog["events_dau_wau_stickiness"].fn(spark, sf_dir).collect():
        assert r["dau"] <= r["wau"]
        assert 0 < r["stickiness_bp"] <= 10000


def test_surprisal_ranking_sorted(catalog, spark, sf_dir):
    rows = catalog["events_session_surprisal"].fn(spark, sf_dir).collect()
    vals = [r["surprisal_micro"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    for r in rows:
        assert r["per_step_micro"] * r["n_transitions"] <= r["surprisal_micro"] + r["n_transitions"]


def test_hourly_entropy_bounds(catalog, spark, sf_dir):
    # entropy of a <=5-type mix is within [0, log2(5)] nano-units
    import math

    cap = int(math.log2(5) * 1e9) + 5  # +ulp slack from per-term rounding
    for r in catalog["events_hourly_entropy"].fn(spark, sf_dir).collect():
        assert 0 <= r["entropy_nano"] <= cap
        assert r["dominant_type"]


def test_peak_hours_are_local_maxima(catalog, spark):
    rows = catalog["events_peak_hours"].fn(spark, SF).collect()
    for r in rows:
        assert r.n > r.prev_n and r.n >= r.next_n
        assert float(r.n) >= 1.2 * r.baseline - 0.01


def test_outage_windows_ordered_nonoverlapping(catalog, spark):
    rows = sorted(catalog["events_outage_windows"].fn(spark, SF).collect(), key=lambda r: r.gap_start)
    for prev, cur in zip(rows, rows[1:]):
        assert prev.gap_end <= cur.gap_start
    for r in rows:
        assert r.silent_minutes >= 5


def test_sliding_distinct_users_dominates_hourly(catalog, spark):
    from parquet_query_spark.operators.catalog import views

    sliding = {
        r.window_end: r.users_24h
        for r in catalog["events_sliding_distinct_users"].fn(spark, SF).collect()
    }
    v = views(spark, SF)
    hourly = {
        r.hour: r.u
        for r in v["events"]
        .groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count_distinct("user_id").alias("u"))
        .collect()
    }
    # a 24h trailing window can never see fewer users than its last hour
    for hour, u in hourly.items():
        assert sliding[hour] >= u


def test_fano_nonnegative_and_sorted(catalog, spark):
    rows = catalog["events_burstiness_fano"].fn(spark, SF).collect()
    assert rows
    assert all(r.fano >= 0 for r in rows)
    assert [r.fano for r in rows] == sorted((r.fano for r in rows), reverse=True)


def test_mann_kendall_statistics_consistent(catalog, spark):
    rows = catalog["events_trend_mann_kendall"].fn(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        max_s = r.n_days * (r.n_days - 1) // 2
        assert -max_s <= r.s_stat <= max_s
        assert r.var18 > 0
        assert r.trend in ("rising", "falling", "none")
        # z sign follows S sign; 1.96 gate matches the label
        if r.trend == "rising":
            assert r.z_mk > 1.96 and r.s_stat > 0
        elif r.trend == "falling":
            assert r.z_mk < -1.96 and r.s_stat < 0


def test_kl_drift_nonnegative_and_daily(catalog, spark):
    rows = catalog["events_kl_drift_daily"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        # KL divergence is non-negative (Gibbs); -0.0 can survive rounding
        assert r["kl_nats"] >= -1e-12
    days = [r["day"] for r in rows]
    assert len(set(days)) == len(days)


def test_markov_entropy_rate_bounds(catalog, spark):
    import math

    rows = catalog["events_markov_entropy_rate"].fn(spark, SF).collect()
    assert rows
    max_h = math.log2(len(rows))  # <= log2(#states) with a square matrix
    total_share = sum(r["stationary_share"] for r in rows)
    assert abs(total_share - 1.0) < 0.01
    for r in rows:
        assert 0.0 <= r["cond_entropy_bits"] <= max_h + 1e-9
        assert r["rate_contrib_bits"] <= r["cond_entropy_bits"] + 1e-9
