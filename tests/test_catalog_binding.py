"""SQL-text catalog operators bind the DataFrames of THEIR sf_dir and leave
the session catalog alone.

The operators below write their tables as ``{table}`` placeholders and pass
``**views(spark, sf_dir)`` to ``spark.sql``.  Building them must neither
replace a user's view that happens to share a table's name (an ``Engine``
opened with ``table_name="orders"``) nor leave a temp view behind, and two
corpora interleaved on one session must each match their own oracle.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from parquet_query_spark.engine import Engine
from parquet_query_spark.operators.catalog import load_all
from parquet_query_spark.oracle import compare, duckdb_connection

CATALOG = load_all()

# Every operator that builds from SQL text over the driver tables, plus two
# consumers of the shared LSH kernels (verified pairs; pairs with shingles).
SQL_TEXT_OPERATORS = [
    "q17_small_quantity_revenue",
    "q22_dormant_high_balance_customers",
    "subq_orders_above_avg",
    "subq_correlated_max_line",
    "cte_customer_ltv_band",
    "groupby_output_alias",
    "setop_all_variants",
    "scalar_string_functions2",
    "scalar_math_functions",
    "agg_having",
    "agg_grouping_sets",
    "template_account_summary",
    "template_service_summary",
    "template_monthly_summary",
    "template_account_details",
    "template_savings_plans",
    "template_reserved_instances",
    "subq_correlated_min_price",
    "unpivot_lineitem_measures",
    "values_inline_table",
    "lateral_top2_customers_per_nation",
    "recursive_cte_month_series",
    "udf_registered_token_count",
    "dedup_band_tuning_table",
    "dedup_minhash_signatures",
    "dedup_minhash_candidate_pairs",
    "dedup_minhash_containment",
]


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_sql_operators_interleave_sf_dirs_without_touching_the_session(
    spark, sf_dir, views, tmp_path
):
    small, large = sf_dir, os.path.join(os.path.dirname(sf_dir), "sf0.01")
    assert small != large and os.path.isdir(large)
    folder = tmp_path / "mine"
    folder.mkdir()
    pq.write_table(pa.table({"o_orderkey": list(range(7))}), folder / "o.parquet")
    cons = {d: duckdb_connection(d) for d in (small, large)}
    try:
        eng = Engine.open(str(folder), table_name="orders", spark=spark)
        count_sql = "SELECT COUNT(*) AS n FROM orders"
        assert eng.run(count_sql).rows == [["7"]]
        before = _temp_views(spark)
        for i, name in enumerate(SQL_TEXT_OPERATORS):
            spec = CATALOG[name]
            dirs = (small, large) if i % 2 == 0 else (large, small)
            # build on both corpora before running either
            built = [(d, spec.fn(spark, d)) for d in dirs]
            for d, df in built:
                report = compare(spark, d, df, spec.oracle, con=cons[d])
                assert report["match"], f"{name} @ {d}: {report}"
        assert eng.run(count_sql).rows == [["7"]]
        assert _temp_views(spark) == before
    finally:
        for con in cons.values():
            con.close()
        for name, df in views.items():
            df.createOrReplaceTempView(name)


# The pipeline_batch benchmark runs the bench-tagged operators in the
# order a fresh process's load_all() registers them.
BENCH_ORDER = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "text_stats",
    "text_quality_score",
    "dedup_exact_groups",
    "dedup_minhash_signatures",
    "dedup_minhash_candidate_pairs",
    "dedup_simhash",
    "dedup_simhash_buckets",
    "dedup_cluster_pipeline",
    "knn_bruteforce_cosine",
    "embedding_pq_codes",
]


def test_bench_operators_register_in_a_fixed_order():
    """Importing an operator module registers its operators at that moment,
    so a new import can reorder the benchmark pass; a fresh interpreter
    (not this test session, whose earlier imports already set the order)
    must list the bench operators in ``BENCH_ORDER``."""
    import subprocess
    import sys

    code = (
        "from parquet_query_spark.operators.catalog import load_all\n"
        "for n, s in load_all().items():\n"
        "    if 'bench' in s.tags: print(n)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    ).stdout
    assert out.split() == BENCH_ORDER
