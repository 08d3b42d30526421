"""Differential oracle tests — every catalog query with an oracle must match
DuckDB on the same data (mirrors the driver's CORRECTNESS gate).

Runs at sf0.01 by default (same SF the driver uses) — override with
SPARK_GRAFT_ORACLE_SF_DIR.

Each operator is built once, and the same DataFrame also answers two
plan-level checks: its physical plan holds no ``rangepartitioning``
exchange unless the operator is a ``template`` (the catalog's order rule:
answers are multisets, so nothing else ends in a global sort), and no
column Spark declares integral is declared floating by DuckDB's
``DESCRIBE`` of the oracle, or the reverse (``3`` and ``3.0``
canonicalize differently, so such a pair can never hash-match).  Each
oracle runs once per session into a DuckDB temp table
(``conftest.oracle_select``); ``tests/test_oracle_dtypes.py`` reads the
same result through pandas.
"""

import os

import pytest

from parquet_query_spark.operators.catalog import load_all
from parquet_query_spark.oracle import compare
from parquet_query_spark.plans import physical_plan

ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

CATALOG = load_all()
ORACLE_QUERIES = [name for name, spec in CATALOG.items() if spec.oracle]
WEAK_QUERIES = [name for name, spec in CATALOG.items() if not spec.oracle]

_DUCK_INTEGRAL = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
_SPARK_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def _assert_no_range_sort(spec, df):
    """Only a ``template`` may end in a global sort (``catalog`` order rule)."""
    if "template" in spec.tags:
        return
    plan = physical_plan(df)
    assert "rangepartitioning" not in plan, (
        f"{spec.name}: non-template operator range-sorts its output:\n{plan}"
    )


def _dtype_conflicts(df, con, oracle_sql: str) -> dict[str, str]:
    """Columns one engine declares integral and the other floating."""
    d_types = {r[0]: r[1].upper() for r in con.execute(f"DESCRIBE {oracle_sql}").fetchall()}
    bad = {}
    for field in df.schema.fields:
        st, dt = field.dataType.simpleString(), d_types.get(field.name, "")
        if (st in _SPARK_INTEGRAL and dt in ("DOUBLE", "FLOAT", "REAL")) or (
            st in ("double", "float") and dt in _DUCK_INTEGRAL
        ):
            bad[field.name] = f"spark {st} vs duckdb {dt}"
    return bad


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, oracle_con, oracle_select, name):
    spec = CATALOG[name]
    df = spec.fn(spark, ORACLE_SF_DIR)
    _assert_no_range_sort(spec, df)
    oracle = oracle_select(name)
    bad = _dtype_conflicts(df, oracle_con, oracle)
    assert not bad, f"{name}: cross-engine integral/float dtype conflicts: {bad}"
    report = compare(spark, ORACLE_SF_DIR, df, oracle, con=oracle_con)
    assert report["match"], f"{name}: {report}"


@pytest.mark.parametrize("name", WEAK_QUERIES)
def test_rows_only_queries_run(spark, name):
    spec = CATALOG[name]
    df = spec.fn(spark, ORACLE_SF_DIR)
    _assert_no_range_sort(spec, df)
    assert df.count() >= 0
    assert df.columns
