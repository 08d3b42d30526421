"""Regression guard for the driver's pandas canonicalization path.

The driver compares Spark vs DuckDB results AFTER converting the DuckDB
result to pandas (``con.execute(sql).df()``).  DuckDB types ``SUM(int)``
as HUGEINT, and pandas has no 128-bit dtype, so HUGEINT columns silently
become **float64** — ``3`` hashes as ``3.0`` and the row mismatches even
though both engines computed identical values.  This bit five oracles in
round 4 (VERDICT r4 "What's wrong" #1) and q12 in round 1; the fix is
always ``CAST(SUM(...) AS BIGINT)`` in the oracle SQL.

The local parity harness (``tests/test_oracle_parity.py``) goes through
``fetchall()``, which yields exact Python ints for HUGEINT — so it can
NEVER catch this class.  This module closes the gap without running any
Spark query:

1. ``DESCRIBE`` every oracle — no result column may be HUGEINT/UHUGEINT
   (plan-only, catches the class at its source).
2. Read every oracle's result through ``.df()`` — no column DuckDB
   declares integral may come back floating (catches e.g. NULL-induced
   int→float64 promotion, the other way pandas degrades integers).  The
   result is the one execution ``tests/test_oracle_parity.py`` compares
   against Spark (``conftest.oracle_select``, at the driver's sf0.01), so
   no oracle runs twice.

The Spark-side dtype check (a column one engine declares integral and
the other floating) runs in ``tests/test_oracle_parity.py`` on the
DataFrame that test already builds, so no operator is built here.
"""

import functools
import os

import pytest

from parquet_query_spark.operators.catalog import load_all
from parquet_query_spark.oracle import duckdb_connection

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

CATALOG = load_all()
ORACLED = [name for name, spec in CATALOG.items() if spec.oracle]

_DUCK_INTEGRAL = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF_DIR)
    yield c
    c.close()


@pytest.fixture(scope="module")
def described(con):
    """``DESCRIBE`` each operator's oracle once on the module's connection:
    name → {column: DuckDB type}."""

    @functools.cache
    def types(name: str) -> dict[str, str]:
        rows = con.execute(f"DESCRIBE {CATALOG[name].oracle}").fetchall()
        return {r[0]: r[1] for r in rows}

    return types


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_declares_no_hugeint(described, name):
    """SUM(int) must be CAST to BIGINT in every oracle (plan-level check)."""
    types = described(name)
    huge = {c: t for c, t in types.items() if "HUGEINT" in t.upper()}
    assert not huge, (
        f"{name}: oracle columns {huge} are HUGEINT — pandas renders these "
        f"float64 in the driver's .df() path while Spark returns bigint; "
        f"wrap the aggregate in CAST(... AS BIGINT)"
    )


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_df_keeps_integers_integral(oracle_con, oracle_select, described, name):
    """Integral DuckDB columns must survive the pandas conversion intact.

    NULL-bearing integer columns are exempt: pandas promotes those to
    float64 on BOTH sides of the driver compare (Spark ``toPandas`` does
    the same), so the degradation is symmetric and the hashes still match
    (empirically: window_lag_lead_order_gaps / window_first_last_value
    carry NULL bigints and have been driver-green since round 2).  Only
    one-sided degradation — HUGEINT, which exists solely on the DuckDB
    side — mismatches, and the DESCRIBE test above catches it at the
    source."""
    types = described(name)
    pdf = oracle_con.execute(oracle_select(name)).df()
    bad = {
        c: (types[c], str(pdf[c].dtype))
        for c in pdf.columns
        if types.get(c, "").upper() in _DUCK_INTEGRAL
        and pdf[c].dtype.kind == "f"
        and not pdf[c].isna().any()
    }
    assert not bad, (
        f"{name}: integral oracle columns degraded to float in .df() "
        f"(NULLs present?): {bad} — the driver hash will mismatch Spark's "
        f"integer rendering"
    )

