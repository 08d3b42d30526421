"""Round-8 function-gap sweep: DuckDB functions a probe battery found
missing or mistyped in the engine, each now a dialect macro/rename and
differential-tested here on identical text.

Pinned DuckDB semantics (each probed on the bundled build):
- ``format_bytes``/``formatReadableSize``: binary units KiB..PiB capped
  at PiB, '1 byte' singular, one decimal TRUNCATED toward zero;
  ``formatReadableDecimalSize``: same scheme at base 1000 (kB..PB).
- ``list_resize(l, n[, fill])``: truncate or right-pad (default NULL).
- ``histogram``: key-ordered MAP, NULLs ignored, NULL (not {}) when no
  non-NULL rows.  ``entropy``: Shannon log2 over value frequencies,
  0.0 for empty.
- ``arg_min``/``arg_max`` SKIP rows whose ARGUMENT is NULL (the plain
  min_by/max_by rename returned NULL where DuckDB says 1);
  ``arg_min_null``/``arg_max_null`` keep them.
- ``fdiv`` = floor division (DOUBLE, NULL on zero divisor), ``fmod`` =
  x − y·floor(x/y); ``kahan_sum``/``fsum``/``sumkahan`` → DOUBLE sum.
- unsigned casts (``::USMALLINT`` …) widen to the next signed type.
"""

from __future__ import annotations

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"

BATTERY = [
    "SELECT format_bytes(999) AS a, format_bytes(1234567) AS b, "
    "format_bytes(0) AS c, format_bytes(1) AS d",
    "SELECT format_bytes(1023) AS a, format_bytes(1024) AS b, "
    "format_bytes(1536) AS c, format_bytes(-2048) AS d",
    "SELECT format_bytes(1073741824) AS a, format_bytes(1945) AS b, "
    "format_bytes(1023999) AS c, format_bytes(1048575) AS d",
    "SELECT format_bytes(1152921504606846976) AS a, "
    "format_bytes(1100000000000000000) AS b, format_bytes(NULL) AS c",
    "SELECT formatReadableSize(1234567) AS a, "
    "formatReadableDecimalSize(1990000) AS b, "
    "formatReadableDecimalSize(999999) AS c, "
    "formatReadableDecimalSize(-1500) AS d",
    "SELECT list_resize([1,2], 4) AS a, list_resize([1,2,3], 2) AS b, "
    "list_resize([1,2], 4, 9) AS c, list_resize([1,2], 0) AS e",
    "SELECT list_resize([], 2) AS a, array_resize([1,2], 3) AS b",
    "SELECT fdiv(7.5, 2.0) AS a, fmod(7.5, 2.0) AS b, fdiv(-7.5, 2.0) AS c, "
    "fmod(-7.5, 2.0) AS d, fdiv(1, 0) AS e, fmod(1, 0) AS f, fdiv(7, 2) AS g",
    "SELECT kahan_sum(x) AS a, fsum(x) AS b, sumkahan(x) AS c "
    "FROM (VALUES (1.5),(2.5)) t(x)",
    "SELECT current_schema() AS a, current_database() AS b",
    "SELECT str_split_regex('a1b22c', '\\d+') AS a",
    "SELECT 5::USMALLINT + 1 AS a, 3::UTINYINT * 2 AS b, "
    "CAST(7 AS UINTEGER) - 1 AS c",
    "SELECT arg_min(x, y) AS a, arg_max(x, y) AS b, arg_min_null(x, y) AS c, "
    "arg_max_null(x, y) AS d FROM (VALUES (1, 5),(NULL, 1),(NULL, 7)) t(x, y)",
    "SELECT arg_min(x, y) AS a FROM (VALUES (CAST(NULL AS INT), 1)) t(x, y)",
    "SELECT entropy(x) AS a FROM (VALUES (1),(2),(2),(3)) t(x)",
    "SELECT entropy(x) AS a FROM (VALUES (1),(NULL),(2)) t(x)",
    "SELECT entropy(x) AS a FROM (VALUES (CAST(NULL AS INT))) t(x)",
    "SELECT entropy(x) AS a FROM (VALUES (1),(1)) t(x)",
    "SELECT entropy(s) AS a FROM (VALUES ('a'),('b'),('b'),('b')) t(s)",
    "SELECT map_keys(histogram(x)) AS k, map_values(histogram(x)) AS v "
    "FROM (VALUES (1),(2),(2),(3),(NULL)) t(x)",
    "SELECT map_keys(histogram(s)) AS k, map_values(histogram(s)) AS v "
    "FROM (VALUES ('b'),('a'),('b')) t(s)",
    "SELECT histogram(x) IS NULL AS a FROM (VALUES (CAST(NULL AS INT))) t(x)",
]


@pytest.fixture(scope="module")
def pair():
    from parquet_query_spark.engine import Engine

    eng = Engine.open(SF_DIR)
    con = duckdb.connect()
    yield eng, con
    con.close()


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, list):
        return str(v).replace("None", "NULL")
    return str(v)


@pytest.mark.parametrize("sql", BATTERY)
def test_function_gap_parity(pair, sql):
    eng, con = pair
    got = [tuple(_norm(v) for v in r) for r in eng.sql(sql).collect()]
    want = [tuple(_norm(v) for v in r) for r in con.execute(sql).fetchall()]
    assert got == want, (sql, got, want)
