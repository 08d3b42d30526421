"""Path-literal CSV/JSON scans auto-detect like DuckDB (r12, fuzz v7).

A bare ``csv.`path``` scan read headerless _c0 STRINGS where DuckDB
sniffs delimiter/header/types — found by the v7 pre-campaign probe on
``COPY ... TO`` round-trips.  Path literals outside the engine root now
resolve through sniffed per-file temp views (Engine._path_view),
keyed by (path, mtime, size) so an overwritten file re-registers.
"""

import duckdb
import pytest


@pytest.fixture(scope="module")
def engine(sf_dir):
    from parquet_query_spark.engine import Engine

    return Engine.open(sf_dir, table_name="alldata")


def _both(engine, con, sql):
    s = [tuple(r) for r in engine.sql(sql).collect()]
    d = con.execute(sql).fetchall()
    assert s == d, (sql, s, d)
    return s


def test_copy_csv_roundtrip_header_and_delimiter(engine, tmp_path):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW nation_parquet AS "
        "SELECT * FROM '/root/testdata/sf0.001/nation.parquet'"
    )
    engine.spark.read.parquet(
        "/root/testdata/sf0.001/nation.parquet"
    ).createOrReplaceTempView("nation_parquet")
    p = str(tmp_path / "rt.csv")
    _both(
        engine, con,
        f"COPY (SELECT n_nationkey AS k, n_name AS s FROM nation_parquet "
        f"WHERE n_nationkey < 5) TO '{p}' (FORMAT csv, HEADER)",
    )
    _both(engine, con, f"SELECT k, s FROM '{p}' ORDER BY k")

    # headerless + custom delimiter: DuckDB sniffs both and names the
    # columns column0..N — the sniffed view must match names AND types
    p2 = str(tmp_path / "rt2.csv")
    _both(
        engine, con,
        f"COPY (SELECT n_nationkey AS k, n_name AS s FROM nation_parquet "
        f"WHERE n_nationkey < 4) TO '{p2}' (FORMAT csv, HEADER false, DELIMITER '|')",
    )
    _both(engine, con, f"SELECT column0 + 1 AS c, column1 AS s FROM '{p2}' ORDER BY c")

    # overwrite the same path -> the (mtime,size)-keyed cache re-registers
    _both(
        engine, con,
        f"COPY (SELECT n_nationkey AS k, n_name AS s FROM nation_parquet "
        f"WHERE n_nationkey < 2) TO '{p}' (FORMAT csv, HEADER)",
    )
    _both(engine, con, f"SELECT count(*) AS c FROM '{p}'")
    con.close()


def test_copy_json_roundtrip(engine, tmp_path):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW nation_parquet AS "
        "SELECT * FROM '/root/testdata/sf0.001/nation.parquet'"
    )
    engine.spark.read.parquet(
        "/root/testdata/sf0.001/nation.parquet"
    ).createOrReplaceTempView("nation_parquet")
    p = str(tmp_path / "rt.json")
    _both(
        engine, con,
        f"COPY (SELECT n_nationkey AS k, n_name AS s FROM nation_parquet "
        f"WHERE n_nationkey < 3) TO '{p}'",
    )
    _both(engine, con, f"SELECT k, s FROM '{p}' ORDER BY k")
    con.close()


def test_sniffer_is_quote_aware(tmp_path):
    """Fuzz v7 seeds 110270/111189: a delimiter INSIDE a quoted field
    ('u|v' / 'a,b') made the true delimiter's per-line counts
    inconsistent, so the sniffer fell back to a wrong separator and the
    re-scan saw one mangled column.  Counting now strips quoted spans."""
    from parquet_query_spark.sources.registry import sniff_csv_options

    p = str(tmp_path / "q.csv")
    with open(p, "w") as f:
        f.write('1|3|"u|v"\n2|1|u\n')
    assert sniff_csv_options(p) == {"header": False, "sep": "|"}
    p2 = str(tmp_path / "q2.csv")
    with open(p2, "w") as f:
        f.write('k,v,s\n0,3,"a,b"\n')
    assert sniff_csv_options(p2) == {"header": True, "sep": ","}


def test_rollback_of_ddl_is_intentionally_nontransactional(engine):
    """Intentional difference (r12, fuzz v7 probe): the engine's
    transaction statements are accepted no-op markers (single-session
    workbench; Spark's catalog is not transactional), so ROLLBACK does
    NOT undo CREATE MACRO / CTAS, where DuckDB's transactional catalog
    does.  The v7 statement grammar therefore fuzzes BEGIN/COMMIT
    interleavings only; this test pins the divergence so a future
    routing change is a conscious decision."""
    engine.exec("BEGIN")
    engine.exec("CREATE OR REPLACE MACRO __r12_txm(a) AS (a * 2)")
    engine.exec("ROLLBACK")
    # still defined on the engine; DuckDB would raise CatalogException
    assert [r[0] for r in engine.sql("SELECT __r12_txm(2) AS v").collect()] == [4]
    engine.exec("DROP MACRO __r12_txm")
