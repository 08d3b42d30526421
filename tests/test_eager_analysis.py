"""Eager analysis at ``spark.sql()`` time, which the engine's retry
pipelines and its per-statement temp views rely on: the session gate, and
the workbench set operations that bind a derived relation as a temp view
for one statement and drop it once the statement is analysed."""

import pytest


def test_eager_analysis_gate(spark):
    """The classic session passes; a session that defers analysis (the
    Spark Connect failure mode) is rejected at bootstrap (VERDICT #7)."""
    from parquet_query_spark.session import assert_eager_analysis

    assert_eager_analysis(spark)  # classic local session: no raise

    class _LazySql:
        def sql(self, q):
            return None  # deferred analysis: no AnalysisException

    with pytest.raises(RuntimeError, match="analyze eagerly"):
        assert_eager_analysis(_LazySql())


# Each statement binds a derived relation as a temp view for its tail (or
# its INSERT) and must drop it once the statement is analysed.
_SETUP = [
    "CREATE TABLE __tv_src(k VARCHAR, v INT, w INT)",
    "INSERT INTO __tv_src VALUES ('a',1,10),('a',2,20),('b',3,30)",
    "CREATE TABLE __tv_dst(v INT, k VARCHAR, w INT)",
]
_STATEMENTS = {
    "pivot": "PIVOT __tv_src ON k USING sum(v) ORDER BY w DESC",
    "union_by_name": (
        "SELECT k, v FROM __tv_src UNION ALL BY NAME SELECT w, k FROM __tv_src "
        "ORDER BY k, v NULLS LAST, w NULLS LAST LIMIT 4"
    ),
    "insert_by_name": "INSERT INTO __tv_dst BY NAME SELECT k, v FROM __tv_src WHERE v > 1",
}


@pytest.mark.parametrize("kind", list(_STATEMENTS))
def test_set_statements_leave_no_temp_views(engine, kind):
    import duckdb

    statement = _STATEMENTS[kind]
    # an INSERT returns no rows: compare the target table afterwards
    check = "SELECT * FROM __tv_dst ORDER BY v" if kind == "insert_by_name" else statement
    con = duckdb.connect()
    for t in ("__tv_src", "__tv_dst"):
        engine.exec(f"DROP TABLE IF EXISTS {t}")
    try:
        for s in _SETUP:
            engine.exec(s)
            con.execute(s)
        before = sorted(t.name for t in engine.spark.catalog.listTables())
        df = engine.sql(statement)
        assert sorted(t.name for t in engine.spark.catalog.listTables()) == before
        if check != statement:
            con.execute(statement)
            df = engine.sql(check)
        want = con.execute(check)
        assert df.columns == [d[0] for d in want.description]
        assert [tuple(r) for r in df.collect()] == want.fetchall()
    finally:
        for t in ("__tv_src", "__tv_dst"):
            engine.exec(f"DROP TABLE IF EXISTS {t}")
        con.close()
