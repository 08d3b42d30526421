"""PIVOT ... USING through ``Engine.sql``: implicit group columns are judged
on the pre-macro USING references (DuckDB decides before macro binding),
also when the PIVOT is a CTAS body, and the USING retry pipeline only
swallows analysis failures."""

import duckdb
import pytest


def test_ctas_pivot_using_macro_implicit_groups(engine):
    """CREATE TABLE ... AS PIVOT ... USING agg(macro(v)): the constant-body
    macro ignores v, but DuckDB judges consumption pre-binding, so v is
    consumed (NOT a group column) — the fix routes the RAW body through
    the nested sql() so run_pivot sees the pre-expansion references
    (fuzz v6 seeds 90151/90166 resurfaced on the CTAS path)."""
    con = duckdb.connect()
    n = "__r12_ctaspv"
    setup = [
        "CREATE TABLE __r12_pvsrc(k VARCHAR, v INT, w INT)",
        "INSERT INTO __r12_pvsrc VALUES ('a',1,10),('a',2,10),('b',3,30)",
        "CREATE MACRO __r12_c(a) AS (42)",
    ]
    engine.exec("DROP TABLE IF EXISTS __r12_pvsrc")
    engine.exec(f"DROP TABLE IF EXISTS {n}")
    for s in setup:
        engine.exec(s)
        con.execute(s)
    ctas = f"CREATE TABLE {n} AS PIVOT __r12_pvsrc ON k USING sum(__r12_c(v))"
    engine.sql(ctas)
    con.execute(ctas)
    want_cols = [d[0] for d in con.execute(f"SELECT * FROM {n}").description]
    got_cols = engine.sql(f"SELECT * FROM {n}").columns
    assert got_cols == want_cols  # w is a group column; v is consumed
    q = f"SELECT * FROM {n} ORDER BY w"
    assert [tuple(r) for r in engine.sql(q).collect()] == con.execute(q).fetchall()
    engine.exec(f"DROP TABLE {n}")
    engine.exec("DROP TABLE __r12_pvsrc")
    con.close()


def test_pivot_subquery_macro_does_not_overconsume(engine):
    """Probed r12: with ``m(a) := a + (SELECT max(w) FROM p)``, DuckDB's
    ``PIVOT p ON k USING sum(m(v))`` keeps w as an implicit group column
    (consumption judged pre-binding: only v is consumed).  Unioning
    post-expansion references would consume w and drop the column."""
    con = duckdb.connect()
    setup = [
        "CREATE TABLE __r12_sq(k VARCHAR, v INT, w INT)",
        "INSERT INTO __r12_sq VALUES ('a',1,10),('a',2,20),('b',3,30)",
        "CREATE MACRO __r12_m(a) AS (a + (SELECT max(w) FROM __r12_sq))",
    ]
    engine.exec("DROP TABLE IF EXISTS __r12_sq")
    for s in setup:
        engine.exec(s)
        con.execute(s)
    q = "PIVOT __r12_sq ON k USING sum(__r12_m(v)) ORDER BY w"
    r = con.execute(q)
    want_cols = [d[0] for d in r.description]
    want = r.fetchall()
    df = engine.sql(q)
    assert df.columns == want_cols  # ['w', 'a', 'b']
    assert [tuple(x) for x in df.collect()] == want
    engine.exec("DROP TABLE __r12_sq")
    con.close()


def test_resolve_using_agg_surfaces_non_analysis_errors():
    """A py4j-bridge-style failure inside the variant probe must surface,
    not silently advance to the next rewrite variant (VERDICT #4)."""
    from parquet_query_spark.workbench.pivot import _resolve_using_agg

    class _Boom:
        def limit(self, n):
            return self

        def agg(self, c):
            raise RuntimeError("bridge down")

    with pytest.raises(RuntimeError, match="bridge down"):
        _resolve_using_agg(_Boom(), "sum(v)")


def test_resolve_using_agg_still_retries_analysis_failures(engine, views):
    """Analysis failures keep advancing through the variants (the v6
    seed-99180 family: array-reading ``len`` only exists as a fallback)."""
    from parquet_query_spark.workbench.pivot import _resolve_using_agg

    base = engine.sql("SELECT array(1,2,3) AS xs, 1 AS v")
    c = _resolve_using_agg(base, "sum(len(xs))")
    assert [r[0] for r in base.agg(c).collect()] == [3]
