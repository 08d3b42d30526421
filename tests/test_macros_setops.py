"""CREATE/DROP MACRO (workbench/macros.py) and UNION BY NAME
(workbench/set_ops.py) — DuckDB pass-through constructs the reference gets
for free (src/duckdb.ts:46-49), differential-tested against DuckDB."""

import duckdb
import pytest

from parquet_query_spark.workbench.macros import (
    expand_macros,
    parse_create_macro,
    register_macro,
)
from parquet_query_spark.workbench.set_ops import has_union_by_name


@pytest.fixture(scope="module")
def engine(sf_dir):
    from parquet_query_spark.engine import Engine

    return Engine.open(sf_dir, table_name="alldata")


# ── pure parsing / expansion ─────────────────────────────────────────────


def test_parse_scalar_macro():
    mac = parse_create_macro("CREATE MACRO add1(a, b) AS a + b")
    assert mac.name == "add1"
    assert mac.positional == ["a", "b"]
    assert not mac.is_table
    assert mac.body == "a + b"


def test_parse_default_and_table_macro():
    mac = parse_create_macro("CREATE MACRO m(a, b := 5) AS a * b")
    assert mac.positional == ["a"] and mac.defaults == {"b": "5"}
    tmac = parse_create_macro("CREATE MACRO t(n) AS TABLE SELECT n")
    assert tmac.is_table and tmac.body == "SELECT n"


def test_expand_substitutes_with_parens_and_boundaries():
    macros = {}
    register_macro(macros, "CREATE MACRO sq(x) AS x * x")
    out = expand_macros("SELECT sq(1 + 2), xx, 'sq(9)' FROM t", macros)
    assert out == "SELECT ((1 + 2) * (1 + 2)), xx, 'sq(9)' FROM t"


def test_expand_nested_calls():
    macros = {}
    register_macro(macros, "CREATE MACRO inc(x) AS x + 1")
    assert expand_macros("SELECT inc(inc(1))", macros) == "SELECT ((((1) + 1)) + 1)"


def test_register_rejects_duplicate_and_recursion():
    macros = {}
    register_macro(macros, "CREATE MACRO m(a) AS a")
    with pytest.raises(ValueError, match="already exists"):
        register_macro(macros, "CREATE MACRO m(a) AS a + 1")
    with pytest.raises(ValueError, match="reference itself"):
        register_macro(macros, "CREATE MACRO r(a) AS r(a - 1)")


def test_expand_cycle_hits_the_depth_cap():
    """Creation rejects only direct self-reference; a cycle built with
    CREATE OR REPLACE ends at the expansion depth cap, not the stack."""
    macros = {}
    register_macro(macros, "CREATE MACRO a(x) AS x + 1")
    register_macro(macros, "CREATE MACRO b(x) AS a(x) * 2")
    register_macro(macros, "CREATE OR REPLACE MACRO a(x) AS b(x) - 1")
    with pytest.raises(ValueError, match="did not terminate"):
        expand_macros("SELECT a(1)", macros)


def test_substitute_argument_errors_match_duckdb_wording():
    macros = {}
    register_macro(macros, "CREATE MACRO defarg(a, b := 5) AS a * b")
    with pytest.raises(ValueError, match=r"defarg\(a\).*1 positional"):
        expand_macros("SELECT defarg(3, 2)", macros)
    with pytest.raises(ValueError, match="does not have default parameter c"):
        expand_macros("SELECT defarg(3, c := 2)", macros)


def test_has_union_by_name_top_level_only():
    assert has_union_by_name("SELECT 1 AS a UNION BY NAME SELECT 2 AS b")
    assert not has_union_by_name(
        "SELECT * FROM (SELECT 1 AS a UNION BY NAME SELECT 2 AS a) t"
    )
    assert not has_union_by_name("SELECT 'UNION BY NAME'")


# ── engine differential vs DuckDB ────────────────────────────────────────


def test_engine_macros_match_duckdb(engine):
    con = duckdb.connect()
    ddl = [
        "CREATE MACRO add2(a, b) AS a + b",
        "CREATE MACRO defarg2(a, b := 5) AS a * b",
        "CREATE MACRO tm2(n) AS TABLE SELECT * FROM generate_series(1, n)",
    ]
    for stmt in ddl:
        engine.exec(stmt)
        con.execute(stmt)
    queries = [
        "SELECT add2(1, 2) AS v",
        "SELECT defarg2(3) AS v, defarg2(3, b := 2) AS w",
        "SELECT count(*) AS n FROM tm2(4)",
        "SELECT add2(defarg2(2), 1) AS v",
    ]
    for q in queries:
        got = [tuple(r) for r in engine.run(q).rows]
        want = [tuple(str(c) for c in row) for row in con.execute(q).fetchall()]
        assert got == want, q
    con.close()
    engine.exec("CREATE OR REPLACE MACRO add2(a, b) AS a - b")
    assert engine.run("SELECT add2(5, 2) AS v").rows == [["3"]]
    engine.exec("DROP MACRO add2")
    engine.exec("DROP MACRO IF EXISTS add2")
    with pytest.raises(ValueError, match="does not exist"):
        engine.exec("DROP MACRO add2")
    engine.exec("DROP MACRO defarg2")
    engine.exec("DROP MACRO tm2")


def test_engine_union_by_name_matches_duckdb(engine):
    con = duckdb.connect()
    queries = [
        # column order = left branch then appended names; BY NAME dedups
        "SELECT 2 AS b, 1 AS a UNION BY NAME SELECT 1 AS a, 2 AS b",
        "SELECT 1 AS a UNION ALL BY NAME SELECT 2 AS b",
        # three branches, mixed ALL, whole-union tail
        "SELECT 1 AS a UNION BY NAME SELECT 1 AS a "
        "UNION ALL BY NAME SELECT 3 AS b ORDER BY a LIMIT 5",
        # ADVICE r7: mixed BY NAME with plain set ops is LEFT-associative —
        # (A ∪byname B) UNION ALL C keeps the UNION ALL duplicate (2 rows)
        "SELECT 1 AS a UNION BY NAME SELECT 1 AS a UNION ALL SELECT 1 AS a",
        "SELECT 1 AS a UNION ALL SELECT 1 AS a UNION BY NAME SELECT 1 AS a",
        # plain EXCEPT folding left before a BY NAME separator
        "SELECT 1 AS a EXCEPT SELECT 1 AS a UNION BY NAME SELECT 3 AS c",
        "SELECT 1 AS a UNION BY NAME SELECT 1 AS a EXCEPT SELECT 1 AS a",
        # INTERSECT binds tighter: A ∪byname (B ∩ C), probed in DuckDB
        "SELECT 1 AS a UNION BY NAME SELECT 2 AS a INTERSECT SELECT 2 AS a",
        # whole-union tail over a mixed fold
        "SELECT 2 AS a UNION BY NAME SELECT 1 AS a "
        "UNION ALL SELECT 0 AS a ORDER BY a",
        # star exclusion inside a branch is not a set op (DuckDB spells it
        # EXCLUDE; the Spark-spelled `* EXCEPT (b)` form is guarded by
        # _is_star_except and covered in test_mixed_setops_star_except)
        "SELECT * EXCLUDE (b) FROM (SELECT 1 AS a, 2 AS b) "
        "UNION BY NAME SELECT 9 AS a",
    ]
    for q in queries:
        r = engine.run(q)
        got = sorted(tuple(c for c in row) for row in r.rows)
        want = sorted(
            tuple(str(c) if c is not None else "" for c in row)
            for row in con.execute(q).fetchall()
        )
        cols = [d[0] for d in con.execute(q).description]
        assert r.columns == cols, q
        assert got == want, q
    con.close()


def test_mixed_setops_star_except(engine):
    """Spark-spelled `* EXCEPT (col)` must not be split as a set-op EXCEPT
    when a UNION BY NAME elsewhere routes the statement through
    run_union_by_name."""
    r = engine.run(
        "SELECT * EXCEPT (b) FROM (SELECT 1 AS a, 2 AS b) "
        "UNION BY NAME SELECT 9 AS a"
    )
    assert r.columns == ["a"]
    assert sorted(row[0] for row in r.rows) == ["1", "9"]


def test_engine_union_by_name_over_files(engine):
    r = engine.run(
        "SELECT r_regionkey AS k, r_name AS name FROM 'region.parquet' "
        "UNION ALL BY NAME "
        "SELECT n_name AS name, n_nationkey AS k FROM 'nation.parquet' "
        "ORDER BY k, name"
    )
    assert r.columns == ["k", "name"]
    assert r.num_rows == 30


def test_engine_ctas_insert_drop(engine):
    """CREATE TABLE AS / INSERT INTO / DROP TABLE pass straight through to
    Spark's session catalog (managed tables) — pinned so the DuckDB-style
    scratch-table workflow keeps working."""
    engine.exec("DROP TABLE IF EXISTS __scratch_r7")
    engine.exec("CREATE TABLE __scratch_r7 AS SELECT 1 AS a, 'x' AS b")
    engine.exec("INSERT INTO __scratch_r7 VALUES (2, 'y')")
    r = engine.run("SELECT a, b FROM __scratch_r7 ORDER BY a")
    assert r.rows == [["1", "x"], ["2", "y"]]
    engine.exec("DROP TABLE __scratch_r7")


def test_engine_insert_by_name_matches_duckdb(engine):
    con = duckdb.connect()
    stmts = [
        "CREATE TABLE __tbn_r7 (a INT, b VARCHAR)",
        "INSERT INTO __tbn_r7 BY NAME SELECT 'x' AS b, 1 AS a",
        "INSERT INTO __tbn_r7 BY NAME SELECT 2 AS a",
    ]
    engine.exec("DROP TABLE IF EXISTS __tbn_r7")
    for s in stmts:
        engine.exec(s)
        con.execute(s)
    got = engine.run("SELECT a, b FROM __tbn_r7 ORDER BY a").rows
    want = [
        [str(a), b if b is not None else ""]
        for a, b in con.execute("SELECT a, b FROM __tbn_r7 ORDER BY a").fetchall()
    ]
    assert got == want
    engine.exec("DROP TABLE __tbn_r7")
    con.close()


def test_r11_create_table_as_pivot_and_replace(engine):
    """r11 (fuzz v6 shape 11 exposure): Spark's v1 session catalog cannot
    REPLACE TABLE AS SELECT at all, and a PIVOT body never reached the
    statement routing through native CTAS — CREATE [OR REPLACE] TABLE AS
    is now decomposed (body re-enters sql(), saveAsTable writes).
    Parity pinned against live DuckDB for: CTAS over PIVOT, OR REPLACE
    rebuild, and duplicate plain CREATE erroring on both engines."""
    import duckdb
    import pytest as _pytest

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW nation_parquet AS "
        "SELECT * FROM '/root/testdata/sf0.001/nation.parquet'"
    )
    engine.spark.read.parquet(
        "/root/testdata/sf0.001/nation.parquet"
    ).createOrReplaceTempView("nation_parquet")
    n = "__ctas_r11"
    engine.exec(f"DROP TABLE IF EXISTS {n}")
    for q in [
        f"CREATE OR REPLACE TABLE {n} AS PIVOT (SELECT n_name AS p, "
        f"n_regionkey AS v FROM nation_parquet WHERE n_nationkey < 4) "
        f"ON p USING sum(v)",
        f"CREATE OR REPLACE TABLE {n} AS SELECT 7 AS g",
    ]:
        engine.sql(q)
        con.execute(q)
    q2 = f"SELECT count(*) AS c, min(g) AS g FROM {n}"
    assert [tuple(r) for r in engine.sql(q2).collect()] == con.execute(q2).fetchall()
    engine.exec(f"DROP TABLE {n}")
    con.execute(f"DROP TABLE {n}")
    engine.sql(f"CREATE TABLE {n} AS SELECT 1 AS g")
    con.execute(f"CREATE TABLE {n} AS SELECT 1 AS g")
    with _pytest.raises(Exception, match="(?i)already exists"):
        engine.sql(f"CREATE TABLE {n} AS SELECT 2 AS g")
    with _pytest.raises(Exception, match="(?i)already exists"):
        con.execute(f"CREATE TABLE {n} AS SELECT 2 AS g")
    engine.exec(f"DROP TABLE {n}")
    con.execute(f"DROP TABLE {n}")
    con.close()
