import pytest

from parquet_query_spark.workbench.statements import (
    rewrite_path_tables,
    split_statements,
    statement_at_position,
)


def test_split_simple():
    assert split_statements("SELECT 1; SELECT 2;") == ["SELECT 1", "SELECT 2"]


def test_split_ignores_semicolons_in_strings_and_comments():
    sql = "SELECT ';' AS a; -- c;omment\nSELECT 2 /* b;lock */; SELECT \"i;d\" FROM t"
    assert split_statements(sql) == [
        "SELECT ';' AS a",
        "-- c;omment\nSELECT 2 /* b;lock */",
        'SELECT "i;d" FROM t',
    ]


def test_split_quote_escapes():
    sql = "SELECT 'it''s; fine'; SELECT 1"
    assert split_statements(sql) == ["SELECT 'it''s; fine'", "SELECT 1"]


def test_statement_at_position_picks_under_cursor():
    sql = "SELECT 1;\nSELECT 2;\nSELECT 3"
    assert statement_at_position(sql, 0) == "SELECT 1"
    assert statement_at_position(sql, 12) == "SELECT 2"
    assert statement_at_position(sql, len(sql)) == "SELECT 3"


def test_statement_at_position_empty_segment_falls_back():
    sql = "SELECT 1;   ;SELECT 3"
    # cursor in the blank middle segment → nearest non-empty BEFORE wins
    assert statement_at_position(sql, 10) == "SELECT 1"
    # all-blank after: falls back forward
    assert statement_at_position(";;SELECT 9", 0) == "SELECT 9"
    assert statement_at_position("", 0) == ""


def test_statement_at_position_clamps():
    assert statement_at_position("SELECT 1", 10_000) == "SELECT 1"
    assert statement_at_position("SELECT 1", -5) == "SELECT 1"


def test_default_sql_shape():
    # the reference's default buffer: comments then `SELECT 42 AS ok;`
    sql = (
        "-- Dica: exemplo\n"
        "--   SELECT * FROM 'meus_dados/arquivo.parquet' LIMIT 50;\n\n"
        "SELECT 42 AS ok;"
    )
    # semicolons inside comments don't split, so the leading comment block
    # stays attached (reference behavior — both engines accept comments)
    assert statement_at_position(sql, len(sql)).endswith("SELECT 42 AS ok")
    assert statement_at_position(sql, len(sql)).startswith("-- Dica")


def test_rewrite_path_tables_basic():
    out = rewrite_path_tables("SELECT * FROM 'dir/f.parquet' LIMIT 5", root="/data")
    assert out == "SELECT * FROM parquet.`/data/dir/f.parquet` LIMIT 5"


def test_rewrite_only_in_table_position():
    out = rewrite_path_tables("SELECT 'x.parquet' AS name FROM t", root="/d")
    assert out == "SELECT 'x.parquet' AS name FROM t"


def test_rewrite_skips_comments():
    sql = "-- FROM 'a.parquet'\nSELECT * FROM 'b.csv'"
    out = rewrite_path_tables(sql, root="/d")
    assert "-- FROM 'a.parquet'" in out
    assert "csv.`/d/b.csv`" in out


def test_rewrite_join_position_and_non_files():
    out = rewrite_path_tables("SELECT * FROM t JOIN 'x.ndjson' ON 1=1", root="/d")
    assert "json.`/d/x.ndjson`" in out
    assert rewrite_path_tables("SELECT * FROM 'notafile.txt'", root="/d").count("notafile.txt")


def test_rewrite_leaves_an_unterminated_literal():
    # DuckDB rejects this text ("unterminated quoted string"); closing the
    # literal here would run a statement the reference refuses
    sql = "SELECT * FROM 'x.parquet"
    assert rewrite_path_tables(sql, root="/d") == sql


def test_engine_rejects_an_unterminated_path_literal(engine):
    from pyspark.errors import ParseException

    # region.parquet exists in the folder, so only the missing quote is wrong
    with pytest.raises(ParseException):
        engine.run("SELECT * FROM 'region.parquet")
