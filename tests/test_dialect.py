"""DuckDB-dialect shim (workbench/dialect.py).

The reference forwards user SQL to DuckDB untouched
(src/duckdb.ts:46-49), so GROUP BY ALL / QUALIFY / * EXCLUDE / strftime
work there out of the box.  These tests pin (a) the pure-string rewrites,
(b) that each construct executes end-to-end through Engine.run, and
(c) that Spark-native constructs (GROUP BY ALL, ORDER BY ALL, * EXCEPT)
keep working untouched.
"""

import pytest

from parquet_query_spark.workbench.dialect import rewrite_duckdb_dialect
from parquet_query_spark.workbench.dialect_core import strftime_format_to_java


# ── pure-string rewrites ─────────────────────────────────────────────────


def test_exclude_with_parens():
    out = rewrite_duckdb_dialect("SELECT * EXCLUDE (a, b) FROM t")
    assert out == "SELECT * EXCEPT (a, b) FROM t"


def test_exclude_bare_column():
    out = rewrite_duckdb_dialect("SELECT * EXCLUDE a FROM t")
    assert out == "SELECT * EXCEPT (a) FROM t"


def test_exclude_after_qualified_star():
    out = rewrite_duckdb_dialect("SELECT t.* EXCLUDE (a) FROM t")
    assert out == "SELECT t.* EXCEPT (a) FROM t"


def test_exclude_as_identifier_untouched():
    sql = "SELECT exclude FROM t WHERE exclude > 1"
    assert rewrite_duckdb_dialect(sql) == sql


def test_exclude_inside_string_untouched():
    sql = "SELECT '* EXCLUDE (a)' AS s FROM t"
    assert rewrite_duckdb_dialect(sql) == sql


def test_exclude_inside_comment_untouched():
    # comments are stripped up front (r8 mutation-fuzz fix), so EXCLUDE
    # inside one must neither fire the rewrite nor survive into the output
    sql = "SELECT * FROM t -- * EXCLUDE (a)"
    out = rewrite_duckdb_dialect(sql)
    assert "EXCLUDE" not in out
    assert out.startswith("SELECT * FROM t")


def test_strftime_rewrite():
    out = rewrite_duckdb_dialect("SELECT strftime(ts, '%Y-%m-%d') FROM t")
    assert out == "SELECT date_format(ts, 'yyyy-MM-dd') FROM t"


def test_strftime_literal_letters_quoted():
    # the literal T must be Java-quoted, then SQL-escaped inside the literal
    out = rewrite_duckdb_dialect("SELECT strftime(ts, '%Y-%m-%dT%H:%M:%S')")
    assert out == "SELECT date_format(ts, 'yyyy-MM-dd''T''HH:mm:ss')"


def test_strftime_swapped_args():
    out = rewrite_duckdb_dialect("SELECT strftime('%H:%M', ts) FROM t")
    assert out == "SELECT date_format(ts, 'HH:mm') FROM t"


def test_strftime_unknown_code_raises():
    with pytest.raises(ValueError, match="%-"):
        rewrite_duckdb_dialect("SELECT strftime(ts, '%-d')")


def test_strftime_format_table():
    assert strftime_format_to_java("%Y-%m-%d %H:%M:%S") == "yyyy-MM-dd HH:mm:ss"
    assert strftime_format_to_java("%d %b %Y") == "dd MMM yyyy"
    assert strftime_format_to_java("%I:%M %p") == "hh:mm a"
    assert strftime_format_to_java("100%% %Y") == "100% yyyy"


def test_qualify_basic():
    out = rewrite_duckdb_dialect(
        "SELECT k, v FROM t QUALIFY row_number() OVER (PARTITION BY k ORDER BY v) = 1"
    )
    assert out == (
        "SELECT * EXCEPT (__qualify) FROM (SELECT *, "
        "(row_number() OVER (PARTITION BY k ORDER BY v NULLS LAST) = 1) AS __qualify "
        "FROM (SELECT k, v FROM t) __qualify_inner) __qualify_sub WHERE __qualify"
    )


def test_qualify_fallback_injects_into_select_list():
    """A QUALIFY statement whose primary shape fails analysis is retried
    once, with the predicate injected into the select list."""
    from pyspark.errors import AnalysisException

    from parquet_query_spark.workbench.dialect import analyze_dialect

    sql = "SELECT k FROM t QUALIFY row_number() OVER (ORDER BY v) = 1"
    tried = []

    def analyze(text):
        tried.append(text)
        if len(tried) == 1:
            raise AnalysisException(message="v is not projected")
        return text

    assert analyze_dialect(sql, analyze) == (
        "SELECT * EXCEPT (__qualify) FROM (SELECT k, "
        "(row_number() OVER (ORDER BY v NULLS LAST) = 1) AS __qualify "
        "FROM t) __qualify_sub WHERE __qualify"
    )
    assert tried[0] == rewrite_duckdb_dialect(sql)
    assert len(tried) == 2


def test_retry_loop_raises_primary_error_without_hint():
    """An error that names no hint ends the loop after one analysis and
    surfaces the primary error itself."""
    from pyspark.errors import AnalysisException

    from parquet_query_spark.workbench.dialect import analyze_dialect

    tried, err = [], AnalysisException(message="no such column")

    def analyze(text):
        tried.append(text)
        raise err

    with pytest.raises(AnalysisException) as info:
        analyze_dialect("SELECT us[1], len(ls) FROM t", analyze)
    assert info.value is err
    assert len(tried) == 1


def test_retries_log_no_errors(engine):
    """PySpark logs each AnalysisException it converts as an ERROR with
    the JVM stack.  A statement that answers after two hints logged two;
    the retry loop now drops the records of its own expected failures,
    and an analysis outside the loop still logs."""
    import logging

    from pyspark.errors import AnalysisException
    from pyspark.logger import PySparkLogger

    records = []

    class Collect(logging.Handler):
        def emit(self, record):
            records.append(record)

    logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    handler = Collect()
    logger.addHandler(handler)
    try:
        q = "SELECT s[1] AS c, len(l) AS n FROM (VALUES ('abc', [1, 2])) t(s, l)"
        assert [tuple(r) for r in engine.sql(q).collect()] == [("a", 2)]
        assert records == []
        with pytest.raises(AnalysisException):
            engine.spark.sql("SELECT no_such_column")
        assert len(records) == 1
    finally:
        logger.removeHandler(handler)


def test_qualify_preserves_order_by_and_limit():
    out = rewrite_duckdb_dialect(
        "SELECT k, v FROM t QUALIFY rank() OVER (ORDER BY v) <= 2 ORDER BY k LIMIT 5"
    )
    assert out.endswith("WHERE __qualify ORDER BY k NULLS LAST LIMIT 5")


def test_qualify_inside_string_untouched():
    sql = "SELECT 'QUALIFY x' AS s FROM t"
    assert rewrite_duckdb_dialect(sql) == sql


def test_qualify_in_subquery_untouched():
    # depth > 0 — left for when the inner text itself is executed
    sql = "SELECT * FROM (SELECT k FROM t) q WHERE k IN (SELECT 1)"
    assert rewrite_duckdb_dialect(sql) == sql


def test_fuzz_pinned_r8_wave13_match_duckdb(engine):
    """Minimized reproductions from the r8 wave-13 fuzz campaign
    (widened window/join/limit grammar).  Seed 20313: an inner ``//``
    rewritten inside a CASE branch surfaced as DOUBLE, so the outer
    ``//``'s typeof dispatch divided plainly where DuckDB types the CASE
    integral (union of branches) and truncates.  Fixed by making the
    ``//`` integrality condition recurse through CASE branches, our own
    emitted dispatch shape, and top-level ``+ - * div`` arithmetic."""
    import duckdb

    con = duckdb.connect()
    battery = [
        # seed 20313 (VALUES-ized): CASE-of-// and coalesce leaves
        "SELECT (CASE WHEN s ILIKE '_b%' THEN k // k ELSE coalesce(7, r) "
        "END) // length(CASE WHEN r <= 2 THEN 'Hello World' ELSE 'abc' END) "
        "AS c0 FROM (VALUES (11, 2, 'xy'), (3, 0, 'ab')) t(k, r, s) ORDER BY k",
        # CASE branch integrality: all-integral → truncate
        "SELECT (CASE WHEN false THEN 1 // 1 ELSE coalesce(7, 0) END) // 11 AS c0",
        "SELECT (CASE WHEN true THEN 5 // 2 ELSE 5 END) // 3 AS c0",
        # any non-integral branch → plain division
        "SELECT (CASE WHEN true THEN 2.5 ELSE 5 END) // 3 AS c0",
        "SELECT 7 // (CASE WHEN true THEN 11 // 3.0 ELSE 2 END + 1) AS c0",
        # nested CASE, no-ELSE NULL branch, CASE + arithmetic as operand
        "SELECT (CASE WHEN false THEN CASE WHEN true THEN 9 ELSE 3 END "
        "ELSE 5 END) // 2 AS c0",
        "SELECT (CASE WHEN false THEN 7 END) // 2 AS c0",
        "SELECT 7 // (CASE WHEN true THEN 11 // 3 ELSE 2 END + 1) AS c0",
        # arithmetic recursion: + - * over a rewritten inner //
        "SELECT (11 // 2 + 1) // 2 AS c0",
        "SELECT (11 // 2 + 1.5) // 2 AS c0",
        "SELECT (11 // 2 * 3 - 1) // 2 AS c0",
        "SELECT (1.5e-3 + 11) // 2 AS c0",
        "SELECT (-11 + 40) // 3 AS c0",
        "SELECT 100 // (11 // 3 + 1) // 2 AS c0",
        # wave-15 seed 25259: the ducktype DOUBLE wrap around round()
        # erased the decimal-vs-double distinction the integer CAST's
        # rounding mode depends on — the cast now dispatches on the
        # pre-wrap argument type (decimal → half-away, double → half-even)
        "SELECT (((- round(2.5, 1)))::INT) AS c0",
        "SELECT (round(2.5, 1))::INT AS c0",
        "SELECT (round(-2.5, 1))::BIGINT AS c0",
        "SELECT (round(2.5::DOUBLE, 1))::INT AS c0",
        "SELECT (round(3.5::DOUBLE, 0))::INT AS c0",
        "SELECT TRY_CAST(round(1.5, 1) AS INTEGER) AS c0",
        "SELECT (- round(3, 1))::BIGINT AS c0",
        # wave-16 seed 27582: first-only regexp_replace of a zero-width-
        # capable pattern double-fired on the extracted segment (Spark's
        # global replace also hit the trailing empty match); the segment
        # replacement is now anchored \\A(?:p)\\z
        "SELECT regexp_replace('xy', 'x*', '_') AS c0",
        "SELECT regexp_replace('xxy', 'x*', '_') AS c0",
        "SELECT regexp_replace('y', 'x*', '_') AS c0",
        "SELECT regexp_replace('', 'x*', '_') AS c0",
        "SELECT regexp_replace('ab12cd', '(\\d)(\\d)', '\\2\\1') AS c0",
        "SELECT regexp_replace('aaa', 'a+', 'X') AS c0",
    ]
    for q in battery:
        _assert_duckdb_rows(engine, con, q)
    con.close()


def _assert_duckdb_rows(engine, con, q):
    got = [tuple(r) for r in engine.sql(q).collect()]
    want = con.execute(q).fetchall()
    assert len(got) == len(want), q
    for gr, wr in zip(got, want):
        for gv, wv in zip(gr, wr):
            if gv is None or wv is None:
                assert gv is None and wv is None, (q, gv, wv)
            elif isinstance(gv, (int, float)) and isinstance(wv, (int, float)):
                assert float(gv) == float(wv), (q, gv, wv)
            else:
                assert str(gv) == str(wv), (q, gv, wv)


def test_plain_sql_unchanged():
    sql = "SELECT a, SUM(b) AS s FROM t GROUP BY a ORDER BY s DESC"
    assert rewrite_duckdb_dialect(sql) == sql


def test_strip_comments_string_and_dollar_aware():
    from parquet_query_spark.workbench.dialect_core import strip_comments

    # comment markers inside string literals survive untouched
    assert strip_comments("SELECT '--x' AS a, '/*y*/' AS b") == (
        "SELECT '--x' AS a, '/*y*/' AS b"
    )
    assert strip_comments("SELECT 'it''s -- fine'") == "SELECT 'it''s -- fine'"
    assert strip_comments('SELECT "a--b" FROM t') == 'SELECT "a--b" FROM t'
    # dollar-quoted strings shield their contents
    assert strip_comments("SELECT $$a -- b$$") == "SELECT $$a -- b$$"
    assert strip_comments("SELECT $tag$/*x*/$tag$ AS s") == (
        "SELECT $tag$/*x*/$tag$ AS s"
    )
    # real comments collapse to one space; line comments keep the newline
    assert strip_comments("SELECT 1 /* c */ + 2") == "SELECT 1   + 2"
    assert strip_comments("SELECT 1 -- tail\n+ 2") == "SELECT 1  \n+ 2"
    # a comment containing a quote must not open string state
    assert strip_comments("SELECT /* a 'b */ 1 -- it's\n") == "SELECT   1  \n"


def test_fuzz_pinned_r8_mutation_match_duckdb(engine):
    """Minimized reproductions from the r8 comment/whitespace/keyword-case
    mutation fuzz (``fuzz_dialect.py --mutate``).  10/60 mutated seeds
    failed before the fix: the regex rewrite passes tolerate only
    whitespace between tokens, so an interleaved comment either mangled
    the splice into a parse error (* EXCLUDE, QUALIFY's ORDER BY tail,
    ->>/->, //, function args) or silently skipped the rewrite — seed 25
    left ``^`` as Spark XOR (2 instead of 0.0).  Fixed by stripping
    comments once at the Engine.sql funnel (strip_comments), not by
    hardening each pass."""
    import duckdb

    con = duckdb.connect()
    battery = [
        # seed 25: ^ power with a comment before the exponent (silent XOR)
        "SELECT ((abs(3) % 10) ^ /*c*/ 2) AS v",
        # seed 5: comment between * and EXCLUDE
        "SELECT\n*\n  -- note\n  EXCLUDE /*c*/ (b) -- tail\n"
        "FROM (VALUES (1, 'x'), (2, 'y')) t(a, b) ORDER BY ALL",
        # seeds 6/33: QUALIFY with ORDER /*c*/ BY in the outer tail
        "SELECT k AS kk, row_number() OVER (PARTITION by g\n"
        "ORDER BY /*x*/\n/*y*/ k) AS rn "
        "FROM (VALUES (1, 1), (2, 1), (3, 2)) t(k, g)\n"
        "QUALIFY rn <= 1 ORDER /* a 'b' -- not a line comment */ BY kk",
        # seed 28: JSON arrows split across comments and newlines
        "SELECT ('{\"a\": 1, \"b\": {\"c\": 5}}' -> 'b'\n->> -- tail\n"
        "'c') AS c0",
        # seeds 34/56: % with an interleaved comment must keep the
        # NULL-on-zero rewrite (DuckDB: NULL, ANSI Spark: error)
        "SELECT (a % /* a 'b' -- not a line comment */ b) AS c0 "
        "FROM (VALUES (3, 0), (7, 2)) t(a, b) ORDER BY c0 NULLS FIRST",
        # seed 52: // with comments between its operands
        "SELECT count((a //\n  -- note\n  a)) AS n "
        "FROM (VALUES (1), (2)) t(a)",
        # seed 54: line comment inside a function argument list
        "SELECT (left('abcdef', -- tail\n2)\n  -- note\n  LIKE '_b%') AS c0",
        # keyword-case + comment soup end-to-end
        "select /*c*/ a AS k, ((ABS((a % 7)) % /*c*/ 10) ^\t0) as v "
        "from (VALUES (1), (2)) t(a) GROUP BY ALL   order BY k, v",
        # seeds 173/242/949/1283: named-window reference case — Spark
        # matches OVER w to WINDOW W AS by exact text, DuckDB folds case;
        # _rewrite_named_window_case canonicalizes references
        "SELECT k AS kk, lag(k) OVER w AS wv "
        "FROM (VALUES (1, 1), (2, 1)) t(k, g) "
        "WINDOW W AS (PARTITION BY g ORDER BY k) ORDER BY kk",
        "SELECT k, row_number() OVER W1 AS r1, count(*) OVER w2 AS r2 "
        "FROM (VALUES (1, 1), (2, 2)) t(k, g) "
        "WINDOW w1 AS (PARTITION BY g ORDER BY k), "
        "W2 AS (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "ORDER BY k",
    ]
    for q in battery:
        got = [tuple(r) for r in engine.sql(q).collect()]
        want = con.execute(q).fetchall()
        assert len(got) == len(want), q
        for gr, wr in zip(got, want):
            for gv, wv in zip(gr, wr):
                if gv is None or wv is None:
                    assert gv is None and wv is None, (q, gv, wv)
                elif isinstance(gv, (int, float)) and isinstance(wv, (int, float)):
                    assert float(gv) == float(wv), (q, gv, wv)
                else:
                    assert str(gv) == str(wv), (q, gv, wv)
    con.close()


# ── end-to-end through Engine.run ────────────────────────────────────────


@pytest.fixture(scope="module")
def engine(sf_dir):
    from parquet_query_spark.engine import Engine

    return Engine.open(sf_dir, table_name="alldata")


def test_double_quoted_identifiers_match_duckdb(engine):
    """DuckDB double quotes are ALWAYS identifiers (r8 finding: Spark's
    default parsed them as string literals, so SELECT "col" silently
    returned the literal 'col' per row).  Fixed via
    spark.sql.ansi.doubleQuotedIdentifiers in the session defaults."""
    import duckdb

    con = duckdb.connect()
    battery = [
        'SELECT "k" AS "the key", upper("s") AS "UP" '
        "FROM (VALUES (1, 'a'), (2, 'b')) t(k, s) ORDER BY \"k\"",
        # mixed: double-quoted identifier + single-quoted string literal
        "SELECT \"k\" || 'x' AS c0 FROM (VALUES ('a')) t(k)",
        # escaped quote inside an identifier
        'SELECT 1 AS "we""ird"',
    ]
    for q in battery:
        got = [tuple(r) for r in engine.sql(q).collect()]
        want = con.execute(q).fetchall()
        assert got == want, (q, got, want)
    # column names survive too
    assert engine.sql('SELECT 1 AS "Column Name"').columns == ["Column Name"]
    # quoted FUNCTION names in call position unquote (mutation seeds
    # 4565/4604/4616/4623/4633) so rename/macro passes still match
    q = 'SELECT "list_position"([7, 1], 1) AS c0, "upper"(\'a\') AS c1'
    got = [tuple(r) for r in engine.sql(q).collect()]
    assert got == con.execute(q).fetchall(), got
    # lowercase simple quoted identifiers normalize to bare so operand-
    # matching passes still fire (mutation seeds 4809/4936/5159/5171):
    # // NULL-on-zero + typeof dispatch, ~ full-match regex
    battery2 = [
        'SELECT (k // "k") AS a0 FROM (VALUES (0), (2)) t(k) '
        "ORDER BY a0 NULLS FIRST",
        "SELECT ((SELECT max(\"v\") FROM (VALUES (1.5)) s(v)) + (0 // \"v\")) "
        "AS c0 FROM (VALUES (2.0)) t(v)",
        'SELECT ("s" ~ \'[A-Z].*\') AS c0 FROM (VALUES (\'Abc\'), (\'x\')) t(s) '
        "ORDER BY c0",
    ]
    for q in battery2:
        got = [tuple(r) for r in engine.sql(q).collect()]
        want = con.execute(q).fetchall()
        assert len(got) == len(want), (q, got, want)
        for gr, wr in zip(got, want):
            for gv, wv in zip(gr, wr):
                if isinstance(gv, (int, float)) and isinstance(wv, (int, float)):
                    assert float(gv) == float(wv), (q, gv, wv)
                else:
                    assert gv == wv, (q, gv, wv)
    # * REPLACE with a quoted target column and quoted FROM table
    # (seeds 4826/4993) goes through the engine routing layer, which
    # sees the normalized text
    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    con.execute(
        f"CREATE VIEW nation_parquet AS SELECT * FROM '{sf}/nation.parquet'"
    )
    q = (
        'SELECT * REPLACE ((n_regionkey + 2) AS "n_regionkey") '
        'FROM "nation_parquet" ORDER BY n_nationkey'
    )
    got = [tuple(r) for r in engine.sql(q).collect()]
    assert got == con.execute(q).fetchall(), q
    # reserved-word content stays quoted and still resolves as a column
    assert engine.sql(
        'SELECT "select" FROM (VALUES (7)) t("select")'
    ).collect()[0][0] == 7
    con.close()


def test_engine_group_by_all_native(engine):
    r = engine.run(
        "SELECT o_orderstatus, COUNT(*) AS n FROM 'orders.parquet' "
        "GROUP BY ALL ORDER BY ALL"
    )
    assert r.columns == ["o_orderstatus", "n"]
    assert r.num_rows >= 2


def test_engine_exclude(engine):
    r = engine.run("SELECT * EXCLUDE (o_custkey, o_totalprice) FROM 'orders.parquet' LIMIT 5")
    assert "o_custkey" not in r.columns
    assert "o_totalprice" not in r.columns
    assert "o_orderkey" in r.columns


def test_engine_qualify(engine):
    r = engine.run(
        "SELECT o_custkey, o_orderkey, o_totalprice FROM 'orders.parquet' "
        "QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) = 1 "
        "ORDER BY o_custkey LIMIT 10"
    )
    assert r.columns == ["o_custkey", "o_orderkey", "o_totalprice"]
    assert r.num_rows == 10
    # one row per customer
    assert len({row[0] for row in r.rows}) == len(r.rows)


def test_engine_qualify_alias_reference(engine):
    # DuckDB allows QUALIFY to reference a select-list alias
    r = engine.run(
        "SELECT o_custkey, row_number() OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderkey) AS rn FROM 'orders.parquet' QUALIFY rn <= 2 "
        "ORDER BY o_custkey, rn LIMIT 6"
    )
    assert r.columns == ["o_custkey", "rn"]
    assert all(int(row[1]) <= 2 for row in r.rows)


def test_engine_strftime(engine):
    r = engine.run(
        "SELECT strftime(o_orderdate, '%Y-%m') AS ym, COUNT(*) AS n "
        "FROM 'orders.parquet' GROUP BY ALL ORDER BY ym LIMIT 3"
    )
    assert r.columns == ["ym", "n"]
    assert all(len(row[0]) == 7 and row[0][4] == "-" for row in r.rows)


def test_engine_qualify_alias_in_window(engine):
    # rank() OVER (ORDER BY n): n is a select alias — Spark forbids
    # lateral aliases inside windows, so this needs the outer-eval form
    r = engine.run(
        "SELECT o_orderstatus, strftime(o_orderdate, '%Y-%m') AS ym, COUNT(*) AS n "
        "FROM 'orders.parquet' GROUP BY ALL "
        "QUALIFY rank() OVER (PARTITION BY o_orderstatus ORDER BY n DESC) = 1 "
        "ORDER BY ALL"
    )
    assert r.columns == ["o_orderstatus", "ym", "n"]
    assert r.num_rows >= 2


def test_engine_qualify_nonprojected_base_column(engine):
    # window references o_totalprice which is NOT in the select list —
    # DuckDB allows it; needs the inject-into-select fallback
    r = engine.run(
        "SELECT o_custkey, o_orderkey FROM 'orders.parquet' "
        "QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) = 1 "
        "ORDER BY o_custkey LIMIT 5"
    )
    assert r.columns == ["o_custkey", "o_orderkey"]
    assert r.num_rows == 5


def test_engine_strftime_matches_duckdb(engine, sf_dir):
    import duckdb

    con = duckdb.connect()
    try:
        expected = con.execute(
            f"SELECT strftime(o_orderdate, '%Y-%m-%dT%H') AS s "
            f"FROM '{sf_dir}/orders.parquet' ORDER BY o_orderkey LIMIT 5"
        ).fetchall()
        r = engine.run(
            "SELECT strftime(o_orderdate, '%Y-%m-%dT%H') AS s "
            "FROM 'orders.parquet' ORDER BY o_orderkey LIMIT 5"
        )
        assert [row[0] for row in r.rows] == [e[0] for e in expected]
    finally:
        con.close()


# ── function-name mapping + USING SAMPLE (round 5) ───────────────────────


def test_fn_map_string_split():
    out = rewrite_duckdb_dialect("SELECT string_split(text, ' ') FROM t")
    assert out == "SELECT split(text, ' ') FROM t"


def test_fn_map_list_functions():
    out = rewrite_duckdb_dialect(
        "SELECT list_contains(xs, 1), list_distinct(xs), list_sort(xs) FROM t"
    )
    # list_contains carries DuckDB's NULL semantics (false on not-found
    # even with NULL elements; NULL only for NULL list/needle — fuzz r8)
    assert out == (
        "SELECT (CASE WHEN (xs) IS NULL OR (1) IS NULL THEN NULL "
        "ELSE coalesce(array_contains((xs), (1)), false) END), "
        "array_union(filter((xs), x -> x IS NOT NULL), "
        "filter((xs), x -> x IS NOT NULL)), array_sort((xs)) FROM t"
    )


def test_fn_map_list_aggregate_and_epoch():
    out = rewrite_duckdb_dialect("SELECT list(x), epoch_ms(ts), epoch_us(ts) FROM t GROUP BY ALL")
    assert out == "SELECT collect_list(x), unix_millis(ts), unix_micros(ts) FROM t GROUP BY ALL"


def test_fn_map_regexp_matches():
    out = rewrite_duckdb_dialect("SELECT * FROM t WHERE regexp_matches(s, 'a+')")
    assert out == "SELECT * FROM t WHERE rlike(s, 'a+')"


def test_fn_map_qualified_name_reads_as_chain():
    # DuckDB resolves ``x.f(y)`` as function chaining ``f(x, y)`` (schema-
    # qualified function names only win when the schema exists); the shim
    # takes the same reading, so the rename then applies to the flattened
    # call.
    sql = "SELECT db.list_position(xs) FROM t"
    assert rewrite_duckdb_dialect(sql) == "SELECT array_position(db, xs) FROM t"


def test_fn_map_inside_string_untouched():
    sql = "SELECT 'call list_sort(xs) here' FROM t"
    assert rewrite_duckdb_dialect(sql) == sql


def test_fn_map_bare_identifier_untouched():
    sql = "SELECT list_sort FROM t"  # column named list_sort, no call parens
    assert rewrite_duckdb_dialect(sql) == sql


def test_using_sample_percent():
    out = rewrite_duckdb_dialect("SELECT * FROM t USING SAMPLE 10%")
    assert out == "SELECT * FROM t TABLESAMPLE (10 PERCENT)"
    out = rewrite_duckdb_dialect("SELECT * FROM t USING SAMPLE 10 PERCENT")
    assert out == "SELECT * FROM t TABLESAMPLE (10 PERCENT)"


def test_using_sample_rows():
    # ROWS-unit samples are RANDOM in DuckDB (reservoir), so they become a
    # rand() top-k wrap, NOT Spark's deterministic-prefix TABLESAMPLE
    # (n ROWS) — ADVICE r7
    want = "SELECT * FROM (SELECT * FROM t ORDER BY rand() LIMIT 100) AS t"
    out = rewrite_duckdb_dialect("SELECT * FROM t USING SAMPLE 100 ROWS")
    assert out == want
    out = rewrite_duckdb_dialect("SELECT * FROM t USING SAMPLE 100")
    assert out == want
    # seeded size-first form
    out = rewrite_duckdb_dialect(
        "SELECT * FROM t USING SAMPLE 10 ROWS (reservoir, 377)"
    )
    assert out == "SELECT * FROM (SELECT * FROM t ORDER BY rand(377) LIMIT 10) AS t"
    # an intervening alias defeats the positional wrap — left untranslated
    # so Spark's parse error surfaces instead of silently sampling wrong
    sql = "SELECT * FROM t x USING SAMPLE 5"
    assert rewrite_duckdb_dialect(sql) == sql


def test_using_sample_inside_string_untouched():
    sql = "SELECT 'USING SAMPLE 10%' FROM t"
    assert rewrite_duckdb_dialect(sql) == sql


def test_engine_fn_map_and_sample(engine):
    r = engine.run(
        "SELECT list_contains(string_split(trim(o_orderpriority), '-'), '1') AS has1 "
        "FROM 'orders.parquet' LIMIT 5"
    )
    assert r.columns == ["has1"]
    assert r.num_rows == 5
    r2 = engine.run("SELECT count(*) AS n FROM (SELECT * FROM 'orders.parquet' USING SAMPLE 100 ROWS)")
    assert r2.rows[0][0] == "100"


def test_engine_list_aggregate(engine):
    r = engine.run(
        "SELECT o_orderstatus, sort_array(list(o_orderpriority)) AS ps "
        "FROM (SELECT * FROM 'orders.parquet' LIMIT 50) GROUP BY ALL ORDER BY ALL"
    )
    assert r.columns == ["o_orderstatus", "ps"]
    assert r.num_rows >= 1


# ── ASOF JOIN (round 5) ──────────────────────────────────────────────────


def test_asof_rewrite_backward_shape():
    out = rewrite_duckdb_dialect(
        "SELECT t.id, q.price FROM trades t ASOF JOIN quotes q "
        "ON t.sym = q.sym AND t.ts >= q.ts"
    )
    assert "LEAD(ts) OVER (PARTITION BY sym ORDER BY ts NULLS LAST) AS __asof_nxt" in out
    assert "(t.ts) >= q.ts" in out
    assert "((t.ts) < q.__asof_nxt OR q.__asof_nxt IS NULL)" in out
    assert "ASOF" not in out.upper().replace("__ASOF_NXT", "")


def test_asof_rewrite_forward_uses_lag():
    out = rewrite_duckdb_dialect(
        "SELECT t.id FROM trades t ASOF JOIN quotes q ON t.sym = q.sym AND t.ts <= q.ts"
    )
    assert "LAG(ts) OVER (PARTITION BY sym ORDER BY ts NULLS LAST)" in out
    assert "((t.ts) > q.__asof_nxt OR q.__asof_nxt IS NULL)" in out


def test_asof_left_variant_and_star_wrap():
    out = rewrite_duckdb_dialect(
        "SELECT * FROM trades t ASOF LEFT JOIN quotes q "
        "ON t.sym = q.sym AND t.ts >= q.ts"
    )
    assert "LEFT JOIN (SELECT *, LEAD(ts)" in out
    assert out.startswith("SELECT * EXCEPT (__asof_nxt) FROM (")


def test_asof_explicit_select_list_not_wrapped():
    out = rewrite_duckdb_dialect(
        "SELECT t.id, t.x * 2 AS xx FROM trades t ASOF JOIN quotes q "
        "ON t.sym = q.sym AND t.ts >= q.ts"
    )
    assert not out.startswith("SELECT * EXCEPT")


def test_asof_unsupported_forms_raise():
    from parquet_query_spark.workbench.dialect_core import AsofRewriteError

    for bad in [
        "SELECT * FROM a ASOF JOIN (SELECT 1) b ON a.t >= b.t",
        "SELECT * FROM a ASOF JOIN b ON a.t >= b.t AND a.u > b.u",
        "SELECT * FROM a ASOF JOIN b ON a.t + b.t >= 3",
    ]:
        with pytest.raises(AsofRewriteError):
            rewrite_duckdb_dialect(bad)


def test_asof_engine_matches_duckdb(engine, sf_dir):
    """The SAME ASOF JOIN text runs on DuckDB natively and through
    Engine.run's rewrite — results must agree row-for-row."""
    import duckdb

    sql = (
        "SELECT p.event_id AS pid, e.event_id AS prior_id, e.ts AS prior_ts "
        "FROM 'events.parquet' p ASOF JOIN 'events.parquet' e "
        "ON p.user_id = e.user_id AND p.ts > e.ts "
        "WHERE p.event_type = 'purchase' "
        "ORDER BY pid"
    )
    con = duckdb.connect()
    con.execute(f"SET file_search_path = '{sf_dir}'")
    expected = con.execute(sql).fetchall()
    con.close()
    assert expected, "parity test needs a non-empty asof result"

    r = engine.run(sql)
    assert r.columns == ["pid", "prior_id", "prior_ts"]
    assert r.num_rows == len(expected)
    got = [(row[0], row[1]) for row in r.rows]
    exp = [(str(e[0]), str(e[1])) for e in expected]
    assert got[: len(exp)] == exp


def test_asof_left_engine_row_count(engine, sf_dir):
    """ASOF LEFT JOIN keeps unmatched left rows (null right side)."""
    import duckdb

    sql = (
        "SELECT p.event_id AS pid, e.event_id AS prior_id "
        "FROM 'events.parquet' p ASOF LEFT JOIN 'events.parquet' e "
        "ON p.user_id = e.user_id AND p.ts > e.ts "
        "WHERE p.event_type = 'purchase' "
        "ORDER BY pid"
    )
    con = duckdb.connect()
    con.execute(f"SET file_search_path = '{sf_dir}'")
    rows = con.execute(sql).fetchall()
    n_exp = len(rows)
    n_unmatched = sum(1 for x in rows if x[1] is None)
    con.close()
    r = engine.run(sql)
    assert r.num_rows == n_exp
    assert n_unmatched >= 0


def test_strptime_rewrites_to_timestamp(engine):
    r = engine.run(
        "SELECT strptime('1995-03-04 10:30:00', '%Y-%m-%d %H:%M:%S') AS ts"
    )
    assert r.rows[0][0] == "1995-03-04T10:30:00.000Z"


def test_list_function_renames_execute(engine):
    r = engine.run(
        "SELECT list_transform(array(1, 2, 3), x -> x * 2) AS doubled, "
        "array_to_string(array('a', 'b'), '-') AS joined, "
        "list_filter(array(1, -2, 3), x -> x > 0) AS pos"
    )
    assert r.rows[0] == ["[2,4,6]", "a-b", "[1,3]"]


def test_strptime_inside_string_untouched(engine):
    r = engine.run("SELECT 'strptime(a, b)' AS lit")
    assert r.rows[0][0] == "strptime(a, b)"


# ── round-6 list_*/array_* breadth + SUMMARIZE ───────────────────────────


def test_fn_map_list_extract_and_reverse():
    # try_element_at, not element_at: under Spark 4 ANSI mode element_at
    # throws on out-of-bounds where DuckDB list_extract returns NULL.
    out = rewrite_duckdb_dialect("SELECT list_extract(xs, 2), list_reverse(xs) FROM t")
    assert out == "SELECT try_element_at(xs, 2), reverse(xs) FROM t"


def test_fn_map_list_min_max_intersect_overlap():
    out = rewrite_duckdb_dialect(
        "SELECT list_min(a), list_max(a), list_intersect(a, b), list_has_any(a, b) FROM t"
    )
    # r9: list_intersect expands to DuckDB's exact semantics (NULL
    # elements dropped, asymmetric NULL args — macro docstring) instead
    # of the plain array_intersect rename
    assert out.startswith("SELECT array_min(a), array_max(a), (CASE WHEN (a) IS NULL")
    assert "__li_x -> array_contains(" in out
    assert out.endswith("arrays_overlap(a, b) FROM t")


def test_list_unique_wraps_distinct():
    out = rewrite_duckdb_dialect("SELECT list_unique(xs) FROM t")
    # the distinct expansion drops NULL elements (DuckDB counts non-NULL
    # distinct values: list_unique([9,2,NULL]) = 2, [NULL,NULL] = 0)
    assert out == (
        "SELECT size(array_union(filter((xs), x -> x IS NOT NULL), "
        "filter((xs), x -> x IS NOT NULL))) FROM t"
    )


def test_list_has_all_via_array_except():
    out = rewrite_duckdb_dialect("SELECT list_has_all(a, b) FROM t")
    assert out == "SELECT (size(array_except(b, a)) = 0) FROM t"


def test_list_slice_literal_bounds():
    out = rewrite_duckdb_dialect("SELECT list_slice(xs, 2, 4) FROM t")
    assert out == "SELECT slice(xs, 2, 3) FROM t"


def test_list_slice_non_literal_untouched():
    sql = "SELECT list_slice(xs, i, j) FROM t"
    assert rewrite_duckdb_dialect(sql) == sql


def test_array_cosine_similarity_engine_matches_duckdb(engine, sf_dir):
    import duckdb

    sql = (
        "SELECT a.vec_id AS qid, b.vec_id AS cid, "
        "round(array_cosine_similarity(a.embedding, b.embedding), 6) AS cos "
        "FROM 'embeddings.parquet' a JOIN 'embeddings.parquet' b "
        "ON a.vec_id < b.vec_id WHERE a.vec_id <= 3 AND b.vec_id <= 6 "
        "ORDER BY qid, cid"
    )
    r = engine.run(sql)
    con = duckdb.connect()
    # DuckDB's array_cosine_similarity needs fixed-size ARRAY, not LIST
    dsql = (
        "SELECT a.vec_id AS qid, b.vec_id AS cid, "
        "round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cos "
        f"FROM '{sf_dir}/embeddings.parquet' a JOIN '{sf_dir}/embeddings.parquet' b "
        "ON a.vec_id < b.vec_id WHERE a.vec_id <= 3 AND b.vec_id <= 6 "
        "ORDER BY qid, cid"
    )
    expect = con.execute(dsql).fetchall()
    con.close()
    assert len(r.rows) == len(expect)
    for got, want in zip(r.rows, expect):
        assert abs(float(got[2]) - float(want[2])) < 1e-5


def test_array_inner_product_and_distance_engine(engine, sf_dir):
    import duckdb
    import math

    sql = (
        "SELECT round(array_inner_product(a.embedding, b.embedding), 5) AS ip, "
        "round(array_distance(a.embedding, b.embedding), 5) AS d "
        "FROM 'embeddings.parquet' a JOIN 'embeddings.parquet' b "
        "ON a.vec_id = 1 AND b.vec_id = 2"
    )
    r = engine.run(sql)
    con = duckdb.connect()
    ip, d = con.execute(
        "SELECT list_inner_product(a.embedding, b.embedding), "
        "list_distance(a.embedding, b.embedding) "
        f"FROM '{sf_dir}/embeddings.parquet' a JOIN '{sf_dir}/embeddings.parquet' b "
        "ON a.vec_id = 1 AND b.vec_id = 2"
    ).fetchone()
    con.close()
    assert abs(float(r.rows[0][0]) - ip) < 1e-3
    assert abs(float(r.rows[0][1]) - d) < 1e-3


def test_summarize_table(engine):
    r = engine.run("SUMMARIZE 'orders.parquet'")
    assert r.columns == [
        "column_name",
        "column_type",
        "min",
        "max",
        "approx_unique",
        "avg",
        "std",
        "q25",
        "q50",
        "q75",
        "count",
        "null_percentage",
    ]
    names = [row[0] for row in r.rows]
    assert "o_orderkey" in names and "o_orderdate" in names
    byname = {row[0]: row for row in r.rows}
    ok = byname["o_orderkey"]
    # count is the table row count; min/max stringified like DuckDB
    assert int(ok[10]) == int(engine.run("SELECT count(*) FROM 'orders.parquet'").rows[0][0])
    assert float(ok[11]) == 0.0


def test_summarize_query(engine):
    r = engine.run("SUMMARIZE SELECT o_totalprice FROM 'orders.parquet' WHERE o_totalprice > 100")
    assert len(r.rows) == 1
    row = r.rows[0]
    assert row[0] == "o_totalprice"
    assert float(row[2]) > 100  # min respects the filter


# ── round-6 PIVOT statement + COLUMNS(...) templates ─────────────────────


def test_pivot_statement_matches_duckdb(engine, sf_dir):
    import duckdb

    r = engine.run(
        "PIVOT 'orders.parquet' ON o_orderstatus USING sum(o_totalprice) AS s "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    con = duckdb.connect()
    expect = con.execute(
        f"PIVOT '{sf_dir}/orders.parquet' ON o_orderstatus "
        "USING sum(o_totalprice) AS s "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ).fetchall()
    cols = [d[0] for d in con.description]
    con.close()
    assert r.columns == cols
    assert len(r.rows) == len(expect)
    for got, want in zip(r.rows, expect):
        assert got[0] == want[0]
        for g, w in zip(got[1:], want[1:]):
            if w is None:
                assert g is None or g == ""
            else:
                assert abs(float(g) - float(w)) < 0.05


def test_pivot_default_count_and_implicit_groups(engine, sf_dir):
    import duckdb

    r = engine.run(
        "PIVOT (SELECT o_orderpriority, o_orderstatus FROM 'orders.parquet') "
        "ON o_orderstatus ORDER BY o_orderpriority"
    )
    con = duckdb.connect()
    expect = con.execute(
        f"PIVOT (SELECT o_orderpriority, o_orderstatus FROM '{sf_dir}/orders.parquet') "
        "ON o_orderstatus ORDER BY o_orderpriority"
    ).fetchall()
    cols = [d[0] for d in con.description]
    con.close()
    assert r.columns == cols
    assert [[str(x) for x in row] for row in r.rows] == [
        [str(x) for x in row] for row in expect
    ]


def test_columns_star_aggregate(engine):
    r = engine.run(
        "SELECT max(COLUMNS(*)) FROM (SELECT o_orderkey, o_custkey FROM 'orders.parquet')"
    )
    assert r.columns == ["o_orderkey", "o_custkey"]
    assert len(r.rows) == 1


def test_columns_regex_projection(engine):
    r = engine.run(
        "SELECT COLUMNS('o_order.*') FROM 'orders.parquet' ORDER BY o_orderkey LIMIT 3"
    )
    assert all(c.startswith("o_order") for c in r.columns)
    assert len(r.rows) == 3


def test_columns_template_expression(engine):
    r = engine.run(
        "SELECT round(COLUMNS('price|total.*'), 0) FROM "
        "(SELECT o_totalprice FROM 'orders.parquet' ORDER BY o_orderkey LIMIT 2)"
    )
    assert r.columns == ["o_totalprice"]
    assert len(r.rows) == 2


def test_fn_map_argminmax_quantile(engine, sf_dir):
    import duckdb

    sql = (
        "SELECT o_orderpriority, "
        "arg_min(o_orderkey, o_totalprice) AS cheapest, "
        "arg_max(o_orderkey, o_totalprice) AS dearest, "
        "round(quantile_cont(o_totalprice, 0.5), 2) AS med "
        "FROM 'orders.parquet' GROUP BY ALL ORDER BY ALL"
    )
    r = engine.run(sql)
    con = duckdb.connect()
    expect = con.execute(sql.replace("'orders.parquet'", f"'{sf_dir}/orders.parquet'")).fetchall()
    con.close()
    assert [[str(c) for c in row] for row in r.rows] == [
        [str(c) for c in row] for row in expect
    ]


def test_fn_map_array_length_strlen(engine):
    r = engine.run(
        "SELECT array_length(string_split('a-b-c', '-')) AS n, strlen('héllo') AS b"
    )
    assert r.rows[0] == ["3", "6"]


def test_string_agg_native(engine):
    r = engine.run(
        "SELECT string_agg(DISTINCT o_orderstatus, '|') AS s FROM 'orders.parquet'"
    )
    assert len(r.rows) == 1


# ── round-6 FROM-first statements + * REPLACE ────────────────────────────


def test_from_first_bare():
    out = rewrite_duckdb_dialect("FROM t")
    assert out == "SELECT * FROM t"


def test_from_first_with_select():
    out = rewrite_duckdb_dialect("FROM t SELECT a, b")
    assert out == "SELECT a, b FROM t"


def test_from_first_subquery_select_untouched():
    sql = "SELECT * FROM (SELECT a FROM t) q"
    assert rewrite_duckdb_dialect(sql) == sql


def test_engine_from_first(engine):
    r = engine.run("FROM 'region.parquet'")
    assert r.num_rows == 5
    r2 = engine.run(
        "FROM 'orders.parquet' SELECT o_orderstatus, count(*) AS n GROUP BY ALL ORDER BY ALL"
    )
    assert r2.columns == ["o_orderstatus", "n"]


def test_star_replace_preserves_column_order(engine):
    r = engine.run(
        "SELECT * REPLACE (upper(r_name) AS r_name) FROM 'region.parquet' ORDER BY r_regionkey"
    )
    base = engine.run("SELECT * FROM 'region.parquet' ORDER BY r_regionkey")
    assert r.columns == base.columns  # in-place, not moved to the end
    assert r.rows[0][base.columns.index("r_name")] == base.rows[0][
        base.columns.index("r_name")
    ].upper()


def test_star_replace_two_columns(engine):
    r = engine.run(
        "SELECT * REPLACE (o_totalprice * 2 AS o_totalprice, upper(o_orderpriority) AS o_orderpriority) "
        "FROM 'orders.parquet' LIMIT 1"
    )
    assert "o_totalprice" in r.columns and "o_orderpriority" in r.columns


def test_star_replace_unknown_column_raises(engine):
    with pytest.raises(Exception):
        engine.run("SELECT * REPLACE (1 AS nope) FROM 'region.parquet'")


# ── round-6 DISTINCT ON ──────────────────────────────────────────────────


def test_distinct_on_matches_duckdb(engine, sf_dir):
    import duckdb

    sql = (
        "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice "
        "FROM 'orders.parquet' WHERE o_custkey <= 40 "
        "ORDER BY o_custkey, o_orderdate, o_orderkey"
    )
    r = engine.run(sql)
    con = duckdb.connect()
    expect = con.execute(
        sql.replace("'orders.parquet'", f"'{sf_dir}/orders.parquet'")
    ).fetchall()
    con.close()
    assert len(r.rows) == len(expect)
    for got, want in zip(r.rows, expect):
        assert int(got[0]) == want[0] and int(got[1]) == want[1]
        assert abs(float(got[2]) - want[2]) < 0.005


def test_distinct_on_hidden_order_column(engine, sf_dir):
    import duckdb

    # the order column (o_orderdate) is NOT in the select list
    sql = (
        "SELECT DISTINCT ON (o_custkey) o_orderkey "
        "FROM 'orders.parquet' WHERE o_custkey <= 25 "
        "ORDER BY o_custkey, o_orderdate DESC, o_orderkey"
    )
    r = engine.run(sql)
    assert r.columns == ["o_orderkey"]
    con = duckdb.connect()
    expect = con.execute(
        sql.replace("'orders.parquet'", f"'{sf_dir}/orders.parquet'")
    ).fetchall()
    con.close()
    assert [[str(c) for c in row] for row in r.rows] == [
        [str(c) for c in row] for row in expect
    ]


def test_distinct_on_no_order_by(engine):
    r = engine.run(
        "SELECT DISTINCT ON (o_orderstatus) o_orderstatus, o_orderkey FROM 'orders.parquet'"
    )
    statuses = [row[0] for row in r.rows]
    assert len(statuses) == len(set(statuses))  # one row per key


# ── round-7 ADVICE fixes ────────────────────────────────────────────────


def test_list_extract_out_of_bounds_null(engine):
    # DuckDB: list_extract past end → NULL.  Under ANSI Spark 4 a plain
    # element_at rewrite would throw; try_element_at matches DuckDB.
    r = engine.run(
        "SELECT list_extract(list_value(1, 2), 5) AS v, "
        "list_extract(list_value(1, 2), -1) AS last"
    )
    assert r.rows[0][0] == ""  # NULL formats to empty cell
    assert r.rows[0][1] == "2"


def test_from_first_union_select_literal(engine):
    out = rewrite_duckdb_dialect("FROM t UNION SELECT 1")
    assert out == "SELECT * FROM t UNION SELECT 1"
    r = engine.run(
        "FROM (SELECT r_regionkey FROM 'region.parquet') t UNION ALL SELECT 99 ORDER BY 1"
    )
    assert [row[0] for row in r.rows] == ["0", "1", "2", "3", "4", "99"]


def test_from_first_union_both_branches_from_first():
    out = rewrite_duckdb_dialect("FROM a UNION ALL FROM b")
    assert out == "SELECT * FROM a UNION ALL SELECT * FROM b"


def test_from_first_union_branch_with_select():
    out = rewrite_duckdb_dialect("FROM a SELECT x INTERSECT FROM b SELECT y")
    assert out == "SELECT x FROM a INTERSECT SELECT y FROM b"


def test_pivot_tail_view_names_unique(engine, sf_dir):
    # Two tailed PIVOTs on one session must not clobber a shared temp
    # view between materialization and the follow-up sql().
    sql = (
        "PIVOT 'orders.parquet' ON o_orderstatus USING count(*) "
        "ORDER BY o_orderpriority LIMIT 3"
    )
    r1 = engine.run(sql)
    r2 = engine.run(sql)
    assert r1.columns == r2.columns
    assert r1.rows == r2.rows


# ── round-7 dialect long tail: brackets, comprehensions, struct_pack ─────


def test_bracket_list_literal():
    assert rewrite_duckdb_dialect("SELECT [1, 2, 3] AS l") == "SELECT array(1, 2, 3) AS l"
    assert rewrite_duckdb_dialect("SELECT [[1,2],[3,4]] AS l") == (
        "SELECT array(array(1,2),array(3,4)) AS l"
    )


def test_bracket_index_one_based():
    assert rewrite_duckdb_dialect("SELECT xs[1] FROM t") == (
        "SELECT try_element_at(xs, 1) FROM t"
    )
    # function-call base
    assert rewrite_duckdb_dialect("SELECT split(s, ' ')[1] FROM t") == (
        "SELECT try_element_at(split(s, ' '), 1) FROM t"
    )


def test_bracket_slice_forms():
    assert rewrite_duckdb_dialect("SELECT xs[1:3] FROM t") == (
        "SELECT slice(xs, 1, 3) FROM t"
    )
    assert rewrite_duckdb_dialect("SELECT xs[:2] FROM t") == "SELECT slice(xs, 1, 2) FROM t"
    out = rewrite_duckdb_dialect("SELECT xs[2:] FROM t")
    assert out.startswith("SELECT slice(xs, 2, greatest(size(xs)")


def test_bracket_comprehension():
    assert rewrite_duckdb_dialect("SELECT [x * 2 FOR x IN xs] FROM t") == (
        "SELECT transform(xs, x -> x * 2) FROM t"
    )
    assert rewrite_duckdb_dialect("SELECT [x FOR x IN xs IF x > 1] FROM t") == (
        "SELECT transform(filter(xs, x -> x > 1), x -> x) FROM t"
    )


def test_bracket_inside_string_untouched():
    sql = "SELECT '[1]' AS s"
    assert rewrite_duckdb_dialect(sql) == sql


def test_struct_pack():
    assert rewrite_duckdb_dialect("SELECT struct_pack(a := 1, b := x + 1) FROM t") == (
        "SELECT named_struct('a', 1, 'b', x + 1) FROM t"
    )


def test_bracket_engine_matches_duckdb(engine, sf_dir):
    import duckdb

    sql = (
        "SELECT r_regionkey, "
        "[r_regionkey, r_regionkey + 1][1] AS first_elem, "
        "[x * 10 FOR x IN [1, 2, 3] IF x < 3] AS tens, "
        "struct_pack(k := r_regionkey, n := r_name).k AS sk "
        "FROM 'region.parquet' ORDER BY r_regionkey"
    )
    r = engine.run(sql)
    con = duckdb.connect()
    expect = con.execute(
        sql.replace("'region.parquet'", f"'{sf_dir}/region.parquet'")
    ).fetchall()
    con.close()
    assert [tuple(str(c) for c in row) for row in expect] == [
        tuple(row) for row in r.rows
    ] or [int(row[0]) for row in r.rows] == [int(e[0]) for e in expect]
    # element values line up
    assert [row[1] for row in r.rows] == [str(e[1]) for e in expect]
    assert [row[3] for row in r.rows] == [str(e[3]) for e in expect]


# ── round-7: read_* table functions, DESCRIBE, COPY TO entry ─────────────


def test_read_parquet_rewrites_to_path_literal():
    out = rewrite_duckdb_dialect("SELECT * FROM read_parquet('f.parquet')")
    assert out == "SELECT * FROM 'f.parquet'"
    out = rewrite_duckdb_dialect("FROM read_csv('d.csv')")
    assert out == "SELECT * FROM 'd.csv'"


def test_read_fn_with_options_untouched():
    sql = "SELECT * FROM read_csv('d.csv', header=true)"
    assert rewrite_duckdb_dialect(sql) == sql


def test_engine_read_parquet_fn(engine):
    r = engine.run("SELECT count(*) AS n FROM read_parquet('region.parquet')")
    assert r.rows[0][0] == "5"


def test_describe_select_rewrite():
    out = rewrite_duckdb_dialect("DESCRIBE SELECT 1 AS x")
    assert out == "DESCRIBE QUERY SELECT 1 AS x"
    out = rewrite_duckdb_dialect("DESCRIBE FROM t")
    assert out == "DESCRIBE QUERY SELECT * FROM t"


def test_engine_describe_select(engine):
    r = engine.run("DESCRIBE SELECT r_regionkey, r_name FROM 'region.parquet'")
    names = [row[0] for row in r.rows]
    assert names == ["r_regionkey", "r_name"]


def test_unpivot_statement_rewrite():
    out = rewrite_duckdb_dialect(
        "UNPIVOT sales ON jan, feb, mar INTO NAME month VALUE amount"
    )
    # bare identifiers get explicit lowercase labels so the NAME column
    # matches DuckDB's catalog-case values regardless of query-text case
    assert out == (
        "SELECT * FROM sales UNPIVOT (amount FOR month IN "
        "(jan AS `jan`, feb AS `feb`, mar AS `mar`))"
    )
    out = rewrite_duckdb_dialect(
        "UNPIVOT (SELECT * FROM t) ON a, b INTO NAME k VALUE v ORDER BY k LIMIT 3"
    )
    assert out == (
        "SELECT * FROM (SELECT * FROM t) UNPIVOT (v FOR k IN "
        "(a AS `a`, b AS `b`)) ORDER BY k NULLS LAST LIMIT 3"
    )


def test_engine_unpivot_statement_matches_duckdb(engine, sf_dir):
    import duckdb

    sql = (
        "UNPIVOT (SELECT r_regionkey AS rk, r_regionkey * 2 AS dbl, "
        "r_regionkey * 3 AS tpl FROM 'region.parquet') "
        "ON dbl, tpl INTO NAME metric VALUE val ORDER BY rk, metric"
    )
    r = engine.run(sql)
    con = duckdb.connect()
    expect = con.execute(
        sql.replace("'region.parquet'", f"'{sf_dir}/region.parquet'")
    ).fetchall()
    con.close()
    assert [tuple(str(c) for c in row) for row in expect] == [tuple(row) for row in r.rows]


def test_pragma_mappings(engine):
    assert rewrite_duckdb_dialect("PRAGMA show_tables") == "SHOW TABLES"
    assert rewrite_duckdb_dialect("PRAGMA table_info('t')") == "DESCRIBE t"
    r = engine.run("PRAGMA version")
    assert r.columns == ["library_version"]
    with pytest.raises(ValueError, match="PRAGMA threads"):
        rewrite_duckdb_dialect("PRAGMA threads=4")


# ── operator & literal pack (round 7) ────────────────────────────────────


def test_numeric_underscores():
    assert rewrite_duckdb_dialect("SELECT 1_000_000 + 2") == "SELECT 1000000 + 2"
    assert rewrite_duckdb_dialect("SELECT 1_000.5") == "SELECT 1000.5"
    # identifiers and strings untouched
    assert rewrite_duckdb_dialect("SELECT a_1, '1_000'") == "SELECT a_1, '1_000'"


def test_intdiv_to_div():
    out = rewrite_duckdb_dialect("SELECT 7 // 2, -7 // 2")
    assert "div" in out and "//" not in out
    assert rewrite_duckdb_dialect("SELECT '//'") == "SELECT '//'"


def test_power_operator_semantics():
    # DuckDB pins (probed): 2^3^2 = 64 (left-assoc), 2*3^2 = 18 (tighter
    # than *), -2^2 = 4 (unary minus tighter still), 1-2^2 = -3 (binary
    # minus looser)
    out = rewrite_duckdb_dialect("SELECT 2^3^2, 2*3^2, -2^2, 1-2^2, 2 ** 4")
    assert out == (
        "SELECT power(power(2, 3), 2), 2*power(3, 2), power(-2, 2), "
        "1-power(2, 2), power(2, 4)"
    )


def test_power_operand_shapes():
    assert (
        rewrite_duckdb_dialect("SELECT sum(x) ^ 2 FROM t")
        == "SELECT power(sum(x), 2) FROM t"
    )
    assert (
        rewrite_duckdb_dialect("SELECT (a + b) ^ (c - d) FROM t")
        == "SELECT power((a + b), (c - d)) FROM t"
    )
    # inside strings untouched
    assert rewrite_duckdb_dialect("SELECT '2 ^ 3'") == "SELECT '2 ^ 3'"


def test_caret_at_startswith():
    assert (
        rewrite_duckdb_dialect("SELECT name ^@ 'Cust' FROM t")
        == "SELECT startswith(name, 'Cust') FROM t"
    )
    assert (
        rewrite_duckdb_dialect("SELECT 'a''b' ^@ 'a'")
        == "SELECT startswith('a''b', 'a')"
    )


def test_similar_to_anchored():
    assert (
        rewrite_duckdb_dialect("SELECT x SIMILAR TO '[a-z]+' FROM t")
        == "SELECT (x RLIKE '^(?:[a-z]+)$') FROM t"
    )
    assert (
        rewrite_duckdb_dialect("SELECT x NOT SIMILAR TO 'a.c' FROM t")
        == "SELECT (NOT (x RLIKE '^(?:a.c)$')) FROM t"
    )


def test_similar_to_concat_chain_binds_tighter():
    out = rewrite_duckdb_dialect("SELECT y SIMILAR TO pre || '$' FROM t")
    # anchors splice via `||` so a NULL pattern stays NULL (the old
    # concat emission was captured by the skip-NULLs pass and matched
    # '^(?:)$' instead — fuzz r8)
    assert out == "SELECT (rlike(y, '^(?:' || (pre || '$') || ')$')) FROM t"


def test_dollar_quoted_strings():
    assert rewrite_duckdb_dialect("SELECT $$it's$$ AS s") == "SELECT 'it''s' AS s"
    assert rewrite_duckdb_dialect("SELECT $tag$a$b$tag$") == "SELECT 'a$b'"
    # $$ inside a normal string untouched
    assert rewrite_duckdb_dialect("SELECT '$$x$$'") == "SELECT '$$x$$'"


def test_struct_and_map_literals():
    assert (
        rewrite_duckdb_dialect("SELECT {'a': 1, 'b': x + 1} FROM t")
        == "SELECT named_struct('a', 1, 'b', x + 1) FROM t"
    )
    assert (
        rewrite_duckdb_dialect("SELECT MAP {'k': 2, 'j': 3}")
        == "SELECT map_from_arrays(array('k', 'j'), array(2, 3))"
    )
    # function-form constructor: MAP(keys_list, values_list) — probed r10
    assert (
        rewrite_duckdb_dialect("SELECT MAP(['a','b'], [1,2])")
        == "SELECT map_from_arrays((array('a','b')), (array(1,2)))"
    )
    # nested struct + list literal value; casts inside values survive
    # (the ::INT cast now dispatches through the int-cast rounding pass —
    # DuckDB rounds fractional casts where Spark truncates, fuzz r8)
    assert (
        rewrite_duckdb_dialect("SELECT {'a': {'b': [1,2]}, 'c': x::INT}")
        == "SELECT named_struct('a', named_struct('b', array(1,2)), 'c', "
        "(CASE WHEN typeof((x)) IN ('double', 'float') "
        "THEN CAST(bround(CAST((x) AS DOUBLE)) AS INT) "
        "WHEN typeof((x)) LIKE 'decimal%' "
        "THEN CAST((CASE WHEN CAST((x) AS DOUBLE) < 0 "
        "THEN -floor(0.5 - CAST((x) AS DOUBLE)) ELSE floor(CAST((x) AS "
        "DOUBLE) + 0.5) END) AS INT) ELSE CAST((x) AS INT) END))"
    )


def test_series_tvf_rewrite_shapes():
    out = rewrite_duckdb_dialect("SELECT * FROM generate_series(1, 5)")
    assert "explode" in out and "AS `generate_series`" in out
    out = rewrite_duckdb_dialect("SELECT * FROM range(1, 4) t(x)")
    assert "AS `range`) t(x)" in out
    # scalar position rewrites to a list expression (DuckDB returns a
    # LIST there; parity pinned in test_parity_sweep_math_and_lists)
    out = rewrite_duckdb_dialect("SELECT range(1, 4) FROM t")
    assert "sequence" in out and "explode" not in out


def test_engine_operator_pack_matches_duckdb(engine):
    import duckdb

    battery = [
        "SELECT 1_000_000 + 2 AS v",
        "SELECT 7 // 2 AS a, -7 // 2 AS b",
        "SELECT 2 ^ 3 AS a, 2^3^2 AS b, 2*3^2 AS c, -2^2 AS d, 1-2^2 AS e",
        "SELECT 'abc' ^@ 'ab' AS a, 'abc' ^@ 'b' AS b",
        "SELECT 'a1' SIMILAR TO '[a-z][0-9]' AS a, 'abc' SIMILAR TO 'a' AS b",
        "SELECT $$it's$$ AS s",
        "SELECT {'a': 1, 'b': 'x'}.a AS a",
        "SELECT * FROM generate_series(1, 5)",
        "SELECT * FROM generate_series(10, 1, -2)",
        "SELECT * FROM range(5)",
        "SELECT * FROM range(0)",
        "SELECT x + 1 AS y FROM range(1, 4) t(x)",
        "SELECT count(*) AS n FROM generate_series("
        "TIMESTAMP '2020-01-01', TIMESTAMP '2020-03-01', INTERVAL 1 DAY)",
    ]
    con = duckdb.connect()
    for sql in battery:
        got = sorted(tuple(r) for r in engine.run(sql).rows)
        want = sorted(
            tuple(str(c).lower() if c is not None else None for c in row)
            for row in con.execute(sql).fetchall()
        )
        norm = [tuple(str(c).lower().removesuffix(".0") for c in r) for r in got]
        wnorm = [tuple(str(c).removesuffix(".0") for c in r) for r in want]
        assert norm == wnorm, f"{sql}: {norm} != {wnorm}"
    con.close()


def test_engine_map_literal_subscript(engine):
    # Documented divergence: DuckDB's map[key] returns a one-element LIST
    # ([2]); Spark's (ANSI/common) reading returns the element itself.
    r = engine.run("SELECT MAP {'k': 2, 'j': 3}['k'] AS v")
    assert r.rows == [["2"]]


def test_engine_series_empty_and_error(engine):
    assert engine.run("SELECT * FROM range(0)").num_rows == 0
    assert engine.run("SELECT * FROM range(1, 1)").num_rows == 0
    with pytest.raises(Exception, match="infinite series"):
        engine.run("SELECT * FROM generate_series(5, 1)")


def test_dot_chain_rewrites():
    assert (
        rewrite_duckdb_dialect("SELECT name.lower() FROM t")
        == "SELECT lower(name) FROM t"
    )
    assert (
        rewrite_duckdb_dialect("SELECT trim(x).upper() FROM t")
        == "SELECT upper(trim(x)) FROM t"
    )
    # chains flatten leftmost-first; subscripts stay glued to their base
    assert rewrite_duckdb_dialect(
        "SELECT ('Hello World').lower().string_split(' ')[2].upper() AS w"
    ) == ("SELECT upper(try_element_at(split(lower(('Hello World')), ' '), 2)) AS w")
    # window/filter syntax is never a chain (only NULLS alignment applies)
    assert rewrite_duckdb_dialect("SELECT rank() OVER (ORDER BY x) FROM t") == (
        "SELECT rank() OVER (ORDER BY x NULLS LAST) FROM t"
    )
    sql = "SELECT count(*) FILTER (WHERE x > 1) FROM t"
    assert rewrite_duckdb_dialect(sql) == sql
    # qualified column references without a call stay untouched
    sql = "SELECT sum(t.x) FROM t"
    assert rewrite_duckdb_dialect(sql) == sql


def test_dot_chain_engine_matches_duckdb(engine):
    import duckdb

    con = duckdb.connect()
    battery = [
        "SELECT ('a b c').string_split(' ').len() AS n",
        "SELECT trim('  pad  ').len() AS n",
        "SELECT ('Hello World').lower().string_split(' ')[2].upper() AS w",
        "SELECT len('abc') AS a",
    ]
    for q in battery:
        got = [tuple(r) for r in engine.run(q).rows]
        want = [tuple(str(c) for c in row) for row in con.execute(q).fetchall()]
        assert got == want, q
    con.close()


def test_using_sample_method_forms():
    out = rewrite_duckdb_dialect("SELECT * FROM t USING SAMPLE reservoir(100 ROWS)")
    assert "ORDER BY rand() LIMIT 100" in out
    out = rewrite_duckdb_dialect("SELECT * FROM t USING SAMPLE bernoulli(10%)")
    assert "TABLESAMPLE (10 PERCENT)" in out
    # DuckDB unit defaults: reservoir → ROWS, bernoulli/system → PERCENT
    out = rewrite_duckdb_dialect("SELECT * FROM t USING SAMPLE reservoir(50)")
    assert "ORDER BY rand() LIMIT 50" in out
    out = rewrite_duckdb_dialect("SELECT * FROM t USING SAMPLE system(50)")
    assert "TABLESAMPLE (50 PERCENT)" in out
    # size-first form; inner seed becomes REPEATABLE
    out = rewrite_duckdb_dialect("SELECT * FROM t USING SAMPLE 10% (system, 377)")
    assert "TABLESAMPLE (10 PERCENT) REPEATABLE (377)" in out


def test_bare_varchar_to_string():
    out = rewrite_duckdb_dialect("CREATE TABLE t (a INT, b VARCHAR)")
    assert out == "CREATE TABLE t (a INT, b STRING)"
    assert rewrite_duckdb_dialect("SELECT x::VARCHAR FROM t") == "SELECT x::STRING FROM t"
    # parameterized VARCHAR(n) is valid in both engines — untouched
    sql = "CREATE TABLE t (b VARCHAR(10))"
    assert rewrite_duckdb_dialect(sql) == sql


def test_engine_sample_methods_row_counts(engine):
    r = engine.run(
        "SELECT count(*) AS n FROM (SELECT * FROM 'orders.parquet' "
        "USING SAMPLE reservoir(50 ROWS))"
    )
    assert r.rows == [["50"]]
    n = int(
        engine.run(
            "SELECT count(*) AS n FROM (SELECT * FROM 'orders.parquet' "
            "USING SAMPLE 10% (bernoulli))"
        ).rows[0][0]
    )
    assert 0 < n < 1500  # ~10% of sf0.001 orders, sampling is probabilistic


def test_list_aggregate_family_matches_duckdb(engine):
    import duckdb

    con = duckdb.connect()
    battery = [
        # DuckDB keeps element types (6, DECIMAL 4.0); the Spark shim
        # accumulates in DOUBLE — identical once formatted (6, 4)
        "SELECT list_sum([1,2,3]) AS a, list_sum([1, NULL, 2]) AS c",
        "SELECT list_avg([1, NULL, 2]) AS a, list_avg([4.0, 6.0]) AS b",
        "SELECT list_aggregate([3,1,2], 'sum') AS s, "
        "list_aggregate([3,1,2], 'min') AS mn, "
        "list_aggregate(['a','b'], 'count') AS ct",
        "SELECT list_reduce([1,2,3], (a,b) -> a+b) AS r",
        "SELECT ([1,2,3]).list_sum() AS chained",
    ]
    for q in battery:
        got = [
            tuple(c.removesuffix(".0") for c in row) for row in engine.run(q).rows
        ]
        want = [
            tuple(str(c).removesuffix(".0") for c in row)
            for row in con.execute(q).fetchall()
        ]
        assert got == want, q
    # empty list sums to NULL in both engines
    assert engine.run("SELECT list_sum([]) AS e").rows == [[""]]
    con.close()


def test_columns_lambda_and_exclude(engine):
    r = engine.run("SELECT min(COLUMNS(c -> c LIKE 'r_n%')) FROM 'region.parquet'")
    assert r.columns == ["r_name"]
    r = engine.run("SELECT min(COLUMNS(* EXCLUDE (r_name))) FROM 'region.parquet'")
    assert r.columns == ["r_regionkey"]
    assert r.rows == [["0"]]
    with pytest.raises(ValueError, match="EXCLUDE list not found"):
        engine.run("SELECT min(COLUMNS(* EXCLUDE (nope))) FROM 'region.parquet'")


# ── round-7 parity sweep (each rename/macro probed on both engines) ─────


def _norm_rows(rows):
    # display-layer quoting differs (format_cell renders lists JSON-style,
    # the duckdb Python client repr-style) — normalize both
    return [
        tuple(
            str(c).lower().replace(", ", ",").replace('"', "'").removesuffix(".0")
            if c is not None
            else ""
            for c in r
        )
        for r in rows
    ]


def test_parity_sweep_strings_and_hashes(engine):
    import duckdb

    con = duckdb.connect()
    battery = [
        "SELECT starts_with('abc', 'ab') AS a, ends_with('abc', 'bc') AS b",
        "SELECT strpos('abcabc', 'b') AS p, strpos('abc', 'z') AS z",
        "SELECT array_to_string(['a','b'], '-') AS s",
        "SELECT sha256('abc') AS h",
        "SELECT to_base(255, 16) AS h",
        "SELECT unicode('A') AS u, to_hex(255) AS h",
        "SELECT trim('xax', 'x') AS t, ltrim('xxa', 'x') AS lt, rtrim('axx', 'x') AS rt",
        "SELECT format('{} x {}', 1, 'a') AS f",
    ]
    for q in battery:
        assert _norm_rows(engine.run(q).rows) == _norm_rows(
            con.execute(q).fetchall()
        ), q
    con.close()


def test_parity_sweep_log_is_log10(engine):
    # DuckDB log(x) = log10; Spark log(x) = ln — the rename prevents a
    # silent wrong answer.  Two-arg log(base, x) agrees natively.
    assert engine.run("SELECT log(100) AS l").rows == [["2"]]
    assert engine.run("SELECT log(2.0, 8) AS l").rows == [["3"]]


def test_parity_sweep_dates(engine):
    import duckdb

    con = duckdb.connect()
    battery = [
        "SELECT dayname(DATE '2020-03-04') AS d, monthname(DATE '2020-03-04') AS m",
        "SELECT isodow(DATE '2020-03-04') AS i, isodow(DATE '2020-03-08') AS s",
        "SELECT yearweek(DATE '2021-01-01') AS yw, week(DATE '2021-01-01') AS w",
        # boundary-crossing vs full-unit semantics (probed)
        "SELECT date_diff('month', DATE '2020-01-31', DATE '2020-02-01') AS dd, "
        "date_sub('month', DATE '2020-01-31', DATE '2020-02-01') AS ds",
        "SELECT date_diff('day', DATE '2020-01-01', DATE '2020-01-05') AS d",
        "SELECT datediff('hour', TIMESTAMP '2020-01-01 10:59:00', "
        "TIMESTAMP '2020-01-01 11:01:00') AS h",
        "SELECT today() = current_date AS t",
    ]
    for q in battery:
        assert _norm_rows(engine.run(q).rows) == _norm_rows(
            con.execute(q).fetchall()
        ), q
    con.close()


def test_parity_sweep_math_and_lists(engine):
    import duckdb

    con = duckdb.connect()
    battery = [
        "SELECT trunc(2.7) AS t, trunc(-2.7) AS n",
        "SELECT isfinite(1.0) AS f, isnan('nan'::DOUBLE) AS n, "
        "isinf('inf'::DOUBLE) AS i",
        "SELECT list_prepend(0, [1,2]) AS l",
        "SELECT list_reverse_sort([1,3,2]) AS l",
        "SELECT list_any_value([NULL, 3, 4]) AS v, list_count([1, NULL, 2]) AS c",
        "SELECT list_position([5,6,7], 6) AS p",
        # scalar-position range/generate_series return lists in DuckDB
        "SELECT range(1, 4) AS r, generate_series(1, 3) AS g",
    ]
    for q in battery:
        assert _norm_rows(engine.run(q).rows) == _norm_rows(
            con.execute(q).fetchall()
        ), q
    con.close()


def test_literal_backslashes_raw_like_duckdb(engine):
    # DuckDB reads '\d+' raw; Spark C-unescapes it to 'd+' — the shim
    # doubles backslashes so every user regex keeps its DuckDB meaning.
    # (Found via: this exact query returned '' before the fix.)
    r = engine.run(r"SELECT regexp_extract('ab12', '([a-z]+)(\d+)', 2) AS g")
    assert r.rows == [["12"]]
    r = engine.run(r"SELECT 'a1' SIMILAR TO '[a-z]\d' AS m")
    assert r.rows == [["true"]]


def test_parity_sweep_wave2_aggregates(engine):
    import duckdb

    con = duckdb.connect()
    battery = [
        "SELECT string_agg(x, ',' ORDER BY x) AS s FROM (VALUES ('b'),('a')) t(x)",
        "SELECT quantile_disc(x, 0.5) AS q, quantile_disc(x, 0.25) AS q2 "
        "FROM (VALUES (1),(2),(3),(4)) t(x)",
        # sample-vs-population corrections, verified formulas
        "SELECT round(skewness(x), 6) AS s, round(kurtosis(x), 6) AS k "
        "FROM (VALUES (1.0),(2.0),(9.0),(3.0)) t(x)",
        "SELECT fsum(x) AS s FROM (VALUES (1.0),(2.0)) t(x)",
    ]
    for q in battery:
        assert _norm_rows(engine.run(q).rows) == _norm_rows(
            con.execute(q).fetchall()
        ), q
    con.close()


def test_parity_sweep_wave2_json(engine):
    import duckdb

    con = duckdb.connect()
    battery = [
        "SELECT struct_extract({'a': 1}, 'a') AS v",
        "SELECT json_extract('{\"a\": 2}', '$.a') AS v, "
        "json_extract('{\"a\": 2}', 'a') AS w",
        "SELECT json_extract_string('{\"a\": \"x\"}', '$.a') AS v",
        "SELECT json_valid('{}') AS a, json_valid('{') AS b",
        "SELECT json_keys('{\"a\":1,\"b\":2}') AS ks",
        "SELECT '{\"a\": {\"b\": 2}}'::JSON -> 'a' ->> 'b' AS v",
        "SELECT '[5,6]'::JSON -> 0 AS a, '[5,6]'::JSON ->> 1 AS b",
        "SELECT j ->> 'a' AS v FROM (SELECT '{\"a\": 5}' AS j)",
        # lambda arrows inside HOFs are never JSON extraction
        "SELECT list_transform([1,2], x -> 3) AS lam",
    ]
    for q in battery:
        assert _norm_rows(engine.run(q).rows) == _norm_rows(
            con.execute(q).fetchall()
        ), q
    con.close()


def test_parity_sweep_wave2_regex(engine):
    import duckdb

    con = duckdb.connect()
    battery = [
        # DuckDB 2-arg default is group 0; explicit index agrees
        r"SELECT regexp_extract('ab12', '(\d+)') AS g0, "
        r"regexp_extract('ab12', '([a-z]+)(\d+)', 2) AS g2",
        r"SELECT regexp_extract_all('a1b2', '[a-z]') AS l",
        # 'g' flag = Spark's global default; 'i' composes as (?i)
        r"SELECT regexp_replace('AaA', 'a', 'b', 'gi') AS r, "
        r"regexp_replace('aaa', 'a', 'b', 'g') AS g",
        r"SELECT regexp_split_to_array('a1b2c', '[0-9]') AS l",
        "SELECT regexp_full_match('abc', 'a.c') AS m, "
        "regexp_full_match('abc', 'a') AS n",
        r"SELECT regexp_escape('a.b(c)') AS e",
    ]
    for q in battery:
        assert _norm_rows(engine.run(q).rows) == _norm_rows(
            con.execute(q).fetchall()
        ), q
    con.close()


def test_order_by_nulls_last_matches_duckdb(engine):
    import duckdb

    con = duckdb.connect()
    battery = [
        # DuckDB defaults NULLS LAST both directions; Spark ASC would put
        # them first
        "SELECT x FROM (VALUES (2),(NULL),(1)) t(x) ORDER BY x",
        "SELECT x FROM (VALUES (2),(NULL),(1)) t(x) ORDER BY x DESC",
        "SELECT x, row_number() OVER (ORDER BY x) AS rn "
        "FROM (VALUES (2),(NULL),(1)) t(x) ORDER BY rn",
        # explicit markers always win
        "SELECT x FROM (VALUES (2),(NULL),(1)) t(x) ORDER BY x NULLS FIRST",
        # ADVICE r7: a trailing line comment on a key must not swallow the
        # inserted NULLS LAST, nor defeat DESC / explicit-NULLS detection
        "SELECT x, y FROM (VALUES (2, 1),(NULL, 2),(1, 3)) t(x, y) "
        "ORDER BY x -- note\n, y",
        "SELECT x FROM (VALUES (2),(NULL),(1)) t(x) ORDER BY x DESC -- c\n",
        "SELECT x FROM (VALUES (2),(NULL),(1)) t(x) "
        "ORDER BY x NULLS FIRST -- c\n",
        "SELECT x FROM (VALUES (2),(NULL),(1)) t(x) ORDER BY x /* c */ DESC",
    ]
    for q in battery:
        got = [tuple(r) for r in engine.run(q).rows]
        want = [
            tuple(str(c) if c is not None else "" for c in row)
            for row in con.execute(q).fetchall()
        ]
        assert got == want, q
    con.close()


def test_time_bucket_and_epoch_match_duckdb(engine):
    import duckdb

    con = duckdb.connect()
    battery = [
        # origin 2000-01-03 (Monday) — week buckets start Mondays; floor
        # semantics hold before the origin; months are calendar-based
        "SELECT time_bucket(INTERVAL '15 minutes', "
        "TIMESTAMP '2020-01-01 00:37:21') AS b",
        "SELECT time_bucket(INTERVAL '7 days', "
        "TIMESTAMP '2020-03-04 10:00:00') AS b",
        "SELECT time_bucket(INTERVAL '1 day', "
        "TIMESTAMP '1969-12-30 10:00:00') AS b",
        "SELECT time_bucket(INTERVAL '3 months', "
        "TIMESTAMP '2020-05-15 00:00:00') AS b",
        "SELECT time_bucket(INTERVAL '1 year', "
        "TIMESTAMP '1998-03-15 00:00:00') AS b",
        "SELECT epoch(TIMESTAMP '2020-01-01 00:00:01.5') AS e",
        "SELECT extract(epoch FROM TIMESTAMP '2020-01-01 00:00:01.25') AS e",
        "SELECT extract(year FROM DATE '2020-03-04') AS y",
    ]
    for q in battery:
        got = [
            tuple(c.removesuffix(".0").split("T")[0] + c.split("T")[-1].removesuffix(".000Z") if "T" in c else c.removesuffix(".0") for c in row)
            for row in engine.run(q).rows
        ]
        want = [
            tuple(
                str(c).removesuffix(".0").replace(" ", "")
                if c is not None
                else ""
                for c in row
            )
            for row in con.execute(q).fetchall()
        ]
        got = [tuple(c.replace(" ", "").replace("T", "") for c in row) for row in got]
        want = [tuple(c.replace("T", "") for c in row) for row in want]
        assert got == want, q
    con.close()


def test_ordered_aggregates_and_unnest_match_duckdb(engine):
    import duckdb

    con = duckdb.connect()
    battery = [
        # in-call ORDER BY via post-collect struct sort
        "SELECT array_agg(x ORDER BY x DESC) AS l FROM (VALUES (1),(3),(2)) t(x)",
        "SELECT array_agg(x ORDER BY y) AS l "
        "FROM (VALUES (1, 9),(3, 7),(2, 8)) t(x, y)",
        "SELECT list(x ORDER BY x) AS l FROM (VALUES (2),(1)) t(x)",
        "SELECT first(x ORDER BY x) AS f, last(x ORDER BY x) AS la "
        "FROM (VALUES (2),(1),(3)) t(x)",
        "SELECT map_extract(MAP {'k': 2}, 'k') AS a, "
        "map_extract(MAP {'k': 2}, 'z') AS b",
        # unnest in scalar and FROM positions
        "SELECT unnest([1,2]) AS u",
        "SELECT u + 1 AS v FROM unnest([3,4]) t(u)",
    ]
    for q in battery:
        got = sorted(tuple(r) for r in engine.run(q).rows)
        want = sorted(
            tuple(
                str(c).replace(", ", ",") if c is not None else ""
                for c in row
            )
            for row in con.execute(q).fetchall()
        )
        assert got == want, q
    con.close()


def test_fuzz_pinned_divergences_match_duckdb(engine):
    """Minimized reproductions from the r8 grammar fuzz campaign
    (fuzz_dialect.py) — each was a real cross-engine divergence, fixed in
    the division/typing/concat passes and pinned here verbatim."""
    import duckdb
    import math

    con = duckdb.connect()
    battery = [
        # seed 284: Spark round(int,d) kept INT typing while DuckDB says
        # DOUBLE; the // dispatch then truncated where DuckDB divides
        "SELECT (greatest(round(-4, 1), round(-1, 1)) // 3) AS c0",
        # seed 61: round-typed DECIMAL divisor took Spark's decimal
        # division (scale-6) where DuckDB divides as DOUBLE
        "SELECT (round(3, 2) // round(-1.5, 1)) AS a0",
        # seed 96: concat must SKIP NULL arguments like DuckDB
        "SELECT concat(rpad(CAST(NULL AS VARCHAR), 7, '*'), "
        "lpad('BUILDING', 5, '*')) AS c0",
        # seed 78: % by zero inside a divisor chain → NULL, not ANSI error
        "SELECT ((- coalesce(1, 1)) / ((2 % 0) - round(1, 1))) AS c0",
        # seed 86: mixed //-chain over decimal intermediates
        "SELECT ((-4 + (9.99 + -1)) // ((9.99 / -1.5) % (- 2.5))) AS c0",
        # seed 57: int // double is PLAIN division in DuckDB (not an error)
        "SELECT (length(CAST(NULL AS VARCHAR)) // sqrt(abs(-1) + 1)) AS c0",
        # seed 29: FILTER'd aggregate over a zero-divisor expression
        "SELECT stddev_samp((0.25 / (0 / 3))) FILTER (WHERE (NOT (0.25 >= 1))) AS a0",
        # seed 1223: avg over a decimal-typed expression must accumulate
        # as DOUBLE (DuckDB typing), not round at decimal scale+4
        "SELECT avg((-1.5 % x)) AS a0 FROM (VALUES (3), (4), (7)) t(x)",
    ]
    for q in battery:
        got = engine.sql(q).collect()[0][0]
        want = con.execute(q).fetchone()[0]
        if got is None or want is None:
            assert got is None and want is None, (q, got, want)
        elif isinstance(want, str):
            assert str(got) == want, (q, got, want)
        else:
            assert math.isclose(float(got), float(want), rel_tol=1e-9, abs_tol=1e-9), (
                q, got, want,
            )
    con.close()


def test_fuzz_pinned_r8_wave2_match_duckdb(engine):
    """Minimized reproductions from the r8 extended-grammar fuzz campaign
    (lists, subscripts, regex operators, struct fields) — each was a real
    cross-engine divergence, fixed in the bracket/tilde/macro passes and
    pinned here verbatim."""
    import duckdb

    con = duckdb.connect()
    battery = [
        # list_concat must keep LIST type and skip NULL sides — the old
        # rename to concat stringified through the skip-NULLs pass
        "SELECT list_concat(list_filter([], x -> x < 5), [1,2]) AS c0",
        "SELECT list_concat([1], NULL) AS c0",
        "SELECT list_concat(NULL, NULL) AS c0",
        # string subscripts (DuckDB polymorphic brackets): 0 and
        # out-of-range clamp to '', negatives count from the end
        "SELECT ('abc')[2] AS c0, ('abc')[0] AS c1, ('abc')[-1] AS c2",
        "SELECT ('abc')[-5] AS c0, ('abc')[7] AS c1",
        "SELECT ('abcdef')[2:4] AS c0, ('abcdef')[-3:-1] AS c1",
        "SELECT ('abcdef')[4:2] AS c0, ('abcdef')[0:2] AS c1",
        "SELECT ('abcdef')[2:] AS c0, ('abcdef')[:3] AS c1",
        # mixed string and array subscripts in one statement (seed 72)
        "SELECT ((CASE WHEN (3 < CAST(NULL AS INTEGER)) THEN 'a''b' "
        "ELSE '' END))[-1] AS c3, ([NULL, 1, 7])[3] AS c4",
        # postgres-style regex operators are FULL-match in DuckDB
        "SELECT ('abcd' ~ 'b.') AS c0, ('xy' ~ 'x.') AS c1",
        "SELECT ('xy' !~ 'x.') AS c0, (NULL ~ 'x') AS c1, ('xy' ~ NULL) AS c2",
        "SELECT (upper('ab') ~ ('A' || 'B')) AS c0, (~ 5) AS c1",
        # array_to_string: NULL for NULL/empty/all-NULL lists (seeds 89/104)
        "SELECT array_to_string([], ',') AS c0, array_to_string([NULL], ',') AS c1",
        "SELECT array_to_string([1,NULL,2], ',') AS c0",
        # list_contains: false (not NULL) on not-found with NULL elements
        # (seed 190); NULL only for NULL list or needle
        "SELECT list_contains([0, NULL, 1, NULL], -1.5) AS c0",
        "SELECT list_contains([0, NULL, 1], 1) AS c0, "
        "list_contains(NULL, 1) AS c1, list_contains([1,2], NULL) AS c2",
        # struct-field access as an operand of % and // (seeds 198/349)
        "SELECT (({'a': 100, 'b': 0}).a % sqrt(abs(CAST(NULL AS INTEGER)) + 1)) AS c0",
        "SELECT ((- 10) // ({'a': 4, 'b': 2}).a) AS c0",
        # list_distinct drops NULL elements in DuckDB (seed 1045); the
        # expansion must not re-trigger its own macro (trap 27)
        "SELECT list_sort(list_distinct([9, 2, NULL])) AS c0",
        "SELECT list_sort(array_distinct([3, NULL, 3, 1])) AS c0, "
        "list_distinct(NULL) AS c1",
        # subscripts on array_to_string results are STRING subscripts even
        # though the name starts with 'array' (seeds 598/605)
        "SELECT (array_to_string([-1, 0], ','))[3] AS c0",
        "SELECT (array_to_string(list_transform(range(3, 5), x -> x - 3), ','))[1:3] AS c0",
        # a query can need string subscripts AND the array reading of len
        # at the same time (seed 1427)
        "SELECT ((1 = len(range(2, 2))) AND "
        "(array_to_string(range(-2, -2), ',') <> ('xy')[-2])) AS c0",
        # integer-typed casts ROUND in DuckDB, Spark truncates: decimal
        # rounds half-away, double/float half-to-even (std::nearbyint)
        "SELECT CAST(2.5 AS BIGINT) AS c0, CAST(-2.5 AS INTEGER) AS c1, "
        "CAST(2.4 AS BIGINT) AS c2",
        "SELECT CAST((0.5)::DOUBLE AS INT) AS c0, "
        "CAST((2.5)::DOUBLE AS INT) AS c1, "
        "CAST((3.5)::DOUBLE AS INT) AS c2, "
        "CAST((-2.5)::DOUBLE AS INT) AS c3",
        "SELECT CAST(((2.5 / -1)) AS INT) AS c0, "
        "CAST((2.5)::FLOAT AS INT) AS c1",
        # list_sort places NULLs LAST in DuckDB, both directions
        # (seed 6698); Spark sort_array ascending put them first
        "SELECT (list_sort([NULL, 2, -1, -1]))[4] AS c0, "
        "list_sort([NULL, 2], 'DESC') AS c1",
        # least/greatest type as DOUBLE with any decimal argument
        # (seed 6749): the ::INT then rounds half-even, not half-away
        "SELECT ((least(2.5, 3))::INT) AS c0, "
        "((greatest(0.5, 0))::INT) AS c1",
        # a parenthesized // subchain keeps its integral dispatch when it
        # starts the chain (seed 6884)
        "SELECT ((17 // 17) // 17) AS c0, (10 - (9 // 2) // 2) AS c1, "
        "(2 * (7 // 2)) AS c2, (2 * (7 // 2) // 2) AS c3",
        "SELECT (2.5)::BIGINT AS c0, TRY_CAST(3.5 AS INTEGER) AS c1, "
        "CAST(CAST(2.5 AS INT) AS BIGINT) AS c2",
        "SELECT ('7')::INTEGER + 1 AS c0, CAST(true AS INT) AS c1, "
        "TRY_CAST('x' AS INTEGER) AS c2",
    ]
    for q in battery:
        got = [tuple(r) for r in engine.sql(q).collect()]
        want = con.execute(q).fetchall()
        assert len(got) == len(want), q
        for gr, wr in zip(got, want):
            for gv, wv in zip(gr, wr):
                if gv is None or wv is None:
                    assert gv is None and wv is None, (q, gv, wv)
                elif isinstance(gv, (int, float)) and isinstance(wv, (int, float)):
                    # dynamic // dispatch renders integers through DOUBLE
                    # (residual #3) — compare numerically like the fuzzer
                    assert float(gv) == float(wv), (q, gv, wv)
                else:
                    assert str(gv) == str(wv), (q, gv, wv)
    con.close()


def test_dynamic_interval_rewrite(engine):
    """DuckDB's column-valued INTERVAL (expr) UNIT (r8 probe): Spark's
    INTERVAL quantity must be a literal, so the shim multiplies."""
    import duckdb

    con = duckdb.connect()
    battery = [
        "SELECT TIMESTAMP '1995-01-01' + INTERVAL ((k)) DAY AS ts "
        "FROM (VALUES (0), (3)) t(k) ORDER BY ts",
        "SELECT TIMESTAMP '1995-01-01' + INTERVAL (k + 1) HOUR AS ts "
        "FROM (VALUES (1), (2)) t(k) ORDER BY ts",
        "SELECT CAST(DATE '1995-06-17' - INTERVAL ((2 + 1) * 2) MONTH "
        "AS DATE) AS d",
        # fixed-literal forms stay untouched (valid in both engines)
        "SELECT TIMESTAMP '1995-01-01' + INTERVAL 2 DAY AS t",
    ]
    for q in battery:
        got = [tuple(r) for r in engine.sql(q).collect()]
        want = con.execute(q).fetchall()
        norm = lambda rows: [
            tuple(
                # date/datetime compare on full timestamp precision
                (str(v) + " 00:00:00")[:19] if hasattr(v, "year") else v
                for v in r
            )
            for r in rows
        ]
        assert len(got) == len(want), q
        for gv, wv in zip(norm(got), norm(want)):
            assert gv == wv, (q, gv, wv)
    con.close()


def test_glob_operator_matches_duckdb(engine):
    """DuckDB GLOB (full-match filename pattern: * ? [..] [!..]) →
    anchored case-sensitive RLIKE (r8 probe)."""
    import duckdb

    con = duckdb.connect()
    battery = [
        "SELECT 'main.c' GLOB '*.c' AS a, 'main.h' GLOB '*.c' AS b, "
        "'a1' GLOB 'a[0-9]' AS c",
        "SELECT 'x.z' GLOB 'x?z' AS a, 'xz' GLOB 'x?z' AS b",
        "SELECT 'abc' GLOB 'a[!xy]c' AS a, 'axc' GLOB 'a[!xy]c' AS b",
        "SELECT 'a*b' GLOB 'a[*]b' AS a, 'a.b' GLOB 'a.b' AS b, "
        "'axb' GLOB 'a.b' AS c",
        "SELECT s GLOB 'w*' AS g FROM (VALUES ('w12'), ('café'), (NULL)) "
        "t(s) ORDER BY g NULLS FIRST",
    ]
    for q in battery:
        got = [tuple(r) for r in engine.sql(q).collect()]
        want = con.execute(q).fetchall()
        assert got == want, (q, got, want)
    con.close()


def test_distinct_and_noop_in_aggregate_order_by(engine):
    """DuckDB allows ORDER BY inside any aggregate (ignored when
    order-insensitive) and DISTINCT + ORDER BY in string_agg (r8 probe);
    the ORDER BY hazards (nested subquery, string literal containing
    'ORDER BY') must stay untouched."""
    import duckdb

    con = duckdb.connect()
    battery = [
        "SELECT string_agg(DISTINCT s, ',' ORDER BY s) AS a "
        "FROM (VALUES ('b'), ('a'), ('b')) t(s)",
        "SELECT count(DISTINCT s ORDER BY s) AS a, sum(v ORDER BY s) AS b "
        "FROM (VALUES ('b', 1), ('a', 2)) t(s, v)",
        "SELECT min((SELECT 3 ORDER BY 1)) AS a",
        "SELECT max(concat(s, ' ORDER BY x')) AS a FROM (VALUES ('q')) t(s)",
        "SELECT string_agg(s, ',' ORDER BY s DESC) AS a "
        "FROM (VALUES ('b'), ('a')) t(s)",
    ]
    for q in battery:
        got = [tuple(r) for r in engine.sql(q).collect()]
        want = con.execute(q).fetchall()
        assert got == want, (q, got, want)
    con.close()


def test_r9_regexp_first_replace_position_match_duckdb(engine):
    """r9 ADVICE fixes, pinned:

    - first-match splice position comes from regexp_instr, not
      locate(match_text, s) — position-dependent patterns ('a$', '\\b')
      used to splice at the first LITERAL occurrence of the match text
      ('banana','a$','X' gave 'bXnana' instead of 'bananX');
    - the replacement is rebuilt from regexp_extract group refs instead
      of an anchored re-match on the isolated match text ('\\b[.]' can
      never re-match '.' out of context);
    - literal '$' in a replacement is RE2-literal — escaped for Java in
      both the first-only and global paths;
    - DuckDB's 'm'/'n'/'p' flags are newline-sensitivity no-ops (RE2
      default), NOT Java's (?m) line-anchor mode.
    """
    import duckdb

    con = duckdb.connect()
    battery = [
        "SELECT regexp_replace('banana', 'a$', 'X') AS c0",
        "SELECT regexp_replace('banana', '^b', 'X') AS c0",
        "SELECT regexp_replace('ban.ana', '\\b[.]', 'X') AS c0",
        "SELECT regexp_replace('banana', '\\Aban', 'X') AS c0",
        "SELECT regexp_replace('banana', 'na\\z', 'X') AS c0",
        "SELECT regexp_replace('ana banana', '\\bana\\b', 'X') AS c0",
        "SELECT regexp_replace('xaxa', 'a', 'B') AS c0",
        "SELECT regexp_replace('xy', 'x*', '_') AS c0",
        "SELECT regexp_replace('yx', 'x*', '_') AS c0",
        "SELECT regexp_replace('banana', '(a)(x?)n', '[\\2\\1]') AS c0",
        "SELECT regexp_replace('banana', '(b)(\\w)', '<\\2\\1>') AS c0",
        "SELECT regexp_replace('cost 5', '(\\d)', '$\\1') AS c0",
        "SELECT regexp_replace('a$b', '\\$', 'X') AS c0",
        "SELECT regexp_replace('cost 5', '(\\d)', '$\\1', 'g') AS c0",
        "SELECT regexp_replace('ab'||chr(10)||'cd', '^c', 'X', 'm') AS c0",
        "SELECT regexp_replace('ab'||chr(10)||'cd', 'b.c', 'X', 's') AS c0",
        "SELECT regexp_replace('Banana', 'b.n', 'X', 'in') AS c0",
        "SELECT regexp_matches('ab'||chr(10)||'cd', '^c', 'm') AS c0",
        "SELECT regexp_replace(s, 'a$', '<END>') AS c0 "
        "FROM (VALUES ('banana'), ('ab'), ('b')) t(s) ORDER BY s",
        "SELECT regexp_replace(NULL, 'a', 'X') AS c0",
    ]
    for q in battery:
        got = [tuple(r) for r in engine.sql(q).collect()]
        want = con.execute(q).fetchall()
        assert len(got) == len(want), q
        for gr, wr in zip(got, want):
            for gv, wv in zip(gr, wr):
                if gv is None or wv is None:
                    assert gv is None and wv is None, (q, gv, wv)
                else:
                    assert str(gv) == str(wv), (q, gv, wv)
    con.close()


def test_r9_unquote_function_names_dollar_quote_aware(engine):
    """r9 ADVICE: _unquote_function_names ran its double-quote unquoting
    INSIDE dollar-quoted strings — $$he said "ok" loudly$$ silently lost
    its quotes.  The lexer now carries a dollar-quote state like
    strip_comments does."""
    import duckdb

    con = duckdb.connect()
    battery = [
        'SELECT $$he said "ok" loudly$$ AS c0',
        'SELECT $tag$a "b" c$tag$ AS c0',
        "SELECT $$it's \"x\"$$ AS c0, 'y' AS c1",
    ]
    for q in battery:
        got = [tuple(r) for r in engine.sql(q).collect()]
        want = con.execute(q).fetchall()
        assert got == want, (q, got, want)
    con.close()


def test_create_view_maps_to_temporary_view():
    """DuckDB session views over registered (temp-view) tables: Spark
    forbids persistent views over temp objects, so CREATE [OR REPLACE]
    VIEW maps to a TEMPORARY view with the same single-session lifetime
    (r10).  TEMP/TEMPORARY spellings pass through."""
    assert (
        rewrite_duckdb_dialect("CREATE VIEW v1 AS SELECT 1 AS x")
        == "CREATE TEMPORARY VIEW v1 AS SELECT 1 AS x"
    )
    assert (
        rewrite_duckdb_dialect("CREATE OR REPLACE VIEW v1 AS SELECT 1")
        == "CREATE OR REPLACE TEMPORARY VIEW v1 AS SELECT 1"
    )
    assert (
        rewrite_duckdb_dialect("CREATE TEMP VIEW v1 AS SELECT 1")
        == "CREATE TEMP VIEW v1 AS SELECT 1"
    )


def test_flatten_drops_null_sublists():
    """DuckDB flatten drops NULL sub-lists (probed r10); Spark's returns
    NULL on any NULL element, so the macro filters first, and leaves an
    argument already in that shape alone."""
    out = rewrite_duckdb_dialect("SELECT flatten(ll) FROM t")
    assert out == (
        "SELECT flatten(filter((ll), __fl -> __fl IS NOT NULL)) FROM t"
    )
    # rewriting the output again is a no-op
    assert rewrite_duckdb_dialect(out) == out


def test_code_mask_memo_hands_out_copies():
    """The code mask is memoized by text, and each caller gets its own
    copy: a caller that marks spans non-code must not change the mask
    the next caller sees."""
    from parquet_query_spark.workbench.dialect_core import _code_mask

    sql = "SELECT 'a;b' AS s, x -- note\nFROM t"
    first = _code_mask(sql)
    expected = list(first)
    first[:] = [False] * len(first)
    again = _code_mask(sql)
    assert again == expected
    assert again is not first
    assert again[sql.index("x")] and not again[sql.index(";")]


# ── the shared lexer (dialect_core._lex) and its bracket table ──────────


def _spans(sql):
    from parquet_query_spark.workbench.dialect_core import _lex

    return [(kind, sql[s:e]) for kind, s, e in _lex(sql)]


def test_lex_token_kinds():
    sql = "SELECT 'a', \"b\", `c`, $$d$$ -- e\n/* f */ x"
    assert _spans(sql) == [
        ("code", "SELECT "),
        ("'", "'a'"),
        ("code", ", "),
        ('"', '"b"'),
        ("code", ", "),
        ("`", "`c`"),
        ("code", ", "),
        ("$", "$$d$$"),
        ("code", " "),
        ("comment", "-- e"),
        ("code", "\n"),  # a line comment's newline is code
        ("comment", "/* f */"),
        ("code", " x"),
    ]


def test_lex_doubled_delimiters_escape_in_every_quote_kind():
    for token in ("'it''s'", '"a""b"', "`a``b`", "''", '""', "``"):
        sql = f"x {token} y"
        assert _spans(sql) == [("code", "x "), (token[0], token), ("code", " y")]
    # a doubled quote at the very end is an escape, not a close
    assert _spans("'a''b''") == [("'", "'a''b''")]


def test_lex_dollar_strings_and_dollar_parameters():
    from parquet_query_spark.workbench.dialect_core import _code_mask

    sql = "SELECT $$it's -- x$$, $t$a $$ 'b$t$, $1, $name, $n$ + 1"
    assert [t for t in _spans(sql) if t[0] != "code"] == [
        ("$", "$$it's -- x$$"),
        ("$", "$t$a $$ 'b$t$"),  # only its own tag closes it
    ]
    mask = _code_mask(sql)
    for param in ("$1", "$name"):
        i = sql.index(param)
        assert all(mask[i : i + len(param)]), param
    # an unclosed $tag$ is code, not a string to the end of the text
    assert all(mask[sql.index("$n$") :])


def test_lex_unterminated_forms_run_to_end():
    for text in ("'abc", "'ab''", '"abc', "`abc", "/* abc", "-- abc"):
        kind = "comment" if text[0] in "-/" else text[0]
        assert _spans("x " + text) == [("code", "x "), (kind, text)], text
    # except a dollar string: an unclosed $tag$ is code, so a quote after
    # it opens a plain string
    assert _spans("SELECT $$it's") == [("code", "SELECT $$it"), ("'", "'s")]


def test_brackets_depth_and_matching():
    from parquet_query_spark.workbench.dialect_core import _brackets

    sql = "f(a[1], {'k': ')'})"
    table = _brackets(sql)
    assert table.match == {1: 18, 18: 1, 3: 5, 5: 3, 8: 17, 17: 8}
    assert table.depth[sql.index("a")] == 1
    assert table.depth[sql.index("1")] == 2
    assert table.depth[sql.index("k")] == 2  # inside the string, no count
    assert table.depth[1] == table.depth[18] == 0  # a closer carries its opener's
    assert table.depth[len(sql)] == 0
    # an unbalanced closer pairs with nothing and takes the depth below
    # zero; a closer pairs with the innermost open bracket of any kind
    sql = "a) (b] [c"
    table = _brackets(sql)
    assert table.match == {3: 5, 5: 3}
    assert list(table.depth) == [0, -1, -1, -1, 0, -1, -1, -1, 0, 0]


def test_lex_views():
    from parquet_query_spark.workbench.dialect_core import (
        _split_top,
        _unquote_function_names,
    )
    from parquet_query_spark.workbench.dialect_typing import (
        _rewrite_dollar_strings,
        _rewrite_literal_backslashes,
    )
    from parquet_query_spark.workbench.statements import rewrite_path_tables

    assert _rewrite_dollar_strings("SELECT $t$it's$t$, '$$'") == "SELECT 'it''s', '$$'"
    assert _rewrite_literal_backslashes("SELECT '\\d', `\\x`") == "SELECT '\\\\d', `\\x`"
    # an escaped identifier keeps its quotes; a plain lowercase one loses them
    assert _unquote_function_names('SELECT "we""ird", "k"') == 'SELECT "we""ird", k'
    assert _split_top("a, f(b, c), [d, e], {'f': g}, 'h,i'") == [
        "a", " f(b, c)", " [d, e]", " {'f': g}", " 'h,i'"
    ]
    # the path rewrite reads a string only after FROM/JOIN code; a quote
    # inside a backtick identifier or a dollar string does not hide it
    for sql in (
        "SELECT 1 AS `it's` FROM 'r.parquet'",
        "SELECT $$it's$$ FROM 'r.parquet'",
    ):
        assert rewrite_path_tables(sql, "/d").endswith("FROM parquet.`/d/r.parquet`"), sql
    assert rewrite_path_tables("SELECT 'r.parquet' FROM t", "/d") == "SELECT 'r.parquet' FROM t"


def test_dollar_string_quote_keeps_order_by_all_tail(engine):
    """A quote inside ``$$…$$`` read as an open string hid the trailing
    ORDER BY ALL from ``Engine._order_by_all_tail``, so Spark's NULLS
    FIRST applied: ``['', '1', '2']`` where DuckDB returns 1, 2, NULL."""
    import duckdb

    from parquet_query_spark.workbench.formatting import format_cell

    con = duckdb.connect()
    for lit in ("$$it's$$", "'it''s'"):
        q = f"SELECT x FROM (VALUES (2), (NULL), (1)) t(x) WHERE {lit} <> '' ORDER BY ALL"
        want = [[format_cell(v) for v in row] for row in con.execute(q).fetchall()]
        assert want == [["1"], ["2"], [""]]
        assert engine.run(q).rows == want, lit
    con.close()


def test_backtick_quote_keeps_path_literal(engine):
    """The path rewrite read the quote of a backtick identifier as an
    open string, so ``'region.parquet'`` after it stayed unrewritten and
    Spark raised ParseException."""
    for alias in ("`it's`", "`its`"):
        r = engine.run(f"SELECT 1 AS {alias} FROM 'region.parquet'")
        assert r.columns == [alias.strip("`")]
        assert r.rows == [["1"]] * 5


# ── the call-site walker (dialect_core._rewrite_calls) ──────────────────


def test_nested_datetime_formats_match_duckdb(engine):
    """An inner strftime/strptime is rewritten before the call around it
    splits its arguments.  A pass that split the original text and
    spliced into the rewritten one left ``…'dd/MM')/%m')``."""
    import duckdb

    con = duckdb.connect()
    for q in (
        "SELECT strftime(CAST(strftime(DATE '2024-01-02', '%Y-%m-%d') AS DATE), '%d/%m') AS s",
        "SELECT strptime(strptime('2024', '%Y')::VARCHAR, '%Y-%m-%d %H:%M:%S') AS t",
    ):
        _assert_duckdb_rows(engine, con, q)
    con.close()


def test_every_macro_call_expands(engine):
    """65 macro calls in one statement all expand: a 64-splice cap left
    the leftmost ``log(100)`` as Spark's natural log (4.605, DuckDB's
    log10 is 2).  ``avg(DISTINCT x)`` re-expanded its own output until
    that cap and starved the ``log`` beside it the same way."""
    isinf = ", ".join(f"isinf({i}.0) AS c{i}" for i in range(64))
    assert engine.sql(f"SELECT log(100) AS l, {isinf}").collect()[0]["l"] == 2.0
    row = engine.sql(
        "SELECT log(100) AS l, avg(DISTINCT x) AS a FROM (VALUES (1), (2), (2)) t(x)"
    ).collect()[0]
    assert (row["l"], row["a"]) == (2.0, 1.5)


def test_round_inside_a_double_cast_matches_duckdb(engine):
    """The ducktype pass read a call already inside ``CAST(… AS DOUBLE)``
    as its own emission and skipped it, so ``avg``'s argument cast hid
    ``round`` from DuckDB's binary rounding: 1023.205 where DuckDB
    answers 1023.2.  A user-written cast hid it the same way."""
    import duckdb

    con = duckdb.connect()
    for q in (
        "SELECT avg(round(x, 2)) AS a FROM (VALUES (2045.395::DOUBLE), (1.005::DOUBLE)) t(x)",
        "SELECT CAST(round(x, 2) AS DOUBLE) AS a FROM (VALUES (1.005::DOUBLE)) t(x)",
        "SELECT CAST(round(2.5, 1) AS DOUBLE)::INT AS a",
        "SELECT avg(floor(x)) AS a FROM (VALUES (1.5), (2.5)) t(x)",
    ):
        _assert_duckdb_rows(engine, con, q)
    con.close()


def test_macro_expansions_need_no_second_walk():
    """A handler's output is never walked again, so a macro whose
    expansion uses another macro's DuckDB reading (list_unique's
    NULL-dropping distinct, list_concat's NULL-skipping flatten, ...)
    calls that handler itself: walking an expansion once more changes
    nothing.  The sample moments are the exception by design: their
    correction wraps Spark's population function of the same name."""
    from parquet_query_spark.workbench.dialect_macros import (
        _FN_MACROS,
        _rewrite_fn_macros,
    )

    shapes = ("a", "a, b", "a, b, c", "x ORDER BY y", "DISTINCT a", "NULL", "1.5, 2")
    for name in _FN_MACROS.keys() - {"skewness", "kurtosis"}:
        for shape in shapes:
            once = _rewrite_fn_macros(f"SELECT {name}({shape})")
            assert _rewrite_fn_macros(once) == once, (name, shape)


def test_macros_that_call_macros_match_duckdb(engine):
    """NULL inputs for the expansions that reuse another macro's reading,
    and macros inside a lambda and a comprehension."""
    import duckdb

    con = duckdb.connect()
    for q in (
        "SELECT list_unique([1, 1, NULL]) AS u",
        "SELECT parse_path('/a//b') AS p",
        "SELECT list_concat([1, NULL], [2]) AS c",
        "SELECT list_transform([1.0, 'inf'::DOUBLE], x -> isinf(x)) AS t",
        "SELECT [isinf(x) FOR x IN [1.0, 'inf'::DOUBLE]] AS t",
    ):
        _assert_duckdb_rows(engine, con, q)
    con.close()


# ── the operator walker (dialect_core._rewrite_operators) ───────────────


def test_operands_with_window_filter_and_case_tails_match_duckdb(engine):
    """Operands the operator passes could not read: a window or FILTER
    tail on the left, a CASE or a subquery on either side.  Each raised a
    parse error (``sum(x) OVER power((), 2)``; the ``||`` chain took the
    bare word ``CASE``)."""
    import duckdb

    con = duckdb.connect()
    t = " FROM (VALUES (1), (2)) t(x)"
    for q in (
        "SELECT sum(x) OVER () ^ 2 AS v" + t,
        "SELECT count(*) FILTER (WHERE x > 1) ^ 2 AS v" + t,
        "SELECT string_agg(x::VARCHAR, ',') OVER () SIMILAR TO '1,2' AS v" + t,
        "SELECT 7 / CASE WHEN true THEN 2 END AS a, 7 % CASE WHEN true THEN 2 END AS b, "
        "7 // CASE WHEN true THEN 2 END AS c",
        "SELECT (SELECT 7) // 2 AS v",
        """SELECT CASE WHEN true THEN '{"a":1}' END ->> 'a' AS v""",
        "SELECT CASE WHEN true THEN 'ab' END ^@ 'a' AS v",
        "SELECT [1] || [2] || CASE WHEN true THEN NULL::INT[] END AS v",
    ):
        _assert_duckdb_rows(engine, con, q)
    con.close()


def test_operator_precedence_silent_answers_match_duckdb(engine):
    """A CASE operand was left outside the rewrite: ``^`` stayed Spark's
    XOR (0 where DuckDB gives 4.0) and ``//`` truncated 7.5 // 2 to 3
    (DuckDB 3.75).  A ``||`` chain before GLOB, ``~`` or ``^@`` is their
    left operand in DuckDB; only SIMILAR TO took it, so each returned
    the string 'abfalse'."""
    import duckdb

    con = duckdb.connect()
    for q in (
        "SELECT CASE WHEN true THEN 2 END ^ 2 AS v",
        "SELECT CASE WHEN true THEN 7.5 END // 2 AS v",
        "SELECT 'ab' || 'c' GLOB 'ab*' AS a, 'ab' || 'c' ~ 'abc' AS b, "
        "'ab' || 'c' ^@ 'ab' AS c",
    ):
        _assert_duckdb_rows(engine, con, q)
    con.close()


def test_division_of_a_case_by_zero_is_null(engine):
    """DuckDB's NULL on a zero divisor: a CASE dividend was left to
    Spark's ANSI division, which raised DIVIDE_BY_ZERO and
    REMAINDER_BY_ZERO."""
    import duckdb

    con = duckdb.connect()
    case = "CASE WHEN true THEN 7 END"
    _assert_duckdb_rows(
        engine,
        con,
        f"SELECT {case} / 0 AS a, {case} % 0 AS b, {case} // 0 AS c, 2 * {case} / 0 AS d",
    )
    con.close()


def test_no_operator_site_is_left_at_a_cap(engine):
    """Every occurrence in one statement is rewritten: the 101st
    ``x.upper()``, the 401st ``x::INT`` and ``CAST(x AS INT)`` (2 where
    DuckDB rounds 2.5 to 3), the 501st ``x / 0``, and the 51st windowed
    FILTER and DISTINCT aggregate each stopped at a loop's cap."""
    import duckdb

    con = duckdb.connect()
    cols = lambda n, expr: ", ".join(f"{expr} AS c{i}" for i in range(n))  # noqa: E731
    for q in (
        f"SELECT {cols(101, 'x.upper()')} FROM (VALUES ('a')) t(x)",
        f"SELECT {cols(401, 'x::INT')} FROM (VALUES (2.5)) t(x)",
        f"SELECT {cols(401, 'CAST(x AS INT)')} FROM (VALUES (2.5)) t(x)",
        f"SELECT {cols(501, 'x / 0')} FROM (VALUES (1)) t(x)",
        f"SELECT {cols(51, 'count(*) FILTER (WHERE x > 1) OVER ()')} FROM (VALUES (1), (2)) t(x)",
        f"SELECT {cols(51, 'count(DISTINCT x) OVER ()')} FROM (VALUES (1), (2), (2)) t(x)",
    ):
        _assert_duckdb_rows(engine, con, q)
    con.close()


_NUMERIC_OPS = ("^", "**", "*", "/", "%", "//", "+", "-")


def test_numeric_operator_precedence_matches_duckdb(engine):
    """The 64 expressions ``7 op1 3 op2 2``: the precedence table's
    arithmetic levels, in one statement."""
    import duckdb

    con = duckdb.connect()
    cols = [
        f"7 {a} 3 {b} 2 AS c{i}"
        for i, (a, b) in enumerate((a, b) for a in _NUMERIC_OPS for b in _NUMERIC_OPS)
    ]
    assert len(cols) == 64
    _assert_duckdb_rows(engine, con, "SELECT " + ", ".join(cols))
    con.close()


# One left operand of each shape, and the relation it is read from.
_OPERAND_SHAPES = {
    "literal": ("7", ""),
    "column": ("x", " FROM (VALUES (7)) t(x)"),
    "call": ("abs(-7)", ""),
    "group": ("(3 + 4)", ""),
    "subquery": ("(SELECT 7)", ""),
    "case": ("CASE WHEN x > 0 THEN 7 END", " FROM (VALUES (7)) t(x)"),
    "window": ("sum(x) OVER ()", " FROM (VALUES (3), (4)) t(x)"),
    "filter": ("count(*) FILTER (WHERE x > 0)", " FROM (VALUES (7), (-1)) t(x)"),
    "cast": ("x::BIGINT", " FROM (VALUES (7)) t(x)"),
    "subscript": ("[7, 8][1]", ""),
}


@pytest.mark.parametrize("shape", sorted(_OPERAND_SHAPES))
def test_operand_shapes_match_duckdb(engine, shape):
    """Each operand shape beside every arithmetic operator, on the left
    and on the right."""
    import duckdb

    con = duckdb.connect()
    operand, rel = _OPERAND_SHAPES[shape]
    cols = [f"{operand} {op} 2 AS l{i}, 100 {op} {operand} AS r{i}" for i, op in enumerate(_NUMERIC_OPS)]
    _assert_duckdb_rows(engine, con, "SELECT " + ", ".join(cols) + rel)
    con.close()


def test_string_operator_pairs_match_duckdb(engine):
    """``|| ~ ^@ ->>`` share one level and bind tighter than GLOB and
    SIMILAR TO."""
    import duckdb

    con = duckdb.connect()
    j = """'{"a": "b"}'"""
    exprs = [
        "'ab' || 'c' GLOB 'ab*'",
        "'ab' || 'c' SIMILAR TO 'ab.'",
        "'ab' || 'c' ~ 'abc'",
        "'ab' || 'c' ^@ 'ab'",
        "'ab' || 'c' || 'd' ~ 'abcd'",
        "'abc' SIMILAR TO 'a' || '.c'",
        f"{j} ->> 'a' || 'y'",
        f"{j} ->> 'a' GLOB 'b'",
        f"{j} ->> 'a' SIMILAR TO 'b'",
        f"{j} ->> 'a' ~ 'b'",
        f"{j} ->> 'a' ^@ 'b'",
        f"""'{{"a": {{"c": "d"}}}}' -> 'a' ->> 'c'""",
    ]
    cols = ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    _assert_duckdb_rows(engine, con, "SELECT " + cols)
    con.close()


def test_string_slice_of_a_json_arrow_matches_duckdb(engine):
    """``->>`` always yields VARCHAR, so its subscript takes the string
    reading in the primary text, with no retried analysis.  A literal
    base raised UNEXPECTED_INPUT_TYPE on ``slice(get_json_object(..))``."""
    import duckdb

    con = duckdb.connect()
    for q in (
        """SELECT ('{"a": "hello"}' ->> 'a')[2:3] AS v""",
        """SELECT (j ->> 'a')[2:3] AS v FROM (VALUES ('{"a": "hello"}')) t(j)""",
    ):
        assert "substr(" in rewrite_duckdb_dialect(q), q
        _assert_duckdb_rows(engine, con, q)
    con.close()
