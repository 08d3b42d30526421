"""Pins for the KNOWN INTENTIONAL DIFFERENCES list in the dialect
module docstring (VERDICT r7 #7).

Each test pins the ENGINE's current behavior for a documented residual —
not DuckDB parity — so any silent behavior change (or a fix that removes
the residual) surfaces here and the docstring list stays truthful.
fuzz_dialect.py divergences are triaged against this list.
"""

import duckdb
import pytest

from parquet_query_spark.engine import Engine
from parquet_query_spark.workbench.dialect import rewrite_duckdb_dialect


@pytest.fixture(scope="module")
def engine(sf_dir):
    return Engine.open(sf_dir)


def test_residual_1_order_by_all_resolved_nulls_last(engine):
    """#1 RESOLVED (r8): a top-level trailing ORDER BY ALL is applied
    engine-side over the resolved schema with DuckDB's NULLS LAST
    default — both directions now match DuckDB."""
    q = "SELECT x FROM (VALUES (2), (NULL), (1)) t(x) ORDER BY ALL"
    got = [r[0] for r in engine.sql(q).collect()]
    want = [r[0] for r in duckdb.connect().execute(q).fetchall()]
    assert got == want == [1, 2, None]
    q2 = "SELECT x FROM (VALUES (2), (NULL), (1)) t(x) ORDER BY ALL DESC"
    got2 = [r[0] for r in engine.sql(q2).collect()]
    want2 = [r[0] for r in duckdb.connect().execute(q2).fetchall()]
    assert got2 == want2 == [2, 1, None]


def test_residual_2_intdiv_beyond_2_53_rounds(engine):
    """#2: integer // routes through try_divide (double), so results
    beyond 2^53 round; DuckDB stays exact."""
    q = "SELECT 9007199254740993 // 1 AS v"
    got = engine.sql(q).collect()[0][0]
    assert got == 9007199254740992.0  # one ulp below the exact answer
    want = duckdb.connect().execute(q).fetchone()[0]
    assert want == 9007199254740993


def test_residual_3_intdiv_across_subquery_boundary(engine):
    """#3: only same-expression // chains dispatch atomically; across a
    subquery alias the intermediate is DOUBLE, so the outer // divides
    plainly (DuckDB truncates both stages)."""
    q = "SELECT v // 2 AS w FROM (SELECT 7 // 1 AS v)"
    got = engine.sql(q).collect()[0][0]
    assert got == 3.5  # plain division of the double intermediate
    want = duckdb.connect().execute(q).fetchone()[0]
    assert want == 3
    # the same chain WITHOUT the boundary matches DuckDB exactly
    flat = "SELECT 7 // 1 // 2 AS w"
    assert float(engine.sql(flat).collect()[0][0]) == float(
        duckdb.connect().execute(flat).fetchone()[0]
    )


def test_residual_4_interval_division_rejected(engine):
    """#4: INTERVAL / n fails analysis (DOUBLE dividend cast) instead of
    scaling the interval like DuckDB."""
    with pytest.raises(Exception):
        engine.sql("SELECT INTERVAL '2' DAY / 2 AS v").collect()
    assert (
        duckdb.connect().execute("SELECT INTERVAL '2' DAY / 2").fetchone()[0]
        is not None
    )


def test_residual_5_concat_list_arguments(engine):
    """#5: concat over LIST arguments joins elements (concat_ws) where
    DuckDB stringifies the list."""
    got = engine.sql("SELECT concat(array(1, 2), 'x') AS v").collect()[0][0]
    assert got == "12x"
    want = duckdb.connect().execute("SELECT concat([1, 2], 'x')").fetchone()[0]
    assert want == "[1, 2]x"


def test_residual_6_sum_bigint_overflow_raises(engine):
    """#6: SUM overflowing int64 raises under ANSI; DuckDB promotes to
    HUGEINT."""
    q = (
        "SELECT sum(x) AS s FROM (VALUES (9223372036854775807), (1)) t(x)"
    )
    with pytest.raises(Exception):
        engine.sql(q).collect()
    assert duckdb.connect().execute(q).fetchone()[0] == 9223372036854775808


def test_residual_7_sample_rng_and_alias(engine):
    """#7: ROWS sampling honors the count but draws its own RNG stream;
    an aliased ref is left untranslated so the error surfaces."""
    r = engine.sql(
        "SELECT count(*) AS n FROM (SELECT * FROM 'orders.parquet' USING SAMPLE 25 ROWS)"
    ).collect()
    assert r[0][0] == 25
    sql = "SELECT * FROM t x USING SAMPLE 5"
    assert rewrite_duckdb_dialect(sql) == sql  # untranslated → Spark error


def test_residual_8_asof_unsupported_raises():
    """#8: unsupported ASOF shapes raise AsofRewriteError (error over
    wrong results)."""
    from parquet_query_spark.workbench.dialect_core import AsofRewriteError

    with pytest.raises(AsofRewriteError):
        rewrite_duckdb_dialect(
            "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.ts IS NOT DISTINCT FROM b.ts"
        )


def test_residual_9_ubigint_negation_stays_signed(engine):
    """#9: DuckDB negates unsigned counts with UBIGINT wraparound
    (fuzz r8 seed 259); Spark counts are signed BIGINT."""
    q = "SELECT (- list_unique([-1, 9, -1])) AS v"
    assert engine.sql(q).collect()[0][0] == -2
    assert duckdb.connect().execute(q).fetchone()[0] == 18446744073709551614


def test_residual_10_hash_is_murmur3_not_duckdb(engine):
    """#10: hash() is Spark Murmur3 (32-bit), DuckDB's is its own
    64-bit mix — both opaque, values differ by design."""
    got = engine.sql("SELECT hash('abc') AS v").collect()[0][0]
    want = duckdb.connect().execute("SELECT hash('abc')").fetchone()[0]
    assert got == 1322437556
    assert want == 14846292297954449589
    # strip_accents is EXACT as of r9 (full-Unicode NFD-drop-marks UDF):
    # Latin-1, Greek, and kana dakuten all fold like DuckDB's
    got2 = engine.sql(
        "SELECT strip_accents('café') AS a, strip_accents('Ωμέγα') AS b, "
        "strip_accents('日本で') AS c"
    ).collect()[0]
    assert (got2[0], got2[1], got2[2]) == ("cafe", "Ωμεγα", "日本て")


def test_residual_11_zero_width_global_replace(engine):
    """#11: Java replaces the empty match adjacent to a previous match,
    RE2 skips it (fuzz r8 seed 12654)."""
    q = "SELECT regexp_replace('xy', 'x*', '_', 'g') AS v"
    assert engine.sql(q).collect()[0][0] == "__y_"
    assert duckdb.connect().execute(q).fetchone()[0] == "_y_"
    # non-empty matches agree
    q2 = "SELECT regexp_replace('xaxa', 'a', 'B', 'g') AS v"
    assert engine.sql(q2).collect()[0][0] == "xBxB"
    assert duckdb.connect().execute(q2).fetchone()[0] == "xBxB"


def test_residual_12_intdiv_in_string_context_renders_double(engine):
    """#12: the ``//`` dispatch surfaces DOUBLE in both branches (the
    cell formatter renders whole doubles like DuckDB's INTEGER at the
    result boundary), but a ``//`` embedded directly in a string
    context — ``'x' || a // b`` — stringifies mid-query, so Spark
    renders '7.0' where DuckDB prints '7'.  Numeric use is unaffected."""
    q = "SELECT ('x' || 35 // 5) AS v"
    assert engine.sql(q).collect()[0][0] == "x7.0"
    assert duckdb.connect().execute(q).fetchone()[0] == "x7"


def test_residual_13_distance_fns_count_codepoints(engine):
    """#13: levenshtein/jaccard count codepoints (Spark builtins) where
    DuckDB counts UTF-8 bytes — divergent only for non-ASCII input; the
    registered damerau_levenshtein/jaro* UDFs are byte-exact."""
    q = "SELECT levenshtein('café', 'cafe') AS v"
    assert engine.sql(q).collect()[0][0] == 1
    assert duckdb.connect().execute(q).fetchone()[0] == 2
    # ASCII agrees
    q2 = "SELECT levenshtein('kitten', 'sitting') AS v"
    assert engine.sql(q2).collect()[0][0] == 3
    assert duckdb.connect().execute(q2).fetchone()[0] == 3
    # the byte-exact registered UDF matches DuckDB even on non-ASCII
    q3 = "SELECT damerau_levenshtein('café', 'cafe') AS v"
    assert engine.sql(q3).collect()[0][0] == 2
    assert duckdb.connect().execute(q3).fetchone()[0] == 2


def test_residual_12b_intdiv_in_array_to_string(engine):
    """#12 (lambda form, fuzz r8 seed 31255): a // inside a transform
    lambda stringified by array_to_string renders via DOUBLE."""
    q = "SELECT array_to_string(list_transform([7, 9], x -> x // 2), ',') AS v"
    assert engine.sql(q).collect()[0][0] == "3.0,4.0"
    assert duckdb.connect().execute(q).fetchone()[0] == "3,4"


def test_lcm_null_propagates_before_zero_rule(engine):
    """lcm(0, NULL) is NULL in DuckDB, not 0 (fuzz r8 seed 31308)."""
    q = "SELECT lcm(0, CAST(NULL AS BIGINT)) AS a, lcm(5, CAST(NULL AS BIGINT)) AS b, lcm(0, 5) AS c"
    assert [tuple(r) for r in engine.sql(q).collect()] == [(None, None, 0)]
    assert duckdb.connect().execute(q).fetchall() == [(None, None, 0)]


def test_residual_14_macro_named_arg_case(engine):
    """#14: named macro args bind case-insensitively here; DuckDB binds
    by the exact definition spelling and SILENTLY IGNORES a mismatched-
    case named argument, keeping the default (probed; r8 statement-fuzz
    seeds 668/776/969)."""
    engine.sql("CREATE OR REPLACE MACRO res14(a, b := 1) AS (a * b)")
    try:
        assert engine.sql("SELECT res14(5, B := 3) AS v").collect()[0][0] == 15
        con = duckdb.connect()
        con.execute("CREATE MACRO res14(a, b := 1) AS (a * b)")
        assert con.execute("SELECT res14(5, B := 3) AS v").fetchone()[0] == 5
        # exact-case agrees on both engines
        assert engine.sql("SELECT res14(5, b := 3) AS v").collect()[0][0] == 15
        assert con.execute("SELECT res14(5, b := 3) AS v").fetchone()[0] == 15
        con.close()
    finally:
        engine.sql("DROP MACRO res14")


def test_macro_lambda_var_shadows_parameter(engine):
    """A lambda variable with the same name as a macro parameter SHADOWS
    it inside the lambda (DuckDB scoping) — textual substitution must not
    fire there (r8 statement-fuzz seed 796 produced `expr -> ...`)."""
    engine.sql(
        "CREATE OR REPLACE MACRO shmac(x) AS "
        "(len(list_transform([0, 0, 9], x -> greatest(x, 2))) + x)"
    )
    try:
        q = "SELECT shmac(10) AS v"
        got = engine.sql(q).collect()[0][0]
        con = duckdb.connect()
        con.execute(
            "CREATE MACRO shmac(x) AS "
            "(len(list_transform([0, 0, 9], x -> greatest(x, 2))) + x)"
        )
        assert got == con.execute(q).fetchone()[0] == 13
        con.close()
    finally:
        engine.sql("DROP MACRO shmac")


def test_drop_macro_table_keyword(engine):
    """DuckDB drops table macros via DROP MACRO TABLE name; the engine
    accepts the keyword (unified namespace — r8 statement-fuzz finding:
    the old pattern parsed TABLE as the macro name)."""
    engine.sql(
        "CREATE OR REPLACE MACRO tmac_r8(lim) AS TABLE "
        "SELECT 1 AS k LIMIT lim"
    )
    assert engine.sql("SELECT * FROM tmac_r8(1)").collect()[0][0] == 1
    engine.sql("DROP MACRO TABLE tmac_r8")
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.sql("SELECT * FROM tmac_r8(1)").collect()


def test_columns_lambda_predicate_goes_through_dialect(engine):
    """The COLUMNS(c -> pred) predicate is DuckDB-dialect text (SIMILAR
    TO, ~, ^@ ...) and must pass through the shim before Spark parses it
    (r8 statement-fuzz seeds 2447/2484)."""
    q = "SELECT max(COLUMNS(c -> c SIMILAR TO '.*key')) FROM (SELECT 1 AS akey, 2 AS bkey, 'x' AS name) t"
    got = [tuple(r) for r in engine.sql(q).collect()]
    con = duckdb.connect()
    want = con.execute(q).fetchall()
    assert got == want == [(1, 2)]
    q2 = "SELECT count(COLUMNS(c -> c ^@ 'a')) FROM (SELECT 1 AS akey, 2 AS bkey) t"
    assert [tuple(r) for r in engine.sql(q2).collect()] == con.execute(q2).fetchall()
    con.close()


def test_pivot_drops_null_keys(engine):
    """DuckDB PIVOT creates no column for NULL pivot keys; Spark's pivot
    would synthesize a `null` column (r8 statement-fuzz over the
    NULL-rich table)."""
    q = ("PIVOT (SELECT p, v FROM (VALUES ('a', 1), (NULL, 2), ('b', 3), "
         "('a', 5)) t(p, v)) ON p USING sum(v)")
    df = engine.sql(q)
    got_cols = [c.lower() for c in df.columns]
    con = duckdb.connect()
    want = con.execute(q)
    want_cols = [c[0].lower() for c in want.description]
    assert sorted(got_cols) == sorted(want_cols) == ["a", "b"]
    got = dict(zip(got_cols, df.collect()[0]))
    wantrow = dict(zip(want_cols, want.fetchall()[0]))
    assert got == wantrow == {"a": 6, "b": 3}
    con.close()


def test_unpivot_name_labels_use_catalog_case(engine):
    """DuckDB's UNPIVOT NAME column holds the catalog spelling of each
    source column, not the case the query happened to write (r8
    statement-fuzz seed 3400: ON C_ACCTBAL must still label
    'c_acctbal')."""
    q = ("UNPIVOT (SELECT 1 AS k, 2 AS aa, 3 AS bb) "
         "ON AA, bb INTO NAME m VALUE v ORDER BY m")
    got = [tuple(r) for r in engine.sql(q).collect()]
    con = duckdb.connect()
    want = con.execute(q).fetchall()
    assert got == want == [(1, "aa", 2), (1, "bb", 3)]
    con.close()


def test_macro_comprehension_var_shadows_parameter(engine):
    """A list-comprehension variable shadows a same-named macro parameter
    in the expression and IF predicate, but NOT in the iterated source
    list (outer scope) — r8 statement-fuzz seed 4223."""
    engine.sql(
        "CREATE OR REPLACE MACRO cmac(x) AS "
        "(array_length([abs(x) FOR x IN [-4, 9, 9] IF x % 2 = 0]) + x)"
    )
    try:
        got = engine.sql("SELECT cmac(100) AS v").collect()[0][0]
        con = duckdb.connect()
        con.execute(
            "CREATE MACRO cmac(x) AS "
            "(array_length([abs(x) FOR x IN [-4, 9, 9] IF x % 2 = 0]) + x)"
        )
        assert got == con.execute("SELECT cmac(100) AS v").fetchone()[0] == 101
        con.close()
    finally:
        engine.sql("DROP MACRO cmac")


def test_residual_15_lateral_empty_aggregate(engine):
    """#15: a comma-LATERAL ungrouped aggregate over empty correlated
    input keeps the outer row with a NULL aggregate here (SQL standard /
    Postgres); DuckDB's decorrelation drops the outer row (the COUNT
    bug).  Probed r8 (fuzz wave 31)."""
    q = ("SELECT t.x, l.v FROM (VALUES (1), (20)) t(x), "
         "LATERAL (SELECT max(y) AS v FROM (VALUES (10)) s(y) "
         "WHERE y < t.x) l ORDER BY x")
    got = [tuple(r) for r in engine.sql(q).collect()]
    assert got == [(1, None), (20, 10)]
    con = duckdb.connect()
    assert con.execute(q).fetchall() == [(20, 10)]  # DuckDB drops row 1
    con.close()
    # non-empty correlated input agrees on both engines
    q2 = ("SELECT t.x, l.v FROM (VALUES (11), (20)) t(x), "
          "LATERAL (SELECT max(y) AS v FROM (VALUES (10)) s(y) "
          "WHERE y < t.x) l ORDER BY x")
    con = duckdb.connect()
    assert [tuple(r) for r in engine.sql(q2).collect()] == con.execute(q2).fetchall()
    con.close()


def test_residual_16_duckdb_count_date_trunc_bug(engine):
    """#16: count over date_trunc of a NULLABLE timestamp — the engine
    counts correctly; bundled DuckDB 1.0.0 folds the count to count(*)
    (its optimizer bug; the per-row values ARE NULL there too).  Pinned
    as a contrast so a DuckDB upgrade that fixes it surfaces here."""
    # the fold only fires on a parquet-backed scan (stats-dependent) —
    # an inline VALUES/range source counts correctly on both engines
    path = "/root/repo/tests/data/fuzz_nulls.parquet"
    q = ("SELECT count(date_trunc('month', t1)) AS a, count(t1) AS b, "
         "count(*) AS c FROM nulls_src")
    engine.spark.read.parquet(path).createOrReplaceTempView("nulls_src")
    got = engine.sql(q).collect()[0]
    assert (got[0], got[1], got[2]) == (100, 100, 120)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nulls_src AS SELECT * FROM '{path}'")
    want = con.execute(q).fetchone()
    # DuckDB's buggy fold: a == c instead of a == b
    assert want == (120, 100, 120), want
    con.close()


NESTED_PATH = "/root/repo/tests/data/fuzz_nested.parquet"


def test_residual_17_18_unicode_case_and_reverse(engine):
    """#17/#18 (r9): JVM full Unicode case mappings vs DuckDB simple
    mappings, and codepoint vs grapheme reverse.  Pinned on both engines
    so a change in either surfaces here."""
    import duckdb

    got = engine.sql(
        "SELECT upper('STRASSE ß') AS a, lower('İstanbul') AS b, "
        "upper('café') AS c"
    ).collect()[0]
    assert (got[0], got[1], got[2]) == ("STRASSE SS", "i̇stanbul", "CAFÉ")
    con = duckdb.connect()
    want = con.execute(
        "SELECT upper('STRASSE ß') AS a, lower('İstanbul') AS b, "
        "upper('café') AS c"
    ).fetchone()
    assert want == ("STRASSE ẞ", "istanbul", "CAFÉ"), want
    # decomposed é (e + U+0301): JVM reverses codepoints, DuckDB graphemes
    dec = "éclair"
    got = engine.sql(f"SELECT reverse('{dec}') AS r").collect()[0][0]
    assert got == "rialće"  # accent detaches onto the 'c'
    want = con.execute(f"SELECT reverse('{dec}') AS r").fetchone()[0]
    assert want == "rialcé", repr(want)  # grapheme stays intact
    con.close()


def test_residual_19_map_subscript_scalar(engine):
    """#19 (r9): string-keyed map subscript returns the VALUE here,
    a one-element LIST in DuckDB ([] when the key is missing)."""
    import duckdb

    engine.spark.read.parquet(NESTED_PATH).createOrReplaceTempView("nested_src")
    got = [
        tuple(r)
        for r in engine.sql(
            "SELECT k, mp['x'] AS v FROM nested_src WHERE k <= 3 ORDER BY k"
        ).collect()
    ]
    assert got == [(1, 1), (2, 3), (3, None)]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nested_src AS SELECT * FROM '{NESTED_PATH}'")
    want = con.execute(
        "SELECT k, mp['x'] AS v FROM nested_src WHERE k <= 3 ORDER BY k"
    ).fetchall()
    assert want == [(1, [1]), (2, [3]), (3, [])], want
    # element_at agrees with our scalar reading on both engines
    q = "SELECT k, element_at(mp, 'x') AS v FROM nested_src WHERE k <= 3 ORDER BY k"
    assert [tuple(r) for r in engine.sql(q).collect()] == con.execute(q).fetchall()
    con.close()


def test_r9_arrayish_pipe_concat_skips_nulls(engine):
    """DuckDB ``||`` on lists is list_concat (skips NULL operands; NULL
    only when ALL operands are NULL); Spark's array ``||`` NULL-
    propagates.  The arrayish-chain rewrite matches DuckDB whenever any
    operand is textually list-producing."""
    import duckdb

    engine.spark.read.parquet(NESTED_PATH).createOrReplaceTempView("nested_src")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nested_src AS SELECT * FROM '{NESTED_PATH}'")
    for q in [
        "SELECT k, ls || [99] AS v FROM nested_src ORDER BY k",
        "SELECT k, [0] || ls || [99] || ls AS v FROM nested_src ORDER BY k",
        "SELECT k, list_sort(ls) || [99] AS v FROM nested_src ORDER BY k",
        "SELECT k, us || 'x' AS v FROM nested_src ORDER BY k",  # strings untouched
    ]:
        got = [tuple(r) for r in engine.sql(q).collect()]
        want = con.execute(q).fetchall()
        assert got == want, (q, got[:3], want[:3])
    con.close()


def test_residual_20_duckdb_list_partition_ranking_bug(engine):
    """#20 (r9): ranking window functions over a LIST-typed partition key
    — we partition correctly; bundled DuckDB 1.0.0 gives every row its
    own partition (its count(*) OVER the same partition counts 7, and a
    VARCHAR cast of the key fixes its ntile — probed).  Pinned as a
    contrast so a DuckDB upgrade that fixes it surfaces here."""
    import duckdb

    engine.spark.read.parquet(NESTED_PATH).createOrReplaceTempView("nested_src")
    q = ("SELECT k, row_number() OVER (PARTITION BY element_at(mp, 'x') "
         "ORDER BY k) AS rn FROM nested_src ORDER BY k")
    got = {r[0]: r[1] for r in engine.sql(q).collect()}
    # empty-list partition = rows {3,4,5,7,9,11,12} in k order
    assert [got[k] for k in (3, 4, 5, 7, 9, 11, 12)] == [1, 2, 3, 4, 5, 6, 7]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nested_src AS SELECT * FROM '{NESTED_PATH}'")
    want = con.execute(q).fetchall()
    assert all(r[1] == 1 for r in want), want  # DuckDB's per-row bug
    # count(*) over the SAME partition is correct on both engines
    q2 = ("SELECT k, count(*) OVER (PARTITION BY element_at(mp, 'x')) AS n "
          "FROM nested_src ORDER BY k")
    got2 = [tuple(r) for r in engine.sql(q2).collect()]
    assert got2 == con.execute(q2).fetchall()
    con.close()


def test_r9_order_by_all_skips_map_columns(engine):
    """ORDER BY ALL over a projection containing a MAP column (fuzz r9
    seed 1874).  History: r9 SKIPPED map columns, r10 sorted them via a
    (wrong-model) key-sorted surrogate, r11 converts them recursively to
    insertion-order entry lists — this test's k-first ordering held
    through all three, pinning that the map column never breaks the
    statement."""
    import duckdb

    engine.spark.read.parquet(NESTED_PATH).createOrReplaceTempView("nested_src")
    q = "SELECT k, mp FROM nested_src ORDER BY ALL"
    got = [r[0] for r in engine.sql(q).collect()]
    assert got == list(range(1, 13))


def test_r9_mixed_string_list_subscripts(engine):
    """One query subscripting a STRING column and a LIST column (and
    len() over a list): neither the all-array nor the all-string reading
    analyzes — each analysis error names the base Spark typed STRING
    (fuzz r9 seeds 171 and 1681)."""
    import duckdb

    engine.spark.read.parquet(NESTED_PATH).createOrReplaceTempView("nested_src")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nested_src AS SELECT * FROM '{NESTED_PATH}'")
    for q in [
        "SELECT k, ls[1] AS a, us[2:5] AS b FROM nested_src ORDER BY k",
        "SELECT len(ls) AS a, us[2:5] AS b, ls[1] AS c FROM nested_src ORDER BY k",
        # five subscript heads: each typed error adds its own head
        "SELECT k, us[1:2] AS a, ls[1] AS b, sl.xs[1] AS c, "
        "coalesce(ls, [])[2] AS d, nullif(ls, [])[1] AS e FROM nested_src ORDER BY k",
        # an open slice fails on its size(us); a negative bound leaves
        # list_slice unexpanded
        "SELECT k, us[2:] AS a, us[-3:-1] AS b, ls[2:] AS c FROM nested_src ORDER BY k",
    ]:
        got = [tuple(r) for r in engine.sql(q).collect()]
        want = con.execute(q).fetchall()
        assert got == want, (q, got[:3], want[:3])
    con.close()


def test_subscript_types_cost_one_analysis_per_hint(engine, monkeypatch):
    """Four string subscript heads and a list ``len``: the primary text
    and one retry per hint Spark's errors name, five analyses in all."""
    import duckdb

    engine.spark.read.parquet(NESTED_PATH).createOrReplaceTempView("nested_src")
    q = ("SELECT us[2] AS a, ls[1] AS b, us[2:3] AS c, len(ls) AS d, "
         "(CASE WHEN k > 1 THEN us ELSE 'x' END)[1] AS e, "
         "nullif(us, 'x')[1:2] AS f FROM nested_src ORDER BY k")
    texts = []
    sql = engine.spark.sql

    def counting(text, *args, **kwargs):
        texts.append(text)
        return sql(text, *args, **kwargs)

    monkeypatch.setattr(engine.spark, "sql", counting)
    df = engine.sql(q)
    monkeypatch.undo()
    assert len(texts) <= 5, texts
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nested_src AS SELECT * FROM '{NESTED_PATH}'")
    assert [tuple(r) for r in df.collect()] == con.execute(q).fetchall()
    con.close()


def test_r9_gcd_lambda_no_column_capture(engine):
    """fuzz r9 seed 2686: the gcd/lcm macro's filter lambda used the
    variable ``k``, shadowing a column k referenced in the macro's own
    arguments — lcm(k, x) silently computed with the loop variable.
    The lambda variable is now collision-proof (__gcd_i)."""
    import duckdb

    engine.spark.read.parquet(NESTED_PATH).createOrReplaceTempView("nested_src")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nested_src AS SELECT * FROM '{NESTED_PATH}'")
    q = ("SELECT k, lcm(CAST(k AS BIGINT), CAST(ls[-1] AS BIGINT)) AS v, "
         "gcd(CAST(k AS BIGINT), 6) AS g FROM nested_src ORDER BY k")
    got = [tuple(r) for r in engine.sql(q).collect()]
    want = con.execute(q).fetchall()
    assert got == want, (got, want)
    con.close()


def test_residual_21_array_null_element_ordering(engine):
    """#21 (r9): NULL elements inside ARRAY sort keys — Spark compares a
    NULL element smallest, DuckDB largest.  Pinned on both engines."""
    import duckdb

    q = ("SELECT ls FROM (VALUES (array(1, 2)), (array(-1, -2)), "
         "(array(CAST(NULL AS INT), 7)), (array(5))) t(ls) ORDER BY ls")
    got = [list(r[0]) for r in engine.sql(q).collect()]
    assert got == [[None, 7], [-1, -2], [1, 2], [5]]
    con = duckdb.connect()
    want = [r[0] for r in con.execute(
        "SELECT ls FROM (VALUES ([1,2]), ([-1,-2]), ([NULL, 7]), ([5])) "
        "t(ls) ORDER BY ls").fetchall()]
    assert want == [[-1, -2], [1, 2], [5], [None, 7]], want
    con.close()


def test_r9_string_literal_base_subscript(engine):
    """A (possibly parenthesized) string-LITERAL subscript base is
    statically known — it takes the string reading in every subscript
    mode, so it can coexist with list-column subscripts (fuzz r9 seeds
    7115/7169)."""
    import duckdb

    engine.spark.read.parquet(NESTED_PATH).createOrReplaceTempView("nested_src")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nested_src AS SELECT * FROM '{NESTED_PATH}'")
    for q in [
        "SELECT ('Hello World')[1:2] AS a, ls[1] AS b FROM nested_src ORDER BY k",
        "SELECT 'abcdef'[2:4] AS a, length(('xy')[1:1]) AS b",
    ]:
        got = [tuple(r) for r in engine.sql(q).collect()]
        want = con.execute(q).fetchall()
        assert got == want, (q, got[:3], want[:3])
    con.close()


def test_r9_unicode_and_list_function_parity(engine):
    """r9 curated-battery fixes, each probed on DuckDB 1.0.0 and
    compared differentially: ord/unicode('') = -1; list_zip treats a
    NULL list as all-NULL padding (both-NULL = []); to_base64 /
    from_base64 renames; nfc_normalize + full-Unicode strip_accents
    registered UDFs; list_intersect NULL-element drop + asymmetric NULL
    args (order compared via list_sort — intentional #22)."""
    import duckdb

    con = duckdb.connect()
    battery = [
        "SELECT unicode('') AS a, ord('') AS b, unicode('aX') AS c, "
        "unicode(NULL) AS d, unicode('日本') AS e",
        "SELECT list_zip([1,2,3],[1,2]) AS a, list_zip(NULL,[1,2]) AS b, "
        "list_zip(CAST(NULL AS BIGINT[]), CAST(NULL AS BIGINT[])) AS c",
        "SELECT to_base64('ab'::BLOB) AS a",
        "SELECT decode(from_base64('Y2Fmw6k=')) AS a",
        "SELECT nfc_normalize('cafe'||chr(769)) AS a, nfc_normalize(NULL) AS b",
        "SELECT strip_accents('ÅÉîõü日本で') AS a, strip_accents('Ωμέγα') AS b, "
        "strip_accents(NULL) AS c",
        "SELECT list_sort(list_intersect([1,1,2],[2,1])) AS a, "
        "list_intersect([NULL,1],[1,NULL]) AS b, "
        "list_intersect([1],NULL) AS c, list_intersect(NULL,NULL) AS d",
    ]
    for q in battery:
        got = [
            tuple(list(c) if isinstance(c, (list, tuple)) else c for c in r)
            for r in engine.sql(q).collect()
        ]
        want = [
            tuple(
                [tuple(x) if isinstance(x, tuple) else x for x in c]
                if isinstance(c, list)
                else c
                for c in r
            )
            for r in con.execute(q).fetchall()
        ]

        def norm(v):
            if isinstance(v, bytes):
                return v
            if isinstance(v, (list, tuple)):
                return [norm(x) for x in v]
            if isinstance(v, dict):
                return [norm(x) for x in v.values()]
            if hasattr(v, "asDict"):
                return [norm(x) for x in v.asDict().values()]
            return v

        got_n = [[norm(c) for c in r] for r in got]
        want_n = [[norm(c) for c in r] for r in want]
        assert got_n == want_n, (q, got_n, want_n)
    con.close()


def test_r9_blob_literals(engine):
    """DuckDB blob literals: '\\xNN' escapes decode to bytes (probed r9
    — Spark would cast the escape TEXT to binary).  Value parity checked
    via hex/octet_length; a plain string literal with \\x stays text."""
    import duckdb

    con = duckdb.connect()
    for q in [
        "SELECT hex('\\xAA\\x01'::BLOB) AS v",
        "SELECT octet_length('\\xAA\\x01\\xFF'::BLOB) AS v",
        "SELECT hex('AB\\x00c'::BLOB) AS v",
        "SELECT hex('it''s\\x21'::BLOB) AS v",
        "SELECT '\\xAA' AS v",
    ]:
        got = [tuple(str(c) for c in r) for r in engine.sql(q).collect()]
        want = [tuple(str(c) for c in r) for r in con.execute(q).fetchall()]
        assert got == want, (q, got, want)
    con.close()


def test_r10_order_by_all_map_tiebreak_matches_duckdb(engine):
    """ADVICE r9/r10 follow-up: when rows tie on every non-MAP column,
    the MAP column breaks the tie via map_entries(c) WITHOUT sort_array
    — DuckDB compares maps by INSERTION-ORDER entry list (probed r11:
    MAP(['a','z'],[9,9]) < MAP(['b','a'],[1,1]), and min() over those
    two picks the ['a','z'] one), not key-sorted.  The non-ascending-key
    rows below discriminate the two models."""
    q = ("SELECT * FROM (VALUES (1, MAP(['b'],[1])), (1, MAP(['a'],[2])), "
         "(1, MAP(['a'],[1])), (0, MAP(['z'],[9])), "
         "(1, MAP(['b','a'],[1,1])), (1, MAP(['a','z'],[9,9])), "
         "(1, MAP(['a','b'],[2,0]))) t(k, m) ORDER BY ALL")
    got = [(r[0], dict(r[1])) for r in engine.sql(q).collect()]
    con = duckdb.connect()
    want = [
        (k, dict(zip(m["key"], m["value"])))
        for k, m in con.execute(q).fetchall()
    ]
    con.close()
    assert got == want
    # DESC direction flips the map ordering too
    q2 = q + " DESC"
    got2 = [(r[0], dict(r[1])) for r in engine.sql(q2).collect()]
    con = duckdb.connect()
    want2 = [
        (k, dict(zip(m["key"], m["value"])))
        for k, m in con.execute(q2).fetchall()
    ]
    con.close()
    assert got2 == want2


def test_r10_min_max_columns_over_map(engine):
    """r10 (fuzz statement seeds 6540/6752), corrected r11: min/max
    (COLUMNS(..)) over a MAP column no longer fails analysis — the
    expansion substitutes min_by/max_by over map_entries() WITHOUT
    sort_array, DuckDB's actual INSERTION-ORDER positional comparison
    (ADVICE r10).  Exact winner parity holds when entry values are
    non-NULL (NULL-valued entries fall under intentional #21).  Scope:
    only a bare min(`col`)/max(`col`) expansion is rewritten; composite
    items like min(COLUMNS(*)) + 1 still raise (error, not wrong
    answer)."""
    import duckdb

    engine.spark.sql(
        "SELECT * FROM VALUES (1, map('a', 1)), (2, map('a', 2)), "
        "(3, map('b', 1)), (4, map()) AS t(k, m)"
    ).createOrReplaceTempView("map_src")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW map_src AS SELECT * FROM (VALUES (1, MAP {'a': 1}), "
        "(2, MAP {'a': 2}), (3, MAP {'b': 1}), (4, MAP {})) t(k, m)"
    )
    q = "SELECT max(COLUMNS('.*')) FROM map_src"
    got = engine.sql(q).collect()[0]
    want = con.execute(q).fetchall()[0]
    assert got[0] == want[0] == 4
    assert dict(got[1]) == dict(zip(want[1]["key"], want[1]["value"])) == {"b": 1}
    q2 = "SELECT min(COLUMNS('m')) FROM map_src"
    got2 = engine.sql(q2).collect()[0]
    want2 = con.execute(q2).fetchall()[0]
    assert dict(got2[0]) == dict(zip(want2[0]["key"], want2[0]["value"])) == {}
    con.close()


def test_r11_map_ordering_insertion_order_not_key_sorted(engine):
    """ADVICE r10 (medium): DuckDB 1.0.0 compares MAPs by insertion-order
    entry list, NOT key-sorted — MAP(['a','z'],[9,9]) is the MIN of
    {MAP(['b','a'],[1,1]), MAP(['a','z'],[9,9])} (probed r11; the
    key-sorted surrogate picked the other).  Pinned against live DuckDB
    through both the min/max COLUMNS expansion and ORDER BY ALL."""
    import duckdb

    engine.spark.sql(
        "SELECT * FROM VALUES (1, map('b', 1, 'a', 1)), "
        "(2, map('a', 9, 'z', 9)), (3, map('a', 2, 'b', 0)) AS t(k, m)"
    ).createOrReplaceTempView("map_src_r11")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW map_src_r11 AS SELECT * FROM (VALUES "
        "(1, MAP(['b','a'],[1,1])), (2, MAP(['a','z'],[9,9])), "
        "(3, MAP(['a','b'],[2,0]))) t(k, m)"
    )
    for q in [
        "SELECT min(COLUMNS('m')) AS v FROM map_src_r11",
        "SELECT max(COLUMNS('m')) AS v FROM map_src_r11",
    ]:
        got = engine.sql(q).collect()[0][0]
        want = con.execute(q).fetchall()[0][0]
        assert dict(got) == dict(zip(want["key"], want["value"])), (
            q, got, want,
        )
    # the minimum is the insertion-order-smallest — entries ('a',2) <
    # ('a',9) < ('b',1) positionally; the key-sorted surrogate would
    # have picked MAP(['b','a'],[1,1]) (sorted entries [('a',1),…])
    got_min = engine.sql(
        "SELECT min(COLUMNS('m')) AS v FROM map_src_r11"
    ).collect()[0][0]
    assert dict(got_min) == {"a": 2, "b": 0}
    # ORDER BY ALL tie-break over the same maps (constant k forces the
    # map column to decide the order)
    q3 = ("SELECT * FROM (VALUES (1, MAP(['b','a'],[1,1])), "
          "(1, MAP(['a','z'],[9,9])), (1, MAP(['a','b'],[2,0]))) t(k, m) "
          "ORDER BY ALL")
    got3 = [dict(r[1]) for r in engine.sql(q3).collect()]
    want3 = [
        dict(zip(m["key"], m["value"])) for _, m in con.execute(q3).fetchall()
    ]
    assert got3 == want3
    assert got3[0] == {"a": 2, "b": 0}  # positional: ('a',2) < ('a',9)
    con.close()


def test_r11_order_by_all_deeply_nested_maps(engine):
    """ADVICE r10 (low) + fuzz v6 seed 94153: ORDER BY ALL converts
    MAP-bearing columns to orderable shapes RECURSIVELY from the schema
    (map-of-map, array<map>, struct-with-map-field) instead of a bare
    ``except Exception`` around a trial orderBy — unrelated planner
    errors surface, and the deep shapes now ORDER with DuckDB parity
    (positional entry-list comparison at every level) rather than being
    skipped or failing analysis."""
    import duckdb

    con = duckdb.connect()
    # map-of-map decides the order (constant k)
    q = ("SELECT * FROM (VALUES (1, MAP(['a'],[MAP(['x'],[2])])), "
         "(1, MAP(['a'],[MAP(['x'],[1])])), "
         "(1, MAP(['b'],[MAP(['y'],[0])]))) t(k, mm) ORDER BY ALL")
    for suffix in ["", " DESC"]:
        got = [
            {k2: dict(v) for k2, v in r[1].items()}
            for r in engine.sql(q + suffix).collect()
        ]
        want = [
            {
                k2: dict(zip(v["key"], v["value"]))
                for k2, v in zip(m["key"], m["value"])
            }
            for _, m in con.execute(q + suffix).fetchall()
        ]
        assert got == want, (suffix, got, want)
    # array<map> column (the seed's shape, over the committed fixture)
    P = "/root/repo/tests/data/fuzz_nested3.parquet"
    engine.spark.read.parquet(P).createOrReplaceTempView("nested3_parquet")
    con.execute(f"CREATE VIEW nested3_parquet AS SELECT * FROM '{P}'")
    q2 = "SELECT k, lml FROM nested3_parquet ORDER BY ALL LIMIT 6"
    got2 = [r[0] for r in engine.sql(q2).collect()]
    want2 = [r[0] for r in con.execute(q2).fetchall()]
    assert got2 == want2
    # struct-with-map field + NULL struct ranks as NULL, not
    # struct-of-NULLs (constant k forces the struct column to decide)
    q3 = ("SELECT * FROM (VALUES (1, {'m': MAP(['b'],[1]), 's': 'x'}), "
          "(1, NULL), (1, {'m': MAP(['a'],[9]), 's': 'y'})) t(k, st) "
          "ORDER BY ALL")
    got3 = [(r[1] is None, r[1] and r[1]["s"]) for r in engine.sql(q3).collect()]
    want3 = [(r[1] is None, r[1] and r[1]["s"]) for r in con.execute(q3).fetchall()]
    assert got3 == want3  # NULL struct ranks as NULL, same position
    con.close()


def test_r11_execute_whitespace_only_parens_raises(engine):
    """ADVICE r10 (low): ``EXECUTE p( )`` — whitespace inside the parens
    — must mirror DuckDB's parse error like the bare ``()`` form does
    (probed r11: both raise 'syntax error at or near \")\"')."""
    import pytest as _pytest

    engine.sql("PREPARE __ws_p AS SELECT 42 AS v")
    assert [tuple(r) for r in engine.sql("EXECUTE __ws_p").collect()] == [(42,)]
    for call in ["EXECUTE __ws_p( )", "EXECUTE __ws_p(  \n )"]:
        with _pytest.raises(Exception, match=r'syntax error at or near'):
            engine.sql(call)
    engine.sql("DEALLOCATE __ws_p")


def test_r10_divmod_operand_absorbs_call_field_suffix(engine):
    """fuzz r10 statement seed 8330: the //-dispatch right-operand
    scanner returned a CALL operand at its closing paren, leaving a
    struct-field suffix behind — ``k // map_extract(ms, 'a')[1].p``
    divided by the whole STRUCT (analysis error).  The call branch now
    absorbs trailing ``.ident`` chains like the paren-group branch."""
    import duckdb

    P = "/root/repo/tests/data/fuzz_nested2.parquet"
    engine.spark.read.parquet(P).createOrReplaceTempView("nested2_parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nested2_parquet AS SELECT * FROM '{P}'")
    for q in [
        "SELECT k, 10 // map_extract(ms, 'a')[1].p AS v "
        "FROM nested2_parquet ORDER BY k LIMIT 4",
        "SELECT k, (((k // map_extract(ms, 'a')[1].p) % "
        "(CAST(cardinality(lm[1]) AS BIGINT) - CAST(cardinality(ms) AS BIGINT)"
        "))) AS v FROM nested2_parquet ORDER BY k LIMIT 5",
    ]:
        got = [(r[0], None if r[1] is None else float(r[1])) for r in engine.sql(q).collect()]
        want = [(r[0], None if r[1] is None else float(r[1])) for r in con.execute(q).fetchall()]
        assert got == want, (q, got, want)
    con.close()


def test_r10_empty_list_comprehension_keeps_neutral_type(engine):
    """fuzz r10 grammar seed 60745: [f(x) FOR x IN []] used to emit
    transform(array(), x -> f(x)), whose lambda result type (abs →
    DOUBLE) coerced a later list_concat to DOUBLE where DuckDB keeps the
    other operand's INTEGER — '0.0,3.0' vs '0,3' after stringification.
    A literal-empty comprehension source now emits array() itself."""
    import duckdb

    con = duckdb.connect()
    for q in [
        "SELECT array_to_string(list_concat([0, 3], [abs(x) FOR x IN []]), ',') AS v",
        "SELECT [x FOR x IN [] IF x > 1] AS v",
    ]:
        got = [tuple(r) for r in engine.sql(q).collect()]
        want = con.execute(q).fetchall()
        assert got == want, (q, got, want)
    con.close()


def test_r11_paren_string_concat_subscript(engine):
    """fuzz v6 seed 96787: a paren group HEADED by a string literal —
    ``('BUILDING' || 'xy')[2:2]`` — takes the string (substr) reading
    statically: the fallback's per-base enumeration keys on head
    identifiers and such a base has none, so without static
    classification no retry variant could ever produce the string
    reading.  Parity pinned against live DuckDB alongside an array
    subscript in the same query (no single global mode satisfies
    both)."""
    import duckdb

    con = duckdb.connect()
    for q in [
        "SELECT (('BUILDING' || 'xy'))[2:2] AS a, ('ab' || 'cd')[-3:] AS b",
        "SELECT ('a' || 'bc')[2] AS a, ([1,2] || [3])[2] AS b",
    ]:
        got = [tuple(r) for r in engine.sql(q).collect()]
        want = con.execute(q).fetchall()
        assert [tuple(str(c) for c in r) for r in got] == [
            tuple(str(c) for c in r) for r in want
        ], (q, got, want)
    con.close()
