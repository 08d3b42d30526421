"""Subscripts on parenthesised bases: a paren group headed by a string
literal takes the substring reading only when it is a string expression
(the literal is followed by ``||``, a closer or the end) — a boolean group
like ``('a' = 'b')[2]`` must fail like DuckDB's binder error."""

import duckdb
import pytest
from pyspark.errors import AnalysisException


def test_boolean_paren_group_subscript_errors_like_duckdb(engine):
    """('a' = 'b')[2] is BOOLEAN — DuckDB: binder error (no
    array_extract(BOOLEAN, ...)); the static string-literal-head
    classifier must not hand it the substr reading (which would silently
    succeed on Spark via bool→string cast)."""
    con = duckdb.connect()
    for q in ["SELECT ('a' = 'b')[2] AS s", "SELECT ('a' IN ('b'))[1] AS s"]:
        with pytest.raises(duckdb.BinderException):
            con.execute(q)
        with pytest.raises(AnalysisException):
            engine.sql(q).collect()
    con.close()


def test_string_literal_headed_concat_subscripts_still_work(engine):
    """The legitimate static cases (fuzz v6 seed 96787 family) keep the
    string reading after the tightening."""
    con = duckdb.connect()
    for q in [
        "SELECT ('BUILDING' || 'xy')[2] AS s",
        "SELECT ('abc')[2] AS s",
        "SELECT ('a' || 'b' || 'cd')[3:4] AS s",
    ]:
        got = [r[0] for r in engine.sql(q).collect()]
        want = [r[0] for r in con.execute(q).fetchall()]
        assert got == want, q
    con.close()
