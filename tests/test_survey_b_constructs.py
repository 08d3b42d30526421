"""SURVEY §2.B sweep — every SQL construct the reference itself ships
(B1-B28), run construct-by-construct through this engine.

The reference's demonstrated surface is its default query, six templates,
view DDL, and README examples (§2.B cites each occurrence); this file is
the line-by-line acceptance test for that table.  Dates/values target the
driver's sf0.001 tables.
"""

import pytest

from parquet_query_spark.engine import Engine
from parquet_query_spark.workbench.quoting import spark_identifier
from parquet_query_spark.workbench.statements import split_statements

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def eng(spark):
    return Engine.open(SF, table_name="alldata", spark=spark)


@pytest.fixture(scope="module", autouse=True)
def _views(views):
    """Bare table names (``FROM region``) resolve to the conftest views."""


def one(spark, sql):
    return spark.sql(sql).collect()


def test_b1_b2_literal_select_with_alias(eng):
    r = eng.run("SELECT 42 AS ok")
    assert r.columns == ["ok"] and r.rows == [["42"]]


def test_b3_select_star(spark):
    rows = one(spark, "SELECT * FROM region")
    assert len(rows) == 5 and len(rows[0]) == 2


def test_b4_path_literal_scan(eng):
    r = eng.run("SELECT COUNT(*) AS n FROM 'region.parquet'")
    assert r.rows == [["5"]]


def test_b5_multifile_union_view(eng, spark):
    # the union view exists and unions every imported parquet
    assert spark.table("alldata").count() > 0


def test_b6_create_or_replace_view(spark):
    one(spark, "CREATE OR REPLACE TEMP VIEW b6_v AS SELECT r_regionkey FROM region")
    one(spark, "CREATE OR REPLACE TEMP VIEW b6_v AS SELECT r_name FROM region")  # replace
    assert one(spark, "SELECT * FROM b6_v")[0][0].startswith("A")


def test_b7_count_star(spark):
    assert one(spark, "SELECT COUNT(*) AS n FROM nation")[0]["n"] == 25


def test_b8_sum_over_expression(spark):
    [r] = one(
        spark,
        "SELECT SUM(l_extendedprice * (1 - l_discount)) AS s FROM lineitem",
    )
    assert r["s"] > 0


def test_b9_min_max(spark):
    [r] = one(spark, "SELECT MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi FROM orders")
    assert r["lo"] < r["hi"]


def test_b10_round_two(spark):
    assert float(one(spark, "SELECT round(2.345, 2) AS x")[0]["x"]) == 2.35


def test_b11_coalesce(spark):
    assert one(spark, "SELECT COALESCE(NULL, NULL, 7) AS x")[0]["x"] == 7


def test_b12_case_inside_aggregate(spark):
    [r] = one(
        spark,
        "SELECT SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_r FROM lineitem",
    )
    assert 0 < r["n_r"]


def test_b13_date_trunc_month(spark):
    [r] = one(spark, "SELECT date_trunc('month', TIMESTAMP '2025-12-15 10:11:12') AS m")
    assert str(r["m"]) == "2025-12-01 00:00:00"


def test_b14_current_date(spark):
    assert one(spark, "SELECT CURRENT_DATE AS d")[0]["d"] is not None


def test_b15_interval_arithmetic(spark):
    [r] = one(spark, "SELECT CURRENT_DATE - INTERVAL '30' DAY AS d, CURRENT_DATE AS t")
    assert (r["t"] - r["d"]).days == 30


def test_b16_timestamp_literal_between(spark):
    [r] = one(
        spark,
        """SELECT COUNT(*) AS n FROM orders
           WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-01-01'""",
    )
    assert r["n"] > 0


def test_b17_b18_b19_predicates(spark):
    [r] = one(
        spark,
        """SELECT COUNT(*) AS n FROM orders
           WHERE o_orderstatus = 'F' AND o_orderpriority <> '5-LOW'
             AND o_totalprice >= 1000 AND o_custkey IS NOT NULL""",
    )
    assert r["n"] > 0


def test_b20_b21_group_by_output_alias(spark):
    # GROUP BY references the SELECT alias, not a source column (App.tsx:174)
    rows = one(
        spark,
        """SELECT o_orderpriority AS prio, COUNT(*) AS n
           FROM orders GROUP BY prio ORDER BY prio""",
    )
    assert len(rows) == 5


def test_b22_group_by_multi_with_alias(spark):
    rows = one(
        spark,
        """SELECT o_orderstatus, date_trunc('month', o_orderdate) AS mes, COUNT(*) AS n
           FROM orders GROUP BY o_orderstatus, mes ORDER BY o_orderstatus, mes""",
    )
    assert len(rows) > 5


def test_b23_b24_order_by_mixed(spark):
    rows = one(
        spark,
        """SELECT o_orderpriority, COUNT(*) AS n FROM orders
           GROUP BY o_orderpriority ORDER BY n DESC, o_orderpriority""",
    )
    ns = [r["n"] for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_b25_limit(spark):
    assert len(one(spark, "SELECT * FROM lineitem LIMIT 50")) == 50


def test_b26_comments_lexed(eng):
    r = eng.run(
        """-- line comment with ; inside
        /* block ; comment */
        SELECT 1 AS x; SELECT 2 AS y"""
    )
    # runs the statement nearest the cursor-less default (first non-empty)
    assert r.rows in ([["1"]], [["2"]])


def test_b27_multi_statement_split():
    stmts = split_statements("SELECT 1; SELECT 'a;b'; -- c;\nSELECT 3")
    assert len(stmts) == 3


def test_b28_identifier_quoting_round_trip(spark):
    # reference rule: non-bare identifiers get quoted ("" there, `` here);
    # round-trip a hostile column alias through Spark SQL
    name = 'weird name;--"x'
    ident = spark_identifier(name)
    row = spark.sql(f"SELECT 7 AS {ident}").collect()[0]
    assert row[name] == 7
    assert spark_identifier("plain_name") == "plain_name"  # bare stays bare
