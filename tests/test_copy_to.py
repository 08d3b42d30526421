"""DuckDB COPY ... TO statements (workbench/copy_to.py) — single-file
default, PER_THREAD_OUTPUT parallel layout, format inference, value
parity with DuckDB's own COPY output."""

import os

import duckdb
import pytest

from parquet_query_spark.plans import stage_metrics


@pytest.fixture(scope="module")
def engine(sf_dir):
    from parquet_query_spark.engine import Engine

    return Engine.open(sf_dir, table_name="alldata")


def test_copy_query_to_parquet_roundtrip(engine, tmp_path):
    out = str(tmp_path / "regions.parquet")
    r = engine.run(
        f"COPY (SELECT r_regionkey, r_name FROM 'region.parquet' "
        f"ORDER BY r_regionkey) TO '{out}'"
    )
    assert r.columns == ["Count"]
    assert r.rows[0][0] == "5"
    assert os.path.isfile(out)  # ONE file, not a directory
    back = duckdb.connect().execute(f"SELECT * FROM '{out}' ORDER BY r_regionkey").fetchall()
    assert [row[0] for row in back] == [0, 1, 2, 3, 4]


def test_copy_to_csv_matches_duckdb(engine, sf_dir, tmp_path):
    ours = str(tmp_path / "ours.csv")
    theirs = str(tmp_path / "theirs.csv")
    sel = "SELECT r_regionkey, r_name FROM 'region.parquet' ORDER BY r_regionkey"
    engine.run(f"COPY ({sel}) TO '{ours}' (HEADER, DELIMITER ',')")
    con = duckdb.connect()
    con.execute(
        f"COPY ({sel.replace(chr(39) + 'region.parquet' + chr(39), chr(39) + sf_dir + '/region.parquet' + chr(39))}) "
        f"TO '{theirs}' (HEADER, DELIMITER ',')"
    )
    con.close()
    ours_rows = duckdb.connect().execute(f"SELECT * FROM read_csv('{ours}') ORDER BY 1").fetchall()
    theirs_rows = duckdb.connect().execute(f"SELECT * FROM read_csv('{theirs}') ORDER BY 1").fetchall()
    assert ours_rows == theirs_rows


def test_copy_table_to_json(engine, tmp_path):
    out = str(tmp_path / "nation.json")
    r = engine.run(f"COPY nation_parquet TO '{out}'")
    assert int(r.rows[0][0]) == 25
    rows = duckdb.connect().execute(
        f"SELECT count(*) FROM read_json('{out}', format='newline_delimited')"
    ).fetchone()
    assert rows[0] == 25


def test_copy_per_thread_output_is_directory(engine, tmp_path):
    out = str(tmp_path / "orders_dir")
    r = engine.run(
        f"COPY (SELECT * FROM 'orders.parquet') TO '{out}' "
        f"(FORMAT PARQUET, PER_THREAD_OUTPUT)"
    )
    n = int(r.rows[0][0])
    assert os.path.isdir(out)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) >= 1
    back = duckdb.connect().execute(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()
    assert back[0] == n


def test_copy_format_inference_error(engine, tmp_path):
    with pytest.raises(ValueError, match="cannot infer format"):
        engine.run(f"COPY (SELECT 1 AS x) TO '{tmp_path}/noext'")


def test_copy_count_matches_written_nondeterministic(engine, tmp_path):
    """ADVICE r7: the returned Count must reflect the rows actually
    written, with the source plan executed once — pinned with a random
    row-sample source (USING SAMPLE → rand() top-k, nondeterministic
    across executions)."""
    out = str(tmp_path / "sample.parquet")
    r = engine.run(
        f"COPY (SELECT * FROM 'orders.parquet' USING SAMPLE 37 ROWS) TO '{out}'"
    )
    n = int(r.rows[0][0])
    back = duckdb.connect().execute(f"SELECT count(*) FROM '{out}'").fetchone()
    assert n == 37 and back[0] == 37
    out_csv = str(tmp_path / "sample.csv")
    r = engine.run(
        f"COPY (SELECT * FROM 'orders.parquet' USING SAMPLE 41 ROWS) TO '{out_csv}'"
    )
    n = int(r.rows[0][0])
    back = duckdb.connect().execute(
        f"SELECT count(*) FROM read_csv('{out_csv}', header=true)"
    ).fetchone()
    assert n == 41 and back[0] == 41


def test_copy_count_preview_runs_no_job(engine, tmp_path):
    """The one-row ``Count`` result is an inline relation: previewing it
    runs no Spark job (the write itself runs inside ``engine.sql``)."""
    out = str(tmp_path / "nation.parquet")
    df = engine.sql(f"COPY (SELECT n_nationkey FROM 'nation.parquet') TO '{out}'")
    rows, jobs, _ = stage_metrics(engine.spark, lambda: df.limit(200).collect())
    assert [tuple(r) for r in rows] == [(25,)]
    assert df.columns == ["Count"]
    assert jobs == []


@pytest.mark.parametrize(
    "target, opts",
    [
        ("nation.csv", ""),
        ("nation.json", ""),
        ("nation.parquet", ""),
        ("nation_parts", " (FORMAT PARQUET, PER_THREAD_OUTPUT)"),
    ],
)
def test_copy_runs_its_plan_once(engine, tmp_path, target, opts):
    """A scan-only COPY runs exactly one Spark job whatever the format: the
    write, which also counts the rows it writes."""
    out = str(tmp_path / target)
    stmt = f"COPY (SELECT * FROM 'nation.parquet') TO '{out}'{opts}"
    r, jobs, _ = stage_metrics(engine.spark, lambda: engine.run(stmt))
    assert r.rows == [["25"]]
    assert len(jobs) == 1


@pytest.mark.parametrize("target", ["empty.csv", "empty.json", "empty.parquet"])
def test_copy_empty_result_counts_zero(engine, tmp_path, target):
    out = str(tmp_path / target)
    r = engine.run(f"COPY (SELECT * FROM 'nation.parquet' WHERE n_nationkey < 0) TO '{out}'")
    assert r.rows == [["0"]]
    assert os.path.isfile(out)
