"""CLI smoke: the `python -m parquet_query_spark` one-shot path, in a real
subprocess (own JVM — the one test that exercises cold start end-to-end)."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tab_store_categories_roundtrip(tmp_path):
    from parquet_query_spark.workbench.tabs import CATEGORIES, TabStore

    p = str(tmp_path / "tabs.json")
    store = TabStore(p)
    # built-in templates pre-seeded (reference TEMPLATE_QUERIES catalog)
    assert len(store.names("templates")["templates"]) == 6

    store.save("mine", "SELECT 1;", "scripts")
    store.save("fav", "SELECT 2;", "bookmarks")
    reloaded = TabStore(p)
    assert reloaded.open("mine") == ("SELECT 1;", "scripts")
    assert reloaded.open("fav") == ("SELECT 2;", "bookmarks")
    assert set(reloaded.names()) == set(CATEGORIES)

    # opening a template copies it into scripts, template stays pristine
    name = reloaded.names("templates")["templates"][0]
    sql, cat = reloaded.open(name)
    assert cat == "scripts"
    assert "FROM orders" in sql and "{" not in sql  # bare names, as a user types them
    assert name in reloaded.names("scripts")["scripts"]
    assert name in reloaded.names("templates")["templates"]


def test_tab_store_migrates_legacy_flat_file(tmp_path):
    import json

    from parquet_query_spark.workbench.tabs import TabStore

    p = str(tmp_path / "tabs.json")
    with open(p, "w") as f:
        json.dump({"old": "SELECT 42;"}, f)
    store = TabStore(p)
    assert store.open("old") == ("SELECT 42;", "scripts")


def test_example_sql_generators():
    from parquet_query_spark.workbench.tabs import file_example_sql, table_example_sql

    # reference tableExampleSQL shape (App.tsx:61-64), incl. quoting rules
    assert table_example_sql("alldata") == (
        "-- Exemplo rápido\nSELECT * FROM alldata LIMIT 50;"
    )
    assert table_example_sql("my table") == (
        '-- Exemplo rápido\nSELECT * FROM "my table" LIMIT 50;'
    )
    assert file_example_sql("dir/o'brien.parquet") == (
        "SELECT * FROM 'dir/o''brien.parquet' LIMIT 100;"
    )


def test_cli_one_shot_query():
    out = subprocess.run(
        [
            sys.executable,
            "-m",
            "parquet_query_spark",
            "/root/testdata/sf0.001",
            "--table",
            "alldata",
            "-c",
            "SELECT l_returnflag, COUNT(*) AS n FROM 'lineitem.parquet' "
            "GROUP BY l_returnflag ORDER BY l_returnflag;",
        ],
        capture_output=True,
        text=True,
        timeout=180,
        cwd="/tmp",
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "l_returnflag" in out.stdout
    assert "(3 rows)" in out.stdout
    for flag in ("A", "N", "R"):
        assert flag in out.stdout
