"""CREATE [OR REPLACE] TABLE ... AS through ``Engine.sql``: OR REPLACE
snapshots the body before it touches the target (DuckDB's transactional
replace), swaps through a uniquely named staging table and a backup, and
never loses both copies when a step of the swap fails."""

import duckdb
import pytest
from pyspark.errors import AnalysisException


def test_ctas_or_replace_self_reference(engine):
    """CREATE OR REPLACE TABLE t AS SELECT ... FROM t — legal in DuckDB
    (probed r12: snapshots first), and must both succeed AND read the
    pre-replace rows; the old drop-then-write decomposition destroyed t."""
    con = duckdb.connect()
    n = "__r12_selfrep"
    stmts = [
        f"DROP TABLE IF EXISTS {n}",
        f"CREATE TABLE {n} AS SELECT * FROM (VALUES (1),(2),(3)) v(x)",
        f"CREATE OR REPLACE TABLE {n} AS SELECT x*10 AS x FROM {n}",
    ]
    for s in stmts:
        engine.sql(s) if s.lstrip().upper().startswith("CREATE") else engine.exec(s)
        con.execute(s)
    q = f"SELECT x FROM {n} ORDER BY x"
    assert [r[0] for r in engine.sql(q).collect()] == [
        r[0] for r in con.execute(q).fetchall()
    ] == [10, 20, 30]
    engine.exec(f"DROP TABLE {n}")
    con.close()


def test_ctas_or_replace_failed_body_keeps_target(engine):
    """A body that fails analysis/write must leave the existing target
    untouched (materialize-to-staging, then swap)."""
    n = "__r12_keep"
    engine.exec(f"DROP TABLE IF EXISTS {n}")
    engine.sql(f"CREATE TABLE {n} AS SELECT 42 AS x")
    with pytest.raises(AnalysisException):
        engine.sql(f"CREATE OR REPLACE TABLE {n} AS SELECT no_such_col FROM {n}")
    assert [r[0] for r in engine.sql(f"SELECT x FROM {n}").collect()] == [42]
    engine.exec(f"DROP TABLE {n}")


def test_ctas_or_replace_rename_failure_restores_original(engine, monkeypatch):
    """Inject a one-shot failure into the promotion RENAME: the swap must
    restore the original table (via the backup name) and drop the staging
    table — never lose both copies the way drop-then-rename could."""
    n = "__r13_swapfail"
    engine.exec(f"DROP TABLE IF EXISTS {n}")
    engine.sql(f"CREATE TABLE {n} AS SELECT 1 AS x")
    spark = engine.spark
    real_sql = spark.sql
    fails = {"left": 1}

    def flaky(stmt, *a, **kw):
        if (
            isinstance(stmt, str)
            and "RENAME TO" in stmt
            and stmt.rstrip().endswith(f"`{n}`")
            and fails["left"] > 0
        ):
            fails["left"] -= 1
            raise RuntimeError("injected catalog hiccup")
        return real_sql(stmt, *a, **kw)

    monkeypatch.setattr(spark, "sql", flaky)
    with pytest.raises(RuntimeError, match="injected catalog hiccup"):
        engine.sql(f"CREATE OR REPLACE TABLE {n} AS SELECT 2 AS x")
    monkeypatch.undo()
    # the original contents survive under the original name
    assert [r[0] for r in engine.sql(f"SELECT x FROM {n}").collect()] == [1]
    # no staging/backup tables leak
    leftovers = [
        t.name for t in spark.catalog.listTables() if "__ctas_swap" in t.name
    ]
    assert leftovers == []
    engine.exec(f"DROP TABLE {n}")


def test_ctas_or_replace_still_swaps_cleanly(engine):
    """The happy path through the new backup-swap: replaced contents land,
    nothing leaks."""
    n = "__r13_swapok"
    engine.exec(f"DROP TABLE IF EXISTS {n}")
    engine.sql(f"CREATE TABLE {n} AS SELECT 1 AS x")
    engine.sql(f"CREATE OR REPLACE TABLE {n} AS SELECT x + 10 AS x FROM {n}")
    assert [r[0] for r in engine.sql(f"SELECT x FROM {n}").collect()] == [11]
    leftovers = [
        t.name for t in engine.spark.catalog.listTables() if "__ctas_swap" in t.name
    ]
    assert leftovers == []
    engine.exec(f"DROP TABLE {n}")


def test_ctas_or_replace_ignores_stale_staging_dirs(engine):
    """A process that died mid-swap leaves ``__ctas_swap_<n>`` directories
    in the warehouse.  Staging names must not be derived from a counter
    that restarts in every process, or the next OR REPLACE fails with
    LOCATION_ALREADY_EXISTS and the target keeps its old rows."""
    import os
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(engine.spark.conf.get("spark.sql.warehouse.dir")).path
    # the names such a counter gives a process's first 200 swaps
    stale = [os.path.join(warehouse, f"__ctas_swap_{i}") for i in range(1, 201)]
    stale = [d for d in stale if not os.path.exists(d)]  # remove only ours
    n = "__r13_swapstale"
    engine.exec(f"DROP TABLE IF EXISTS {n}")
    try:
        for d in stale:  # Spark only refuses a non-empty location
            os.makedirs(d, exist_ok=True)
            open(os.path.join(d, "part-00000.parquet"), "wb").close()
        engine.sql(f"CREATE TABLE {n} AS SELECT 1 AS x")
        engine.sql(f"CREATE OR REPLACE TABLE {n} AS SELECT 2 AS x")
        assert [r[0] for r in engine.sql(f"SELECT x FROM {n}").collect()] == [2]
    finally:
        for d in stale:
            shutil.rmtree(d, ignore_errors=True)
        engine.exec(f"DROP TABLE IF EXISTS {n}")


def test_ctas_backup_drop_failure_does_not_fail_the_swap(engine, monkeypatch):
    """ADVICE r13: once the OR REPLACE promotion has succeeded, a failure
    dropping the internal backup table must not surface as a CTAS error
    — the swap is done; the backup is leftover disk."""
    n = "__r14_bakdrop"
    engine.exec(f"DROP TABLE IF EXISTS {n}")
    engine.sql(f"CREATE TABLE {n} AS SELECT 1 AS x")
    spark = engine.spark
    real_sql = spark.sql
    fails = {"left": 1}

    def flaky(stmt, *a, **kw):
        if (
            isinstance(stmt, str)
            and stmt.startswith("DROP TABLE IF EXISTS `__ctas_swap")
            and stmt.rstrip().endswith("_bak`")
            and fails["left"] > 0
        ):
            fails["left"] -= 1
            raise RuntimeError("injected drop hiccup")
        return real_sql(stmt, *a, **kw)

    monkeypatch.setattr(spark, "sql", flaky)
    engine.sql(f"CREATE OR REPLACE TABLE {n} AS SELECT 2 AS x")  # must not raise
    monkeypatch.undo()
    assert [r[0] for r in engine.sql(f"SELECT x FROM {n}").collect()] == [2]
    # the backup leaked by the injected failure is discoverable + droppable
    leftovers = [t.name for t in spark.catalog.listTables() if "__ctas_swap" in t.name]
    for t in leftovers:
        real_sql(f"DROP TABLE IF EXISTS `{t}`")
    engine.exec(f"DROP TABLE {n}")
