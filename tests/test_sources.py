"""Format dispatch + folder import fixtures (FIXTURES.md §2, operators A1-A5).

One logical table written in all four admitted encodings plus a .txt decoy;
the folder import must register the four and skip the decoy, and the union
view must merge multiple parquet files with schema evolution.
"""

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import urlparse

import pytest

from parquet_query_spark.engine import Engine
from parquet_query_spark.plans import stage_metrics
from parquet_query_spark.sources.registry import collect_files, is_supported_file_path


ROWS = [
    {"id": 1, "name": "plain", "score": 1.5, "active": True, "note": "a"},
    {"id": 2, "name": 'quo"te, comma', "score": -2.25, "active": False, "note": None},
    {"id": 3, "name": "línea\nnova", "score": 0.0, "active": True, "note": "c"},
]


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory, spark):
    d = tmp_path_factory.mktemp("formats")
    import pandas as pd

    pdf = pd.DataFrame(ROWS)
    pdf.to_parquet(d / "t.parquet", index=False)
    pdf.to_csv(d / "t.csv", index=False)
    (d / "t.json").write_text(json.dumps(ROWS))
    (d / "t.ndjson").write_text("\n".join(json.dumps(r) for r in ROWS))
    (d / "decoy.txt").write_text("not data")
    sub = d / "more"
    sub.mkdir()
    pd.DataFrame(
        [{"id": 4, "name": "extra", "score": 9.0, "active": False, "note": "d", "extra_col": 7}]
    ).to_parquet(sub / "t2.parquet", index=False)
    return str(d)


def test_is_supported_file_path():
    assert is_supported_file_path("a/b.PARQUET")
    assert is_supported_file_path("x.ndjson")
    assert not is_supported_file_path("x.txt")
    assert not is_supported_file_path("x.parquet.bak")


def test_collect_files_recurses_and_filters(fixture_dir):
    files = [f.path for f in collect_files(fixture_dir)]
    # os.walk yields the root's files first, then subdirectories
    assert files == ["t.csv", "t.json", "t.ndjson", "t.parquet", "more/t2.parquet"]


def test_each_format_readable(spark, fixture_dir):
    eng = Engine.open(fixture_dir, spark=spark)
    for path in ["t.parquet", "t.csv", "t.json", "t.ndjson"]:
        res = eng.run(f"SELECT count(*) AS n FROM '{path}'")
        assert res.rows == [["3"]], path


def test_json_array_and_ndjson_agree(spark, fixture_dir):
    eng = Engine.open(fixture_dir, spark=spark)
    a = eng.run("SELECT id, name FROM 't.json' ORDER BY id").rows
    b = eng.run("SELECT id, name FROM 't.ndjson' ORDER BY id").rows
    assert a == b


def test_union_view_merges_schema(spark, fixture_dir):
    eng = Engine.open(fixture_dir, table_name="unioned", spark=spark)
    res = eng.run("SELECT count(*) AS n, count(extra_col) AS with_extra FROM unioned")
    # 3 rows from t.parquet (extra_col null) + 1 from more/t2.parquet
    assert res.rows == [["4", "1"]]


def test_empty_buffer_raises_clean_error(spark):
    eng = Engine(spark=spark)
    with pytest.raises(ValueError, match="no SQL statement"):
        eng.run("   -- only a comment\n")


def _write_rows(path, n, row_group_size=None):
    """A parquet file of ``n`` int rows in groups of ``row_group_size``
    rows (one group by default)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": list(range(n))}), path, row_group_size=row_group_size or n)


def test_restage_fixes_fat_row_groups(spark, tmp_path):
    """A file with a few fat row groups must be restaged so scan-side
    compute parallelizes (the 64x regression: 3 row groups -> 3 of 32
    cores -> minhash signatures 149s instead of 13s)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_query_spark.sources.registry import (
        _STAGE_MIN_ROWS,
        _needs_restage,
        _parquet_footer,
        _stage_width,
        load_table,
    )

    n = 30_000
    tbl = pa.table({"doc_id": list(range(n)), "text": ["word " * 10] * n})
    path = tmp_path / "documents.parquet"
    pq.write_table(tbl, path, row_group_size=n // 3 + 1)  # 3 fat groups
    assert pq.ParquetFile(path).metadata.num_row_groups <= 3
    footer = _parquet_footer(spark, str(path))
    assert _needs_restage(footer, _stage_width(spark, footer))
    df = load_table(spark, str(tmp_path), "documents")
    assert df.rdd.getNumPartitions() == min(
        spark.sparkContext.defaultParallelism, n // _STAGE_MIN_ROWS
    )
    assert df.count() == n


def test_tiny_tables_not_restaged(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_query_spark.sources.registry import _needs_restage, _parquet_footer, _stage_width

    tbl = pa.table({"k": [1, 2, 3]})
    path = tmp_path / "region.parquet"
    pq.write_table(tbl, path)
    footer = _parquet_footer(spark, str(path))
    assert not _needs_restage(footer, _stage_width(spark, footer))


def test_restage_width_is_the_slot_count(spark, tmp_path):
    """A one-group file with at least ``slots × 1000`` rows restages into
    exactly one file per task slot and scans in that many partitions."""
    from parquet_query_spark.sources.registry import load_table

    slots = spark.sparkContext.defaultParallelism
    n = slots * 1000 + 500
    _write_rows(tmp_path / "lineitem.parquet", n)
    df = load_table(spark, str(tmp_path), "lineitem")
    assert len(df.inputFiles()) == slots
    assert df.rdd.getNumPartitions() == slots
    assert df.count() == n


def test_restage_width_capped_by_rows(spark, tmp_path):
    """A one-group file with fewer than ``slots × 1000`` rows restages into
    ``rows // 1000`` files, not one per slot."""
    from parquet_query_spark.sources.registry import load_table

    slots = spark.sparkContext.defaultParallelism
    if slots < 3:
        pytest.skip("needs at least 3 task slots")
    n = (slots - 1) * 1000 + 500
    _write_rows(tmp_path / "orders.parquet", n)
    df = load_table(spark, str(tmp_path), "orders")
    assert len(df.inputFiles()) == n // 1000 == slots - 1
    assert sorted(r.k for r in df.collect()) == list(range(n))


@pytest.mark.parametrize("layout", ["enough_groups", "thin_groups"])
def test_not_restaged_when_groups_cover_the_width(spark, tmp_path, layout):
    """A file with at least ``width`` row groups, or with fewer than 1000
    rows per group, is read in place."""
    from parquet_query_spark.sources.registry import (
        _needs_restage,
        _parquet_footer,
        _stage_width,
        load_table,
    )

    slots = spark.sparkContext.defaultParallelism
    if layout == "enough_groups":
        n, group = slots * 2000, 2000  # slots groups, width slots
    else:
        n, group = (slots + 1) * 900, 900  # slots + 1 groups, width ≤ slots
    path = tmp_path / "customer.parquet"
    _write_rows(path, n, row_group_size=group)
    footer = _parquet_footer(spark, str(path))
    width = _stage_width(spark, footer)
    assert footer.meta.getBlocks().size() >= width
    assert not _needs_restage(footer, width)
    df = load_table(spark, str(tmp_path), "customer")
    assert [os.path.basename(f) for f in df.inputFiles()] == ["customer.parquet"]


def test_views_restage_runs_one_shuffle_and_write(spark, tmp_path):
    """``catalog.views`` over a folder whose one table needs a restage runs
    exactly 2 jobs (the shuffle map stage, then the write), and the write
    stage has ``width`` tasks."""
    from parquet_query_spark.operators.catalog import views

    slots = spark.sparkContext.defaultParallelism
    n = slots * 1000 + 500
    _write_rows(tmp_path / "documents.parquet", n)
    frames, jobs, stages = stage_metrics(spark, lambda: views(spark, str(tmp_path)))
    assert len(jobs) == 2
    assert max(s["tasks"] for s in stages) == slots
    assert frames["documents"].count() == n


def test_concurrent_restages_keep_one_copy(spark, tmp_path):
    """Two loads restaging one table at once end with one readable staged
    copy holding every row: the second rename finds the leaf and drops its
    own copy."""
    from parquet_query_spark.sources.registry import load_table

    slots = spark.sparkContext.defaultParallelism
    n = slots * 1000 + 500
    _write_rows(tmp_path / "part.parquet", n)
    barrier = threading.Barrier(2)

    def load(_):
        barrier.wait(timeout=60)
        return load_table(spark, str(tmp_path), "part")

    with ThreadPoolExecutor(2) as ex:
        frames = list(ex.map(load, range(2), timeout=300))
    leaves = {os.path.dirname(urlparse(f).path) for df in frames for f in df.inputFiles()}
    assert len(leaves) == 1
    (leaf,) = leaves
    assert os.listdir(os.path.dirname(leaf)) == [os.path.basename(leaf)]
    for df in frames:
        assert sorted(r.k for r in df.collect()) == list(range(n))


def test_staging_root_removed_at_exit(tmp_path):
    """A process that restages a table leaves no ``pqs_ingest_stage_*``
    dir in its temp dir once it exits."""
    import subprocess
    import sys

    _write_rows(tmp_path / "documents.parquet", 3000)
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    code = (
        "import os, sys\n"
        "from parquet_query_spark.session import get_spark\n"
        "from parquet_query_spark.sources.registry import load_table\n"
        "df = load_table(get_spark('restage-exit', cpus=2), sys.argv[1], 'documents')\n"
        "assert len(df.inputFiles()) == 2 and df.count() == 3000\n"
        "print(sorted(os.listdir(os.environ['TMPDIR'])))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TMPDIR=str(tmpdir), PYTHONPATH=root, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "pqs_ingest_stage_" in out.stdout
    assert not [n for n in os.listdir(tmpdir) if n.startswith("pqs_ingest_stage_")]


def test_nanos_parquet_read_once(spark, tmp_path):
    """A TIMESTAMP(NANOS) file costs no job (its schema comes from the
    footer on the driver) and reads back as micros."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = 1_700_000_000_123_456_789
    tbl = pa.table({"ts": pa.array([ns], pa.timestamp("ns")), "k": [1]})
    pq.write_table(tbl, tmp_path / "ts.parquet", version="2.6")
    assert str(pq.read_schema(tmp_path / "ts.parquet").field("ts").type) == "timestamp[ns]"
    eng, jobs, _ = stage_metrics(spark, lambda: Engine.open(str(tmp_path), spark=spark))
    assert len(jobs) == 0
    df = eng.registry["ts.parquet"]
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.selectExpr("unix_micros(ts) AS us").first().us == ns // 1000


def test_stage_path_root_initialised_once(monkeypatch, tmp_path):
    """Concurrent loads share one staging root: the first-use mkdtemp runs
    once however many threads race to it."""
    import tempfile

    from parquet_query_spark.sources import registry

    calls = []

    def slow_mkdtemp(prefix=""):
        calls.append(prefix)
        time.sleep(0.05)
        return str(tmp_path / f"root{len(calls)}")

    monkeypatch.setattr(registry, "_staging_root", None)
    monkeypatch.setattr(tempfile, "mkdtemp", slow_mkdtemp)
    n = 8
    barrier = threading.Barrier(n)

    def stage(i):
        barrier.wait(timeout=60)
        return registry._stage_path(str(tmp_path / "sf"), f"t{i}", 4)

    with ThreadPoolExecutor(n) as ex:
        paths = list(ex.map(stage, range(n), timeout=60))
    assert len(calls) == 1
    assert {os.path.dirname(os.path.dirname(p)) for p in paths} == {registry._staging_root}


def test_colliding_view_names_keep_their_own_rows(spark, tmp_path):
    """``a/b.parquet`` and ``a_b.parquet`` sanitize to the same view name;
    each path literal and each registered view still reads its own file."""
    import pandas as pd

    from parquet_query_spark.sources.registry import assign_view_names

    (tmp_path / "a").mkdir()
    pd.DataFrame({"id": [1, 2]}).to_parquet(tmp_path / "a" / "b.parquet", index=False)
    pd.DataFrame({"id": [10, 20, 30]}).to_parquet(tmp_path / "a_b.parquet", index=False)
    eng = Engine.open(str(tmp_path), table_name="both", spark=spark)
    names = assign_view_names(f.path for f in collect_files(str(tmp_path)))
    assert len(set(names.values())) == 2
    expected = {"a/b.parquet": [["2", "3"]], "a_b.parquet": [["3", "60"]]}
    for path, rows in expected.items():
        sql = "SELECT count(*) AS n, sum(id) AS s FROM {}"
        assert eng.run(sql.format(f"'{path}'")).rows == rows, path
        assert eng.run(sql.format(names[path])).rows == rows, names[path]
    assert eng.run("SELECT count(*) AS n FROM both").rows == [["5"]]


def test_corrupt_parquet_fails_open(spark, tmp_path):
    """One unreadable ``.parquet`` among good files makes ``Engine.open``
    raise (promptly, not by hanging) rather than return a partial registry."""
    import pandas as pd

    pd.DataFrame({"id": [1]}).to_parquet(tmp_path / "a.parquet", index=False)
    (tmp_path / "b.parquet").write_bytes(b"PAR1 this is not a parquet file")
    pd.DataFrame({"id": [2]}).to_parquet(tmp_path / "c.parquet", index=False)
    with ThreadPoolExecutor(1) as ex:
        fut = ex.submit(Engine.open, str(tmp_path), "u", spark)
        with pytest.raises(Exception, match="b.parquet"):
            fut.result(timeout=300)


def test_open_jobs_run_under_callers_job_group(spark, fixture_dir):
    """Schema-inference jobs launched on the registration pool count under
    the caller's job group: at least one job per CSV/JSON file (parquet
    files run none)."""
    _, jobs, _ = stage_metrics(
        spark, lambda: Engine.open(fixture_dir, table_name="unioned", spark=spark)
    )
    non_parquet = [f for f in collect_files(fixture_dir) if not f.path.endswith(".parquet")]
    assert non_parquet
    assert len(jobs) >= len(non_parquet)


def test_repeated_open_pins_no_new_jvm_threads(spark, fixture_dir):
    """Registration reuses one shared pool: ten opens add at most the pool's
    size in py4j-serving JVM threads (one per pinned Python thread).
    Spark's own cached pools (block-manager-*) grow independently of
    registration, so the count is of threads running py4j code."""
    from parquet_query_spark.sources.registry import _POOL_SIZE

    jvm = spark._jvm

    def py4j_threads():
        stacks = jvm.java.lang.Thread.getAllStackTraces()
        return sum(
            any(f.getClassName().startswith("py4j.") for f in stacks.get(t))
            for t in stacks.keySet().toArray()
        )

    Engine.open(fixture_dir, table_name="unioned", spark=spark)
    first = py4j_threads()
    for _ in range(9):
        Engine.open(fixture_dir, table_name="unioned", spark=spark)
    assert py4j_threads() - first <= _POOL_SIZE


def test_parquet_only_open_runs_no_job(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i in range(3):
        pq.write_table(pa.table({"id": [i], f"c{i}": [str(i)]}), tmp_path / f"f{i}.parquet")
    eng, jobs, _ = stage_metrics(spark, lambda: Engine.open(str(tmp_path), table_name="u", spark=spark))
    assert jobs == []
    assert eng.run("SELECT count(*) AS n FROM u").rows == [["3"]]


def test_glob_literal_infers_once_and_sees_new_files(spark, tmp_path):
    """A parquet glob literal that names no registered file resolves
    through a view cached per file set: analysing it three times runs at
    most one job, and a file added to the directory shows up next run."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    (tmp_path / "g").mkdir()
    pq.write_table(pa.table({"id": [1, 2]}), tmp_path / "g" / "a.parquet")
    eng = Engine(spark=spark, root=str(tmp_path))
    stmt = "SELECT count(*) AS n, sum(id) AS s FROM 'g/*.parquet'"
    _, jobs, _ = stage_metrics(spark, lambda: [eng.sql(stmt) for _ in range(3)])
    assert len(jobs) <= 1
    assert eng.run(stmt).rows == [["2", "3"]]
    pq.write_table(pa.table({"id": [10]}), tmp_path / "g" / "b.parquet")
    assert eng.run(stmt).rows == [["3", "13"]]


def test_path_views_belong_to_their_engine(spark, tmp_path):
    """Engines on one session, or on sessions sharing a context, each read
    their own files through the same relative literal."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i, root in enumerate(("r1", "r2")):
        (tmp_path / root / "g").mkdir(parents=True)
        pq.write_table(pa.table({"id": list(range(i + 1))}), tmp_path / root / "g" / "a.parquet")
    stmt = "SELECT count(*) AS n FROM 'g/*.parquet'"
    e1 = Engine(spark=spark, root=str(tmp_path / "r1"))
    e2 = Engine(spark=spark, root=str(tmp_path / "r2"))
    e3 = Engine(spark=spark.newSession(), root=str(tmp_path / "r1"))
    assert [e.run(stmt).rows for e in (e1, e2, e3, e1)] == [[["1"]], [["2"]], [["1"]], [["1"]]]


def test_unmergeable_glob_literal_keeps_sparks_scan(spark, tmp_path):
    """A glob whose files' schemas cannot merge (INT vs STRING) gets no
    footer view; the literal stays Spark's own path scan, which infers
    from one file as it always has."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    (tmp_path / "g").mkdir()
    pq.write_table(pa.table({"id": [1]}), tmp_path / "g" / "a.parquet")
    pq.write_table(pa.table({"id": ["one"]}), tmp_path / "g" / "b.parquet")
    eng = Engine(spark=spark, root=str(tmp_path))
    assert eng._path_view(str(tmp_path / "g" / "*.parquet"), "parquet") is None
    assert eng.sql("SELECT * FROM 'g/*.parquet'").columns == ["id"]
