"""Parquet schemas from footers on the driver (``sources.registry``).

Registration, ``catalog.views`` and path-literal scans take a parquet
file's schema from its footer, converted by Spark's own code, instead of
running a schema-inference job.  These tests hold that schema to what
Spark's inference returns for the same files (test_sources.py counts the
jobs registration still runs).
"""

import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_query_spark.engine import Engine
from parquet_query_spark.sources.registry import (
    _merged_schema,
    _parquet_footer,
    _parquet_parts,
    load_table,
    read_parquet,
)

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
NS = 1_700_000_000_123_456_789


def footer_schema(spark, path):
    return _merged_schema(spark, [_parquet_footer(spark, p) for p in _parquet_parts(path)])


def assert_parity(spark, path, inferred=None):
    """The footer schema equals Spark's inferred one, and a read with it
    gives the DataFrame schema (nullability included) an inferring read
    gives."""
    inferred = inferred if inferred is not None else spark.read.parquet(path).schema
    schema = footer_schema(spark, path)
    assert schema == inferred, path
    assert spark.read.schema(schema).parquet(path).schema == inferred, path


@pytest.fixture(scope="module")
def typed_dir(tmp_path_factory, spark):
    """Files covering the converter's special cases."""
    d = tmp_path_factory.mktemp("typed")
    ts = pa.array([NS, None], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "k": [1, 2]}), d / "nanos.parquet", version="2.6")
    pq.write_table(
        pa.table({"ts": pa.array([NS // 1000, None], pa.timestamp("us")), "k": [1, 2]}),
        d / "int96.parquet",
        use_deprecated_int96_timestamps=True,
    )
    pq.write_table(
        pa.table(
            {
                "d2": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(10, 2)),
                "d38": pa.array([decimal.Decimal("1.5"), None], pa.decimal128(38, 10)),
                "ntz": pa.array([1, None], pa.timestamp("us")),
                "utc": pa.array([1, None], pa.timestamp("us", tz="UTC")),
                "u32": pa.array([1, None], pa.uint32()),
                "bin": pa.array([b"x", None], pa.binary()),
                "lst": pa.array([[1, 2], None], pa.list_(pa.int32())),
                "st": pa.array([{"a": 1, "b": "x"}, None], pa.struct([("a", pa.int16()), ("b", pa.string())])),
                "mp": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int64())),
            }
        ),
        d / "decimal.parquet",
    )
    spark.range(6).selectExpr(
        "id",
        "CAST(id AS DECIMAL(12, 3)) AS d",
        "TIMESTAMP '2024-01-02 03:04:05' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
        "array(id, id + 1) AS a",
        "map('k', id) AS m",
        "named_struct('x', id, 'y', CAST(id AS STRING)) AS s",
    ).repartition(3).write.parquet(str(d / "spark_written.parquet"))
    return d


def test_footer_schema_matches_inference_on_test_data(spark, sf_dir):
    paths = sorted(glob.glob(os.path.join(DATA_DIR, "*.parquet")))
    paths += sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    assert len(paths) >= 14
    for path in paths:
        assert_parity(spark, path)


def test_footer_schema_matches_inference_on_special_types(spark, typed_dir):
    for name in ("nanos", "int96", "decimal", "spark_written"):
        assert_parity(spark, str(typed_dir / f"{name}.parquet"))
    parts = _parquet_parts(str(typed_dir / "spark_written.parquet"))
    assert len(parts) == 3
    assert all(p.endswith(".parquet") for p in parts)  # _SUCCESS, .crc skipped
    assert_parity(spark, parts[0])


def test_directory_whose_parts_differ_gets_the_merged_schema(spark, tmp_path):
    """Plain inference reads one part's footer, whichever the listing gives
    first; the footer step merges every part, so a directory whose parts
    differ gets the schema a ``mergeSchema`` read infers."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"b": ["x"], "a": [1]}), d / "part-0.parquet")
    pq.write_table(pa.table({"a": [2], "c": [0.5]}), d / "part-1.parquet")
    merged = spark.read.option("mergeSchema", True).parquet(str(d)).schema
    assert merged.names == ["b", "a", "c"]
    assert_parity(spark, str(d), merged)
    rows = read_parquet(spark, [str(d)]).orderBy("a").collect()
    assert [tuple(r) for r in rows] == [("x", 1, None), (None, 2, 0.5)]


def test_union_schema_matches_merge_inference(spark, tmp_path):
    """The union view's schema is the per-file schemas merged in sorted
    path order — a root file after a subdirectory's file — with an
    ``A``/``a`` pair merged case-insensitively, as the session is."""
    (tmp_path / "a").mkdir()
    pq.write_table(pa.table({"id": [1], "A": ["x"]}), tmp_path / "z.parquet")
    pq.write_table(pa.table({"extra": [2.5], "a": ["y"], "id": [2]}), tmp_path / "a" / "x.parquet")
    eng = Engine.open(str(tmp_path), table_name="u", spark=spark)
    paths = sorted(str(p) for p in tmp_path.rglob("*.parquet"))
    inferred = spark.read.option("mergeSchema", True).parquet(*paths).schema
    union = eng.registry["u"]
    assert union.schema == inferred
    assert union.columns == ["extra", "a", "id"]
    got = sorted((tuple(r) for r in eng.run("SELECT * FROM u").df.collect()), key=lambda r: r[2])
    assert got == [(None, "x", 1), (2.5, "y", 2)]


def test_incompatible_union_still_fails_open(spark, tmp_path):
    pq.write_table(pa.table({"id": [1]}), tmp_path / "a.parquet")
    pq.write_table(pa.table({"id": ["one"]}), tmp_path / "b.parquet")
    with pytest.raises(Exception, match="(?i)merge|incompatible"):
        Engine.open(str(tmp_path), table_name="u", spark=spark)


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_nanos_repaired_in_both_table_layouts(spark, tmp_path, layout):
    """``<name>.parquet`` as one file and as a directory of part files both
    read a TIMESTAMP(NANOS) column as a timestamp in micros."""
    sf = tmp_path / layout
    sf.mkdir()
    tables = [pa.table({"ts": pa.array([NS + i], pa.timestamp("ns")), "k": [i]}) for i in range(2)]
    if layout == "file":
        pq.write_table(pa.concat_tables(tables), sf / "events.parquet", version="2.6")
    else:
        (sf / "events.parquet").mkdir()
        for i, t in enumerate(tables):
            pq.write_table(t, sf / "events.parquet" / f"part-{i}.parquet", version="2.6")
    df = load_table(spark, str(sf), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = df.selectExpr("k", "unix_micros(ts) AS us").orderBy("k").collect()
    assert [r.us for r in got] == [(NS + i) // 1000 for i in range(2)]


def test_restaged_copy_keeps_the_schema(spark, tmp_path):
    """A restaged table (one fat row group) reads back with the schema it
    was written with, and the same rows."""
    n = 5000
    tbl = pa.table({"k": list(range(n)), "ts": pa.array([NS] * n, pa.timestamp("ns"))})
    pq.write_table(tbl, tmp_path / "documents.parquet", version="2.6")
    df = load_table(spark, str(tmp_path), "documents")
    assert df.rdd.getNumPartitions() > 1
    assert dict(df.dtypes) == {"k": "bigint", "ts": "timestamp"}
    assert df.count() == n
