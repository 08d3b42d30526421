import functools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from parquet_query_spark.session import get_spark

    spark = get_spark("parquet_query_spark-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def views(spark, sf_dir):
    """The driver tables as DataFrames, also registered as session temp
    views under their bare names for tests that query them in SQL text
    (the catalog operators themselves register nothing)."""
    from parquet_query_spark.operators.catalog import views as load_views

    frames = load_views(spark, sf_dir)
    for name, df in frames.items():
        df.createOrReplaceTempView(name)
    return frames


@pytest.fixture(scope="session")
def catalog():
    from parquet_query_spark.operators.catalog import load_all

    return load_all()


@pytest.fixture(scope="session")
def oracle_con():
    """One DuckDB connection over ORACLE_SF_DIR (the driver's scale)."""
    from parquet_query_spark.oracle import duckdb_connection

    con = duckdb_connection(ORACLE_SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def oracle_select(oracle_con, catalog):
    """``name -> SQL`` reading an operator's oracle result on
    ``oracle_con``.  The oracle runs once per session, into a temp table
    that every read uses (the parity compare, the pandas dtype check)."""

    @functools.cache
    def select(name: str) -> str:
        table = f"oracle_{name}"
        oracle_con.execute(f"CREATE TEMP TABLE {table} AS {catalog[name].oracle}")
        return f"SELECT * FROM {table}"

    return select


@pytest.fixture(scope="session")
def engine(sf_dir):
    """An ``Engine`` over ``sf_dir``; test files that need their own
    engine define a module-level ``engine`` fixture, which takes
    precedence."""
    from parquet_query_spark.engine import Engine

    return Engine.open(sf_dir, table_name="alldata")


@pytest.fixture
def stream_drive(spark):
    """``() -> (query name, non-empty micro-batches)`` of the one streaming
    drive the test ran, from the progress events on Spark's listener bus.
    A drive's query name is its sink view's name."""
    from parquet_query_spark.plans import StreamLog

    log = StreamLog()
    spark.streams.addListener(log)
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def drive() -> tuple[str, int]:
        bus.waitUntilEmpty()
        ((name, rows),) = log.rows.items()
        return name, sum(n > 0 for n in rows)

    yield drive
    spark.streams.removeListener(log)
