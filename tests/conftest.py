import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from oracledb_datapump_spark.session import get_spark

    # r17: local[4] -> local[8] (the host has 32 cores; the suite was
    # wall-bounded by the shared session's width now that the two
    # full-surface sweeps overlap comparisons from thread pools).
    # shuffle_partitions stays 4 — file-count expectations in the
    # lifecycle tests key off it.
    s = get_spark(app_name="datapump-tests", master="local[8]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def duck(tmp_path):
    """A DuckDB connector preloaded with the sf0.001 star schema under
    schema 'test1' — the analog of the reference's HR-in-TEST1 fixture
    (reference tests/conftest.py:20-25)."""
    from oracledb_datapump_spark.catalog import DuckDbConnector

    con = DuckDbConnector(str(tmp_path / "source.duckdb"))
    con.load_parquet_dir("test1", SF_DIR)
    return con


@pytest.fixture()
def spark_jobs(spark):
    """A callable returning the id the next Spark job will get: the
    difference of two calls is the number of jobs run in between."""
    return lambda: int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@pytest.fixture()
def max_partition_bytes(spark):
    """A context manager factory: ``with max_partition_bytes("1k"):`` sets
    ``spark.sql.files.maxPartitionBytes`` for the block (None keeps the
    default) and unsets it after."""
    import contextlib

    @contextlib.contextmanager
    def capped(value):
        if value is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", value)
        try:
            yield
        finally:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")

    return capped


# every column type of the benchmark's many-tables ladder, each column null
# on some rows
LADDER_DDL = """CREATE TABLE lad.all_types (
    id BIGINT, i INTEGER, x DOUBLE, s VARCHAR, d DATE, ts TIMESTAMP,
    b BOOLEAN, m DECIMAL(12,2))"""
LADDER_ROWS = """INSERT INTO lad.all_types SELECT
    range,
    CASE WHEN range % 7 = 1 THEN NULL ELSE range * 7919 % 100003 - 50000 END,
    CASE WHEN range % 7 = 2 THEN NULL ELSE range * 1.25 - 10 END,
    CASE WHEN range % 7 = 3 THEN NULL ELSE 'v' || range END,
    CASE WHEN range % 7 = 4 THEN NULL ELSE DATE '1995-01-01' + range::INTEGER END,
    CASE WHEN range % 7 = 5 THEN NULL
         ELSE TIMESTAMP '2020-01-01 00:00:00' + range * INTERVAL 3601 SECOND END,
    CASE WHEN range % 7 = 6 THEN NULL ELSE range % 2 = 0 END,
    CASE WHEN range % 7 = 0 THEN NULL ELSE range * 123.45 - 999 END
    FROM range(40)"""


@pytest.fixture()
def ladder(tmp_path):
    """(source connector, its duckdb:// URI) holding lad.all_types (40
    rows) and lad.empty_t (0 rows, same columns)."""
    from oracledb_datapump_spark.catalog import DuckDbConnector

    path = str(tmp_path / "src.duckdb")
    src = DuckDbConnector(path)
    src.execute("CREATE SCHEMA lad")
    src.execute(LADDER_DDL)
    src.execute(LADDER_ROWS)
    src.execute("CREATE TABLE lad.empty_t AS SELECT * FROM lad.all_types LIMIT 0")
    return src, f"duckdb://{path}"
