"""One Spark job per table move, and the target fingerprint it records.

A plain EXPORT of a small table is one Spark job (the dump write: the
DuckDB read coalesces a table below ``spark.sql.files.maxPartitionBytes``
into one partition, so one file, without a shuffle) and a plain IMPORT
of it is one job (a flat parquet dump is read with the manifest's
schema, and the target's fingerprint is taken on the write).

Every IMPORT and NETWORK_LINK transfer records the target's row count and
content digest in its ``TABLE_*_DONE`` event; ``Job.restart()`` trusts
them to skip a table. When the connector created or replaced the target
from the written frame, the engine takes them from an ``Observation`` on
that write; every other write reads the target back with
``engine.table_fingerprint``. Either way the recorded pair must equal a
fresh read-back, for every type of the benchmark's many-tables ladder.
"""

import os
import threading

import pytest

from oracledb_datapump_spark import engine
from oracledb_datapump_spark.catalog import (
    DuckDbConnector,
    ParquetConnector,
    SqliteConnector,
)
from oracledb_datapump_spark.directives import DirectiveBase as D
from oracledb_datapump_spark.dumpset import DumpSet
from oracledb_datapump_spark.job import Job

TABLES = ("all_types", "empty_t")


def _export(spark, src, dump, tables=TABLES):
    st = Job(
        "EXPORT", "TABLE", dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("lad"), D.PARALLEL(2)]
        + [D.INCLUDE_TABLE(t) for t in tables],
    ).run(wait=True, connection=src, spark=spark)
    assert st.job_state == "COMPLETED", st.error


def _import(spark, tgt, dump, schema, directives, tables=TABLES):
    n0 = len(list(DumpSet(dump).read_events()))
    st = Job(
        "IMPORT", "TABLE", dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("lad"), D.REMAP_SCHEMA("lad", schema)]
        + [D.INCLUDE_TABLE(t) for t in tables]
        + list(directives),
    ).run(wait=True, connection=tgt, spark=spark)
    assert st.job_state == "COMPLETED", st.error
    return list(DumpSet(dump).read_events())[n0:]


def _counting_fingerprint(monkeypatch):
    """Count the engine's read-back fingerprints; returns (calls, the
    unpatched function)."""
    real, calls = engine.table_fingerprint, []

    def counted(df):
        calls.append(1)
        return real(df)

    monkeypatch.setattr(engine, "table_fingerprint", counted)
    return calls, real


def _assert_recorded_equals_readback(spark, tgt, evs, op, fingerprint, tables):
    dones = [e for e in evs if e["event"] == f"TABLE_{op}_DONE"]
    assert sorted(e["table"].split(".")[1] for e in dones) == sorted(tables)
    for e in dones:
        schema, table = e["table"].split(".")
        recorded = (e["target_rows"] if op == "IMPORT" else e["rows"], e["target_digest"])
        assert recorded == fingerprint(tgt.read_table(spark, schema, table)), e
        if table == "empty_t":
            assert recorded == (0, "0")


def _target(kind, tmp_path):
    if kind == "parquet":
        return ParquetConnector(str(tmp_path / "wh"))
    return DuckDbConnector(str(tmp_path / "tgt.duckdb"))


# -- one job per table ------------------------------------------------------


def test_small_table_moves_with_no_spark_job(spark, tmp_path, spark_jobs):
    """A 10-row DuckDB table at PARALLEL(4) takes the Arrow lane: no job
    and one part file to export it, no job to import it. Through Spark
    it took one job each way; before the size rule the export shuffled
    the table over PARALLEL partitions (3 jobs, 4 files), and the import
    inferred the dump schema and read the target back (4 jobs)."""
    src = DuckDbConnector(str(tmp_path / "src.duckdb"))
    src.execute("CREATE SCHEMA s")
    src.execute("CREATE TABLE s.t AS SELECT range AS id, 'v' || range AS v FROM range(10)")
    dump = str(tmp_path / "dump")
    j0 = spark_jobs()
    st = Job(
        "EXPORT", "TABLE", dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("s"), D.INCLUDE_TABLE("t"), D.PARALLEL(4)],
    ).run(wait=True, connection=src, spark=spark)
    assert st.job_state == "COMPLETED", st.error
    j1 = spark_jobs()
    st = Job(
        "IMPORT", "TABLE", dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("s"), D.REMAP_SCHEMA("s", "s2"), D.PARALLEL(4)],
    ).run(wait=True, connection=src, spark=spark)
    assert st.job_state == "COMPLETED", st.error
    j2 = spark_jobs()
    parts = [
        n for n in os.listdir(DumpSet(dump).table_dir("s", "t"))
        if n.startswith("part-")
    ]
    assert (j1 - j0, j2 - j1, len(parts)) == (0, 0, 1)
    assert src.execute("SELECT count(*) FROM s2.t").fetchone()[0] == 10


# -- fingerprint on the write -----------------------------------------------


@pytest.mark.parametrize("kind", ["parquet", "duckdb"])
@pytest.mark.parametrize("action", ["SKIP", "REPLACE"])
def test_created_target_digest_taken_on_write(spark, tmp_path, monkeypatch, ladder, kind, action):
    """Under SKIP (the default) the import creates each target; under
    REPLACE it replaces targets a first import created. Either way no
    target is read back, and the recorded pair equals the read-back."""
    src, _ = ladder
    dump, tgt = str(tmp_path / "dump"), _target(kind, tmp_path)
    _export(spark, src, dump)
    if action == "REPLACE":
        _import(spark, tgt, dump, "out", [])
    calls, fingerprint = _counting_fingerprint(monkeypatch)
    directives = [] if action == "SKIP" else [D.TABLE_EXISTS_ACTION("REPLACE")]
    evs = _import(spark, tgt, dump, "out", directives)
    assert calls == []
    _assert_recorded_equals_readback(spark, tgt, evs, "IMPORT", fingerprint, TABLES)


@pytest.mark.parametrize("kind", ["parquet", "duckdb"])
def test_transferred_target_digest_taken_on_write(spark, tmp_path, monkeypatch, ladder, kind):
    _, uri = ladder
    events, tgt = str(tmp_path / "ev"), _target(kind, tmp_path)
    calls, fingerprint = _counting_fingerprint(monkeypatch)
    st = Job(
        "IMPORT", "TABLE", dumpfiles=events,
        directives=[
            D.INCLUDE_SCHEMA("lad"),
            D.NETWORK_LINK(uri),
            D.REMAP_SCHEMA("lad", "out"),
            D.TABLE_EXISTS_ACTION("REPLACE"),
        ] + [D.INCLUDE_TABLE(t) for t in TABLES],
    ).run(wait=True, connection=tgt, spark=spark)
    assert st.job_state == "COMPLETED", st.error
    assert calls == []
    evs = list(DumpSet(events).read_events())
    _assert_recorded_equals_readback(spark, tgt, evs, "TRANSFER", fingerprint, TABLES)


# -- read-back fallback -----------------------------------------------------


def _readback_case(name, tmp_path):
    """(target, remapped schema, directives of the second import); the
    first import creates the target."""
    if name == "csv":
        return ParquetConnector(str(tmp_path / "csv_wh"), fmt="csv"), "out", [
            D.TABLE_EXISTS_ACTION("REPLACE")
        ]
    if name == "sqlite":
        return SqliteConnector(str(tmp_path / "t.db")), "main", [
            D.TABLE_EXISTS_ACTION("REPLACE")
        ]
    tgt = DuckDbConnector(str(tmp_path / "tgt.duckdb"))
    extra = [D.MERGE_KEY("id")] if name == "MERGE" else []
    return tgt, "out", [D.TABLE_EXISTS_ACTION(name)] + extra


@pytest.mark.parametrize("name", ["APPEND", "TRUNCATE", "MERGE", "csv", "sqlite"])
def test_readback_kept_where_frame_is_not_the_target(spark, tmp_path, monkeypatch, ladder, name):
    """Appends, truncates and merges write into a table the frame is
    only part of; CSV and SQLite targets change types on the way in. All
    of them keep the read-back, and record its value."""
    src, _ = ladder
    dump = str(tmp_path / "dump")
    tgt, schema, directives = _readback_case(name, tmp_path)
    _export(spark, src, dump, tables=["all_types"])
    _import(spark, tgt, dump, schema, [], tables=["all_types"])
    calls, fingerprint = _counting_fingerprint(monkeypatch)
    evs = _import(spark, tgt, dump, schema, directives, tables=["all_types"])
    assert len(calls) >= 1
    _assert_recorded_equals_readback(spark, tgt, evs, "IMPORT", fingerprint, ["all_types"])


class CreatedConcurrently(DuckDbConnector):
    """A target another session creates between the engine's exists
    check and its SKIP (``ignore``) write, so that write does not run."""

    def write_table(self, df, schema, table, **kwargs):
        self.ensure_schema(schema)
        self.execute(f"CREATE TABLE {schema}.{table} AS SELECT 7 AS id")
        return super().write_table(df, schema, table, **kwargs)


def test_ignore_write_that_did_not_run_reads_back(spark, tmp_path, ladder):
    """The observation of a write that never ran has no value; waiting
    for one would hang the job. The engine reads the target back."""
    src, _ = ladder
    dump = str(tmp_path / "dump")
    tgt = CreatedConcurrently(str(tmp_path / "tgt.duckdb"))
    _export(spark, src, dump, tables=["all_types"])
    box = {}
    worker = threading.Thread(
        target=lambda: box.setdefault(
            "evs", _import(spark, tgt, dump, "out", [], tables=["all_types"])
        ),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=180)
    assert not worker.is_alive(), "import blocked on an observation"
    (done,) = [e for e in box["evs"] if e["event"] == "TABLE_IMPORT_DONE"]
    assert (done["target_rows"], done["target_digest"]) == engine.table_fingerprint(
        tgt.read_table(spark, "out", "all_types")
    )
    assert done["target_rows"] == 1  # the concurrently created table
