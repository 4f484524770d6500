"""IMPORT checks the dump on disk against what its export recorded.

Before any row is written, the footers' row sum must equal the
manifest's ``rows`` and the data-file count its ``files``: a lost, a
truncated or an extra part file fails the table with
``TABLE_IMPORT_ERROR`` instead of importing a silently different table.
The check runs ahead of both import paths, the Arrow lane and Spark.
``DumpSet.compact`` rewrites a table's files, so it records the new
count, and a compacted dump still imports and still counts as intact
to ``Job.restart()``.
"""

import os
import shutil

import pyarrow.parquet as pq
import pytest

from oracledb_datapump_spark import engine
from oracledb_datapump_spark.catalog import DuckDbConnector, ParquetConnector
from oracledb_datapump_spark.directives import DirectiveBase as D
from oracledb_datapump_spark.dumpset import DumpSet
from oracledb_datapump_spark.job import Job


class StopOnFirstRead(ParquetConnector):
    """A source that requests a cooperative stop from within the first
    table's read: at PARALLEL(1) that table completes and the rest are
    not run."""

    job = None

    def read_table(self, spark, schema, table, **kwargs):
        if self.job is not None:
            self.job.stop()
            self.job = None
        return super().read_table(spark, schema, table, **kwargs)


@pytest.fixture()
def four_parts(spark, tmp_path, max_partition_bytes):
    """(source, dump, part files): a 4,000-row DuckDB table exported at
    PARALLEL(4) under a 1k ``maxPartitionBytes`` into 4 part files."""
    src = DuckDbConnector(str(tmp_path / "src.duckdb"))
    src.execute("CREATE SCHEMA s")
    src.execute("CREATE TABLE s.t AS SELECT range AS id, 'v' || range AS v FROM range(4000)")
    dump = str(tmp_path / "dump")
    with max_partition_bytes("1k"):
        st = Job(
            "EXPORT", "TABLE", dumpfiles=dump,
            directives=[D.INCLUDE_SCHEMA("s"), D.INCLUDE_TABLE("t"), D.PARALLEL(4)],
        ).run(wait=True, connection=src, spark=spark)
    assert st.job_state == "COMPLETED", st.error
    d = DumpSet(dump).table_dir("s", "t")
    parts = sorted(os.path.join(d, n) for n in os.listdir(d) if n.startswith("part-"))
    assert len(parts) == 4
    return src, dump, parts


def _intact(parts):
    pass


def _delete_part(parts):
    os.remove(parts[0])


def _truncate_last_part(parts):
    """The last part rewritten as a valid file that holds half its rows,
    its stale Hadoop checksum sidecar dropped."""
    table = pq.read_table(parts[-1])
    pq.write_table(table.slice(0, table.num_rows // 2), parts[-1])
    d, name = os.path.split(parts[-1])
    os.remove(os.path.join(d, f".{name}.crc"))


def _extra_part(parts):
    d, name = os.path.split(parts[0])
    shutil.copy(parts[0], os.path.join(d, "part-09999" + name[len("part-00000"):]))


@pytest.mark.parametrize("lane", ["arrow", "spark"])
@pytest.mark.parametrize(
    "damage", [_intact, _delete_part, _truncate_last_part, _extra_part],
    ids=lambda f: f.__name__.strip("_"),
)
def test_dump_checked_against_manifest(
    spark, tmp_path, spark_jobs, max_partition_bytes, four_parts, lane, damage
):
    src, dump, parts = four_parts
    damage(parts)
    tgt = DuckDbConnector(str(tmp_path / "tgt.duckdb"))
    n0 = len(list(DumpSet(dump).read_events()))
    j0 = spark_jobs()
    with max_partition_bytes(None if lane == "arrow" else "1k"):
        st = Job(
            "IMPORT", "TABLE", dumpfiles=dump,
            directives=[D.INCLUDE_SCHEMA("s"), D.REMAP_SCHEMA("s", "s2")],
        ).run(wait=True, connection=tgt, spark=spark)
    jobs = spark_jobs() - j0
    evs = list(DumpSet(dump).read_events())[n0:]
    if damage is _intact:
        assert st.job_state == "COMPLETED", st.error
        assert jobs == 0 if lane == "arrow" else jobs >= 1
        assert engine.table_fingerprint(tgt.read_table(spark, "s2", "t")) == (
            engine.table_fingerprint(src.read_table(spark, "s", "t"))
        )
        return
    assert st.job_state == "COMPLETED_WITH_ERRORS", st.job_state
    (err,) = [e for e in evs if e["event"] == "TABLE_IMPORT_ERROR"]
    assert "export recorded 4000 rows in 4 files" in err["error"], err
    assert not any(e["event"] == "TABLE_IMPORT_DONE" for e in evs)
    assert not tgt.table_exists("s2", "t")


def test_compacted_dump_imports_and_restarts_intact(
    spark, sf_dir, tmp_path, max_partition_bytes
):
    """A stopped export leaves one table of several part files; compact()
    rewrites it as one. restart() still finds it intact and skips it,
    and the finished dump imports."""
    stage = str(tmp_path / "stage")
    for t in ("region", "nation"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").repartition(4).write.parquet(
            os.path.join(stage, f"{t}.parquet")
        )
    dump = str(tmp_path / "dump")
    src = StopOnFirstRead(stage)
    job = Job(
        "EXPORT", "TABLE", dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("main"), D.INCLUDE_TABLE("region"),
                    D.INCLUDE_TABLE("nation")],
    )
    src.job = job
    with max_partition_bytes("1k"):
        st = job.run(wait=True, connection=src, spark=spark)
    assert st.job_state == "STOPPED", st.job_state
    ds = DumpSet(dump)
    (done,) = [e["table"] for e in ds.read_events() if e["event"] == "TABLE_EXPORT_DONE"]
    report = ds.compact(spark)
    assert report[done]["files_before"] > 1 and report[done]["files_after"] == 1
    assert ds.read_manifest().tables[done]["files"] == 1
    n0 = len(list(ds.read_events()))
    st = Job.attach(job.job_name, dumpdir=dump).restart(
        connection=ParquetConnector(stage), spark=spark
    )
    assert st.job_state == "COMPLETED", st.error
    evs = list(ds.read_events())[n0:]
    assert [e["table"] for e in evs if e["event"] == "TABLE_RESUME_SKIP"] == [done]
    assert not any(e["event"] == "TABLE_RESUME_RECHECK_FAILED" for e in evs)
    tgt = DuckDbConnector(str(tmp_path / "tgt.duckdb"))
    st = Job(
        "IMPORT", "TABLE", dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("main"), D.REMAP_SCHEMA("main", "imp")],
    ).run(wait=True, connection=tgt, spark=spark)
    assert st.job_state == "COMPLETED", st.error
    for t in ("region", "nation"):
        assert tgt.read_table(spark, "imp", t).count() == (
            spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        )


def test_restart_reexports_truncated_table(
    spark, sf_dir, tmp_path, max_partition_bytes
):
    """restart() checks a completed export table the way IMPORT checks
    it: the last part rewritten with half its rows keeps the file count,
    but its footer row sum no longer matches the manifest, so the table
    is re-exported instead of skipped."""
    stage = str(tmp_path / "stage")
    for t in ("region", "nation"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").repartition(4).write.parquet(
            os.path.join(stage, f"{t}.parquet")
        )
    dump = str(tmp_path / "dump")
    src = StopOnFirstRead(stage)
    job = Job(
        "EXPORT", "TABLE", dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("main"), D.INCLUDE_TABLE("region"),
                    D.INCLUDE_TABLE("nation")],
    )
    src.job = job
    with max_partition_bytes("1k"):
        st = job.run(wait=True, connection=src, spark=spark)
    assert st.job_state == "STOPPED", st.job_state
    ds = DumpSet(dump)
    (done,) = [e["table"] for e in ds.read_events() if e["event"] == "TABLE_EXPORT_DONE"]
    tdir = ds.table_dir(*done.split("."))
    _truncate_last_part(sorted(
        os.path.join(tdir, n) for n in os.listdir(tdir) if n.startswith("part-")
    ))
    n0 = len(list(ds.read_events()))
    st = Job.attach(job.job_name, dumpdir=dump).restart(
        connection=ParquetConnector(stage), spark=spark
    )
    assert st.job_state == "COMPLETED", st.error
    evs = list(ds.read_events())[n0:]
    (recheck,) = [e for e in evs if e["event"] == "TABLE_RESUME_RECHECK_FAILED"]
    assert recheck["table"] == done and "export recorded" in recheck["reason"]
    assert not any(e["event"] == "TABLE_RESUME_SKIP" for e in evs)
    assert done in [e["table"] for e in evs if e["event"] == "TABLE_EXPORT_DONE"]
    assert spark.read.parquet(tdir).count() == (
        spark.read.parquet(f"{sf_dir}/{done.split('.')[1]}.parquet").count()
    )
