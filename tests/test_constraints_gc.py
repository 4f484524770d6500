"""FK-ordered import + orphan GC tests."""

import json
import os

from oracledb_datapump_spark import Job, JobState
from oracledb_datapump_spark.catalog import DuckDbConnector
from oracledb_datapump_spark.directives import DirectiveBase as D
from oracledb_datapump_spark.dumpset import DumpSet, cleanup_orphans
from oracledb_datapump_spark.planner import _topo_levels


def test_topo_levels():
    c = {
        "s.child": ["s.parent"],
        "s.grandchild": ["s.child"],
        "s.selfref": ["s.selfref"],
    }
    lv = _topo_levels(c)
    assert lv["s.child"] == 1
    assert lv["s.grandchild"] == 2
    assert lv["s.selfref"] == 0  # cycle broken


def test_fk_capture_and_topo_import(spark, tmp_path):
    src = DuckDbConnector(str(tmp_path / "fk.duckdb"))
    src.execute("CREATE SCHEMA fk1")
    src.execute("CREATE TABLE fk1.parent(id INT PRIMARY KEY, name VARCHAR)")
    src.execute(
        "CREATE TABLE fk1.child(id INT, pid INT REFERENCES fk1.parent(id))"
    )
    src.execute("INSERT INTO fk1.parent VALUES (1,'a'), (2,'b')")
    src.execute("INSERT INTO fk1.child VALUES (10,1),(11,2)")

    assert src.foreign_keys("fk1") == [("child", "parent")]

    dump = str(tmp_path / "fkdump")
    st = Job(
        "EXPORT", "SCHEMA", dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("fk1")],
    ).run(connection=src, spark=spark)
    assert st.job_state == JobState.COMPLETED.value
    meta = DumpSet(dump).read_manifest()
    assert meta.constraints == {"fk1.child": ["fk1.parent"]}

    # import into remapped schema: parent wave must precede child wave
    st = Job(
        "IMPORT", "SCHEMA", dumpfiles=dump,
        directives=[D.REMAP_SCHEMA("fk1", "fk2"), D.TABLE_EXISTS_ACTION("REPLACE")],
    ).run(connection=src, spark=spark)
    assert st.job_state == JobState.COMPLETED.value
    events = list(DumpSet(dump).read_events())
    starts = [e["table"] for e in events if e["event"] == "TABLE_IMPORT_START"]
    assert starts.index("fk2.parent") < starts.index("fk2.child")
    assert src.execute("SELECT count(*) FROM fk2.child").fetchone()[0] == 2


def test_cleanup_orphans(tmp_path):
    root = str(tmp_path / "jobs")
    done = DumpSet(os.path.join(root, "done"))
    done.log_event("JOB_OPEN", job_name="D")
    done.log_event("JOB_DONE", state="COMPLETED")
    orphan = DumpSet(os.path.join(root, "orphan"))
    orphan.log_event("JOB_OPEN", job_name="O")
    orphan.log_event("JOB_START")
    unrelated = os.path.join(root, "not_a_dumpset")
    os.makedirs(unrelated)

    # default min_age protects recently-touched dump sets (possibly a
    # live job in another process)
    assert cleanup_orphans(root) == []
    assert os.path.isdir(orphan.root)

    removed = cleanup_orphans(root, min_age_s=0.0)
    assert removed == [os.path.join(root, "orphan")]
    assert os.path.isdir(done.root)
    assert os.path.isdir(unrelated)


def test_cleanup_orphans_skips_live_jobs(tmp_path):
    from oracledb_datapump_spark import status as st

    root = str(tmp_path / "jobs")
    live = DumpSet(os.path.join(root, "live"))
    live.log_event("JOB_OPEN", job_name="LIVEJOB")
    live.log_event("JOB_START")
    st.register_job("LIVEJOB", object())
    try:
        assert cleanup_orphans(root, min_age_s=0.0) == []
        assert os.path.isdir(live.root)
    finally:
        st.deregister_job("LIVEJOB")
    assert cleanup_orphans(root, min_age_s=0.0) == [os.path.join(root, "live")]


def test_dumpset_compact(spark, tmp_path):
    """Compaction consolidates small part-files, preserves rows, logs a
    TABLE_COMPACTED event, and is idempotent."""
    from oracledb_datapump_spark import Job
    from oracledb_datapump_spark.catalog import DuckDbConnector
    from oracledb_datapump_spark.directives import DirectiveBase as D
    from oracledb_datapump_spark.dumpset import DumpSet

    src = DuckDbConnector(":memory:")
    src.load_parquet_dir("hr", "/root/testdata/sf0.001")
    dump = f"{tmp_path}/dump"
    # a table below spark.sql.files.maxPartitionBytes exports as one file;
    # a low cap spreads it over the PARALLEL budget
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        st = Job(
            "EXPORT",
            "TABLE",
            dumpfiles=dump,
            directives=[
                D.INCLUDE_SCHEMA("hr"),
                D.INCLUDE_TABLE("lineitem"),
                D.PARALLEL(8),
            ],
        ).run(connection=src, spark=spark)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert st.job_state == "COMPLETED"
    ds = DumpSet(dump)
    before = ds.get_dumpfile_info("hr", "lineitem")
    assert before.file_count >= 8
    report = ds.compact(spark)
    key = "hr.lineitem"
    assert report[key]["files_before"] == before.file_count
    assert report[key]["files_after"] < before.file_count
    after = ds.get_dumpfile_info("hr", "lineitem")
    assert after.file_count == report[key]["files_after"]
    assert spark.read.parquet(ds.table_dir("hr", "lineitem")).count() == 6000
    # idempotent: second pass finds nothing to do
    assert ds.compact(spark) == {}
    assert any(e["event"] == "TABLE_COMPACTED" for e in ds.read_events())


def test_compact_crash_recovery(spark, tmp_path):
    """A crash between the two renames of a staged commit leaves the
    table's only copy in its old sibling; the next compact() restores it
    before proceeding. A crash after the second rename leaves a
    superseded old sibling next to the live dir; that one is dropped."""
    import shutil

    from oracledb_datapump_spark import Job
    from oracledb_datapump_spark.catalog import DuckDbConnector
    from oracledb_datapump_spark.directives import DirectiveBase as D
    from oracledb_datapump_spark.dumpset import DumpSet, sibling

    src = DuckDbConnector(":memory:")
    src.load_parquet_dir("hr", "/root/testdata/sf0.001")
    dump = f"{tmp_path}/dump"
    # a table below spark.sql.files.maxPartitionBytes exports as one file;
    # a low cap spreads it over the PARALLEL budget
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        st = Job(
            "EXPORT", "TABLE", dumpfiles=dump,
            directives=[D.INCLUDE_SCHEMA("hr"), D.INCLUDE_TABLE("orders"),
                        D.PARALLEL(8)],
        ).run(connection=src, spark=spark)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert st.job_state == "COMPLETED"
    ds = DumpSet(dump)
    d = ds.table_dir("hr", "orders")
    old = sibling(d, "old")

    # simulate the mid-swap crash: live dir renamed away, stage never swapped in
    os.rename(d, old)
    assert not os.path.isdir(d)
    report = ds.compact(spark)
    assert os.path.isdir(d), "live dir restored from the old sibling"
    assert not os.path.exists(old)
    assert spark.read.parquet(d).count() == 1500  # no rows lost
    assert any(e["event"] == "TABLE_DIR_RECOVERED" for e in ds.read_events())
    assert report.get("hr.orders", {}).get("files_after", 99) < 9

    # simulate the post-swap crash: superseded old copy next to live dir
    shutil.copytree(d, old)
    ds.compact(spark)
    assert not os.path.exists(old)
    assert spark.read.parquet(d).count() == 1500
