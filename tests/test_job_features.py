"""Job-level feature tests: estimate-only, SQL_FILE, exists actions,
metadata-only export, delete-files, attach, status."""

import os

import pytest
from pyspark.sql import functions as F

from oracledb_datapump_spark import DataPump, Job, JobState
from oracledb_datapump_spark.directives import DirectiveBase as D
from oracledb_datapump_spark.dumpset import DumpSet
from oracledb_datapump_spark.exceptions import JobNotFound


def test_estimate_only(spark, duck, tmp_path):
    job = Job(
        "EXPORT",
        "SCHEMA",
        dumpfiles=str(tmp_path / "est"),
        directives=[D.INCLUDE_SCHEMA("test1"), D.ESTIMATE_ONLY(True)],
    )
    st = job.run(connection=duck, spark=spark)
    assert st.job_state == JobState.COMPLETED.value
    assert job.estimates and all("estimated_rows" in e or "error" in e for e in job.estimates)
    # no data moved
    ds = DumpSet(str(tmp_path / "est"))
    assert not ds.dumpfiles()


def test_metadata_only_export_then_sql_file(spark, duck, tmp_path):
    dump = str(tmp_path / "meta_only")
    st = Job(
        "EXPORT",
        "SCHEMA",
        dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("test1"), D.EXCLUDE_OBJECT_TYPE("TABLE_DATA")],
    ).run(connection=duck, spark=spark)
    assert st.job_state == JobState.COMPLETED.value
    assert not DumpSet(dump).dumpfiles()  # schemas captured, no rows

    st = Job("SQL_FILE", "SCHEMA", dumpfiles=dump).run(connection="parquet:///dev/null", spark=spark)
    assert st.job_state == JobState.COMPLETED.value
    ddl = open(os.path.join(dump, "_datapump_ddl.sql")).read()
    assert "CREATE TABLE test1.region" in ddl
    assert "r_name VARCHAR" in ddl


def test_exists_action_append_and_skip(spark, duck, tmp_path):
    dump = str(tmp_path / "ea")
    Job(
        "EXPORT", "TABLE", dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("test1"), D.INCLUDE_TABLE("region")],
    ).run(connection=duck, spark=spark)

    imp = lambda action: Job(  # noqa: E731
        "IMPORT", "TABLE", dumpfiles=dump,
        directives=[D.REMAP_SCHEMA("test1", "ea"), D.TABLE_EXISTS_ACTION(action)],
    ).run(connection=duck, spark=spark)

    imp("REPLACE")
    n0 = duck.execute("SELECT count(*) FROM ea.region").fetchone()[0]
    imp("APPEND")
    assert duck.execute("SELECT count(*) FROM ea.region").fetchone()[0] == 2 * n0
    imp("SKIP")
    assert duck.execute("SELECT count(*) FROM ea.region").fetchone()[0] == 2 * n0
    imp("TRUNCATE")
    assert duck.execute("SELECT count(*) FROM ea.region").fetchone()[0] == n0


def test_delete_files_post_action(spark, duck, tmp_path):
    dump = str(tmp_path / "delfiles")
    Job(
        "EXPORT", "TABLE", dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("test1"), D.INCLUDE_TABLE("region")],
    ).run(connection=duck, spark=spark)
    assert os.path.isdir(dump)
    st = Job(
        "IMPORT", "TABLE", dumpfiles=dump,
        directives=[D.REMAP_SCHEMA("test1", "del1"), D.TABLE_EXISTS_ACTION("REPLACE"),
                    D.DELETE_FILES()],
    ).run(wait=True, connection=duck, spark=spark)
    assert st.job_state == JobState.COMPLETED.value
    assert not os.path.exists(dump)  # wait=True + COMPLETED → dump set removed


def test_row_filter_and_projection_directives(spark, duck, tmp_path):
    dump = str(tmp_path / "rowfilter")
    st = Job(
        "EXPORT", "TABLE", dumpfiles=dump,
        directives=[
            D.INCLUDE_SCHEMA("test1"),
            D.INCLUDE_TABLE("orders"),
            D.QUERY("o_totalprice > 1000", object_path="orders"),
            D.COLUMNS(["o_orderkey", "o_totalprice"], object_path="orders"),
        ],
    ).run(connection=duck, spark=spark)
    assert st.job_state == JobState.COMPLETED.value
    df = spark.read.parquet(os.path.join(dump, "test1", "orders"))
    assert set(df.columns) == {"o_orderkey", "o_totalprice"}
    assert df.filter(F.col("o_totalprice") <= 1000).count() == 0


def test_attach_finished_job(spark, duck, tmp_path):
    dump = str(tmp_path / "attach1")
    Job(
        "EXPORT", "TABLE", dumpfiles=dump, job_name="ATTACH-ME",
        directives=[D.INCLUDE_SCHEMA("test1"), D.INCLUDE_TABLE("region")],
    ).run(connection=duck, spark=spark)
    job = Job.attach("ATTACH-ME", dumpdir=dump)
    assert job.state == JobState.COMPLETED
    info = job.get_status()
    assert info.job_state == JobState.COMPLETED.value
    assert any(w.name == "test1.region" for w in info.job_status.worker_status_list)
    with pytest.raises(JobNotFound):
        Job.attach("NO-SUCH-JOB")


def test_completed_with_errors(spark, duck, tmp_path):
    """A broken table plan must not sink the job (reference
    tests/test_import.py:179 expectation)."""
    dump = str(tmp_path / "errs")
    Job(
        "EXPORT", "TABLE", dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("test1"), D.INCLUDE_TABLE("region"),
                    D.INCLUDE_TABLE("nation"),
                    # row-filter referencing a bogus column only for nation
                    D.QUERY("no_such_column > 0", object_path="nation")],
    ).run(connection=duck, spark=spark)
    ds = DumpSet(dump)
    info = None
    from oracledb_datapump_spark.status import status_from_events

    info = status_from_events(ds)
    assert info.job_state == JobState.COMPLETED_WITH_ERRORS.value
    assert info.error  # the nation failure is recorded
    # region still exported
    assert DataPump.get_dumpfile_info(dump, "test1", "region").row_count == 5


def test_full_mode_export_and_log_entry(spark, duck, tmp_path):
    """FULL mode sweeps every non-system schema (S2); custom LOG_ENTRY
    lines land in the job log (C8)."""
    duck.execute("CREATE SCHEMA extra1")
    duck.execute("CREATE TABLE extra1.t1 AS SELECT 1 AS a")
    dump = str(tmp_path / "full1")
    job = Job("EXPORT", "FULL", dumpfiles=dump)
    st = job.run(connection=duck, spark=spark)
    assert st.job_state == JobState.COMPLETED.value
    ds = DumpSet(dump)
    exported = {f"{s}.{t}" for s, t in ds.list_tables()}
    assert "extra1.t1" in exported
    assert "test1.lineitem" in exported
    job.log_entry("operator checkpoint reached")
    assert "operator checkpoint reached" in job.get_logfile()


def test_merge_import_upserts_by_key(spark, tmp_path):
    """TABLE_EXISTS_ACTION(MERGE) + MERGE_KEY: incoming rows replace
    existing rows with the same key; new keys append; untouched keys
    survive. Missing MERGE_KEY is a usage error."""
    from oracledb_datapump_spark import Job
    from oracledb_datapump_spark.catalog import DuckDbConnector
    from oracledb_datapump_spark.directives import DirectiveBase as D

    src = DuckDbConnector(":memory:")
    src.load_parquet_dir("hr", "/root/testdata/sf0.001")
    dump1 = f"{tmp_path}/dump1"
    st = Job(
        "EXPORT", "TABLE", dumpfiles=dump1,
        directives=[D.INCLUDE_SCHEMA("hr"), D.INCLUDE_TABLE("nation")],
    ).run(connection=src, spark=spark)
    assert st.job_state == "COMPLETED"

    # second dump: a modified slice of nation (3 changed + 1 new key)
    src.execute(
        "CREATE SCHEMA IF NOT EXISTS hr2; "
        "CREATE TABLE hr2.nation AS "
        "SELECT n_nationkey, n_name || '_V2' AS n_name, n_regionkey "
        "FROM hr.nation WHERE n_nationkey < 3 "
        "UNION ALL SELECT 99, 'ATLANTIS', 0"
    )
    dump2 = f"{tmp_path}/dump2"
    st = Job(
        "EXPORT", "TABLE", dumpfiles=dump2,
        directives=[D.INCLUDE_SCHEMA("hr2"), D.INCLUDE_TABLE("nation")],
    ).run(connection=src, spark=spark)
    assert st.job_state == "COMPLETED"

    # import dump1 fresh, then merge dump2 into it
    st = Job(
        "IMPORT", "SCHEMA", dumpfiles=dump1,
        directives=[D.REMAP_SCHEMA("hr", "tgt")],
    ).run(connection=src, spark=spark)
    assert st.job_state == "COMPLETED"
    st = Job(
        "IMPORT", "SCHEMA", dumpfiles=dump2,
        directives=[
            D.REMAP_SCHEMA("hr2", "tgt"),
            D.TABLE_EXISTS_ACTION("MERGE"),
            D.MERGE_KEY("n_nationkey"),
        ],
    ).run(connection=src, spark=spark)
    assert st.job_state == "COMPLETED", st
    rows = dict(
        src.execute(
            "SELECT n_nationkey, n_name FROM tgt.nation ORDER BY n_nationkey"
        ).fetchall()
    )
    assert len(rows) == 26  # 25 original + 1 new key
    assert rows[0].endswith("_V2") and rows[1].endswith("_V2") and rows[2].endswith("_V2")
    assert rows[99] == "ATLANTIS"
    assert not rows[5].endswith("_V2")  # untouched key survived

    # MERGE without MERGE_KEY is a usage error surfaced as a failed job
    st = Job(
        "IMPORT", "SCHEMA", dumpfiles=dump2,
        directives=[D.REMAP_SCHEMA("hr2", "tgt"), D.TABLE_EXISTS_ACTION("MERGE")],
    ).run(connection=src, spark=spark)
    assert st.job_state in ("COMPLETED_WITH_ERRORS", "ERROR", "STOPPED"), st.job_state


def test_merge_import_lazy_parquet_target_keeps_unmatched(spark, duck, tmp_path):
    """MERGE into a LAZY target (ParquetConnector): the merged plan reads
    the very files the overwrite replaces, so without an explicit
    materialization the non-matching existing rows are lost (or Spark
    refuses the overwrite). Regression test for the engine's
    localCheckpoint-before-overwrite."""
    from oracledb_datapump_spark.catalog import ParquetConnector

    dump1 = f"{tmp_path}/dump1"
    st = Job(
        "EXPORT", "TABLE", dumpfiles=dump1,
        directives=[D.INCLUDE_SCHEMA("test1"), D.INCLUDE_TABLE("nation")],
    ).run(connection=duck, spark=spark)
    assert st.job_state == "COMPLETED"

    duck.execute(
        "CREATE SCHEMA IF NOT EXISTS mseed; "
        "CREATE TABLE mseed.nation AS "
        "SELECT n_nationkey, n_name || '_V2' AS n_name, n_regionkey "
        "FROM test1.nation WHERE n_nationkey < 3 "
        "UNION ALL SELECT 99, 'ATLANTIS', 0"
    )
    dump2 = f"{tmp_path}/dump2"
    st = Job(
        "EXPORT", "TABLE", dumpfiles=dump2,
        directives=[D.INCLUDE_SCHEMA("mseed"), D.INCLUDE_TABLE("nation")],
    ).run(connection=duck, spark=spark)
    assert st.job_state == "COMPLETED"

    target = ParquetConnector(str(tmp_path / "warehouse"))
    st = Job(
        "IMPORT", "SCHEMA", dumpfiles=dump1,
        directives=[D.REMAP_SCHEMA("test1", "tgt")],
    ).run(connection=target, spark=spark)
    assert st.job_state == "COMPLETED"
    st = Job(
        "IMPORT", "SCHEMA", dumpfiles=dump2,
        directives=[
            D.REMAP_SCHEMA("mseed", "tgt"),
            D.TABLE_EXISTS_ACTION("MERGE"),
            D.MERGE_KEY("n_nationkey"),
        ],
    ).run(connection=target, spark=spark)
    assert st.job_state == "COMPLETED", st
    rows = {
        r.n_nationkey: r.n_name
        for r in target.read_table(spark, "tgt", "nation").collect()
    }
    assert len(rows) == 26  # 25 original + 1 new key — nothing lost
    assert rows[0].endswith("_V2") and rows[2].endswith("_V2")
    assert rows[99] == "ATLANTIS"
    assert not rows[5].endswith("_V2")  # untouched key SURVIVED the merge


def test_merge_import_duplicate_keys_deterministic(spark, duck, tmp_path):
    """Duplicate merge keys within a side: the survivor is chosen by a
    deterministic rule (row-hash tiebreak), so repeated merges produce
    identical results."""
    from oracledb_datapump_spark.catalog import ParquetConnector

    duck.execute(
        "CREATE SCHEMA IF NOT EXISTS dupsrc; "
        "CREATE TABLE dupsrc.kv AS SELECT * FROM (VALUES "
        "(1, 'a'), (1, 'b'), (2, 'c'), (2, 'd'), (3, 'e')) t(k, v)"
    )
    dump = f"{tmp_path}/dumpdup"
    st = Job(
        "EXPORT", "TABLE", dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("dupsrc"), D.INCLUDE_TABLE("kv")],
    ).run(connection=duck, spark=spark)
    assert st.job_state == "COMPLETED"

    results = []
    for i in range(2):
        target = ParquetConnector(str(tmp_path / f"wh{i}"))
        # seed the target with one existing row per key, then merge the
        # duplicate-carrying dump on top twice
        st = Job(
            "IMPORT", "SCHEMA", dumpfiles=dump,
            directives=[D.REMAP_SCHEMA("dupsrc", "tgt")],
        ).run(connection=target, spark=spark)
        assert st.job_state == "COMPLETED"
        st = Job(
            "IMPORT", "SCHEMA", dumpfiles=dump,
            directives=[
                D.REMAP_SCHEMA("dupsrc", "tgt"),
                D.TABLE_EXISTS_ACTION("MERGE"),
                D.MERGE_KEY("k"),
            ],
        ).run(connection=target, spark=spark)
        assert st.job_state == "COMPLETED", st
        got = sorted(
            (r.k, r.v) for r in target.read_table(spark, "tgt", "kv").collect()
        )
        assert [k for k, _ in got] == [1, 2, 3]  # one survivor per key
        results.append(got)
    assert results[0] == results[1]  # deterministic survivor choice


def test_merge_import_with_map_column(spark, tmp_path):
    """MERGE into a table carrying a MapType column: the survivor
    tiebreak must hash only hashable columns (Spark's hash() rejects
    maps), so the merge completes instead of raising."""
    import pyspark.sql.functions as F
    from oracledb_datapump_spark.catalog import ParquetConnector

    src_root = str(tmp_path / "srcdb")
    os.makedirs(f"{src_root}/hr")
    base = spark.range(5).select(
        F.col("id").alias("k"),
        F.col("id").cast("string").alias("v"),
        F.create_map(F.lit("a"), F.col("id")).alias("attrs"),
    )
    base.write.parquet(f"{src_root}/hr/kvmap.parquet")
    src = ParquetConnector(src_root)

    dump = f"{tmp_path}/dumpmap"
    st = Job(
        "EXPORT", "TABLE", dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("hr"), D.INCLUDE_TABLE("kvmap")],
    ).run(connection=src, spark=spark)
    assert st.job_state == "COMPLETED"

    target = ParquetConnector(str(tmp_path / "whmap"))
    st = Job(
        "IMPORT", "SCHEMA", dumpfiles=dump,
        directives=[D.REMAP_SCHEMA("hr", "tgt")],
    ).run(connection=target, spark=spark)
    assert st.job_state == "COMPLETED"
    st = Job(
        "IMPORT", "SCHEMA", dumpfiles=dump,
        directives=[
            D.REMAP_SCHEMA("hr", "tgt"),
            D.TABLE_EXISTS_ACTION("MERGE"),
            D.MERGE_KEY("k"),
        ],
    ).run(connection=target, spark=spark)
    assert st.job_state == "COMPLETED", st
    out = target.read_table(spark, "tgt", "kvmap").collect()
    assert sorted(r.k for r in out) == [0, 1, 2, 3, 4]
    assert all(r.attrs == {"a": r.k} for r in out)


def test_status_survives_torn_event_log_tail(tmp_path):
    """A job killed mid-append leaves a half-written last event line:
    STATUS still parses the log and reports the last complete state,
    while a corrupt line in the middle of the log still raises."""
    import json

    from oracledb_datapump_spark.status import status_from_events

    ds = DumpSet(str(tmp_path / "torn"))
    for ev, fields in (
        ("JOB_OPEN", {"job_name": "J", "operation": "EXPORT"}),
        ("JOB_START", {}),
        ("TABLE_EXPORT_START", {"table": "s.a"}),
        ("TABLE_EXPORT_DONE", {"table": "s.a", "rows": 3, "bytes": 10}),
    ):
        ds.log_event(ev, **fields)
    with open(ds.events_path, "a") as f:
        f.write('{"ts": "2026-01-01T00:00:00", "event": "TABLE_EXP')
    info = status_from_events(ds)
    assert info.job_state == JobState.EXECUTING.value
    workers = {w.name: w for w in info.job_status.worker_status_list}
    assert workers["s.a"].state == "COMPLETED"
    assert workers["s.a"].completed_rows == 3

    with open(ds.events_path) as f:
        lines = f.readlines()
    lines.insert(1, "{not json\n")
    with open(ds.events_path, "w") as f:
        f.writelines(lines)
    with pytest.raises(json.JSONDecodeError):
        status_from_events(ds)


def test_status_replays_the_last_job_only(tmp_path):
    """A dump set holds a completed export of two tables, then an import
    stopped after its first. STATUS reports the import: one table loaded,
    one NOT_RUN, half done, none of the export's bytes. Once a restart
    loads the other table the import is whole."""
    from oracledb_datapump_spark.status import status_from_events

    ds = DumpSet(str(tmp_path / "two_jobs"))

    def log(*events):
        for ev, fields in events:
            ds.log_event(ev, **fields)

    def workers():
        info = status_from_events(ds)
        return info, {w.name: w.state for w in info.job_status.worker_status_list}

    log(
        ("JOB_OPEN", {"job_name": "EXP", "operation": "EXPORT", "mode": "TABLE"}),
        ("JOB_START", {}),
        ("TABLE_EXPORT_START", {"table": "main.a"}),
        ("TABLE_EXPORT_DONE", {"table": "main.a", "rows": 10, "bytes": 100}),
        ("TABLE_EXPORT_START", {"table": "main.b"}),
        ("TABLE_EXPORT_DONE", {"table": "main.b", "rows": 20, "bytes": 200}),
        ("JOB_DONE", {"state": "COMPLETED", "dumpfiles": ["main/a", "main/b"]}),
        ("JOB_OPEN", {"job_name": "IMP", "operation": "IMPORT", "mode": "TABLE"}),
        ("JOB_START", {}),
        ("TABLE_IMPORT_START", {"table": "main.a"}),
        ("TABLE_IMPORT_DONE", {"table": "main.a", "rows": 10, "target_rows": 10}),
        ("JOB_STOPPING", {"next_table": "main.b"}),
        ("TABLE_IMPORT_NOT_RUN", {"table": "main.b"}),
        ("JOB_DONE", {"state": "STOPPED", "dumpfiles": [], "errors": 0}),
    )
    info, states = workers()
    assert info.job_state == JobState.STOPPED.value
    assert info.job_description.job_name == "IMP"
    assert states == {"main.a": "COMPLETED", "main.b": "NOT_RUN"}
    assert info.job_status.percent_done == 50.0
    assert info.job_status.bytes_processed == 0

    log(
        ("JOB_RESTART", {"job_name": "IMP", "skipped": ["main.a"],
                         "remaining": ["main.b"]}),
        ("TABLE_RESUME_SKIP", {"table": "main.a"}),
        ("TABLE_IMPORT_START", {"table": "main.b"}),
        ("TABLE_IMPORT_DONE", {"table": "main.b", "rows": 20, "target_rows": 20}),
        ("JOB_DONE", {"state": "COMPLETED", "dumpfiles": [], "errors": 0}),
    )
    info, states = workers()
    assert info.job_status.percent_done == 100.0
    assert states == {"main.a": "COMPLETED", "main.b": "COMPLETED"}


def test_log_event_cuts_torn_tail_before_append(tmp_path):
    """An append after a torn last line must not glue onto the fragment:
    the torn bytes are cut, so every complete event and the new one read
    back and no corrupt middle line is left behind."""
    ds = DumpSet(str(tmp_path / "torn"))
    ds.log_event("JOB_OPEN", job_name="J", operation="EXPORT")
    ds.log_event("JOB_START")
    with open(ds.events_path, "a") as f:
        f.write('{"ts": "2026-01-01T00:00:00", "event": "TABLE_EXP')
    ds.log_event("JOB_ERROR", error="writer restarted")
    assert [e["event"] for e in ds.read_events()] == [
        "JOB_OPEN", "JOB_START", "JOB_ERROR",
    ]
    with open(ds.events_path) as f:
        assert f.read().endswith('"error": "writer restarted"}\n')

