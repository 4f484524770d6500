"""Restartable dump-set IMPORT (impdp ATTACH/START_JOB parity).

Oracle's impdp resumes a stopped import via ATTACH + START_JOB; the
reference models the state machine (status.py:32-47) and the START_JOB
command (commands.py:113-119) but never drives either locally. Our
master table is the EVENT LOG: the import's JOB_OPEN records the job's
directive list (the export's manifest describes the DUMP and is never
overwritten by an import run), and each TABLE_IMPORT_DONE records the
TARGET's row count + content fingerprint (engine.table_fingerprint) so
restart() can skip verified-loaded targets wholesale.

Semantics under test:
- stop() during an import is cooperative at a table boundary; the job
  lands STOPPED with whole tables only.
- restart() re-compiles the IMPORT directives from the last JOB_OPEN,
  fingerprint-verifies completed targets, skips them, and loads only
  the remainder — exactly one TABLE_IMPORT_DONE per table across runs.
- negative proofs: a tampered/overwritten target fails the fingerprint
  recheck and is re-imported (write_mode forced to overwrite); restart
  of an encrypted-dump import refuses the manifest's redacted password
  sentinel and requires the real password re-supplied; restart without
  a target connection is refused.
"""

import os

import pytest

from oracledb_datapump_spark.base import JobState
from oracledb_datapump_spark.catalog import DuckDbConnector, ParquetConnector
from oracledb_datapump_spark.directives import DirectiveBase as D
from oracledb_datapump_spark.dumpset import DumpSet
from oracledb_datapump_spark.exceptions import JobNotFound, UsageError
from oracledb_datapump_spark.job import Job

TABLES = ["region", "nation", "supplier"]


class StopOnFirstWrite(ParquetConnector):
    """Target connector that requests a cooperative stop from within the
    FIRST table's write — deterministic with PARALLEL=1: table 1 loads
    whole (stop is boundary-cooperative), tables 2 and 3 are not run."""

    def __init__(self, root: str):
        super().__init__(root)
        self.job: Job | None = None
        self.writes = 0

    def write_table(self, df, schema, table, **kwargs):
        self.writes += 1
        if self.writes == 1 and self.job is not None:
            self.job.stop()
        return super().write_table(df, schema, table, **kwargs)


class DuckStopOnFirstWrite(DuckDbConnector):
    """StopOnFirstWrite for a DuckDB target, whose recorded fingerprints
    are taken on the write rather than read back."""

    def __init__(self, path: str):
        super().__init__(path)
        self.job: Job | None = None
        self.writes = 0

    def write_table(self, df, schema, table, **kwargs):
        self.writes += 1
        if self.writes == 1 and self.job is not None:
            self.job.stop()
        return super().write_table(df, schema, table, **kwargs)


def _stage(spark, sf_dir, tmp_path) -> str:
    stage = str(tmp_path / "stage")
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.parquet(
            os.path.join(stage, f"{t}.parquet")
        )
    return stage


def _export(spark, stage, dump, extra=()):
    st = Job(
        "EXPORT", "TABLE", dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("main")]
        + [D.INCLUDE_TABLE(t) for t in TABLES]
        + list(extra),
    ).run(wait=True, connection=ParquetConnector(stage), spark=spark)
    assert st.job_state == JobState.COMPLETED.value, st.job_state


def _stopped_import(spark, dump, wh, extra=(), tgt=None):
    """Returns (job, index of this run's first event)."""
    n0 = len(list(DumpSet(dump).read_events()))
    tgt = StopOnFirstWrite(wh) if tgt is None else tgt
    job = Job(
        "IMPORT", "TABLE", dumpfiles=dump,
        directives=[D.TABLE_EXISTS_ACTION("REPLACE")] + list(extra),
    )
    tgt.job = job
    st = job.run(wait=True, connection=tgt, spark=spark)
    assert st.job_state == JobState.STOPPED.value, st.job_state
    return job, n0


def _evs(dump, n0):
    return list(DumpSet(dump).read_events())[n0:]


def test_stopped_import_records_target_fingerprints(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    dump, wh = str(tmp_path / "dump"), str(tmp_path / "wh")
    _export(spark, stage, dump)
    job, n0 = _stopped_import(spark, dump, wh)
    evs = _evs(dump, n0)
    plan_evs = [e for e in evs if e["event"] == "JOB_OPEN"]
    assert len(plan_evs) == 1
    assert any(
        d["name"] == "TABLE_EXISTS_ACTION" for d in plan_evs[0]["directives"]
    )
    dones = [e for e in evs if e["event"] == "TABLE_IMPORT_DONE"]
    assert len(dones) == 1
    assert dones[0]["target_digest"] is not None
    assert dones[0]["target_rows"] > 0
    assert sum(1 for e in evs if e["event"] == "TABLE_IMPORT_NOT_RUN") == 2


def test_export_then_stopped_import_reports_the_import_job(
    spark, sf_dir, tmp_path
):
    """One dump set, two jobs: a completed export, then a stopped
    import. The last JOB_OPEN names the dump set's job, so LIST_JOBS and
    attach report the import, not the export, the export's name no
    longer attaches, and restart() finishes the import."""
    from oracledb_datapump_spark.status import list_jobs

    stage = _stage(spark, sf_dir, tmp_path)
    root = tmp_path / "dumps"
    dump, wh = str(root / "set1"), str(tmp_path / "wh")
    _export(spark, stage, dump)
    (export_name,) = [
        e["job_name"] for e in DumpSet(dump).read_events()
        if e["event"] == "JOB_OPEN"
    ]
    job, _ = _stopped_import(spark, dump, wh)
    rows = {r["job_name"]: r for r in list_jobs(dump_root=str(root))}
    row = rows[job.job_name]
    assert (row["operation"], row["state"]) == ("IMPORT", "STOPPED")
    assert rows.get(export_name, {}).get("state") != "STOPPED"
    att = Job.attach(job.job_name, dumpdir=dump)
    assert (att.operation.value, att.job_name) == ("IMPORT", job.job_name)
    # STATUS shows the import's tables only: one loaded, two never reached
    js = att.get_status().job_status
    workers = {w.name: w.state for w in js.worker_status_list}
    assert sorted(workers) == sorted(f"main.{t}" for t in TABLES)
    assert sorted(workers.values()) == ["COMPLETED", "NOT_RUN", "NOT_RUN"]
    assert js.percent_done < 100
    # the export's name no longer names the dump set's job
    with pytest.raises(JobNotFound, match=job.job_name):
        Job.attach(export_name, dumpdir=dump)
    st = att.restart(connection=ParquetConnector(wh), spark=spark)
    assert st.job_state == JobState.COMPLETED.value, st.error


def test_restart_refuses_job_open_without_directives(spark, sf_dir, tmp_path):
    """A last JOB_OPEN that records no directive list (an event log
    written before JOB_OPEN carried one) cannot be re-planned."""
    import json

    stage = _stage(spark, sf_dir, tmp_path)
    dump, wh = str(tmp_path / "dump"), str(tmp_path / "wh")
    _export(spark, stage, dump)
    job, _ = _stopped_import(spark, dump, wh)
    ds = DumpSet(dump)
    evs = list(ds.read_events())
    for e in evs:
        e.pop("directives", None)
    with open(ds.events_path, "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in evs)
    with pytest.raises(UsageError, match="directive list"):
        Job.attach(job.job_name, dumpdir=dump).restart(
            connection=ParquetConnector(wh), spark=spark
        )


def test_restart_skips_verified_target_and_finishes(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    dump, wh = str(tmp_path / "dump"), str(tmp_path / "wh")
    _export(spark, stage, dump)
    job, n0 = _stopped_import(spark, dump, wh)
    done1 = [
        e["table"]
        for e in _evs(dump, n0)
        if e["event"] == "TABLE_IMPORT_DONE"
    ]
    st = Job.attach(job.job_name, dumpdir=dump).restart(
        connection=ParquetConnector(wh), spark=spark
    )
    assert st.job_state == JobState.COMPLETED.value
    evs = _evs(dump, n0)
    assert [
        e["table"] for e in evs if e["event"] == "TABLE_RESUME_SKIP"
    ] == done1
    all_done = [e["table"] for e in evs if e["event"] == "TABLE_IMPORT_DONE"]
    assert sorted(all_done) == sorted(f"main.{t}" for t in TABLES)
    out = ParquetConnector(wh)
    for t in TABLES:
        assert (
            out.read_table(spark, "main", t).count()
            == spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        )


def test_restart_reimports_tampered_target(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    dump, wh = str(tmp_path / "dump"), str(tmp_path / "wh")
    _export(spark, stage, dump)
    job, n0 = _stopped_import(spark, dump, wh)
    first = [
        e["table"]
        for e in _evs(dump, n0)
        if e["event"] == "TABLE_IMPORT_DONE"
    ][0]
    s, t = first.split(".")
    out = ParquetConnector(wh)
    remnant = out.read_table(spark, s, t).limit(1).localCheckpoint(eager=True)
    out.write_table(remnant, s, t, mode="overwrite")
    st = Job.attach(job.job_name, dumpdir=dump).restart(
        connection=ParquetConnector(wh), spark=spark
    )
    assert st.job_state == JobState.COMPLETED.value
    evs = _evs(dump, n0)
    assert [
        e["table"]
        for e in evs
        if e["event"] == "TABLE_RESUME_RECHECK_FAILED"
    ] == [first]
    assert not any(e["event"] == "TABLE_RESUME_SKIP" for e in evs)
    for tab in TABLES:
        assert (
            out.read_table(spark, "main", tab).count()
            == spark.read.parquet(f"{sf_dir}/{tab}.parquet").count()
        )


def test_restart_skips_verified_duckdb_target(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    dump = str(tmp_path / "dump")
    _export(spark, stage, dump)
    tgt = DuckStopOnFirstWrite(str(tmp_path / "wh.duckdb"))
    job, n0 = _stopped_import(spark, dump, None, tgt=tgt)
    done1 = [
        e["table"]
        for e in _evs(dump, n0)
        if e["event"] == "TABLE_IMPORT_DONE"
    ]
    st = Job.attach(job.job_name, dumpdir=dump).restart(
        connection=tgt, spark=spark
    )
    assert st.job_state == JobState.COMPLETED.value
    evs = _evs(dump, n0)
    assert [
        e["table"] for e in evs if e["event"] == "TABLE_RESUME_SKIP"
    ] == done1
    all_done = [e["table"] for e in evs if e["event"] == "TABLE_IMPORT_DONE"]
    assert sorted(all_done) == sorted(f"main.{t}" for t in TABLES)
    for t in TABLES:
        assert (
            tgt.read_table(spark, "main", t).count()
            == spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        )


def test_restart_reimports_tampered_duckdb_target(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    dump = str(tmp_path / "dump")
    _export(spark, stage, dump)
    tgt = DuckStopOnFirstWrite(str(tmp_path / "wh.duckdb"))
    job, n0 = _stopped_import(spark, dump, None, tgt=tgt)
    first = [
        e["table"]
        for e in _evs(dump, n0)
        if e["event"] == "TABLE_IMPORT_DONE"
    ][0]
    s, t = first.split(".")
    remnant = tgt.read_table(spark, s, t).limit(1).localCheckpoint(eager=True)
    tgt.write_table(remnant, s, t, mode="overwrite")
    st = Job.attach(job.job_name, dumpdir=dump).restart(
        connection=tgt, spark=spark
    )
    assert st.job_state == JobState.COMPLETED.value
    evs = _evs(dump, n0)
    assert [
        e["table"]
        for e in evs
        if e["event"] == "TABLE_RESUME_RECHECK_FAILED"
    ] == [first]
    assert not any(e["event"] == "TABLE_RESUME_SKIP" for e in evs)
    for tab in TABLES:
        assert (
            tgt.read_table(spark, "main", tab).count()
            == spark.read.parquet(f"{sf_dir}/{tab}.parquet").count()
        )


def test_restart_import_requires_target_connection(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    dump, wh = str(tmp_path / "dump"), str(tmp_path / "wh")
    _export(spark, stage, dump)
    job, _ = _stopped_import(spark, dump, wh)
    with pytest.raises(UsageError, match="TARGET"):
        Job.attach(job.job_name, dumpdir=dump).restart(spark=spark)


def test_restart_encrypted_import_requires_real_password(
    spark, sf_dir, tmp_path
):
    """JOB_OPEN persists ENCRYPTION_PASSWORD only as the redacted
    sentinel; a resumed encrypted import must re-supply the original,
    exactly as on the EXPORT side (Oracle START_JOB re-prompts)."""
    stage = _stage(spark, sf_dir, tmp_path)
    dump, wh = str(tmp_path / "dump"), str(tmp_path / "wh")
    pw = "s3cret-import"
    _export(
        spark, stage, dump,
        extra=[D.ENCRYPTION("ALL"), D.ENCRYPTION_PASSWORD(pw)],
    )
    job, n0 = _stopped_import(
        spark, dump, wh, extra=[D.ENCRYPTION_PASSWORD(pw)]
    )
    att = Job.attach(job.job_name, dumpdir=dump)
    with pytest.raises(UsageError, match="password"):
        att.restart(connection=ParquetConnector(wh), spark=spark)
    with pytest.raises(UsageError, match="password"):
        att.restart(
            connection=ParquetConnector(wh), spark=spark, password="***"
        )
    st = Job.attach(job.job_name, dumpdir=dump).restart(
        connection=ParquetConnector(wh), spark=spark, password=pw
    )
    assert st.job_state == JobState.COMPLETED.value
    evs = _evs(dump, n0)
    assert len(
        [e for e in evs if e["event"] == "TABLE_RESUME_SKIP"]
    ) == 1
    out = ParquetConnector(wh)
    for t in TABLES:
        assert (
            out.read_table(spark, "main", t).count()
            == spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        )


class FailThenStop(ParquetConnector):
    """Quarantine-composition target: the FIRST write raises (with
    SKIP_CONST_ERR the engine counts it and continues — the table is
    'quarantined', no TABLE_IMPORT_DONE), the SECOND write requests a
    cooperative stop but completes (boundary semantics), the third
    never runs. Leaves the warehouse partially loaded with one
    quarantined + one fingerprinted table."""

    def __init__(self, root: str):
        super().__init__(root)
        self.job: Job | None = None
        self.writes = 0

    def write_table(self, df, schema, table, **kwargs):
        self.writes += 1
        if self.writes == 1:
            raise RuntimeError("planted constraint failure")
        if self.writes == 2 and self.job is not None:
            self.job.stop()
        return super().write_table(df, schema, table, **kwargs)


def test_restart_import_with_remap_schema(spark, sf_dir, tmp_path):
    """restart x REMAP_SCHEMA: the resumed import re-applies the remap
    recorded in JOB_OPEN — fingerprint verification and the
    remaining loads all land in the REMAPPED schema."""
    stage = _stage(spark, sf_dir, tmp_path)
    dump, wh = str(tmp_path / "dump"), str(tmp_path / "wh")
    _export(spark, stage, dump)
    job, n0 = _stopped_import(
        spark, dump, wh, extra=[D.REMAP_SCHEMA("main", "wh2")]
    )
    done1 = [
        e["table"]
        for e in _evs(dump, n0)
        if e["event"] == "TABLE_IMPORT_DONE"
    ]
    assert len(done1) == 1 and done1[0].startswith("wh2."), done1
    st = Job.attach(job.job_name, dumpdir=dump).restart(
        connection=ParquetConnector(wh), spark=spark
    )
    assert st.job_state == JobState.COMPLETED.value
    evs = _evs(dump, n0)
    assert [
        e["table"] for e in evs if e["event"] == "TABLE_RESUME_SKIP"
    ] == done1
    all_done = [e["table"] for e in evs if e["event"] == "TABLE_IMPORT_DONE"]
    assert sorted(all_done) == sorted(f"wh2.{t}" for t in TABLES)
    out = ParquetConnector(wh)
    for t in TABLES:
        assert (
            out.read_table(spark, "wh2", t).count()
            == spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        )


def test_restart_import_orc_dump(spark, sf_dir, tmp_path):
    """restart x DUMP_FORMAT(ORC): resume fingerprinting works when the
    dump being imported is ORC, not parquet — the target fingerprint is
    format-agnostic (it reads the TARGET), and the remaining tables load
    from the ORC part files."""
    stage = _stage(spark, sf_dir, tmp_path)
    dump, wh = str(tmp_path / "dump"), str(tmp_path / "wh")
    _export(spark, stage, dump, extra=[D.DUMP_FORMAT("ORC")])
    job, n0 = _stopped_import(spark, dump, wh)
    done1 = [
        e["table"]
        for e in _evs(dump, n0)
        if e["event"] == "TABLE_IMPORT_DONE"
    ]
    assert len(done1) == 1
    st = Job.attach(job.job_name, dumpdir=dump).restart(
        connection=ParquetConnector(wh), spark=spark
    )
    assert st.job_state == JobState.COMPLETED.value
    evs = _evs(dump, n0)
    assert [
        e["table"] for e in evs if e["event"] == "TABLE_RESUME_SKIP"
    ] == done1
    out = ParquetConnector(wh)
    for t in TABLES:
        assert (
            out.read_table(spark, "main", t).count()
            == spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        )


def test_restart_import_after_quarantined_table(spark, sf_dir, tmp_path):
    """restart x DATA_OPTIONS(SKIP_CONST_ERR): a table whose load
    FAILED under continue-on-error has no TABLE_IMPORT_DONE row, so the
    restart must re-import it (it is NOT skip-verifiable), while the
    boundary-completed table's fingerprint still short-circuits."""
    stage = _stage(spark, sf_dir, tmp_path)
    dump, wh = str(tmp_path / "dump"), str(tmp_path / "wh")
    _export(spark, stage, dump)
    n0 = len(list(DumpSet(dump).read_events()))
    tgt = FailThenStop(wh)
    job = Job(
        "IMPORT", "TABLE", dumpfiles=dump,
        directives=[
            D.TABLE_EXISTS_ACTION("REPLACE"),
            D.DATA_OPTIONS("SKIP_CONST_ERR"),
        ],
    )
    tgt.job = job
    st = job.run(wait=True, connection=tgt, spark=spark)
    assert st.job_state == JobState.STOPPED.value, st.job_state
    evs1 = _evs(dump, n0)
    errored = [
        e["table"] for e in evs1 if e["event"] == "TABLE_IMPORT_ERROR"
    ]
    done1 = [
        e["table"] for e in evs1 if e["event"] == "TABLE_IMPORT_DONE"
    ]
    assert len(errored) == 1 and len(done1) == 1
    st = Job.attach(job.job_name, dumpdir=dump).restart(
        connection=ParquetConnector(wh), spark=spark
    )
    assert st.job_state == JobState.COMPLETED.value
    evs = _evs(dump, n0)
    assert [
        e["table"] for e in evs if e["event"] == "TABLE_RESUME_SKIP"
    ] == done1
    all_done = [e["table"] for e in evs if e["event"] == "TABLE_IMPORT_DONE"]
    assert sorted(all_done) == sorted(f"main.{t}" for t in TABLES)
    assert errored[0] in all_done  # the quarantined table was re-imported
    out = ParquetConnector(wh)
    for t in TABLES:
        assert (
            out.read_table(spark, "main", t).count()
            == spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        )
