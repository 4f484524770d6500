"""STOP_JOB → START_JOB lifecycle (Oracle Data Pump's public
stop/restart contract; reference status.py:32-47 declares the state
machine, commands.py:113-119 the START_JOB command — neither is driven
locally by the reference).

Semantics under test:
- stop() is cooperative at a TABLE boundary: the in-flight table
  completes, not-yet-started tables are recorded as not-run, job lands
  STOPPED (restartable), dump set holds only whole tables.
- restart() re-plans from the last JOB_OPEN's recorded directives, skips
  tables whose dump is complete (digest-verified when CHECKSUM was on),
  runs the remainder, and merges the manifest.
- negative proofs: a tampered completed table is RE-exported on restart;
  restart refuses non-STOPPED jobs and IMPORT jobs; stop refuses
  not-running jobs.
"""

import json
import os
import time

import pytest

from oracledb_datapump_spark.base import JobState
from oracledb_datapump_spark.catalog import ParquetConnector
from oracledb_datapump_spark.directives import DirectiveBase as D
from oracledb_datapump_spark.dumpset import DumpSet
from oracledb_datapump_spark.exceptions import UsageError
from oracledb_datapump_spark.job import Job

TABLES = ["region", "nation", "supplier"]


class StopOnFirstRead(ParquetConnector):
    """Source connector that requests a cooperative stop from within the
    FIRST table's read — deterministic with PARALLEL=1: table 1 completes
    (stop is boundary-cooperative), tables 2 and 3 are not run."""

    def __init__(self, root: str):
        super().__init__(root)
        self.job: Job | None = None
        self.reads = 0

    def read_table(self, spark, schema, table, **kwargs):
        self.reads += 1
        if self.reads == 1 and self.job is not None:
            self.job.stop()
        return super().read_table(spark, schema, table, **kwargs)


def _stage(spark, sf_dir, tmp_path) -> str:
    stage = str(tmp_path / "stage")
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.parquet(
            os.path.join(stage, f"{t}.parquet")
        )
    return stage


def _events(dump: str) -> list[dict]:
    return list(DumpSet(dump).read_events())


def _export_directives(checksum: bool = False):
    d = [D.INCLUDE_SCHEMA("main")] + [D.INCLUDE_TABLE(t) for t in TABLES]
    if checksum:
        d += [D.CHECKSUM(True), D.CHECKSUM_ALGORITHM("SHA256")]
    return d


def _stopped_export(spark, stage, dump, checksum: bool = False) -> Job:
    src = StopOnFirstRead(stage)
    job = Job(
        "EXPORT", "TABLE", dumpfiles=dump,
        directives=_export_directives(checksum),
    )
    src.job = job
    st = job.run(wait=True, connection=src, spark=spark)
    assert st.job_state == JobState.STOPPED.value, st.job_state
    return job


def test_stop_lands_stopped_with_whole_tables_only(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    dump = str(tmp_path / "dump")
    _stopped_export(spark, stage, dump)

    evs = _events(dump)
    types = [e["event"] for e in evs]
    # state walk: STOP_PENDING (stop()) → STOPPING (engine boundary ack)
    # → JOB_DONE STOPPED
    assert "JOB_STOP_PENDING" in types
    assert "JOB_STOPPING" in types
    assert types.index("JOB_STOP_PENDING") < types.index("JOB_STOPPING")
    done = [e for e in evs if e["event"] == "JOB_DONE"]
    assert done[-1]["state"] == "STOPPED"
    # exactly one table exported whole; the other two recorded not-run
    exported = [e["table"] for e in evs if e["event"] == "TABLE_EXPORT_DONE"]
    not_run = [e["table"] for e in evs if e["event"] == "TABLE_EXPORT_NOT_RUN"]
    assert len(exported) == 1 and len(not_run) == 2
    assert set(exported) | set(not_run) == {f"main.{t}" for t in TABLES}
    # manifest describes only what the dump holds
    meta = DumpSet(dump).read_manifest()
    assert set(meta.tables) == set(exported)
    assert all(v["ok"] for v in meta.tables.values())


def test_restart_skips_completed_and_finishes(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    dump = str(tmp_path / "dump")
    job = _stopped_export(spark, stage, dump)
    first = [
        e["table"] for e in _events(dump) if e["event"] == "TABLE_EXPORT_DONE"
    ][0]

    att = Job.attach(job.job_name, dumpdir=dump)
    assert att.state == JobState.STOPPED
    # STATUS of the stopped job names the two tables it never reached
    js = att.get_status().job_status
    assert sorted(w.state for w in js.worker_status_list) == [
        "COMPLETED", "NOT_RUN", "NOT_RUN"
    ]
    assert js.percent_done < 100
    st = att.restart(connection=ParquetConnector(stage), spark=spark)
    assert st.job_state == JobState.COMPLETED.value, st.error
    # ... and of the restarted one lists each planned table once, done
    workers = st.job_status.worker_status_list
    assert sorted(w.name for w in workers) == sorted(f"main.{t}" for t in TABLES)
    assert all(w.state == "COMPLETED" for w in workers)
    assert st.job_status.percent_done == 100.0

    evs = _events(dump)
    skipped = [e["table"] for e in evs if e["event"] == "TABLE_RESUME_SKIP"]
    assert skipped == [first]  # the completed table was skipped, not redone
    restart_ev = [e for e in evs if e["event"] == "JOB_RESTART"][0]
    assert set(restart_ev["skipped"]) == {first}
    assert len(restart_ev["remaining"]) == 2
    # exactly one TABLE_EXPORT_DONE per table across BOTH runs — the
    # completed table was never re-exported
    done_tables = [
        e["table"] for e in evs if e["event"] == "TABLE_EXPORT_DONE"
    ]
    assert sorted(done_tables) == sorted(f"main.{t}" for t in TABLES)
    # final dump is complete and import-roundtrips with exact counts
    meta = DumpSet(dump).read_manifest()
    assert set(meta.tables) == {f"main.{t}" for t in TABLES}
    wh = str(tmp_path / "wh")
    st = Job(
        "IMPORT", "TABLE", dumpfiles=dump,
        directives=[D.TABLE_EXISTS_ACTION("REPLACE")],
    ).run(wait=True, connection=ParquetConnector(wh), spark=spark)
    assert st.job_state == JobState.COMPLETED.value
    for t in TABLES:
        n_src = spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        n_out = ParquetConnector(wh).read_table(spark, "main", t).count()
        assert n_src == n_out, t


def test_restart_reexports_tampered_table(spark, sf_dir, tmp_path):
    """Digest negative proof: flip one byte of the COMPLETED table's dump
    and restart — the recorded checksum no longer matches, so restart
    re-exports it instead of silently trusting the manifest."""
    stage = _stage(spark, sf_dir, tmp_path)
    dump = str(tmp_path / "dump")
    job = _stopped_export(spark, stage, dump, checksum=True)
    first = [
        e["table"] for e in _events(dump) if e["event"] == "TABLE_EXPORT_DONE"
    ][0]
    schema, table = first.split(".")
    tdir = DumpSet(dump).table_dir(schema, table)
    part = sorted(
        p for p in os.listdir(tdir) if not p.startswith(("_", "."))
    )[0]
    p = os.path.join(tdir, part)
    raw = bytearray(open(p, "rb").read())
    raw[len(raw) // 2] ^= 0xFF
    open(p, "wb").write(bytes(raw))

    att = Job.attach(job.job_name, dumpdir=dump)
    st = att.restart(connection=ParquetConnector(stage), spark=spark)
    assert st.job_state == JobState.COMPLETED.value, st.error

    evs = _events(dump)
    rechecks = [
        e for e in evs if e["event"] == "TABLE_RESUME_RECHECK_FAILED"
    ]
    assert [e["table"] for e in rechecks] == [first]
    assert "checksum" in rechecks[0]["reason"]
    assert not any(e["event"] == "TABLE_RESUME_SKIP" for e in evs)
    # all three tables re-exported (tampered one redone), data intact
    restart_ev = [e for e in evs if e["event"] == "JOB_RESTART"][0]
    assert restart_ev["skipped"] == [] and len(restart_ev["remaining"]) == 3
    n_src = spark.read.parquet(f"{sf_dir}/{table}.parquet").count()
    n_dump = spark.read.parquet(tdir).count()
    assert n_src == n_dump


def test_restart_skip_is_digest_verified_when_checksummed(
    spark, sf_dir, tmp_path
):
    """Healthy checksummed dump: restart recomputes digests and they
    match, so the completed table is skipped (the skip is a verified
    claim, not a manifest read)."""
    stage = _stage(spark, sf_dir, tmp_path)
    dump = str(tmp_path / "dump")
    job = _stopped_export(spark, stage, dump, checksum=True)
    att = Job.attach(job.job_name, dumpdir=dump)
    st = att.restart(connection=ParquetConnector(stage), spark=spark)
    assert st.job_state == JobState.COMPLETED.value, st.error
    evs = _events(dump)
    assert sum(1 for e in evs if e["event"] == "TABLE_RESUME_SKIP") == 1
    # every table's checksums recorded (skipped one kept, new ones added)
    meta = DumpSet(dump).read_manifest()
    for t in TABLES:
        assert meta.tables[f"main.{t}"]["checksums"]["files"], t


def _crash_engine(monkeypatch):
    from oracledb_datapump_spark import job as job_mod

    def crash(*a, **kw):
        raise RuntimeError("injected engine crash")

    monkeypatch.setattr(job_mod, "run_plans", crash)


def _assert_closed_out(job: Job, dump: str) -> None:
    """A crashed job ends in ERROR everywhere: the event log STATUS
    replays, the handle's state, and the live-job registry."""
    from oracledb_datapump_spark.status import live_job, status_from_events

    assert status_from_events(DumpSet(dump)).job_state == JobState.ERROR.value
    errors = [e["error"] for e in _events(dump) if e["event"] == "JOB_ERROR"]
    assert errors == ["injected engine crash"]
    assert job.state == JobState.ERROR
    assert live_job(job.job_name) is None


def test_sync_run_crash_closes_out_in_error(spark, sf_dir, tmp_path, monkeypatch):
    from oracledb_datapump_spark.exceptions import JobError

    stage = _stage(spark, sf_dir, tmp_path)
    dump = str(tmp_path / "dump")
    job = Job(
        "EXPORT", "TABLE", dumpfiles=dump, directives=_export_directives()
    )
    _crash_engine(monkeypatch)
    with pytest.raises(JobError, match="injected engine crash"):
        job.run(wait=True, connection=ParquetConnector(stage), spark=spark)
    _assert_closed_out(job, dump)


def test_restart_crash_closes_out_in_error(spark, sf_dir, tmp_path, monkeypatch):
    stage = _stage(spark, sf_dir, tmp_path)
    dump = str(tmp_path / "dump")
    job = _stopped_export(spark, stage, dump)
    att = Job.attach(job.job_name, dumpdir=dump)
    _crash_engine(monkeypatch)
    with pytest.raises(RuntimeError, match="injected engine crash"):
        att.restart(connection=ParquetConnector(stage), spark=spark)
    _assert_closed_out(att, dump)


def test_stop_refuses_not_running(spark, sf_dir, tmp_path):
    job = Job("EXPORT", "TABLE", dumpfiles=str(tmp_path / "d"),
              directives=[D.INCLUDE_SCHEMA("main")])
    with pytest.raises(UsageError, match="not running"):
        job.stop()


def test_restart_refuses_completed_job(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    dump = str(tmp_path / "dump")
    job = Job("EXPORT", "TABLE", dumpfiles=dump,
              directives=_export_directives())
    st = job.run(wait=True, connection=ParquetConnector(stage), spark=spark)
    assert st.job_state == JobState.COMPLETED.value
    att = Job.attach(job.job_name, dumpdir=dump)
    with pytest.raises(UsageError, match="Only a STOPPED job"):
        att.restart(connection=ParquetConnector(stage), spark=spark)


def test_restart_refuses_import_jobs(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    dump = str(tmp_path / "dump")
    job = _stopped_export(spark, stage, dump)
    # rewrite the manifest operation to IMPORT: restart must refuse and
    # point at the existing idempotent path
    mpath = DumpSet(dump).manifest_path
    m = json.load(open(mpath))
    m["operation"] = "IMPORT"
    json.dump(m, open(mpath, "w"))
    att = Job.attach(job.job_name, dumpdir=dump)
    with pytest.raises(UsageError, match="TABLE_EXISTS_ACTION"):
        att.restart(connection=ParquetConnector(stage), spark=spark)


def test_stop_async_job_from_another_thread(spark, sf_dir, tmp_path):
    """The async path: wait=False, stop issued from the caller's thread
    while the worker executes; poll lands on STOPPED."""

    class SlowRead(ParquetConnector):
        def read_table(self, spark, schema, table, **kwargs):
            time.sleep(0.4)
            return super().read_table(spark, schema, table, **kwargs)

    stage = _stage(spark, sf_dir, tmp_path)
    dump = str(tmp_path / "dump")
    job = Job("EXPORT", "TABLE", dumpfiles=dump,
              directives=_export_directives())
    job.run(wait=False, connection=SlowRead(stage), spark=spark)
    deadline = time.monotonic() + 30
    while job.state != JobState.EXECUTING and time.monotonic() < deadline:
        time.sleep(0.01)
    job.stop()
    assert job.state in (
        JobState.STOP_PENDING, JobState.STOPPING, JobState.STOPPED,
    )
    st = job.poll_for_completion(rate=0.05)
    assert st.job_state == JobState.STOPPED.value
    evs = _events(dump)
    assert any(e["event"] == "TABLE_EXPORT_NOT_RUN" for e in evs)
    # restartable to completion afterwards
    att = Job.attach(job.job_name, dumpdir=dump)
    st = att.restart(connection=ParquetConnector(stage), spark=spark)
    assert st.job_state == JobState.COMPLETED.value, st.error


def test_kill_deletes_all_artifacts(spark, sf_dir, tmp_path):
    """KILL_JOB contrast with STOP_JOB: the dump set (data, manifest,
    events — the master table) is deleted, the job is neither
    attachable nor restartable."""

    class SlowRead(ParquetConnector):
        def read_table(self, spark, schema, table, **kwargs):
            time.sleep(0.4)
            return super().read_table(spark, schema, table, **kwargs)

    stage = _stage(spark, sf_dir, tmp_path)
    dump = str(tmp_path / "dump")
    job = Job("EXPORT", "TABLE", dumpfiles=dump,
              directives=_export_directives())
    job.run(wait=False, connection=SlowRead(stage), spark=spark)
    deadline = time.monotonic() + 30
    while job.state != JobState.EXECUTING and time.monotonic() < deadline:
        time.sleep(0.01)
    job.kill()
    assert job.state == JobState.NOT_RUNNING
    assert not os.path.exists(dump)
    with pytest.raises(Exception, match="No job artifacts|not running"):
        Job.attach(job.job_name, dumpdir=dump)


def test_kill_stopped_job_discards_artifacts(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    dump = str(tmp_path / "dump")
    job = _stopped_export(spark, stage, dump)
    job.kill()
    assert not os.path.exists(dump)


def test_kill_unstarted_job_refuses(tmp_path):
    job = Job("EXPORT", "TABLE", dumpfiles=str(tmp_path / "d"),
              directives=_export_directives())
    with pytest.raises(UsageError, match="not started"):
        job.kill()


def test_protocol_stop_restart_kill(spark, sf_dir, tmp_path):
    """The JSON protocol drives the full interactive-command family:
    STOP a live job, RESTART the stopped one to completion, KILL a
    second stopped job (dump set deleted)."""
    from oracledb_datapump_spark.request import handle_request

    stage = _stage(spark, sf_dir, tmp_path)
    for leg in ("restart", "kill"):
        dump = str(tmp_path / f"dump_{leg}")

        class SlowRead(ParquetConnector):
            def read_table(self, spark, schema, table, **kwargs):
                time.sleep(0.4)
                return super().read_table(spark, schema, table, **kwargs)

        job = Job("EXPORT", "TABLE", dumpfiles=dump,
                  directives=_export_directives())
        job.run(wait=False, connection=SlowRead(stage), spark=spark)
        deadline = time.monotonic() + 30
        while job.state != JobState.EXECUTING and time.monotonic() < deadline:
            time.sleep(0.01)
        resp = handle_request(
            {"request": "STOP", "payload": {"job_name": job.job_name}},
            spark=spark,
        )
        assert resp.state in ("STOP_PENDING", "STOPPING", "STOPPED")
        job.poll_for_completion(rate=0.05)
        assert job.state == JobState.STOPPED
        if leg == "restart":
            resp = handle_request(
                {
                    "request": "RESTART",
                    "payload": {"job_name": job.job_name, "dumpdir": dump},
                    "connection": f"parquet://{stage}",
                },
                spark=spark,
            )
            assert resp.state == "COMPLETED", resp.error
            meta = DumpSet(dump).read_manifest()
            assert set(meta.tables) == {f"main.{t}" for t in TABLES}
        else:
            resp = handle_request(
                {
                    "request": "KILL",
                    "payload": {"job_name": job.job_name, "dumpdir": dump},
                },
                spark=spark,
            )
            assert resp.state == "NOT_RUNNING"
            assert not os.path.exists(dump)


def test_stop_restart_preserves_incremental_watermark(spark, tmp_path):
    """Composition: a 2-table INCREMENTAL export stopped mid-cycle and
    restarted yields the same dump as an uninterrupted cycle, and a
    LATER incremental cycle still appends only past-watermark rows."""
    import os as _os

    from pyspark.sql import functions as F

    stage = str(tmp_path / "stage")
    dump = str(tmp_path / "dump")
    for t in ("ta", "tb"):
        spark.range(10).select(
            F.col("id"), F.col("id").cast("long").alias("ver")
        ).write.parquet(_os.path.join(stage, f"{t}.parquet"))
    dirs = [
        D.INCLUDE_SCHEMA("main"),
        D.INCLUDE_TABLE("ta"),
        D.INCLUDE_TABLE("tb"),
        D.INCREMENTAL_COLUMN("ver"),
    ]

    src = StopOnFirstRead(stage)
    job = Job("EXPORT", "TABLE", dumpfiles=dump, directives=dirs)
    src.job = job
    st = job.run(wait=True, connection=src, spark=spark)
    assert st.job_state == JobState.STOPPED.value
    st = Job.attach(job.job_name, dumpdir=dump).restart(
        connection=ParquetConnector(stage), spark=spark
    )
    assert st.job_state == JobState.COMPLETED.value, st.error
    meta = DumpSet(dump).read_manifest()
    assert {m["watermark"] for m in meta.tables.values()} == {9}
    # grow both sources; the next cycle appends exactly the delta
    for t in ("ta", "tb"):
        spark.range(10, 15).select(
            F.col("id"), F.col("id").cast("long").alias("ver")
        ).write.mode("append").parquet(_os.path.join(stage, f"{t}.parquet"))
    st = Job("EXPORT", "TABLE", dumpfiles=dump, directives=dirs).run(
        wait=True, connection=ParquetConnector(stage), spark=spark
    )
    assert st.job_state == JobState.COMPLETED.value, st.error
    meta = DumpSet(dump).read_manifest()
    for m in meta.tables.values():
        assert m["watermark"] == 14 and m["rows_this_run"] == 5
        assert m["row_count"] == 15


def test_stopped_incremental_cycle_keeps_not_run_watermarks(spark, tmp_path):
    """A later INCREMENTAL cycle stopped after its first table leaves the
    second table's dump untouched, so its manifest entry (watermark and
    snapshot history) stays: the restart appends only its new rows."""
    from pyspark.sql import functions as F

    stage, dump = str(tmp_path / "stage"), str(tmp_path / "dump")

    def grow(lo, hi):
        for t in ("ta", "tb"):
            spark.range(lo, hi).select(
                F.col("id"), F.col("id").cast("long").alias("ver")
            ).write.mode("append").parquet(os.path.join(stage, f"{t}.parquet"))

    dirs = [D.INCLUDE_SCHEMA("main"), D.INCLUDE_TABLE("ta"),
            D.INCLUDE_TABLE("tb"), D.INCREMENTAL_COLUMN("ver")]
    grow(0, 10)
    st = Job("EXPORT", "TABLE", dumpfiles=dump, directives=dirs).run(
        wait=True, connection=ParquetConnector(stage), spark=spark
    )
    assert st.job_state == JobState.COMPLETED.value, st.error
    grow(10, 15)
    src = StopOnFirstRead(stage)
    job = src.job = Job("EXPORT", "TABLE", dumpfiles=dump, directives=dirs)
    st = job.run(wait=True, connection=src, spark=spark)
    assert st.job_state == JobState.STOPPED.value, st.job_state
    st = Job.attach(job.job_name, dumpdir=dump).restart(
        connection=ParquetConnector(stage), spark=spark
    )
    assert st.job_state == JobState.COMPLETED.value, st.error
    ds = DumpSet(dump)
    for key, m in ds.read_manifest().tables.items():
        assert (m["watermark"], m["rows_this_run"], m["row_count"]) == (14, 5, 15), key
        assert len(m["snapshots"]) == 2, key
        tdir = ds.table_dir(*key.split("."))
        assert spark.read.parquet(tdir).select("id").distinct().count() == 15


# ---- ENCRYPTION × restart: the manifest persists ENCRYPTION_PASSWORD
# as the redacted literal '***' (never the secret), so a restart that
# re-planned from it verbatim would seal every remaining table under a
# key derived from a PUBLIC constant — the real password would no longer
# decrypt them while anyone's '***' would. restart() must demand the
# original password (Oracle's START_JOB re-prompts for it) and
# validate_encryption must reject the sentinel outright.

PW = "tr0ub4dor&3"


def _stopped_encrypted_export(spark, stage, dump) -> Job:
    src = StopOnFirstRead(stage)
    job = Job(
        "EXPORT", "TABLE", dumpfiles=dump,
        directives=_export_directives()
        + [D.ENCRYPTION("ALL"), D.ENCRYPTION_PASSWORD(PW)],
    )
    src.job = job
    st = job.run(wait=True, connection=src, spark=spark)
    assert st.job_state == JobState.STOPPED.value, st.job_state
    return job


def test_restart_encrypted_requires_original_password(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    dump = str(tmp_path / "dump")
    job = _stopped_encrypted_export(spark, stage, dump)
    conn = ParquetConnector(stage)
    with pytest.raises(UsageError, match="requires the original password"):
        job.restart(connection=conn, spark=spark)
    with pytest.raises(UsageError, match="requires the original password"):
        job.restart(connection=conn, spark=spark, password="***")
    # refused attempts leave the job STOPPED and restartable
    st = job.restart(connection=conn, spark=spark, password=PW)
    assert st.job_state == JobState.COMPLETED.value, st.error
    # every table (resumed ones included) decrypts under the REAL password
    wh = str(tmp_path / "wh")
    st = Job(
        "IMPORT", "TABLE", dumpfiles=dump,
        directives=[D.TABLE_EXISTS_ACTION("REPLACE"), D.ENCRYPTION_PASSWORD(PW)],
    ).run(wait=True, connection=ParquetConnector(wh), spark=spark)
    assert st.job_state == JobState.COMPLETED.value, st.error
    out = ParquetConnector(wh)
    for t in TABLES:
        want = spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        assert out.read_table(spark, "main", t).count() == want


def test_restart_password_on_unencrypted_job_refused(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    dump = str(tmp_path / "dump")
    job = _stopped_export(spark, stage, dump)
    with pytest.raises(UsageError, match="no ENCRYPTION_PASSWORD"):
        job.restart(
            connection=ParquetConnector(stage), spark=spark, password=PW
        )


def test_validate_encryption_rejects_redacted_sentinel():
    from oracledb_datapump_spark.crypto import validate_encryption

    with pytest.raises(UsageError, match="redacted manifest sentinel"):
        validate_encryption({"scope": "ALL", "password": "***"})


# ---- NETWORK_LINK transfer × stop/restart: a transfer has no dump to
# digest, so resume verifies the TARGET — each completed table records a
# row count + content fingerprint at TABLE_TRANSFER_DONE; restart()
# recomputes both and skips verified tables; a dropped/tampered target
# is re-transferred (write_mode forced to overwrite). At 100 TB a 3-day
# migrate that dies at 90% must not restart from zero.


class StopOnFirstWrite(ParquetConnector):
    """TARGET connector that requests a cooperative stop from within the
    FIRST table's write — the in-flight table completes (boundary
    cooperation), the rest are recorded not-run."""

    def __init__(self, root: str):
        super().__init__(root)
        self.job: Job | None = None
        self.writes = 0

    def write_table(self, df, schema, table, **kwargs):
        self.writes += 1
        if self.writes == 1 and self.job is not None:
            self.job.stop()
        return super().write_table(df, schema, table, **kwargs)


def _transfer_directives(stage: str):
    return (
        [D.INCLUDE_SCHEMA("main"), D.NETWORK_LINK(f"parquet://{stage}")]
        + [D.INCLUDE_TABLE(t) for t in TABLES]
        + [D.TABLE_EXISTS_ACTION("REPLACE")]
    )


def _stopped_transfer(spark, stage, events, wh) -> Job:
    tgt = StopOnFirstWrite(wh)
    job = Job(
        "IMPORT", "TABLE", dumpfiles=events,
        directives=_transfer_directives(stage),
    )
    tgt.job = job
    st = job.run(wait=True, connection=tgt, spark=spark)
    assert st.job_state == JobState.STOPPED.value, st.job_state
    return job


def test_transfer_stop_restart_skips_verified_targets(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    events, wh = str(tmp_path / "ev"), str(tmp_path / "wh")
    job = _stopped_transfer(spark, stage, events, wh)
    evs = _events(events)
    done1 = [e["table"] for e in evs if e["event"] == "TABLE_TRANSFER_DONE"]
    assert len(done1) == 1
    assert sum(1 for e in evs if e["event"] == "TABLE_TRANSFER_NOT_RUN") == 2
    # the completed table's manifest entry carries the target fingerprint
    meta = DumpSet(events).read_manifest()
    (entry,) = meta.tables.values()
    assert entry["ok"] and entry["target_digest"]

    st = Job.attach(job.job_name, dumpdir=events).restart(
        connection=ParquetConnector(wh), spark=spark
    )
    assert st.job_state == JobState.COMPLETED.value, st.error
    evs = _events(events)
    skips = [e["table"] for e in evs if e["event"] == "TABLE_RESUME_SKIP"]
    assert len(skips) == 1  # the verified-complete target, never redone
    assert (
        sum(1 for e in evs if e["event"] == "TABLE_TRANSFER_DONE") == 3
    )  # 1 first run + 2 resumed = no table transferred twice
    out = ParquetConnector(wh)
    for t in TABLES:
        want = spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        assert out.read_table(spark, "main", t).count() == want
    # all three recorded complete with fingerprints in the merged manifest
    meta = DumpSet(events).read_manifest()
    assert sorted(meta.tables) == sorted(f"main.{t}" for t in TABLES)
    assert all(m["ok"] and m["target_digest"] for m in meta.tables.values())


def test_transfer_restart_retransfers_tampered_target(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    events, wh = str(tmp_path / "ev"), str(tmp_path / "wh")
    job = _stopped_transfer(spark, stage, events, wh)
    done = [
        e["table"] for e in _events(events)
        if e["event"] == "TABLE_TRANSFER_DONE"
    ][0]
    schema, table = done.split(".")
    # tamper the completed TARGET table: drop one data file
    tdir = os.path.join(wh, schema, f"{table}.parquet")
    assert os.path.isdir(tdir), tdir
    part = sorted(
        p for p in os.listdir(tdir) if not p.startswith(("_", "."))
    )[0]
    os.remove(os.path.join(tdir, part))
    st = Job.attach(job.job_name, dumpdir=events).restart(
        connection=ParquetConnector(wh), spark=spark
    )
    assert st.job_state == JobState.COMPLETED.value, st.error
    evs = _events(events)
    rechecks = [
        e["table"] for e in evs
        if e["event"] == "TABLE_RESUME_RECHECK_FAILED"
    ]
    assert rechecks == [done]
    assert not any(e["event"] == "TABLE_RESUME_SKIP" for e in evs)
    out = ParquetConnector(wh)
    for t in TABLES:  # the tampered table was re-transferred whole
        want = spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        assert out.read_table(spark, "main", t).count() == want


def test_transfer_restart_requires_target_connection(spark, sf_dir, tmp_path):
    stage = _stage(spark, sf_dir, tmp_path)
    events, wh = str(tmp_path / "ev"), str(tmp_path / "wh")
    job = _stopped_transfer(spark, stage, events, wh)
    att = Job.attach(job.job_name, dumpdir=events)
    with pytest.raises(UsageError, match="transfer TARGET"):
        att.restart(spark=spark)


def test_transfer_restart_keeps_a_skipped_target(spark, sf_dir, tmp_path):
    """TABLE_EXISTS_ACTION('SKIP') × restart: a table the stopped transfer
    skipped logged a TABLE_TRANSFER_DONE with no target fingerprint, so
    restart() runs it again under SKIP; it never fails a recheck and
    forces an overwrite of the table the job was told to keep."""
    stage = _stage(spark, sf_dir, tmp_path)
    events, wh = str(tmp_path / "ev"), str(tmp_path / "wh")
    out = ParquetConnector(wh)
    remnant = spark.read.parquet(f"{sf_dir}/nation.parquet").limit(1)
    out.write_table(remnant, "main", "nation", mode="overwrite")
    tgt = StopOnFirstWrite(wh)
    job = Job(
        "IMPORT", "TABLE", dumpfiles=events,
        directives=_transfer_directives(stage)[:-1]
        + [D.TABLE_EXISTS_ACTION("SKIP")],
    )
    tgt.job = job
    st = job.run(wait=True, connection=tgt, spark=spark)
    assert st.job_state == JobState.STOPPED.value, st.job_state
    evs = _events(events)
    assert [
        e["table"] for e in evs if e["event"] == "TABLE_TRANSFER_SKIP_EXISTS"
    ] == ["main.nation"]
    assert sum(1 for e in evs if e["event"] == "TABLE_TRANSFER_NOT_RUN") == 1
    st = Job.attach(job.job_name, dumpdir=events).restart(
        connection=ParquetConnector(wh), spark=spark
    )
    assert st.job_state == JobState.COMPLETED.value, st.error
    assert not any(
        e["event"] == "TABLE_RESUME_RECHECK_FAILED" for e in _events(events)
    )
    assert out.read_table(spark, "main", "nation").count() == 1
    for t in ("region", "supplier"):
        want = spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        assert out.read_table(spark, "main", t).count() == want


def test_transfer_restart_refuses_a_shared_target_after_one_source(
    spark, sf_dir, tmp_path
):
    """Two sources remapped (REMAP_SCHEMA) onto one target, stopped after
    the first: the TABLE_TRANSFER_* events name the target only, so they
    cannot tell which source finished. restart() refuses rather than
    take the first source's _DONE for the second and drop its rows."""
    stage, wh = str(tmp_path / "stage"), str(tmp_path / "wh")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    for s in ("a", "b"):
        nation.write.parquet(os.path.join(stage, s, "nation.parquet"))
    events = str(tmp_path / "ev")
    tgt = StopOnFirstWrite(wh)
    job = tgt.job = Job(
        "IMPORT", "SCHEMA", dumpfiles=events,
        directives=[
            D.NETWORK_LINK(f"parquet://{stage}"),
            D.INCLUDE_SCHEMA("a"), D.INCLUDE_SCHEMA("b"),
            D.REMAP_SCHEMA("a", "main"), D.REMAP_SCHEMA("b", "main"),
            D.TABLE_EXISTS_ACTION("APPEND"),
        ],
    )
    st = job.run(wait=True, connection=tgt, spark=spark)
    assert st.job_state == JobState.STOPPED.value, st.job_state
    evs = _events(events)
    assert [e["event"] for e in evs if e.get("table") == "main.nation"] == [
        "TABLE_TRANSFER_START", "TABLE_TRANSFER_DONE", "TABLE_TRANSFER_NOT_RUN"
    ]
    att = Job.attach(job.job_name, dumpdir=events)
    with pytest.raises(UsageError, match="main.nation"):
        att.restart(connection=ParquetConnector(wh), spark=spark)
    assert ParquetConnector(wh).read_table(spark, "main", "nation").count() == (
        nation.count()
    )
