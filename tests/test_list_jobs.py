"""LIST_JOBS: the DBA_DATAPUMP_JOBS analog across all three surfaces —
status.list_jobs(), the JSON protocol handler, and the CLI flag."""

import json
import os

import pytest

from oracledb_datapump_spark import Job
from oracledb_datapump_spark.catalog import ParquetConnector
from oracledb_datapump_spark.directives import DirectiveBase as D
from oracledb_datapump_spark.status import (
    deregister_job,
    list_jobs,
    register_job,
)


@pytest.fixture()
def completed_dump(spark, tmp_path):
    """A real completed single-table export under tmp_path/dumps."""
    stage = tmp_path / "stage"
    root = tmp_path / "dumps"
    root.mkdir()
    spark.read.parquet("/root/testdata/sf0.001/region.parquet").write.parquet(
        str(stage / "region.parquet")
    )
    job = Job(
        "EXPORT",
        "TABLE",
        dumpfiles=str(root / "set1"),
        directives=[D.INCLUDE_SCHEMA("main"), D.INCLUDE_TABLE("region")],
    )
    st = job.run(connection=ParquetConnector(str(stage)), spark=spark)
    assert st.job_state == "COMPLETED"
    return str(root), job.job_name


class _FakeLive:
    class _V:
        def __init__(self, v):
            self.value = v

    operation = _V("EXPORT")
    mode = _V("SCHEMA")
    state = _V("EXECUTING")


def test_list_jobs_merges_registry_and_disk(completed_dump):
    root, done_name = completed_dump
    register_job("LIVE-TEST-JOB", _FakeLive())
    try:
        rows = {r["job_name"]: r for r in list_jobs(dump_root=root)}
        assert rows["LIVE-TEST-JOB"]["source"] == "registry"
        assert rows["LIVE-TEST-JOB"]["state"] == "EXECUTING"
        assert rows[done_name]["source"] == "events"
        assert rows[done_name]["state"] == "COMPLETED"
        assert rows[done_name]["operation"] == "EXPORT"
        assert rows[done_name]["mode"] == "TABLE"
    finally:
        deregister_job("LIVE-TEST-JOB")


def test_registry_wins_over_disk(completed_dump):
    """A job both live and on disk lists once, from the registry."""
    root, done_name = completed_dump
    register_job(done_name, _FakeLive())
    try:
        rows = [r for r in list_jobs(dump_root=root) if r["job_name"] == done_name]
        assert len(rows) == 1 and rows[0]["source"] == "registry"
    finally:
        deregister_job(done_name)


def test_non_dump_dirs_are_skipped(completed_dump, tmp_path):
    root, done_name = completed_dump
    os.makedirs(os.path.join(root, "not_a_dump"))
    names = [r["job_name"] for r in list_jobs(dump_root=root)]
    assert done_name in names
    assert "not_a_dump" not in names


def test_protocol_list_jobs(completed_dump):
    from oracledb_datapump_spark.request import handle_request

    root, done_name = completed_dump
    resp = handle_request(
        json.dumps({"request": "LIST_JOBS", "payload": {"dump_root": root}})
    )
    d = resp.to_dict()
    assert d["request"] == "LIST_JOBS" and d["error"] is None
    assert any(j["job_name"] == done_name for j in d["jobs"])


def test_cli_list_jobs(completed_dump, capsys):
    from oracledb_datapump_spark.entrypoints.cli import main

    root, done_name = completed_dump
    rc = main(["export", "--list-jobs", root])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert any(
        j["job_name"] == done_name and j["state"] == "COMPLETED"
        for j in out["jobs"]
    )


def test_attach_while_running_row_counts_sessions(spark, tmp_path):
    """DBA_DATAPUMP_JOBS fidelity: a listing taken while the job
    executes carries degree (compiled PARALLEL) and attached_sessions
    (owner run + each live attach handle)."""
    import threading
    import time

    stage = tmp_path / "stage"
    spark.read.parquet("/root/testdata/sf0.001/region.parquet").write.parquet(
        str(stage / "region.parquet")
    )

    gate = threading.Event()
    release = threading.Event()

    class SlowRead(ParquetConnector):
        def read_table(self, spark, schema, table, **kwargs):
            gate.set()
            release.wait(timeout=30)
            return super().read_table(spark, schema, table, **kwargs)

    job = Job(
        "EXPORT",
        "TABLE",
        dumpfiles=str(tmp_path / "dump"),
        directives=[
            D.INCLUDE_SCHEMA("main"),
            D.INCLUDE_TABLE("region"),
            D.PARALLEL(2),
        ],
    )
    try:
        job.run(wait=False, connection=SlowRead(str(stage)), spark=spark)
        assert gate.wait(timeout=30)
        att = Job.attach(job.job_name)
        assert att is job and job.attached_sessions == 2
        rows = {r["job_name"]: r for r in list_jobs()}
        row = rows[job.job_name]
        assert row["source"] == "registry"
        assert row["attached_sessions"] == 2
        assert row["degree"] == 2
    finally:
        release.set()
        job.poll_for_completion(rate=0.2)
    # completed-from-disk rows report no live sessions
    rows = {
        r["job_name"]: r
        for r in list_jobs(dump_root=str(tmp_path))
    }
    row = rows[job.job_name]
    assert row["source"] == "events"
    assert row["attached_sessions"] == 0
    assert row["degree"] == 2


def test_protocol_requests_do_not_count_sessions(spark, tmp_path):
    """A STATUS request attaches only for its own duration: three of
    them against a running job leave attached_sessions at the owning
    run's 1, while a direct Job.attach handle still counts."""
    import threading

    from oracledb_datapump_spark.request import handle_request

    stage = tmp_path / "stage"
    spark.read.parquet("/root/testdata/sf0.001/region.parquet").write.parquet(
        str(stage / "region.parquet")
    )
    gate = threading.Event()
    release = threading.Event()

    class SlowRead(ParquetConnector):
        def read_table(self, spark, schema, table, **kwargs):
            gate.set()
            release.wait(timeout=30)
            return super().read_table(spark, schema, table, **kwargs)

    dump = str(tmp_path / "dump")
    job = Job(
        "EXPORT",
        "TABLE",
        dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("main"), D.INCLUDE_TABLE("region")],
    )
    try:
        job.run(wait=False, connection=SlowRead(str(stage)), spark=spark)
        assert gate.wait(timeout=30)
        req = {
            "request": "STATUS",
            "payload": {"job_name": job.job_name, "dumpdir": dump},
        }
        for _ in range(3):
            assert handle_request(req).state == "EXECUTING"
        assert job.attached_sessions == 1
        row = {r["job_name"]: r for r in list_jobs()}[job.job_name]
        assert row["attached_sessions"] == 1
    finally:
        release.set()
        job.poll_for_completion(rate=0.2)
    assert job.state.value == "COMPLETED"


def test_concurrent_requests_leave_sessions_as_found(tmp_path):
    """attach() and the request's detach() both update one counter: 16
    threads polling one live job at a shortened switch interval must not
    lose an update."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from oracledb_datapump_spark.dumpset import DumpSet
    from oracledb_datapump_spark.request import handle_request

    dump = str(tmp_path / "dump")
    job = Job("EXPORT", "TABLE", dumpfiles=dump, job_name="STRESS")
    job.dumpset = DumpSet(dump)
    job.dumpset.log_event("JOB_OPEN", job_name="STRESS", operation="EXPORT")
    job.attached_sessions = 1
    register_job("STRESS", job)
    req = {"request": "STATUS", "payload": {"job_name": "STRESS"}}
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [pool.submit(handle_request, req) for _ in range(400)]
            states = {f.result(timeout=60).state for f in futures}
    finally:
        sys.setswitchinterval(interval)
        deregister_job("STRESS")
    assert states == {"DEFINING"}
    assert job.attached_sessions == 1
