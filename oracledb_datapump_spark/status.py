"""Status models + status strategies.

Parity reference: /root/reference/src/oracledb_datapump/status.py (629 LoC).
The reference needs three fallback strategies (data dictionary :366-385,
Data Pump API :388-446, logfile regex parse :449-579) because Oracle's
status API degrades late-job (:394-399). Our engine writes a structured
JSONL event log, so one cheap reader replaces the regex archaeology; we
keep the same precedence shape (in-memory registry → event log) and the
same user-facing models.
"""

from __future__ import annotations

import enum
import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from .base import JobState, TERMINAL_STATES
from .dumpset import DumpSet

# Default completion-poll rate, seconds (reference job.py:317,390-409).
DEFAULT_POLL_RATE = 30
# Status API timeout (reference constants.py:15) — kept for API parity.
STATUS_TIMEOUT = 120


class StatusRequestType(enum.Flag):
    """Detail-level mask (reference status.py:276-293:
    {WIP=1, DESC=2, STATUS=4, ERROR=8})."""

    WIP = 1
    DESC = 2
    STATUS = 4
    ERROR = 8
    ALL = WIP | DESC | STATUS | ERROR
    LOG_STATUS = 16


@dataclass
class JobWorkerStatus:
    """Per-table 'worker' metrics (reference status.py:226-245 — there a
    Data Pump worker process; here a table task)."""

    name: str
    state: str
    completed_rows: int | None = None
    completed_bytes: int | None = None
    error: str | None = None


@dataclass
class JobDumpFile:
    """Reference status.py:248-256."""

    file_name: str
    file_size: int | None = None


@dataclass
class JobDescription:
    """Reference status.py:184-223 (SCN/versions/charsets reduced to what
    a Spark job actually has)."""

    job_name: str
    operation: str
    mode: str
    as_of: str | None = None
    parallel: int = 1
    schemas: list[str] = field(default_factory=list)


@dataclass
class JobStatus:
    """Aggregate progress (reference status.py:259-273)."""

    state: str
    bytes_processed: int = 0
    total_bytes: int = 0
    percent_done: float = 0.0
    worker_status_list: list[JobWorkerStatus] = field(default_factory=list)
    files: list[JobDumpFile] = field(default_factory=list)


@dataclass
class JobLogEntry:
    """Reference status.py:162-168."""

    log_line: str
    timestamp: str | None = None


@dataclass
class JobStatusInfo:
    """Top-level status payload (reference status.py:296-318)."""

    job_state: str
    wip: list[JobLogEntry] = field(default_factory=list)
    job_description: JobDescription | None = None
    job_status: JobStatus | None = None
    error: list[JobLogEntry] = field(default_factory=list)
    logfile: str | None = None
    log_contents: str | None = None
    dumpfiles: list[str] = field(default_factory=list)

    def to_dict(self) -> dict[str, Any]:
        import dataclasses

        return dataclasses.asdict(self)


# ---------------------------------------------------------------------------
# Strategies
# ---------------------------------------------------------------------------

# Strategy 1 — in-memory registry of live jobs (replaces dba_datapump_jobs,
# reference status.py:366-385, sql.py:51-60).
_live_jobs: dict[str, "object"] = {}


def register_job(name: str, job: object) -> None:
    _live_jobs[name] = job


def deregister_job(name: str) -> None:
    _live_jobs.pop(name, None)


def live_job(name: str) -> object | None:
    return _live_jobs.get(name)


def job_exists(name: str) -> bool:
    return name in _live_jobs


def list_jobs(dump_root: str | None = None) -> list[dict]:
    """Enumerate known jobs — the DBA_DATAPUMP_JOBS analog (the
    reference's data-dictionary status strategy reads exactly that view,
    reference status.py:366-385, sql.py:51-60; Oracle's columns are
    owner_name/job_name/operation/job_mode/state/attached_sessions).

    Two sources, registry-first like the status strategies: every job in
    the in-process live registry, then — when ``dump_root`` is given —
    the job of every dump-set directory under it that is NOT already
    listed: operation, mode and name from its last JOB_OPEN and state
    replayed from its event log (the cross-process half the in-memory
    registry cannot see, exactly the split cleanup_orphans honors). Rows
    sort by job_name for a stable listing."""
    rows: list[dict] = []
    seen: set[str] = set()
    for name, job in sorted(_live_jobs.items()):
        op = getattr(job, "operation", None)
        mode = getattr(job, "mode", None)
        state = getattr(job, "state", None)
        rows.append(
            {
                "job_name": name,
                "operation": getattr(op, "value", None),
                "mode": getattr(mode, "value", None),
                "state": getattr(state, "value", None),
                # DBA_DATAPUMP_JOBS carries attached_sessions and degree;
                # the live registry is the only place either is knowable
                # (owner run counts as one session, each live attach()
                # handle adds one; degree is the compiled PARALLEL)
                "attached_sessions": getattr(job, "attached_sessions", 0),
                "degree": getattr(
                    getattr(job, "config", None), "parallel", None
                ),
                "source": "registry",
            }
        )
        seen.add(name)
    if dump_root and os.path.isdir(dump_root):
        for entry in sorted(os.listdir(dump_root)):
            path = os.path.join(dump_root, entry)
            if not os.path.isdir(path):
                continue
            try:
                info = status_from_events(DumpSet(path))
            except Exception:
                continue
            desc = info.job_description
            if desc is None or desc.job_name in seen:
                continue  # no JOB_OPEN: not a dump set
            rows.append(
                {
                    "job_name": desc.job_name,
                    "operation": desc.operation,
                    "mode": desc.mode,
                    "state": info.job_state,
                    # no live process holds this job: zero attached
                    # sessions; degree replays from JOB_OPEN's parallel
                    "attached_sessions": 0,
                    "degree": desc.parallel,
                    "source": "events",
                }
            )
            seen.add(desc.job_name)
    return sorted(rows, key=lambda r: r["job_name"] or "")


def status_from_events(
    dumpset: DumpSet, request: StatusRequestType = StatusRequestType.ALL
) -> JobStatusInfo:
    """Strategy 2 — event-log derivation (replaces logfile regex parse,
    reference status.py:449-579)."""
    state = JobState.UNDEFINED.value
    desc: JobDescription | None = None
    workers: dict[str, JobWorkerStatus] = {}
    errors: list[JobLogEntry] = []
    wip: list[JobLogEntry] = []
    dumpfiles: list[str] = []
    bytes_done = 0
    for ev in dumpset.read_events():
        et = ev.get("event", "")
        ts = ev.get("ts")
        if et == "JOB_OPEN":
            state = JobState.DEFINING.value
            desc = JobDescription(
                job_name=ev.get("job_name", ""),
                operation=ev.get("operation", ""),
                mode=ev.get("mode", ""),
                as_of=ev.get("as_of"),
                parallel=ev.get("parallel", 1),
                schemas=ev.get("schemas", []),
            )
        elif et == "JOB_START":
            state = JobState.EXECUTING.value
        elif et == "JOB_DONE":
            state = ev.get("state", JobState.COMPLETED.value)
            dumpfiles = ev.get("dumpfiles", [])
        elif et.startswith("TABLE_") and et.endswith("_START"):
            t = ev.get("table", "")
            workers[t] = JobWorkerStatus(name=t, state="EXECUTING")
            wip.append(JobLogEntry(log_line=f"{et} {t}", timestamp=ts))
        elif et.startswith("TABLE_") and et.endswith("_DONE"):
            t = ev.get("table", "")
            w = workers.setdefault(t, JobWorkerStatus(name=t, state=""))
            w.state = "COMPLETED"
            w.completed_rows = ev.get("rows")
            w.completed_bytes = ev.get("bytes")
            bytes_done += ev.get("bytes") or 0
        elif et.startswith("TABLE_") and et.endswith("_ERROR"):
            t = ev.get("table", "")
            w = workers.setdefault(t, JobWorkerStatus(name=t, state=""))
            w.state = "ERROR"
            w.error = ev.get("error")
            errors.append(JobLogEntry(log_line=str(ev.get("error")), timestamp=ts))
    n = len(workers) or 1
    done = sum(1 for w in workers.values() if w.state in ("COMPLETED", "ERROR"))
    info = JobStatusInfo(
        job_state=state,
        wip=wip if request & StatusRequestType.WIP else [],
        job_description=desc if request & StatusRequestType.DESC else None,
        job_status=JobStatus(
            state=state,
            bytes_processed=bytes_done,
            percent_done=100.0 * done / n,
            worker_status_list=list(workers.values()),
            files=[JobDumpFile(file_name=f) for f in dumpfiles],
        )
        if request & StatusRequestType.STATUS
        else None,
        error=errors if request & StatusRequestType.ERROR else [],
        logfile=dumpset.logfile_path,
        dumpfiles=dumpfiles,
    )
    if request & StatusRequestType.LOG_STATUS:
        info.log_contents = dumpset.read_logfile()
    return info


def poll_for_completion(
    get_state: Callable[[], str],
    rate: float = DEFAULT_POLL_RATE,
    timeout: float | None = None,
) -> str:
    """Block until terminal state (reference job.py:390-409; default
    30 s rate job.py:317)."""
    start = time.monotonic()
    while True:
        state = get_state()
        if state in {s.value for s in TERMINAL_STATES}:
            return state
        if timeout is not None and time.monotonic() - start > timeout:
            return state
        time.sleep(rate)


def get_status_on_exception(fn):
    """Error-recovery decorator (reference status.py:586-629): on failure,
    attach the collected job status to the raised error."""
    import functools

    from .exceptions import JobError

    @functools.wraps(fn)
    def wrapper(self, *a, **kw):
        try:
            return fn(self, *a, **kw)
        except JobError:
            raise
        except Exception as e:
            status = None
            try:
                status = status_from_events(self.dumpset)
            except Exception:
                pass
            raise JobError(str(e), status=status) from e

    return wrapper
