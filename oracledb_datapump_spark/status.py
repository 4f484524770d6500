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
    listed: one ``replay`` of its event log gives name, operation, mode
    and degree from the last JOB_OPEN and the state since it (the
    cross-process half the in-memory registry cannot see, exactly the
    split cleanup_orphans honors). Rows sort by job_name for a stable
    listing."""
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
                r = replay(DumpSet(path))
            except Exception:
                continue
            desc = _description(r.opened)
            if desc is None or desc.job_name in seen:
                continue  # no JOB_OPEN: not a dump set
            rows.append(
                {
                    "job_name": desc.job_name,
                    "operation": desc.operation,
                    "mode": desc.mode,
                    "state": r.state,
                    # no live process holds this job: zero attached
                    # sessions; degree replays from JOB_OPEN's parallel
                    "attached_sessions": 0,
                    "degree": desc.parallel,
                    "source": "events",
                }
            )
            seen.add(desc.job_name)
    return sorted(rows, key=lambda r: r["job_name"] or "")


# The per-table state events, TABLE_<op>_<what>, and the worker state each
# one shows in STATUS.
_TABLE_STATES = {
    "START": "EXECUTING",
    "DONE": "COMPLETED",
    "ERROR": "ERROR",
    "NOT_RUN": "NOT_RUN",
}


@dataclass
class Replay:
    """A dump set's job as its event log records it: the fold of the
    events since the last JOB_OPEN (of the whole log when it has none)."""

    opened: dict | None = None  # that JOB_OPEN event
    state: str = JobState.UNDEFINED.value
    # table → its latest TABLE_<op>_START/_DONE/_ERROR/_NOT_RUN event
    tables: dict[str, dict] = field(default_factory=dict)
    earlier: list[str] = field(default_factory=list)  # earlier jobs' names
    dumpfiles: list[str] = field(default_factory=list)
    errors: list[JobLogEntry] = field(default_factory=list)
    wip: list[JobLogEntry] = field(default_factory=list)


def replay(dumpset: DumpSet) -> Replay:
    """The one reader of a job's event log (Oracle's master table):
    STATUS, restart(), attach() and LIST_JOBS all read the job from here.
    The log is read once; every JOB_OPEN starts the fold afresh, so only
    the last job's events count. A _NOT_RUN marks a table the job has
    not reached: it never replaces the table's earlier state event."""
    r, names = Replay(), []
    for ev in dumpset.read_events():
        et = ev.get("event", "")
        ts = ev.get("ts")
        if et == "JOB_OPEN":
            r = Replay(opened=ev, state=JobState.DEFINING.value, earlier=names[:])
            names.append(ev.get("job_name", ""))
        elif et == "JOB_START":
            r.state = JobState.EXECUTING.value
        elif et == "JOB_DONE":
            r.state = ev.get("state", JobState.COMPLETED.value)
            r.dumpfiles = ev.get("dumpfiles", [])
        elif et.startswith("TABLE_") and et.split("_", 2)[-1] in _TABLE_STATES:
            t = ev.get("table", "")
            if et.endswith("_NOT_RUN") and t in r.tables:
                continue
            r.tables[t] = ev
            if et.endswith("_START"):
                r.wip.append(JobLogEntry(log_line=f"{et} {t}", timestamp=ts))
            elif et.endswith("_ERROR"):
                err = str(ev.get("error"))
                r.errors.append(JobLogEntry(log_line=err, timestamp=ts))
    return r


def _description(opened: dict | None) -> JobDescription | None:
    if opened is None:
        return None
    return JobDescription(
        job_name=opened.get("job_name", ""),
        operation=opened.get("operation", ""),
        mode=opened.get("mode", ""),
        as_of=opened.get("as_of"),
        parallel=opened.get("parallel", 1),
        schemas=opened.get("schemas", []),
    )


def status_from_events(
    dumpset: DumpSet, request: StatusRequestType = StatusRequestType.ALL
) -> JobStatusInfo:
    """Strategy 2 — event-log derivation (replaces logfile regex parse,
    reference status.py:449-579): renders ``replay``. The workers are the
    tables of the last job only, each in the state of its latest event; a
    _NOT_RUN table is listed as NOT_RUN and not counted as done, and
    bytes_processed sums each table's latest _DONE."""
    r = replay(dumpset)
    workers = [
        JobWorkerStatus(
            name=t,
            state=_TABLE_STATES[ev["event"].split("_", 2)[-1]],
            completed_rows=ev.get("rows"),
            completed_bytes=ev.get("bytes"),
            error=ev.get("error"),
        )
        for t, ev in r.tables.items()
    ]
    done = sum(1 for w in workers if w.state in ("COMPLETED", "ERROR"))
    info = JobStatusInfo(
        job_state=r.state,
        wip=r.wip if request & StatusRequestType.WIP else [],
        job_description=_description(r.opened)
        if request & StatusRequestType.DESC
        else None,
        job_status=JobStatus(
            state=r.state,
            bytes_processed=sum(w.completed_bytes or 0 for w in workers),
            percent_done=100.0 * done / (len(workers) or 1),
            worker_status_list=workers,
            files=[JobDumpFile(file_name=f) for f in r.dumpfiles],
        )
        if request & StatusRequestType.STATUS
        else None,
        error=r.errors if request & StatusRequestType.ERROR else [],
        logfile=dumpset.logfile_path,
        dumpfiles=r.dumpfiles,
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
