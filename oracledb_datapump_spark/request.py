"""JSON request/response protocol.

Parity reference: /root/reference/src/oracledb_datapump/request.py (279
LoC): a ``Request`` envelope with request ∈ {SUBMIT, STATUS, POLL}, a typed
payload, handlers keyed by request type (:112-124), and a
``Response`` echoing job name/state (:246-273). Implemented with plain
dataclasses + explicit validation (no pydantic dependency); the JSON wire
shapes match the reference's.

Directive JSON form (reference request.py:31-51):
    {"name": N, "value": V, "old_value"?, "object_path"?, "kwargs"?}
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Callable

from .base import JobMode, Operation
from .directives import DirectiveBase
from .exceptions import JobNotFound, UsageError
from .job import Job
from .status import JobStatusInfo, StatusRequestType


@dataclass
class ConnectModel:
    """Connection spec in a request (reference request.py:54-59; password
    treated as a secret — never echoed)."""

    url: str | None = None
    user: str | None = None
    password: str | None = None
    extra: dict[str, Any] = field(default_factory=dict)

    @classmethod
    def from_obj(cls, obj: Any) -> "ConnectModel":
        if isinstance(obj, str):
            return cls(url=obj)
        if isinstance(obj, dict):
            known = {k: obj.get(k) for k in ("url", "user", "password")}
            extra = {k: v for k, v in obj.items() if k not in known}
            return cls(**known, extra=extra)
        raise UsageError(f"Bad connection spec: {type(obj).__name__}")

    def to_connection(self) -> Any:
        if self.url and not (self.user or self.password or self.extra):
            return self.url
        d: dict[str, Any] = {"url": self.url, **self.extra}
        if self.user:
            d["user"] = self.user
        if self.password:
            d["password"] = self.password
        return d


@dataclass
class Response:
    """Reference request.py:127-137,246-273."""

    request: str
    job_name: str | None = None
    job_owner: str | None = None
    state: str | None = None
    detail: JobStatusInfo | None = None
    error: str | None = None
    jobs: list[dict[str, Any]] | None = None  # LIST_JOBS rows

    def to_dict(self) -> dict[str, Any]:
        d = {
            "request": self.request,
            "job_name": self.job_name,
            "job_owner": self.job_owner,
            "state": self.state,
            "detail": self.detail.to_dict() if self.detail else None,
            "error": self.error,
        }
        if self.jobs is not None:
            d["jobs"] = self.jobs
        return d

    def json(self) -> str:
        return json.dumps(self.to_dict(), default=str)


def _submit(payload: dict[str, Any], connection: Any, spark=None) -> Response:
    """Reference JobRequestHandler (request.py:150-183)."""
    op = payload.get("operation")
    mode = payload.get("mode")
    if not op or not mode:
        raise UsageError("SUBMIT payload requires operation and mode")
    job = Job(
        operation=Operation(str(op).upper()),
        mode=JobMode(str(mode).upper()),
        dumpfiles=payload.get("dumpfiles"),
        # directive dicts → instances via the directive registry
        # (reference request.py:160-169)
        directives=[
            DirectiveBase.from_dict(d) for d in payload.get("directives") or []
        ],
        tag=payload.get("tag"),
        job_name=payload.get("job_name"),
    )
    info = job.run(
        wait=bool(payload.get("wait", False)), connection=connection, spark=spark
    )
    return Response(
        request="SUBMIT",
        job_name=job.job_name,
        job_owner=job.job_owner,
        state=info.job_state,
        detail=info,
    )


def _on_job(
    rtype: str,
    payload: dict[str, Any],
    act: Callable[[Job], JobStatusInfo | None],
) -> Response:
    """Attach to the payload's job (the live job named ``job_name``, else
    the ``dumpdir`` dump set), apply ``act`` and answer with the status
    it returns, or with the job's state when it returns none. The handle
    is detached when the request returns: a protocol call is not a
    DBA_DATAPUMP_JOBS session, so attached_sessions is left as found."""
    job_name = payload.get("job_name")
    if not job_name:
        raise UsageError(f"{rtype} payload requires job_name")
    dumpdir = payload.get("dumpdir") or (payload.get("dumpfiles") or [None])[0]
    job = Job.attach(job_name, dumpdir=dumpdir)
    try:
        info = act(job)
    finally:
        job.detach()
    return Response(
        request=rtype,
        job_name=job_name,
        job_owner=job.job_owner,
        state=info.job_state if info else job.state.value,
        detail=info,
    )


def _status(payload: dict[str, Any], connection: Any, spark=None) -> Response:
    """Reference JobStatusHandler (request.py:186-222)."""
    rt = payload.get("request_type")
    request = StatusRequestType[rt.upper()] if rt else StatusRequestType.ALL
    return _on_job("STATUS", payload, lambda job: job.get_status(request))


def _poll(payload: dict[str, Any], connection: Any, spark=None) -> Response:
    """Reference PollRequestHandler (request.py:225-243)."""
    rate = float(payload.get("rate", 30))
    return _on_job("POLL", payload, lambda job: job.poll_for_completion(rate=rate))


def _stop(payload: dict[str, Any], connection: Any, spark=None) -> Response:
    """STOP_JOB over the JSON protocol (public DBMS_DATAPUMP.STOP_JOB —
    the reference's request surface stops at SUBMIT/STATUS/POLL).
    Cooperative table-boundary stop of a live job (a done job can't
    stop); the response reports the state at request time
    (STOP_PENDING/STOPPING) — poll for STOPPED."""
    # job_name only: without a dumpdir, attach() finds live jobs alone
    return _on_job("STOP", {"job_name": payload.get("job_name")}, Job.stop)


def _restart(payload: dict[str, Any], connection: Any, spark=None) -> Response:
    """START_JOB over the JSON protocol (public DBMS_DATAPUMP START_JOB:
    resume a STOPPED job from its master table — here, the dump set's
    event log, whose last JOB_OPEN names the job and its directives).
    Synchronous: responds when the resumed job lands.
    Encrypted jobs: the event log holds only the redacted '***' sentinel,
    so the caller re-supplies the password — the protocol analog of
    START_JOB re-prompting for it."""
    return _on_job("RESTART", payload, lambda job: job.restart(
        connection=connection,
        spark=spark,
        password=payload.get("encryption_password"),
    ))


def _list_jobs(payload: dict[str, Any], connection: Any, spark=None) -> Response:
    """DBA_DATAPUMP_JOBS over the JSON protocol: enumerate the live-job
    registry plus (optionally) every dump set under ``dump_root``, with
    operation/mode/name from its last JOB_OPEN and state replayed from
    the event log (reference status.py:366-385 reads the Oracle view; here the
    dump-set directory IS the master-table store)."""
    from .status import list_jobs

    return Response(request="LIST_JOBS", jobs=list_jobs(payload.get("dump_root")))


def _kill(payload: dict[str, Any], connection: Any, spark=None) -> Response:
    """KILL_JOB over the JSON protocol: stop + delete the whole dump
    set (master table dropped — not attachable, not restartable)."""
    return _on_job("KILL", payload, Job.kill)


# Handlers keyed by request type (reference request.py:112-124).
HANDLERS: dict[str, Callable[..., Response]] = {
    "SUBMIT": _submit,
    "STATUS": _status,
    "POLL": _poll,
    "STOP": _stop,
    "RESTART": _restart,
    "LIST_JOBS": _list_jobs,
    "KILL": _kill,
}


def handle_request(request: str | dict[str, Any], spark=None) -> Response:
    """Entry point: JSON string or dict → dispatch → Response
    (reference DataPump.submit, client.py:21-27; payload-type consistency
    validated like request.py:95-109)."""
    if isinstance(request, str):
        try:
            request = json.loads(request)
        except json.JSONDecodeError as e:
            raise UsageError(f"Bad request JSON: {e}") from e
    if not isinstance(request, dict):
        raise UsageError("Request must be a JSON object")
    rtype = str(request.get("request", "")).upper()
    handler = HANDLERS.get(rtype)
    if handler is None:
        raise UsageError(
            f"Unknown request type {rtype!r}; expected one of "
            f"{sorted(HANDLERS)}"
        )
    payload = request.get("payload") or {}
    conn_obj = request.get("connection")
    connection = (
        ConnectModel.from_obj(conn_obj).to_connection() if conn_obj else None
    )
    try:
        return handler(payload, connection, spark=spark)
    except (UsageError, JobNotFound):
        raise  # caller-addressable errors propagate (HTTP 400/404)
    except Exception as e:
        return Response(request=rtype, state="ERROR", error=str(e))


# convenience callable used by entrypoints
submit: Callable[..., Response] = handle_request
