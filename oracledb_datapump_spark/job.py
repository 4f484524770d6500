"""Job facade: lifecycle, naming, manifest.

Parity reference: /root/reference/src/oracledb_datapump/job.py (409 LoC).
Same surface — ``Job(operation, mode, dumpfiles, directives, connection,
tag).run(wait=...)``, ``Job.attach``, ``get_status``, ``poll_for_completion``,
``get_logfile`` — with the Oracle server replaced by the Spark engine.

Lifecycle (reference job.py:195-308 → ours). run() walks every step;
restart() rebuilds the job from the last JOB_OPEN event (operation,
mode, name, directive list), resolves the connection (1), re-plans (7)
and re-enters at 9 — one execution path. The event log is the record of
a job (``status.replay`` reads it for STATUS, restart, attach and
LIST_JOBS); the manifest describes the dump:
  1. resolve connection            (job.py:200-201)  → _resolve_connector
  2. validate operation/mode       (job.py:206-210)
  3. stamp job_date → job_name     (job.py:213-218, 88-125)
  4. create log                    (job.py:222-224)  → dump-set event log
  5. open                          (job.py:226-233)  → register, JOB_OPEN
  6. collect metadata              (job.py:235-250)  → schemas/versions
  7. plan dump set                 (job.py:252-259)  → _plan
  8. auto FLASHBACK_SCN on EXPORT  (job.py:261-269)  → snapshot_marker()
  9. command pipeline              (job.py:277-286)  → _execute: run_plans
 10. wait / status                 (job.py:288-304)  → _execute(wait=...)
 11. detach                        (job.py:306)      → _execute's finally:
     deregister, then set _done_event (an error first logs JOB_ERROR
     and JOB_DONE(ERROR))
"""

from __future__ import annotations

import re
import threading
from typing import Any, Sequence

from pyspark.sql import SparkSession

from .base import JobMetaData, JobMode, JobState, Operation
from .catalog import Connector, resolve_connector
from .directives import (
    DirectiveBase,
    FlashbackScn,
    FlashbackTime,
    PlanConfig,
    compile_directives,
)
from .dumpset import DumpSet, data_file_paths
from .engine import EngineResult, check_dump, run_plans, table_fingerprint
from .exceptions import JobNotFound, UsageError
from .planner import (
    estimate_plan,
    for_table,
    plan_export,
    plan_import,
    plan_network_transfer,
)
from .session import get_spark
from .status import (
    JobStatusInfo,
    StatusRequestType,
    deregister_job,
    get_status_on_exception,
    live_job,
    poll_for_completion,
    register_job,
    replay,
    status_from_events,
)
from .util import MAX_IDENTIFIER_LENGTH, string_shortener, utc_now

_NAME_SAFE = re.compile(r"[^A-Za-z0-9_-]+")


class Job:
    """A datapump job (reference job.py:49-81)."""

    def __init__(
        self,
        operation: Operation | str,
        mode: JobMode | str,
        dumpfiles: Sequence[str] | str | None = None,
        directives: Sequence[DirectiveBase] | None = None,
        connection: Any = None,
        tag: str | None = None,
        job_name: str | None = None,
    ):
        self.operation = Operation(str(operation).upper())
        self.mode = JobMode(str(mode).upper())
        if isinstance(dumpfiles, str):
            dumpfiles = [dumpfiles]
        self.dumpfiles = list(dumpfiles or [])
        # IMPORT requires dumpfiles (reference job.py:64-65, re-validated
        # handlers.py:137-139).
        if self.operation == Operation.IMPORT and not self.dumpfiles:
            raise UsageError("IMPORT requires dumpfiles")
        self.directives: list[DirectiveBase] = list(directives or [])
        self.connection = connection
        self.tag = tag
        self.job_date = None
        self.job_name = job_name
        self.job_owner = "spark"
        self._state: JobState = JobState.UNDEFINED
        self._result: EngineResult | None = None
        self._estimates: list[dict[str, Any]] | None = None
        self._lock = threading.Lock()
        self._stop_event = threading.Event()
        self._done_event: threading.Event | None = None  # set by _execute
        self._worker: threading.Thread | None = None  # async runs only
        self.attached_sessions = 0  # owner run sets 1; attach() adds
        self.dumpset: DumpSet | None = None
        self.connector: Connector | None = None
        self.config: PlanConfig | None = None

    # -- naming (reference job.py:88-125, util.py:16-37) -------------------
    def _ident(self, config: PlanConfig) -> str:
        if config.remap_schema:
            old, new = next(iter(config.remap_schema.items()))
            return f"{old}-TO-{new}"  # reference 'HR-TO-HR2' idiom
        if config.include_schemas:
            return "-".join(config.include_schemas[:3])
        if config.include_tables:
            return "-".join(config.include_tables[:3])
        return self.mode.value
    def _derive_name(self, config: PlanConfig) -> str:
        stamp = self.job_date.strftime("%Y%m%d%H%M%S")
        parts = [self.operation.value[:3], self._ident(config), stamp]
        if self.tag:
            parts.insert(2, f"#{self.tag}#")
        raw = _NAME_SAFE.sub("-", "-".join(parts)).upper()
        return string_shortener(raw, MAX_IDENTIFIER_LENGTH)

    # -- state -------------------------------------------------------------
    @property
    def state(self) -> JobState:
        return self._state

    def _set_state(self, s: JobState) -> None:
        with self._lock:
            self._state = s

    # -- run ----------------------------------------------------------------
    @get_status_on_exception
    def run(
        self,
        wait: bool = True,
        connection: Any = None,
        spark: SparkSession | None = None,
    ) -> JobStatusInfo:
        if connection is not None:
            self.connection = connection
        if self.operation == Operation.SQL_FILE:
            return self._run_sql_file(spark)
        self.job_date = utc_now()
        config = compile_directives(self.directives, mode=self.mode.value)
        self.config = config
        self._resolve_connector(config)
        spark = spark or get_spark()
        if self.job_name is None:
            self.job_name = self._derive_name(config)

        # dump-set root: EXPORT may derive one from the job name; IMPORT
        # must point at an existing set.
        if not self.dumpfiles:
            self.dumpfiles = [f"/tmp/datapump/{self.job_name}"]
        self.dumpset = DumpSet(self.dumpfiles[0])

        # Auto FLASHBACK on EXPORT when absent (reference job.py:261-269):
        # capture the connector's snapshot marker at job open.
        if self.operation == Operation.EXPORT and not (
            config.flashback_scn or config.flashback_time
        ):
            marker = self.connector.snapshot_marker()
            if marker:
                if marker.startswith("SCN("):
                    d = FlashbackScn(int(marker[4:-1]))
                else:
                    from .util import parse_dt

                    d = FlashbackTime(parse_dt(marker[3:-1]))
                self.directives.append(d)
                d.apply(config)

        self._set_state(JobState.DEFINING)
        self.attached_sessions = 1  # the owning run (DBA_DATAPUMP_JOBS)
        register_job(self.job_name, self)
        try:
            return self._run_registered(wait, spark, config)
        except BaseException:
            # A failure after registration and before _execute (planning,
            # the manifest write) must not leak the registry entry:
            # attach() would find a permanently DEFINING job and
            # cleanup_orphans would skip its dump dir forever. _execute
            # deregisters on its own; deregister_job is an idempotent pop.
            deregister_job(self.job_name)
            raise

    def _run_registered(
        self, wait: bool, spark: SparkSession, config: Any
    ) -> JobStatusInfo:
        plans, engine_op = self._plan(config)
        if (
            self.operation == Operation.EXPORT
            and not config.reuse_dumpfiles
            and not config.estimate_only
        ):
            # REUSE_DUMPFILES default NO (Oracle parity: expdp raises
            # ORA-27038 'file already exists' rather than clobbering a
            # dump). Incremental appends are exempt — appending past the
            # watermark is the append contract, not a clobber. So is
            # ESTIMATE_ONLY: Oracle's ESTIMATE_ONLY=YES writes no dump
            # file and performs no clobber check.
            import os as _os

            for p in plans:
                if p.incremental_column is not None:
                    continue
                tdir = self.dumpset.table_dir(p.schema, p.table)
                if _os.path.isdir(tdir) and any(
                    not n.startswith(("_", "."))
                    for _dp, _dn, fn in _os.walk(tdir)
                    for n in fn
                ):
                    raise UsageError(
                        f"dump for {p.source_key} already exists at "
                        f"{tdir} (ORA-27038 analog); set "
                        "REUSE_DUMPFILES('YES') to overwrite it"
                    )
        if not plans:
            # Oracle raises ORA-39165 for a schema that matches nothing; a
            # vacuous job completing silently would hide typos.
            raise UsageError(
                f"No tables matched the job specification "
                f"(mode={self.mode.value}, schemas={config.include_schemas}, "
                f"tables={config.include_tables})"
            )

        schemas = sorted({p.schema for p in plans})
        self.dumpset.log_event(
            "JOB_OPEN",
            job_name=self.job_name,
            operation=self.operation.value,
            mode=self.mode.value,
            as_of=config.as_of_marker(),
            parallel=config.parallel,
            schemas=schemas,
            # the restart anchor of every operation (START_JOB parity):
            # ENCRYPTION_PASSWORD serializes as the redacted sentinel
            directives=[d.to_dict() for d in self.directives],
        )
        if engine_op == "TRANSFER":
            self.dumpset.log_event(
                "NETWORK_TRANSFER", source=config.network_link
            )

        # metadata sidecar (reference job.py:235-259, commands.py:234-244)
        meta = JobMetaData(
            job_name=self.job_name,
            job_owner=self.job_owner,
            job_date=self.job_date,
            operation=self.operation.value,
            mode=self.mode.value,
            schemas=schemas,
            schema_versions={
                s: v
                for s in schemas
                if (v := self.connector.schema_version(s)) is not None
            },
            tablespaces={s: self.connector.tablespaces(s) for s in schemas},
            directives=[d.to_dict() for d in self.directives],
            as_of=config.as_of_marker(),
            constraints=self._capture_constraints(schemas)
            if self.operation == Operation.EXPORT
            else {},
            constraint_columns=self._capture_constraint_columns(schemas)
            if self.operation == Operation.EXPORT
            else {},
        )

        if config.estimate_only:
            self._estimates = estimate_plan(
                plans[0].src_connector or self.connector, plans, spark
            )
            self.dumpset.log_event("JOB_ESTIMATE", estimates=self._estimates)
            self.dumpset.log_event("JOB_DONE", state=JobState.COMPLETED.value)
            self._set_state(JobState.COMPLETED)
            deregister_job(self.job_name)
            info = self.get_status()
            return info

        if self.operation == Operation.EXPORT and config.include_metadata:
            old = self.dumpset.read_manifest().tables if self.dumpset.exists() else {}
            self.dumpset.write_manifest(meta)
            # in memory only, the entries of the copies this run replaces:
            # a table whose new copy never publishes keeps its old one
            meta.tables = {
                p.source_key: old[p.source_key] for p in plans if p.source_key in old
            }

        self.dumpset.log_event("JOB_START")
        return self._execute(spark, plans, config, engine_op, meta, wait)

    def _resolve_connector(self, config: PlanConfig) -> None:
        """The job's connector: an EXPORT with NETWORK_LINK reads from the
        link (expdp-side NETWORK_LINK, so no local connection is needed);
        every other job needs ``connection`` — an export's source, or the
        target of an IMPORT, dump-set or NETWORK_LINK transfer alike."""
        if self.operation == Operation.EXPORT and config.network_link:
            self.connector = resolve_connector(config.network_link)
            return
        if self.connection is None:
            role = (
                "export SOURCE" if self.operation == Operation.EXPORT
                else "transfer TARGET" if config.network_link
                else "import TARGET"
            )
            raise UsageError(f"connection required (the {role})")
        self.connector = resolve_connector(self.connection)

    def _execute(
        self,
        spark: SparkSession,
        plans: list,
        config: PlanConfig,
        engine_op: str,
        meta: JobMetaData | None,
        wait: bool,
    ) -> JobStatusInfo:
        """Execute a registered job's plans — the one execution path of
        run() and restart(): run_plans → manifest merge (EXPORT and
        TRANSFER) → JOB_DONE → state → DELETE_FILES → deregister.

        Any exception ends the job in ERROR: JOB_ERROR + JOB_DONE(ERROR),
        so STATUS never shows a crashed job as EXECUTING. A synchronous
        call then re-raises; an async one (reference job.py:297-304: the
        caller observes via attach/get_status/poll_for_completion) keeps
        the error in the status. _done_event is set last, after the final
        event write: kill() waits on it before deleting the dump set, or
        an in-flight write would recreate the directory as a half-dump."""
        self._set_state(JobState.EXECUTING)
        self._done_event = done = threading.Event()

        def body() -> None:
            try:
                result = run_plans(
                    spark, self.connector, self.dumpset, plans, config,
                    engine_op, stop_event=self._stop_event,
                )
                self._result = result
                self._set_state(
                    JobState.STOPPING
                    if result.state == JobState.STOPPED
                    else JobState.COMPLETING
                )
                if engine_op != "IMPORT":
                    # a dump-set IMPORT leaves the export's manifest alone
                    # (it describes the dump); its record is the event log
                    self._record_tables(meta, result, config)
                self.dumpset.log_event(
                    "JOB_DONE",
                    state=result.state.value,
                    dumpfiles=self.dumpset.dumpfiles()
                    if engine_op == "EXPORT"
                    else [],
                    errors=result.error_count,
                )
                self._set_state(result.state)
                # POST stage (reference job.py:288-295: Extra directives
                # only when wait=True — DELETE_FILES after a synchronous
                # import; a restart carries over the stopped run's)
                if (
                    wait
                    and self.operation == Operation.IMPORT
                    and config.delete_files_after
                    and result.state == JobState.COMPLETED
                ):
                    self.dumpset.delete()
            except Exception as e:
                self.dumpset.log_event("JOB_ERROR", error=str(e))
                self.dumpset.log_event("JOB_DONE", state=JobState.ERROR.value)
                self._set_state(JobState.ERROR)
                if wait:
                    raise
            finally:
                deregister_job(self.job_name)
                done.set()

        if wait:
            body()
        else:
            self._worker = threading.Thread(
                target=body, name=f"datapump-{self.job_name}", daemon=True
            )
            self._worker.start()
        return self.get_status()

    def _plan(self, config: PlanConfig) -> tuple[list, str]:
        """Plan the job's tables — the one planning routine of run() and
        restart() — and return them with the engine operation: EXPORT,
        IMPORT, or TRANSFER for an impdp-side NETWORK_LINK. A table dir
        a crash left mid-publish is recovered first, so planning and the
        resume checks see it whole."""
        self.dumpset.recover_tables()
        if self.operation == Operation.EXPORT:
            plans = plan_export(self.connector, self.operation, self.mode, config)
            engine_op = "EXPORT"
        elif config.network_link:
            # NETWORK_LINK (public Oracle DP parameter, IMPORT side):
            # plan against the SOURCE catalog, pipe straight to the
            # target — no dump set is materialized; this dumpfiles root
            # holds only the event log and manifest.
            if config.verify_checksum or config.verify_only:
                raise UsageError(
                    "VERIFY_CHECKSUM/VERIFY_ONLY audit a dump set; a "
                    "NETWORK_LINK transfer produces none"
                )
            if config.as_of_version is not None:
                raise UsageError(
                    "AS_OF_VERSION reads dump snapshot history; a "
                    "NETWORK_LINK transfer has no dump — use "
                    "FLASHBACK_SCN/FLASHBACK_TIME against the source"
                )
            if config.encryption:
                raise UsageError(
                    "ENCRYPTION applies to dump files; a NETWORK_LINK "
                    "transfer produces none"
                )
            plans = plan_network_transfer(
                resolve_connector(config.network_link), self.mode, config
            )
            engine_op = "TRANSFER"
        else:
            plans = plan_import(self.dumpset, config)
            engine_op = "IMPORT"
        self._thread_plan_extras(plans, config)
        return plans, engine_op

    def _thread_plan_extras(self, plans: list, config: Any) -> None:
        """Thread the job-level directive fields into each plan and reject
        every invalid directive combination, so a bad job fails here,
        before any I/O, and the engine never re-checks one.

        ENCRYPTION: validate the directive family once at plan time
        (wallet modes and DDL column scopes fail loudly here), then
        thread the normalized contract into each plan — the password
        rides the plan in memory only and never reaches the manifest
        (engine records scope/algorithm/salt, not the secret). The
        encrypted writer writes flat Parquet and cannot append, so it
        refuses other DUMP_FORMATs, EXPORT_PARTITION_BY and
        INCREMENTAL_COLUMN.
        CHECKSUM (Oracle DP 21c): thread the algorithm into each export
        plan; the engine records per-file digests post-write.
        INCREMENTAL_COLUMN: thread each table's recorded watermark from
        the prior manifest so the engine exports only new rows, appended.
        Two sources remapped (REMAP_SCHEMA) onto one target table under
        PARALLEL above 1 are refused: their concurrent writes would share
        one staged commit of that table.
        """
        export = self.operation == Operation.EXPORT
        targets = [p.target_key for p in plans]
        if not export and config.parallel > 1 and len(set(targets)) < len(targets):
            shared = sorted({t for t in targets if targets.count(t) > 1})
            raise UsageError(
                f"Several source tables map onto {', '.join(shared)} "
                "(REMAP_SCHEMA); concurrent writes of one "
                "target cannot both commit — use PARALLEL(1)"
            )
        enc = {}
        if config.encryption:
            from .crypto import validate_encryption

            enc = validate_encryption(config.encryption)
        if config.filesize and export and config.encryption:
            # the encrypted writer owns its file layout (one sealed
            # file per mapInPandas partition); a records-per-file cap
            # on top would silently not be honored
            raise UsageError(
                "FILESIZE cannot be combined with ENCRYPTION: the "
                "encrypted writer controls its own file layout"
            )
        if config.table_dedup_keep_best and config.incremental_columns and export:
            # DEDUP_KEEP_BEST promises exactly one row per key in the
            # exported dump; an incremental append runs the keep-best
            # window only over the post-watermark slice, so a key already
            # dumped in a prior increment could gain a second row. Refuse
            # the composition loudly (same posture as the
            # ENCRYPTION×INCREMENTAL_COLUMN rule below).
            raise UsageError(
                "DEDUP_KEEP_BEST cannot be combined with "
                "INCREMENTAL_COLUMN: the keep-best window sees only the "
                "post-watermark slice, so appended survivors could "
                "duplicate keys already in the dump and break the "
                "one-row-per-key contract"
            )
        prior = {}
        if config.incremental_columns and export and self.dumpset.exists():
            prior = self.dumpset.read_manifest().tables
        for p in plans:
            p.encryption_password = enc.get("password")
            if not export:
                continue
            p.encryption = enc or None
            if config.checksum:
                p.checksum_algorithm = config.checksum_algorithm
            p.filesize_bytes = config.filesize
            col = for_table(config.incremental_columns, p.table)
            if col:
                p.incremental_column = col
                p.watermark = prior.get(p.source_key, {}).get("watermark")
                # carry the snapshot history forward so the append
                # run's manifest keeps every prior version readable
                # via AS_OF_VERSION
                p.snapshots = prior.get(p.source_key, {}).get("snapshots")
            if not (enc and p.data_included):
                continue
            if p.dump_format != "parquet":
                raise UsageError(
                    "ENCRYPTION requires a parquet dump (Parquet modular "
                    f"encryption); this dump is {p.dump_format} (DUMP_FORMAT)"
                )
            if p.partition_by:
                raise UsageError(
                    "ENCRYPTION cannot be combined with "
                    "EXPORT_PARTITION_BY (hive layouts nest files per "
                    "leaf; the encrypted writer is flat-layout only)"
                )
            if col:
                raise UsageError(
                    "ENCRYPTION cannot be combined with "
                    "INCREMENTAL_COLUMN (the watermark read-back would "
                    "need the password at every later export)"
                )

    def _record_tables(
        self, meta: JobMetaData, result: EngineResult, config
    ) -> None:
        """Enrich the manifest with per-table outcomes and write it.
        A resumed run merges into the existing entries, never rebuilds
        them. A table the run left untouched keeps the entry of the copy
        its dir still holds, if any: a not-run table (cooperative STOP
        before its boundary; restart() re-plans it from directives), and
        a failed export table whose new copy never published (a failed
        staged write leaves the previous copy whole), marked not ok. A
        failed table that did publish gets a bare entry, with no
        watermark or schema to describe a copy it never accounted."""
        export = self.operation == Operation.EXPORT
        for r in result.tables:
            if r.detail.get("not_run"):
                continue
            key = r.plan.source_key
            if (
                not r.ok and export and key in meta.tables
                and not r.detail.get("published")
            ):
                meta.tables[key] = {**meta.tables[key], "ok": False, "error": r.error}
                continue
            meta.tables[key] = {
                "rows": None if not r.ok else r.rows,
                "row_count": r.rows,
                "bytes": r.bytes,
                "files": r.files,
                "ok": r.ok,
                **r.detail,
            }
        meta.dumpfiles = [
            p.replace(self.dumpset.root + "/", "")
            for p in self.dumpset.dumpfiles()
        ]
        if config.include_metadata:
            self.dumpset.write_manifest(meta)

    def _capture_constraints(self, schemas: list[str]) -> dict[str, list[str]]:
        """FK adjacency per schema (connector introspection) → manifest, so
        import can topo-order parents before children."""
        out: dict[str, list[str]] = {}
        for s in schemas:
            try:
                for table, ref in self.connector.foreign_keys(s):
                    out.setdefault(f"{s}.{table}", []).append(f"{s}.{ref}")
            except Exception:  # constraint capture must not fail the job
                pass
        return out

    def _capture_constraint_columns(
        self, schemas: list[str]
    ) -> dict[str, dict]:
        """Column-level PRIMARY KEY / FOREIGN KEY metadata → manifest
        (SQL_FILE renders it as constraint DDL). Optional per connector:
        file sources have no catalog keys and contribute nothing."""
        out: dict[str, dict] = {}
        for s in schemas:
            try:
                cc = getattr(self.connector, "constraint_columns", None)
                if cc is None:
                    continue
                for table, keys in cc(s).items():
                    out[f"{s}.{table}"] = keys
            except Exception:  # constraint capture must not fail the job
                pass
        return out

    def _run_sql_file(self, spark: SparkSession | None) -> JobStatusInfo:
        """SQL_FILE: generate a DDL script from a dump set's captured
        schemas. The reference declares this operation but never implements
        it (files.py:899-900 raises NotImplementedError); we implement it
        as CREATE TABLE generation from the manifest's StructType JSON."""
        from .ddl import generate_sql_file

        if not self.dumpfiles:
            raise UsageError("SQL_FILE requires dumpfiles (a dump-set dir)")
        self.dumpset = DumpSet(self.dumpfiles[0])
        self.job_date = utc_now()
        config = compile_directives(self.directives, mode=self.mode.value)
        self.config = config
        if self.job_name is None:
            self.job_name = self._derive_name(config)
        path = generate_sql_file(self.dumpset, config)
        self.dumpset.log_event("SQL_FILE_DONE", path=path)
        self.dumpset.log_event("JOB_DONE", state=JobState.COMPLETED.value)
        self._set_state(JobState.COMPLETED)
        return self.get_status()

    # -- status (reference job.py:359-409) ---------------------------------
    def get_status(
        self, request: StatusRequestType = StatusRequestType.ALL
    ) -> JobStatusInfo:
        if self.dumpset is None:
            return JobStatusInfo(job_state=self._state.value)
        info = status_from_events(self.dumpset, request)
        # An ATTACHED job's in-memory state is a snapshot from attach
        # time; the process actually running the job advances the EVENT
        # LOG. When the log shows a terminal state the snapshot hasn't
        # reached, adopt it — otherwise poll_for_completion (which reads
        # self._state) spins forever on a job another process finished.
        if self.connector is None and self._worker is None:
            from .base import TERMINAL_STATES

            try:
                ev = JobState(info.job_state)
            except ValueError:
                ev = None
            if (
                ev is not None
                and ev in TERMINAL_STATES
                and self._state not in TERMINAL_STATES
            ):
                self._state = ev
        if self._state != JobState.UNDEFINED:
            info.job_state = self._state.value
        return info

    def get_info(self) -> JobStatusInfo:
        return self.get_status(StatusRequestType.ALL)

    def poll_for_completion(self, rate: float = 30) -> JobStatusInfo:
        poll_for_completion(lambda: self._state.value, rate=rate)
        return self.get_status()

    def get_logfile(self) -> str:
        if self.dumpset is None:
            return ""
        return self.dumpset.read_logfile()

    def log_entry(self, message: str) -> None:
        """Inject a custom line into the job log (reference C8:
        DBMS_DATAPUMP.LOG_ENTRY — commands.py:217-231)."""
        if self.dumpset is None:
            raise UsageError("Job has no dump set yet (not started)")
        self.dumpset.log_event("LOG_ENTRY", message=message)

    @property
    def estimates(self) -> list[dict[str, Any]] | None:
        return self._estimates

    # -- stop / restart (Oracle STOP_JOB → START_JOB; reference declares
    # the state machine at status.py:32-47 and the START_JOB command at
    # commands.py:113-119 but never drives them locally) ------------------
    def stop(self) -> JobStatusInfo:
        """STOP_JOB analog: request a cooperative stop at the next table
        boundary. In-flight tables complete (a table is the atomic unit of
        restartability); not-yet-started tables are recorded as not-run
        and the job lands in STOPPED — restartable via ``restart()``.

        State walk mirrors the reference's machine (status.py:32-47):
        EXECUTING → STOP_PENDING (this call) → STOPPING (engine
        acknowledges at the first skipped boundary) → STOPPED (JOB_DONE).
        """
        from .base import TERMINAL_STATES

        if self._state in TERMINAL_STATES or self._state in (
            JobState.UNDEFINED,
            JobState.NOT_RUNNING,
        ):
            raise UsageError(
                f"Job {self.job_name!r} is not running "
                f"(state={self._state.value}); only a DEFINING/EXECUTING "
                "job can be stopped"
            )
        self._stop_event.set()
        self._set_state(JobState.STOP_PENDING)
        if self.dumpset is not None:
            self.dumpset.log_event(
                "JOB_STOP_PENDING", job_name=self.job_name
            )
        return self.get_status()

    def kill(self, timeout: float = 600.0) -> None:
        """KILL_JOB analog (Oracle's interactive-mode command /
        DBMS_DATAPUMP.STOP_JOB with immediate stop and the master table
        dropped): request a cooperative stop, wait for the worker to
        land terminal, then DELETE the entire dump set — data files,
        manifest and event log (Oracle drops the master table, so a
        killed job is not attachable and not restartable; files written
        so far are discarded). Contrast stop(): STOPPED keeps every
        artifact and restart() resumes from them."""
        from .base import TERMINAL_STATES

        if self.dumpset is None:
            raise UsageError("Job has no dump set yet (not started)")
        if self._state not in TERMINAL_STATES and self._state not in (
            JobState.UNDEFINED,
            JobState.NOT_RUNNING,
        ):
            self._stop_event.set()
            self._set_state(JobState.STOP_PENDING)
            # wait for the executing thread (async worker or the caller
            # of a synchronous run) to land: deleting the dump set before
            # that lets in-flight event/manifest writes recreate the
            # directory as a half-resurrected dump
            done = self._done_event
            if done is not None and not done.wait(timeout=timeout):
                raise UsageError(
                    f"kill(): the job did not reach a table boundary "
                    f"within {timeout}s; the job is still stopping"
                )
        self.dumpset.delete()
        deregister_job(self.job_name)
        self._set_state(JobState.NOT_RUNNING)

    def restart(
        self,
        connection: Any = None,
        spark: SparkSession | None = None,
        password: str | None = None,
    ) -> JobStatusInfo:
        """START_JOB analog: resume a STOPPED job — EXPORT, dump-set
        IMPORT or NETWORK_LINK transfer. The dump set's event log plays
        Oracle's master table.

        One ``status.replay`` of the log gives the job. The last JOB_OPEN
        names it: operation, mode, job name and the directive list,
        re-compiled verbatim (FLASHBACK/as-of, CHECKSUM, COMPRESSION,
        filters and remaps are all re-applied). A table is finished when
        its latest state event since that JOB_OPEN is a _DONE (a _NOT_RUN
        never replaces an earlier one), and it is skipped once verified:

        - EXPORT checks the dump against its manifest entry: data files
          present, recorded CHECKSUM digests recomputed and equal, and
          the footer row sum and file count IMPORT checks
          (engine.check_dump).
        - IMPORT and TRANSFER have no new dump, so they check the TARGET:
          its row count and content fingerprint (engine.table_fingerprint)
          must equal the _DONE event's target_rows and target_digest. The
          re-run of a failed target is forced to overwrite it.

        A failed check logs TABLE_RESUME_RECHECK_FAILED and the table runs
        again. Only the remaining tables run; EXPORT and TRANSFER merge
        their outcomes into the manifest, so completed tables keep their
        entries byte-for-byte.
        """
        if self.dumpset is None:
            raise UsageError("restart requires a job with a dump set")
        rec = replay(self.dumpset)
        if self._state != JobState.STOPPED and rec.state != JobState.STOPPED.value:
            raise UsageError(
                f"Only a STOPPED job can restart (START_JOB); "
                f"state={self._state.value}/{rec.state}"
            )
        opened = rec.opened or {}
        if "directives" not in opened:
            raise UsageError(
                "restart() re-plans a job from the directive list of its "
                "last JOB_OPEN event, and this dump set records none"
            )
        if connection is not None:
            self.connection = connection
        spark = spark or get_spark()
        self.job_date = utc_now()
        self.operation = Operation(opened["operation"])
        self.mode = JobMode(opened["mode"])
        self.job_name = opened["job_name"]
        self.directives = [DirectiveBase.from_dict(d) for d in opened["directives"]]
        # ENCRYPTION_PASSWORD persists as the redacted '***' sentinel
        # (never the secret) — re-planning from it verbatim would seal
        # every remaining table under a key derived from a public
        # constant. The caller must re-supply the original password,
        # exactly as Oracle's START_JOB re-prompts for it.
        enc_pw = [
            d for d in self.directives
            if getattr(d, "NAME", None) == "ENCRYPTION_PASSWORD"
        ]
        if enc_pw:
            if not password or password == "***":
                raise UsageError(
                    "this job ran with ENCRYPTION_PASSWORD; the event log "
                    "stores only the redacted sentinel, so restart() "
                    "requires the original password: restart(password=...)"
                )
            for d in enc_pw:
                d.value = password
        elif password is not None:
            raise UsageError(
                "restart(password=...) supplied but the stopped job has "
                "no ENCRYPTION_PASSWORD directive"
            )
        config = compile_directives(self.directives, mode=self.mode.value)
        # the connector re-resolves from the recorded directive list,
        # exactly as the original run: an expdp-side NETWORK_LINK reads
        # the link, every other job needs the connection again
        self._resolve_connector(config)
        self.config = config
        plans, engine_op = self._plan(config)
        meta = None
        if engine_op != "IMPORT":
            # the stopped run's manifest, which the resumed run merges into
            meta = self.dumpset.read_manifest()
            if (meta.operation, meta.job_name) != (
                opened["operation"], self.job_name
            ):
                raise UsageError(
                    f"the dump set's manifest records {meta.operation} job "
                    f"{meta.job_name}, not the stopped job {self.job_name}; "
                    "re-run the job instead (REUSE_DUMPFILES('YES') for an "
                    "export, TABLE_EXISTS_ACTION('SKIP') for an import)"
                )
        ran = {
            k for k, ev in rec.tables.items() if not ev["event"].endswith("_NOT_RUN")
        }
        keys = [p.event_key(engine_op) for p in plans]
        shared = sorted({k for k in keys if keys.count(k) > 1 and k in ran})
        if shared:
            # the events name the target only, so they cannot tell which
            # of the sources remapped onto it finished
            raise UsageError(
                f"restart() cannot tell which of the sources remapped onto "
                f"{', '.join(shared)} (REMAP_SCHEMA) finished; re-run the "
                "job instead"
            )
        on_target = engine_op != "EXPORT"
        remaining, skipped = [], []
        for p in plans:
            done = rec.tables.get(p.event_key(engine_op), {})
            # a target _DONE without a fingerprint moved no rows (SKIP,
            # VERIFY_ONLY): it is re-run, never forced to overwrite
            if done.get("event") != f"TABLE_{engine_op}_DONE" or (
                on_target and done.get("target_digest") is None
            ):
                remaining.append(p)
                continue
            reason = (
                self._transfer_intact(spark, p, done)
                if on_target
                else self._resume_intact(spark, p, meta.tables.get(p.source_key))
            )
            if reason is None:
                skipped.append(p)
                continue
            self.dumpset.log_event(
                "TABLE_RESUME_RECHECK_FAILED",
                table=p.event_key(engine_op),
                reason=reason,
            )
            if on_target:
                # the target holds a tampered/partial remnant, so
                # the re-run must replace it, never append onto it
                p.write_mode, p.truncate = "overwrite", False
            remaining.append(p)
        self.dumpset.log_event(
            "JOB_RESTART",
            job_name=self.job_name,
            skipped=[p.event_key(engine_op) for p in skipped],
            remaining=[p.event_key(engine_op) for p in remaining],
        )
        for p in skipped:
            self.dumpset.log_event(
                "TABLE_RESUME_SKIP", table=p.event_key(engine_op)
            )
        self._stop_event = threading.Event()  # restart is itself stoppable
        self.attached_sessions = 1  # the resuming run re-owns the job
        register_job(self.job_name, self)
        return self._execute(spark, remaining, config, engine_op, meta, True)

    def _resume_intact(
        self, spark: SparkSession, plan, entry: dict | None
    ) -> str | None:
        """Why a completed export table's dump does not match its manifest
        entry, or None when it does. Files must exist; recorded CHECKSUM
        digests are recomputed (executor fan-out, same as
        VERIFY_CHECKSUM) and compared; a dump without them gets the
        footer row sum and file count check IMPORT makes
        (engine.check_dump)."""
        tdir = self.dumpset.table_dir(plan.schema, plan.table)
        if not any(data_file_paths(tdir)):
            return "no data files on disk"
        if not entry:
            return "no manifest entry"
        cks = entry.get("checksums")
        if cks:
            # equal digests leave the footer check nothing to find
            digests = self.dumpset.file_digests(
                spark, tdir, cks.get("algorithm", "SHA256")
            )
            return None if digests == cks.get("files") else "checksum mismatch"
        try:
            check_dump(spark, plan, tdir, plan.dump_format, entry)
        except Exception as e:
            # an unreadable dump is not intact either
            return str(e)
        return None

    def _transfer_intact(self, spark: SparkSession, plan, done: dict) -> str | None:
        """Target-side analog of _resume_intact for IMPORT and NETWORK_LINK
        jobs, which have no new dump to digest: the target table must
        exist and its recomputed fingerprint (row count + xxhash64-XOR
        content digest, engine.table_fingerprint) must equal the values
        its TABLE_<op>_DONE event ``done`` recorded. One distributed scan
        per completed table, the same cost class as the export path's
        digest recheck."""
        if not self.connector.table_exists(
            plan.target_schema, plan.target_table
        ):
            return "target table missing"
        try:
            rows, digest = table_fingerprint(
                self.connector.read_table(
                    spark, plan.target_schema, plan.target_table
                )
            )
        except Exception as e:
            # an unreadable target (all data files gone, corrupt footer)
            # is the strongest possible "not intact" — re-transfer it
            return f"target unreadable: {e}"
        if rows != done.get("target_rows"):
            return f"target rows {rows} != recorded {done.get('target_rows')}"
        if digest != done["target_digest"]:
            return "target content digest mismatch"
        return None

    # -- attach (reference job.py:330-349, commands.py:69-89) --------------
    def detach(self) -> None:
        """DBMS_DATAPUMP.DETACH analog: release one attach() handle, so
        attached_sessions stops counting it. The job keeps running."""
        with self._lock:
            self.attached_sessions -= 1

    @classmethod
    def attach(cls, job_name: str, dumpdir: str | None = None) -> "Job":
        existing = live_job(job_name)
        if isinstance(existing, Job):
            # DBA_DATAPUMP_JOBS attached_sessions analog: each live
            # attach handle counts alongside the owning run
            with existing._lock:
                existing.attached_sessions += 1
            return existing
        if dumpdir is None:
            raise JobNotFound(
                f"Job {job_name!r} is not running; pass dumpdir to attach to "
                "its dump set"
            )
        ds = DumpSet(dumpdir)
        rec = replay(ds)
        if rec.opened is None:
            raise JobNotFound(f"No job artifacts at {dumpdir}")
        name = rec.opened.get("job_name", "")
        if name != job_name and job_name in rec.earlier:
            # an earlier job of this dump set, which a later one replaced
            raise JobNotFound(
                f"Job {job_name!r} is no longer the job of {dumpdir}: its "
                f"last JOB_OPEN names {name!r}"
            )
        # the last JOB_OPEN names the job the dump set holds
        job = cls(
            rec.opened.get("operation", ""), rec.opened.get("mode", ""),
            dumpfiles=dumpdir, job_name=name,
        )
        job.dumpset = ds
        job.attached_sessions = 1  # this attach handle
        try:
            job._state = JobState(rec.state)
        except ValueError:
            job._state = JobState.NOT_RUNNING
        return job
