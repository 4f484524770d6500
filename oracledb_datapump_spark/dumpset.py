"""Parquet dump-set layout + manifest + event log.

Replaces the reference's remote-file subsystem
(/root/reference/src/oracledb_datapump/files.py, 1,238 LoC): there, dump
files are opaque server-side binaries streamed through UTL_FILE in 32 KiB
chunks; here, a dump set is a directory of Parquet tables —

    <dumpdir>/
      _datapump_manifest.json      (reference base.py:43-56, job.py:235-259)
      _datapump_events.jsonl       (replaces the Oracle logfile, status.py:449-579)
      <schema>/<table>/part-*.parquet
      <schema>/.<table>.__stage__/ (hidden: a write in progress)
      <schema>/.<table>.__old__/   (hidden: the copy a publish replaces)

Spark writes N part-files natively, which subsumes the reference's
%U-substitution dump-set planner (files.py:769-885): ``parallel`` maps to
the partition count, and no import-time file probing is needed because the
filesystem can list directories (unlike UTL_FILE — files.py:810-857).

Every write of a table directory — the dump writes, compaction, a
Parquet target — goes through ``staged``: the new copy is written into
the hidden stage sibling and published by rename, so a table dir is
always absent or whole. Readers skip the hidden siblings, and
``recover`` settles the ones a crash left behind.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import threading
from dataclasses import dataclass
from typing import Any, Iterable, Iterator

from .base import JobMetaData
from .exceptions import FileError
from .util import utc_now

MANIFEST_NAME = "_datapump_manifest.json"
EVENTS_NAME = "_datapump_events.jsonl"
LOGFILE_NAME = "_datapump_log.txt"


def data_file_paths(path: str) -> Iterator[str]:
    """Paths of the data files under a table dir (hive leaves included);
    ``_``/``.`` names — Spark markers, checksum files — are skipped. A
    single-file table (a flat source's ``orders.parquet``) is its own
    only data file."""
    if os.path.isfile(path):
        yield path
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for name in filenames:
            if not name.startswith(("_", ".")):
                yield os.path.join(dirpath, name)


# -- the staged commit of a table directory ----------------------------------


def sibling(live: str, kind: str) -> str:
    """The hidden sibling ``.<name>.__<kind>__`` of ``live``; ``kind`` is
    ``stage`` (a write in progress) or ``old`` (the copy being replaced)."""
    head, name = os.path.split(os.path.normpath(live))
    return os.path.join(head, f".{name}.__{kind}__")


def _drop(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.lexists(path):
        os.remove(path)


def recover(live: str) -> bool:
    """Settle a commit of the table dir ``live`` that a crash interrupted,
    and return whether the table was restored. An ``__old__`` sibling
    with no live dir is the table's only copy, cut off between
    ``staged``'s two renames: it is renamed back. An ``__old__`` beside a
    live dir is a superseded copy, and a ``__stage__`` is never the only
    copy: both are dropped, so recover a table only while nothing writes
    to it."""
    old, restored = sibling(live, "old"), False
    if os.path.lexists(old):
        if os.path.lexists(live):
            _drop(old)
        else:
            os.rename(old, live)
            restored = True
    _drop(sibling(live, "stage"))
    return restored


@contextlib.contextmanager
def staged(live: str, keep: Iterable[str] = ()) -> Iterator[str]:
    """Write a table dir beside the live one and publish it by rename.

    Yields the stage dir ``.<name>.__stage__``, holding hard links to the
    ``keep`` files of ``live`` (paths under ``live``, or ``live`` itself
    for a single-file table, which lands in the stage under its own
    name; listed only after ``live`` is recovered when ``keep`` is lazy)
    and nothing else, so an append or a partial rewrite writes only its
    new files. On a clean exit the live dir is renamed to
    ``.<name>.__old__``, the stage to ``live``, and the old copy is
    dropped; on an exception only the stage is removed. So ``live`` is
    always absent or whole, and a crash between the two renames is
    undone by ``recover``, which this runs first for ``live``."""
    recover(live)
    stage, old = sibling(live, "stage"), sibling(live, "old")
    os.makedirs(stage)
    try:
        for path in keep:
            rel = os.path.relpath(path, live)
            dst = os.path.join(stage, os.path.basename(live) if rel == "." else rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.link(path, dst)
        yield stage
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    if os.path.lexists(live):
        os.rename(live, old)
    os.rename(stage, live)
    _drop(old)


@dataclass
class DumpFileInfo:
    """Per-table dump info (parity: GET_DUMPFILE_INFO's 25-item payload —
    reference files.py:387-408, status.py:78-104,127-159 — reduced to what
    a Parquet dump set actually has)."""

    table: str
    schema: str
    path: str
    file_count: int
    bytes: int
    row_count: int | None
    codec: str | None
    spark_schema_json: str | None
    created_by: str = "oracledb-datapump-spark"
    version: str = "1.0"

    def to_dict(self) -> dict[str, Any]:
        return self.__dict__.copy()


class DumpSet:
    """A dump-set directory handle."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)

    # -- layout ------------------------------------------------------------
    def table_dir(self, schema: str, table: str) -> str:
        return os.path.join(self.root, schema, table)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST_NAME)

    @property
    def events_path(self) -> str:
        return os.path.join(self.root, EVENTS_NAME)

    @property
    def logfile_path(self) -> str:
        return os.path.join(self.root, LOGFILE_NAME)

    def exists(self) -> bool:
        return os.path.isfile(self.manifest_path)

    def ensure_dir(self) -> None:
        os.makedirs(self.root, exist_ok=True)

    def delete(self) -> None:
        """DELETE_FILES post-action (reference directives.py:577-586,
        files.py:463-476)."""
        if os.path.isdir(self.root):
            shutil.rmtree(self.root)

    # -- manifest ------------------------------------------------------------
    def write_manifest(self, meta: JobMetaData) -> None:
        self.ensure_dir()
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta.to_dict(), f, indent=2, default=str)
        os.replace(tmp, self.manifest_path)

    def read_manifest(self) -> JobMetaData:
        if not self.exists():
            raise FileError(f"No dump-set manifest at {self.manifest_path}")
        with open(self.manifest_path) as f:
            return JobMetaData.from_dict(json.load(f))

    # -- tables ---------------------------------------------------------------
    def list_tables(self) -> list[tuple[str, str]]:
        """(schema, table) pairs present in the dump set, from the manifest
        when available, else by directory walk."""
        if self.exists():
            meta = self.read_manifest()
            out = []
            for key in meta.tables:
                schema, _, table = key.partition(".")
                out.append((schema, table))
            if out:
                return sorted(out)
        # glob skips the ``_``/``.`` names: markers and staged siblings
        return sorted(
            tuple(os.path.relpath(d, self.root).split(os.sep))
            for d in glob.glob(os.path.join(glob.escape(self.root), "[!_]*", "[!_]*/"))
        )

    def recover_tables(self) -> None:
        """``recover`` every table dir of the dump set, logging one
        TABLE_DIR_RECOVERED per table restored. A directory glob over
        the hidden siblings: no manifest is read. Run it only while
        nothing writes to the dump set."""
        tables = set()
        for kind in ("old", "stage"):
            pattern = sibling(os.path.join(glob.escape(self.root), "*", "*"), kind)
            for path in glob.glob(pattern):
                head, name = os.path.split(path)
                tables.add(os.path.join(head, name[1 : -len(f".__{kind}__")]))
        for live in sorted(tables):
            if recover(live):
                self.log_event(
                    "TABLE_DIR_RECOVERED",
                    table=os.path.relpath(live, self.root).replace(os.sep, "."),
                )

    def dumpfiles(self) -> list[str]:
        """All part-file paths (the dump 'files' — reference's DumpFileSet).
        Deduplicated: Spark's part-00000-*.snappy.parquet names match BOTH
        globs, and a doubled list would double every consumer's file
        counts (JOB_DONE event, manifest, JobStatusInfo.files)."""
        return sorted(
            set(
                glob.glob(os.path.join(self.root, "*", "*", "*.parquet"))
                + glob.glob(os.path.join(self.root, "*", "*", "part-*"))
            )
        )

    def get_dumpfile_info(self, schema: str, table: str) -> DumpFileInfo:
        d = self.table_dir(schema, table)
        if not os.path.isdir(d):
            raise FileError(f"No table dir {d}")
        parts = [
            p
            for p in glob.glob(os.path.join(d, "*"))
            if os.path.isfile(p) and not os.path.basename(p).startswith(("_", "."))
        ]
        total = sum(os.path.getsize(p) for p in parts)
        row_count = codec = schema_json = None
        meta_key = f"{schema}.{table}"
        if self.exists():
            tmeta = self.read_manifest().tables.get(meta_key, {})
            row_count = tmeta.get("row_count")
            codec = tmeta.get("codec")
            schema_json = tmeta.get("spark_schema")
        if codec is None and parts:
            try:  # read the parquet footer directly
                import pyarrow.parquet as pq

                pf = pq.ParquetFile(parts[0])
                codec = pf.metadata.row_group(0).column(0).compression.lower()
                if row_count is None:
                    row_count = sum(
                        pq.ParquetFile(p).metadata.num_rows for p in parts
                    )
            except Exception:
                pass
        return DumpFileInfo(
            table=table,
            schema=schema,
            path=d,
            file_count=len(parts),
            bytes=total,
            row_count=row_count,
            codec=codec,
            spark_schema_json=schema_json,
        )

    # -- checksums (Oracle DP 21c CHECKSUM/VERIFY_CHECKSUM analog) -----------

    @staticmethod
    def file_digests(spark, root: str, algorithm: str) -> dict[str, str]:
        """{relative path: hex digest} for every data file under
        ``root`` — computed EXECUTOR-SIDE (file-list ``mapInPandas``,
        one task per file, streamed 1 MiB chunks) so a 100 TB dump's
        digest pass parallelizes like the export itself instead of
        serializing through the driver. CRC32 uses zlib; SHA* use
        hashlib. Hidden/underscore files (Spark markers) are excluded —
        they are engine artifacts, not dump data."""
        import pandas as pd

        files = sorted(
            os.path.relpath(p, root)
            for p in glob.glob(os.path.join(root, "**", "*"), recursive=True)
            if os.path.isfile(p)
            and not os.path.basename(p).startswith(("_", "."))
        )
        if not files:
            return {}
        fdf = spark.createDataFrame(
            [(f,) for f in files], "rel string"
        ).repartition(min(len(files), 256), "rel")
        alg = algorithm.upper()

        def _digest(batches):
            import hashlib
            import zlib

            for pdf in batches:
                out = []
                for rel in pdf["rel"]:
                    p = os.path.join(root, rel)
                    if alg == "CRC32":
                        c = 0
                        with open(p, "rb") as fh:
                            while True:
                                chunk = fh.read(1 << 20)
                                if not chunk:
                                    break
                                c = zlib.crc32(chunk, c)
                        d = f"{c & 0xFFFFFFFF:08x}"
                    else:
                        h = hashlib.new(alg.lower())
                        with open(p, "rb") as fh:
                            while True:
                                chunk = fh.read(1 << 20)
                                if not chunk:
                                    break
                                h.update(chunk)
                        d = h.hexdigest()
                    out.append((rel, d))
                yield pd.DataFrame(out, columns=["rel", "digest"])

        return {
            r["rel"]: r["digest"]
            for r in fdf.mapInPandas(
                _digest, "rel string, digest string"
            ).collect()
        }

    # -- compaction (OPTIMIZE-style small-file consolidation) ----------------
    DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024

    def compact(
        self,
        spark,
        target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
        min_files: int = 2,
    ) -> dict[str, dict[str, int]]:
        """Consolidate small part-files per table toward
        ``target_file_bytes`` — the OPTIMIZE/compaction pass every
        long-lived 100 TB dump store needs after incremental (CDC)
        appends accumulate file counts. Tables already at or below the
        target layout (fewer than ``min_files`` files, or average file
        size >= target) are skipped, so the pass is idempotent.

        Interrupted commits are recovered first. Each table is then
        rewritten through ``staged``: coalesce to ceil(bytes/target)
        partitions (coalesce — a compaction must not pay a full
        shuffle), publish by rename, log a TABLE_COMPACTED event.
        Returns {schema.table: {files_before, files_after, bytes}}.
        """
        import math

        self.recover_tables()
        report: dict[str, dict[str, int]] = {}
        # Two-phase: decide every table FIRST, rewrite only after the
        # whole dump set validates. Raising mid-iteration would discard
        # the partial report and leave later tables permanently
        # uncompactable behind the failing one — the loud parquet-only
        # contract stands, but it fires before any work is done.
        todo: list[tuple[str, str, str, list[str], int, int]] = []
        for schema, table in self.list_tables():
            d = self.table_dir(schema, table)
            parts = list(data_file_paths(d))
            # hive-partitioned layouts (EXPORT_PARTITION_BY) are laid out
            # for pruning, not file size; skip them (files under subdirs)
            if any(os.path.dirname(p) != d for p in parts):
                continue
            nbytes = sum(os.path.getsize(p) for p in parts)
            n_target = max(1, math.ceil(nbytes / target_file_bytes))
            if len(parts) < min_files or len(parts) <= n_target:
                continue
            if not any(p.endswith(".parquet") for p in parts):
                # DUMP_FORMAT extension dumps (orc/json/csv) are not
                # compacted: the rewrite below is parquet-wired (codec
                # sniff, footer accounting) and silently transcoding a
                # dump's format during a maintenance pass would be worse
                # than skipping it
                from .exceptions import Unsupported

                raise Unsupported(
                    f"compact() supports parquet dumps only; "
                    f"{os.path.relpath(d, self.root)} holds non-parquet "
                    "data files (DUMP_FORMAT)"
                )
            todo.append((schema, table, d, parts, n_target, nbytes))
        for schema, table, d, parts, n_target, nbytes in todo:
            codec = "snappy"
            try:
                import pyarrow.parquet as pq

                codec = (
                    pq.ParquetFile(parts[0])
                    .metadata.row_group(0)
                    .column(0)
                    .compression.lower()
                )
            except Exception:
                pass
            with staged(d) as stage:
                (
                    spark.read.parquet(d)
                    .coalesce(n_target)
                    .write.mode("overwrite")
                    .option("compression", codec)
                    .parquet(stage)
                )
            new = list(data_file_paths(d))
            after = len(new)
            report[f"{schema}.{table}"] = {
                "files_before": len(parts),
                "files_after": after,
                "bytes": nbytes,
            }
            tmeta = None
            if self.exists():
                meta = self.read_manifest()
                tmeta = meta.tables.get(f"{schema}.{table}")
            if tmeta:
                # the manifest describes the new layout: its file count
                # and bytes are what IMPORT and restart() check the
                # table dir against
                tmeta["files"] = after
                tmeta["bytes"] = sum(os.path.getsize(p) for p in new)
                # Snapshot-history rewrite: the rewrite above replaced
                # every part-file under new names, so any AS_OF_VERSION
                # file lists in the manifest now reference deleted files
                # — time travel would fail path-not-exist (or silently
                # drop files under ignoreMissingFiles). Collapse the
                # table's history to a single snapshot at the PRIOR
                # latest version number listing the new files:
                # AS_OF_VERSION(latest) keeps returning the full table,
                # earlier versions fail loud ("no data files recorded"),
                # and the logged event records the intentional history
                # loss.
                snaps = tmeta.get("snapshots")
                if snaps:
                    latest = max(s["version"] for s in snaps)
                    tmeta["snapshots"] = [{
                        "version": latest,
                        "files": sorted(os.path.basename(p) for p in new),
                    }]
                # Checksum refresh (same failure class): recorded
                # CHECKSUM digests now describe deleted files and
                # VERIFY_CHECKSUM would refuse a perfectly healthy dump.
                # Recompute over the new layout with the recorded
                # algorithm.
                cks = tmeta.get("checksums")
                if cks:
                    tmeta["checksums"] = {
                        "algorithm": cks["algorithm"],
                        "files": self.file_digests(
                            spark, d, cks["algorithm"]
                        ),
                    }
                self.write_manifest(meta)
                if snaps:
                    self.log_event(
                        "SNAPSHOT_HISTORY_COLLAPSED",
                        table=f"{schema}.{table}",
                        kept_version=latest,
                        dropped_versions=latest - 1,
                    )
                if cks:
                    self.log_event(
                        "TABLE_CHECKSUM_REFRESHED",
                        table=f"{schema}.{table}",
                        algorithm=cks["algorithm"],
                        n_files=len(tmeta["checksums"]["files"]),
                    )
            self.log_event(
                "TABLE_COMPACTED",
                table=f"{schema}.{table}",
                files_before=len(parts),
                files_after=after,
            )
        return report

    # -- event log (replaces Oracle logfile parsing, status.py:449-579) ------
    _lock = threading.Lock()

    def log_event(self, event_type: str, **fields: Any) -> None:
        self.ensure_dir()
        rec = {"ts": utc_now().isoformat(), "event": event_type, **fields}
        line = json.dumps(rec, default=str)
        with self._lock, open(self.events_path, "a+b") as f:
            end = f.seek(0, os.SEEK_END)
            if end:
                f.seek(end - 1)
                if f.read(1) != b"\n":
                    # a writer killed mid-append left a torn last line:
                    # cut it, or this append would glue onto it and turn
                    # it into a corrupt middle line read_events rejects
                    f.seek(0)
                    f.truncate(f.read().rfind(b"\n") + 1)
            f.write(line.encode() + b"\n")
        with self._lock, open(self.logfile_path, "a") as f:
            f.write(f"{rec['ts']} {event_type} " + json.dumps(fields, default=str) + "\n")

    def read_events(self) -> Iterator[dict[str, Any]]:
        if not os.path.isfile(self.events_path):
            return
        with open(self.events_path) as f:
            for line in f:
                if not line.strip():
                    continue
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    # A writer killed mid-append leaves a torn final line
                    # with no trailing newline: the events before it are
                    # still the job's last complete state. A corrupt line
                    # anywhere else is damage, and raises.
                    if line.endswith("\n"):
                        raise
                    return
                yield rec

    def read_logfile(self) -> str:
        """Job log text (reference job.py:322-328, client.py:55-60)."""
        if not os.path.isfile(self.logfile_path):
            return ""
        with open(self.logfile_path) as f:
            return f.read()


def cleanup_orphans(root: str, min_age_s: float = 3600.0) -> list[str]:
    """GC dump-set directories whose event log never reached JOB_DONE —
    the analog of the reference's orphan-job master-table cleanup (defined
    but never called there: sql.py:92-105; we call ours). Returns removed
    paths.

    A running job hasn't written JOB_DONE either, so two guards keep GC
    from reaping live work: dump sets whose job_name is registered in the
    live-job registry are skipped, and so are dump sets whose event log
    was touched within ``min_age_s`` seconds (covers jobs from another
    process, which the in-memory registry can't see)."""
    import time

    from . import status as _status

    removed = []
    if not os.path.isdir(root):
        return removed
    now = time.time()
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if not os.path.isdir(path):
            continue
        ds = DumpSet(path)
        events = list(ds.read_events())
        if not events and not ds.exists():
            continue  # not a dump set
        if any(e.get("event") == "JOB_DONE" for e in events):
            continue  # finished job — keep
        job_names = {e.get("job_name") for e in events if e.get("job_name")}
        if any(_status.job_exists(j) for j in job_names):
            continue  # live in this process — keep
        if not os.path.isfile(ds.events_path):
            # manifest present but the event log is gone (pruned/lost):
            # the JOB_DONE check could not run, so this may be a
            # COMPLETED job's archive — a GC must never delete data it
            # cannot prove is an orphan
            continue
        try:
            if now - os.path.getmtime(ds.events_path) < min_age_s:
                continue  # recently active (possibly another process) — keep
        except OSError:
            continue  # vanished mid-scan — keep, retry next pass
        shutil.rmtree(path)
        removed.append(path)
    return removed
