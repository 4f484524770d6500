"""Per-table Spark execution engine.

Replaces both the reference's command pipeline
(/root/reference/src/oracledb_datapump/commands.py — OPEN/ADD_FILE/START/
WAIT_FOR_JOB wrappers) and Oracle's server-side Data Pump workers: the
PARALLEL directive budget maps to (a) a driver thread pool submitting up to
``parallel`` concurrent table jobs and (b) intra-table partitioned reads —
mirroring how Oracle sizes its worker pool (reference directives.py:400-409,
job.py:136-140).

Each table runs as a short chain of plain stage functions over its
``TablePlan``, in which planning has already resolved the directives:

- read: ``_read_source`` (the source scan) or ``_read_dump`` (the dump
  scan, with the table's manifest entry read once);
- row transforms: ``_transform_rows`` — SAMPLE → incremental watermark →
  DEDUP_KEEP_BEST → REMAP_DATA, one copy for EXPORT and TRANSFER;
- layout: ``_layout`` — ZORDER or SORT (EXPORT);
- sink: ``_write_dump`` (FILESIZE, ENCRYPTION) or ``_write_import_df``
  (TABLE_EXISTS_ACTION, schema evolution, and the MERGE family of
  ``merge.py``);
- account: ``_account_export`` (footer counts, snapshots, watermark,
  checksums) or ``_fingerprint_done`` (the target fingerprint plus the
  ``TABLE_*_DONE`` event). A target the sink created or replaced from
  the frame is fingerprinted on the write itself (an ``Observation``);
  every other target is read back.

A plain table move is thereby one Spark job: the write. A small table
of a connector that holds rows on the driver (``read_arrow``) moves with
no Spark job at all — the Arrow lane. It fits one Arrow batch
(``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) and one file
split (``spark.sql.files.maxPartitionBytes``), and no directive on it
needs Spark. EXPORT fetches it as Arrow and pyarrow writes its one dump
file (``_source_arrow`` → ``_write_dump_arrow``); IMPORT reads such a
dump with pyarrow, hands the target Arrow, and takes the target
fingerprint from a LocalRelation the optimizer evaluates itself
(``_read_dump_arrow`` → ``_local_fingerprint``). Before either path
writes a row, IMPORT checks the dump's footer row sum and file count
against the manifest (``check_dump``), so a lost, truncated or extra
part file fails the table. ``Job.restart`` runs the same check before
it skips a completed export table.

Every table-dir write — the Spark and Arrow dump writes, FILESIZE's
corrective rewrite, the encrypted writer, and a Parquet target's write
— is one ``dumpset.staged`` commit: written beside the live dir and
published by rename, so a write that fails leaves the table dir as it
was.

``export_table``, ``import_table`` and ``transfer_table`` chain them.
Planning (``Job._thread_plan_extras``) owns every rule about which
directives can be combined, so no stage rejects a combination halfway
through a write.

Failures are per-table: ``_run_one`` logs ``TABLE_*_START``, catches,
logs ``TABLE_*_ERROR`` and the error counts into COMPLETED_WITH_ERRORS
(reference status.py:38 precedent; test expectation
tests/test_import.py:179). Every ``TABLE_<op>_*`` event is written by
``_table_event``, keyed by ``TablePlan.event_key``; ``status.replay``
folds the job's state events by that key.
"""

from __future__ import annotations

import concurrent.futures as cf
import functools
import json as _json
import operator
import os
import threading
import traceback
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas import types as arrow_types
from pyspark.sql.types import ArrayType, MapType, StructType
from pyspark.sql.utils import is_timestamp_ntz_preferred

from .base import JobState
from .catalog import Connector, arrow_frame
from .crypto import count_encrypted_dump, read_encrypted_dump, write_encrypted_dump
from .directives import PlanConfig
from .dumpset import DumpSet, data_file_paths, staged
from .exceptions import FileError, UsageError
from .merge import dtype_has_map, merge_df
from .planner import TablePlan


@dataclass
class TableResult:
    plan: TablePlan
    ok: bool
    rows: int | None = None
    bytes: int | None = None
    files: int | None = None
    error: str | None = None
    skipped: bool = False
    detail: dict[str, Any] = field(default_factory=dict)


@dataclass
class EngineResult:
    state: JobState
    tables: list[TableResult] = field(default_factory=list)

    @property
    def error_count(self) -> int:
        return sum(1 for t in self.tables if not t.ok)


def _map_codec(fmt: str, parquet_codec: str) -> str:
    """Translate the COMPRESSION×ALGORITHM-derived parquet codec to the
    target format's codec vocabulary."""
    if fmt == "parquet":
        return parquet_codec
    if parquet_codec in ("none", "uncompressed"):
        return "none"
    if fmt == "orc":
        # orc: zlib/snappy/lzo/zstd/lz4; gzip's orc twin is zlib
        return {"gzip": "zlib"}.get(parquet_codec, parquet_codec)
    # text formats (json/csv): snappy unsupported — gzip is the portable choice
    return "gzip"


def _dump_reader(spark: SparkSession, fmt: str, schema=None):
    """The reader for a dump of format ``fmt``, typed by ``schema`` when
    given. CSV dumps are headerless, and read multiLine: Spark's CSV
    writer quotes embedded newlines on export, and without multiLine the
    reader splits a quoted field across physical lines into null-padded
    garbage rows — silent corruption on any text corpus."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "false").option("multiLine", "true")
    return reader.format(fmt)


def _hive_leaves(d: str) -> list[str]:
    """Names of the hive partition dirs (``col=value``) of a dump dir."""
    return sorted(
        n for n in os.listdir(d) if "=" in n and os.path.isdir(os.path.join(d, n))
    )


def _part_names(d: str) -> set:
    """Names of the part files of a flat dump dir."""
    if not os.path.isdir(d):
        return set()
    return {n for n in os.listdir(d) if n.startswith("part-")}


def _sniff_dump_format(path: str) -> str:
    """Physical format of a dump table dir, from the data files' own
    extensions (formats are self-describing — no manifest round-trip):
    part-*.snappy.parquet / *.orc / *.json(.gz) / *.csv(.gz)."""
    for p in data_file_paths(path):
        name = p[:-3] if p.endswith(".gz") else p
        for fmt in ("parquet", "orc", "json", "csv"):
            if name.endswith("." + fmt):
                return fmt
    return "parquet"


def _count_dump_rows(path: str, fmt: str = "parquet", spark=None) -> tuple[int, int, int]:
    """(rows, bytes, files) for a dump table dir. Parquet/ORC read row
    counts from footers — no data scan (the reference gets these numbers
    free from Oracle, status.py:259-273; footer reads are our equivalent
    zero-scan accounting). JSON/CSV have no footers: rows cost one scan
    through Spark when a session is supplied, else -1 (unknown)."""
    rows = size = nfiles = 0
    have_rows = False
    for p in data_file_paths(path):
        size += os.path.getsize(p)
        nfiles += 1
        name = os.path.basename(p)
        try:
            if name.endswith(".parquet") or (
                fmt == "parquet" and name.startswith("part-")
            ):
                import pyarrow.parquet as pq

                rows += pq.ParquetFile(p).metadata.num_rows
            elif name.endswith(".orc"):
                from pyarrow import orc as pa_orc

                rows += pa_orc.ORCFile(p).nrows
            else:
                continue
            have_rows = True
        except Exception:
            pass
    # parquet/orc included: a runtime without pyarrow (it is a test
    # extra, not a dependency) or any footer-read failure must fall back
    # to a Spark count, not report 0 rows for an intact dump
    # (VALIDATE_TBL_DATA would then fail a good run)
    if not have_rows and fmt in ("json", "csv", "orc", "parquet"):
        if spark is not None:
            rows = _dump_reader(spark, fmt).load(path).count()
        else:
            rows = -1
    return rows, size, nfiles


# FILESIZE estimate: schema byte widths (uncompressed logical size — the
# on-disk parquet file is smaller, so a cap derived from this errs toward
# under-full files, never oversized ones); binary / array / map / struct
# count 64
_TYPE_BYTES = {
    "long": 8, "integer": 4, "short": 2, "byte": 1, "double": 8,
    "float": 4, "boolean": 1, "date": 4, "timestamp": 8,
    "timestamp_ntz": 8, "string": 24, "decimal": 16,
}


def _estimate_row_bytes(schema) -> int:
    return max(
        1, sum(_TYPE_BYTES.get(f.dataType.typeName(), 64) for f in schema.fields)
    )


def _max_data_file_bytes(path: str) -> int:
    return max((os.path.getsize(p) for p in data_file_paths(path)), default=0)


# -- the Arrow lane --------------------------------------------------------
# A table whose connector holds rows on the driver (``read_arrow``) moves
# with no Spark job when it is small: pyarrow writes or reads its one dump
# file, and the import fingerprints the target from a LocalRelation.

# parquet codec -> (pyarrow compression, Spark's file-name infix). Spark's
# lz4 is Hadoop-framed, which pyarrow neither writes nor reads, so a LOW
# dump moves through Spark both ways
_LANE_CODECS = {
    "uncompressed": ("none", ""), "snappy": ("snappy", ".snappy"),
    "zstd": ("zstd", ".zstd"), "gzip": ("gzip", ".gz"),
}
# TablePlan fields of the EXPORT directives that need Spark between the
# source and the dump: ENCRYPTION, a partitioned or partition-scoped
# layout, ZORDER/SORT, FILESIZE, the row transforms, an incremental run
_NEEDS_SPARK = (
    "encryption", "partition_by", "partition_scope", "zorder_by", "sort_by",
    "filesize_bytes", "sample", "remap_data", "dedup_keep_best",
    "incremental_column",
)


def _small(spark: SparkSession, rows: int, nbytes: int) -> bool:
    """The lane's size rule, one for both directions: the table fits one
    Arrow batch (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows; a
    LocalRelation that size is cheaper to hash on the driver than in a
    job) and one file split (``spark.sql.files.maxPartitionBytes``, the
    DuckDB read's one-partition rule)."""
    conf = spark._jsparkSession.sessionState().conf()
    return rows <= conf.arrowMaxRecordsPerBatch() and (
        nbytes <= conf.filesMaxPartitionBytes()
    )


def _arrow_schema(spark: SparkSession, schema: StructType):
    """The Arrow schema ``toArrow`` and ``createDataFrame`` cast a frame of
    Spark ``schema`` to."""
    return arrow_types.to_arrow_schema(
        schema, error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=spark._jconf.arrowUseLargeVarTypes(),
    )


def _table_event(
    dumpset: DumpSet, plan: TablePlan, operation: str, what: str, **fields
) -> None:
    """Log TABLE_<operation>_<what> for ``plan``'s table: the one writer
    of per-table events, all keyed by ``plan.event_key`` (status.replay
    folds them by that key)."""
    dumpset.log_event(
        f"TABLE_{operation}_{what}", table=plan.event_key(operation), **fields
    )


# -- read ----------------------------------------------------------------


def _read_source(
    spark: SparkSession, connector: Connector, dumpset: DumpSet, plan: TablePlan
):
    """Read stage for EXPORT / TRANSFER: the source scan, honoring the
    TABLE:PARTITION scope (Oracle TABLES syntax): the named hive leaf is
    the only data listed or read, and the pruning evidence (files scanned
    vs. the table's total) is recorded in a TABLE_EXPORT_PARTITION_SCOPED
    event so the job log proves the scan was partition-pruned. Predicate
    and column pruning happen in the connector so they push into the
    scan."""
    part = plan.partition_scope
    kwargs: dict[str, Any] = dict(
        as_of=plan.as_of,
        parallel=plan.parallel,
        predicate=plan.predicate,
        columns=plan.columns,
    )
    if part:
        import inspect

        if "partition" not in inspect.signature(
            connector.read_table
        ).parameters:
            raise UsageError(
                f"{type(connector).__name__} does not support "
                "TABLE:PARTITION scope — hive-layout file sources only"
            )
        kwargs["partition"] = part
    df = connector.read_table(spark, plan.schema, plan.table, **kwargs)
    if part:
        # Evidence event: files_total comes from a driver-side filesystem
        # walk (count_data_files), NEVER an unscoped reader — planning a
        # scan over every leaf to prove we pruned the leaves would be the
        # exact O(all-partitions) listing this feature exists to avoid.
        # Connectors without a cheap counter just omit the total.
        evt: dict[str, Any] = {
            "partition": part,
            "files_scanned": len(df.inputFiles()),
        }
        counter = getattr(connector, "count_data_files", None)
        if counter is not None:
            evt["files_total"] = counter(plan.schema, plan.table)
        _table_event(dumpset, plan, "EXPORT", "PARTITION_SCOPED", **evt)
    return df


def _source_arrow(connector: Connector, plan: TablePlan):
    """Read stage (EXPORT) of the Arrow lane: the source table as Arrow on
    the driver, fetched once; None when the connector has no
    ``read_arrow``, the dump is not parquet in a codec pyarrow writes as
    Spark does, or a directive needs Spark (``_NEEDS_SPARK``)."""
    read_arrow = getattr(connector, "read_arrow", None)
    if (
        read_arrow is None
        or plan.dump_format != "parquet"
        or plan.codec not in _LANE_CODECS
        or any(getattr(plan, f) for f in _NEEDS_SPARK)
    ):
        return None
    return read_arrow(
        plan.schema, plan.table, predicate=plan.predicate, columns=plan.columns
    )


def _table_meta(dumpset: DumpSet, plan: TablePlan) -> dict[str, Any]:
    """The table's manifest entry ({} without a manifest), read once per
    import and handed to every stage that needs it."""
    if not dumpset.exists():
        return {}
    return dumpset.read_manifest().tables.get(plan.source_key, {})


def _verify_dump_checksums(
    spark: SparkSession, dumpset: DumpSet, plan: TablePlan, src_dir: str, tmeta: dict
) -> None:
    """VERIFY_CHECKSUM / VERIFY_ONLY (Oracle DP 21c): recompute every
    data file's digest BEFORE any row is read; a dump without recorded
    checksums fails too — silently skipping the verification the
    caller asked for would defeat it."""
    recorded = tmeta.get("checksums")
    if not recorded:
        raise UsageError(
            f"VERIFY_CHECKSUM: dump for {plan.source_key} carries "
            "no recorded checksums (export with CHECKSUM)"
        )
    actual = dumpset.file_digests(spark, src_dir, recorded["algorithm"])
    bad = sorted(set(recorded["files"].items()) ^ set(actual.items()))
    if bad:
        names = sorted({rel for rel, _ in bad})
        raise UsageError(
            f"VERIFY_CHECKSUM: dump for {plan.source_key} failed "
            f"{recorded['algorithm']} verification on "
            f"{len(names)} file(s): {names[:5]}"
        )
    dumpset.log_event(
        "TABLE_CHECKSUM_VERIFIED",
        table=plan.source_key,
        algorithm=recorded["algorithm"],
        n_files=len(actual),
    )


def check_dump(
    spark: SparkSession, plan: TablePlan, src_dir: str, fmt: str, tmeta: dict
) -> tuple[int, int, int]:
    """(rows, bytes, files) of a table's dump, counted from its footers
    and checked against its manifest entry ``tmeta``: a lost, truncated
    or extra part file raises FileError, so IMPORT fails the table
    before any row is written and ``Job.restart`` re-exports it."""
    enc = tmeta.get("encryption")
    if enc:
        # sealed footers (ALL/METADATA_ONLY) need the key for the
        # zero-scan accounting; the plain counter (and a plain
        # spark.read) would die on the Parquet crypto layer, so fail
        # with the actionable message instead
        if not plan.encryption_password:
            raise UsageError(
                f"dump for {plan.source_key} is encrypted "
                f"(scope {enc['scope']}); IMPORT requires "
                "ENCRYPTION_PASSWORD"
            )
        rows, size, nfiles = count_encrypted_dump(
            src_dir, plan.encryption_password, enc["salt_hex"]
        )
    else:
        rows, size, nfiles = _count_dump_rows(src_dir, fmt, spark)
    if tmeta.get("rows") is not None and (
        rows != tmeta["rows"]
        or tmeta.get("files") not in (None, nfiles)
    ):
        raise FileError(
            f"dump for {plan.source_key} holds {rows} rows in {nfiles} "
            f"files; its export recorded {tmeta['rows']} rows in "
            f"{tmeta.get('files')} files"
        )
    return rows, size, nfiles


def _as_of_files(
    plan: TablePlan, version: int, src_dir: str, tmeta: dict[str, Any]
) -> list[str]:
    """AS_OF_VERSION(n): the files of export runs 1..n from the
    manifest's snapshot history — a pure file-list narrowing, so every
    downstream pushdown/prune behaves exactly as on a full read."""
    snaps = tmeta.get("snapshots")
    if not snaps:
        raise UsageError(
            f"AS_OF_VERSION: dump for {plan.source_key} has no "
            "snapshot history in the manifest (hive-partitioned "
            "dumps and pre-snapshot dumps are not versioned)"
        )
    latest = max(s["version"] for s in snaps)
    if version > latest:
        raise UsageError(
            f"AS_OF_VERSION({version}) beyond the "
            f"dump's latest version {latest}"
        )
    # History completeness check (round-9 advisor finding): the
    # union of the snapshot file lists must account for every
    # data file in the directory — a dump appended to before
    # tracking, or compacted without a history rewrite, would
    # otherwise time-travel to a silently partial table.
    union = {f for s in snaps for f in s["files"]}
    on_disk = _part_names(src_dir)
    if union != on_disk:
        extra = sorted(on_disk - union)[:3]
        stale = sorted(union - on_disk)[:3]
        raise UsageError(
            f"AS_OF_VERSION: snapshot history for {plan.source_key} "
            "does not match the dump directory "
            f"(untracked files: {extra}, missing files: {stale}) — "
            "the history is stale; re-export or compact with "
            "history rewrite before time-traveling"
        )
    files = [
        os.path.join(src_dir, f)
        for s in snaps
        if s["version"] <= version
        for f in s["files"]
    ]
    if not files:
        raise UsageError(
            f"AS_OF_VERSION({version}): no data files "
            f"recorded for {plan.source_key} at that version"
        )
    return files


def _read_dump(
    spark: SparkSession,
    plan: TablePlan,
    config: PlanConfig,
    src_dir: str,
    fmt: str,
    tmeta: dict[str, Any],
):
    """Read stage for IMPORT: the dump scan (narrowed by AS_OF_VERSION,
    decrypted when the manifest records ENCRYPTION), then QUERY and
    COLUMNS."""
    schema = None
    if fmt in ("json", "csv") or (fmt == "parquet" and not _hive_leaves(src_dir)):
        # text formats carry no types — restore the exported Spark
        # schema from the manifest (export_table records it); without
        # it JSON falls back to inference and CSV cannot be read at
        # all (headerless), so CSV requires the manifest. A flat parquet
        # dump takes it too: inferring it costs a Spark job per table.
        if tmeta.get("spark_schema"):
            schema = StructType.fromJson(_json.loads(tmeta["spark_schema"]))
        elif fmt == "csv":
            raise FileError(
                f"CSV dump for {plan.source_key} has no recorded schema "
                "in the manifest; cannot type a headerless CSV read"
            )
    files = None
    if config.as_of_version is not None:
        files = _as_of_files(plan, config.as_of_version, src_dir, tmeta)
    enc = tmeta.get("encryption")
    if enc:
        # encrypted dump: decrypting file-list reader (crypto.py); the
        # caller checked for the password
        if files is None:
            files = [
                os.path.join(src_dir, n)
                for n in os.listdir(src_dir)
                if n.startswith("part-") and n.endswith(".parquet")
            ]
        # a QUERY predicate may reference columns outside the
        # COLUMNS projection (the plain path filters before
        # selecting), so only push the column prune into the
        # parquet read when there is no predicate
        df = read_encrypted_dump(
            spark,
            files,
            tmeta["spark_schema"],
            plan.encryption_password,
            enc["salt_hex"],
            columns=plan.columns if not plan.predicate else None,
        )
    else:
        df = _dump_reader(spark, fmt, schema).load(
            src_dir if files is None else files
        )
    if plan.predicate:
        df = df.filter(plan.predicate)
    if plan.columns and (not enc or plan.predicate):
        df = df.select(*plan.columns)
    return df


def _read_dump_arrow(
    spark: SparkSession, connector: Connector, plan: TablePlan,
    config: PlanConfig, src_dir: str, fmt: str, tmeta: dict[str, Any],
):
    """Read stage (IMPORT) of the Arrow lane: a small flat parquet dump
    read by pyarrow, cast to the manifest schema's Arrow types — the
    Arrow a Spark read's ``toArrow`` hands the target. Returns (Arrow,
    Spark schema), or None where the lane does not apply: a target
    without ``read_arrow``; an encrypted, hive-partitioned or untyped
    dump, or one in a codec pyarrow does not read (Spark's lz4); a
    directive that reads part of the dump (AS_OF_VERSION, QUERY,
    COLUMNS, DEPARTITION) or writes into an existing table (APPEND,
    TRUNCATE, MERGE, schema evolution); or footers over the size rule,
    which are read before any row is."""
    if not (
        hasattr(connector, "read_arrow") and fmt == "parquet"
        and tmeta.get("codec") in _LANE_CODECS
        and tmeta.get("spark_schema") and not tmeta.get("encryption")
        and config.as_of_version is None
        and config.partition_options != "DEPARTITION"
        and not (plan.predicate or plan.columns or plan.truncate)
        and plan.write_mode in ("error", "ignore", "overwrite")
        and not _hive_leaves(src_dir)
    ):
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = [
        pq.ParquetFile(p, coerce_int96_timestamp_unit="us")
        for p in sorted(data_file_paths(src_dir))
    ]
    metas = [f.metadata for f in files]
    nbytes = sum(
        m.row_group(i).total_byte_size for m in metas for i in range(m.num_row_groups)
    )
    if not files or not _small(spark, sum(m.num_rows for m in metas), nbytes):
        return None
    schema = StructType.fromJson(_json.loads(tmeta["spark_schema"]))
    target = _arrow_schema(spark, schema)
    return pa.concat_tables(
        f.read().select(schema.names).cast(target) for f in files
    ), schema


# -- row transforms --------------------------------------------------------


def _transform_rows(df, plan: TablePlan):
    """Row-transform stage shared by EXPORT and TRANSFER, in order:
    SAMPLE → incremental watermark → DEDUP_KEEP_BEST → REMAP_DATA.
    Returns the transformed frame and the frame as it stood before
    DEDUP_KEEP_BEST (None without it), whose count EXPORT records."""
    if plan.sample:
        # SAMPLE is evaluated engine-side on the scanned DataFrame —
        # never pushed into connector SQL (the md5/CONV hash is
        # Spark-dialect; remote engines would fail to bind it or
        # sample a different row set). NULL sample keys are excluded
        # by policy (see directives.Sample docstring).
        from .functions.text import hash64

        ppm, col = plan.sample
        df = df.filter(
            F.col(col).isNotNull()
            & (hash64(F.col(col).cast("string")) % 1_000_000 < ppm)
        )
    if plan.incremental_append:
        # CDC-style increment: only rows past the manifest watermark,
        # appended to the existing dump (Catalyst pushes the filter
        # into the parquet/JDBC scan)
        df = df.filter(F.col(plan.incremental_column) > F.lit(plan.watermark))
    pre_dedup = None
    if plan.dedup_keep_best:
        # DEDUP_KEEP_BEST: one row per key survives — greatest score,
        # ties to the smallest tiebreak (directives.DedupKeepBest).
        # Engine-side after the pushed-down scan, SAMPLE and the
        # incremental watermark slice, before REMAP_DATA (the policy
        # judges raw values; the remap rewrites the survivors). One
        # shuffle on the key.
        key, score, tie = plan.dedup_keep_best
        pre_dedup = df
        w = Window.partitionBy(key).orderBy(F.desc(score), F.asc(tie))
        df = (
            df.withColumn("__dkb_rk", F.row_number().over(w))
            .filter(F.col("__dkb_rk") == 1)
            .drop("__dkb_rk")
        )
    if plan.remap_data:
        # REMAP_DATA rewrites are row-local projections applied after
        # the pushed-down read and before any layout shuffle — the
        # dump never contains the raw values
        from .functions.remap_data import apply_remaps

        df = apply_remaps(df, plan.remap_data)
    return df, pre_dedup


# -- layout ----------------------------------------------------------------


def _layout(df, plan: TablePlan):
    """Layout stage (EXPORT): ZORDER or SORT. The partitioning — one dump
    file per partition — is the read's, and already by size: a file scan
    splits by ``spark.sql.files.maxPartitionBytes``, the DuckDB read by
    the same bytes capped at PARALLEL, a JDBC read by numPartitions. So
    no shuffle, and no Spark job to count partitions, is spent here."""
    if plan.zorder_by:
        # multi-dimensional clustering: range shuffle + local sort on
        # the Morton value of the named columns (see functions.zorder)
        from .functions.zorder import zorder_dataframe

        return zorder_dataframe(df, plan.zorder_by)
    if plan.sort_by:
        # local per-partition sort (no shuffle): clusters the sort key
        # for parquet RLE/dictionary pages and row-group pruning
        return df.sortWithinPartitions(*plan.sort_by)
    return df


# -- sink ------------------------------------------------------------------


def _write_dump(
    spark: SparkSession, dumpset: DumpSet, plan: TablePlan, df, out_dir: str,
    left: dict[str, Any],
) -> tuple[int, int, int, dict[str, Any] | None]:
    """Sink stage (EXPORT): the dump writer with FILESIZE and ENCRYPTION.
    Every write goes through ``staged``, so the table dir is replaced
    whole or left as it was; ``left["published"]`` is set once the first
    commit has replaced it. Returns (rows, bytes, files) of the whole
    table dir and, for an encrypted dump, its manifest ``encryption``
    detail."""
    fmt = plan.dump_format
    codec = _map_codec(fmt, plan.codec)
    enc = plan.encryption
    if enc:
        # ENCRYPTION: real Parquet modular encryption (AES-GCM),
        # executor-distributed — see crypto.py. Row/byte counts come
        # from the write tasks themselves (an ALL-scope dump has no
        # readable footers to re-count from).
        with staged(out_dir) as stage:
            res = write_encrypted_dump(
                df,
                stage,
                enc["password"],
                enc["scope"],
                enc["algorithm"],
                codec,
                encrypt_columns=enc.get("columns"),
            )
        left["published"] = True
        detail = {
            "scope": enc["scope"],
            "algorithm": enc["algorithm"],
            "salt_hex": res["salt_hex"],  # public KDF salt
        }
        if enc.get("columns"):
            # which columns are sealed is public metadata (the
            # footer is plaintext under this scope anyway)
            detail["columns"] = list(enc["columns"])
        _table_event(
            dumpset, plan, "EXPORT", "ENCRYPTED",
            scope=enc["scope"],
            algorithm=enc["algorithm"],
        )
        return res["rows"], res["bytes"], len(res["files"]), detail
    append = plan.incremental_append
    writer = df.write.mode("append" if append else "overwrite").option(
        "compression", codec
    )
    filesize = plan.filesize_bytes
    if filesize:
        # FILESIZE (Oracle DP): target bytes per dump part-file.
        # First pass: estimate-derived records/file from schema
        # byte widths (parquet compression makes on-disk smaller,
        # so the estimate errs toward under-full files — the safe
        # direction for a size cap); the corrective pass below
        # uses the OBSERVED bytes/row when the estimate overshot.
        est_rpf = max(1, filesize // _estimate_row_bytes(df.schema))
        writer = writer.option("maxRecordsPerFile", est_rpf)
    if plan.partition_by:
        # hive-partitioned dump layout (EXPORT_PARTITION_BY
        # extension); enables partition pruning on import and
        # DEPARTITION splits
        writer = writer.partitionBy(plan.partition_by)
    if fmt == "csv":
        # headerless + manifest schema on import: CSV carries no
        # types
        writer = writer.option("header", "false")
    # an append keeps every current file and adds its own beside them
    with staged(out_dir, data_file_paths(out_dir) if append else ()) as stage:
        writer.format(fmt).save(stage)
    left["published"] = True
    rows, size, nfiles = _count_dump_rows(out_dir, fmt, spark)
    if (
        filesize
        and rows > 0
        and not append
        and not plan.partition_by
        and _max_data_file_bytes(out_dir) > filesize * 1.05
    ):
        # corrective rewrite with the observed bytes/row, a second
        # staged overwrite. Runs BEFORE checksum digests are recorded
        # so the integrity map covers the final layout. Appends and
        # hive layouts keep the estimate-only cap (a rewrite would
        # invalidate snapshot file lists / pruning layout).
        obs_rpf = max(1, int(filesize * 0.9 * rows / size))
        with staged(out_dir) as stage:
            (
                _dump_reader(spark, fmt, df.schema)
                .load(out_dir)
                .write.mode("overwrite")
                .option("compression", codec)
                .option("maxRecordsPerFile", obs_rpf)
                .format(fmt)
                .save(stage)
            )
        rows, size, nfiles = _count_dump_rows(out_dir, fmt, spark)
        dumpset.log_event(
            "TABLE_FILESIZE_ENFORCED",
            table=plan.source_key,
            target_bytes=filesize,
            records_per_file=obs_rpf,
            n_files=nfiles,
        )
    return rows, size, nfiles, None


def _write_dump_arrow(
    spark: SparkSession, plan: TablePlan, arrow, out_dir: str
) -> StructType:
    """Sink stage (EXPORT) of the Arrow lane: the table as the one part
    file a Spark write of it would leave, with no Spark job. It is typed
    as ``createDataFrame`` types it (a naive TIMESTAMP is taken in the
    session time zone and stored as UTC micros), named as Spark names
    it, and written by pyarrow into a ``staged`` dir: a failed write
    leaves the table dir as it was. Returns the table's Spark schema."""
    import uuid

    import pyarrow.parquet as pq

    schema = arrow_types.from_arrow_schema(
        arrow.schema, prefer_timestamp_ntz=is_timestamp_ntz_preferred()
    )
    arrow = arrow_types._check_arrow_table_timestamps_localize(
        arrow, schema, True, spark._jconf.sessionLocalTimeZone()
    ).cast(_arrow_schema(spark, schema))
    compression, infix = _LANE_CODECS[plan.codec]
    name = f"part-00000-{uuid.uuid4()}-c000{infix}.parquet"
    with staged(out_dir) as stage:
        pq.write_table(arrow, os.path.join(stage, name), compression=compression)
    return schema


def _evolve_append(spark: SparkSession, connector: Connector, plan: TablePlan, df):
    """APPEND evolution: narrow incoming (missing target columns)
    null-fills and stays a true append; widening incoming (new columns)
    must rewrite the target once so existing rows gain the new nulls —
    the same one-time widening a table format's ALTER ADD COLUMN
    amortizes. Returns the frame to write and its write mode."""
    existing = connector.read_table(
        spark, plan.target_schema, plan.target_table
    )
    in_cols, ex_cols = set(df.columns), set(existing.columns)
    if in_cols - ex_cols:
        return existing.unionByName(
            df, allowMissingColumns=True
        ).localCheckpoint(eager=True), "overwrite"
    if ex_cols - in_cols:
        for fld in existing.schema.fields:
            if fld.name not in in_cols:
                df = df.withColumn(fld.name, F.lit(None).cast(fld.dataType))
        df = df.select(*existing.columns)
    return df, "append"


def _write_import_df(
    spark: SparkSession,
    connector: Connector,
    dumpset: DumpSet,
    plan: TablePlan,
    config: PlanConfig,
    df,
):
    """Sink stage shared by import_table (dump -> target) and
    transfer_table (NETWORK_LINK: source -> target with no intermediate
    dump): TABLE_EXISTS_ACTION incl. the MERGE family
    (MERGE_KEY/ORDER/DELETE_COL/PRUNE), schema evolution, and the final
    connector write. Returns the (possibly merged) frame that was
    written, and — when the connector created or replaced the target
    from exactly that frame — the target's fingerprint, observed on the
    write (else None: the account stage reads the target back)."""
    mode, written = plan.write_mode, False
    if mode == "merge":
        df, written = merge_df(spark, connector, dumpset, plan, config, df)
        mode = "overwrite"
    elif (
        mode == "append"
        and config.allow_schema_evolution
        and connector.table_exists(plan.target_schema, plan.target_table)
    ):
        df, mode = _evolve_append(spark, connector, plan, df)
    if written:
        return df, None
    # REPLACE / SKIP / first write: fingerprint the rows as they are
    # written (appends, truncates, merges and evolved appends change a
    # table the frame is only part of)
    obs = None
    if mode == plan.write_mode != "append" and not plan.truncate:
        obs = Observation()
    created = connector.write_table(
        df if obs is None else df.observe(obs, *_fingerprint_exprs(df)),
        plan.target_schema,
        plan.target_table,
        mode=mode,
        truncate=plan.truncate,
        options=plan.writer_options,
    )
    # Observation.get blocks until an action runs: trust it only for a
    # write the connector reports it ran into a table it created
    return df, (_fingerprint_value(obs.get) if created and obs is not None else None)


def _departition(
    spark: SparkSession,
    connector: Connector,
    dumpset: DumpSet,
    plan: TablePlan,
    src_dir: str,
    fmt: str,
) -> TableResult | None:
    """PARTITION_OPTIONS=DEPARTITION: one target table per hive
    partition directory (reference directives.py:346-349); None for a
    dump with no partition directories."""
    if fmt != "parquet":
        raise UsageError(
            f"PARTITION_OPTIONS(DEPARTITION) requires a parquet "
            f"dump; this dump is {fmt} (DUMP_FORMAT)"
        )
    part_dirs = _hive_leaves(src_dir)
    if not part_dirs:
        return None
    for d in part_dirs:
        col, _, value = d.partition("=")
        # basePath keeps the hive partition column in the
        # schema (Oracle DEPARTITION promotes partitions to
        # standalone tables with the FULL column set) while
        # still pruning the scan to this one leaf.
        sub = spark.read.option("basePath", src_dir).parquet(
            os.path.join(src_dir, d)
        )
        connector.write_table(
            sub,
            plan.target_schema,
            f"{plan.target_table}_{col}_{value}".lower(),
            mode=plan.write_mode,
            truncate=plan.truncate,
            options=plan.writer_options,
        )
    _table_event(dumpset, plan, "IMPORT", "DONE", departitioned=len(part_dirs))
    return TableResult(
        plan, ok=True, detail={"departitioned_tables": len(part_dirs)}
    )


# -- account ---------------------------------------------------------------


def _account_export(
    spark: SparkSession,
    dumpset: DumpSet,
    plan: TablePlan,
    schema,
    out_dir: str,
    pre_files: set,
    run_rows: int,
    n_before_dedup: int | None,
    enc_detail: dict[str, Any] | None,
) -> dict[str, Any]:
    """Account stage (EXPORT): the table's manifest detail. Manifest
    fields stay cumulative (they describe the dump set); the caller's
    TABLE_EXPORT_DONE event reports this run's delta so CDC
    status/metrics aren't inflated by prior increments."""
    detail: dict[str, Any] = {
        "spark_schema": schema.json(),
        "codec": plan.codec,
        "dump_format": plan.dump_format,
    }
    if enc_detail:
        detail["encryption"] = enc_detail
    if plan.filesize_bytes:
        detail["filesize"] = {
            "target_bytes": plan.filesize_bytes,
            "max_file_bytes": _max_data_file_bytes(out_dir),
        }
    if plan.dedup_keep_best:
        key, score, tie = plan.dedup_keep_best
        # best-effort on live (non-snapshot) sources — see the count
        # note in export_table; never negative in the manifest
        rows_dropped = max(0, int(n_before_dedup - run_rows))
        detail["dedup_keep_best"] = {
            "key": key,
            "score": score,
            "tiebreak": tie,
            "rows_dropped": rows_dropped,
        }
        _table_event(
            dumpset, plan, "EXPORT", "DEDUPED", key=key, rows_dropped=rows_dropped
        )
    if plan.source_type:
        # VIEWS_AS_TABLES provenance: the dump holds materialized
        # rows; the importer treats it as an ordinary table
        detail["source_type"] = plan.source_type
    if not plan.partition_by:
        # snapshot tracking (time travel): remember which data files
        # each export run added, so IMPORT ... AS_OF_VERSION(n) can read
        # the dump as of any earlier run by file list alone — the
        # Delta/Iceberg snapshot idea expressed with nothing but the
        # manifest. Flat layouts only (a hive-partitioned dump nests its
        # files per leaf; version it by partition instead). An overwrite
        # replaces every file, so its history resets.
        prev = list(plan.snapshots or []) if plan.incremental_append else []
        if plan.incremental_append and not prev and pre_files:
            # Snapshot history is starting MID-DUMP (the existing
            # files were written before tracking, e.g. a pre-snapshot
            # manifest). They must belong to a version or
            # AS_OF_VERSION at ANY version — latest included — would
            # silently drop the whole base table (round-9 advisor
            # finding): seed them as version 1 and let this run's
            # delta become version 2.
            prev = [{"version": 1, "files": sorted(pre_files)}]
        added = sorted(_part_names(out_dir) - pre_files)
        detail["snapshots"] = prev + [{"version": len(prev) + 1, "files": added}]
    if plan.incremental_append:
        detail["rows_this_run"] = run_rows
    if plan.incremental_column is not None:
        # new watermark from the dump itself (no extra source scan);
        # recorded schema keeps text formats typed on the read-back,
        # and CSV's multiLine read keeps a split quoted row from
        # mis-parsing a fragment into the watermark column (which
        # would silently skip rows next run)
        wm_row = (
            _dump_reader(spark, plan.dump_format, schema)
            .load(out_dir)
            .agg(F.max(plan.incremental_column))
            .collect()
        )[0]
        detail["incremental_column"] = plan.incremental_column
        detail["watermark"] = wm_row[0]
    if plan.checksum_algorithm:
        # CHECKSUM (Oracle DP 21c): per-file digests, executor-side
        # fan-out — recorded over the WHOLE table dir so incremental
        # appends refresh the full integrity map
        digests = dumpset.file_digests(spark, out_dir, plan.checksum_algorithm)
        detail["checksums"] = {
            "algorithm": plan.checksum_algorithm,
            "files": digests,
        }
        dumpset.log_event(
            "TABLE_CHECKSUM_RECORDED",
            table=plan.source_key,
            algorithm=plan.checksum_algorithm,
            n_files=len(digests),
        )
    return detail


def _hashable_expr(col, dt):
    """Rewrite a column into an xxhash64-hashable, deterministic form.
    Spark refuses to hash MAP values (same map, different hashcodes), so
    every map — at any nesting depth — becomes its entry array sorted by
    key: unique keys make the sort total, so equal maps always produce
    equal arrays. Structs/arrays recurse; everything else passes through."""
    if isinstance(dt, MapType):
        entries = F.map_entries(col)
        if dtype_has_map(dt.valueType):
            # canonicalize nested maps BEFORE sorting — maps are not
            # orderable, so the sort must see only hashable structs
            entries = F.transform(
                entries,
                lambda e: F.struct(
                    e["key"].alias("key"),
                    _hashable_expr(e["value"], dt.valueType).alias("value"),
                ),
            )
        return F.array_sort(entries)
    if isinstance(dt, StructType):
        if not dtype_has_map(dt):
            return col
        return F.struct(
            *(
                _hashable_expr(col[f.name], f.dataType).alias(f.name)
                for f in dt.fields
            )
        )
    if isinstance(dt, ArrayType):
        if not dtype_has_map(dt.elementType):
            return col
        return F.transform(
            col, lambda e: _hashable_expr(e, dt.elementType)
        )
    return col


def _row_hash(df):
    """The fingerprint's per-row hash: xxhash64 over all columns, sorted
    by name so projection order can't change the value, map columns
    canonicalized via _hashable_expr."""
    dtypes = dict(zip(df.schema.names, (f.dataType for f in df.schema.fields)))
    cols = (_hashable_expr(F.col(c), dtypes[c]) for c in sorted(df.columns))
    return F.xxhash64(*cols)


def _fingerprint_exprs(df) -> list:
    """The fingerprint's two aggregates over ``df``: ``n`` (row count)
    and ``d`` (XOR of ``_row_hash``)."""
    return [F.count(F.lit(1)).alias("n"), F.bit_xor(_row_hash(df)).alias("d")]


def _fingerprint_value(row) -> tuple[int, str]:
    """(rows, digest) from a row of ``_fingerprint_exprs``; the digest of
    an empty table (a null XOR) is "0"."""
    d = row["d"]
    return int(row["n"]), str(0 if d is None else int(d))


def table_fingerprint(df) -> tuple[int, str]:
    """Order-independent target-table content fingerprint for transfer/
    import resume: row COUNT + XOR of per-row xxhash64 over all columns.
    One distributed scan, two scalars to the driver — the transfer
    analog of the dump's CHECKSUM digest map (there is no dump file to
    digest)."""
    return _fingerprint_value(df.select(*_fingerprint_exprs(df)).first())


def _local_fingerprint(spark: SparkSession, arrow, schema: StructType) -> tuple[int, str]:
    """``table_fingerprint`` of a driver-held Arrow table, with no Spark
    job: over a LocalRelation the row hashes are a projection the
    optimizer evaluates itself (ConvertToLocalRelation), so collecting
    them runs none, and the XOR is taken here."""
    df = spark.createDataFrame(arrow, schema)
    hashes = [r[0] for r in df.select(_row_hash(df)).collect()]
    d = functools.reduce(operator.xor, hashes, 0)
    return _fingerprint_value({"n": len(hashes), "d": d})


def _fingerprint_done(
    spark: SparkSession,
    connector: Connector,
    dumpset: DumpSet,
    plan: TablePlan,
    operation: str,
    rows: int | None = None,
    observed: tuple[int, str] | None = None,
) -> tuple[int, str]:
    """Account tail shared by IMPORT and TRANSFER (START_JOB parity):
    record the TARGET's post-load fingerprint in TABLE_<op>_DONE so
    Job.restart() can digest-verify and skip this table wholesale (there
    is no NEW dump file to checksum; the master-table analog must
    describe the target). ``observed`` is the fingerprint the sink took
    of a created or replaced target as it wrote it; without it, one
    count+xxhash64 aggregate reads the just-written table back — at
    100 TB the price of resuming a stopped multi-hour import instead of
    re-running it. ``rows`` (what STATUS shows) is the dump's row count
    on IMPORT; TRANSFER reports the target's."""
    if observed is not None:
        t_rows, t_digest = observed
    else:
        t_rows, t_digest = table_fingerprint(
            connector.read_table(spark, plan.target_schema, plan.target_table)
        )
    _table_event(
        dumpset, plan, operation, "DONE",
        rows=t_rows if rows is None else rows,
        target_rows=t_rows,
        target_digest=t_digest,
    )
    return t_rows, t_digest


def _skip(dumpset: DumpSet, plan: TablePlan, operation: str, why: str) -> TableResult:
    """A table that moves no rows: TABLE_<op>_<why>, then its DONE."""
    _table_event(dumpset, plan, operation, why)
    _table_event(dumpset, plan, operation, "DONE", rows=0)
    return TableResult(plan, ok=True, rows=0, skipped=True)


# -- per-table chains ------------------------------------------------------


def export_table(
    spark: SparkSession,
    connector: Connector,
    dumpset: DumpSet,
    plan: TablePlan,
    left: dict[str, Any],
) -> TableResult:
    """EXPORT one table: read → row transforms → layout → dump sink →
    account. A small table from a driver-resident source takes the Arrow
    lane instead: fetched as Arrow, written by pyarrow, with no Spark
    job. ``left["published"]`` is set once the sink has replaced the
    table dir, so a table that fails after it is known to hold a copy
    its manifest entry does not describe."""
    if not plan.data_included:
        # metadata-only export: record schema, move no rows
        df = connector.read_table(
            spark, plan.schema, plan.table, columns=plan.columns
        )
        _table_event(
            dumpset, plan, "EXPORT", "METADATA_ONLY", schema_json=df.schema.json()
        )
        # METADATA_ONLY is not a state event (status.replay folds only
        # _START/_DONE/_ERROR/_NOT_RUN): without a _DONE the table stays
        # EXECUTING in STATUS and restart() exports it again
        _table_event(dumpset, plan, "EXPORT", "DONE", rows=0, bytes=0)
        return TableResult(
            plan, ok=True, rows=0, bytes=0, files=0,
            detail={"spark_schema": df.schema.json(), "metadata_only": True},
        )
    out_dir = dumpset.table_dir(plan.schema, plan.table)
    pre_files = _part_names(out_dir) if not plan.partition_by else set()
    # Snapshot footer counts before an append so TABLE_EXPORT_DONE
    # reports THIS run's delta, not the cumulative dump (CDC runs).
    prev_rows = prev_size = 0
    if plan.incremental_append and os.path.isdir(out_dir):
        prev_rows, prev_size, _ = _count_dump_rows(
            out_dir, plan.dump_format, spark
        )
    arrow = _source_arrow(connector, plan)
    n_before_dedup = enc_detail = None
    if arrow is not None and _small(spark, arrow.num_rows, arrow.nbytes):
        schema = _write_dump_arrow(spark, plan, arrow, out_dir)
        left["published"] = True
        rows, size, nfiles = _count_dump_rows(out_dir)
    else:
        df, pre_dedup = _transform_rows(
            _read_source(spark, connector, dumpset, plan)
            if arrow is None
            else arrow_frame(spark, arrow, plan.parallel),
            plan,
        )
        # The pre-dedup count is a column-pruned count-star so the
        # recorded drop is attributable. It is a SECOND scan of the same
        # plan: exact for snapshot-stable sources (parquet, as-of reads);
        # on a live RDBMS source rows can change between the count and
        # the write, so the manifest rows_dropped is best-effort there.
        n_before_dedup = None if pre_dedup is None else pre_dedup.count()
        df = _layout(df, plan)
        rows, size, nfiles, enc_detail = _write_dump(
            spark, dumpset, plan, df, out_dir, left
        )
        schema = df.schema
    detail = _account_export(
        spark, dumpset, plan, schema, out_dir, pre_files,
        rows - prev_rows, n_before_dedup, enc_detail,
    )
    _table_event(
        dumpset, plan, "EXPORT", "DONE",
        rows=rows - prev_rows,
        bytes=size - prev_size,
        cumulative_rows=rows,
    )
    return TableResult(
        plan, ok=True, rows=rows, bytes=size, files=nfiles, detail=detail
    )


def import_table(
    spark: SparkSession,
    connector: Connector,
    dumpset: DumpSet,
    plan: TablePlan,
    config: PlanConfig,
) -> TableResult:
    """IMPORT one table: the dump checked against its manifest entry →
    dump read → import sink → account. A small dump into a
    driver-resident target takes the Arrow lane: read by pyarrow,
    written as Arrow and fingerprinted with no Spark job."""
    src_dir = dumpset.table_dir(plan.schema, plan.table)
    if not os.path.isdir(src_dir):
        # metadata-only entry in the dump set — nothing to load
        return _skip(dumpset, plan, "IMPORT", "SKIP_NO_DATA")
    if plan.write_mode == "ignore" and connector.table_exists(
        plan.target_schema, plan.target_table
    ):
        return _skip(dumpset, plan, "IMPORT", "SKIP_EXISTS")
    tmeta = _table_meta(dumpset, plan)
    if config.verify_checksum or config.verify_only:
        _verify_dump_checksums(spark, dumpset, plan, src_dir, tmeta)
    if config.verify_only:
        # VERIFY_ONLY (Oracle DP 21c): integrity audit of the dump,
        # zero rows loaded — the target catalog is untouched
        return _skip(dumpset, plan, "IMPORT", "VERIFY_ONLY")
    fmt = _sniff_dump_format(src_dir)
    rows, size, nfiles = check_dump(spark, plan, src_dir, fmt, tmeta)
    # MERGE/NONE partition options fall through — Spark unions
    # partition dirs natively.
    if config.partition_options == "DEPARTITION":
        res = _departition(spark, connector, dumpset, plan, src_dir, fmt)
        if res is not None:
            return res
    lane = _read_dump_arrow(spark, connector, plan, config, src_dir, fmt, tmeta)
    if lane is not None:
        arrow, schema = lane
        created = connector.write_table(
            arrow, plan.target_schema, plan.target_table,
            mode=plan.write_mode, options=plan.writer_options,
        )
        observed = _local_fingerprint(spark, arrow, schema) if created else None
    else:
        df = _read_dump(spark, plan, config, src_dir, fmt, tmeta)
        df, observed = _write_import_df(spark, connector, dumpset, plan, config, df)
    if config.validate_table_data:
        # VALIDATE_TBL_DATA (reference DATA_OPTIONS bit,
        # directives.py:227-238): post-write row-count verify. A
        # QUERY predicate legitimately imports FEWER rows than the
        # dump holds — verify against the filtered frame's count in
        # that case, not the dump total (which would fail every
        # correct filtered import).
        written = connector.read_table(
            spark, plan.target_schema, plan.target_table
        ).count()
        expect = df.count() if plan.predicate is not None else rows
        if (
            plan.write_mode not in ("append", "merge")
            and expect is not None
            and written != expect
        ):
            raise RuntimeError(
                f"VALIDATE_TBL_DATA: wrote {written} rows, expected {expect}"
            )
    t_rows, t_digest = _fingerprint_done(
        spark, connector, dumpset, plan, "IMPORT", rows=rows, observed=observed
    )
    return TableResult(
        plan,
        ok=True,
        rows=rows,
        bytes=size,
        files=nfiles,
        detail={"target_rows": t_rows, "target_digest": t_digest},
    )


def transfer_table(
    spark: SparkSession,
    connector: Connector,
    dumpset: DumpSet,
    plan: TablePlan,
    config: PlanConfig,
) -> TableResult:
    """NETWORK_LINK: one table read from the SOURCE connector
    (``plan.src_connector``) and piped into the target ``connector``
    by the import write half — no dump file ever touches disk
    (Oracle's impdp NETWORK_LINK contract). The dump set participates
    only as the event log / manifest. Source-side semantics match an
    export scan (as-of, pushed predicate/columns, and the same row
    transforms: SAMPLE, DEDUP_KEEP_BEST, REMAP_DATA); target-side
    semantics match an import (_write_import_df: exists action, MERGE
    family, schema evolution). At 100 TB this halves the I/O of a
    migrate (one read + one write instead of read + dump write + dump
    read + write). Restartability: each completed table records a
    target-side fingerprint (table_fingerprint) in the manifest, so a
    stopped multi-hour transfer resumes via Job.restart() — verified
    targets are skipped, dropped/tampered ones re-transferred."""
    if plan.write_mode == "ignore" and connector.table_exists(
        plan.target_schema, plan.target_table
    ):
        return _skip(dumpset, plan, "TRANSFER", "SKIP_EXISTS")
    df, _ = _transform_rows(
        _read_source(spark, plan.src_connector, dumpset, plan), plan
    )
    _, observed = _write_import_df(spark, connector, dumpset, plan, config, df)
    rows, digest = _fingerprint_done(
        spark, connector, dumpset, plan, "TRANSFER", observed=observed
    )
    return TableResult(
        plan,
        ok=True,
        rows=rows,
        detail={"network_link": True, "target_digest": digest},
    )


def run_plans(
    spark: SparkSession,
    connector: Connector,
    dumpset: DumpSet,
    plans: list[TablePlan],
    config: PlanConfig,
    operation: str,
    stop_event: threading.Event | None = None,
) -> EngineResult:
    """Execute table plans under a thread pool of size ≤ PARALLEL.

    Concurrent driver threads submitting independent Spark actions is the
    sanctioned pattern for many-small-tables jobs; within each table the
    partitioned read/write supplies intra-table parallelism. Threads are
    safe here: SparkSession is thread-safe for action submission.

    ``stop_event`` is the STOP_JOB analog (reference status.py:32-47
    models STOP_PENDING/STOPPING/STOPPED; Oracle's public contract is a
    cooperative stop at a work-item boundary): when set, tables that have
    not yet STARTED are recorded as not-run (TABLE_<op>_NOT_RUN events,
    which STATUS lists as NOT_RUN workers until a restart runs them) and
    the result state is STOPPED. In-flight tables always complete — a
    table is the atomic unit of restartability, and every table-dir write
    is a ``staged`` commit, so the dump set only ever holds whole tables
    (a failed write leaves the previous copy or none, and ``Job._plan``
    recovers a commit a crash cut off) and ``Job.restart`` can skip them
    wholesale.
    """
    workers = max(1, min(config.parallel, len(plans) or 1))
    results: list[TableResult] = []
    stop_logged = threading.Lock()
    stop_seen = [False]

    def _one(p: TablePlan) -> TableResult:
        """Table-boundary stop check, then the table: runs at each plan's
        start in both the sequential and the thread-pool path."""
        if stop_event is None or not stop_event.is_set():
            return _run_one(spark, connector, dumpset, p, config, operation)
        with stop_logged:
            if not stop_seen[0]:
                stop_seen[0] = True
                dumpset.log_event("JOB_STOPPING", next_table=p.source_key)
        _table_event(dumpset, p, operation, "NOT_RUN")
        return TableResult(p, ok=True, skipped=True, detail={"not_run": True})

    # Imports execute in topo waves (parents before children — the FK
    # ordering Oracle provides implicitly); exports have a single wave.
    waves: dict[int, list[TablePlan]] = {}
    for p in plans:
        waves.setdefault(p.topo_level, []).append(p)
    for level in sorted(waves):
        wave = waves[level]
        if workers == 1 or len(wave) == 1:
            results.extend(_one(p) for p in wave)
        else:
            with cf.ThreadPoolExecutor(max_workers=workers) as pool:
                results.extend(pool.map(_one, wave))
    if stop_seen[0]:
        state = JobState.STOPPED
    elif any(not r.ok and not r.detail.get("not_run") for r in results):
        state = JobState.COMPLETED_WITH_ERRORS
    else:
        state = JobState.COMPLETED
    return EngineResult(state=state, tables=results)


def _run_one(
    spark: SparkSession,
    connector: Connector,
    dumpset: DumpSet,
    plan: TablePlan,
    config: PlanConfig,
    operation: str,
) -> TableResult:
    """One table under the TABLE_<op>_START / TABLE_<op>_ERROR wrapper.
    The per-table functions are looked up in module globals on every
    call, so a wrapper patched over them sees each table. A failed
    table's result detail is what it left on disk: ``published`` when an
    EXPORT replaced the table dir before failing."""
    _table_event(dumpset, plan, operation, "START")
    left: dict[str, Any] = {}
    try:
        if operation == "EXPORT":
            return export_table(spark, connector, dumpset, plan, left)
        if operation == "TRANSFER":
            return transfer_table(spark, connector, dumpset, plan, config)
        return import_table(spark, connector, dumpset, plan, config)
    except Exception as e:
        _table_event(dumpset, plan, operation, "ERROR", error=str(e))
        if operation == "IMPORT" and config.skip_constraint_errors:
            # SKIP_CONST_ERR: continue-on-error, count it
            # (reference DATA_OPTIONS, directives.py:227-238)
            return TableResult(plan, ok=False, error=str(e))
        return TableResult(
            plan, ok=False, error=f"{e}\n{traceback.format_exc()}", detail=left
        )
