"""Directive DSL.

Parity reference: /root/reference/src/oracledb_datapump/directives.py (694
LoC). The reference compiles directives into DBMS_DATAPUMP proc calls
(METADATA_FILTER :122-134, SET_PARAMETER :202-216, METADATA_REMAP :434-446,
METADATA_TRANSFORM :485-496, SET_PARALLEL :400-409). Here each directive
compiles into a ``PlanConfig`` — the declarative input to the planner:
catalog predicates, DataFrameReader/Writer options, identifier-rewrite maps
and post-job actions.

Registry pattern mirrors the reference (``__init_subclass__`` registry,
directives.py:37-41; ``Directive.NAME`` attribute lookup via metaclass,
:631-642), so the JSON protocol can instantiate directives by name.

Enum-valued parameters keep the reference's ergonomic singleton form
(``Compression.ALL`` — directives.py:52-63,223-224).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime
from typing import Any, ClassVar

from .base import Stage
from .exceptions import InvalidDirective, InvalidObjectType, UsageError
from .util import coerce_bool, parse_dt

# ---------------------------------------------------------------------------
# Object-type registry (replaces Oracle dictionary views
# DATABASE_EXPORT_OBJECTS / SCHEMA_EXPORT_OBJECTS / TABLE_EXPORT_OBJECTS —
# reference directives.py:589-610, sql.py:19-37).
# ---------------------------------------------------------------------------

OBJECT_TYPES_BY_MODE: dict[str, frozenset[str]] = {
    "FULL": frozenset(
        {"SCHEMA", "USER", "TABLE", "TABLE_DATA", "VIEW", "INDEX", "GRANT",
         "CONSTRAINT", "STATISTICS", "PROCEDURE", "FUNCTION", "SEQUENCE"}
    ),
    "SCHEMA": frozenset(
        {"USER", "TABLE", "TABLE_DATA", "VIEW", "INDEX", "GRANT",
         "CONSTRAINT", "STATISTICS", "PROCEDURE", "FUNCTION", "SEQUENCE"}
    ),
    "TABLE": frozenset(
        {"TABLE", "TABLE_DATA", "INDEX", "GRANT", "CONSTRAINT", "STATISTICS"}
    ),
    "TABLESPACE": frozenset({"TABLE", "TABLE_DATA", "INDEX", "CONSTRAINT"}),
    "TRANSPORTABLE": frozenset({"TABLE", "TABLE_DATA"}),
}


def validate_object_type(mode: str, object_type: str) -> str:
    """Reject invalid object types, error carrying the valid list
    (reference directives.py:613-625, exceptions.py:4-11)."""
    valid = OBJECT_TYPES_BY_MODE.get(mode, OBJECT_TYPES_BY_MODE["SCHEMA"])
    ot = object_type.upper()
    if ot not in valid:
        raise InvalidObjectType(object_type, sorted(valid))
    return ot


# ---------------------------------------------------------------------------
# PlanConfig — what directives compile into.
# ---------------------------------------------------------------------------


@dataclass
class PlanConfig:
    """Declarative job configuration, consumed by the planner/engine."""

    # filters (metadata/object-level — reference §2.2)
    include_schemas: list[str] = field(default_factory=list)
    include_tables: list[str] = field(default_factory=list)
    views_as_tables: list[str] = field(default_factory=list)
    exclude_object_types: set[str] = field(default_factory=set)
    include_object_types: set[str] | None = None
    # row-level extension (reference lacks QUERY wrapping; SURVEY.md §2.2)
    table_predicates: dict[str, str] = field(default_factory=dict)
    table_columns: dict[str, list[str]] = field(default_factory=dict)
    table_partition_by: dict[str, str] = field(default_factory=dict)
    # TABLE:PARTITION scope (Oracle TABLES syntax): table -> 'col=value'
    table_partition_scope: dict[str, list[str]] = field(default_factory=dict)
    table_sort_by: dict[str, str] = field(default_factory=dict)
    table_zorder_by: dict[str, str] = field(default_factory=dict)
    table_merge_key: dict[str, str] = field(default_factory=dict)
    table_remap_data: dict[str, list[tuple[str, str]]] = field(
        default_factory=dict
    )
    # SAMPLE: table -> (ppm, column). A dedicated plan field (like
    # remap_data), NOT a table_predicates entry: predicates are embedded
    # verbatim into remote SQL by the DuckDB/JDBC connectors, and the
    # sample hash is Spark-dialect (CONV/SUBSTRING/md5) — pushing it
    # would fail at bind time or sample divergently per engine.
    table_sample: dict[str, tuple[int, str]] = field(default_factory=dict)
    # DEDUP_KEEP_BEST: table -> (key, score, tiebreak). Engine-side like
    # SAMPLE/REMAP_DATA — the keep-best window is Spark-dialect and must
    # never be pushed into remote connector SQL.
    table_dedup_keep_best: dict[str, tuple[str, str, str]] = field(
        default_factory=dict
    )
    table_merge_order: dict[str, str] = field(default_factory=dict)
    table_merge_delete_col: dict[str, str] = field(default_factory=dict)
    table_merge_prune: dict[str, bool] = field(default_factory=dict)
    incremental_columns: dict[str, str] = field(default_factory=dict)

    # parallelism
    parallel: int = 1  # reference default job.py:136-140

    # dump-set physical options
    compression: str = "METADATA_ONLY"
    compression_algorithm: str = "BASIC"
    dump_format: str = "PARQUET"
    encryption: dict[str, str] = field(default_factory=dict)
    # FILESIZE (public Oracle DP parameter the reference never wraps):
    # target bytes per dump part-file; None = Spark's natural splits
    filesize: int | None = None
    # NETWORK_LINK (public Oracle DP parameter): source connection URI
    # for a direct connector→connector IMPORT, no dump materialized
    network_link: str | None = None
    # REUSE_DUMPFILES (public Oracle DP parameter, default NO): permit
    # an EXPORT to overwrite a table dir that already holds data files
    reuse_dumpfiles: bool = False

    # estimation / dry-run
    estimate: str | None = None
    estimate_only: bool = False

    # integrity (Oracle DP 21c CHECKSUM family)
    checksum: bool = False
    checksum_algorithm: str = "SHA256"
    verify_checksum: bool = False
    verify_only: bool = False

    # snapshot
    flashback_scn: int | None = None
    flashback_time: datetime | None = None

    # import behavior
    as_of_version: int | None = None  # time-travel read of a snapshot-tracked dump
    table_exists_action: str = "SKIP"  # Oracle default for import w/o CONTENT
    partition_options: str = "NONE"
    data_options: set[str] = field(default_factory=set)
    skip_constraint_errors: bool = False
    validate_table_data: bool = False
    allow_schema_evolution: bool = False

    # metadata
    include_metadata: bool = True

    # remaps
    remap_schema: dict[str, str] = field(default_factory=dict)
    remap_tablespace: dict[str, str] = field(default_factory=dict)
    remap_datafile: dict[str, str] = field(default_factory=dict)

    # accepted-and-recorded knobs with no Spark behavior (SURVEY.md §7.4)
    recorded_noops: dict[str, Any] = field(default_factory=dict)

    # post-stage actions
    delete_files_after: bool = False

    # observability
    logtime: str = "NONE"
    metrics: bool = False
    client_command: str | None = None
    keep_master: bool = False

    # -- derived Spark options -------------------------------------------
    def parquet_codec(self) -> str:
        """COMPRESSION × COMPRESSION_ALGORITHM → parquet codec
        (SURVEY.md P2/P3 mapping)."""
        if self.compression in ("NONE", "METADATA_ONLY"):
            return "uncompressed"
        # DATA_ONLY / ALL
        return {
            "BASIC": "snappy",
            "LOW": "lz4",
            "MEDIUM": "zstd",
            "HIGH": "gzip",
        }.get(self.compression_algorithm, "snappy")

    def write_mode(self) -> tuple[str, bool]:
        """TABLE_EXISTS_ACTION → (spark write mode, truncate flag)
        (reference directives.py:372-376; SURVEY.md P9 mapping)."""
        action = self.table_exists_action.upper()
        return {
            "TRUNCATE": ("overwrite", True),
            "REPLACE": ("overwrite", False),
            "APPEND": ("append", False),
            "SKIP": ("ignore", False),
            # upsert-by-key extension (needs MERGE_KEY); engine resolves
            # to a newest-wins rewrite
            "MERGE": ("merge", False),
        }.get(action, ("error", False))

    def as_of_marker(self) -> str | None:
        if self.flashback_scn is not None:
            return f"SCN({self.flashback_scn})"
        if self.flashback_time is not None:
            return f"TS({self.flashback_time.isoformat()})"
        return None


# ---------------------------------------------------------------------------
# Directive base + registry
# ---------------------------------------------------------------------------


class _DirectiveMeta(type):
    """``Directive.SOME_NAME`` attribute lookup resolves registry entries,
    mirroring the reference's ClassGetAttr metaclass (directives.py:631-642)."""

    def __getattr__(cls, item: str):
        reg = DirectiveBase.registry
        if item in reg:
            return reg[item]
        raise AttributeError(item)


class DirectiveBase(metaclass=_DirectiveMeta):
    """Root of the directive hierarchy (reference directives.py:30-49)."""

    registry: ClassVar[dict[str, type["DirectiveBase"]]] = {}
    NAME: ClassVar[str] = ""
    STAGE: ClassVar[Stage] = Stage.DATAPUMP

    def __init_subclass__(cls, name: str | None = None, **kw):
        super().__init_subclass__(**kw)
        if name:
            cls.NAME = name
            DirectiveBase.registry[name] = cls

    def apply(self, config: PlanConfig) -> None:
        raise NotImplementedError

    def to_dict(self) -> dict[str, Any]:
        raise NotImplementedError

    def __repr__(self) -> str:  # pragma: no cover
        return f"{type(self).__name__}({self.to_dict()})"

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "DirectiveBase":
        """JSON directive form {"name","value","old_value"?,"object_path"?}
        (reference request.py:31-51)."""
        name = d.get("name", "")
        cls = DirectiveBase.registry.get(str(name).upper())
        if cls is None:
            raise InvalidDirective(f"Unknown directive {name!r}")
        kwargs = dict(d.get("kwargs") or {})
        if issubclass(cls, Remap):
            return cls(old_value=d["old_value"], value=d["value"], **kwargs)
        if issubclass(cls, Filter):
            return cls(d.get("value"), object_path=d.get("object_path"), **kwargs)
        if issubclass(cls, (Parameter, Transform)):
            return cls(d.get("value"), **kwargs)
        return cls(**kwargs)  # Extras take no value


# -- Filters (reference directives.py:88-180) -------------------------------


class Filter(DirectiveBase):
    STAGE = Stage.DATAPUMP

    def __init__(self, value: Any, object_path: str | None = None):
        self.value = value
        self.object_path = object_path

    def to_dict(self) -> dict[str, Any]:
        d: dict[str, Any] = {"name": self.NAME, "value": self.value}
        if self.object_path:
            d["object_path"] = self.object_path
        return d


class IncludeSchema(Filter, name="INCLUDE_SCHEMA"):
    """SCHEMA_EXPR IN ('NAME'); repeatable (reference directives.py:148-164)."""

    def apply(self, config: PlanConfig) -> None:
        config.include_schemas.append(str(self.value))


class IncludeTable(Filter, name="INCLUDE_TABLE"):
    """NAME_EXPR IN ('NAME'), object_path=TABLE (reference directives.py:167-180).

    Partition scope: Oracle's TABLES syntax accepts ``TABLE:PARTITION``
    (export one named partition as the job scope — utilities guide,
    expdp TABLES). The hive analog of a partition name is the leaf
    directory ``col=value``, so ``INCLUDE_TABLE('orders:o_pri=HIGH')``
    scopes the job to that leaf: the scan reads ONLY the named
    partition's files (connector-level file pruning, evidenced in the
    TABLE_EXPORT_PARTITION_SCOPED event) and composes with
    EXPORT_PARTITION_BY on export and PARTITION_OPTIONS on import."""

    def apply(self, config: PlanConfig) -> None:
        v = str(self.value)
        if ":" in v:
            table, _, part = v.partition(":")
            if "=" not in part:
                raise InvalidDirective(
                    f"INCLUDE_TABLE partition scope {part!r} must be the "
                    "hive leaf form 'column=value' (the partition-name "
                    "analog of Oracle's TABLE:PARTITION)"
                )
            if table not in config.include_tables:
                config.include_tables.append(table)
            # Oracle's TABLES syntax accepts several partitions of ONE
            # table — TABLES=(t:p1,t:p2) — so the scope is a LIST of
            # leaves; overwriting on the second mention would silently
            # drop p1 from the dump while the job reports COMPLETED.
            scopes = config.table_partition_scope.setdefault(table, [])
            if part not in scopes:
                scopes.append(part)
        else:
            config.include_tables.append(v)


class ViewsAsTables(Filter, name="VIEWS_AS_TABLES"):
    """Materialize named source VIEWS as exported tables — the public
    Oracle Data Pump VIEWS_AS_TABLES parameter (the reference does not
    implement it; extension for connectors with view catalogs). Value:
    comma-separated view names; each must exist in a selected schema
    (connector.list_views) or the job fails at plan time, matching
    Oracle's ORA-31655 posture. The importer sees an ordinary table."""

    def apply(self, config: PlanConfig) -> None:
        config.views_as_tables.extend(
            v.strip() for v in str(self.value).split(",") if v.strip()
        )


class ExcludeObjectType(Filter, name="EXCLUDE_OBJECT_TYPE"):
    """Drop an object class from the job (reference directives.py:137-145).
    Excluding TABLE ⇒ metadata-only export (reference tests/test_export.py:43-46)."""

    mode_for_validation: ClassVar[str] = "SCHEMA"

    def apply(self, config: PlanConfig) -> None:
        config.exclude_object_types.add(
            validate_object_type(self.mode_for_validation, str(self.value))
        )


class Query(Filter, name="QUERY"):
    """Row-level predicate per table — extension beyond the reference
    (SURVEY.md §2.2: Data Pump QUERY is not wrapped there). value is the
    predicate; object_path is the table name (empty = all tables)."""

    def apply(self, config: PlanConfig) -> None:
        config.table_predicates[self.object_path or "*"] = str(self.value)


class Columns(Filter, name="COLUMNS"):
    """Column projection per table — extension (SURVEY.md §2.2)."""

    def apply(self, config: PlanConfig) -> None:
        cols = self.value if isinstance(self.value, list) else str(self.value).split(",")
        config.table_columns[self.object_path or "*"] = [c.strip() for c in cols]


class Sample(Filter, name="SAMPLE"):
    """Deterministic row sampling at export — Oracle Data Pump's SAMPLE
    parameter (percentage per table), re-expressed reproducibly:
    value = '<ppm>:<column>' keeps rows where the cross-engine
    md5-derived hash64 of the column, mod 1e6, falls below ppm. No RNG,
    no partition-layout sensitivity (unlike DataFrame.sample), the same
    rows on every engine and every run — which is what makes a sampled
    export auditable. Fills a dedicated plan field (``table_sample``,
    applied by the engine after ``connector.read_table`` — the same slot
    REMAP_DATA uses) rather than the QUERY pushdown predicate: QUERY
    strings are embedded verbatim into remote connector SQL, and the
    Spark-dialect hash (CONV/SUBSTRING/md5) would fail to bind on
    DuckDB/Oracle or, worse, sample a different row set per engine.
    NULL policy (explicit): rows whose sample column is NULL are
    EXCLUDED from the sample — a NULL key cannot hash deterministically,
    and silently including it would make the sample irreproducible
    under REMAP/schema evolution. Use COALESCE in a QUERY directive
    first if NULL-keyed rows must be kept."""

    def apply(self, config: PlanConfig) -> None:
        val = str(self.value)
        if ":" not in val:
            raise UsageError(
                "SAMPLE value must be '<ppm>:<column>' (the column makes "
                f"the sample deterministic), got {val!r}"
            )
        ppm_s, col = (p.strip() for p in val.split(":", 1))
        try:
            ppm = int(ppm_s)
        except ValueError:
            raise UsageError(f"SAMPLE ppm must be an integer, got {ppm_s!r}")
        if not 0 < ppm < 1_000_000:
            raise UsageError(
                f"SAMPLE ppm must be in (0, 1000000), got {ppm}"
            )
        if not col:
            raise UsageError("SAMPLE requires a non-empty column name")
        config.table_sample[self.object_path or "*"] = (ppm, col)


class RemapData(Filter, name="REMAP_DATA"):
    """Rewrite a column's values through a registered deterministic
    transform during export — Oracle Data Pump's REMAP_DATA parameter
    (unwrapped by the reference; its remap registry stops at
    REMAP_DATAFILE, reference directives.py:440-470), re-expressed
    Spark-first: the "function" is a named row-local Column expression
    from ``functions/remap_data.REMAP_FUNCTIONS`` (hash_mask = joinable
    'anon_<hash64>' pseudonymization, null_out = typed redaction), each
    with a DuckDB SQL twin so the lifecycle is provable under the
    cross-engine hash. value = '<column>:<function>'; object_path = the
    table ('*' = all tables); repeat the directive for multiple
    columns. Unknown functions fail at submit time."""

    def apply(self, config: PlanConfig) -> None:
        from .functions.remap_data import parse_remap

        config.table_remap_data.setdefault(
            self.object_path or "*", []
        ).append(parse_remap(str(self.value)))


class DedupKeepBest(Filter, name="DEDUP_KEEP_BEST"):
    """Deduplicate rows during export, keeping the best row per key —
    the export-path composition of the repo's two pillars (r10 verdict
    ask #8): the keep-best dedup policy (operators/pipeline.py
    ``dedup_keep_best`` — longest/highest-scoring member of each
    duplicate group ships, the rest drop) applied as a plan-time
    directive in the REMAP_DATA registry pattern.

    value = '<key>:<score>:<tiebreak>'; object_path = the table
    ('*' = all tables). Per distinct ``key``, the exported dump keeps
    exactly one row: the greatest ``score`` wins, ties broken by the
    SMALLEST ``tiebreak`` (the explicit tiebreak keeps the survivor set
    deterministic — and therefore auditable/oracle-recomputable — even
    when scores collide; it is required, not optional, for that
    reason). NULL keys group together per SQL semantics. The engine
    applies the window AFTER the pushed-down scan and any SAMPLE, and
    BEFORE REMAP_DATA rewrites; the manifest records ``rows_dropped``
    and a TABLE_EXPORT_DEDUPED event fires, so the drop is a logged,
    attributable pipeline decision rather than silent data loss. At
    100 TB this is one shuffle on the dedup key — the same cost class
    as the import-side MERGE."""

    def apply(self, config: PlanConfig) -> None:
        parts = [p.strip() for p in str(self.value).split(":")]
        if len(parts) != 3 or not all(parts):
            raise UsageError(
                "DEDUP_KEEP_BEST value must be '<key>:<score>:<tiebreak>' "
                f"(all three column names required), got {self.value!r}"
            )
        config.table_dedup_keep_best[self.object_path or "*"] = (
            parts[0],
            parts[1],
            parts[2],
        )


class IncrementalColumn(Filter, name="INCREMENTAL_COLUMN"):
    """CDC-style incremental export — extension (SURVEY.md §7.2 M5).

    value = a monotone watermark column (id, updated_at, …); object_path =
    table ('*' = all tables). The first export captures everything and
    records max(column) per table in the manifest; subsequent exports into
    the same dump set read only rows where column > recorded watermark and
    append them, advancing the watermark. The exported dump set is an
    append-only log a consumer can replay."""

    def apply(self, config: PlanConfig) -> None:
        config.incremental_columns[self.object_path or "*"] = str(self.value)


class ExportPartitionBy(Filter, name="EXPORT_PARTITION_BY"):
    """Write a table's dump data hive-partitioned by a column — extension
    giving PARTITION_OPTIONS something real to act on: MERGE import reads
    the whole tree back as one table (partition column restored),
    DEPARTITION imports one target table per partition value (reference
    directives.py:346-349 semantics)."""

    def apply(self, config: PlanConfig) -> None:
        config.table_partition_by[self.object_path or "*"] = str(self.value)


class ExportSortBy(Filter, name="EXPORT_SORT_BY"):
    """Sort rows *within* each output partition by the given
    comma-separated columns before the dump write. No extra shuffle —
    ``sortWithinPartitions`` is a per-partition local sort — but
    run-length/dictionary encoding on the sort key typically shrinks
    the parquet dump substantially and gives importers clustered scans
    (row-group min/max pruning on the sort key)."""

    def apply(self, config: PlanConfig) -> None:
        config.table_sort_by[self.object_path or "*"] = str(self.value)


class ExportZorderBy(Filter, name="EXPORT_ZORDER_BY"):
    """Lay the dump out along the Z-order (Morton) curve of the given
    comma-separated numeric columns: quantize each to 16 bits against
    its min/max, interleave the bits, range-partition + locally sort on
    the Z-value. Importers filtering on ANY interleaved column then
    prune row groups via parquet min/max stats — multi-dimensional
    clustering where EXPORT_SORT_BY clusters one dimension. Costs one
    min/max aggregate and one range shuffle at export time."""

    def apply(self, config: PlanConfig) -> None:
        config.table_zorder_by[self.object_path or "*"] = str(self.value)


class MergeKey(Filter, name="MERGE_KEY"):
    """Comma-separated natural-key columns for
    TABLE_EXISTS_ACTION(MERGE): import upserts by this key, incoming
    rows winning over existing ones. On plain parquet/JDBC targets a
    merge is a key-deduplicated rewrite (one window over the union);
    storage formats with native MERGE (Delta/Iceberg) would take the
    same plan through their own writer."""

    def apply(self, config: PlanConfig) -> None:
        config.table_merge_key[self.object_path or "*"] = str(self.value)


class MergeOrder(Filter, name="MERGE_ORDER"):
    """Comma-separated version columns for TABLE_EXISTS_ACTION(MERGE):
    the survivor per MERGE_KEY is the row with the HIGHEST value of
    these columns (compared in order), regardless of which side it came
    from — last-writer-by-version semantics for out-of-order CDC
    arrivals, where the default incoming-beats-existing precedence
    would let a late-delivered stale row overwrite newer state. Ties
    (equal version on both sides) still resolve incoming-first, then
    the deterministic row hash. A side missing an order column (schema
    evolution) null-fills and sorts last — a versionless row never
    beats a versioned one."""

    def apply(self, config: PlanConfig) -> None:
        config.table_merge_order[self.object_path or "*"] = str(self.value)


class MergeDeleteCol(Filter, name="MERGE_DELETE_COL"):
    """Boolean tombstone column for TABLE_EXISTS_ACTION(MERGE): an
    incoming row with this column true DELETES its key from the target
    instead of upserting — the Debezium/CDC delete contract. Deletes
    obey the same survivor rule as upserts (a tombstone only applies if
    it IS the newest version under MERGE_ORDER / arrival precedence, so
    a stale late delete cannot resurrect-by-omission or kill newer
    state). The tombstone column is transport metadata: it is dropped
    from the stored table. Must exist on the incoming side; the target
    side null-fills (never-deleted)."""

    def apply(self, config: PlanConfig) -> None:
        config.table_merge_delete_col[self.object_path or "*"] = str(self.value)


class MergePrune(Filter, name="MERGE_PRUNE"):
    """File-level zone-map pruning for TABLE_EXISTS_ACTION(MERGE) —
    value ON/OFF (bare directive = ON). When ON and the target is a
    flat parquet table with footer min/max statistics on the (single)
    MERGE_KEY column, the merge rewrites ONLY the files whose key range
    contains at least one incoming key; untouched files are kept
    byte-identical. This is the Delta/Iceberg MERGE file-skipping idea
    expressed on plain parquet: at 100 TB a CDC batch touching 0.1% of
    the key space must not rewrite the other 99.9%. Zone-map safety: a
    file CONTAINING an incoming key always has that key inside its
    min/max, so it is always rewritten — false positives (range overlap
    without containment) only cost extra rewrites, never correctness.

    PRECONDITION (documented, like every native MERGE format): the
    stored table is merge-key-unique across files — the invariant MERGE
    itself maintains. A table appended to outside MERGE may hold the
    same key in two files; a full (unpruned) merge dedups those, a
    pruned one cannot see the untouched copy. Falls back to the full
    rewrite whenever the capability is unavailable (non-parquet target,
    multi-column MERGE_KEY, missing footer stats, schema evolution
    active, or every file touched)."""

    def apply(self, config: PlanConfig) -> None:
        config.table_merge_prune[self.object_path or "*"] = (
            str(self.value or "ON").strip().upper() != "OFF"
        )


class AsOfVersion(Filter, name="AS_OF_VERSION"):
    """Time-travel import: read the dump set AS OF export run N. Every
    export records which data files that run added (manifest
    ``snapshots``); AS_OF_VERSION(n) restricts the import scan to the
    files of runs 1..n — the Delta/Iceberg snapshot-isolation idea with
    the manifest as the only metadata. Pairs with INCREMENTAL_COLUMN
    appends: each CDC cycle is a new readable version. Flashback
    (FLASHBACK_SCN/TIME) travels the SOURCE database; AS_OF_VERSION
    travels the DUMP."""

    def apply(self, config: PlanConfig) -> None:
        from .exceptions import UsageError

        try:
            config.as_of_version = int(str(self.value))
        except (TypeError, ValueError):
            raise UsageError(
                f"AS_OF_VERSION expects an integer run number, got "
                f"{self.value!r}"
            ) from None
        if config.as_of_version < 1:
            raise UsageError("AS_OF_VERSION is 1-based (first export run = 1)")


# -- Parameters (reference directives.py:186-409) ---------------------------


class _EnumValued(_DirectiveMeta):
    """After-class hook creating ``Compression.ALL``-style singletons
    (reference DirectiveEnums metaclass, directives.py:52-63)."""

    def __new__(mcls, clsname, bases, ns, **kw):
        cls = super().__new__(mcls, clsname, bases, ns, **kw)
        for v in ns.get("VALUES", ()):
            setattr(cls, v, cls(v))
        return cls


class Parameter(DirectiveBase):
    STAGE = Stage.DATAPUMP
    VALUES: ClassVar[tuple[str, ...]] = ()

    def __init__(self, value: Any):
        self.value = self._coerce(value)

    def _coerce(self, value: Any) -> Any:
        if self.VALUES:
            v = str(value).upper()
            if v not in self.VALUES:
                raise InvalidDirective(
                    f"{self.NAME}: {value!r} not in {sorted(self.VALUES)}"
                )
            return v
        return value

    def to_dict(self) -> dict[str, Any]:
        v = self.value
        if isinstance(v, datetime):
            v = v.isoformat()
        if isinstance(v, set):
            v = sorted(v)
        return {"name": self.NAME, "value": v}


class _EnumParameter(Parameter, metaclass=_EnumValued):
    pass


class Parallel(Parameter, name="PARALLEL"):
    """Degree of parallelism (reference directives.py:400-409). Maps to
    JDBC numPartitions, the driver table-pool size, and the cap on a
    DuckDB read's partitions: one per ``spark.sql.files.maxPartitionBytes``
    of rows, at most PARALLEL (a small table is written as one file). A
    DuckDB table within one Arrow batch and one file split moves on the
    driver with no Spark job, so it takes a pool thread and no executor."""

    def _coerce(self, value):
        n = int(value)
        if n < 1:
            raise InvalidDirective("PARALLEL must be >= 1")
        return n

    def apply(self, config: PlanConfig) -> None:
        config.parallel = self.value


class ReuseDumpfiles(Parameter, name="REUSE_DUMPFILES"):
    """Overwrite existing dump files on EXPORT (public Oracle Data Pump
    parameter, default NO: expdp raises ORA-27038 'file already exists'
    rather than clobbering a dump — the reference never wraps it). Our
    analog: with the default NO, an EXPORT whose table dir already
    holds data files refuses at plan time; REUSE_DUMPFILES('YES')
    permits the overwrite. Incremental appends (INCREMENTAL_COLUMN) are
    exempt — appending past a watermark is the append contract, not a
    clobber."""

    def _coerce(self, value):
        return coerce_bool(value)

    def apply(self, config: PlanConfig) -> None:
        config.reuse_dumpfiles = self.value


class NetworkLink(Parameter, name="NETWORK_LINK"):
    """Direct source→target transfer with NO intermediate dump set
    (public Oracle Data Pump parameter: impdp NETWORK_LINK names a
    database link and loads straight from the source database; the
    reference never wraps it). Value is a connection URI the engine can
    resolve (``parquet://dir``, ``duckdb://file``, ``sqlite://file``,
    ``jdbc:...``). IMPORT-side only: the job's dumpfiles root holds the
    event log and manifest, and zero data files are ever produced —
    each table is read from the source (as-of, predicate, columns,
    SAMPLE all apply) and piped through the import write half
    (REMAP_SCHEMA, TABLE_EXISTS_ACTION incl. the MERGE family)."""

    def _coerce(self, value):
        v = str(value)
        if not v:
            raise InvalidDirective("NETWORK_LINK requires a connection URI")
        return v

    def apply(self, config: PlanConfig) -> None:
        config.network_link = self.value


class Filesize(Parameter, name="FILESIZE"):
    """Target size of each dump part-file (public Oracle Data Pump
    parameter — utilities guide, FILESIZE=integer[B|KB|MB|GB|TB]; the
    reference never wraps it). Oracle caps each dump file and rolls to
    the next %U file; the Spark analog maps the target to
    ``maxRecordsPerFile`` on the dump write via an estimate-derived
    bytes/row, with a post-write corrective rewrite (observed bytes/row,
    atomic swap — DumpSet.compact's target-size discipline) when the
    estimate overshot. Accepts an int (bytes) or a string with a
    B/KB/MB/GB/TB suffix."""

    _UNITS = {
        "B": 1,
        "K": 1 << 10,
        "KB": 1 << 10,
        "M": 1 << 20,
        "MB": 1 << 20,
        "G": 1 << 30,
        "GB": 1 << 30,
        "T": 1 << 40,
        "TB": 1 << 40,
    }

    def _coerce(self, value):
        import re as _re

        if isinstance(value, bool):
            raise InvalidDirective("FILESIZE takes a size, not a boolean")
        if isinstance(value, (int, float)):
            n = int(value)
        else:
            m = _re.fullmatch(
                r"\s*(\d+)\s*([A-Za-z]{0,2})\s*", str(value)
            )
            if not m or (
                m.group(2) and m.group(2).upper() not in self._UNITS
            ):
                raise InvalidDirective(
                    f"FILESIZE {value!r} is not integer[B|KB|MB|GB|TB]"
                )
            n = int(m.group(1)) * self._UNITS.get(
                (m.group(2) or "B").upper(), 1
            )
        if n < 64 * 1024:
            raise InvalidDirective(
                "FILESIZE must be at least 64KB (a smaller cap than one "
                "parquet row group cannot be honored)"
            )
        return n

    def apply(self, config: PlanConfig) -> None:
        config.filesize = self.value


class Compression(_EnumParameter, name="COMPRESSION"):
    VALUES = ("DATA_ONLY", "METADATA_ONLY", "ALL", "NONE")

    def apply(self, config: PlanConfig) -> None:
        config.compression = self.value


class CompressionAlgorithm(_EnumParameter, name="COMPRESSION_ALGORITHM"):
    VALUES = ("BASIC", "LOW", "MEDIUM", "HIGH")

    def apply(self, config: PlanConfig) -> None:
        config.compression_algorithm = self.value


class DumpFormat(_EnumParameter, name="DUMP_FORMAT"):
    """Physical format of the dump-set data files (extension — the
    reference has exactly one proprietary dump format; parquet is our
    default analog). ORC is a drop-in columnar alternative (footer row
    counts, codec support, schema fidelity); JSON/CSV are interchange
    formats — schema fidelity on import comes from the manifest's
    recorded Spark schema, and row accounting costs a scan (no footers).
    Parquet-only features (compaction, DEPARTITION import, Z-order
    row-group pruning benefits) fail loudly on other formats."""

    VALUES = ("PARQUET", "ORC", "JSON", "CSV")

    def apply(self, config: PlanConfig) -> None:
        config.dump_format = self.value


class Encryption(_EnumParameter, name="ENCRYPTION"):
    VALUES = ("ALL", "DATA_ONLY", "ENCRYPTED_COLUMNS_ONLY", "METADATA_ONLY", "NONE")

    def apply(self, config: PlanConfig) -> None:
        config.encryption["scope"] = self.value


class EncryptionAlgorithm(_EnumParameter, name="ENCRYPTION_ALGORITHM"):
    VALUES = ("AES128", "AES192", "AES256")

    def apply(self, config: PlanConfig) -> None:
        config.encryption["algorithm"] = self.value


class EncryptionMode(_EnumParameter, name="ENCRYPTION_MODE"):
    VALUES = ("PASSWORD", "TRANSPARENT", "DUAL")

    def apply(self, config: PlanConfig) -> None:
        config.encryption["mode"] = self.value


class EncryptionPassword(Parameter, name="ENCRYPTION_PASSWORD"):
    def apply(self, config: PlanConfig) -> None:
        config.encryption["password"] = str(self.value)

    def to_dict(self) -> dict[str, Any]:
        return {"name": self.NAME, "value": "***"}  # never persist the secret


class EncryptionColumns(Parameter, name="ENCRYPTION_COLUMNS"):
    """Columns to seal under ENCRYPTION(ENCRYPTED_COLUMNS_ONLY) — the
    catalog-less analog of Oracle's DDL ENCRYPT markers (the reference
    forwards the scope to Oracle, which reads them from table DDL,
    reference directives.py:274-297; plain parquet has no DDL, so the
    caller names the columns). Comma-separated string or list."""

    def _coerce(self, value):
        if isinstance(value, (list, tuple)):
            return [str(c).strip() for c in value if str(c).strip()]
        return [c.strip() for c in str(value).split(",") if c.strip()]

    def apply(self, config: PlanConfig) -> None:
        config.encryption["columns"] = self.value


class Checksum(Parameter, name="CHECKSUM"):
    """Oracle Data Pump 21c CHECKSUM parameter (public; the reference
    predates it and wraps nothing for it — beyond-parity surface like
    VIEWS_AS_TABLES): record a per-dump-file digest in the manifest at
    export so transport corruption is detectable. Digests are computed
    executor-side (DumpSet.file_digests — one task per file), so the
    integrity pass scales with the dump, not the driver."""

    def _coerce(self, value):
        return coerce_bool(value)

    def apply(self, config: PlanConfig) -> None:
        config.checksum = self.value


class ChecksumAlgorithm(_EnumParameter, name="CHECKSUM_ALGORITHM"):
    """CRC32 / SHA256 / SHA384 / SHA512 (Oracle's 21c value set).
    Setting an algorithm implies CHECKSUM=YES, per Oracle semantics."""

    VALUES = ("CRC32", "SHA256", "SHA384", "SHA512")

    def apply(self, config: PlanConfig) -> None:
        config.checksum = True
        config.checksum_algorithm = self.value


class VerifyChecksum(Parameter, name="VERIFY_CHECKSUM"):
    """Import-side twin: recompute every data file's digest before any
    row is read and refuse the import on mismatch (or when the dump
    carries no recorded checksums — silently skipping verification the
    caller asked for would defeat the parameter)."""

    def _coerce(self, value):
        return coerce_bool(value)

    def apply(self, config: PlanConfig) -> None:
        config.verify_checksum = self.value


class VerifyOnly(Parameter, name="VERIFY_ONLY"):
    """Oracle DP 21c VERIFY_ONLY: the import becomes a pure integrity
    audit — every table's dump files are digest-verified against the
    recorded checksums and ZERO rows are loaded (the target catalog is
    untouched). Composes the VERIFY_CHECKSUM machinery with a skip of
    the load stage."""

    def _coerce(self, value):
        return coerce_bool(value)

    def apply(self, config: PlanConfig) -> None:
        config.verify_only = self.value


class Estimate(_EnumParameter, name="ESTIMATE"):
    VALUES = ("BLOCKS", "STATISTICS")

    def apply(self, config: PlanConfig) -> None:
        config.estimate = self.value


class EstimateOnly(Parameter, name="ESTIMATE_ONLY"):
    def _coerce(self, value):
        return coerce_bool(value)

    def apply(self, config: PlanConfig) -> None:
        config.estimate_only = self.value
        if config.estimate is None:
            config.estimate = "STATISTICS"


class DataAccessMethod(_EnumParameter, name="DATA_ACCESS_METHOD"):
    """Recorded, not acted on: the engine picks the path per table from
    its size (the Arrow lane for a small driver-resident table, Spark for
    the rest), the way Oracle picks direct path for small simple
    tables."""

    VALUES = ("AUTOMATIC", "DIRECT_PATH", "EXTERNAL_TABLE")

    def apply(self, config: PlanConfig) -> None:
        config.recorded_noops["DATA_ACCESS_METHOD"] = self.value


class FlashbackScn(Parameter, name="FLASHBACK_SCN"):
    """Export as-of a system change number (reference directives.py:308-311;
    auto-injected on EXPORT by job.py:261-269 — mirrored in our Job.run)."""

    def _coerce(self, value):
        return int(value)

    def apply(self, config: PlanConfig) -> None:
        config.flashback_scn = self.value


class FlashbackTime(Parameter, name="FLASHBACK_TIME"):
    """As-of timestamp (reference directives.py:314-320)."""

    def _coerce(self, value):
        return parse_dt(value)

    def apply(self, config: PlanConfig) -> None:
        config.flashback_time = self.value


class TableExistsAction(_EnumParameter, name="TABLE_EXISTS_ACTION"):
    VALUES = ("TRUNCATE", "REPLACE", "APPEND", "SKIP", "MERGE")

    def apply(self, config: PlanConfig) -> None:
        config.table_exists_action = self.value


class PartitionOptions(_EnumParameter, name="PARTITION_OPTIONS"):
    VALUES = ("NONE", "DEPARTITION", "MERGE")

    def apply(self, config: PlanConfig) -> None:
        config.partition_options = self.value


DATA_OPTION_FLAGS = (
    # reference directives.py:227-238 — flag list OR'd to a bitmask there;
    # a plain set here, consumed as writer error policy.
    "SKIP_CONST_ERR",
    "XMLTYPE_CLOB",
    "NO_TYPE_EVOL",
    "DISABL_APPEND_HINT",
    "REJECT_ROWS_REPCHR",
    "ENABLE_NET_COMP",
    "GRP_PART_TAB",
    "TRUST_EXIST_TB_PAR",
    "VALIDATE_TBL_DATA",
    "VERIFY_STREAM_FORM",
    "CONT_LD_ON_FMT_ERR",
    # extension flag (not in the reference bitmask): reconcile
    # by-name schema drift on APPEND/MERGE imports instead of failing
    "ALLOW_SCHEMA_EVOLUTION",
)


class DataOptions(Parameter, name="DATA_OPTIONS"):
    def _coerce(self, value):
        flags = value if isinstance(value, (list, tuple, set)) else [value]
        out = set()
        for f in flags:
            fu = str(f).upper()
            if fu not in DATA_OPTION_FLAGS:
                raise InvalidDirective(
                    f"DATA_OPTIONS: {f!r} not in {sorted(DATA_OPTION_FLAGS)}"
                )
            out.add(fu)
        return out

    def apply(self, config: PlanConfig) -> None:
        config.data_options |= self.value
        config.skip_constraint_errors = "SKIP_CONST_ERR" in config.data_options
        config.validate_table_data = "VALIDATE_TBL_DATA" in config.data_options
        config.allow_schema_evolution = (
            "ALLOW_SCHEMA_EVOLUTION" in config.data_options
        )


class IncludeMetadata(Parameter, name="INCLUDE_METADATA"):
    def _coerce(self, value):
        return coerce_bool(value)

    def apply(self, config: PlanConfig) -> None:
        config.include_metadata = self.value


class LogTime(_EnumParameter, name="LOGTIME"):
    VALUES = ("NONE", "STATUS", "LOGFILE", "ALL")

    def apply(self, config: PlanConfig) -> None:
        config.logtime = self.value


class Metrics(Parameter, name="METRICS"):
    def _coerce(self, value):
        return coerce_bool(value)

    def apply(self, config: PlanConfig) -> None:
        config.metrics = self.value


class KeepMaster(Parameter, name="KEEP_MASTER"):
    def _coerce(self, value):
        return coerce_bool(value)

    def apply(self, config: PlanConfig) -> None:
        config.keep_master = self.value


class ClientCommand(Parameter, name="CLIENT_COMMAND"):
    def apply(self, config: PlanConfig) -> None:
        config.client_command = str(self.value)


def _make_noop_parameter(name_: str) -> type[Parameter]:
    """Oracle-physical knobs accepted and recorded for API parity but with
    no Spark behavior (reference directives.py:241-242,327-397; SURVEY.md
    P13 + §7.4)."""

    class _Noop(Parameter, name=name_):
        def apply(self, config: PlanConfig) -> None:
            config.recorded_noops[self.NAME] = (
                sorted(self.value) if isinstance(self.value, set) else self.value
            )

    _Noop.__name__ = "Noop_" + name_
    return _Noop


NOOP_PARAMETERS = [
    _make_noop_parameter(n)
    for n in (
        "SKIP_UNUSABLE_INDEXES",
        "REUSE_DATAFILES",
        "SOURCE_EDITION",
        "TARGET_EDITION",
        "STREAMS_CONFIGURATION",
        "TRANSPORTABLE",
        "TTS_FULL_CHECK",
        "TABLESPACE_DATAFILE",
        "USER_METADATA",
        "MASTER_ONLY",
    )
]


# -- Remaps (reference directives.py:412-458) --------------------------------


class Remap(DirectiveBase):
    STAGE = Stage.DATAPUMP

    def __init__(self, old_value: str, value: str):
        # values upper-cased in the reference (directives.py:419-422); we
        # preserve case for case-sensitive catalogs but strip whitespace.
        self.old_value = str(old_value).strip()
        self.value = str(value).strip()

    def to_dict(self) -> dict[str, Any]:
        return {"name": self.NAME, "old_value": self.old_value, "value": self.value}


class RemapSchema(Remap, name="REMAP_SCHEMA"):
    """Rename namespace old→new on import (reference directives.py:449-450)."""

    def apply(self, config: PlanConfig) -> None:
        config.remap_schema[self.old_value] = self.value


class RemapTablespace(Remap, name="REMAP_TABLESPACE"):
    def apply(self, config: PlanConfig) -> None:
        config.remap_tablespace[self.old_value] = self.value


class RemapDatafile(Remap, name="REMAP_DATAFILE"):
    """No datafiles in Spark; kept for manifest fidelity
    (reference directives.py:457-458; SURVEY.md R3)."""

    def apply(self, config: PlanConfig) -> None:
        config.remap_datafile[self.old_value] = self.value


# -- Transforms (reference directives.py:461-553) ----------------------------


class Transform(DirectiveBase):
    STAGE = Stage.DATAPUMP

    def __init__(self, value: Any):
        self.value = value

    def to_dict(self) -> dict[str, Any]:
        return {"name": self.NAME, "value": self.value}

    def apply(self, config: PlanConfig) -> None:
        config.recorded_noops[self.NAME] = self.value


class TransformOid(Transform, name="OID"):
    pass


class TransformPctspace(Transform, name="PCTSPACE"):
    pass


class TransformSegmentAttributes(Transform, name="SEGMENT_ATTRIBUTES"):
    pass


class TransformSegmentCreation(Transform, name="SEGMENT_CREATION"):
    pass


class TransformStorage(Transform, name="STORAGE"):
    pass


class TransformDisableArchiveLogging(Transform, name="DISABLE_ARCHIVE_LOGGING"):
    pass


class TransformInmemory(Transform, name="INMEMORY"):
    pass


class TransformInmemoryClause(Transform, name="INMEMORY_CLAUSE"):
    pass


class TransformLobStorage(Transform, name="LOB_STORAGE"):
    pass


class TransformTableCompressionClause(Transform, name="TABLE_COMPRESSION_CLAUSE"):
    """Maps to a parquet codec override (SURVEY.md T4)."""

    def apply(self, config: PlanConfig) -> None:
        v = str(self.value).lower()
        codec = {
            "nocompress": "uncompressed",
            "compress": "snappy",
            "compress for oltp": "zstd",
            "compress basic": "snappy",
        }.get(v, None)
        if codec:
            config.recorded_noops["TABLE_COMPRESSION_CLAUSE_CODEC"] = codec
        config.recorded_noops["TABLE_COMPRESSION_CLAUSE"] = self.value


# -- Extras (POST stage — reference directives.py:556-586) -------------------


class Extra(DirectiveBase):
    STAGE = Stage.POST

    def to_dict(self) -> dict[str, Any]:
        return {"name": self.NAME}


class DeleteFiles(Extra, name="DELETE_FILES"):
    """Delete the dump set after a *synchronous* import completes
    (reference directives.py:577-586; wait-only guard job.py:288-295)."""

    def apply(self, config: PlanConfig) -> None:
        config.delete_files_after = True


# ---------------------------------------------------------------------------


def compile_directives(
    directives: list[DirectiveBase], mode: str = "SCHEMA"
) -> PlanConfig:
    """Apply directives in declared order (reference applies stage-matching
    subsets in list order — commands.py:198-214, job.py:277-286)."""
    config = PlanConfig()
    ExcludeObjectType.mode_for_validation = mode
    try:
        for d in directives:
            d.apply(config)
    finally:
        ExcludeObjectType.mode_for_validation = "SCHEMA"
    return config


# Ergonomic alias namespace mirroring the reference's ``Directive`` facade.
Directive = DirectiveBase
