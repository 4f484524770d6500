"""Job planner: (operation, mode, PlanConfig, catalog) → ordered TablePlans.

This is the Spark-side analog of Oracle's metadata phase: the reference
applies METADATA_FILTERs server-side so only selected objects move
(/root/reference/src/oracledb_datapump/directives.py:122-134); we prune the
table list driver-side *before any Spark job is launched* (SURVEY.md §4),
which is the same optimization in plain Python.

Planning resolves every directive that applies to a table once, into a
typed ``TablePlan``; ``Job._thread_plan_extras`` adds the job-level
fields and rejects every invalid directive combination, so a bad job
fails before any I/O and the engine's stages never re-check one.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from .base import JobMode, Operation
from .catalog import Connector
from .directives import PlanConfig
from .dumpset import DumpSet
from .exceptions import UsageError


@dataclass
class TablePlan:
    """One table's worth of work: the directives that apply to this table,
    resolved once at plan time. The engine's stages read these fields and
    never re-read the PlanConfig's per-table maps."""

    schema: str
    table: str
    target_schema: str
    target_table: str
    parallel: int = 1
    predicate: str | None = None
    columns: list[str] | None = None
    as_of: str | None = None
    partition_by: str | None = None
    # TABLE:PARTITION scope (Oracle TABLES syntax), hive leaves to read
    partition_scope: list[str] | None = None
    # column-list directives, split at plan time
    sort_by: list[str] | None = None
    zorder_by: list[str] | None = None
    merge_key: list[str] | None = None
    merge_order: list[str] | None = None
    merge_delete_col: str | None = None
    remap_data: list[tuple[str, str]] | None = None
    sample: tuple[int, str] | None = None  # (ppm, column), engine-side
    # (key, score, tiebreak) keep-best dedup, engine-side
    dedup_keep_best: tuple[str, str, str] | None = None
    merge_prune: bool = False  # MERGE file-level zone-map pruning
    # import-only
    write_mode: str = "error"
    truncate: bool = False
    writer_options: dict[str, str] = field(default_factory=dict)
    topo_level: int = 0  # FK wave; parents land before children
    # the key a sealed dump is read with — by IMPORT, and by restart's
    # check of an exported table; in memory only, never in the manifest
    encryption_password: str | None = None
    # NETWORK_LINK transfer: the connector rows are read from
    src_connector: Connector | None = None
    # export-only
    codec: str = "snappy"
    data_included: bool = True  # False when TABLE/TABLE_DATA excluded
    dump_format: str = "parquet"
    source_type: str | None = None  # "VIEW" for VIEWS_AS_TABLES
    # validated ENCRYPTION contract (crypto.validate_encryption)
    encryption: dict[str, Any] | None = None
    checksum_algorithm: str | None = None
    filesize_bytes: int | None = None
    incremental_column: str | None = None
    watermark: Any = None  # prior run's high-water mark, None on the first
    snapshots: list[dict[str, Any]] | None = None  # prior snapshot history

    @property
    def source_key(self) -> str:
        return f"{self.schema}.{self.table}"

    @property
    def target_key(self) -> str:
        return f"{self.target_schema}.{self.target_table}"

    def event_key(self, operation: str) -> str:
        """The table name every TABLE_<op>_* event carries: the source for
        an EXPORT (the dump IS the source), the target for IMPORT and
        TRANSFER (Oracle's master table names the remapped object)."""
        return self.source_key if operation == "EXPORT" else self.target_key

    @property
    def incremental_append(self) -> bool:
        """An INCREMENTAL_COLUMN run past a recorded watermark: only newer
        rows are read, appended to the existing dump."""
        return self.incremental_column is not None and self.watermark is not None


def for_table(by_table: dict[str, Any], table: str, default: Any = None) -> Any:
    """A per-table directive value: the table's own entry, else the "*"
    wildcard entry, else ``default``."""
    return by_table.get(table, by_table.get("*", default))


def _cols(spec: str | None) -> list[str] | None:
    """The column names of a comma-separated directive value."""
    if spec is None:
        return None
    return [c.strip() for c in spec.split(",") if c.strip()]


def _table_plan(config: PlanConfig, schema: str, table: str, **kw) -> TablePlan:
    """A plan carrying every per-table directive value for ``table``."""
    return TablePlan(
        schema=schema,
        table=table,
        target_schema=schema,
        target_table=table,
        parallel=config.parallel,
        predicate=for_table(config.table_predicates, table),
        columns=for_table(config.table_columns, table),
        partition_by=for_table(config.table_partition_by, table),
        partition_scope=config.table_partition_scope.get(table),
        sort_by=_cols(for_table(config.table_sort_by, table)),
        zorder_by=_cols(for_table(config.table_zorder_by, table)),
        merge_key=_cols(for_table(config.table_merge_key, table)),
        merge_order=_cols(for_table(config.table_merge_order, table)),
        merge_delete_col=for_table(config.table_merge_delete_col, table),
        merge_prune=for_table(config.table_merge_prune, table, False),
        remap_data=for_table(config.table_remap_data, table),
        sample=for_table(config.table_sample, table),
        dedup_keep_best=for_table(config.table_dedup_keep_best, table),
        **kw,
    )


def plan_export(
    connector: Connector,
    operation: Operation,
    mode: JobMode,
    config: PlanConfig,
) -> list[TablePlan]:
    """Enumerate source tables per mode (reference job modes base.py:20-31):
    FULL = all non-system schemas (S2), SCHEMA = the INCLUDE_SCHEMA list
    (S1), TABLE = the INCLUDE_TABLE list (S3)."""
    if mode == JobMode.FULL:
        schemas = connector.list_schemas()
    elif mode == JobMode.SCHEMA:
        if not config.include_schemas:
            raise UsageError("SCHEMA mode requires at least one INCLUDE_SCHEMA")
        schemas = list(dict.fromkeys(config.include_schemas))
    elif mode == JobMode.TABLE:
        if not config.include_tables and not config.views_as_tables:
            raise UsageError(
                "TABLE mode requires at least one INCLUDE_TABLE "
                "(or VIEWS_AS_TABLES)"
            )
        schemas = list(dict.fromkeys(config.include_schemas)) or connector.list_schemas()
    else:
        # TABLESPACE/TRANSPORTABLE: physical-storage scope has no Spark
        # analog (SURVEY.md S4); treat the tablespace names as schema tags.
        schemas = list(dict.fromkeys(config.include_schemas)) or connector.list_schemas()

    # Excluding TABLE (or TABLE_DATA) => metadata-only export — the
    # reference's "no_data" idiom (tests/test_export.py:43-46).
    data_included = not (
        {"TABLE", "TABLE_DATA"} & config.exclude_object_types
    )

    plans: list[TablePlan] = []
    for schema in schemas:
        for table in connector.list_tables(schema):
            if mode == JobMode.TABLE and table not in config.include_tables:
                continue
            plans.append(
                _table_plan(
                    config, schema, table,
                    as_of=config.as_of_marker(),
                    codec=config.parquet_codec(),
                    data_included=data_included,
                    dump_format=config.dump_format.lower(),
                )
            )
    # VIEWS_AS_TABLES: materialize named source views as exported tables
    # (public Oracle Data Pump parameter; extension here — the reference
    # never implements it). A view that matches no selected schema fails
    # at plan time, mirroring Oracle's ORA-31655 posture. A view takes
    # only its QUERY/COLUMNS directives.
    for view in config.views_as_tables:
        found = False
        for schema in schemas:
            lv = getattr(connector, "list_views", None)
            if lv and view in lv(schema):
                found = True
                plans.append(
                    TablePlan(
                        schema=schema,
                        table=view,
                        target_schema=schema,
                        target_table=view,
                        parallel=config.parallel,
                        predicate=for_table(config.table_predicates, view),
                        columns=for_table(config.table_columns, view),
                        codec=config.parquet_codec(),
                        dump_format=config.dump_format.lower(),
                        source_type="VIEW",
                    )
                )
        if not found:
            raise UsageError(
                f"VIEWS_AS_TABLES: view {view!r} not found in any selected "
                "schema (or the connector exposes no view catalog)"
            )
    return plans


def plan_network_transfer(
    connector: Connector,
    mode: JobMode,
    config: PlanConfig,
) -> list[TablePlan]:
    """NETWORK_LINK planning: enumerate the SOURCE catalog like an export
    (so mode/filters/as-of/SAMPLE apply to the source), then graft the
    import-side contract onto each plan (schema remap, exists-action) —
    the plan a dump-set roundtrip would execute, minus the dump."""
    plans = plan_export(connector, Operation.IMPORT, mode, config)
    wmode, truncate = config.write_mode()
    for p in plans:
        p.target_schema = config.remap_schema.get(p.schema, p.schema)
        p.write_mode = wmode
        p.truncate = truncate
        p.src_connector = connector
    return plans


def plan_import(
    dumpset: DumpSet,
    config: PlanConfig,
) -> list[TablePlan]:
    """Enumerate dump-set tables, applying remaps + exists-action
    (reference import path: handlers.py:137-149; REMAP_SCHEMA
    directives.py:449-450; TABLE_EXISTS_ACTION directives.py:372-376).

    Plans carry a ``topo_level`` derived from FK constraints captured in
    the export manifest: level-0 tables reference nothing; the engine
    barriers between levels so parents land before children (the ordering
    Oracle's import engine provides implicitly; SURVEY.md §7.3)."""
    mode, truncate = config.write_mode()
    constraints: dict[str, list[str]] = {}
    if dumpset.exists():
        constraints = dumpset.read_manifest().constraints
    levels = _topo_levels(constraints)
    plans: list[TablePlan] = []
    for schema, table in dumpset.list_tables():
        if config.include_schemas and schema not in config.include_schemas:
            continue
        if config.include_tables and table not in config.include_tables:
            continue
        p = _table_plan(
            config, schema, table,
            write_mode=mode,
            truncate=truncate,
            topo_level=levels.get(f"{schema}.{table}", 0),
        )
        p.target_schema = config.remap_schema.get(schema, schema)
        plans.append(p)
    plans.sort(key=lambda p: (p.topo_level, p.source_key))
    return plans


def _topo_levels(constraints: dict[str, list[str]]) -> dict[str, int]:
    """Longest-path-from-root level per table in the FK DAG; cycles (e.g.
    self-referencing FKs) are broken by capping the depth."""
    levels: dict[str, int] = {}

    def level_of(key: str, seen: frozenset[str]) -> int:
        if key in levels:
            return levels[key]
        if key in seen:  # cycle — break
            return 0
        refs = [r for r in constraints.get(key, []) if r != key]
        lv = 1 + max(
            (level_of(r, seen | {key}) for r in refs), default=-1
        )
        levels[key] = lv
        return lv

    for k in constraints:
        level_of(k, frozenset())
    return levels


def estimate_plan(
    connector: Connector, plans: list[TablePlan], spark
) -> list[dict[str, Any]]:
    """ESTIMATE/ESTIMATE_ONLY (reference directives.py:299-305): size each
    table without moving data — stats/count queries only (SURVEY.md A3/P5)."""
    out = []
    for p in plans:
        try:
            df = connector.read_table(spark, p.schema, p.table, columns=p.columns)
            if p.predicate:
                df = df.filter(p.predicate)
            rows = df.count()
            width = len(df.columns)
            out.append(
                {
                    "table": p.source_key,
                    "estimated_rows": rows,
                    "estimated_bytes": rows * width * 16,  # coarse width heuristic
                }
            )
        except Exception as e:  # estimation must not fail the job
            out.append({"table": p.source_key, "error": str(e)})
    return out
