"""TABLE_EXISTS_ACTION(MERGE): the merge half of the import sink.

A newest-wins upsert by MERGE_KEY over plain tables — one window over
existing ∪ incoming, MERGE_ORDER for last-writer-by-version,
MERGE_DELETE_COL tombstones, and MERGE_PRUNE zone-map file pruning —
shared by IMPORT and NETWORK_LINK through ``engine._write_import_df``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

from .catalog import Connector
from .directives import PlanConfig
from .dumpset import DumpSet
from .exceptions import UsageError
from .planner import TablePlan


def dtype_has_map(dt) -> bool:
    """Does ``dt``'s type tree contain a MapType anywhere (top level,
    struct field, array element)? Spark's hash()/xxhash64() reject maps
    at any depth, so the MERGE tiebreak hash and
    ``engine.table_fingerprint`` both ask."""
    if isinstance(dt, MapType):
        return True
    if isinstance(dt, StructType):
        return any(dtype_has_map(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return dtype_has_map(dt.elementType)
    return False


def _drop_tombstones(df, del_col: str):
    """Drop rows whose MERGE_DELETE_COL is true and shed the transport
    column from the stored table."""
    return df.filter(
        ~F.coalesce(F.col(del_col).cast("boolean"), F.lit(False))
    ).drop(del_col)


def _merge_prune_files(
    spark: SparkSession, connector: Connector, plan: TablePlan, key: str, df
) -> tuple[list[str] | None, int]:
    """MERGE_PRUNE: zone-map file pruning — rewrite only the files whose
    footer [min,max] on the merge key contains an incoming key; every
    file CONTAINING an incoming key is inside its own min/max, so
    pruning can only add false-positive rewrites, never miss one.
    Single-column keys without schema evolution only. Returns (touched
    files, total files), or (None, 0) for the full rewrite when the
    capability is unavailable (see directives.MergePrune) or nothing
    would be skipped. NULL incoming keys force the fallback: parquet
    zone maps don't locate nulls, so a stored null-key row in an
    untouched file would escape the survivor window."""
    fr = getattr(connector, "table_file_ranges", None)
    ranges = fr(plan.target_schema, plan.target_table, key) if fr else None
    if not ranges:
        return None, 0
    try:
        if df.filter(F.col(key).isNull()).limit(1).count() > 0:
            return None, 0
        rng_df = spark.createDataFrame(
            [(p, mn, mx) for p, mn, mx in ranges],
            ["__path", "__mn", "__mx"],
        )
        inc = df.select(F.col(key).alias("__k")).distinct()
        touched = sorted(
            r["__path"]
            for r in inc.join(
                F.broadcast(rng_df),
                (F.col("__k") >= F.col("__mn"))
                & (F.col("__k") <= F.col("__mx")),
            )
            .select("__path")
            .distinct()
            .collect()  # bounded by the file count
        )
    except Exception:
        return None, 0  # capability mismatch
    if len(touched) == len(ranges):
        return None, 0
    return touched, len(ranges)


def merge_df(
    spark: SparkSession,
    connector: Connector,
    dumpset: DumpSet,
    plan: TablePlan,
    config: PlanConfig,
    df,
):
    """TABLE_EXISTS_ACTION(MERGE): newest-wins upsert by MERGE_KEY. One
    window over existing ∪ incoming (incoming tagged higher precedence),
    then a full rewrite — the plan a native-MERGE table format would
    also execute, minus its file-level pruning. The shuffle is on the
    merge key, so it scales like any keyed aggregation. Returns the
    survivors and whether MERGE_PRUNE already wrote them."""
    if not plan.merge_key:
        raise UsageError(
            "TABLE_EXISTS_ACTION(MERGE) requires MERGE_KEY(<cols>)"
        )
    keys = plan.merge_key
    # MERGE_DELETE_COL(<col>): boolean tombstone on the INCOMING
    # side — a row with it true deletes its key instead of
    # upserting. Applied AFTER survivor selection, so a tombstone
    # only takes effect when it is the winning version (a stale
    # late delete under MERGE_ORDER loses to newer state, exactly
    # like a stale late upsert). The column is transport
    # metadata and never lands in the stored table.
    del_col = plan.merge_delete_col
    if del_col:
        if del_col not in df.columns:
            raise UsageError(
                f"MERGE_DELETE_COL column {del_col!r} missing from "
                "the incoming dump"
            )
        if del_col in keys:
            raise UsageError(
                "MERGE_DELETE_COL cannot be a MERGE_KEY column"
            )
    if not connector.table_exists(plan.target_schema, plan.target_table):
        # first merge into a fresh table: a tombstone for a key
        # that never existed is a no-op row, not an error
        return (_drop_tombstones(df, del_col) if del_col else df), False
    touched, total = None, 0
    if plan.merge_prune and len(keys) == 1 and not config.allow_schema_evolution:
        touched, total = _merge_prune_files(spark, connector, plan, keys[0], df)
    if touched is None:
        existing = connector.read_table(
            spark, plan.target_schema, plan.target_table
        )
    elif touched:
        existing = spark.read.parquet(*touched)
    else:
        # all incoming keys are new: no stored file overlaps,
        # but the survivor window must still dedup the batch
        existing = connector.read_table(
            spark, plan.target_schema, plan.target_table
        ).limit(0)
    # DATA_OPTIONS(ALLOW_SCHEMA_EVOLUTION): by-name drift
    # between the target and the dump resolves to the union
    # of columns, null-filling either side; off = the strict
    # by-name union (AnalysisException on drift) stands.
    # The merge-key columns themselves may NEVER be
    # null-filled: a side missing the key would collapse to
    # one all-null-key partition and row_number()==1 would
    # silently keep a single survivor — mass data loss where
    # the strict path fails loudly.
    if config.allow_schema_evolution:
        for side, cols in (
            ("target", existing.columns),
            ("dump", df.columns),
        ):
            miss = [k for k in keys if k not in cols]
            if miss:
                raise UsageError(
                    f"MERGE_KEY column(s) {miss} missing from "
                    f"the {side} side; schema evolution cannot "
                    "null-fill a merge key"
                )
    if del_col and del_col not in existing.columns:
        # target rows are never-deleted; null-fill the
        # transport column so the union lines up by name
        existing = existing.withColumn(
            del_col, F.lit(None).cast(df.schema[del_col].dataType)
        )
    merged = existing.withColumn("__src", F.lit(0)).unionByName(
        df.withColumn("__src", F.lit(1)),
        allowMissingColumns=config.allow_schema_evolution,
    )
    # survivor order: incoming beats existing; duplicate keys
    # WITHIN a side resolve by the 64-bit hash of the row's
    # hashable columns, so repeated runs pick the same
    # survivor (ties only between rows identical in those
    # columns) — the job-hash determinism contract extends to
    # MERGE. Columns whose type tree contains a MapType
    # ANYWHERE (top-level, struct field, array element) are
    # excluded: Spark's hash()/xxhash64() rejects maps at any
    # nesting depth, and a map-typed tiebreak would turn a
    # working merge into an AnalysisException.
    hashable = [
        f.name
        for f in merged.schema.fields
        if f.name != "__src" and not dtype_has_map(f.dataType)
    ]
    # MERGE_ORDER(<cols>): last-writer-by-version — the highest
    # (col1, col2, ...) tuple wins across existing ∪ incoming,
    # so a late-arriving batch carrying an OLDER version can
    # never clobber newer warehouse state (out-of-order CDC).
    # Without it, incoming beats existing (arrival order).
    # nulls_last: a side null-filled by schema evolution never
    # beats a row that actually carries the version column.
    order_cols = []
    for c in plan.merge_order or []:
        if c not in merged.columns:
            raise UsageError(
                f"MERGE_ORDER column {c!r} missing from both "
                "the target and the dump"
            )
        order_cols.append(F.desc_nulls_last(c))
    w = Window.partitionBy(*keys).orderBy(
        *order_cols, F.desc("__src"), F.xxhash64(*hashable)
    )
    df = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    if del_col:
        # drop keys whose WINNING version is a tombstone
        df = _drop_tombstones(df, del_col)
    # materialize BEFORE the overwrite: with a lazy connector
    # (parquet/JDBC) the plan still reads the target being
    # replaced — evaluating it after the truncate silently
    # drops every non-matching existing row (or Spark refuses
    # to overwrite a path it is reading). localCheckpoint
    # severs the lineage to the target's files.
    df = df.localCheckpoint(eager=True)
    if touched is None:
        return df, False
    written = connector.merge_pruned_write(
        df, plan.target_schema, plan.target_table, touched
    )
    dumpset.log_event(
        "TABLE_MERGE_PRUNED",
        table=plan.target_key,
        files_total=total,
        files_touched=len(touched),
        files_written=written,
    )
    return df, True
