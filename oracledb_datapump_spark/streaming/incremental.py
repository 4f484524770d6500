"""Incremental / CDC-style export over the ``events`` stream.

The reference is batch-only (SURVEY.md §2.9); this is the M5 extension:
an append-mode incremental pipeline that (a) tails an event source, (b)
windows + watermarks for late data, (c) writes an append-only Parquet dump
set with the same manifest/event-log layout as batch exports, so an
importer can't tell the difference.

Batch parity: each streaming query has a batch twin (used by the oracle
checks and by `events_hourly_rollup`); Structured Streaming guarantees the
incremental result converges to the batch result for these aggregations.

At scale: the file source here stands in for Kafka; watermark bounds state
size; `availableNow` triggers give catch-up batch semantics on the same
code path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..events_source import event_time_expr, stream_events_raw


def _with_event_time(df: DataFrame) -> DataFrame:
    return df.withColumn("event_time", event_time_expr(df))


def stream_events(spark: SparkSession, src_dir: str) -> DataFrame:
    """readStream over a parquet directory (stand-in for Kafka); ``ts``
    schema sniffed from the files present (ns-as-long or timestamp[us])."""
    return _with_event_time(stream_events_raw(spark, src_dir))


def windowed_counts(events: DataFrame, window: str = "1 hour", late: str = "30 minutes") -> DataFrame:
    """Tumbling-window counts per event_type with a watermark for late
    data — the streaming twin of analytics.events_hourly_rollup."""
    return (
        events.withWatermark("event_time", late)
        .groupBy(F.window("event_time", window), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
    )


def _hold_dir(src_dir: str) -> str:
    """The sibling holding dir of ``stage_events_arrivals``: NOT inside
    the watched ``src_dir``, so callers remove it next to ``src_dir``."""
    return src_dir.rstrip("/") + ".__stage__"


def _single_part(leaf: str) -> str | None:
    """The one ``part-*.parquet`` file of a staging dir (None if it has
    none). More than one part would mean a fragmented write, and landing
    only one of them would silently drop rows, so that raises."""
    parts = [
        n
        for n in sorted(os.listdir(leaf))
        if n.startswith("part-") and n.endswith(".parquet")
    ]
    if len(parts) > 1:
        raise RuntimeError(
            f"staging dir {leaf} holds {len(parts)} part files; an "
            "arrival must land as exactly one file"
        )
    return os.path.join(leaf, parts[0]) if parts else None


def stage_events_arrivals(
    spark: SparkSession, sf_dir: str, src_dir: str, reverse: bool = False
):
    """Plan the two-cycle arrival simulation for a streaming harness:
    split the ``events`` fixture at its mid-timeline into an early and a
    late half, entirely Spark-side (filter + single-file write — the
    driver never reads event rows, it only renames the finished part
    file). Returns a list of zero-arg callables; each call lands the
    next arrival file (``events-N.parquet``) in ``src_dir``. Degenerate
    timelines (all-equal ts → an empty half) collapse to a single
    arrival of the whole fixture. Callers remove ``_hold_dir(src_dir)``
    when they are done, also when a cycle raises before every arrival
    has landed.

    The split point only affects WHICH cycle processes a row, never the
    converged result, so any consumer's final aggregate is
    split-point-independent by construction."""
    import shutil

    from ..events_source import load_events

    ev = load_events(spark, sf_dir)
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    mid = lo + (hi - lo) // 2
    # r17 (guide §6): pre-stage BOTH halves in one parallel partitionBy
    # pass into a sibling holding dir (NOT inside the watched src_dir —
    # the file-stream source and the schema sniffer must never see a
    # staged-but-unlanded file); each land() is then a driver-side
    # rename. The old staging paid two count jobs plus two filtered
    # coalesce(1) scans, each single-task. The land-then-cycle contract
    # is unchanged: a file appears in src_dir only when its cycle is
    # about to run. A half empty on a degenerate timeline writes no
    # leaf, which replaces the two count() probes. repartition("__slice")
    # puts each half in one task, and maxRecordsPerFile=0 overrides any
    # session-wide cap, so each leaf holds exactly one part.
    hold = _hold_dir(src_dir)
    try:
        (
            ev.withColumn("__slice", (F.col("ts_us") >= F.lit(mid)).cast("int"))
            .drop("ts_us")  # land the fixture's own schema
            .repartition("__slice")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 0)
            .partitionBy("__slice")
            .parquet(hold)
        )
        staged: dict[int, str] = {}
        for i in (0, 1):
            leaf = os.path.join(hold, f"__slice={i}")
            part = _single_part(leaf) if os.path.isdir(leaf) else None
            if part:
                staged[i] = part
    except BaseException:
        shutil.rmtree(hold, ignore_errors=True)
        raise
    if len(staged) < 2:
        # degenerate timeline (an empty half): single arrival of the
        # whole fixture — the one staged file IS the whole fixture
        whole = staged.get(0, staged.get(1))

        def land_all(src_file=whole):
            os.replace(src_file, os.path.join(src_dir, "events-0.parquet"))
            shutil.rmtree(hold, ignore_errors=True)

        return [land_all]
    first, second = (1, 0) if reverse else (0, 1)

    def land_first():
        # out-of-order delivery when reverse=True: the LATE half arrives
        # first, then the early half — cycle 2's rows are OLDER than
        # applied state, the scenario MERGE_ORDER exists for
        os.replace(staged[first], os.path.join(src_dir, "events-0.parquet"))

    def land_second():
        os.replace(staged[second], os.path.join(src_dir, "events-1.parquet"))
        shutil.rmtree(hold, ignore_errors=True)

    return [land_first, land_second]


def land_slices_single_pass(
    df: DataFrame,
    slice_col,
    n_slices: int,
    src_dir: str,
    prefix: str = "docs",
) -> None:
    """Land ``n_slices`` arrival files (``<prefix>-N.parquet``, one part
    file each, ascending mtimes so the file stream source drains them in
    order) in ONE pass over ``df`` (guide §6): partitionBy on the slice
    id instead of one filtered coalesce(1) scan PER slice — the old
    staging paid |slices| full corpus scans, each single-task. The
    slice column is written into the directory name, not the files, so
    file content keeps exactly the source schema. A slice empty on a
    degenerate timeline falls back to an explicit empty file."""
    import shutil
    import time as _time

    stage = os.path.join(src_dir, "__stage_all__")
    try:
        (
            df.withColumn("__slice", slice_col.cast("int"))
            .repartition("__slice")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 0)  # one part per leaf, always
            .partitionBy("__slice")
            .parquet(stage)
        )
        now = _time.time()
        for i in range(n_slices):
            leaf = os.path.join(stage, f"__slice={i}")
            part = _single_part(leaf) if os.path.isdir(leaf) else None
            dest = os.path.join(src_dir, f"{prefix}-{i}.parquet")
            if part is None:
                _land_single_parquet(
                    df.filter(slice_col.cast("int") == i).drop("__slice"), dest
                )
            else:
                os.replace(part, dest)
            # deterministic drain order regardless of write timing ties
            os.utime(dest, (now + i, now + i))
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _land_single_parquet(df: DataFrame, dest_file: str) -> None:
    """Write ``df`` as ONE parquet file at ``dest_file`` (the arrival
    contract of the watched source dir). Spark writes a single-part
    directory next to the destination; the driver's only role is the
    atomic rename of the finished part file — no row ever crosses the
    driver. maxRecordsPerFile=0 overrides a session-wide
    spark.sql.files.maxRecordsPerFile, which would otherwise split the
    one partition into several parts."""
    import shutil

    stage = dest_file + ".__stage__"
    try:
        df.coalesce(1).write.mode("overwrite").option(
            "maxRecordsPerFile", 0
        ).parquet(stage)
        part = _single_part(stage)
        if part is None:
            # zero-partition input (e.g. an empty arrival slice on a
            # degenerate timeline) writes only _SUCCESS; land an explicit
            # empty file with the same schema so the watched-dir contract
            # still holds
            df.limit(0).repartition(1).write.mode("overwrite").parquet(stage)
            part = _single_part(stage)
        os.replace(part, dest_file)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _last_committed_batch(checkpoint_dir: str) -> int:
    """Highest committed batchId in a streaming checkpoint's ``commits/``
    log (−1 if none). The commit log is the source of truth for how far
    a checkpointed query has progressed — unlike ``recentProgress``,
    which is a ring buffer capped at
    spark.sql.streaming.numRecentProgressUpdates (default 100) and
    silently truncates a long drain's batch count."""
    d = os.path.join(checkpoint_dir, "commits")
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return -1
    ids = [int(n) for n in names if n.isdigit()]
    return max(ids, default=-1)


def run_incremental_export(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> dict:
    """One availableNow cycle: consume whatever is in ``src_dir``, append
    windowed aggregates to ``out_dir`` as Parquet. Returns progress info.
    Re-running after new files land continues from the checkpoint —
    exactly-once append (CDC-style incremental export)."""
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    before = _last_committed_batch(checkpoint_dir)
    events = stream_events(spark, src_dir)
    agg = windowed_counts(events)
    flat = agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n_events",
        "approx_users",
    )
    q = (
        flat.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "windowed"))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Count this run's micro-batches from the checkpoint COMMIT LOG
    # (after − before on the committed batchId): recentProgress is a ring
    # buffer capped at numRecentProgressUpdates (default 100), so any
    # span derived from it — len() or first/last batchId — caps at the
    # buffer size for a long drain; lastProgress.batchId alone is
    # cumulative across the checkpoint's lifetime and would over-report
    # every cycle after the first.
    batches = _last_committed_batch(checkpoint_dir) - before
    return {
        "batches": batches,
        "sink_path": os.path.join(out_dir, "windowed"),
    }


INCREMENTAL_LATENESS_US = 30 * 60 * 1_000_000  # windowed_counts' "30 minutes"


def incremental_export_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(hour_start, event_type, n_events): TWO checkpointed availableNow
    cycles of ``run_incremental_export`` over a time-split events source
    — the early half drained in cycle 1, the late half landing as a new
    file and drained in cycle 2 from cycle 1's checkpoint. The
    accumulated parquet dump (append-only, exactly-once via the file
    source's checkpointed log) must equal the declarative batch
    aggregate restricted to CLOSED windows: window end at or before the
    final watermark (max event time − 30 min lateness). The oracle
    states exactly that, putting the CDC-style incremental-export path
    (previously pytest-only) under the full cross-engine hash gate.

    ``approx_users`` (HLL sketch) is excluded from the gated projection:
    approximate-distinct is engine-specific by construction; its
    streaming-equals-batch property is covered by
    tests/test_incremental_export.py.

    Split point is mid-timeline, so every cycle-2 event is newer than
    cycle 1's watermark (no cross-cycle late drops) — the real
    streaming-ingestion contract: arrival ordered to within the
    watermark tolerance. The split itself is Spark-side
    (stage_events_arrivals — no full-table driver read). Runs against
    throwaway source/sink/checkpoint dirs; result pinned with
    localCheckpoint before cleanup."""
    import shutil
    import tempfile

    src = tempfile.mkdtemp(prefix="dp_increxp_src_")
    out = tempfile.mkdtemp(prefix="dp_increxp_out_")
    try:
        for land in stage_events_arrivals(spark, sf_dir, src):
            land()
            info = run_incremental_export(spark, src, out)
        return (
            spark.read.parquet(info["sink_path"])
            .select(
                F.unix_timestamp("window_start").alias("hour_start"),
                "event_type",
                "n_events",
            )
            .orderBy("hour_start", "event_type")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(_hold_dir(src), ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


INCREMENTAL_EXPORT_CYCLES_SQL = f"""
WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
mx AS (SELECT MAX(us) AS m FROM e),
agg AS (
  SELECT (us // 3600000000) * 3600 AS hour_start, event_type,
         COUNT(*) AS n_events
  FROM e GROUP BY 1, 2
)
SELECT hour_start, event_type, n_events FROM agg, mx
WHERE (hour_start + 3600) * 1000000 <= m - {INCREMENTAL_LATENESS_US}
ORDER BY hour_start, event_type
"""


def batch_equivalent(spark: SparkSession, src_dir: str) -> DataFrame:
    """The batch query the stream must converge to (same expressions)."""
    from ..events_source import pin_utc

    pin_utc(spark)
    df = _with_event_time(spark.read.parquet(src_dir))
    return (
        df.groupBy(F.window("event_time", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "approx_users",
        )
    )


# ---------------------------------------------------------------------------
# CDC APPLY: streaming MERGE into a warehouse table through the engine
# ---------------------------------------------------------------------------


def run_merge_apply_cycle(
    spark: SparkSession,
    src_dir: str,
    wh_dir: str,
    checkpoint_dir: str,
    extra_cols: "dict[str, object] | None" = None,
    allow_evolution: bool = False,
    merge_order: "str | None" = None,
    merge_delete_col: "str | None" = None,
) -> None:
    """One availableNow cycle of the CDC *apply* path: tail the events
    source and, per micro-batch, upsert the newest state per user into a
    warehouse table through the FULL datapump lifecycle —
    foreachBatch → reduce to latest-per-key → EXPORT the batch as a dump
    set → IMPORT with TABLE_EXISTS_ACTION(MERGE) + MERGE_KEY(user_id).
    The streaming sink and the batch importer share one merge
    implementation (merge.py's newest-wins window), so there is no
    second upsert codepath to drift.

    Exactly-once story: the file source's checkpoint makes each batch
    replay-at-least-once, and the apply is IDEMPOTENT — re-merging the
    same reduced batch picks the same survivors (incoming equals what
    the warehouse already holds), so at-least-once replay converges to
    exactly-once state. At scale the per-batch dump hop is the
    standard staging-table pattern; the merge shuffles on the key like
    any upsert.

    ``extra_cols`` ({name: Column}) widens the reduced batch — the
    producer-evolved-its-schema scenario; pair it with
    ``allow_evolution=True`` so the IMPORT carries
    DATA_OPTIONS(ALLOW_SCHEMA_EVOLUTION) and the warehouse widens
    by-name (existing rows null-fill) instead of erroring."""
    import shutil
    import tempfile

    from pyspark.sql import Window as W

    from ..base import JobMode, Operation
    from ..catalog import ParquetConnector
    from ..directives import DirectiveBase as D
    from ..job import Job

    stream = stream_events(spark, src_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # probe the RAW batch: an empty input implies an empty reduction,
        # and probing the reduced frame would run the row_number window
        # twice (once for the probe, once for the write)
        if batch_df.isEmpty():
            return
        reduced = (
            batch_df.withColumn("ts_us", F.unix_micros("event_time"))
            .withColumn(
                "__rn",
                F.row_number().over(
                    W.partitionBy("user_id").orderBy(
                        F.desc("ts_us"), F.desc("event_id")
                    )
                ),
            )
            .filter(F.col("__rn") == 1)
            .select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                F.col("ts_us").alias("last_ts_us"),
                F.col("event_type").alias("last_event_type"),
                F.expr("CAST(floor(value * 100) AS LONG)").alias(
                    "last_value_cents"
                ),
            )
        )
        for cname, cexpr in (extra_cols or {}).items():
            reduced = reduced.withColumn(cname, cexpr)
        stage = tempfile.mkdtemp(prefix="dp_apply_stage_")
        dump = tempfile.mkdtemp(prefix="dp_apply_dump_")
        try:
            reduced.write.mode("overwrite").parquet(
                os.path.join(stage, "user_state.parquet")
            )
            st = Job(
                Operation.EXPORT,
                JobMode.TABLE,
                dumpfiles=dump,
                directives=[
                    D.INCLUDE_SCHEMA("main"),
                    D.INCLUDE_TABLE("user_state"),
                ],
            ).run(wait=True, connection=ParquetConnector(stage), spark=spark)
            if st.job_state != "COMPLETED":
                raise RuntimeError(f"apply export failed: {st.error}")
            imp_directives = [
                D.REMAP_SCHEMA("main", "tgt"),
                D.TABLE_EXISTS_ACTION("MERGE"),
                D.MERGE_KEY("user_id"),
            ]
            if merge_order:
                imp_directives.append(D.MERGE_ORDER(merge_order))
            if merge_delete_col:
                imp_directives.append(D.MERGE_DELETE_COL(merge_delete_col))
            if allow_evolution:
                imp_directives.append(D.DATA_OPTIONS("ALLOW_SCHEMA_EVOLUTION"))
            st = Job(
                Operation.IMPORT,
                JobMode.TABLE,
                dumpfiles=dump,
                directives=imp_directives,
            ).run(wait=True, connection=ParquetConnector(wh_dir), spark=spark)
            if st.job_state != "COMPLETED":
                raise RuntimeError(f"apply merge failed: {st.error}")
        finally:
            shutil.rmtree(stage, ignore_errors=True)
            shutil.rmtree(dump, ignore_errors=True)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, last_event_id, last_ts_us, last_event_type,
    last_value_cents): TWO checkpointed availableNow CDC-apply cycles
    over a time-split events source — early half merged in cycle 1, the
    late half landing as a new file and merged in cycle 2 from cycle
    1's checkpoint, each micro-batch flowing through the real datapump
    EXPORT → IMPORT(MERGE) lifecycle. The final warehouse table must
    equal the batch "latest event per user" query — the oracle states
    exactly that, putting the streaming upsert path (sibling of the
    export-side incremental_export_cycles) under the cross-engine hash.

    The time split guarantees every cycle-2 row is newer than any
    cycle-1 row for the same user, so merge.py's incoming-beats-
    existing precedence IS newest-wins across cycles; within a batch
    the explicit (ts_us, event_id) reduction pins the survivor. The
    arrival split is Spark-side (stage_events_arrivals)."""
    import shutil
    import tempfile

    from ..catalog import ParquetConnector

    src = tempfile.mkdtemp(prefix="dp_apply_src_")
    wh = tempfile.mkdtemp(prefix="dp_apply_wh_")
    cp = tempfile.mkdtemp(prefix="dp_apply_cp_")
    try:
        for land in stage_events_arrivals(spark, sf_dir, src):
            land()
            run_merge_apply_cycle(spark, src, wh, cp)
        out = (
            ParquetConnector(wh)
            .read_table(spark, "tgt", "user_state")
            .orderBy("user_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(_hold_dir(src), ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(cp, ignore_errors=True)


STREAMING_MERGE_APPLY_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
         CAST(floor(value * 100) AS BIGINT) AS value_cents
  FROM events
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts_us DESC, event_id DESC) AS rn
  FROM e
)
SELECT user_id, event_id AS last_event_id, ts_us AS last_ts_us,
       event_type AS last_event_type, value_cents AS last_value_cents
FROM r WHERE rn = 1
ORDER BY user_id
"""


def streaming_merge_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming_merge_apply's out-of-order sibling: the arrival order is
    REVERSED (late half lands in cycle 1, early half in cycle 2), so
    cycle 2 delivers per-user versions OLDER than state already merged —
    the late-upsert hazard every CDC apply path has. The import carries
    MERGE_ORDER(last_ts_us,last_event_id), so the survivor is the
    last writer BY EVENT TIME, not by arrival: the converged warehouse
    must still equal the batch "latest event per user" query (the same
    oracle as streaming_merge_apply), which the default
    incoming-beats-existing precedence would get WRONG here — cycle 2's
    stale rows would clobber newer state. That asymmetry is the test:
    arrival-order-independence under the cross-engine hash.

    At scale this is the standard CDC version-column contract (Kafka
    compaction's offset ordering, Debezium's source.ts_ms): the merge
    stays one key-shuffled window; the version compare is row-local."""
    import shutil
    import tempfile

    from ..catalog import ParquetConnector

    src = tempfile.mkdtemp(prefix="dp_late_src_")
    wh = tempfile.mkdtemp(prefix="dp_late_wh_")
    cp = tempfile.mkdtemp(prefix="dp_late_cp_")
    try:
        for land in stage_events_arrivals(spark, sf_dir, src, reverse=True):
            land()
            run_merge_apply_cycle(
                spark, src, wh, cp, merge_order="last_ts_us,last_event_id"
            )
        out = (
            ParquetConnector(wh)
            .read_table(spark, "tgt", "user_state")
            .orderBy("user_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(_hold_dir(src), ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(cp, ignore_errors=True)


STREAMING_MERGE_LATE_SQL = STREAMING_MERGE_APPLY_SQL


def streaming_merge_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming_merge_apply's tombstone sibling: cycle 2's CDC batch
    carries MERGE_DELETE_COL(is_deleted) — the producer retracts every
    user whose newest state has last_value_cents divisible by 10 (the
    deterministic stand-in for a GDPR erasure feed). The converged
    warehouse must equal latest-per-user MINUS exactly the users whose
    overall-latest event is in the late half and matches the retract
    rule — the oracle states that set declaratively, so both the delete
    semantics AND their interaction with the survivor window (a
    tombstone deletes only when it IS the winning version) sit under the
    cross-engine value hash.

    At scale this is the Debezium op='d' contract: deletes ride the
    same key-shuffled merge window as upserts — no second codepath, no
    read-modify-write on the driver."""
    import shutil
    import tempfile

    from ..catalog import ParquetConnector

    src = tempfile.mkdtemp(prefix="dp_del_src_")
    wh = tempfile.mkdtemp(prefix="dp_del_wh_")
    cp = tempfile.mkdtemp(prefix="dp_del_cp_")
    try:
        arrivals = stage_events_arrivals(spark, sf_dir, src)
        tombstone = {
            "is_deleted": F.expr("last_value_cents % 10 = 0")
        }
        for i, land in enumerate(arrivals):
            land()
            last = i == len(arrivals) - 1
            run_merge_apply_cycle(
                spark,
                src,
                wh,
                cp,
                extra_cols=tombstone if last else None,
                merge_delete_col="is_deleted" if last else None,
            )
        out = (
            ParquetConnector(wh)
            .read_table(spark, "tgt", "user_state")
            .orderBy("user_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(_hold_dir(src), ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(cp, ignore_errors=True)


STREAMING_MERGE_DELETE_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
         CAST(floor(value * 100) AS BIGINT) AS value_cents
  FROM events
),
m AS (SELECT MIN(ts_us) + (MAX(ts_us) - MIN(ts_us)) // 2 AS mid FROM e),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts_us DESC, event_id DESC) AS rn
  FROM e
)
SELECT user_id, event_id AS last_event_id, ts_us AS last_ts_us,
       event_type AS last_event_type, value_cents AS last_value_cents
FROM r
WHERE rn = 1
  AND NOT (ts_us >= (SELECT mid FROM m) AND value_cents % 10 = 0)
ORDER BY user_id
"""


def streaming_merge_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming_merge_apply's schema-evolution sibling: cycle 2's
    producer has widened its payload with ``last_hour_idx`` (the
    survivor's hour index), and the CDC apply path carries
    DATA_OPTIONS(ALLOW_SCHEMA_EVOLUTION), so the warehouse table widens
    by-name mid-stream — users whose newest event arrived in cycle 1
    null-fill the new column, users updated in cycle 2 carry it. The
    oracle derives the identical rule declaratively (hour of the
    overall-latest event iff that event sits at or past the
    mid-timeline split), putting the reference's DATA_OPTIONS surface
    (reference directives.py:227-238) under the cross-engine hash on
    the STREAMING path — tests/test_schema_evolution.py proves the
    batch path.

    The degenerate single-arrival fallback runs the evolved schema for
    the whole fixture; the oracle's >= mid predicate is then uniformly
    true, so both engines agree without a special case."""
    import shutil
    import tempfile

    from ..catalog import ParquetConnector

    src = tempfile.mkdtemp(prefix="dp_evolve_src_")
    wh = tempfile.mkdtemp(prefix="dp_evolve_wh_")
    cp = tempfile.mkdtemp(prefix="dp_evolve_cp_")
    try:
        arrivals = stage_events_arrivals(spark, sf_dir, src)
        evolved = {
            "last_hour_idx": F.expr(
                "CAST(last_ts_us DIV 3600000000 AS LONG)"
            )
        }
        for i, land in enumerate(arrivals):
            land()
            last = i == len(arrivals) - 1
            run_merge_apply_cycle(
                spark,
                src,
                wh,
                cp,
                extra_cols=evolved if last else None,
                allow_evolution=last,
            )
        out = (
            ParquetConnector(wh)
            .read_table(spark, "tgt", "user_state")
            .orderBy("user_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(_hold_dir(src), ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(cp, ignore_errors=True)


STREAMING_MERGE_EVOLVE_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
         CAST(floor(value * 100) AS BIGINT) AS value_cents
  FROM events
),
m AS (SELECT MIN(ts_us) + (MAX(ts_us) - MIN(ts_us)) // 2 AS mid FROM e),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts_us DESC, event_id DESC) AS rn
  FROM e
)
SELECT user_id, event_id AS last_event_id, ts_us AS last_ts_us,
       event_type AS last_event_type, value_cents AS last_value_cents,
       CASE WHEN ts_us >= (SELECT mid FROM m)
            THEN ts_us // 3600000000 END AS last_hour_idx
FROM r WHERE rn = 1
ORDER BY user_id
"""


def streaming_merge_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming_merge_apply's at-least-once sibling: after cycle 1 the
    source CHECKPOINT IS LOST (rmtree — the operator simulates a failed
    driver whose checkpoint volume didn't survive), so the next cycle
    REDELIVERS the already-merged arrival file in full before the late
    half lands and merges in a third cycle. The converged warehouse must
    still equal the batch "latest event per user" query (the same oracle
    as streaming_merge_apply) — which holds only if the EXPORT →
    IMPORT(MERGE) apply is IDEMPOTENT: re-merging a batch whose reduced
    rows equal state already applied must pick the same survivors.
    run_merge_apply_cycle's docstring claims exactly that convergence;
    this query puts the claim under the cross-engine value hash instead
    of leaving it prose.

    At scale this is the recovery contract every checkpointed CDC
    pipeline leans on: sources redeliver on checkpoint loss
    (Kafka offsets rewound, file sources re-listed), and exactly-once
    STATE comes from idempotent application, not from exactly-once
    delivery. The replay cycle costs one extra |batch|-keyed merge; no
    new codepath."""
    import shutil
    import tempfile

    from ..catalog import ParquetConnector

    src = tempfile.mkdtemp(prefix="dp_replay_src_")
    wh = tempfile.mkdtemp(prefix="dp_replay_wh_")
    cp = tempfile.mkdtemp(prefix="dp_replay_cp_")
    try:
        arrivals = stage_events_arrivals(spark, sf_dir, src)
        for i, land in enumerate(arrivals):
            land()
            run_merge_apply_cycle(spark, src, wh, cp)
            if i == 0:
                # checkpoint loss: the file source forgets what it has
                # consumed; the next cycle replays every landed file
                shutil.rmtree(cp, ignore_errors=True)
                os.makedirs(cp, exist_ok=True)
                run_merge_apply_cycle(spark, src, wh, cp)
        out = (
            ParquetConnector(wh)
            .read_table(spark, "tgt", "user_state")
            .orderBy("user_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(_hold_dir(src), ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(cp, ignore_errors=True)


STREAMING_MERGE_REPLAY_SQL = STREAMING_MERGE_APPLY_SQL


def streaming_merge_late_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE_ORDER × MERGE_DELETE_COL composition — tombstones
    arriving OUT OF ORDER, the corner every real CDC feed hits
    (partition rebalance, backfill replay): after the reversed two-cycle
    merge of streaming_merge_late converges, a THIRD batch delivers one
    tombstone per user whose version is deliberately mixed — users with
    user_id % 3 = 0 get a WINNING version (last_ts_us + 1) and everyone
    else a STALE one (last_ts_us − 1). Under
    MERGE_ORDER(last_ts_us,last_event_id) a tombstone is just a version
    like any other: the stale ones must NOT delete (the applied state is
    newer — deleting would be the arrival-ordered wrong answer) and the
    winning ones MUST. The converged warehouse therefore equals
    latest-per-user MINUS the user_id % 3 = 0 users — both directions of
    the version×tombstone matrix non-vacuous at every fixture scale,
    under the cross-engine value hash. Directive-level matrix and both
    negative proofs: tests/test_merge_late_delete.py.

    At scale this is Debezium op='d' under out-of-order delivery:
    deletes ride the SAME key-shuffled survivor window as upserts —
    tombstone precedence is a row-local version compare, no driver
    state, no second codepath. Reference precedent:
    TABLE_EXISTS_ACTION conflict policy (reference
    directives.py:372-376) is the closest the reference gets to upsert
    semantics; the version×tombstone matrix is the Spark-first
    extension."""
    import shutil
    import tempfile

    from pyspark.sql import Window as W

    from ..base import JobMode, Operation
    from ..catalog import ParquetConnector
    from ..directives import DirectiveBase as D
    from ..events_source import load_events
    from ..job import Job

    src = tempfile.mkdtemp(prefix="dp_ld_src_")
    wh = tempfile.mkdtemp(prefix="dp_ld_wh_")
    cp = tempfile.mkdtemp(prefix="dp_ld_cp_")
    stage = tempfile.mkdtemp(prefix="dp_ld_tomb_stage_")
    dump = tempfile.mkdtemp(prefix="dp_ld_tomb_dump_")
    try:
        for land in stage_events_arrivals(spark, sf_dir, src, reverse=True):
            land()
            run_merge_apply_cycle(
                spark, src, wh, cp, merge_order="last_ts_us,last_event_id"
            )
        # third batch: one tombstone per user, version = overall-latest
        # ts ± 1 — winning for user_id % 3 = 0, stale for the rest
        ev = load_events(spark, sf_dir)
        tomb = (
            ev.withColumn(
                "__rn",
                F.row_number().over(
                    W.partitionBy("user_id").orderBy(
                        F.desc("ts_us"), F.desc("event_id")
                    )
                ),
            )
            .filter(F.col("__rn") == 1)
            .select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                (
                    F.col("ts_us")
                    + F.when(F.col("user_id") % 3 == 0, F.lit(1)).otherwise(
                        F.lit(-1)
                    )
                ).alias("last_ts_us"),
                F.col("event_type").alias("last_event_type"),
                F.expr("CAST(floor(value * 100) AS LONG)").alias(
                    "last_value_cents"
                ),
                F.lit(True).alias("is_deleted"),
            )
        )
        tomb.write.mode("overwrite").parquet(
            os.path.join(stage, "user_state.parquet")
        )
        st = Job(
            Operation.EXPORT,
            JobMode.TABLE,
            dumpfiles=dump,
            directives=[D.INCLUDE_SCHEMA("main"), D.INCLUDE_TABLE("user_state")],
        ).run(wait=True, connection=ParquetConnector(stage), spark=spark)
        if st.job_state != "COMPLETED":
            raise RuntimeError(f"tombstone export failed: {st.error}")
        st = Job(
            Operation.IMPORT,
            JobMode.TABLE,
            dumpfiles=dump,
            directives=[
                D.REMAP_SCHEMA("main", "tgt"),
                D.TABLE_EXISTS_ACTION("MERGE"),
                D.MERGE_KEY("user_id"),
                D.MERGE_ORDER("last_ts_us,last_event_id"),
                D.MERGE_DELETE_COL("is_deleted"),
            ],
        ).run(wait=True, connection=ParquetConnector(wh), spark=spark)
        if st.job_state != "COMPLETED":
            raise RuntimeError(f"tombstone merge failed: {st.error}")
        out = (
            ParquetConnector(wh)
            .read_table(spark, "tgt", "user_state")
            .orderBy("user_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(_hold_dir(src), ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(cp, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(dump, ignore_errors=True)


STREAMING_MERGE_LATE_DELETE_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
         CAST(floor(value * 100) AS BIGINT) AS value_cents
  FROM events
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts_us DESC, event_id DESC) AS rn
  FROM e
)
SELECT user_id, event_id AS last_event_id, ts_us AS last_ts_us,
       event_type AS last_event_type, value_cents AS last_value_cents
FROM r
WHERE rn = 1 AND user_id % 3 <> 0
ORDER BY user_id
"""
