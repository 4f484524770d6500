"""Streaming bottom-k (KMV) distinct sketch over the events user stream.

The K-Minimum-Values sketch (Bar-Yossef et al. 2002; Beyer et al.
SIGMOD'07 "distinct sampling") is the rare streaming structure whose
final state is EXACTLY order-independent: the k smallest hash values of
a set are the same no matter how the stream is batched, so the
streaming run's state must equal the batch SQL `ORDER BY h LIMIT k` —
a strict cross-engine hash gate on a stateful streaming operator, not
a rows-only check.

The cycle stages the events fixture in two halves and drains them with
``maxFilesPerTrigger=1`` under ``availableNow``, so the state REALLY
merges across two micro-batches (a single-batch run would prove
nothing about incremental maintenance). foreachBatch folds each
batch's distinct user hashes into a k-row parquet state, published
whole by ``dumpset.staged``. The KMV estimator
n̂ = (k−1)·2⁶⁰ div h₍ₖ₎ is exact integer arithmetic — hash64 is
uniform on [0, 2⁶⁰).

At 100 TB the state is k rows regardless of stream size, the
per-batch work is one distinct + one k-row merge, and the same state
doubles as a uniform distinct-value SAMPLE (the Beyer et al. reading)
— the streaming form of the engine's bottom-k sampling story.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dumpset import staged
from ..events_source import events_stream_schema, pin_utc
from ..functions.text import hash64, sql_hash64

KMV_K = 64
_M = 1 << 60  # hash64 range


def _fold_state(spark: SparkSession, state_dir: str, batch_df, _bid: int):
    bh = (
        batch_df.select(
            hash64(
                F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))
            ).alias("h")
        )
        .distinct()
    )
    cur = os.path.join(state_dir, "state")
    if os.path.isdir(cur):
        merged = spark.read.parquet(cur).unionByName(bh)
    else:
        merged = bh
    topk = merged.distinct().orderBy("h").limit(KMV_K)
    with staged(cur) as stage:
        topk.write.mode("overwrite").parquet(stage)


def streaming_bottomk_distinct(spark: SparkSession, src_dir: str) -> DataFrame:
    """(k, kth_hash, est_distinct, true_distinct): two-micro-batch KMV
    cycle over the events user stream. ``k`` is the state size actually
    held, ``kth_hash`` the largest retained hash, ``est_distinct`` the
    KMV estimate (k−1)·2⁶⁰ div kth_hash, ``true_distinct`` the exact
    batch COUNT(DISTINCT user_id) for calibration. Order-independence
    of bottom-k makes the streaming state bit-identical to the batch
    oracle's ORDER BY h LIMIT k — gated, not asserted."""
    pin_utc(spark)
    src = tempfile.mkdtemp(prefix="dp_kmv_src_")
    work = tempfile.mkdtemp(prefix="dp_kmv_state_")
    try:
        # stage the fixture as two SINGLE-FILE halves (the file stream
        # source lists plain files) → two real micro-batches
        import glob as _glob

        ev = spark.read.parquet(os.path.join(src_dir, "events.parquet"))
        mid = ev.agg(
            F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
        ).select(F.expr("(lo + hi) div 2").alias("m")).first()["m"]
        for i, half in enumerate(
            (
                ev.filter(F.col("event_id") <= mid),
                ev.filter(F.col("event_id") > mid),
            )
        ):
            tmp = os.path.join(work, f"stage{i}")
            half.coalesce(1).write.parquet(tmp)
            [part] = _glob.glob(os.path.join(tmp, "part-*.parquet"))
            shutil.move(part, os.path.join(src, f"half-{i}.parquet"))
            shutil.rmtree(tmp, ignore_errors=True)
        stream = (
            spark.readStream.schema(events_stream_schema(src))
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: _fold_state(spark, work, df, bid)
            )
            .option(
                "checkpointLocation", os.path.join(work, "_kmv_ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        state = spark.read.parquet(os.path.join(work, "state"))
        true_distinct = ev.select("user_id").distinct().count()
        out = state.agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.max("h").cast("long").alias("kth_hash"),
        ).select(
            "k",
            "kth_hash",
            F.expr(f"CAST(((k - 1) * CAST({_M} AS DECIMAL(38,0)))"
                   " div kth_hash AS BIGINT)").alias("est_distinct"),
            F.lit(int(true_distinct)).cast("long").alias("true_distinct"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)


STREAMING_BOTTOMK_DISTINCT_SQL = f"""
WITH u AS (SELECT DISTINCT user_id FROM events),
h AS (SELECT {sql_hash64("'kmv:' || CAST(user_id AS VARCHAR)")} AS h FROM u),
bk AS (SELECT h FROM h ORDER BY h LIMIT {KMV_K})
SELECT CAST(COUNT(*) AS BIGINT) AS k,
       CAST(MAX(h) AS BIGINT) AS kth_hash,
       CAST(((COUNT(*) - 1) * CAST({_M} AS HUGEINT)) // MAX(h) AS BIGINT)
         AS est_distinct,
       CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS true_distinct
FROM bk
"""
