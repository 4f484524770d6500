"""Structured Streaming incremental export: availableNow cycles must
converge to the batch result, and a second cycle after new data appends
only the new windows (exactly-once)."""

import os
import shutil

from oracledb_datapump_spark.streaming import incremental as I


def _copy_parquet(src_file: str, dst_dir: str, name: str):
    os.makedirs(dst_dir, exist_ok=True)
    shutil.copy(src_file, os.path.join(dst_dir, name))


def test_incremental_converges_to_batch(spark, sf_dir, tmp_path):
    src = str(tmp_path / "stream_src")
    out = str(tmp_path / "stream_out")
    _copy_parquet(f"{sf_dir}/events.parquet", src, "part-0.parquet")

    info = I.run_incremental_export(spark, src, out)
    assert info["batches"] >= 1

    got = spark.read.parquet(info["sink_path"])
    want = I.batch_equivalent(spark, src)
    g = {(r.window_start, r.window_end, r.event_type): r.n_events for r in got.collect()}
    w = {(r.window_start, r.window_end, r.event_type): r.n_events for r in want.collect()}
    # append mode only emits windows the watermark has passed: every
    # emitted window must match batch exactly, and anything missing must
    # sit within the 30-minute watermark horizon of the max event time.
    assert g, "stream emitted nothing"
    for k, v in g.items():
        assert w.get(k) == v, k
    horizon = max(ws for (ws, _, _) in w) if w else None
    import datetime as dt

    for k in set(w) - set(g):
        assert k[0] >= horizon - dt.timedelta(hours=1), f"non-tail window missing: {k}"


def test_second_cycle_is_incremental(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src2")
    out = str(tmp_path / "out2")
    _copy_parquet(f"{sf_dir}/events.parquet", src, "a.parquet")
    I.run_incremental_export(spark, src, out)
    n1 = spark.read.parquet(os.path.join(out, "windowed")).count()

    # no new data → no new rows
    I.run_incremental_export(spark, src, out)
    n2 = spark.read.parquet(os.path.join(out, "windowed")).count()
    assert n2 == n1


def test_stream_cms_converges_to_batch(spark, sf_dir, tmp_path):
    """The streaming CMS's checkpointed cell state must equal the batch
    sketch after an availableNow drain, and a second cycle over new data
    must fold in only the increment (state survives the restart)."""
    from pyspark.sql import functions as F

    from oracledb_datapump_spark.streaming import sketch as SK

    src = str(tmp_path / "cms_src")
    out = str(tmp_path / "cms_out")
    _copy_parquet(f"{sf_dir}/events.parquet", src, "part-0.parquet")

    info = SK.run_cms_cycle(spark, src, out)
    got = (
        spark.read.parquet(info["sink_path"])
        .groupBy("row", "counter")
        .agg(F.max("c").alias("c"))
    )
    want = SK.batch_cms_cells(spark, src)
    g = {(r.row, r.counter): r.c for r in got.collect()}
    w = {(r.row, r.counter): r.c for r in want.collect()}
    assert g == w

    # cycle 2: duplicate the data; totals must double, via state + delta
    _copy_parquet(f"{sf_dir}/events.parquet", src, "part-1.parquet")
    SK.run_cms_cycle(spark, src, out)
    got2 = (
        spark.read.parquet(info["sink_path"])
        .groupBy("row", "counter")
        .agg(F.max("c").alias("c"))
    )
    g2 = {(r.row, r.counter): r.c for r in got2.collect()}
    assert g2 == {k: 2 * v for k, v in w.items()}


def test_rollup_watermark_tie_boundary(spark, tmp_path):
    """Pin which side of an EXACT window_end == watermark tie Spark's
    append-mode eviction emits (ADVICE r4: the shipped fixtures'
    microsecond-random timestamps make a tie measure-zero, so the
    rollup/sessions/attribution oracles' `<=` comparators were only
    accidentally safe). Fixture: max event 01:30:00.000000, lateness
    30 min → final watermark 01:00:00.000000 == end of window
    [00:00, 01:00). The SQL twin (STREAMING_ROLLUP_CLOSED_SQL) uses
    window_end <= watermark → the tied window counts as CLOSED; this
    test asserts Spark agrees, so a regenerated hour-aligned fixture
    cannot flip the gate."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from oracledb_datapump_spark.streaming import dedup as SD

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # window [00:00, 01:00): two events
        (1, base + dt.timedelta(minutes=10), 7, "x", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=20), 7, "x", 1.0, "{}"),
        # max event: EXACTLY 01:30:00 → watermark lands EXACTLY on 01:00:00
        (3, base + dt.timedelta(minutes=90), 7, "x", 1.0, "{}"),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    src = tmp_path / "tie_src"
    out = str(tmp_path / "tie_out")
    src.mkdir()
    pq.write_table(tbl, str(src / "events.parquet"))

    info = SD.run_rollup_export(spark, str(src), out)
    got = {
        (r.hour_start, r.event_type): r.n_events
        for r in spark.read.parquet(info["sink_path"]).collect()
    }
    epoch = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    # the tied window IS closed (window_end <= watermark) — matching the
    # oracle's <= comparator; the 01:00 window (watermark not past its
    # end) must NOT appear
    assert got == {(epoch, "x"): 2}, got


def test_stream_empty_source_dir_rejected(spark, tmp_path):
    """ADVICE r4: a readStream schema fixed against an EMPTY directory
    would default the ts type and silently drop every row of
    later-landing files with a different physical type — construction
    must fail loudly instead."""
    import pytest

    from oracledb_datapump_spark.events_source import stream_events_raw

    empty = tmp_path / "empty_src"
    empty.mkdir()
    with pytest.raises(ValueError, match="no parquet files"):
        stream_events_raw(spark, str(empty))


def test_rollup_two_cycle_incremental_append(spark, sf_dir, tmp_path):
    """The gated streaming_rollup_closed runs TWO availableNow cycles
    over a time-split source; this pins that the incremental claim is
    real: cycle 1 emits some closed windows, cycle 2 (resuming from the
    checkpoint) appends strictly more, and no window is emitted twice."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from oracledb_datapump_spark.streaming import dedup as SD

    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    ts = tbl.column("ts")
    lo, hi = pc.min(ts).as_py(), pc.max(ts).as_py()
    mid = lo + (hi - lo) // 2 if isinstance(lo, int) else lo + (hi - lo) / 2
    src = tmp_path / "mb_src"
    out = str(tmp_path / "mb_out")
    src.mkdir()
    pq.write_table(tbl.filter(pc.less(ts, mid)), str(src / "events-0.parquet"))
    info = SD.run_rollup_export(spark, str(src), out)
    c1 = spark.read.parquet(info["sink_path"]).collect()
    assert len(c1) > 0, "cycle 1 must emit closed windows"
    pq.write_table(
        tbl.filter(pc.greater_equal(ts, mid)), str(src / "events-1.parquet")
    )
    SD.run_rollup_export(spark, str(src), out)
    c2 = spark.read.parquet(info["sink_path"]).collect()
    assert len(c2) > len(c1), "cycle 2 must append newly-closed windows"
    keys = [(r.hour_start, r.event_type) for r in c2]
    assert len(keys) == len(set(keys)), "append-once violated"


def _events_table(rows):
    """rows: (event_id, ts datetime, user_id, event_type) → arrow table
    with the fixture schema."""
    import pyarrow as pa

    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )


def test_sessions_gap_tie_boundary(spark, tmp_path):
    """Pin the exact-gap tie for the sessionizer oracles (r5 verdict ask
    #5): a gap of EXACTLY SESSION_GAP_US does NOT split a session (both
    the stateful tracker and the batch SQL use a STRICT `>`), while
    SESSION_GAP_US + 1µs does. An hour-aligned regenerated fixture can
    therefore never flip the streaming_sessions_closed gate."""
    import datetime as dt

    import pyarrow.parquet as pq

    from oracledb_datapump_spark.streaming import stateful as ST

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    gap_us = ST.SESSION_GAP_US
    t2 = base + dt.timedelta(microseconds=gap_us)  # tie: SAME session
    t3 = t2 + dt.timedelta(microseconds=gap_us + 1)  # 1µs past: NEW session
    t4 = t3 + dt.timedelta(microseconds=2 * gap_us)  # open tail (dropped)
    rows = [(1, base, 7, "x"), (2, t2, 7, "x"), (3, t3, 7, "x"), (4, t4, 7, "x")]
    src = tmp_path / "sess_tie_src"
    out = str(tmp_path / "sess_tie_out")
    src.mkdir()
    pq.write_table(_events_table(rows), str(src / "events.parquet"))

    info = ST.run_session_export(spark, str(src), out, idle_flush_ms=0)
    got = sorted(
        (r.session_seq, r.n_events, r.session_start_us, r.session_end_us)
        for r in spark.read.parquet(info["sink_path"]).collect()
    )

    def us(d):
        return int(d.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    # session 1 = events 1+2 (the exact-gap event stays), session 2 =
    # event 3 alone (closed by event 4's gap); event 4's session is the
    # user's open tail and must NOT be emitted
    assert got == [(1, 2, us(base), us(t2)), (2, 1, us(t3), us(t3))], got


def test_attribution_horizon_tie_boundary(spark, tmp_path):
    """Pin both inclusive edges of the attribution interval join's
    oracle (r5 verdict ask #5): a click EXACTLY HORIZON before the
    purchase attributes (`>=` comparator), a click at EXACTLY the
    purchase time attributes (`<=` comparator), and a click 1µs before
    the horizon does not. Hour-aligned timestamps can't flip the
    streaming_attribution_pairs gate."""
    import datetime as dt

    import pyarrow.parquet as pq

    from oracledb_datapump_spark.streaming import joins as SJ

    base = dt.datetime(2024, 1, 1, 2, 0, 0)  # purchase time
    hz = SJ.ATTRIBUTION_HORIZON_US
    rows = [
        (1, base - dt.timedelta(microseconds=hz), 7, "click"),  # tie: IN
        (2, base, 7, "click"),  # equal-time tie: IN
        (3, base - dt.timedelta(microseconds=hz + 1), 7, "click"),  # OUT
        (4, base, 7, "purchase"),
    ]
    src = tmp_path / "attr_tie_src"
    out = str(tmp_path / "attr_tie_out")
    src.mkdir()
    pq.write_table(_events_table(rows), str(src / "events.parquet"))

    info = SJ.run_attribution_export(spark, str(src), out)
    got = sorted(
        (r.purchase_id, r.click_id, r.gap_us)
        for r in spark.read.parquet(info["sink_path"]).collect()
    )
    assert got == [(4, 1, hz), (4, 2, 0)], got


def test_arrivals_land_every_row_under_session_file_cap(spark, tmp_path):
    """A session-wide spark.sql.files.maxRecordsPerFile splits a staging
    write into several part files; landing only the first one dropped
    rows. Every arrival helper must land all rows in one file."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    try:
        one = os.path.join(src, "one.parquet")
        I._land_single_parquet(df, one)
        assert spark.read.parquet(one).count() == 3
        I.land_slices_single_pass(df, F.lit(0), 1, src, prefix="s")
        assert spark.read.parquet(os.path.join(src, "s-0.parquet")).count() == 3
        assert sorted(os.listdir(src)) == ["one.parquet", "s-0.parquet"]
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
