"""CDC-style incremental export (INCREMENTAL_COLUMN directive): first run
full, later runs append only rows past the manifest watermark."""

from oracledb_datapump_spark import Job, JobState
from oracledb_datapump_spark.directives import DirectiveBase as D
from oracledb_datapump_spark.dumpset import DumpSet


def _export(duck, spark, dump):
    return Job(
        "EXPORT", "TABLE", dumpfiles=dump,
        directives=[
            D.INCLUDE_SCHEMA("inc1"),
            D.INCLUDE_TABLE("tx"),
            D.INCREMENTAL_COLUMN("id", object_path="tx"),
        ],
    ).run(connection=duck, spark=spark)


def test_incremental_export_appends_only_new_rows(spark, tmp_path):
    from oracledb_datapump_spark.catalog import DuckDbConnector

    duck = DuckDbConnector(":memory:")
    duck.execute("CREATE SCHEMA inc1")
    duck.execute("CREATE TABLE inc1.tx(id BIGINT, amount DOUBLE)")
    duck.execute("INSERT INTO inc1.tx SELECT range, range * 1.5 FROM range(100)")

    dump = str(tmp_path / "incdump")
    st = _export(duck, spark, dump)
    assert st.job_state == JobState.COMPLETED.value
    meta = DumpSet(dump).read_manifest()
    assert meta.tables["inc1.tx"]["watermark"] == 99
    assert spark.read.parquet(f"{dump}/inc1/tx").count() == 100

    # new rows land in the source; re-export appends exactly those
    duck.execute(
        "INSERT INTO inc1.tx SELECT range, range * 1.5 FROM range(100, 150)"
    )
    st = _export(duck, spark, dump)
    assert st.job_state == JobState.COMPLETED.value
    df = spark.read.parquet(f"{dump}/inc1/tx")
    assert df.count() == 150  # no duplicates of the first 100
    assert df.select("id").distinct().count() == 150
    meta = DumpSet(dump).read_manifest()
    assert meta.tables["inc1.tx"]["watermark"] == 149
    assert meta.tables["inc1.tx"]["row_count"] == 150

    # idle run: nothing new → nothing appended
    st = _export(duck, spark, dump)
    assert st.job_state == JobState.COMPLETED.value
    assert spark.read.parquet(f"{dump}/inc1/tx").count() == 150


def test_merge_apply_replay_is_idempotent(spark, tmp_path):
    """The CDC apply path must converge under at-least-once replay: a
    third cycle over an already-consumed source (fresh checkpoint, same
    files) leaves the warehouse state bit-identical — the idempotency
    claim in run_merge_apply_cycle's docstring."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from oracledb_datapump_spark.catalog import ParquetConnector
    from oracledb_datapump_spark.streaming.incremental import (
        run_merge_apply_cycle,
    )

    src = str(tmp_path / "src")
    wh = str(tmp_path / "wh")
    cp1 = str(tmp_path / "cp1")
    cp2 = str(tmp_path / "cp2")
    import os

    os.makedirs(src)
    tbl = pq.read_table("/root/testdata/sf0.001/events.parquet")
    ts = tbl.column("ts")
    lo, hi = pc.min(ts).as_py(), pc.max(ts).as_py()
    mid = lo + (hi - lo) // 2 if isinstance(lo, int) else lo + (hi - lo) / 2
    pq.write_table(tbl.filter(pc.less(ts, mid)), f"{src}/events-0.parquet")
    run_merge_apply_cycle(spark, src, wh, cp1)
    pq.write_table(
        tbl.filter(pc.greater_equal(ts, mid)), f"{src}/events-1.parquet"
    )
    run_merge_apply_cycle(spark, src, wh, cp1)
    state = sorted(
        tuple(r) for r in ParquetConnector(wh).read_table(spark, "tgt", "user_state").collect()
    )
    assert len(state) > 0

    # replay EVERYTHING from a fresh checkpoint (worst-case at-least-once)
    run_merge_apply_cycle(spark, src, wh, cp2)
    replayed = sorted(
        tuple(r) for r in ParquetConnector(wh).read_table(spark, "tgt", "user_state").collect()
    )
    assert replayed == state
    shutil.rmtree(src, ignore_errors=True)


def test_failed_append_after_publish_is_not_appended_again(
    spark, tmp_path, monkeypatch
):
    """An incremental export whose append is published but whose
    accounting then fails leaves a dump its old entry does not describe:
    the entry is recorded bare (no watermark), so the next run rewrites
    the table in full instead of appending the same rows again."""
    from oracledb_datapump_spark import engine
    from oracledb_datapump_spark.catalog import DuckDbConnector

    duck = DuckDbConnector(":memory:")
    duck.execute("CREATE SCHEMA inc1")
    duck.execute("CREATE TABLE inc1.tx(id BIGINT, amount DOUBLE)")
    duck.execute("INSERT INTO inc1.tx SELECT range, range * 1.5 FROM range(100)")
    dump = str(tmp_path / "incdump")
    assert _export(duck, spark, dump).job_state == JobState.COMPLETED.value
    duck.execute(
        "INSERT INTO inc1.tx SELECT range, range * 1.5 FROM range(100, 150)"
    )

    def fail_after_publish(*a, **kw):
        raise RuntimeError("injected accounting failure")

    monkeypatch.setattr(engine, "_account_export", fail_after_publish)
    st = _export(duck, spark, dump)
    assert st.job_state == JobState.COMPLETED_WITH_ERRORS.value, st.job_state
    monkeypatch.undo()
    assert spark.read.parquet(f"{dump}/inc1/tx").count() == 150
    entry = DumpSet(dump).read_manifest().tables["inc1.tx"]
    assert entry["ok"] is False and entry.get("watermark") is None

    st = _export(duck, spark, dump)
    assert st.job_state == JobState.COMPLETED.value, st.error
    df = spark.read.parquet(f"{dump}/inc1/tx")
    assert df.count() == df.select("id").distinct().count() == 150
    assert DumpSet(dump).read_manifest().tables["inc1.tx"]["watermark"] == 149
