"""NETWORK_LINK analog (public Oracle Data Pump parameter: impdp
NETWORK_LINK loads straight from the source database over a dblink —
the reference never wraps it). Direct connector→connector transfer, no
dump set materialized; the dumpfiles root holds only events + manifest.
"""

import os

import pytest
from pyspark.sql import functions as F

from oracledb_datapump_spark.base import JobMode, Operation
from oracledb_datapump_spark.catalog import ParquetConnector
from oracledb_datapump_spark.directives import DirectiveBase as D
from oracledb_datapump_spark.dumpset import DumpSet
from oracledb_datapump_spark.exceptions import JobError
from oracledb_datapump_spark.job import Job


def _link_import(spark, sf_dir, events, wh, directives):
    return Job(
        Operation.IMPORT, JobMode.TABLE, dumpfiles=events,
        directives=[
            D.INCLUDE_SCHEMA("main"),
            D.NETWORK_LINK(f"parquet://{sf_dir}"),
        ] + directives,
    ).run(wait=True, connection=ParquetConnector(wh), spark=spark)


def test_transfer_no_dump_files(spark, sf_dir, tmp_path):
    events, wh = str(tmp_path / "ev"), str(tmp_path / "wh")
    st = _link_import(
        spark, sf_dir, events, wh,
        [
            D.INCLUDE_TABLE("nation"),
            D.REMAP_SCHEMA("main", "hr"),
            D.TABLE_EXISTS_ACTION("REPLACE"),
        ],
    )
    assert st.job_state == "COMPLETED", st.error
    ds = DumpSet(events)
    assert ds.dumpfiles() == []  # zero data files ever produced
    evs = [e["event"] for e in ds.read_events()]
    assert "NETWORK_TRANSFER" in evs
    assert "TABLE_TRANSFER_DONE" in evs
    assert not any(e.startswith("TABLE_EXPORT") for e in evs)
    assert not any(e.startswith("TABLE_IMPORT") for e in evs)
    n_src = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    assert ParquetConnector(wh).read_table(spark, "hr", "nation").count() == n_src
    # manifest written (events root is the master table), no dumpfiles
    m = ds.read_manifest()
    assert m.dumpfiles == [] and m.tables["main.nation"]["ok"]


def test_transfer_events_carry_target_key(spark, sf_dir, tmp_path):
    """Under REMAP_SCHEMA every TABLE_TRANSFER_* event names the target,
    so STATUS shows one COMPLETED worker per target table and no
    source-key worker left EXECUTING by a START logged under another
    name."""
    events, wh = str(tmp_path / "ev"), str(tmp_path / "wh")
    st = _link_import(
        spark, sf_dir, events, wh,
        [
            D.INCLUDE_TABLE("nation"),
            D.INCLUDE_TABLE("region"),
            D.REMAP_SCHEMA("main", "hr"),
            D.TABLE_EXISTS_ACTION("REPLACE"),
        ],
    )
    assert st.job_state == "COMPLETED", st.error
    workers = st.job_status.worker_status_list
    assert sorted(w.name for w in workers) == ["hr.nation", "hr.region"]
    assert all(w.state == "COMPLETED" for w in workers)


def test_transfer_predicate_and_columns(spark, sf_dir, tmp_path):
    events, wh = str(tmp_path / "ev"), str(tmp_path / "wh")
    st = _link_import(
        spark, sf_dir, events, wh,
        [
            D.INCLUDE_TABLE("orders"),
            D.QUERY("o_orderkey <= 100"),
            D.COLUMNS("o_orderkey,o_totalprice"),
            D.TABLE_EXISTS_ACTION("REPLACE"),
        ],
    )
    assert st.job_state == "COMPLETED", st.error
    out = ParquetConnector(wh).read_table(spark, "main", "orders")
    assert out.columns == ["o_orderkey", "o_totalprice"]
    expect = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter("o_orderkey <= 100")
        .count()
    )
    assert out.count() == expect


def test_transfer_merge_upserts(spark, sf_dir, tmp_path):
    events, wh = str(tmp_path / "ev"), str(tmp_path / "wh")
    tgt = ParquetConnector(wh)
    seed = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .withColumn("n_name", F.lit("STALE"))
    )
    tgt.write_table(seed, "main", "nation", mode="overwrite")
    st = _link_import(
        spark, sf_dir, events, wh,
        [
            D.INCLUDE_TABLE("nation"),
            D.TABLE_EXISTS_ACTION("MERGE"),
            D.MERGE_KEY("n_nationkey"),
        ],
    )
    assert st.job_state == "COMPLETED", st.error
    out = tgt.read_table(spark, "main", "nation")
    assert out.filter("n_name = 'STALE'").count() == 0  # all upserted
    assert out.count() == seed.count()


def test_transfer_skip_exists(spark, sf_dir, tmp_path):
    events, wh = str(tmp_path / "ev"), str(tmp_path / "wh")
    tgt = ParquetConnector(wh)
    tgt.write_table(
        spark.read.parquet(f"{sf_dir}/region.parquet").limit(1),
        "main", "region", mode="overwrite",
    )
    st = _link_import(
        spark, sf_dir, events, wh,
        [D.INCLUDE_TABLE("region"), D.TABLE_EXISTS_ACTION("SKIP")],
    )
    assert st.job_state == "COMPLETED", st.error
    assert tgt.read_table(spark, "main", "region").count() == 1  # untouched
    evs = [e["event"] for e in DumpSet(events).read_events()]
    assert "TABLE_TRANSFER_SKIP_EXISTS" in evs


def test_transfer_dedup_keep_best(spark, tmp_path):
    """DEDUP_KEEP_BEST applies on a NETWORK_LINK transfer exactly as on
    EXPORT: one row per key, the greatest score wins, a score tie goes
    to the smallest tiebreak."""
    src, events, wh = (str(tmp_path / d) for d in ("src", "ev", "wh"))
    spark.createDataFrame(
        [
            # key 1: score tie, the smallest tiebreak must win
            (1, 10, 5), (1, 10, 2),
            # key 2: the greatest score wins over a smaller tiebreak
            (2, 3, 0), (2, 7, 9),
        ],
        "k long, score long, tie long",
    ).write.parquet(os.path.join(src, "t.parquet"))
    st = _link_import(
        spark, src, events, wh,
        [
            D.INCLUDE_TABLE("t"),
            D.DEDUP_KEEP_BEST("k:score:tie"),
            D.TABLE_EXISTS_ACTION("REPLACE"),
        ],
    )
    assert st.job_state == "COMPLETED", st.error
    out = sorted(
        map(tuple, ParquetConnector(wh).read_table(spark, "main", "t").collect())
    )
    assert out == [(1, 10, 2), (2, 7, 9)]


@pytest.mark.parametrize(
    "bad, msg",
    [
        ([D.VERIFY_CHECKSUM(True)], "NETWORK_LINK transfer produces none"),
        ([D.AS_OF_VERSION(1)], "has no dump"),
        (
            [D.ENCRYPTION("ALL"), D.ENCRYPTION_PASSWORD("pw")],
            "transfer produces none",
        ),
    ],
)
def test_transfer_refuses_dump_directives(spark, sf_dir, tmp_path, bad, msg):
    events, wh = str(tmp_path / "ev"), str(tmp_path / "wh")
    with pytest.raises(JobError, match=msg):
        _link_import(
            spark, sf_dir, events, wh,
            [D.INCLUDE_TABLE("nation"), D.TABLE_EXISTS_ACTION("REPLACE")]
            + bad,
        )


def test_transfer_estimate_only(spark, sf_dir, tmp_path):
    events, wh = str(tmp_path / "ev"), str(tmp_path / "wh")
    job = Job(
        Operation.IMPORT, JobMode.TABLE, dumpfiles=events,
        directives=[
            D.INCLUDE_SCHEMA("main"),
            D.INCLUDE_TABLE("nation"),
            D.NETWORK_LINK(f"parquet://{sf_dir}"),
            D.ESTIMATE_ONLY(True),
        ],
    )
    st = job.run(wait=True, connection=ParquetConnector(wh), spark=spark)
    assert st.job_state == "COMPLETED"
    assert job.estimates and job.estimates[0]["estimated_rows"] == 25
    assert not os.path.isdir(os.path.join(wh, "main"))  # nothing moved


def test_export_side_network_link(spark, sf_dir, tmp_path):
    """expdp NETWORK_LINK: the link names the export SOURCE; no local
    connection is needed and the dump lands locally as usual."""
    dump = str(tmp_path / "dump")
    st = Job(
        Operation.EXPORT, JobMode.TABLE, dumpfiles=dump,
        directives=[
            D.INCLUDE_SCHEMA("main"),
            D.INCLUDE_TABLE("nation"),
            D.NETWORK_LINK(f"parquet://{sf_dir}"),
        ],
    ).run(wait=True, spark=spark)  # note: no connection argument
    assert st.job_state == "COMPLETED", st.error
    ds = DumpSet(dump)
    n = spark.read.parquet(ds.table_dir("main", "nation")).count()
    assert n == spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    # and a stopped link export restarts from the manifest like any other
    wh = str(tmp_path / "wh")
    st = Job(
        Operation.IMPORT, JobMode.TABLE, dumpfiles=dump,
        directives=[D.TABLE_EXISTS_ACTION("REPLACE")],
    ).run(wait=True, connection=ParquetConnector(wh), spark=spark)
    assert st.job_state == "COMPLETED"


def test_export_link_stop_restart_without_connection(spark, sf_dir, tmp_path):
    """A stopped expdp-NETWORK_LINK export restarts WITHOUT a connection:
    the link rides the manifest's directive list."""
    import time

    class StopOnFirstRead(ParquetConnector):
        def __init__(self, root):
            super().__init__(root)
            self.job = None
            self.reads = 0

        def read_table(self, spark, schema, table, **kwargs):
            self.reads += 1
            if self.reads == 1 and self.job is not None:
                self.job.stop()
            return super().read_table(spark, schema, table, **kwargs)

    # stage two tables so the stop leaves one behind
    stage = str(tmp_path / "stage")
    for t in ("region", "nation"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.parquet(
            os.path.join(stage, f"{t}.parquet")
        )
    dump = str(tmp_path / "dump")
    # the engine reads through the LINK connector (resolved from the
    # directive), so the stop must come from the wrapper the link
    # resolves to — monkeypatch resolve via a scheme-less trick: run
    # with an explicit connection-free link pointing at the stage, and
    # issue the stop from a watcher thread at the first event instead.
    import threading

    from oracledb_datapump_spark.dumpset import DumpSet as DS

    job = Job(
        Operation.EXPORT, JobMode.TABLE, dumpfiles=dump,
        directives=[
            D.INCLUDE_SCHEMA("main"),
            D.INCLUDE_TABLE("region"),
            D.INCLUDE_TABLE("nation"),
            D.NETWORK_LINK(f"parquet://{stage}"),
        ],
    )

    def stop_at_first_table():
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            try:
                if any(
                    e["event"] == "TABLE_EXPORT_START"
                    for e in DS(dump).read_events()
                ):
                    job.stop()
                    return
            except Exception:
                pass
            time.sleep(0.005)

    t = threading.Thread(target=stop_at_first_table)
    t.start()
    st = job.run(wait=True, spark=spark)
    t.join()
    # the stop may land after 1 or 2 tables depending on timing; either
    # way the state walk and the restart contract must hold
    if st.job_state == "STOPPED":
        st = Job.attach(job.job_name, dumpdir=dump).restart(spark=spark)
    assert st.job_state == "COMPLETED", st.error
    ds = DumpSet(dump)
    for t_ in ("region", "nation"):
        n = spark.read.parquet(ds.table_dir("main", t_)).count()
        assert n == spark.read.parquet(f"{sf_dir}/{t_}.parquet").count()
