"""DUMP_FORMAT extension: ORC/JSON/CSV dump sets must round-trip with
row-fingerprint equality (ORC keeps types natively; JSON/CSV restore
them from the manifest's recorded Spark schema), and the parquet-only
maintenance paths (compact, DEPARTITION import) must fail loudly rather
than silently transcode or mis-read."""

import pytest
from pyspark.sql import functions as F

from oracledb_datapump_spark import Job, JobMode, JobState, Operation
from oracledb_datapump_spark.directives import DirectiveBase as D


def _fingerprint(df):
    cols = sorted(df.columns)
    h = df.select(
        F.sha2(
            F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]), 256
        ).alias("h")
    )
    return (
        h.select(
            F.sum(
                F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")
            ).alias("fp")
        ).collect()[0]["fp"],
        df.count(),
    )


def _roundtrip(spark, duck, dump, fmt, tables=("nation", "region")):
    exp = Job(
        operation=Operation.EXPORT,
        mode=JobMode.TABLE,
        dumpfiles=dump,
        directives=[
            D.INCLUDE_SCHEMA("test1"),
            *[D.INCLUDE_TABLE(t) for t in tables],
            D.DUMP_FORMAT(fmt),
            D.COMPRESSION("ALL"),
        ],
    )
    status = exp.run(wait=True, connection=duck, spark=spark)
    assert status.job_state == JobState.COMPLETED.value
    imp = Job(
        operation=Operation.IMPORT,
        mode=JobMode.TABLE,
        dumpfiles=dump,
        directives=[
            D.REMAP_SCHEMA("test1", f"rt_{fmt.lower()}"),
            D.TABLE_EXISTS_ACTION("REPLACE"),
        ],
    )
    status = imp.run(wait=True, connection=duck, spark=spark)
    assert status.job_state == JobState.COMPLETED.value
    for t in tables:
        src = duck.read_table(spark, "test1", t)
        dst = duck.read_table(spark, f"rt_{fmt.lower()}", t)
        assert _fingerprint(src) == _fingerprint(dst), (fmt, t)


@pytest.mark.parametrize("fmt", ["ORC", "JSON", "CSV"])
def test_format_roundtrip(spark, duck, tmp_path, fmt):
    _roundtrip(spark, duck, str(tmp_path / f"dump_{fmt}"), fmt)


def test_orc_dump_files_have_orc_extension_and_counts(spark, duck, tmp_path):
    from oracledb_datapump_spark.dumpset import DumpSet
    from oracledb_datapump_spark.engine import _count_dump_rows, _sniff_dump_format

    dump = str(tmp_path / "orc_probe")
    Job(
        operation=Operation.EXPORT,
        mode=JobMode.TABLE,
        dumpfiles=dump,
        directives=[
            D.INCLUDE_SCHEMA("test1"),
            D.INCLUDE_TABLE("nation"),
            D.DUMP_FORMAT("ORC"),
        ],
    ).run(wait=True, connection=duck, spark=spark)
    ds = DumpSet(dump)
    d = ds.table_dir("test1", "nation")
    assert _sniff_dump_format(d) == "orc"
    rows, size, nfiles = _count_dump_rows(d, "orc")  # footer-only, no spark
    assert rows == 25 and nfiles >= 1 and size > 0
    info = ds.get_dumpfile_info("test1", "nation")
    assert info.row_count == 25


def test_compact_rejects_non_parquet_dump(spark, duck, tmp_path):
    from oracledb_datapump_spark.dumpset import DumpSet
    from oracledb_datapump_spark.exceptions import Unsupported

    dump = str(tmp_path / "orc_compact")
    # a table below spark.sql.files.maxPartitionBytes exports as one file;
    # a low cap spreads it over the PARALLEL budget
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        Job(
            operation=Operation.EXPORT,
            mode=JobMode.TABLE,
            dumpfiles=dump,
            directives=[
                D.INCLUDE_SCHEMA("test1"),
                D.INCLUDE_TABLE("orders"),
                D.DUMP_FORMAT("ORC"),
                D.PARALLEL(4),  # several small files so compact would trigger
            ],
        ).run(wait=True, connection=duck, spark=spark)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    with pytest.raises(Unsupported, match="parquet dumps only"):
        DumpSet(dump).compact(spark, target_file_bytes=10**9, min_files=2)


def test_bad_dump_format_rejected():
    from oracledb_datapump_spark.exceptions import InvalidDirective

    with pytest.raises(InvalidDirective, match="DUMP_FORMAT"):
        D.DUMP_FORMAT("AVRO")


def test_csv_source_connector_roundtrip(spark, sf_dir, tmp_path):
    """Source-side format flexibility: a self-describing (header) CSV
    dataset behind the fs connector exports to a parquet dump and
    imports back with matching row counts — csv:// is a first-class
    source, not just a dump format."""
    import os

    from oracledb_datapump_spark.catalog import ParquetConnector, resolve_connector

    srcdir = tmp_path / "csv_src" / "hr"
    srcdir.mkdir(parents=True)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    nation.coalesce(1).write.option("header", "true").csv(
        str(srcdir / "nation.csv")
    )
    con = resolve_connector(f"csv://{tmp_path / 'csv_src'}")
    assert isinstance(con, ParquetConnector) and con.fmt == "csv"
    assert con.list_tables("hr") == ["nation"]
    assert con.read_table(spark, "hr", "nation").count() == nation.count()

    dump = str(tmp_path / "csv_src_dump")
    st = Job(
        operation=Operation.EXPORT,
        mode=JobMode.SCHEMA,
        dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("hr")],
    ).run(wait=True, connection=con, spark=spark)
    assert st.job_state == JobState.COMPLETED.value
    got = spark.read.parquet(os.path.join(dump, "hr", "nation"))
    assert got.count() == nation.count()


def test_orc_source_connector_lists_and_reads(spark, sf_dir, tmp_path):
    from oracledb_datapump_spark.catalog import resolve_connector

    srcdir = tmp_path / "orc_src" / "hr"
    srcdir.mkdir(parents=True)
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    region.coalesce(1).write.orc(str(srcdir / "region.orc"))
    con = resolve_connector(f"orc://{tmp_path / 'orc_src'}")
    assert con.list_schemas() == ["hr"]
    df = con.read_table(spark, "hr", "region", columns=["r_name"])
    assert df.columns == ["r_name"] and df.count() == region.count()


@pytest.mark.parametrize("fmt", ["ORC", "JSON", "CSV"])
def test_format_roundtrip_typed_columns(spark, duck, tmp_path, fmt):
    """Timestamps and doubles must survive the non-parquet formats:
    ORC natively, JSON/CSV via the manifest-schema re-typing on import.
    The orders table carries TIMESTAMP + DOUBLE + VARCHAR columns."""
    _roundtrip(
        spark, duck, str(tmp_path / f"typed_{fmt}"), fmt, tables=("orders",)
    )


def test_dump_format_via_json_protocol(spark, sf_dir, tmp_path):
    """DUMP_FORMAT flows through the JSON SUBMIT protocol unchanged (the
    registry metaclass gives every directive a JSON form for free)."""
    import json as _json

    from oracledb_datapump_spark import DataPump
    from oracledb_datapump_spark.catalog import DuckDbConnector
    from oracledb_datapump_spark.engine import _sniff_dump_format

    db = str(tmp_path / "fmt_proto.duckdb")
    con = DuckDbConnector(db)
    con.load_parquet_dir("hr", sf_dir)
    con.con.close()

    dump = str(tmp_path / "proto_orc")
    req = {
        "connection": f"duckdb://{db}",
        "request": "SUBMIT",
        "payload": {
            "operation": "EXPORT",
            "mode": "TABLE",
            "wait": True,
            "dumpfiles": [dump],
            "directives": [
                {"name": "INCLUDE_SCHEMA", "value": "hr"},
                {"name": "INCLUDE_TABLE", "value": "nation"},
                {"name": "DUMP_FORMAT", "value": "ORC"},
            ],
        },
    }
    resp = DataPump.submit(_json.dumps(req))
    assert resp.state == "COMPLETED"
    assert _sniff_dump_format(f"{dump}/hr/nation") == "orc"


def test_csv_roundtrip_with_embedded_newlines(spark, duck, tmp_path):
    """A string value containing newlines must survive a CSV dump
    round-trip: the exporter quotes it across physical lines, and the
    importer must read multiLine or silently split it into null-padded
    garbage rows (regression: the reader lacked the multiLine option, so
    any text corpus — this engine's core workload — corrupted under
    DUMP_FORMAT(CSV))."""
    duck.execute(
        "CREATE TABLE test1.notes AS SELECT * FROM (VALUES "
        "(1, 'plain'), "
        "(2, 'line one' || chr(10) || 'line two'), "
        "(3, 'quoted \"x\"' || chr(10) || chr(10) || 'after blank')"
        ") AS t(id, body)"
    )
    dump = str(tmp_path / "csv_newlines")
    _roundtrip(spark, duck, dump, "CSV", tables=("notes",))
    rows = dict(
        duck.execute("SELECT id, body FROM rt_csv.notes ORDER BY id").fetchall()
    )
    assert len(rows) == 3
    assert rows[2] == "line one\nline two"
    assert rows[3] == 'quoted "x"\n\nafter blank'
