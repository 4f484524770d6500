"""The Arrow lane: a small table of a driver-resident connector moves with
no Spark job.

A DuckDB table that fits one Arrow batch
(``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) and one file split
(``spark.sql.files.maxPartitionBytes``) is exported by pyarrow as the one
part file a Spark write would leave, and a dump that small is imported
into a DuckDB target by pyarrow, its fingerprint taken from a
LocalRelation. Every other table, and every table under a directive that
needs Spark, moves through Spark. Setting ``maxPartitionBytes`` to 1k
forces a table through Spark; the two lanes must leave the same dump
and the same target.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from oracledb_datapump_spark import engine
from oracledb_datapump_spark.catalog import DuckDbConnector, ParquetConnector
from oracledb_datapump_spark.directives import DirectiveBase as D
from oracledb_datapump_spark.dumpset import DumpSet
from oracledb_datapump_spark.job import Job

TABLES = ("all_types", "empty_t", "nested")


@pytest.fixture()
def src(ladder):
    """The ladder source (lad.all_types, the many-tables ladder types with
    nulls, and the 0-row lad.empty_t) plus lad.nested (MAP, LIST and
    STRUCT columns)."""
    con, _ = ladder
    con.execute(
        "CREATE TABLE lad.nested AS SELECT range AS id,"
        " MAP {'a': range, 'b': NULL} AS mp, [range, NULL] AS arr,"
        " {'k': range, 's': 'x' || range} AS st FROM range(30)"
    )
    return con


@pytest.fixture()
def run(spark, spark_jobs):
    """``run(op, conn, dump, directives, state)`` runs one job, asserts
    its end state and returns (the Spark jobs it ran, its new events)."""

    def _run(op, conn, dump, directives, state="COMPLETED"):
        n0 = len(list(DumpSet(dump).read_events())) if os.path.isdir(dump) else 0
        j0 = spark_jobs()
        st = Job(op, "TABLE", dumpfiles=dump, directives=directives).run(
            wait=True, connection=conn, spark=spark
        )
        assert st.job_state == state, st.error
        return spark_jobs() - j0, list(DumpSet(dump).read_events())[n0:]

    return _run


def _export(run, con, dump, tables, extra=()):
    return run(
        "EXPORT", con, dump,
        [D.INCLUDE_SCHEMA("lad"), D.PARALLEL(2)]
        + [D.INCLUDE_TABLE(t) for t in tables] + list(extra),
    )


def _import(run, tgt, dump, schema, tables):
    return run(
        "IMPORT", tgt, dump,
        [D.INCLUDE_SCHEMA("lad"), D.REMAP_SCHEMA("lad", schema)]
        + [D.INCLUDE_TABLE(t) for t in tables],
    )


def _fingerprints(spark, con, schema, tables):
    return {
        t: engine.table_fingerprint(con.read_table(spark, schema, t))
        for t in tables
    }


def _part_files(dump, table):
    d = DumpSet(dump).table_dir("lad", table)
    return sorted(os.path.join(d, n) for n in os.listdir(d) if n.startswith("part-"))


# -- the lanes agree ----------------------------------------------------------


def test_lanes_leave_the_same_dump_and_target(spark, tmp_path, src, run, max_partition_bytes):
    """Each table exported on the lane and forced through Spark: the
    manifests agree on schema and rows, and either dump imports on
    either lane into DuckDB, and into Parquet, with the source's
    fingerprint and, in DuckDB, the same column types."""
    source = _fingerprints(spark, src, "lad", TABLES)
    dumps = {}
    for lane, cap in (("arrow", None), ("spark", "1k")):
        dumps[lane] = str(tmp_path / f"dump_{lane}")
        with max_partition_bytes(cap):
            jobs, _ = _export(run, src, dumps[lane], TABLES)
        assert jobs == 0 if lane == "arrow" else jobs >= 1, (lane, jobs)
    manifests = {
        lane: DumpSet(d).read_manifest().tables for lane, d in dumps.items()
    }
    for t in TABLES:
        a, s = manifests["arrow"][f"lad.{t}"], manifests["spark"][f"lad.{t}"]
        assert (a["spark_schema"], a["rows"]) == (s["spark_schema"], s["rows"]), t
    tgt = DuckDbConnector(str(tmp_path / "tgt.duckdb"))
    types = {}
    for dump_lane, dump in dumps.items():
        for lane, cap in (("arrow", None), ("spark", "1k")):
            schema = f"{dump_lane}_{lane}"
            with max_partition_bytes(cap):
                jobs, _ = _import(run, tgt, dump, schema, TABLES)
            assert jobs == 0 if lane == "arrow" else jobs >= 1, (schema, jobs)
            assert _fingerprints(spark, tgt, schema, TABLES) == source, schema
            types[schema] = {
                t: tgt.execute(f"DESCRIBE {schema}.{t}").fetchall() for t in TABLES
            }
        wh = ParquetConnector(str(tmp_path / f"wh_{dump_lane}"))
        _import(run, wh, dump, "out", TABLES)
        assert _fingerprints(spark, wh, "out", TABLES) == source, dump_lane
    assert len({repr(v) for v in types.values()}) == 1, types


@pytest.mark.parametrize(
    "algorithm, codec, infix",
    [("BASIC", "SNAPPY", ".snappy"), ("MEDIUM", "ZSTD", ".zstd"), ("HIGH", "GZIP", ".gz")],
)
def test_lane_writes_the_compression_codec(spark, tmp_path, src, run, algorithm, codec, infix):
    dump = str(tmp_path / "dump")
    jobs, _ = _export(
        run, src, dump, ["all_types"],
        [D.COMPRESSION("ALL"), D.COMPRESSION_ALGORITHM(algorithm)],
    )
    assert jobs == 0
    (part,) = _part_files(dump, "all_types")
    assert part.endswith(f"-c000{infix}.parquet"), part
    meta = pq.ParquetFile(part).metadata
    assert {
        meta.row_group(0).column(i).compression for i in range(meta.num_columns)
    } == {codec}
    tgt = DuckDbConnector(str(tmp_path / "tgt.duckdb"))
    jobs, _ = _import(run, tgt, dump, "out", ["all_types"])
    assert jobs == 0
    assert _fingerprints(spark, tgt, "out", ["all_types"]) == _fingerprints(
        spark, src, "lad", ["all_types"]
    )


# -- fallback to Spark ------------------------------------------------------------


def _rows(dump, table, column):
    return [
        v for p in _part_files(dump, table)
        for v in pq.read_table(p, columns=[column]).column(0).to_pylist()
    ]


def _hive(dump, table, tmeta):
    d = DumpSet(dump).table_dir("lad", table)
    return any(n.startswith("b=") for n in os.listdir(d))


def _sorted_by_i(dump, table, tmeta):
    (part,) = _part_files(dump, table)
    vals = [v for v in pq.read_table(part, columns=["i"]).column(0).to_pylist() if v is not None]
    return vals == sorted(vals)


FALLBACKS = {
    "ENCRYPTION": (
        [D.ENCRYPTION("ALL"), D.ENCRYPTION_PASSWORD("pw")],
        lambda dump, t, m: m["encryption"]["scope"] == "ALL",
    ),
    "EXPORT_PARTITION_BY": ([D.EXPORT_PARTITION_BY("b")], _hive),
    "EXPORT_ZORDER_BY": ([D.EXPORT_ZORDER_BY("i")], _sorted_by_i),
    "EXPORT_SORT_BY": ([D.EXPORT_SORT_BY("i")], _sorted_by_i),
    "FILESIZE": (
        [D.FILESIZE("64KB")],
        lambda dump, t, m: m["filesize"]["target_bytes"] == 64 * 1024,
    ),
    "SAMPLE": (
        [D.SAMPLE("300000:id", object_path="all_types")],
        lambda dump, t, m: 0 < m["rows"] < 40,
    ),
    "REMAP_DATA": (
        [D.REMAP_DATA("s:null_out", object_path="all_types")],
        lambda dump, t, m: set(_rows(dump, t, "s")) == {None},
    ),
    "DEDUP_KEEP_BEST": (
        [D.DEDUP_KEEP_BEST("b:id:i")],
        lambda dump, t, m: m["rows"] == 3 and m["dedup_keep_best"]["rows_dropped"] == 37,
    ),
    "INCREMENTAL_COLUMN": (
        [D.INCREMENTAL_COLUMN("id")],
        lambda dump, t, m: m["watermark"] == 39,
    ),
    "COMPRESSION_LOW": (
        [D.COMPRESSION("ALL"), D.COMPRESSION_ALGORITHM("LOW")],
        lambda dump, t, m: all(
            p.endswith(".lz4hadoop.parquet") for p in _part_files(dump, t)
        ),
    ),
}


@pytest.mark.parametrize("name", sorted(FALLBACKS))
def test_directive_that_needs_spark_keeps_the_spark_path(tmp_path, src, run, name):
    directives, holds = FALLBACKS[name]
    dump = str(tmp_path / "dump")
    jobs, _ = _export(run, src, dump, ["all_types"], directives)
    assert jobs >= 1
    tmeta = DumpSet(dump).read_manifest().tables["lad.all_types"]
    assert holds(dump, "all_types", tmeta), tmeta


def test_lz4_dump_imports_through_spark(spark, tmp_path, src, run):
    """pyarrow cannot decode Spark's Hadoop-framed lz4, so a LOW dump,
    small as it is, imports through Spark."""
    dump = str(tmp_path / "dump")
    _export(run, src, dump, ["all_types"],
            [D.COMPRESSION("ALL"), D.COMPRESSION_ALGORITHM("LOW")])
    tgt = DuckDbConnector(str(tmp_path / "tgt.duckdb"))
    jobs, _ = _import(run, tgt, dump, "out", ["all_types"])
    assert jobs >= 1
    assert _fingerprints(spark, tgt, "out", ["all_types"]) == _fingerprints(
        spark, src, "lad", ["all_types"]
    )


def test_partition_scope_still_refused(tmp_path, src, run):
    dump = str(tmp_path / "dump")
    _, evs = run(
        "EXPORT", src, dump,
        [D.INCLUDE_SCHEMA("lad"), D.INCLUDE_TABLE("all_types:b=true")],
        state="COMPLETED_WITH_ERRORS",
    )
    (err,) = [e for e in evs if e["event"] == "TABLE_EXPORT_ERROR"]
    assert "TABLE:PARTITION" in err["error"]


def test_table_over_one_arrow_batch_keeps_the_spark_path(spark, tmp_path, run):
    con = DuckDbConnector(str(tmp_path / "big.duckdb"))
    con.execute("CREATE SCHEMA lad")
    con.execute("CREATE TABLE lad.big AS SELECT range AS id, range % 7 AS k FROM range(10001)")
    dump = str(tmp_path / "dump")
    jobs, _ = _export(run, con, dump, ["big"])
    assert jobs >= 1
    assert DumpSet(dump).read_manifest().tables["lad.big"]["rows"] == 10001
    tgt = DuckDbConnector(str(tmp_path / "tgt.duckdb"))
    jobs, _ = _import(run, tgt, dump, "out", ["big"])
    assert jobs >= 1
    assert _fingerprints(spark, tgt, "out", ["big"]) == _fingerprints(spark, con, "lad", ["big"])


# -- crash safety -------------------------------------------------------------------


def test_failed_lane_write_leaves_no_part_file(tmp_path, src, run, monkeypatch):
    def torn_write(table, where, **kwargs):
        with open(where, "wb") as f:
            f.write(b"PAR1 torn")
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", torn_write)
    dump = str(tmp_path / "dump")
    _, evs = run(
        "EXPORT", src, dump,
        [D.INCLUDE_SCHEMA("lad"), D.INCLUDE_TABLE("all_types")],
        state="COMPLETED_WITH_ERRORS",
    )
    (err,) = [e for e in evs if e["event"] == "TABLE_EXPORT_ERROR"]
    assert "disk full" in err["error"]
    # a first write that fails leaves no table dir and no staged sibling
    d = DumpSet(dump).table_dir("lad", "all_types")
    assert os.listdir(os.path.dirname(d)) == []


# -- the job-free fingerprint -------------------------------------------------------


@pytest.mark.parametrize("n", [0, 25])
def test_local_fingerprint_equals_table_fingerprint(spark, spark_jobs, n):
    from pyspark.sql.pandas.types import from_arrow_schema

    arrow = pa.table({
        "id": pa.array(range(n), pa.int64()),
        "mp": pa.array(
            [[("a", i), ("b", None)] for i in range(n)], pa.map_(pa.string(), pa.int64())
        ),
        "arr": pa.array([[i, None, -i] for i in range(n)], pa.list_(pa.int64())),
        "st": pa.array(
            [{"k": i, "m": [("z", i)]} for i in range(n)],
            pa.struct([("k", pa.int64()), ("m", pa.map_(pa.string(), pa.int64()))]),
        ),
        "ts": pa.array([i * 3_600_000_000 for i in range(n)], pa.timestamp("us", "UTC")),
    })
    schema = from_arrow_schema(arrow.schema)
    j0 = spark_jobs()
    local = engine._local_fingerprint(spark, arrow, schema)
    assert spark_jobs() == j0
    assert local == engine.table_fingerprint(spark.createDataFrame(arrow, schema))
    if n == 0:
        assert local == (0, "0")
