"""Directive compilation unit tests (SURVEY.md §5.1): directive →
PlanConfig → reader/writer options, validation, JSON form, naming."""

import pytest

from oracledb_datapump_spark.directives import (
    DirectiveBase as D,
    PlanConfig,
    compile_directives,
)
from oracledb_datapump_spark.exceptions import (
    InvalidDirective,
    InvalidObjectType,
    UsageError,
)
from oracledb_datapump_spark.util import parse_colon_delimited, string_shortener


def test_compression_to_codec():
    # P2/P3 mapping: scope × algorithm → parquet codec
    cases = [
        (("NONE", "BASIC"), "uncompressed"),
        (("METADATA_ONLY", "HIGH"), "uncompressed"),
        (("ALL", "BASIC"), "snappy"),
        (("ALL", "LOW"), "lz4"),
        (("DATA_ONLY", "MEDIUM"), "zstd"),
        (("ALL", "HIGH"), "gzip"),
    ]
    for (scope, algo), codec in cases:
        cfg = compile_directives(
            [D.COMPRESSION(scope), D.COMPRESSION_ALGORITHM(algo)]
        )
        assert cfg.parquet_codec() == codec, (scope, algo)


def test_table_exists_action_to_write_mode():
    # P9: the rare 1:1 mapping
    assert compile_directives([D.TABLE_EXISTS_ACTION("TRUNCATE")]).write_mode() == ("overwrite", True)
    assert compile_directives([D.TABLE_EXISTS_ACTION("REPLACE")]).write_mode() == ("overwrite", False)
    assert compile_directives([D.TABLE_EXISTS_ACTION("APPEND")]).write_mode() == ("append", False)
    assert compile_directives([D.TABLE_EXISTS_ACTION("SKIP")]).write_mode() == ("ignore", False)


def test_enum_singletons():
    # reference ergonomics: Compression.ALL is a ready instance
    from oracledb_datapump_spark.directives import Compression

    cfg = PlanConfig()
    Compression.ALL.apply(cfg)
    assert cfg.compression == "ALL"


def test_invalid_enum_value():
    with pytest.raises(InvalidDirective):
        D.COMPRESSION("MAXIMUM")


def test_exclude_object_type_validation():
    with pytest.raises(InvalidObjectType) as ei:
        compile_directives([D.EXCLUDE_OBJECT_TYPE("NOT_A_TYPE")])
    assert "TABLE" in str(ei.value)  # error carries the valid list


def test_exclude_table_means_metadata_only():
    cfg = compile_directives([D.EXCLUDE_OBJECT_TYPE("TABLE")])
    assert "TABLE" in cfg.exclude_object_types


def test_flashback_directives():
    cfg = compile_directives([D.FLASHBACK_SCN(12345)])
    assert cfg.as_of_marker() == "SCN(12345)"
    cfg = compile_directives([D.FLASHBACK_TIME("2026-01-01T00:00:00")])
    assert cfg.as_of_marker().startswith("TS(2026-01-01")


def test_data_options_flags():
    cfg = compile_directives([D.DATA_OPTIONS(["SKIP_CONST_ERR", "VALIDATE_TBL_DATA"])])
    assert cfg.skip_constraint_errors and cfg.validate_table_data
    assert not cfg.allow_schema_evolution
    cfg = compile_directives([D.DATA_OPTIONS("ALLOW_SCHEMA_EVOLUTION")])
    assert cfg.allow_schema_evolution
    with pytest.raises(InvalidDirective):
        D.DATA_OPTIONS(["NOT_A_FLAG"])


def test_noop_parameters_recorded():
    cfg = compile_directives([D.SOURCE_EDITION("E1"), D.TRANSPORTABLE("NEVER")])
    assert cfg.recorded_noops == {"SOURCE_EDITION": "E1", "TRANSPORTABLE": "NEVER"}


def test_remap_and_json_form():
    d = D.REMAP_SCHEMA("hr", "hr2")
    assert d.to_dict() == {"name": "REMAP_SCHEMA", "old_value": "hr", "value": "hr2"}
    d2 = D.from_dict({"name": "REMAP_SCHEMA", "old_value": "a", "value": "b"})
    cfg = compile_directives([d, d2])
    assert cfg.remap_schema == {"hr": "hr2", "a": "b"}


def test_from_dict_filter_and_parameter():
    f = D.from_dict({"name": "INCLUDE_SCHEMA", "value": "hr"})
    p = D.from_dict({"name": "PARALLEL", "value": "4"})
    cfg = compile_directives([f, p])
    assert cfg.include_schemas == ["hr"] and cfg.parallel == 4
    with pytest.raises(InvalidDirective):
        D.from_dict({"name": "NOT_A_DIRECTIVE"})


def test_encryption_password_never_persisted():
    d = D.ENCRYPTION_PASSWORD("hunter2")
    assert "hunter2" not in str(d.to_dict())


def test_string_shortener():
    s = "x" * 200
    out = string_shortener(s, 128)
    assert len(out) <= 128
    assert string_shortener("short", 128) == "short"
    # deterministic
    assert string_shortener(s, 128) == string_shortener(s, 128)


def test_parse_colon_delimited_raises():
    # the reference constructs-but-forgets-to-raise (util.py:79-82); we raise
    assert parse_colon_delimited("A:B") == ("A", "B")
    with pytest.raises(UsageError):
        parse_colon_delimited("no-colon-here")


def test_export_sort_by_clusters_rows(spark, tmp_path):
    """EXPORT_SORT_BY sorts rows inside each part-file (no shuffle), so
    every output file must be internally ordered on the sort key."""
    import pyarrow.parquet as pq
    import glob

    from oracledb_datapump_spark import Job
    from oracledb_datapump_spark.catalog import DuckDbConnector
    from oracledb_datapump_spark.directives import DirectiveBase as D

    src = DuckDbConnector(":memory:")
    src.load_parquet_dir("hr", "/root/testdata/sf0.001")
    dump = f"{tmp_path}/dump"
    st = Job(
        "EXPORT",
        "TABLE",
        dumpfiles=dump,
        directives=[
            D.INCLUDE_SCHEMA("hr"),
            D.INCLUDE_TABLE("lineitem"),
            D.PARALLEL(2),
            D.EXPORT_SORT_BY("l_shipdate"),
        ],
    ).run(connection=src, spark=spark)
    assert st.job_state == "COMPLETED"
    files = glob.glob(f"{dump}/**/*.parquet", recursive=True)
    assert files
    for f in files:
        col = pq.read_table(f, columns=["l_shipdate"]).column(0).to_pylist()
        assert col == sorted(col), f


def test_export_zorder_by_clusters_rows(spark, tmp_path):
    """EXPORT_ZORDER_BY lays the dump along the Morton curve of two
    columns: every part-file must be internally ordered on the
    recomputed Z-value, row count must survive, and the per-file
    min/max span of EACH interleaved column must be narrower than the
    global span for most files (multi-dimensional clustering)."""
    import glob

    import pyarrow.parquet as pq

    from oracledb_datapump_spark import Job
    from oracledb_datapump_spark.catalog import DuckDbConnector
    from oracledb_datapump_spark.directives import DirectiveBase as D
    from oracledb_datapump_spark.functions.zorder import interleave, quantize

    src = DuckDbConnector(":memory:")
    src.load_parquet_dir("hr", "/root/testdata/sf0.001")
    dump = f"{tmp_path}/dump"
    # a table below spark.sql.files.maxPartitionBytes exports as one file;
    # a low cap spreads it over the PARALLEL budget
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        st = Job(
            "EXPORT",
            "TABLE",
            dumpfiles=dump,
            directives=[
                D.INCLUDE_SCHEMA("hr"),
                D.INCLUDE_TABLE("lineitem"),
                D.PARALLEL(4),
                D.EXPORT_ZORDER_BY("l_orderkey,l_partkey"),
            ],
        ).run(connection=src, spark=spark)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert st.job_state == "COMPLETED"
    files = sorted(glob.glob(f"{dump}/**/*.parquet", recursive=True))
    assert len(files) >= 2
    back = spark.read.parquet(f"{dump}/hr/lineitem")
    assert back.count() == 6000

    # recompute z per row of each file; files must be internally z-sorted
    import pandas as pd

    full = pq.read_table(
        f"{dump}/hr/lineitem", columns=["l_orderkey", "l_partkey"]
    ).to_pandas()
    mins, maxs = full.min(), full.max()

    def z_of(df: pd.DataFrame) -> list[int]:
        out = []
        for ok, pk in zip(df.l_orderkey, df.l_partkey):
            zs = []
            for c, v in (("l_orderkey", ok), ("l_partkey", pk)):
                span = maxs[c] - mins[c]
                q = int(((v - mins[c]) / span) * 65535) if span else 0
                zs.append(max(0, min(q, 65535)))
            z = 0
            for i in range(16):
                z |= ((zs[0] >> i) & 1) << (2 * i)
                z |= ((zs[1] >> i) & 1) << (2 * i + 1)
            out.append(z)
        return out

    narrower = 0
    for f in files:
        t = pq.read_table(f, columns=["l_orderkey", "l_partkey"]).to_pandas()
        zs = z_of(t)
        assert zs == sorted(zs), f
        if (t.l_orderkey.max() - t.l_orderkey.min()) < (
            maxs.l_orderkey - mins.l_orderkey
        ) and (t.l_partkey.max() - t.l_partkey.min()) < (
            maxs.l_partkey - mins.l_partkey
        ):
            narrower += 1
    assert narrower >= len(files) // 2, (narrower, len(files))


def test_query_columns_prune_at_export_time(spark, tmp_path):
    """QUERY + COLUMNS must execute at EXPORT plan time: the dump's own
    parquet files carry ONLY the projected columns and ONLY the
    predicate-matching rows (the driver hash on the round-tripped table
    cannot distinguish export-side from import-side pruning; this can).
    At 100 TB this is the difference between dumping a 3-column slice
    and dumping everything."""
    import glob

    import pyarrow.parquet as pq

    from oracledb_datapump_spark import Job
    from oracledb_datapump_spark.catalog import ParquetConnector
    from oracledb_datapump_spark.directives import DirectiveBase as D

    src = ParquetConnector("/root/testdata/sf0.001")
    dump = f"{tmp_path}/dump"
    st = Job(
        "EXPORT",
        "TABLE",
        dumpfiles=dump,
        directives=[
            D.INCLUDE_SCHEMA("main"),
            D.INCLUDE_TABLE("orders"),
            D.QUERY("o_totalprice < 100000.0", object_path="orders"),
            D.COLUMNS(
                "o_orderkey,o_orderstatus,o_totalprice", object_path="orders"
            ),
        ],
    ).run(connection=src, spark=spark)
    assert st.job_state == "COMPLETED"
    files = sorted(glob.glob(f"{dump}/**/*.parquet", recursive=True))
    assert files
    n_rows = 0
    for f in files:
        t = pq.read_table(f)
        assert t.column_names == [
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
        ], t.column_names
        prices = t.column("o_totalprice").to_pylist()
        assert all(p < 100000.0 for p in prices), f
        n_rows += t.num_rows
    expected = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter("o_totalprice < 100000.0")
        .count()
    )
    assert n_rows == expected and n_rows > 0
