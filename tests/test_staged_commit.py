"""The staged commit of a table directory.

Every write of a table dir — a dump write (Spark, Arrow lane, FILESIZE's
corrective pass, ENCRYPTION), compaction, a Parquet target (REPLACE,
APPEND, pruned MERGE) — goes through ``dumpset.staged``: the new copy is
written into the hidden sibling ``.<name>.__stage__`` and published by
two renames. So a write that fails leaves the live dir as it was (the
same file names and md5s, or no dir on a first write), and a crash
between the two renames is undone by ``recover`` in the next job or in
``compact()``.
"""

import ast
import hashlib
import shutil
import os
import pathlib

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import oracledb_datapump_spark
from oracledb_datapump_spark import engine
from oracledb_datapump_spark.catalog import DuckDbConnector, ParquetConnector
from oracledb_datapump_spark.directives import DirectiveBase as D
from oracledb_datapump_spark.dumpset import DumpSet, recover, sibling, staged
from oracledb_datapump_spark.exceptions import FileError, JobError
from oracledb_datapump_spark.job import Job

def _files(d):
    """{relative path: md5} of every file under ``d``, markers included."""
    return {
        os.path.relpath(os.path.join(dp, n), d): hashlib.md5(
            open(os.path.join(dp, n), "rb").read()
        ).hexdigest()
        for dp, _, names in os.walk(d)
        for n in names
    }


def _leftovers(root):
    """Every staged or old sibling anywhere under ``root``."""
    return sorted(
        os.path.join(dp, n)
        for dp, dns, fns in os.walk(root)
        for n in dns + fns
        if n.endswith(("__stage__", "__old__"))
    )


def _run(spark, op, conn, dump, directives, state="COMPLETED"):
    st = Job(op, "TABLE", dumpfiles=dump, directives=directives).run(
        wait=True, connection=conn, spark=spark
    )
    assert st.job_state == state, st.error
    return st


def _boom(_):
    raise RuntimeError("injected write failure")


def _failing(df):
    """``df`` behind a filter whose Spark task raises, so the write that
    consumes it fails midway."""
    return df.where(F.udf(_boom, "boolean")(F.spark_partition_id()))


def _fail_stage(monkeypatch, stage_fn):
    """Make the frame ``engine.<stage_fn>`` returns fail its write."""
    orig = getattr(engine, stage_fn)
    monkeypatch.setattr(engine, stage_fn, lambda *a: _failing(orig(*a)))


def _export_orders(spark, sf_dir, dump, extra=(), state="COMPLETED"):
    return _run(
        spark, "EXPORT", ParquetConnector(sf_dir), dump,
        [D.INCLUDE_SCHEMA("main"), D.INCLUDE_TABLE("orders")] + list(extra),
        state=state,
    )


# -- the primitive ------------------------------------------------------------


def test_staged_publishes_whole_or_not_at_all(tmp_path):
    live = str(tmp_path / "t")
    with staged(live) as stage:
        assert stage == sibling(live, "stage")
        pathlib.Path(stage, "a").write_text("1")
    assert os.listdir(tmp_path) == ["t"]
    assert _files(live) == {"a": hashlib.md5(b"1").hexdigest()}

    before = _files(live)
    with pytest.raises(OSError):
        with staged(live) as stage:
            pathlib.Path(stage, "b").write_text("2")
            raise OSError("disk full")
    assert os.listdir(tmp_path) == ["t"]
    assert _files(live) == before

    # keep: hard links of the named live files, nothing else
    pathlib.Path(live, "c").write_text("3")
    with staged(live, [os.path.join(live, "a")]) as stage:
        assert os.listdir(stage) == ["a"]
        pathlib.Path(stage, "d").write_text("4")
    assert sorted(os.listdir(live)) == ["a", "d"]
    assert os.listdir(tmp_path) == ["t"]


def test_recover_restores_only_copy_and_drops_the_rest(tmp_path):
    ds = DumpSet(str(tmp_path))
    a, b, c, d, d1 = (ds.table_dir("s", n) for n in ("a", "b", "c", "d[1]", "d1"))
    # a: cut between the renames — the old copy is the only one
    os.makedirs(sibling(a, "old"))
    pathlib.Path(sibling(a, "old"), "x").write_text("a")
    # b: cut after the second rename — the old copy is superseded
    os.makedirs(b)
    os.makedirs(sibling(b, "old"))
    # c: cut mid-write — the stage is never the only copy
    os.makedirs(sibling(c, "stage"))
    # d[1] is a literal name: recovering it leaves d1's commit alone
    os.makedirs(sibling(d, "old"))
    os.makedirs(sibling(d1, "old"))
    assert recover(d) and os.path.isdir(sibling(d1, "old"))
    assert not recover(d)

    ds.recover_tables()
    assert sorted(os.listdir(tmp_path / "s")) == ["a", "b", "d1", "d[1]"]
    assert pathlib.Path(a, "x").read_text() == "a"
    restored = [e["table"] for e in ds.read_events()
                if e["event"] == "TABLE_DIR_RECOVERED"]
    assert sorted(restored) == ["s.a", "s.d1"]


def test_list_tables_without_manifest_skips_staged_siblings(tmp_path):
    ds = DumpSet(str(tmp_path))
    for d in ("hr/orders", "hr/.orders.__stage__", "hr/.region.__old__",
              "hr/_temporary", "_meta/x"):
        os.makedirs(tmp_path / d)
    assert not ds.exists()
    assert ds.list_tables() == [("hr", "orders")]


def test_os_rename_only_in_the_staged_commit():
    """Publish-by-rename lives in ``staged``/``recover`` alone: any other
    ``os.rename`` in the package is a hand-rolled scheme growing back."""
    pkg = pathlib.Path(oracledb_datapump_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = {
            id(node)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            and fn.name in ("staged", "recover")
            and path.name == "dumpset.py"
            for node in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "rename"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "os"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert offenders == []


# -- a failed write leaves the table as it was ---------------------------------


@pytest.mark.parametrize(
    "extra, read_back",
    [
        ([], []),
        ([D.FILESIZE("64KB")], []),
        (
            [D.ENCRYPTION("DATA_ONLY"), D.ENCRYPTION_PASSWORD("pw-staged")],
            [D.ENCRYPTION_PASSWORD("pw-staged")],
        ),
    ],
    ids=["plain", "filesize", "encryption"],
)
def test_failed_reexport_leaves_dump_as_it_was(
    spark, sf_dir, tmp_path, monkeypatch, extra, read_back
):
    dump = str(tmp_path / "dump")
    _export_orders(spark, sf_dir, dump, extra)
    d = DumpSet(dump).table_dir("main", "orders")
    before = _files(d)
    assert any(not n.startswith(("_", ".")) for n in before)

    with monkeypatch.context() as m:
        _fail_stage(m, "_layout")
        _export_orders(
            spark, sf_dir, dump, extra + [D.REUSE_DUMPFILES(True)],
            state="COMPLETED_WITH_ERRORS",
        )
    assert _files(d) == before
    assert _leftovers(dump) == []

    # the next jobs: the re-export, then an import of it
    _export_orders(spark, sf_dir, dump, extra + [D.REUSE_DUMPFILES(True)])
    wh = str(tmp_path / "wh")
    _run(spark, "IMPORT", ParquetConnector(wh), dump,
         [D.INCLUDE_SCHEMA("main")] + read_back)
    assert ParquetConnector(wh).read_table(spark, "main", "orders").count() == 1500
    assert _leftovers(dump) == [] and _leftovers(wh) == []


def test_failed_first_export_leaves_no_dir(spark, sf_dir, tmp_path, monkeypatch):
    dump = str(tmp_path / "dump")
    _fail_stage(monkeypatch, "_layout")
    _export_orders(spark, sf_dir, dump, state="COMPLETED_WITH_ERRORS")
    assert os.listdir(os.path.join(dump, "main")) == []


def test_failed_lane_reexport_leaves_dump_as_it_was(
    spark, sf_dir, tmp_path, monkeypatch
):
    src = DuckDbConnector(":memory:")
    src.load_parquet_dir("hr", sf_dir)
    dump = str(tmp_path / "dump")
    dirs = [D.INCLUDE_SCHEMA("hr"), D.INCLUDE_TABLE("region")]
    _run(spark, "EXPORT", src, dump, dirs)
    d = DumpSet(dump).table_dir("hr", "region")
    before = _files(d)

    def torn_write(table, where, **kwargs):
        with open(where, "wb") as f:
            f.write(b"PAR1 torn")
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(pq, "write_table", torn_write)
        _run(spark, "EXPORT", src, dump, dirs + [D.REUSE_DUMPFILES(True)],
             state="COMPLETED_WITH_ERRORS")
    assert _files(d) == before
    assert _leftovers(dump) == []


def _import_orders(spark, dump, wh, action, state="COMPLETED"):
    return _run(
        spark, "IMPORT", ParquetConnector(wh), dump,
        [D.INCLUDE_SCHEMA("main"), D.TABLE_EXISTS_ACTION(action)], state=state,
    )


def test_failed_parquet_replace_leaves_target_as_it_was(
    spark, sf_dir, tmp_path, monkeypatch
):
    dump, wh = str(tmp_path / "dump"), str(tmp_path / "wh")
    _export_orders(spark, sf_dir, dump)
    _import_orders(spark, dump, wh, "REPLACE")
    t = os.path.join(wh, "main", "orders.parquet")
    before = _files(t)

    with monkeypatch.context() as m:
        _fail_stage(m, "_read_dump")
        _import_orders(spark, dump, wh, "REPLACE", state="COMPLETED_WITH_ERRORS")
    assert _files(t) == before
    assert _leftovers(wh) == []

    _import_orders(spark, dump, wh, "REPLACE")
    assert ParquetConnector(wh).read_table(spark, "main", "orders").count() == 1500
    assert _leftovers(wh) == []


def test_failed_pruned_merge_leaves_target_as_it_was(spark, tmp_path, monkeypatch):
    stage, wh, dump = (str(tmp_path / n) for n in ("stage", "wh", "dump"))
    t = os.path.join(wh, "main", "t.parquet")
    spark.range(4000).selectExpr("id AS k", "id * 7 AS v").repartitionByRange(
        4, "k"
    ).write.parquet(t)
    spark.createDataFrame([(k, -k) for k in range(50)], "k long, v long").coalesce(
        1
    ).write.parquet(os.path.join(stage, "t.parquet"))
    _run(spark, "EXPORT", ParquetConnector(stage), dump,
         [D.INCLUDE_SCHEMA("main"), D.INCLUDE_TABLE("t")])
    before = _files(t)
    merge = [D.INCLUDE_SCHEMA("main"), D.TABLE_EXISTS_ACTION("MERGE"),
             D.MERGE_KEY("k"), D.MERGE_PRUNE("ON")]

    orig = ParquetConnector.merge_pruned_write
    with monkeypatch.context() as m:
        m.setattr(
            ParquetConnector, "merge_pruned_write",
            lambda self, df, *a: orig(self, _failing(df), *a),
        )
        _run(spark, "IMPORT", ParquetConnector(wh), dump, merge,
             state="COMPLETED_WITH_ERRORS")
    assert _files(t) == before
    assert _leftovers(wh) == []

    _run(spark, "IMPORT", ParquetConnector(wh), dump, merge)
    rows = {r.k: r.v for r in spark.read.parquet(t).collect()}
    assert len(rows) == 4000 and rows[10] == -10 and rows[60] == 420
    assert _leftovers(wh) == []


def test_error_write_sees_a_table_cut_off_mid_publish(spark, tmp_path):
    """``mode="error"`` checks existence after recovery: a table whose
    only copy is the old sibling is restored and refused, not replaced."""
    pc = ParquetConnector(str(tmp_path / "wh"))
    pc.write_table(spark.range(3), "s", "t")
    t = os.path.join(str(tmp_path / "wh"), "s", "t.parquet")
    before = _files(t)
    os.rename(t, sibling(t, "old"))
    with pytest.raises(FileError, match="exists"):
        pc.write_table(spark.range(5), "s", "t")
    assert _files(t) == before
    assert _leftovers(str(tmp_path)) == []


# -- a crash between the two renames -------------------------------------------


def test_next_import_restores_a_dump_table(spark, sf_dir, tmp_path):
    dump = str(tmp_path / "dump")
    _export_orders(spark, sf_dir, dump)
    ds = DumpSet(dump)
    d = ds.table_dir("main", "orders")
    before = _files(d)
    os.rename(d, sibling(d, "old"))
    os.makedirs(sibling(d, "stage"))

    tgt = DuckDbConnector(":memory:")
    _run(spark, "IMPORT", tgt, dump, [D.INCLUDE_SCHEMA("main")])
    assert _files(d) == before
    assert _leftovers(dump) == []
    assert tgt.execute("select count(*) from main.orders").fetchone()[0] == 1500
    (ev,) = [e for e in ds.read_events() if e["event"] == "TABLE_DIR_RECOVERED"]
    assert ev["table"] == "main.orders"


def test_next_import_restores_a_parquet_target(spark, sf_dir, tmp_path):
    dump, wh = str(tmp_path / "dump"), str(tmp_path / "wh")
    _export_orders(spark, sf_dir, dump)
    _import_orders(spark, dump, wh, "REPLACE")
    t = os.path.join(wh, "main", "orders.parquet")
    os.rename(t, sibling(t, "old"))
    assert not ParquetConnector(wh).list_tables("main")

    # APPEND onto the restored table: the old rows are kept
    _import_orders(spark, dump, wh, "APPEND")
    assert ParquetConnector(wh).read_table(spark, "main", "orders").count() == 3000
    assert _leftovers(wh) == []


def test_append_into_a_single_file_table_keeps_its_rows(spark, sf_dir, tmp_path):
    """A flat source's ``orders.parquet`` is one file: an APPEND keeps
    it (under its own name) beside the appended parts."""
    dump, wh = str(tmp_path / "dump"), str(tmp_path / "wh")
    _export_orders(spark, sf_dir, dump)
    os.makedirs(wh)
    t = os.path.join(wh, "orders.parquet")
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), t)
    old = hashlib.md5(open(t, "rb").read()).hexdigest()

    _import_orders(spark, dump, wh, "APPEND")
    assert _files(t)["orders.parquet"] == old
    assert ParquetConnector(wh).read_table(spark, "main", "orders").count() == 3000
    assert _leftovers(wh) == []


def test_parallel_import_refuses_two_sources_for_one_target(spark, tmp_path):
    src = DuckDbConnector(":memory:")
    src.execute("CREATE SCHEMA a; CREATE SCHEMA b")
    src.execute("CREATE TABLE a.t AS SELECT 1 AS k")
    src.execute("CREATE TABLE b.t AS SELECT 2 AS k")
    dump = str(tmp_path / "dump")
    _run(spark, "EXPORT", src, dump,
         [D.INCLUDE_SCHEMA("a"), D.INCLUDE_SCHEMA("b"), D.INCLUDE_TABLE("t")])
    remap = [D.REMAP_SCHEMA("a", "tgt"), D.REMAP_SCHEMA("b", "tgt")]
    with pytest.raises(JobError, match=r"tgt\.t.*PARALLEL\(1\)"):
        Job("IMPORT", "FULL", dumpfiles=dump, directives=remap + [D.PARALLEL(2)]).run(
            wait=True, connection=src, spark=spark
        )
    assert not src.table_exists("tgt", "t")
