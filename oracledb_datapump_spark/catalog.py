"""Source/target connectors.

The reference drives one database (Oracle) through a thin connection
(/root/reference/src/oracledb_datapump/database.py:40-85) and delegates all
row movement to the server. Our engine owns the data plane, so a Connector
is the pluggable seam: it lists namespaces/tables (catalog introspection —
reference database.py:105-138, sql.py:7-11,81-86) and reads/writes tables
as Spark DataFrames.

Production path: JdbcConnector — partitioned `spark.read.jdbc` (executors
pull shards directly from the DB; nothing transits the driver) and
`df.write.jdbc`. Test paths: ParquetConnector (pure Spark I/O, fully
distributed) and DuckDbConnector (in-process DB stand-in per BASELINE.json
"duckdb-oracle"; exchanges Arrow batches on the driver — acceptable for
test scale only, and stated so).
"""

from __future__ import annotations

import os
import re
from decimal import Decimal
from typing import Any, Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession

from .dumpset import data_file_paths, recover, staged
from .exceptions import FileError, UsageError

SYSTEM_SCHEMAS = {"information_schema", "pg_catalog", "system", "temp"}


@runtime_checkable
class Connector(Protocol):
    """Catalog + table I/O abstraction."""

    def list_schemas(self) -> list[str]: ...

    def list_tables(self, schema: str) -> list[str]: ...

    def table_exists(self, schema: str, table: str) -> bool: ...

    def read_table(
        self,
        spark: SparkSession,
        schema: str,
        table: str,
        *,
        as_of: str | None = None,
        parallel: int = 1,
        predicate: str | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame: ...

    def write_table(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        *,
        mode: str = "error",
        truncate: bool = False,
        options: dict[str, str] | None = None,
    ) -> bool | None:
        """Write ``df`` to ``schema.table`` under ``mode``. Return True
        only when the target now holds exactly ``df``'s rows in a table
        this call created or replaced, and ``read_table`` returns the
        types written: the engine then takes the target fingerprint
        from the write itself. Anything else (an append, a truncate, an
        ``ignore`` write that found the table, a target whose types
        change on the way in) returns False or None, and the engine
        reads the target back.

        A connector that holds rows on the driver offers
        ``read_arrow(schema, table, *, predicate, columns)`` returning a
        ``pyarrow.Table``, and its ``write_table`` also accepts a
        ``pyarrow.Table`` as ``df``; the engine then moves a small table
        without a Spark job."""
        ...

    def drop_table(self, schema: str, table: str) -> None: ...

    def snapshot_marker(self) -> str | None:
        """A monotone marker for as-of consistency (reference captures an
        Oracle SCN — job.py:261-269, sql.py:90). Generic connectors return
        a wall-clock watermark or None."""
        ...

    def schema_version(self, schema: str) -> str | None: ...

    def tablespaces(self, schema: str) -> list[str]: ...

    def foreign_keys(self, schema: str) -> list[tuple[str, str]]:
        """(table, referenced_table) pairs — drives import topo-ordering
        (parents before children; SURVEY.md §7.3)."""
        ...

    def constraint_columns(self, schema: str) -> dict[str, dict]:
        """Column-level key metadata per table — drives SQL_FILE's
        constraint DDL. Shape: {table: {"primary_key": [col, ...],
        "foreign_keys": [{"columns": [...], "ref_table": t,
        "ref_columns": [...]}, ...]}}. Connectors without catalog
        constraints (files) return {}."""
        ...


_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_$#]*$")


def quote_ident(name: str) -> str:
    """Defensive identifier quoting for SQL we assemble."""
    if _IDENT_RE.match(name):
        return name
    return '"' + name.replace('"', '""') + '"'


def arrow_frame(spark: SparkSession, arrow, parallel: int = 1) -> DataFrame:
    """A driver-held Arrow table as a Spark frame, partitioned by size.

    The frame comes from ``createDataFrame(arrow)`` (PySpark 4): the Spark
    schema derives from the Arrow types, so INTEGER stays int32 instead of
    drifting with the session's pandas-inference config — read types
    must not depend on the session. It gets one partition per
    ``spark.sql.files.maxPartitionBytes`` (the file scan's split size) of
    Arrow bytes, at most ``parallel``. ``createDataFrame`` alone spreads
    even 10 rows over every core, and a repartition to ``parallel`` would
    cost a shuffle: a small table is coalesced into one partition, so one
    dump file."""
    df = spark.createDataFrame(arrow)
    conf = spark._jsparkSession.sessionState().conf()
    n = max(1, min(parallel, -(-arrow.nbytes // conf.filesMaxPartitionBytes())))
    return df.repartition(n) if n > 1 else df.coalesce(1)


class ParquetConnector:
    """A directory-of-files 'database' (parquet by default).

    Layout: ``root/<schema>/<table>.<fmt>`` or (flat) ``root/<table>.<fmt>``
    presented as schema ``main``. Reads and writes are plain distributed
    Spark I/O — this connector is scale-clean. ``fmt`` may be parquet
    (default), orc, json, or csv: ORC reads natively typed; JSON infers;
    CSV sources are expected self-describing (header row) and read with
    schema inference — exports from a CSV source therefore carry
    inferred types, which the dump then pins (URI schemes: parquet://,
    orc://, json://, csv://)."""

    def __init__(self, root: str, flat_schema: str = "main", fmt: str = "parquet"):
        if fmt not in ("parquet", "orc", "json", "csv"):
            raise UsageError(f"Unsupported fs connector format {fmt!r}")
        self.root = root
        self.flat_schema = flat_schema
        self.fmt = fmt
        self._ext = "." + fmt

    # -- catalog ---------------------------------------------------------
    def _is_flat(self) -> bool:
        if not os.path.isdir(self.root):
            return False
        return any(n.endswith(self._ext) for n in os.listdir(self.root))

    def list_schemas(self) -> list[str]:
        if self._is_flat():
            return [self.flat_schema]
        if not os.path.isdir(self.root):
            return []
        return sorted(
            n
            for n in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, n)) and n not in SYSTEM_SCHEMAS
        )

    def _schema_dir(self, schema: str) -> str:
        if self._is_flat():
            if schema != self.flat_schema:
                raise UsageError(f"Unknown schema {schema!r} (flat layout)")
            return self.root
        return os.path.join(self.root, schema)

    def list_tables(self, schema: str) -> list[str]:
        d = self._schema_dir(schema)
        if not os.path.isdir(d):
            return []
        out = []
        for n in sorted(os.listdir(d)):
            if n.endswith(self._ext):
                out.append(n[: -len(self._ext)])
        return out

    def table_exists(self, schema: str, table: str) -> bool:
        """Whether the table is there, after ``recover`` has restored it
        if a crash cut its last write off between the two renames."""
        try:
            recover(self._path(schema, table))
            return table in self.list_tables(schema)
        except UsageError:
            return False

    def _path(self, schema: str, table: str) -> str:
        return os.path.join(self._schema_dir(schema), f"{table}{self._ext}")

    # -- I/O --------------------------------------------------------------
    def read_table(
        self,
        spark: SparkSession,
        schema: str,
        table: str,
        *,
        as_of: str | None = None,
        parallel: int = 1,
        predicate: str | None = None,
        columns: list[str] | None = None,
        partition: str | list[str] | None = None,
    ) -> DataFrame:
        path = self._path(schema, table)
        if not os.path.exists(path):
            raise FileError(f"No such table: {schema}.{table} ({path})")
        # tolerate TIMESTAMP(NANOS) columns (read as long ns) — otherwise
        # Spark's vectorized reader rejects the file outright
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        reader = spark.read
        if self.fmt == "csv":
            reader = reader.option("header", "true").option("inferSchema", "true")
        if partition:
            # TABLE:PARTITION scope — scan ONLY the named hive leaves
            # (connector-level file pruning: the other partitions' files
            # are never listed, let alone read). A list mirrors Oracle's
            # TABLES=(t:p1,t:p2) multi-partition form. basePath keeps the
            # partition column in the schema, like Oracle's
            # partition-scoped export keeping the full column set.
            parts = (
                list(partition)
                if isinstance(partition, (list, tuple))
                else [partition]
            )
            leaves = []
            for p in parts:
                leaf = os.path.join(path, p)
                if not os.path.isdir(leaf):
                    avail = sorted(
                        n
                        for n in os.listdir(path)
                        if os.path.isdir(os.path.join(path, n)) and "=" in n
                    )
                    raise FileError(
                        f"No partition {p!r} in {schema}.{table} "
                        f"(available: {avail or 'none — table is unpartitioned'})"
                    )
                leaves.append(leaf)
            df = reader.option("basePath", path).format(self.fmt).load(leaves)
        else:
            df = reader.format(self.fmt).load(path)
        if predicate:
            df = df.filter(predicate)  # pushed to the parquet scan by Catalyst
        if columns:
            df = df.select(*columns)
        return df

    def count_data_files(self, schema: str, table: str) -> int:
        """files_total for the TABLE:PARTITION pruning-evidence event: a
        driver-side os.walk (filesystem metadata only — no Spark reader
        is constructed, so no scan over the unscoped table is ever
        planned; the scoped feature's contract is that the other leaves'
        data is never touched)."""
        return sum(1 for _ in data_file_paths(self._path(schema, table)))

    def write_table(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        *,
        mode: str = "error",
        truncate: bool = False,
        options: dict[str, str] | None = None,
    ) -> bool | None:
        path = self._path(schema, table)
        recover(path)  # a table cut off mid-publish exists
        exists = os.path.exists(path)
        if mode == "ignore" and exists:
            return None
        if mode in ("error", "errorifexists") and exists:
            raise FileError(f"Table exists: {schema}.{table}")
        writer = df.write.mode("append" if mode == "append" else "overwrite")
        if self.fmt == "csv":
            # source-style CSV tables stay self-describing (header row),
            # unlike dump-set CSV which is headerless + manifest-typed
            writer = writer.option("header", "true")
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        # an append keeps every current file and adds its own beside them
        # (a single-file table becomes a dir holding that file)
        keep = data_file_paths(path) if mode == "append" else ()
        with staged(path, keep) as stage:
            writer.format(self.fmt).save(stage)
        # only parquet is known to read back exactly the types written
        return self.fmt == "parquet" and mode != "append" and not truncate

    def drop_table(self, schema: str, table: str) -> None:
        import shutil

        path = self._path(schema, table)
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)

    # -- MERGE file-pruning capability (MERGE_PRUNE directive) -------------
    def table_file_ranges(
        self, schema: str, table: str, column: str
    ) -> "list[tuple[str, Any, Any]] | None":
        """Per-data-file (path, min, max) zone maps for ``column`` from
        the parquet footers — driver-side metadata reads only (KB per
        file, never row data). Returns None when the capability does not
        apply: non-parquet connector format, non-flat layout, or any
        file lacking statistics for the column (then the engine falls
        back to the full-rewrite merge)."""
        if self.fmt != "parquet":
            return None
        path = self._path(schema, table)
        if not os.path.isdir(path):
            return None
        files = sorted(
            os.path.join(path, n)
            for n in os.listdir(path)
            if n.startswith("part-") and n.endswith(".parquet")
        )
        if not files or any(
            os.path.isdir(os.path.join(path, n))
            for n in os.listdir(path)
            if not n.startswith(("_", "."))
        ):
            return None
        try:
            import pyarrow.parquet as pq
        except Exception:
            return None
        out: list[tuple[str, Any, Any]] = []
        for f in files:
            try:
                md = pq.ParquetFile(f).metadata
                names = {
                    md.schema.column(i).name: i
                    for i in range(md.num_columns)
                }
                if column not in names:
                    return None
                ci = names[column]
                mn = mx = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        return None
                    mn = st.min if mn is None else min(mn, st.min)
                    mx = st.max if mx is None else max(mx, st.max)
                if mn is None:
                    return None
            except Exception:
                return None
            out.append((f, mn, mx))
        return out

    def merge_pruned_write(
        self, df: DataFrame, schema: str, table: str, touched: list[str]
    ) -> int:
        """Replace exactly the ``touched`` data files with the merged
        DataFrame's output, leaving every other file byte-identical: one
        ``staged`` commit that keeps the untouched files (hard links) and
        appends the new parts beside them. Returns the number of files
        written."""
        path, touched = self._path(schema, table), set(touched)
        kept = [p for p in data_file_paths(path) if p not in touched]
        with staged(path, kept) as stage:
            df.write.mode("append").parquet(stage)
            return sum(1 for _ in data_file_paths(stage)) - len(kept)

    def snapshot_marker(self) -> str | None:
        return None

    def schema_version(self, schema: str) -> str | None:
        return None

    def tablespaces(self, schema: str) -> list[str]:
        return []

    def foreign_keys(self, schema: str) -> list[tuple[str, str]]:
        return []  # parquet files carry no constraints

    def constraint_columns(self, schema: str) -> dict[str, dict]:
        return {}  # parquet files carry no constraints


class SqliteConnector:
    """SQLite-file-backed connector (stdlib ``sqlite3`` — no JDBC jar
    needed), the second live-RDBMS path beside DuckDB. Unlike the
    DuckDB test connector, the READ side is genuinely distributed: the
    driver probes MIN/MAX(rowid), splits the key space into
    ``parallel`` ranges, and each executor task opens the database file
    READ-ONLY and scans only its `rowid` slice — the exact
    partitionColumn/lowerBound/upperBound pattern the production
    JdbcConnector uses, implemented against a real embedded engine this
    environment can run. (SQLite's 'main' IS its literal schema name,
    so the schema-qualified contract maps natively.)

    The WRITE side serializes through the driver (SQLite is a
    single-writer engine); like the DuckDB connector it is a test/edge
    substrate and says so — the 100 TB sink is parquet dump sets or
    JDBC. Type mapping: SQLite columns are dynamically typed, so writes
    DECLARE types from the Spark schema (INTEGER/REAL/TEXT/BLOB, with
    timestamps declared TIMESTAMP and stored as ISO-microsecond TEXT)
    and reads map declared types back (TIMESTAMP → datetime64[us]) —
    the gated round-trip pins that the mapping is lossless end to end.
    """

    _TS_FMT = "%Y-%m-%d %H:%M:%S.%f"

    def __init__(self, path: str):
        import sqlite3

        self.path = path
        self._con = sqlite3.connect(path, check_same_thread=False)
        import threading

        # RLock: write_table introspects the catalog (execute) while
        # already holding the lock — a plain Lock self-deadlocks there
        self._write_lock = threading.RLock()

    def execute(self, sql: str, params: Any = None):
        with self._write_lock:
            return (
                self._con.execute(sql, params)
                if params
                else self._con.execute(sql)
            )

    # -- catalog ---------------------------------------------------------
    def list_schemas(self) -> list[str]:
        rows = self.execute("PRAGMA database_list").fetchall()
        return sorted(r[1] for r in rows if r[1] not in SYSTEM_SCHEMAS)

    def list_tables(self, schema: str) -> list[str]:
        rows = self.execute(
            f"SELECT name FROM {quote_ident(schema)}.sqlite_master "
            "WHERE type = 'table' AND name NOT LIKE 'sqlite_%' ORDER BY 1"
        ).fetchall()
        return [r[0] for r in rows]

    def list_views(self, schema: str) -> list[str]:
        rows = self.execute(
            f"SELECT name FROM {quote_ident(schema)}.sqlite_master "
            "WHERE type = 'view' ORDER BY 1"
        ).fetchall()
        return [r[0] for r in rows]

    def table_exists(self, schema: str, table: str) -> bool:
        return table in self.list_tables(schema)

    def ensure_schema(self, schema: str) -> None:
        if schema not in self.list_schemas():
            raise UsageError(
                f"SQLite cannot create schema {schema!r}: attach a "
                "database file as that schema first (ATTACH ... AS)"
            )

    def _declared_types(self, schema: str, table: str) -> list[tuple[str, str]]:
        rows = self.execute(
            f"PRAGMA {quote_ident(schema)}.table_info({quote_ident(table)})"
        ).fetchall()
        return [(r[1], (r[2] or "").upper()) for r in rows]

    # -- I/O --------------------------------------------------------------
    def read_table(
        self,
        spark: SparkSession,
        schema: str,
        table: str,
        *,
        as_of: str | None = None,
        parallel: int = 1,
        predicate: str | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        import pandas as pd

        info = self._declared_types(schema, table)
        if columns:
            info = [ct for ct in info if ct[0] in set(columns)]
        col_sql = ", ".join(quote_ident(c) for c, _ in info)
        fq = f"{quote_ident(schema)}.{quote_ident(table)}"
        is_view = table in self.list_views(schema)
        if is_view:
            # views have no rowid to range-partition on: one full-scan
            # task (VIEWS_AS_TABLES materialization path); a production
            # source would project a keyed column instead
            nrows = self.execute(f"SELECT COUNT(*) FROM {fq}").fetchone()[0]
            lohi = (1, 1) if nrows else (None, None)
        else:
            lohi = self.execute(
                f"SELECT MIN(rowid), MAX(rowid) FROM {fq}"
            ).fetchone()
        # Spark-side schema from the DECLARED types — every partition
        # must agree on it regardless of which rows it sees
        def spark_type(decl: str) -> str:
            if "INT" in decl:
                return "long"
            if decl in ("REAL", "FLOAT", "DOUBLE") or "REAL" in decl:
                return "double"
            if "TIMESTAMP" in decl or "DATE" in decl:
                return "timestamp_ntz"
            if "BLOB" in decl:
                return "binary"
            return "string"

        schema_ddl = ", ".join(
            f"{c} {spark_type(t)}" for c, t in info
        )
        if lohi[0] is None:  # empty table
            return spark.createDataFrame([], schema_ddl)
        lo, hi = int(lohi[0]), int(lohi[1])
        n = max(1, min(parallel, hi - lo + 1))
        span = (hi - lo + 1 + n - 1) // n
        ranges = [
            (lo + i * span - 1, min(lo + (i + 1) * span - 1, hi))
            for i in range(n)
        ]  # (exclusive_lo, inclusive_hi)
        rdf = spark.createDataFrame(ranges, "xlo long, ihi long").repartition(
            n, "xlo"
        )
        path = self.path
        ts_cols = [c for c, t in info if "TIMESTAMP" in t or "DATE" in t]
        pred_sql = f" AND ({predicate})" if predicate else ""

        def scan(batches):
            import sqlite3

            con = sqlite3.connect(
                f"file:{path}?mode=ro", uri=True, check_same_thread=False
            )
            try:
                for pdf in batches:
                    for xlo, ihi in zip(pdf["xlo"], pdf["ihi"]):
                        if is_view:
                            where = pred_sql.replace(" AND ", " WHERE ", 1)
                            q = f"SELECT {col_sql} FROM {fq}{where}"
                        else:
                            q = (
                                f"SELECT {col_sql} FROM {fq} WHERE rowid > "
                                f"{int(xlo)} AND rowid <= {int(ihi)}"
                                f"{pred_sql}"
                            )
                        out = pd.read_sql_query(q, con)
                        for c in ts_cols:
                            # ISO8601 accepts every precision SQLite
                            # stores ('YYYY-MM-DD[ HH:MM:SS[.ffffff]]'),
                            # so externally-created databases with
                            # second-precision or bare-date text read
                            # fine; 'mixed' is the last-resort fallback
                            # for heterogeneous columns.
                            try:
                                out[c] = pd.to_datetime(
                                    out[c], format="ISO8601"
                                ).astype("datetime64[us]")
                            except ValueError:
                                out[c] = pd.to_datetime(
                                    out[c], format="mixed"
                                ).astype("datetime64[us]")
                        yield out
            finally:
                con.close()

        return rdf.mapInPandas(scan, schema_ddl)

    def write_table(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        *,
        mode: str = "error",
        truncate: bool = False,
        options: dict[str, str] | None = None,
    ) -> None:
        fq = f"{quote_ident(schema)}.{quote_ident(table)}"
        exists = self.table_exists(schema, table)
        if mode == "ignore" and exists:
            return
        if mode == "error" and exists:
            raise FileError(f"Table exists: {schema}.{table}")

        def decl(dt: str) -> str:
            if dt in ("bigint", "int", "smallint", "tinyint", "boolean"):
                return "INTEGER"
            if dt in ("double", "float") or dt.startswith("decimal"):
                return "REAL"
            if dt.startswith("timestamp") or dt == "date":
                return "TIMESTAMP"
            if dt == "binary":
                return "BLOB"
            return "TEXT"

        cols = [(c, decl(t)) for c, t in df.dtypes]
        ts_cols = {c for c, d in cols if d == "TIMESTAMP"}
        rows = []
        for r in df.collect():  # driver-side: test/edge substrate only
            vals = []
            for (c, d), v in zip(cols, r):
                if v is not None and c in ts_cols:
                    v = v.strftime(self._TS_FMT)
                elif isinstance(v, Decimal):  # sqlite3 binds no Decimal
                    v = float(v)
                vals.append(v)
            rows.append(tuple(vals))
        ddl_cols = ", ".join(f"{quote_ident(c)} {d}" for c, d in cols)
        ph = ", ".join("?" for _ in cols)
        with self._write_lock:
            cur = self._con.cursor()
            if exists and mode == "overwrite" and not truncate:
                cur.execute(f"DROP TABLE {fq}")
                exists = False
            if exists and mode == "overwrite" and truncate:
                cur.execute(f"DELETE FROM {fq}")
            if not exists:
                cur.execute(f"CREATE TABLE {fq} ({ddl_cols})")
            elif mode == "append":
                target = {c for c, _ in self._declared_types(schema, table)}
                if {c for c, _ in cols} != target:
                    raise FileError(
                        f"Schema drift writing {schema}.{table}: incoming "
                        f"{sorted(c for c, _ in cols)} != target "
                        f"{sorted(target)}"
                    )
            names = ", ".join(quote_ident(c) for c, _ in cols)
            cur.executemany(
                f"INSERT INTO {fq} ({names}) VALUES ({ph})", rows
            )
            self._con.commit()

    def drop_table(self, schema: str, table: str) -> None:
        with self._write_lock:
            self._con.execute(
                f"DROP TABLE IF EXISTS "
                f"{quote_ident(schema)}.{quote_ident(table)}"
            )
            self._con.commit()

    def snapshot_marker(self) -> str | None:
        from .util import utc_now

        return "TS(" + utc_now().isoformat() + ")"

    def schema_version(self, schema: str) -> str | None:
        return None

    def tablespaces(self, schema: str) -> list[str]:
        return []

    def foreign_keys(self, schema: str) -> list[tuple[str, str]]:
        out = []
        for t in self.list_tables(schema):
            for r in self.execute(
                f"PRAGMA {quote_ident(schema)}.foreign_key_list"
                f"({quote_ident(t)})"
            ).fetchall():
                out.append((t, r[2]))
        return out

    def constraint_columns(self, schema: str) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for t in self.list_tables(schema):
            pk = [
                r[1]
                for r in self.execute(
                    f"PRAGMA {quote_ident(schema)}.table_info"
                    f"({quote_ident(t)})"
                ).fetchall()
                if r[5]  # pk ordinal (0 = not part of the key)
            ]
            # foreign_key_list rows: (id, seq, ref_table, from, to, ...)
            # group the column pairs of a composite FK by constraint id
            fks: dict[int, dict] = {}
            for r in self.execute(
                f"PRAGMA {quote_ident(schema)}.foreign_key_list"
                f"({quote_ident(t)})"
            ).fetchall():
                fk = fks.setdefault(
                    r[0],
                    {"columns": [], "ref_table": r[2], "ref_columns": []},
                )
                fk["columns"].append(r[3])
                fk["ref_columns"].append(r[4])
            # UNIQUE constraints surface as unique indexes of origin 'u',
            # explicit CREATE INDEX artifacts as origin 'c'
            # (index_list rows: (seq, name, unique, origin, partial));
            # CHECK expressions are not exposed by SQLite's PRAGMA
            # catalog (only by parsing sqlite_master SQL), so they are
            # deliberately not captured here — DuckDB is the CHECK path.
            uniques, indexes = [], []
            for ix in self.execute(
                f"PRAGMA {quote_ident(schema)}.index_list"
                f"({quote_ident(t)})"
            ).fetchall():
                if ix[3] not in ("u", "c"):
                    continue
                cols = [
                    r[2]
                    for r in self.execute(
                        f"PRAGMA {quote_ident(schema)}.index_info"
                        f"({quote_ident(ix[1])})"
                    ).fetchall()
                ]
                if not cols:
                    continue
                if ix[3] == "u" and ix[2]:
                    uniques.append(cols)
                elif ix[3] == "c":
                    indexes.append(
                        {
                            "name": ix[1],
                            "unique": bool(ix[2]),
                            "columns": cols,
                        }
                    )
            if pk or fks or uniques or indexes:
                out[t] = {
                    "primary_key": pk,
                    "foreign_keys": [fks[k] for k in sorted(fks)],
                    "unique": sorted(uniques),
                    "checks": [],
                    "indexes": sorted(indexes, key=lambda d: d["name"]),
                }
        return out


class DuckDbConnector:
    """DuckDB-file-backed connector — the test stand-in for a real RDBMS
    (BASELINE.json: "t2 duckdb-oracle").

    Rows are exchanged as Arrow tables through the driver. That is correct
    but NOT the 100 TB path — at scale use JdbcConnector, where executors
    read partitioned shards directly. This connector exists so the job
    lifecycle, directives and round-trip semantics are testable hermetically.
    """

    def __init__(self, path: str = ":memory:"):
        import threading

        import duckdb

        self.path = path
        self._con = duckdb.connect(path)
        # DuckDB is a single-writer embedded engine: concurrent DDL/DML
        # from the engine's table pool hit "Catalog write-write conflict"
        # (observed intermittently under PARALLEL=2). Writes serialize on
        # this lock; reads stay concurrent via per-call cursors.
        self._write_lock = threading.Lock()

    @property
    def con(self):
        return self._con

    def _cursor(self):
        # Per-call cursor: DuckDB's documented pattern for concurrent use of
        # one connection from many threads (our engine pool, engine.py).
        return self._con.cursor()

    def execute(self, sql: str, params: Any = None):
        cur = self._cursor()
        return cur.execute(sql, params) if params else cur.execute(sql)

    # -- catalog ---------------------------------------------------------
    def list_schemas(self) -> list[str]:
        rows = self._cursor().execute(
            "SELECT schema_name FROM information_schema.schemata ORDER BY 1"
        ).fetchall()
        return [r[0] for r in rows if r[0] not in SYSTEM_SCHEMAS]

    def list_tables(self, schema: str) -> list[str]:
        rows = self._cursor().execute(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_schema = ? AND table_type = 'BASE TABLE' ORDER BY 1",
            [schema],
        ).fetchall()
        return [r[0] for r in rows]

    def table_exists(self, schema: str, table: str) -> bool:
        # a point lookup over base tables, like list_tables
        return self._cursor().execute(
            "SELECT 1 FROM duckdb_tables() "
            "WHERE schema_name = ? AND table_name = ? AND NOT temporary",
            [schema, table],
        ).fetchone() is not None

    def list_views(self, schema: str) -> list[str]:
        rows = self._cursor().execute(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_schema = ? AND table_type = 'VIEW' ORDER BY 1",
            [schema],
        ).fetchall()
        return [r[0] for r in rows]

    def ensure_schema(self, schema: str) -> None:
        with self._write_lock:
            self._cursor().execute(
                f"CREATE SCHEMA IF NOT EXISTS {quote_ident(schema)}"
            )

    # -- I/O --------------------------------------------------------------
    def read_arrow(
        self,
        schema: str,
        table: str,
        *,
        predicate: str | None = None,
        columns: list[str] | None = None,
    ):
        """The table, filtered and pruned in SQL, as one Arrow table on the
        driver."""
        cols = ", ".join(quote_ident(c) for c in columns) if columns else "*"
        sql = f"SELECT {cols} FROM {quote_ident(schema)}.{quote_ident(table)}"
        if predicate:
            sql += f" WHERE {predicate}"
        return self._cursor().execute(sql).fetch_arrow_table()

    def read_table(
        self,
        spark: SparkSession,
        schema: str,
        table: str,
        *,
        as_of: str | None = None,
        parallel: int = 1,
        predicate: str | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        arrow = self.read_arrow(schema, table, predicate=predicate, columns=columns)
        return arrow_frame(spark, arrow, parallel)

    def write_table(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        *,
        mode: str = "error",
        truncate: bool = False,
        options: dict[str, str] | None = None,
    ) -> bool | None:
        import pyarrow as pa

        fq = f"{quote_ident(schema)}.{quote_ident(table)}"
        exists = self.table_exists(schema, table)
        if mode == "ignore" and exists:
            return None
        if mode == "error" and exists:
            raise FileError(f"Table exists: {schema}.{table}")
        into_existing = exists and (
            mode == "append" or (mode == "overwrite" and truncate)
        )
        if into_existing:
            # strict schema contract: BY NAME binding below fixes column
            # ORDER, but DuckDB would also null-fill MISSING columns —
            # silently legitimizing drift the engine only permits under
            # ALLOW_SCHEMA_EVOLUTION (which pre-aligns the frame before
            # calling here). Enforce set equality so unflagged drift
            # still fails loudly.
            target_cols = {
                r[0]
                for r in self.execute(f"DESCRIBE {fq}").fetchall()
            }
            incoming = set(df.schema.names)
            if incoming != target_cols:
                raise FileError(
                    f"Schema drift writing {schema}.{table}: incoming "
                    f"columns {sorted(incoming)} != target "
                    f"{sorted(target_cols)} (use "
                    "DATA_OPTIONS(ALLOW_SCHEMA_EVOLUTION) to reconcile)"
                )
        self.ensure_schema(schema)
        # Arrow table on the driver (test-scale only)
        batches = df if isinstance(df, pa.Table) else df.toArrow()
        # One cursor for the whole register → DML sequence (cursor-local
        # view), serialized: DuckDB rejects concurrent catalog writes.
        # The lock is held via `with` so a failing _cursor()/register can
        # never leak it and deadlock later writers.
        with self._write_lock:
            cur = self._cursor()
            registered = False
            try:
                cur.register("_dp_incoming", batches)
                registered = True
                # INSERT ... BY NAME, never positional SELECT *: when the
                # incoming column order differs from the target's DDL
                # (COLUMNS projection, reordered dump), positional insert
                # silently swaps same-typed columns — data corruption
                if into_existing:
                    if mode == "overwrite":
                        # TABLE_EXISTS_ACTION=TRUNCATE: keep DDL, delete rows
                        cur.execute(f"DELETE FROM {fq}")
                    cur.execute(f"INSERT INTO {fq} BY NAME SELECT * FROM _dp_incoming")
                elif mode == "overwrite":
                    # TABLE_EXISTS_ACTION=REPLACE: drop & recreate
                    cur.execute(f"CREATE OR REPLACE TABLE {fq} AS SELECT * FROM _dp_incoming")
                else:  # error / ignore / append to a new table
                    cur.execute(f"CREATE TABLE {fq} AS SELECT * FROM _dp_incoming")
            finally:
                if registered:
                    cur.unregister("_dp_incoming")
        return not into_existing

    def drop_table(self, schema: str, table: str) -> None:
        with self._write_lock:
            self._cursor().execute(
                f"DROP TABLE IF EXISTS {quote_ident(schema)}.{quote_ident(table)}"
            )

    def snapshot_marker(self) -> str | None:
        from .util import utc_now

        return "TS(" + utc_now().isoformat() + ")"

    def schema_version(self, schema: str) -> str | None:
        # Flyway-style version probe (reference database.py:111-115,128-138;
        # sql.py:81-86): look for a <schema>.flyway_schema_history table.
        try:
            row = self._cursor().execute(
                f"SELECT version FROM {quote_ident(schema)}.flyway_schema_history "
                "WHERE success ORDER BY installed_rank DESC LIMIT 1"
            ).fetchone()
            return row[0] if row else None
        except Exception:
            return None

    def tablespaces(self, schema: str) -> list[str]:
        return []

    _FK_RE = re.compile(r'REFERENCES\s+(?:(\w+)\.)?(\w+)\s*\(', re.IGNORECASE)
    _FK_COLS_RE = re.compile(
        r'REFERENCES\s+(?:(\w+)\.)?(\w+)\s*\(([^)]*)\)', re.IGNORECASE
    )

    def foreign_keys(self, schema: str) -> list[tuple[str, str]]:
        rows = self._cursor().execute(
            "SELECT table_name, constraint_text FROM duckdb_constraints() "
            "WHERE constraint_type = 'FOREIGN KEY' AND schema_name = ?",
            [schema],
        ).fetchall()
        out = []
        for table, text in rows:
            m = self._FK_RE.search(text or "")
            if m:
                out.append((table, m.group(2)))
        return out

    _CHECK_RE = re.compile(r"^CHECK\s*\((.*)\)\s*$", re.IGNORECASE | re.S)
    _IDX_COLS_RE = re.compile(r"\(([^()]*)\)\s*;?\s*$")

    def _secondary_indexes(self, schema: str) -> dict[str, list[dict]]:
        """Explicit secondary indexes per table (duckdb_indexes lists
        only CREATE INDEX artifacts — PK/UNIQUE constraint backing
        indexes never appear, so no dedup against the constraint set
        is needed). Columns parse from the recorded CREATE INDEX SQL's
        trailing parenthesized list."""
        out: dict[str, list[dict]] = {}
        rows = self._cursor().execute(
            "SELECT table_name, index_name, is_unique, sql "
            "FROM duckdb_indexes() WHERE schema_name = ?",
            [schema],
        ).fetchall()
        for table, name, uniq, sql in rows:
            m = self._IDX_COLS_RE.search(sql or "")
            if not m:
                continue
            out.setdefault(table, []).append(
                {
                    "name": name,
                    "unique": bool(uniq),
                    "columns": [c.strip() for c in m.group(1).split(",")],
                }
            )
        for lst in out.values():
            lst.sort(key=lambda d: d["name"])
        return out

    def constraint_columns(self, schema: str) -> dict[str, dict]:
        rows = self._cursor().execute(
            "SELECT table_name, constraint_type, constraint_column_names, "
            "constraint_text FROM duckdb_constraints() "
            "WHERE constraint_type IN "
            "('PRIMARY KEY', 'FOREIGN KEY', 'UNIQUE', 'CHECK') "
            "AND schema_name = ?",
            [schema],
        ).fetchall()
        idx = self._secondary_indexes(schema)
        out: dict[str, dict] = {}
        for table, entries in idx.items():
            out[table] = {
                "primary_key": [],
                "foreign_keys": [],
                "unique": [],
                "checks": [],
                "indexes": entries,
            }
        for table, ctype, cols, text in rows:
            entry = out.setdefault(
                table,
                {
                    "primary_key": [],
                    "foreign_keys": [],
                    "unique": [],
                    "checks": [],
                    "indexes": [],
                },
            )
            if ctype == "PRIMARY KEY":
                entry["primary_key"] = list(cols or [])
            elif ctype == "UNIQUE":
                entry["unique"].append(list(cols or []))
            elif ctype == "CHECK":
                m = self._CHECK_RE.match((text or "").strip())
                if m:
                    entry["checks"].append(m.group(1))
            else:
                m = self._FK_COLS_RE.search(text or "")
                if m:
                    entry["foreign_keys"].append(
                        {
                            "columns": list(cols or []),
                            "ref_table": m.group(2),
                            "ref_columns": [
                                c.strip() for c in m.group(3).split(",")
                            ],
                        }
                    )
        return out

    def load_parquet_dir(self, schema: str, src_dir: str) -> list[str]:
        """Fixture loader: CREATE TABLE per parquet file in a directory."""
        self.ensure_schema(schema)
        tables = []
        for n in sorted(os.listdir(src_dir)):
            if not n.endswith(".parquet"):
                continue
            t = n[: -len(".parquet")]
            self._cursor().execute(
                f"CREATE OR REPLACE TABLE {quote_ident(schema)}.{quote_ident(t)} AS "
                f"SELECT * FROM read_parquet(?)",
                [os.path.join(src_dir, n)],
            )
            tables.append(t)
        return tables


class JdbcConnector:
    """Partitioned JDBC connector — the production scale path.

    Reads shard on ``partition_column`` between min/max bounds so each of
    ``parallel`` executors pulls its own range directly from the database
    (this replaces Oracle Data Pump's server-side worker parallelism —
    reference directives.py:400-409). As-of markers push down as dialect
    subqueries, e.g. Oracle ``AS OF SCN n`` (reference job.py:261-269).

    Untested in this container (no JDBC driver jar baked in); the logic is
    exercised through the shared option-assembly helpers below.
    """

    def __init__(
        self,
        url: str,
        properties: dict[str, str] | None = None,
        dialect: str = "generic",
        catalog_executor=None,
    ):
        self.url = url
        self.properties = dict(properties or {})
        self.dialect = dialect
        # Optional seam: callable(sql) -> list[tuple]. Production leaves it
        # None (catalog queries go through Spark's JDBC reader); tests
        # drive the SAME SQL through a DBAPI cursor (DuckDB exposes ANSI
        # information_schema), so the code path is verified without a
        # driver jar.
        self._catalog_executor = catalog_executor

    # -- option assembly (unit-testable without a live DB) ----------------
    def as_of_subquery(self, schema: str, table: str, as_of: str | None) -> str:
        fq = f"{quote_ident(schema)}.{quote_ident(table)}"
        if not as_of:
            return fq
        if self.dialect == "oracle":
            if as_of.startswith("SCN(") and as_of.endswith(")"):
                return f"(SELECT * FROM {fq} AS OF SCN {int(as_of[4:-1])})"
            if as_of.startswith("TS(") and as_of.endswith(")"):
                ts = as_of[3:-1]
                # the auto-captured marker is a tz-AWARE isoformat (ends
                # in +00:00 or Z); TO_TIMESTAMP's mask cannot consume an
                # offset, so parse with TO_TIMESTAMP_TZ + TZH:TZM when
                # one is present (ORA-01830 otherwise on every default
                # flashback export)
                if ts.endswith("Z"):
                    ts = ts[:-1] + "+00:00"
                has_tz = len(ts) > 6 and ts[-6] in "+-" and ts[-3] == ":"
                if has_tz:
                    return (
                        f"(SELECT * FROM {fq} AS OF TIMESTAMP "
                        f"TO_TIMESTAMP_TZ('{ts}', "
                        f"'YYYY-MM-DD\"T\"HH24:MI:SS.FFTZH:TZM'))"
                    )
                return (
                    f"(SELECT * FROM {fq} AS OF TIMESTAMP "
                    f"TO_TIMESTAMP('{ts}', 'YYYY-MM-DD\"T\"HH24:MI:SS.FF'))"
                )
        # Generic dialects: snapshot consistency is per-table atomic only;
        # recorded honestly in the manifest (SURVEY.md §7.3).
        return fq

    def read_options(
        self,
        schema: str,
        table: str,
        *,
        as_of: str | None,
        parallel: int,
        partition_column: str | None,
        bounds: tuple[int, int] | None,
        fetchsize: int = 10_000,
    ) -> dict[str, str]:
        opts: dict[str, str] = {
            "url": self.url,
            "dbtable": self.as_of_subquery(schema, table, as_of)
            if as_of
            else f"{quote_ident(schema)}.{quote_ident(table)}",
            "fetchsize": str(fetchsize),
            **self.properties,
        }
        if parallel > 1 and partition_column and bounds:
            opts.update(
                partitionColumn=partition_column,
                lowerBound=str(bounds[0]),
                upperBound=str(bounds[1]),
                numPartitions=str(parallel),
            )
        return opts

    # -- catalog introspection --------------------------------------------
    # Dialect-keyed SQL, mirroring the reference's live enumeration
    # (reference database.py:105-138 SchemaHandler, sql.py:7-11 dba_segments
    # tablespaces, sql.py:81-86 all_users). Non-Oracle dialects use ANSI
    # information_schema, which DuckDB/Postgres/MySQL all expose.
    _SCHEMAS_SQL = {
        "oracle": "SELECT username FROM all_users ORDER BY username",
        "generic": (
            "SELECT schema_name FROM information_schema.schemata "
            "WHERE schema_name NOT IN ('information_schema', 'pg_catalog', "
            "'sys', 'mysql', 'performance_schema', 'system', 'temp') "
            "ORDER BY schema_name"
        ),
    }
    _TABLES_SQL = {
        "oracle": (
            "SELECT table_name FROM all_tables WHERE owner = '{schema}' "
            "ORDER BY table_name"
        ),
        "generic": (
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_schema = '{schema}' ORDER BY table_name"
        ),
    }
    _TABLESPACES_SQL = {
        "oracle": (
            "SELECT DISTINCT tablespace_name FROM dba_segments "
            "WHERE owner = UPPER('{schema}')"
        ),
        # no tablespace concept outside Oracle — empty result by contract
        "generic": None,
    }

    @staticmethod
    def _lit(value: str) -> str:
        """Escape a string for embedding as a SQL literal (catalog names;
        JDBC catalog queries can't be parameterized through Spark)."""
        return value.replace("'", "''")

    def _dialect_sql(self, table: dict, **fmt: str) -> str | None:
        sql = table.get(self.dialect, table["generic"])
        if sql is None:
            return None
        return sql.format(**{k: self._lit(v) for k, v in fmt.items()})

    def _catalog_query(self, sql: str, spark: SparkSession | None = None):
        if self._catalog_executor is not None:
            return list(self._catalog_executor(sql))
        spark = spark or SparkSession.getActiveSession()
        if spark is None:  # pragma: no cover - needs live session + jar
            raise NotImplementedError(
                "JDBC catalog introspection needs a SparkSession (or a "
                "catalog_executor) to run the query"
            )
        df = (
            spark.read.format("jdbc")
            .option("url", self.url)
            .option("query", sql)
            .options(**self.properties)
            .load()
        )
        # catalog listings are small by construction (names, not data)
        return [tuple(r) for r in df.collect()]

    def list_schemas(self, spark: SparkSession | None = None) -> list[str]:
        sql = self._dialect_sql(self._SCHEMAS_SQL)
        return [r[0] for r in self._catalog_query(sql, spark)]

    def list_tables(
        self, schema: str, spark: SparkSession | None = None
    ) -> list[str]:
        sql = self._dialect_sql(self._TABLES_SQL, schema=schema)
        return [r[0] for r in self._catalog_query(sql, spark)]

    def list_tablespaces(
        self, schema: str, spark: SparkSession | None = None
    ) -> list[str]:
        sql = self._dialect_sql(self._TABLESPACES_SQL, schema=schema)
        if sql is None:
            return []
        return [r[0] for r in self._catalog_query(sql, spark)]

    def table_exists(
        self, schema: str, table: str, spark: SparkSession | None = None
    ) -> bool:
        return table in self.list_tables(schema, spark)

    def read_table(
        self,
        spark: SparkSession,
        schema: str,
        table: str,
        *,
        as_of: str | None = None,
        parallel: int = 1,
        predicate: str | None = None,
        columns: list[str] | None = None,
        partition_column: str | None = None,
        bounds: tuple[int, int] | None = None,
    ) -> DataFrame:  # pragma: no cover - needs live DB
        reader = spark.read.format("jdbc")
        for k, v in self.read_options(
            schema,
            table,
            as_of=as_of,
            parallel=parallel,
            partition_column=partition_column,
            bounds=bounds,
        ).items():
            reader = reader.option(k, v)
        df = reader.load()
        if predicate:
            df = df.filter(predicate)  # pushed down by Catalyst JDBC rules
        if columns:
            df = df.select(*columns)
        return df

    def write_table(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        *,
        mode: str = "error",
        truncate: bool = False,
        options: dict[str, str] | None = None,
    ) -> None:  # pragma: no cover - needs live DB
        writer = (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", f"{quote_ident(schema)}.{quote_ident(table)}")
            .option("truncate", str(truncate).lower())
            .option("batchsize", (options or {}).get("batchsize", "10000"))
        )
        for k, v in self.properties.items():
            writer = writer.option(k, v)
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        writer.mode(mode).save()

    def drop_table(self, schema: str, table: str) -> None:  # pragma: no cover
        raise NotImplementedError

    def snapshot_marker(self) -> str | None:
        from .util import utc_now

        return "TS(" + utc_now().isoformat() + ")"

    def schema_version(self, schema: str) -> str | None:  # pragma: no cover
        return None

    def tablespaces(self, schema: str) -> list[str]:  # pragma: no cover
        return []

    def foreign_keys(self, schema: str) -> list[tuple[str, str]]:  # pragma: no cover
        # live implementation: JDBC DatabaseMetaData.getImportedKeys per table
        return []

    def constraint_columns(self, schema: str) -> dict[str, dict]:  # pragma: no cover
        # live implementation: getPrimaryKeys/getImportedKeys per table
        return {}


def resolve_connector(connection: object) -> Connector:
    """Build a connector from a URL string, dict, or ready object
    (reference database.py:69-85 accepts str | dict | Connection)."""
    if isinstance(
        connection,
        (ParquetConnector, DuckDbConnector, SqliteConnector, JdbcConnector),
    ):
        return connection
    if isinstance(connection, str):
        if connection.startswith("duckdb://"):
            return DuckDbConnector(connection[len("duckdb://") :] or ":memory:")
        if connection.startswith("sqlite://"):
            return SqliteConnector(connection[len("sqlite://") :])
        if connection.startswith("parquet://"):
            return ParquetConnector(connection[len("parquet://") :])
        for scheme in ("orc", "json", "csv"):
            if connection.startswith(scheme + "://"):
                return ParquetConnector(
                    connection[len(scheme) + 3 :], fmt=scheme
                )
        if connection.startswith("jdbc:"):
            return JdbcConnector(connection)
        raise UsageError(f"Unrecognized connection url: {connection!r}")
    if isinstance(connection, dict):
        url = connection.get("url", "")
        props = {
            k: str(v)
            for k, v in connection.items()
            if k not in ("url",) and v is not None
        }
        if url.startswith("jdbc:"):
            return JdbcConnector(url, props)
        return resolve_connector(url)
    raise UsageError(f"Cannot resolve connection from {type(connection).__name__}")
