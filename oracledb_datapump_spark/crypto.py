"""Dump-set encryption: real Parquet modular encryption (AES-GCM),
password-keyed, executor-distributed.

The reference maps the ENCRYPTION family straight through to Oracle's
server-side dump encryption (reference ``directives.py:274-297``); this
module is the Spark-side equivalent built on the PUBLIC Parquet modular
encryption spec as implemented by pyarrow (``pyarrow.parquet.encryption``):

* Data pages and column metadata are encrypted with **AES-GCM** by the
  Arrow C++ engine (``AES_GCM_V1`` — full module-level integrity, not
  just confidentiality). AES128/192/256 map to the parquet data-key
  length.
* Keys: a per-dump **master key** is derived from ENCRYPTION_PASSWORD
  with PBKDF2-HMAC-SHA256 (stdlib, 120k iterations) over a random
  per-dump salt recorded (public) in the manifest. Parquet's key tools
  generate a random data key per file and store it **wrapped** in the
  file footer (internal key material, double wrapping off); wrap/unwrap
  is done by :class:`PasswordKmsClient` below with an HMAC-authenticated
  keystream (SHA-256 CTR construction) — the DATA encryption itself is
  Arrow's AES-GCM, the KMS only protects the 32-byte data key, and a
  wrong password fails the HMAC check loudly instead of yielding
  garbage plaintext.
* Scope mapping (Oracle → parquet): ``ALL`` = encrypted footer
  (``PARE`` magic — even schema/stats are sealed), ``DATA_ONLY`` =
  plaintext footer + every column encrypted (row counts/stats stay
  probe-able, data does not), ``ENCRYPTED_COLUMNS_ONLY`` = plaintext
  footer + only the ENCRYPTION_COLUMNS-named columns encrypted via
  pyarrow ``column_keys`` (Oracle reads the column set from DDL
  ENCRYPT markers, reference ``directives.py:274-297``; the
  directive-supplied list is the catalog-less analog — keyless
  readers keep the unnamed columns, e.g. DuckDB projection pushdown,
  while the named columns fail loudly). ``METADATA_ONLY`` (sealed
  footer, plaintext columns) is not expressible through parquet's
  key-tools API → ``Unsupported``. ``ENCRYPTION_MODE``
  TRANSPARENT/DUAL need an Oracle wallet → ``Unsupported``; PASSWORD
  is the supported mode.

Scale notes: the write path is ``df.mapInPandas`` — **each executor
task encrypts and writes its own part file directly**, so encryption
parallelism equals the export's partition count; nothing is funneled
through the driver. The read path is a file-list ``mapInPandas`` with
one task per part file (Arrow-batched, never per-row Python). The
password travels only inside the serialized task closure; it is never
written to the manifest, the event log, or any dump file (the
ENCRYPTION_PASSWORD directive already masks itself in ``to_dict``).
Plain ``spark.read.parquet`` / DuckDB on an encrypted dump fails with a
Parquet crypto error — that failure IS the feature, and the tests pin
it (tests/test_encryption.py).
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import os

from .exceptions import Unsupported, UsageError

PBKDF2_ITERATIONS = 120_000
MASTER_KEY_ID = "master"
_ALGO_BITS = {"AES128": 128, "AES192": 192, "AES256": 256}


def derive_master_key(password: str, salt: bytes) -> bytes:
    return hashlib.pbkdf2_hmac(
        "sha256", password.encode(), salt, PBKDF2_ITERATIONS, 32
    )


def _keystream(master: bytes, nonce: bytes, n: int) -> bytes:
    out = b""
    counter = 0
    while len(out) < n:
        out += hashlib.sha256(
            master + nonce + counter.to_bytes(4, "big")
        ).digest()
        counter += 1
    return out[:n]


def _kms_client_factory(kms_connection_config):
    import pyarrow.parquet.encryption as pe

    master = bytes.fromhex(
        kms_connection_config.custom_kms_conf["master_hex"]
    )

    class PasswordKmsClient(pe.KmsClient):
        """Wraps parquet data keys under the password-derived master key:
        wrapped = b64(nonce ‖ key⊕keystream ‖ HMAC(master, nonce‖ct‖kid)).
        The HMAC makes a wrong ENCRYPTION_PASSWORD a loud error at
        unwrap time, not silent AES-GCM failures downstream."""

        def __init__(self):
            pe.KmsClient.__init__(self)

        def wrap_key(self, key_bytes, master_key_identifier):
            nonce = os.urandom(16)
            ct = bytes(
                a ^ b
                for a, b in zip(
                    key_bytes, _keystream(master, nonce, len(key_bytes))
                )
            )
            tag = hmac.new(
                master,
                nonce + ct + master_key_identifier.encode(),
                hashlib.sha256,
            ).digest()
            return base64.b64encode(nonce + ct + tag)

        def unwrap_key(self, wrapped_key, master_key_identifier):
            raw = base64.b64decode(wrapped_key)
            nonce, ct, tag = raw[:16], raw[16:-32], raw[-32:]
            want = hmac.new(
                master,
                nonce + ct + master_key_identifier.encode(),
                hashlib.sha256,
            ).digest()
            if not hmac.compare_digest(tag, want):
                raise ValueError(
                    "ENCRYPTION_PASSWORD does not match this dump"
                )
            return bytes(
                a ^ b
                for a, b in zip(ct, _keystream(master, nonce, len(ct)))
            )

    return PasswordKmsClient()


def _crypto(password: str, salt: bytes):
    import pyarrow.parquet.encryption as pe

    conf = pe.KmsConnectionConfig(
        custom_kms_conf={"master_hex": derive_master_key(password, salt).hex()}
    )
    return pe.CryptoFactory(_kms_client_factory), conf


def validate_encryption(enc: dict) -> dict:
    """Normalize the PlanConfig.encryption dict into the engine contract
    {password, scope, algorithm, salt?}; raise on the Oracle knobs that
    have no local analog (wallet modes, DDL column markers)."""
    mode = enc.get("mode", "PASSWORD")
    if mode in ("TRANSPARENT", "DUAL"):
        raise Unsupported(
            f"ENCRYPTION_MODE({mode}) requires an Oracle wallet; only "
            "PASSWORD mode is supported (SURVEY §2.4 P4)"
        )
    scope = enc.get("scope") or ("ALL" if enc.get("password") else "NONE")
    if scope == "NONE":
        if enc.get("columns"):
            # ENCRYPTION_COLUMNS supplied alone: silently discarding it
            # would ship the named columns UNENCRYPTED — the one failure
            # mode an encryption directive must never have.
            raise UsageError(
                "ENCRYPTION_COLUMNS was supplied without an encryption "
                "scope or password; add "
                "ENCRYPTION('ENCRYPTED_COLUMNS_ONLY') and "
                "ENCRYPTION_PASSWORD to seal the named columns"
            )
        return {}
    columns = enc.get("columns")
    if scope == "ENCRYPTED_COLUMNS_ONLY":
        # Oracle selects the columns by DDL ENCRYPT markers (reference
        # directives.py:274-297); the catalog-less analog is an explicit
        # ENCRYPTION_COLUMNS directive naming them. Named columns go
        # through pyarrow column_keys; unnamed columns AND the footer
        # stay plaintext so keyless readers keep the rest of the table.
        if not columns:
            raise UsageError(
                "ENCRYPTION(ENCRYPTED_COLUMNS_ONLY) requires "
                "ENCRYPTION_COLUMNS naming the columns to seal (the "
                "catalog-less analog of Oracle's DDL ENCRYPT markers)"
            )
    elif columns:
        raise UsageError(
            "ENCRYPTION_COLUMNS only applies to "
            "ENCRYPTION(ENCRYPTED_COLUMNS_ONLY); "
            f"scope {scope} encrypts a fixed column set"
        )
    if scope == "METADATA_ONLY":
        raise Unsupported(
            "ENCRYPTION(METADATA_ONLY) (sealed footer, plaintext "
            "columns) is not expressible through parquet's key-tools "
            "API (column_keys or uniform encryption required); use ALL "
            "(seals footer AND columns) or DATA_ONLY"
        )
    password = enc.get("password")
    if not password:
        raise UsageError(
            f"ENCRYPTION({scope}) requires ENCRYPTION_PASSWORD "
            "(PASSWORD mode is the only supported ENCRYPTION_MODE)"
        )
    if password == "***":
        # The manifest persists EncryptionPassword as the redacted
        # literal '***' (never the secret). Accepting it here would
        # derive every key from a publicly-known constant — a restarted
        # encrypted job would seal its remaining tables so the REAL
        # password no longer opens them while anyone's '***' does.
        raise UsageError(
            "ENCRYPTION_PASSWORD is the redacted manifest sentinel "
            "'***' — the secret is never persisted; re-supply the "
            "original password (Job.restart(password=...))"
        )
    algorithm = enc.get("algorithm", "AES256")
    out = {"password": password, "scope": scope, "algorithm": algorithm}
    if columns:
        out["columns"] = list(columns)
    return out


def encryption_properties(
    password: str, salt: bytes, scope: str, algorithm: str, columns: list[str]
):
    import pyarrow.parquet.encryption as pe

    factory, conf = _crypto(password, salt)
    column_keys = {} if scope == "METADATA_ONLY" else {MASTER_KEY_ID: columns}
    cfg = pe.EncryptionConfiguration(
        footer_key=MASTER_KEY_ID,
        column_keys=column_keys,
        encryption_algorithm="AES_GCM_V1",
        # DATA_ONLY: plaintext footer, every column sealed (stats remain
        # probe-able). ENCRYPTED_COLUMNS_ONLY: plaintext footer AND only
        # the named columns sealed — keyless readers (DuckDB projection
        # pushdown) keep the unnamed columns; that partial readability
        # IS the Oracle semantic and the lifecycle query pins it.
        plaintext_footer=(scope in ("DATA_ONLY", "ENCRYPTED_COLUMNS_ONLY")),
        data_key_length_bits=_ALGO_BITS.get(algorithm, 256),
        double_wrapping=False,
    )
    return factory.file_encryption_properties(conf, cfg)


def decryption_properties(password: str, salt: bytes):
    import pyarrow.parquet.encryption as pe

    factory, conf = _crypto(password, salt)
    return factory.file_decryption_properties(
        conf, pe.DecryptionConfiguration()
    )


def write_encrypted_dump(
    df,
    out_dir: str,
    password: str,
    scope: str,
    algorithm: str,
    codec: str,
    encrypt_columns: list[str] | None = None,
) -> dict:
    """Encrypted export writer: one AES-GCM parquet file per Spark
    partition, written by the executor that owns the partition (direct
    write with collision-free names — the standard no-commit-protocol
    append pattern; on object stores a task-commit layer would wrap
    this). ``out_dir`` is an empty dir: the engine passes a ``staged``
    one, so a failed write never touches the live dump. Returns {files,
    rows, bytes, salt_hex} from the tasks' own counters so no post-write
    footer scan is needed (an ALL-scope dump has no readable footers)."""
    import pandas as pd
    from pyspark.sql.pandas.types import to_arrow_schema

    # Spark and Arrow disagree on the no-compression spelling
    codec = {"uncompressed": "none"}.get(codec, codec)
    salt = os.urandom(16)
    arrow_schema = to_arrow_schema(df.schema)
    leaf_columns = list(arrow_schema.names)
    if scope == "ENCRYPTED_COLUMNS_ONLY":
        unknown = sorted(set(encrypt_columns or []) - set(leaf_columns))
        if unknown:
            raise UsageError(
                f"ENCRYPTION_COLUMNS names columns not in the export: "
                f"{unknown} (exported columns: {leaf_columns})"
            )
        leaf_columns = list(encrypt_columns or [])

    def _write(batches):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        props = encryption_properties(
            password, salt, scope, algorithm, leaf_columns
        )
        writer = None
        path = fname = None
        n = 0
        for pdf in batches:
            tbl = pa.Table.from_pandas(
                pdf, schema=arrow_schema, preserve_index=False
            )
            if writer is None:
                fname = f"part-e{uuid.uuid4().hex}.parquet"
                path = os.path.join(out_dir, fname)
                writer = pq.ParquetWriter(
                    path,
                    arrow_schema,
                    compression=codec,
                    encryption_properties=props,
                )
            writer.write_table(tbl)
            n += len(pdf)
        if writer is not None:
            writer.close()
            yield pd.DataFrame(
                {
                    "file": [fname],
                    "rows": [n],
                    "bytes": [os.path.getsize(path)],
                }
            )

    parts = df.mapInPandas(_write, "file string, rows long, bytes long").collect()
    if not parts:
        # zero-row export still needs a (valid, encrypted) file so the
        # dump stays self-describing — same posture as the engine's
        # zero-partition guard for plain dumps
        import pyarrow as pa
        import pyarrow.parquet as pq

        props = encryption_properties(
            password, salt, scope, algorithm, leaf_columns
        )
        fname = "part-e00000000empty.parquet"
        path = os.path.join(out_dir, fname)
        with pq.ParquetWriter(
            path, arrow_schema, compression=codec, encryption_properties=props
        ) as w:
            w.write_table(arrow_schema.empty_table())
        parts = [type("R", (), {"file": fname, "rows": 0, "bytes": os.path.getsize(path)})()]
    return {
        "files": sorted(r.file for r in parts),
        "rows": int(sum(r.rows for r in parts)),
        "bytes": int(sum(r.bytes for r in parts)),
        "salt_hex": salt.hex(),
    }


def read_encrypted_dump(
    spark,
    files: list[str],
    spark_schema,
    password: str,
    salt_hex: str,
    columns: list[str] | None = None,
):
    """Decrypting dump reader: a file-list DataFrame fanned out one task
    per part file, each task opening its file with the password-derived
    decryption properties (Arrow-batched). Column pruning is pushed to
    the parquet read; predicates apply on the returned frame (footer
    stats are sealed under ALL scope, so there is nothing to prune on
    without the key anyway)."""
    from pyspark.sql.types import StructType

    salt = bytes.fromhex(salt_hex)
    if isinstance(spark_schema, str):
        import json as _json

        spark_schema = StructType.fromJson(_json.loads(spark_schema))
    if columns:
        spark_schema = StructType([f for f in spark_schema.fields if f.name in columns])
    if not files:
        return spark.createDataFrame([], spark_schema)
    fdf = spark.createDataFrame(
        [(f,) for f in sorted(files)], "path string"
    ).repartition(min(len(files), 256), "path")

    def _read(batches):
        import pyarrow.parquet as pq

        dec = decryption_properties(password, salt)
        for pdf in batches:
            for p in pdf["path"]:
                pf = pq.ParquetFile(p, decryption_properties=dec)
                yield pf.read(columns=columns).to_pandas()

    return fdf.mapInPandas(_read, schema=spark_schema)


def count_encrypted_dump(src_dir: str, password: str, salt_hex: str):
    """(rows, bytes, files) for an encrypted dump dir — footer-only
    reads with the password-derived decryption properties (the plain
    path's zero-scan accounting, engine._count_dump_rows, falls over on
    an ALL/METADATA_ONLY dump whose footers are sealed). Driver-side
    over the FILE LIST only, one footer fetch per file — no data scan."""
    import pyarrow.parquet as pq

    dec = decryption_properties(password, bytes.fromhex(salt_hex))
    rows = size = nfiles = 0
    for name in os.listdir(src_dir):
        if not (name.startswith("part-") and name.endswith(".parquet")):
            continue
        p = os.path.join(src_dir, name)
        size += os.path.getsize(p)
        nfiles += 1
        rows += pq.ParquetFile(p, decryption_properties=dec).metadata.num_rows
    return rows, size, nfiles
