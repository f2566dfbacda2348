"""Snowpipe Streaming ingest blob (bdec) construction — the
client-side blob format the reference builds in
internal/impl/snowflake/streaming/ (streaming.go constructBdecPart /
InsertRows, compat.go key-derivation + encryption + blob paths,
stats.go EP metadata, rest.go registerBlobRequest JSON) from the
publicly documented Snowflake Ingest SDK behavior ("this must exactly
match the java SDK", compat.go:99).

A bdec blob is:
  1. a PARQUET file (zstd, data-page statistics) of the batch, with
     `primaryFileId` = blob basename in the file key/value metadata
     (streaming.go:462-464; parquet.go newParquetWriter),
  2. padded to the AES block size and encrypted with AES-256-CTR,
     key = SHA256(base64decode(channel encryption key) || blob path)
     and a big-endian counter IV (compat.go deriveKey:55 encrypt:67),
  3. described by chunk metadata: chunk MD5 over the UNENCRYPTED
     length prefix of the encrypted buffer, full-blob MD5 over the
     padded encrypted bytes, lengths, and per-column EP (expression
     property) info — min/max int / real / hex-truncated string,
     null count, max length (streaming.go:476-545; stats.go
     computeColumnEpInfo; 32-byte truncation with increment-on-max,
     compat.go truncateBytesAsHex:113),
  4. registered via the registerBlobRequest JSON (rest.go:222-236),
     BDEC version 3.

Spark form: blob construction is per-partition executor work —
`bdec_chunks` builds one blob per partition inside mapInPandas
(pyarrow writes the parquet bytes, AES-CTR from functions/aes.py,
i.e. the `cryptography` package, encrypts), and only chunk METADATA rows come back;
the driver then assembles the control-plane registration payload.
That is exactly the 1000-executor shape: executors build + upload,
the driver registers."""

from __future__ import annotations

import base64
import hashlib
import io
import json
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame

BDEC_VERSION = 3
_AES_BLOCK = 16
_MAX_LOB_LEN = 32


# --- compat.go primitives -------------------------------------------


def normalize_column_name(name: str) -> str:
    """compat.go normalizeColumnName:137 — Snowflake's internal
    identifier normalization: a fully-quoted name unquotes (with ""
    collapsing), everything else uppercases with escaped spaces
    unescaped."""
    if name.startswith('"') and name.endswith('"') and len(name) >= 2:
        unquoted = name[1:-1]
        no_double = unquoted.replace('""', "")
        if '"' not in no_double:
            return unquoted.replace('""', '"')
        if '"' not in unquoted:
            return unquoted
    return name.replace("\\ ", " ").upper()


def quote_column_name(name: str) -> str:
    """compat.go quoteColumnName:187."""
    return '"' + name.upper().replace('"', '""') + '"'


def truncate_bytes_as_hex(b: bytes, truncate_up: bool) -> str:
    """compat.go truncateBytesAsHex:113 — EP strings cap at 32 bytes;
    the MAX side increments so the truncated bound stays an upper
    bound (carry propagates; all-0xFF collapses to 'Z')."""
    if len(b) <= _MAX_LOB_LEN:
        return b.hex()
    if not truncate_up:
        return b[:_MAX_LOB_LEN].hex()
    buf = bytearray(b[:_MAX_LOB_LEN])
    for i in range(_MAX_LOB_LEN - 1, -1, -1):
        buf[i] = (buf[i] + 1) & 0xFF
        if buf[i] != 0:
            return buf.hex()
    return "Z"


def derive_key(encryption_key_b64: str, diversifier: str) -> bytes:
    """SHA256(base64decode(key) || diversifier) — compat.go:55."""
    h = hashlib.sha256()
    h.update(base64.b64decode(encryption_key_b64))
    h.update(diversifier.encode())
    return h.digest()


def pad_buffer(buf: bytes, alignment: int = _AES_BLOCK) -> bytes:
    """compat.go padBuffer:87 — always appends at least one byte."""
    padding = alignment - len(buf) % alignment
    return buf + bytes(padding)


def _ctr(data: bytes, key: bytes, iv: int) -> bytes:
    from connect_spark.functions.aes import encrypt_aes

    return encrypt_aes(data, "ctr", key, bytes(8) + iv.to_bytes(8, "big"))


def encrypt_bdec(buf: bytes, encryption_key_b64: str,
                 blob_path: str, iv: int = 0) -> bytes:
    """Pad + AES-256-CTR with the path-diversified key
    (streaming.go:473-475)."""
    return _ctr(pad_buffer(buf), derive_key(encryption_key_b64, blob_path),
                iv)


def decrypt_bdec(buf: bytes, encryption_key_b64: str,
                 blob_path: str, iv: int = 0) -> bytes:
    """CTR is an XOR stream: decryption = encryption. Padding is NOT
    stripped — parquet readers locate the footer from the trailing
    magic inside the unencrypted length."""
    return _ctr(buf, derive_key(encryption_key_b64, blob_path), iv)


def generate_blob_path(client_prefix: str, thread_id: int,
                       counter: int, now_s: int) -> str:
    """compat.go generateBlobPath:100 — year/month/day/hour/minute/
    <unix-base36>_<prefix>_<thread>_<counter>.bdec. `now_s` is passed
    in (no wall-clock reads) so construction is deterministic."""
    import datetime as dt

    t = dt.datetime.fromtimestamp(now_s, dt.timezone.utc)
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    n, b36 = now_s, ""
    while n:
        n, r = divmod(n, 36)
        b36 = digits[r] + b36
    short = f"{b36 or '0'}_{client_prefix}_{thread_id}_{counter}.bdec"
    return f"{t.year}/{t.month}/{t.day}/{t.hour}/{t.minute}/{short}"


def md5_hex(b: bytes) -> str:
    return hashlib.md5(b).hexdigest()


# --- EP (expression property) stats ---------------------------------


def column_ep_properties(series: pd.Series, ordinal: int) -> dict:
    """fileColumnProperties (rest.go:169-188) for one column:
    int columns fill min/maxIntValue, floats min/maxRealValue,
    strings hex-truncated min/max + maxLength; nullCount always;
    distinctValues always -1 (the SDK does not compute it)."""
    non_null = series.dropna()
    props: dict = {
        "columnId": ordinal,
        "minStrValue": None,
        "maxStrValue": None,
        "minIntValue": 0,
        "maxIntValue": 0,
        "minRealValue": None,
        "maxRealValue": None,
        "nullCount": int(series.isna().sum()),
        "distinctValues": -1,
        "maxLength": 0,
    }
    if len(non_null) == 0:
        return props
    kind = series.dtype.kind
    if kind in "iu":
        props["minIntValue"] = int(non_null.min())
        props["maxIntValue"] = int(non_null.max())
    elif kind == "b":
        # booleans register as 0/1 int EPs (the SDK's BOOLEAN columns
        # carry integer min/max)
        props["minIntValue"] = int(non_null.min())
        props["maxIntValue"] = int(non_null.max())
    elif kind in "Mm":
        # timestamps/intervals register as scaled-integer EPs (the SDK
        # stores TIMESTAMP_* as scaled ints); epoch-nanos here
        asi = non_null.astype("int64")
        props["minIntValue"] = int(asi.min())
        props["maxIntValue"] = int(asi.max())
    elif kind == "f":
        props["minRealValue"] = float(non_null.min())
        props["maxRealValue"] = float(non_null.max())
    else:
        bs = non_null.map(lambda v: v.encode()
                          if isinstance(v, str) else bytes(v))
        props["minStrValue"] = truncate_bytes_as_hex(min(bs), False)
        props["maxStrValue"] = truncate_bytes_as_hex(max(bs), True)
        props["maxLength"] = int(bs.map(len).max())
    return props


# --- blob construction ----------------------------------------------


def build_bdec_blob(
    pdf: pd.DataFrame,
    blob_path: str,
    encryption_key_b64: str,
    *,
    chunk_rows: int = 16 * 1024,
    created_by: str = "RedpandaConnect",
) -> tuple[bytes, dict]:
    """One batch -> (encrypted blob bytes, chunk metadata dict).

    The parquet file carries `primaryFileId` = blob basename in its
    key/value metadata (streaming.go:462), zstd-compressed with page
    statistics (parquet.go:222-225), row groups of `chunk_rows`
    (BuildOptions.ChunkSize). Column names are Snowflake-normalized.
    Chunk metadata mirrors chunkMetadata (rest.go:203-215): lengths,
    chunk MD5 over encrypted[:unencrypted_len], and per-column EPS."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {normalize_column_name(c): pdf[c] for c in pdf.columns}
    norm = pd.DataFrame(cols)
    table = pa.Table.from_pandas(norm, preserve_index=False)
    table = table.replace_schema_metadata(
        {"primaryFileId": blob_path.rsplit("/", 1)[-1]})
    buf = io.BytesIO()
    pq.write_table(
        table, buf, compression="zstd", row_group_size=chunk_rows,
        write_statistics=True, data_page_version="1.0")
    raw = buf.getvalue()
    unencrypted_len = len(raw)
    # totalUncompressedSize(parquetMetadata) (streaming.go:529): the
    # sum of row-group uncompressed byte sizes from the file we just
    # wrote — NOT an in-memory estimate.
    meta = pq.ParquetFile(io.BytesIO(raw)).metadata
    uncompressed = sum(
        meta.row_group(i).total_byte_size for i in range(meta.num_row_groups))

    encrypted = encrypt_bdec(raw, encryption_key_b64, blob_path)
    eps_columns = {
        name: column_ep_properties(norm[name], i + 1)
        for i, name in enumerate(norm.columns)
    }
    chunk = {
        "chunk_start_offset": 0,
        "chunk_length": unencrypted_len,
        "chunk_length_uncompressed": int(uncompressed),
        "chunk_md5": md5_hex(encrypted[:unencrypted_len]),
        "eps": {"rows": len(pdf), "columns": eps_columns},
    }
    return encrypted, chunk


def blob_metadata(blob_path: str, encrypted: bytes, chunk: dict, *,
                  database: str, schema: str, table: str,
                  channel: str, client_sequencer: int = 0,
                  row_sequencer: int = 1,
                  encryption_key_id: int = 0,
                  start_offset: Optional[str] = None,
                  end_offset: Optional[str] = None) -> dict:
    """blobMetadata JSON (rest.go:222-230) for one single-chunk blob,
    BDEC version 3 (streaming.go:515)."""
    c = dict(chunk)
    return {
        "path": blob_path,
        "md5": md5_hex(encrypted),
        "bdec_version": BDEC_VERSION,
        "spans_mixed_tables": False,
        "chunks": [{
            "database": database,
            "schema": schema,
            "table": table,
            "chunk_start_offset": c["chunk_start_offset"],
            "chunk_length": c["chunk_length"],
            "chunk_length_uncompressed": c["chunk_length_uncompressed"],
            "chunk_md5": c["chunk_md5"],
            "encryption_key_id": encryption_key_id,
            "eps": c["eps"],
            "channels": [{
                "channel_name": channel,
                "client_sequencer": client_sequencer,
                "row_sequencer": row_sequencer,
                "start_offset_token": start_offset,
                "end_offset_token": end_offset,
                "offset_token": None,
            }],
        }],
    }


def register_blob_request(blobs: list[dict], *, request_id: str,
                          role: str, is_iceberg: bool = False) -> str:
    """registerBlobRequest JSON body (rest.go:231-236), POSTed to
    /v1/streaming/channels/write/blobs (rest.go:432-437)."""
    return json.dumps({
        "request_id": request_id,
        "role": role,
        "blobs": blobs,
        "is_iceberg": is_iceberg,
    }, sort_keys=True)


# --- Spark integration ----------------------------------------------

_CHUNK_SCHEMA = (
    "blob_path STRING, blob_md5 STRING, chunk_md5 STRING,"
    " chunk_length LONG, chunk_length_uncompressed LONG, rows LONG,"
    " eps_json STRING, blob BINARY"
)


def bdec_chunks(
    df: DataFrame,
    encryption_key_b64: str,
    *,
    client_prefix: str = "rpcn",
    now_s: int = 1_700_000_000,
    stage_dir: Optional[str] = None,
) -> DataFrame:
    """Build one bdec blob PER PARTITION, executor-side. Returns a
    DataFrame of chunk-registration rows (tiny — one per partition);
    when `stage_dir` is set each encrypted blob is also written there
    (the upload step, uploader.go — local filesystem standing in for
    the stage volume). The parallelism story matches the reference's
    per-channel builders: no shuffle, each partition's rows stream
    through Arrow once."""

    def build(it):
        import os

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        parts = [p for p in it if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        path = generate_blob_path(client_prefix, pid, 1, now_s)
        encrypted, chunk = build_bdec_blob(pdf, path, encryption_key_b64)
        if stage_dir:
            dst = os.path.join(stage_dir, path.replace("/", "_"))
            os.makedirs(stage_dir, exist_ok=True)
            with open(dst, "wb") as f:
                f.write(encrypted)
        yield pd.DataFrame({
            "blob_path": [path],
            "blob_md5": [md5_hex(encrypted)],
            "chunk_md5": [chunk["chunk_md5"]],
            "chunk_length": [chunk["chunk_length"]],
            "chunk_length_uncompressed":
                [chunk["chunk_length_uncompressed"]],
            "rows": [chunk["eps"]["rows"]],
            "eps_json": [json.dumps(chunk["eps"], sort_keys=True)],
            "blob": [encrypted],
        })

    return df.mapInPandas(build, _CHUNK_SCHEMA)


def bdec_roundtrip(
    df: DataFrame,
    encryption_key_b64: str,
    *,
    client_prefix: str = "rt",
    now_s: int = 1_700_000_000,
) -> DataFrame:
    """Executor-side proof of the full bdec path: per partition, build
    the encrypted blob exactly as `bdec_chunks` would, then decrypt +
    parquet-read it back and re-verify every registration artifact —
    chunk MD5 (streaming.go:531), primaryFileId (streaming.go:462),
    totalUncompressedSize (streaming.go:529) and the per-column EP
    stats (stats.go computeColumnEpInfo) — before yielding the decoded
    rows. Any deviation raises in the executor, so a green oracle row
    pins encrypt/decrypt/parquet/EP parity end-to-end. No shuffle: one
    Arrow pass per partition, rows out == rows in."""
    orig_cols = list(df.columns)

    def run(it):
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        parts = [p for p in it if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        path = generate_blob_path(client_prefix, pid, 1, now_s)
        encrypted, chunk = build_bdec_blob(pdf, path, encryption_key_b64)
        if md5_hex(encrypted[:chunk["chunk_length"]]) != chunk["chunk_md5"]:
            raise ValueError("bdec chunk md5 mismatch")
        raw = decrypt_bdec(encrypted, encryption_key_b64,
                           path)[:chunk["chunk_length"]]
        pf = pq.ParquetFile(io.BytesIO(raw))
        kv = pf.metadata.metadata or {}
        if kv.get(b"primaryFileId", b"").decode() != path.rsplit("/", 1)[-1]:
            raise ValueError("bdec primaryFileId mismatch")
        uncompressed = sum(pf.metadata.row_group(i).total_byte_size
                           for i in range(pf.metadata.num_row_groups))
        if uncompressed != chunk["chunk_length_uncompressed"]:
            raise ValueError("bdec uncompressed-length mismatch")
        out = pf.read().to_pandas()
        if len(out) != chunk["eps"]["rows"]:
            raise ValueError("bdec row-count mismatch")
        for i, name in enumerate(out.columns):
            if (column_ep_properties(out[name], i + 1)
                    != chunk["eps"]["columns"][name]):
                raise ValueError(f"bdec EP mismatch for column {name}")
        out.columns = orig_cols  # undo Snowflake normalization
        yield out

    return df.mapInPandas(run, df.schema)
