"""`schema_registry_decode` / `schema_registry_encode` wire format
(reference: internal/impl/confluent/processor_schema_registry_
{decode,encode}.go — the Confluent frame: magic byte 0x00, 4-byte
big-endian schema id, then the encoded payload).

Frame parse/build is pure Column algebra (hex/conv/substring on
binary) — no UDF. Payload decoding dispatches on schema id: JSON
payloads decode natively via from_json; Avro payloads decode through
the pure-Python codec (functions/avro_codec.py, Arrow-batched), the
same path the reference's
processor_schema_registry_decode.go takes for avro-typed subjects.

Without a live registry server, the registry is supplied as a dict
{schema_id: str DDL | RegistrySchema} — the same information the HTTP
client would fetch and cache (the reference caches schemas the same
way)."""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from connect_spark.boundary import row_udf
from connect_spark.errors import flag_error


@dataclass(frozen=True)
class RegistrySchema:
    """One registry subject version: `fmt` is "json", "avro" or
    "protobuf"; `spark_ddl` is the Spark-side row type; `avro_schema`
    is the Avro writer schema JSON (avro only); `proto_messages` is
    the tuple of top-level message descriptors of the schema file
    (functions/protobuf_codec.py desc dicts, nested messages under a
    "nested" key) that the payload's message-index path selects into
    (protobuf only)."""

    fmt: str
    spark_ddl: str
    avro_schema: str | None = None
    proto_messages: tuple = ()
    # avro only: when a consumer pins a READER schema, payloads decode
    # through the Avro spec's schema-resolution rules (field defaults,
    # aliases, promotions) instead of the writer shape — the evolution
    # behavior every registry consumer relies on
    reader_schema: str | None = None


# --- Confluent protobuf payloads -------------------------------------
#
# A protobuf-framed payload prefixes the encoded message with a
# MESSAGE-INDEX array (confluent serde; mirrored from the reference's
# readMessageIndexes/toMessageIndexBytes in
# internal/impl/confluent/serde_protobuf.go:299-345): zigzag-varint
# array length then zigzag-varint indexes, selecting the target
# message definition by position (file-level index, then nested
# message index, ...). A single 0 byte is the shortcut for the first
# top-level message.


from connect_spark.functions.varints import (
    zigzag_decode as _zigzag_read,
    zigzag_encode as _zigzag_bytes,
)


def read_message_indexes(payload: bytes) -> tuple[list[int], int]:
    """payload → (indexes, bytes consumed)."""
    n, i = _zigzag_read(payload, 0)
    if n == 0:
        return [0], i
    idx = []
    for _ in range(n):
        v, i = _zigzag_read(payload, i)
        idx.append(v)
    return idx, i


def message_index_bytes(indexes: list[int]) -> bytes:
    if indexes == [0]:
        return b"\x00"
    out = _zigzag_bytes(len(indexes))
    for v in indexes:
        out += _zigzag_bytes(v)
    return out


def _resolve_message(proto_messages, indexes: list[int]) -> dict:
    node = proto_messages[indexes[0]]
    for i in indexes[1:]:
        node = node["nested"][i]
    return node


def confluent_protobuf_decode_udf(proto_messages):
    """Arrow-batched UDF: message-index-prefixed protobuf payload →
    JSON string (the serde_protobuf.go decode path)."""
    from connect_spark.functions import protobuf_codec as pc

    msgs = tuple(proto_messages)

    def one(b):
        data = bytes(b)
        idx, consumed = read_message_indexes(data)
        desc = _resolve_message(msgs, idx)
        return json.dumps(pc.decode(data[consumed:], desc))

    return row_udf("string", one)


def confluent_protobuf_encode_udf(proto_messages,
                                  indexes: list[int] | None = None):
    """Arrow-batched UDF: JSON string → message-index-prefixed
    protobuf payload (serde_protobuf.go encode path)."""
    from connect_spark.functions import protobuf_codec as pc

    idx = list(indexes or [0])
    msgs = tuple(proto_messages)
    desc = _resolve_message(msgs, idx)
    prefix = message_index_bytes(idx)
    return row_udf("binary", lambda v: prefix + pc.encode(json.loads(v), desc))

_MAX_LEN = (1 << 31) - 1


def parse_confluent_frame(col: Column | str) -> Column:
    """binary frame → struct(magic_ok, schema_id, payload)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(
        (F.hex(F.substring(c, 1, 1)) == "00").alias("magic_ok"),
        F.conv(F.hex(F.substring(c, 2, 4)), 16, 10)
        .cast("int")
        .alias("schema_id"),
        F.substring(c, 6, _MAX_LEN).alias("payload"),
    )


def encode_confluent_frame(payload: Column, schema_id: int) -> Column:
    """payload bytes + id → framed binary."""
    header = F.unhex(F.lit("00" + format(schema_id, "08x")))
    return F.concat(header, payload.cast("binary"))


def schema_registry_decode(
    df: DataFrame,
    col: str,
    registry: dict[int, str],
    out: str = "decoded",
) -> DataFrame:
    """Decode framed JSON payloads; unknown ids / bad magic set
    `_error` (the reference's per-message failure contract)."""
    frame = parse_confluent_frame(col)
    df = df.withColumn("_frame", frame)
    df = flag_error(
        df, ~F.col("_frame.magic_ok"), "schema_registry: bad magic byte"
    )
    df = flag_error(
        df,
        F.col("_frame.magic_ok")
        & ~F.col("_frame.schema_id").isin(*registry.keys()),
        "schema_registry: unknown schema id",
    )
    decoded: Column | None = None
    payload_str = F.col("_frame.payload").cast("string")
    for sid, entry in registry.items():
        if isinstance(entry, str):
            entry = RegistrySchema("json", entry)
        if entry.fmt == "json":
            branch = F.to_json(F.from_json(payload_str, entry.spark_ddl))
        elif entry.fmt == "avro":
            from connect_spark.functions.avro_codec import (
                avro_decode_udf,
                avro_resolved_decode_udf,
            )

            if entry.reader_schema:
                dec = avro_resolved_decode_udf(
                    entry.avro_schema, entry.reader_schema)
            else:
                dec = avro_decode_udf(entry.avro_schema)
            branch = F.to_json(
                F.from_json(
                    dec(F.col("_frame.payload")),
                    entry.spark_ddl,
                )
            )
        elif entry.fmt == "protobuf":
            branch = F.to_json(
                F.from_json(
                    confluent_protobuf_decode_udf(entry.proto_messages)(
                        F.col("_frame.payload")
                    ),
                    entry.spark_ddl,
                )
            )
        else:
            raise ValueError(f"unknown registry format {entry.fmt!r}")
        expr = F.when(F.col("_frame.schema_id") == sid, branch)
        decoded = expr if decoded is None else decoded.when(
            F.col("_frame.schema_id") == sid, branch
        )
    df = df.withColumn(out, decoded)
    return df.withColumn("schema_id", F.col("_frame.schema_id")).drop("_frame")
