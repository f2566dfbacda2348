"""Pure-Python Protobuf wire-format codec + Spark UDF surface.

Re-expresses the reference's `protobuf` processor
(internal/impl/protobuf/processor_protobuf.go — operators to_json /
from_json driven by compiled descriptors) without google.protobuf
(absent in this container). Descriptors are plain dicts — the same
information protoc emits, hand-writable for tests:

    DESC = {
      "fields": {
        1: {"name": "id", "type": "int64"},
        2: {"name": "email", "type": "string"},
        3: {"name": "tags", "type": "string", "repeated": True},
        4: {"name": "addr", "type": "message", "message": ADDR_DESC},
      }
    }

Wire format per the protobuf encoding spec: tag = (field_no << 3) |
wire_type; wire types 0 (varint: int32/64, uint, sint zigzag, bool,
enum), 1 (fixed64/double), 2 (length-delimited: string/bytes/message/
packed repeated), 5 (fixed32/float). Unknown fields are skipped on
decode — the proto3 compatibility contract.
"""

from __future__ import annotations

import json
import struct as _struct
from io import BytesIO

from pyspark.sql import Column
from pyspark.sql import functions as F

from connect_spark.boundary import row_udf

_VARINT_TYPES = {"int32", "int64", "uint32", "uint64", "bool", "enum"}
_ZIGZAG_TYPES = {"sint32", "sint64"}


def _write_varint(buf: BytesIO, n: int) -> None:
    n &= (1 << 64) - 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            break


def _read_varint(buf: BytesIO) -> int:
    shift = acc = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        acc |= (b[0] & 0x7F) << shift
        if not b[0] & 0x80:
            return acc
        shift += 7


def _signed64(n: int) -> int:
    return n - (1 << 64) if n >= (1 << 63) else n


# ---------------------------------------------------------------- encode


def encode(msg: dict, desc: dict) -> bytes:
    buf = BytesIO()
    by_name = {f["name"]: (num, f) for num, f in desc["fields"].items()}
    for name, value in msg.items():
        if name not in by_name or value is None:
            continue
        num, f = by_name[name]
        values = value if f.get("repeated") else [value]
        for v in values:
            _encode_field(buf, num, f, v)
    return buf.getvalue()


def _encode_field(buf: BytesIO, num: int, f: dict, v) -> None:
    t = f["type"]
    if t in _VARINT_TYPES:
        _write_varint(buf, (num << 3) | 0)
        _write_varint(buf, int(v) if not isinstance(v, bool) else int(v))
    elif t in _ZIGZAG_TYPES:
        _write_varint(buf, (num << 3) | 0)
        n = int(v)
        _write_varint(buf, (n << 1) ^ (n >> 63))
    elif t in ("fixed64", "sfixed64"):
        _write_varint(buf, (num << 3) | 1)
        buf.write(_struct.pack("<q" if t == "sfixed64" else "<Q", int(v)))
    elif t == "double":
        _write_varint(buf, (num << 3) | 1)
        buf.write(_struct.pack("<d", float(v)))
    elif t in ("fixed32", "sfixed32"):
        _write_varint(buf, (num << 3) | 5)
        buf.write(_struct.pack("<i" if t == "sfixed32" else "<I", int(v)))
    elif t == "float":
        _write_varint(buf, (num << 3) | 5)
        buf.write(_struct.pack("<f", float(v)))
    elif t == "string":
        raw = str(v).encode("utf-8")
        _write_varint(buf, (num << 3) | 2)
        _write_varint(buf, len(raw))
        buf.write(raw)
    elif t == "bytes":
        raw = v if isinstance(v, bytes) else str(v).encode("latin-1")
        _write_varint(buf, (num << 3) | 2)
        _write_varint(buf, len(raw))
        buf.write(raw)
    elif t == "message":
        raw = encode(v, f["message"])
        _write_varint(buf, (num << 3) | 2)
        _write_varint(buf, len(raw))
        buf.write(raw)
    else:
        raise ValueError(f"unsupported protobuf type {t!r}")


# ---------------------------------------------------------------- decode


def decode(data: bytes, desc: dict) -> dict:
    out: dict = {}
    buf = BytesIO(data)
    fields = desc["fields"]
    end = len(data)
    while buf.tell() < end:
        tag = _read_varint(buf)
        num, wt = tag >> 3, tag & 7
        f = fields.get(num)
        v = _decode_value(buf, wt, f)
        if f is None:
            continue  # unknown field skipped (proto3 compat)
        if f.get("repeated"):
            bucket = out.setdefault(f["name"], [])
            # packed scalars decode as a list — extend, don't nest
            if isinstance(v, list):
                bucket.extend(v)
            else:
                bucket.append(v)
        else:
            out[f["name"]] = v
    # proto3 defaults for absent scalar fields
    for num, f in fields.items():
        if f["name"] not in out:
            out[f["name"]] = (
                []
                if f.get("repeated")
                else None
                if f["type"] == "message"
                else _default(f["type"])
            )
    return out


def _default(t: str):
    if t in ("string",):
        return ""
    if t == "bytes":
        return b""
    if t == "bool":
        return False
    if t in ("double", "float"):
        return 0.0
    return 0


def _decode_value(buf: BytesIO, wt: int, f: dict | None):
    if wt == 0:
        n = _read_varint(buf)
        if f is None:
            return n
        t = f["type"]
        if t == "bool":
            return bool(n)
        if t in _ZIGZAG_TYPES:
            return (n >> 1) ^ -(n & 1)
        if t in ("int32", "int64", "enum"):
            return _signed64(n)
        return n
    if wt == 1:
        raw = buf.read(8)
        if f is None:
            return raw
        t = f["type"]
        if t == "double":
            return _struct.unpack("<d", raw)[0]
        return _struct.unpack("<q" if t == "sfixed64" else "<Q", raw)[0]
    if wt == 5:
        raw = buf.read(4)
        if f is None:
            return raw
        t = f["type"]
        if t == "float":
            return _struct.unpack("<f", raw)[0]
        return _struct.unpack("<i" if t == "sfixed32" else "<I", raw)[0]
    if wt == 2:
        n = _read_varint(buf)
        raw = buf.read(n)
        if f is None:
            return raw
        t = f["type"]
        if t == "string":
            return raw.decode("utf-8")
        if t == "bytes":
            return raw
        if t == "message":
            return decode(raw, f["message"])
        # packed repeated scalars
        inner = BytesIO(raw)
        vals = []
        while inner.tell() < n:
            if t in ("double", "fixed64", "sfixed64"):
                vals.append(_decode_value(inner, 1, f))
            elif t in ("float", "fixed32", "sfixed32"):
                vals.append(_decode_value(inner, 5, f))
            else:
                vals.append(_decode_value(inner, 0, f))
        return vals
    raise ValueError(f"unsupported wire type {wt}")


# ------------------------------------------------------------ UDF layer


def _jsonable(v):
    if isinstance(v, bytes):
        return v.decode("latin-1")
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    return v


def protobuf_encode_udf(desc: dict):
    """JSON string column → protobuf binary under `desc`."""
    return row_udf("binary", lambda x: encode(json.loads(x), desc))


def protobuf_decode_udf(desc: dict):
    """protobuf binary column → JSON string under `desc`."""
    return row_udf(
        "string",
        lambda b: json.dumps(_jsonable(decode(bytes(b), desc)), sort_keys=True),
    )


def protobuf_decode(col: Column, desc: dict, spark_type: str) -> Column:
    return F.from_json(protobuf_decode_udf(desc)(col), spark_type)
