"""Pure-Python MessagePack codec + Spark UDF surface.

Re-expresses the reference's `msgpack` processor
(internal/impl/msgpack/processor.go — operators to_json / from_json)
without the msgpack library (absent in this container). Implements the
msgpack 2.0 core: nil, booleans, all int widths (fixint through
int64/uint64), float32/64, fixstr/str8/16/32, bin8/16/32, fixarray/
array16/32, fixmap/map16/32. Extension types are out of scope (the
reference's JSON bridge can't represent them either).

Spark integration mirrors the avro codec: Arrow-batched `row_udf`s
between JSON strings and msgpack binary.
"""

from __future__ import annotations

import json
import struct as _struct
from io import BytesIO

from pyspark.sql import Column
from pyspark.sql import functions as F

from connect_spark.boundary import row_udf

# ---------------------------------------------------------------- pack


def packb(v) -> bytes:
    buf = BytesIO()
    _pack(buf, v)
    return buf.getvalue()


def _pack(buf: BytesIO, v) -> None:
    if v is None:
        buf.write(b"\xc0")
    elif isinstance(v, bool):
        buf.write(b"\xc3" if v else b"\xc2")
    elif isinstance(v, int):
        if 0 <= v <= 0x7F:
            buf.write(bytes([v]))
        elif -32 <= v < 0:
            buf.write(bytes([v & 0xFF]))
        elif 0 <= v <= 0xFF:
            buf.write(b"\xcc" + bytes([v]))
        elif 0 <= v <= 0xFFFF:
            buf.write(b"\xcd" + _struct.pack(">H", v))
        elif 0 <= v <= 0xFFFFFFFF:
            buf.write(b"\xce" + _struct.pack(">I", v))
        elif 0 <= v <= (1 << 64) - 1:
            buf.write(b"\xcf" + _struct.pack(">Q", v))
        elif -0x80 <= v < 0:
            buf.write(b"\xd0" + _struct.pack(">b", v))
        elif -0x8000 <= v < 0:
            buf.write(b"\xd1" + _struct.pack(">h", v))
        elif -0x80000000 <= v < 0:
            buf.write(b"\xd2" + _struct.pack(">i", v))
        else:
            buf.write(b"\xd3" + _struct.pack(">q", v))
    elif isinstance(v, float):
        buf.write(b"\xcb" + _struct.pack(">d", v))
    elif isinstance(v, str):
        raw = v.encode("utf-8")
        n = len(raw)
        if n <= 31:
            buf.write(bytes([0xA0 | n]))
        elif n <= 0xFF:
            buf.write(b"\xd9" + bytes([n]))
        elif n <= 0xFFFF:
            buf.write(b"\xda" + _struct.pack(">H", n))
        else:
            buf.write(b"\xdb" + _struct.pack(">I", n))
        buf.write(raw)
    elif isinstance(v, (bytes, bytearray)):
        n = len(v)
        if n <= 0xFF:
            buf.write(b"\xc4" + bytes([n]))
        elif n <= 0xFFFF:
            buf.write(b"\xc5" + _struct.pack(">H", n))
        else:
            buf.write(b"\xc6" + _struct.pack(">I", n))
        buf.write(bytes(v))
    elif isinstance(v, (list, tuple)):
        n = len(v)
        if n <= 15:
            buf.write(bytes([0x90 | n]))
        elif n <= 0xFFFF:
            buf.write(b"\xdc" + _struct.pack(">H", n))
        else:
            buf.write(b"\xdd" + _struct.pack(">I", n))
        for item in v:
            _pack(buf, item)
    elif isinstance(v, dict):
        n = len(v)
        if n <= 15:
            buf.write(bytes([0x80 | n]))
        elif n <= 0xFFFF:
            buf.write(b"\xde" + _struct.pack(">H", n))
        else:
            buf.write(b"\xdf" + _struct.pack(">I", n))
        for k, val in v.items():
            _pack(buf, str(k))
            _pack(buf, val)
    else:
        raise TypeError(f"cannot msgpack {type(v)}")


# -------------------------------------------------------------- unpack


def unpackb(data: bytes):
    buf = BytesIO(data)
    v = _unpack(buf)
    return v


def _unpack(buf: BytesIO):
    b = buf.read(1)[0]
    if b <= 0x7F:
        return b
    if b >= 0xE0:
        return b - 0x100
    if 0xA0 <= b <= 0xBF:
        return buf.read(b & 0x1F).decode("utf-8")
    if 0x90 <= b <= 0x9F:
        return [_unpack(buf) for _ in range(b & 0x0F)]
    if 0x80 <= b <= 0x8F:
        return {_unpack(buf): _unpack(buf) for _ in range(b & 0x0F)}
    if b == 0xC0:
        return None
    if b == 0xC2:
        return False
    if b == 0xC3:
        return True
    if b == 0xC4:
        return buf.read(buf.read(1)[0])
    if b == 0xC5:
        return buf.read(_struct.unpack(">H", buf.read(2))[0])
    if b == 0xC6:
        return buf.read(_struct.unpack(">I", buf.read(4))[0])
    if b == 0xCA:
        return _struct.unpack(">f", buf.read(4))[0]
    if b == 0xCB:
        return _struct.unpack(">d", buf.read(8))[0]
    if b == 0xCC:
        return buf.read(1)[0]
    if b == 0xCD:
        return _struct.unpack(">H", buf.read(2))[0]
    if b == 0xCE:
        return _struct.unpack(">I", buf.read(4))[0]
    if b == 0xCF:
        return _struct.unpack(">Q", buf.read(8))[0]
    if b == 0xD0:
        return _struct.unpack(">b", buf.read(1))[0]
    if b == 0xD1:
        return _struct.unpack(">h", buf.read(2))[0]
    if b == 0xD2:
        return _struct.unpack(">i", buf.read(4))[0]
    if b == 0xD3:
        return _struct.unpack(">q", buf.read(8))[0]
    if b == 0xD9:
        return buf.read(buf.read(1)[0]).decode("utf-8")
    if b == 0xDA:
        return buf.read(_struct.unpack(">H", buf.read(2))[0]).decode("utf-8")
    if b == 0xDB:
        return buf.read(_struct.unpack(">I", buf.read(4))[0]).decode("utf-8")
    if b == 0xDC:
        return [_unpack(buf) for _ in range(_struct.unpack(">H", buf.read(2))[0])]
    if b == 0xDD:
        return [_unpack(buf) for _ in range(_struct.unpack(">I", buf.read(4))[0])]
    if b == 0xDE:
        return {
            _unpack(buf): _unpack(buf)
            for _ in range(_struct.unpack(">H", buf.read(2))[0])
        }
    if b == 0xDF:
        return {
            _unpack(buf): _unpack(buf)
            for _ in range(_struct.unpack(">I", buf.read(4))[0])
        }
    raise ValueError(f"unsupported msgpack byte 0x{b:02x}")


# ------------------------------------------------------------ UDF layer


def msgpack_encode_udf():
    """JSON string column → msgpack binary (`msgpack` from_json op)."""
    return row_udf("binary", lambda x: packb(json.loads(x)))


def msgpack_decode_udf():
    """msgpack binary column → JSON string (`msgpack` to_json op)."""

    def bridge(v):
        # bin8/16/32 payloads decode to raw bytes — JSON needs a
        # text form; latin-1 is byte-preserving (the same bridge
        # the avro codec uses)
        if isinstance(v, bytes):
            return v.decode("latin-1")
        if isinstance(v, dict):
            return {bridge(k): bridge(x) for k, x in v.items()}
        if isinstance(v, list):
            return [bridge(x) for x in v]
        return v

    return row_udf(
        "string",
        lambda b: json.dumps(bridge(unpackb(bytes(b))), sort_keys=True),
    )


def msgpack_decode(col: Column, spark_type: str) -> Column:
    return F.from_json(msgpack_decode_udf()(col), spark_type)
