"""Pure-Python Avro binary codec + Spark UDF surface.

Re-expresses the reference's `avro` processor
(internal/impl/avro/processor.go — operator to_json/from_json over
Avro-binary with a provided schema) without the spark-avro jar or
fastavro, neither of which ships in this container. The codec
implements the Avro 1.11 binary spec core: null, boolean, int, long
(zigzag varints), float, double (little-endian IEEE), bytes, string,
fixed, enum, array, map, record, and unions. Logical types pass
through their base types (the reference does the same for times as
strings, processor.go avro_raw_json).

Spark integration is Arrow-batched `row_udf`s (binary → JSON string
and back) — the sanctioned slow path for byte-level codecs; the
decoded JSON is then `from_json`-typed so everything downstream stays
Column algebra.
"""

from __future__ import annotations

import json
import struct as _struct
from io import BytesIO

from pyspark.sql import Column
from pyspark.sql import functions as F

from connect_spark.boundary import row_udf

# ---------------------------------------------------------------- write


def _write_long(buf: BytesIO, n: int) -> None:
    z = (n << 1) ^ (n >> 63)  # zigzag
    z &= (1 << 64) - 1
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            break


def _write_bytes(buf: BytesIO, b: bytes) -> None:
    _write_long(buf, len(b))
    buf.write(b)


def _branch_index(schema: list, value) -> int:
    """Pick the union branch for a Python value (JSON-decoded)."""
    def kind(s):
        return s["type"] if isinstance(s, dict) else s

    for i, s in enumerate(schema):
        k = kind(s)
        if value is None and k == "null":
            return i
        if isinstance(value, bool) and k == "boolean":
            return i
        if isinstance(value, int) and not isinstance(value, bool) and k in ("int", "long"):
            return i
        if isinstance(value, float) and k in ("float", "double"):
            return i
        if isinstance(value, str) and k in ("string", "enum", "bytes", "fixed"):
            return i
        if isinstance(value, list) and k == "array":
            return i
        if isinstance(value, dict) and k in ("record", "map"):
            return i
    # Avro JSON numeric promotion: json.loads('1') is int, which must
    # still match a ["null","float"/"double"] union (and a whole float
    # may need an int/long branch when no float branch exists).
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        for i, s in enumerate(schema):
            if kind(s) in ("int", "long", "float", "double"):
                return i
    raise ValueError(f"no union branch for {type(value)} in {schema}")


_PRIMITIVES = frozenset(
    ("null", "boolean", "int", "long", "float", "double", "bytes", "string")
)


def resolve_names(schema):
    """Resolve named-type references (a record/enum/fixed name used as
    a type, including inside unions) to their definition dicts, by
    object sharing — recursive schemas stay cycles of shared dicts, not
    infinite expansions (Avro spec: names may be used in place of a
    full definition once declared)."""
    names: dict[str, dict] = {}
    seen: set[int] = set()  # resolve_names mutates in place, so a
    # re-resolved schema may already contain reference cycles

    def collect(s):
        if isinstance(s, list):
            for b in s:
                collect(b)
        elif isinstance(s, dict):
            if id(s) in seen:
                return
            seen.add(id(s))
            t = s.get("type")
            if t in ("record", "enum", "fixed") and "name" in s:
                names[s["name"]] = s
                if s.get("namespace"):
                    names[f"{s['namespace']}.{s['name']}"] = s
            if t == "record":
                for f in s.get("fields", []):
                    collect(f["type"])
            elif t == "array":
                collect(s.get("items"))
            elif t == "map":
                collect(s.get("values"))
            elif isinstance(t, list):
                collect(t)

    done: set[int] = set()

    def subst(s):
        if isinstance(s, list):
            return [subst(b) for b in s]
        if isinstance(s, str):
            if s in _PRIMITIVES:
                return s
            if s not in names:
                raise ValueError(f"unresolved avro named type {s!r}")
            return names[s]
        if isinstance(s, dict):
            if id(s) in done:
                return s
            done.add(id(s))
            t = s.get("type")
            if t == "record":
                for f in s.get("fields", []):
                    f["type"] = subst(f["type"])
            elif t == "array":
                s["items"] = subst(s["items"])
            elif t == "map":
                s["values"] = subst(s["values"])
            elif isinstance(t, (list, str)) and t not in (
                "record", "enum", "fixed", *_PRIMITIVES
            ):
                s["type"] = subst(t)
        return s

    collect(schema)
    return subst(schema)


def encode(value, schema) -> bytes:
    buf = BytesIO()
    _encode(buf, value, resolve_names(schema))
    return buf.getvalue()


def _encode(buf: BytesIO, value, schema) -> None:
    if isinstance(schema, list):  # union
        i = _branch_index(schema, value)
        _write_long(buf, i)
        _encode(buf, value, schema[i])
        return
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return
    if t == "boolean":
        buf.write(b"\x01" if value else b"\x00")
    elif t in ("int", "long"):
        _write_long(buf, int(value))
    elif t == "float":
        buf.write(_struct.pack("<f", float(value)))
    elif t == "double":
        buf.write(_struct.pack("<d", float(value)))
    elif t == "bytes":
        raw = value if isinstance(value, bytes) else str(value).encode("latin-1")
        _write_bytes(buf, raw)
    elif t == "string":
        _write_bytes(buf, str(value).encode("utf-8"))
    elif t == "fixed":
        raw = value if isinstance(value, bytes) else str(value).encode("latin-1")
        if len(raw) != schema["size"]:
            raise ValueError("fixed size mismatch")
        buf.write(raw)
    elif t == "enum":
        _write_long(buf, schema["symbols"].index(value))
    elif t == "array":
        if value:
            _write_long(buf, len(value))
            for item in value:
                _encode(buf, item, schema["items"])
        _write_long(buf, 0)
    elif t == "map":
        if value:
            _write_long(buf, len(value))
            for k, v in value.items():
                _write_bytes(buf, str(k).encode("utf-8"))
                _encode(buf, v, schema["values"])
        _write_long(buf, 0)
    elif t == "record":
        for field in schema["fields"]:
            name = field["name"]
            ftype = field["type"]
            nullable = ftype == "null" or (
                isinstance(ftype, list) and "null" in ftype
            )
            if name in value:
                fv = value[name]
            elif "default" in field:
                fv = field["default"]
            elif nullable:
                # JSON encoders drop null fields; a nullable union
                # treats absence as null
                fv = None
            else:
                # a missing required field must be a schema error, not
                # a silent str(None) serialization
                raise ValueError(
                    f"avro: missing required field {name!r} and no "
                    "default in schema"
                )
            _encode(buf, fv, field["type"])
    else:
        raise ValueError(f"unsupported avro type {t!r}")


# ----------------------------------------------------------------- read


def _read_long(buf: BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        acc |= (b[0] & 0x7F) << shift
        if not b[0] & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # un-zigzag


def decode(data: bytes, schema):
    buf = BytesIO(data)
    v = _decode(buf, resolve_names(schema))
    return v


def _decode(buf: BytesIO, schema):
    if isinstance(schema, list):  # union
        return _decode(buf, schema[_read_long(buf)])
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return None
    if t == "boolean":
        return buf.read(1) == b"\x01"
    if t in ("int", "long"):
        return _read_long(buf)
    if t == "float":
        return _struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return _struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        return buf.read(_read_long(buf)).decode("latin-1")
    if t == "string":
        return buf.read(_read_long(buf)).decode("utf-8")
    if t == "fixed":
        return buf.read(schema["size"]).decode("latin-1")
    if t == "enum":
        return schema["symbols"][_read_long(buf)]
    if t == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                break
            if n < 0:  # block with byte-size prefix
                _read_long(buf)
                n = -n
            for _ in range(n):
                out.append(_decode(buf, schema["items"]))
        return out
    if t == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                break
            if n < 0:
                _read_long(buf)
                n = -n
            for _ in range(n):
                k = buf.read(_read_long(buf)).decode("utf-8")
                out[k] = _decode(buf, schema["values"])
        return out
    if t == "record":
        return {
            f["name"]: _decode(buf, f["type"]) for f in schema["fields"]
        }
    raise ValueError(f"unsupported avro type {t!r}")


# ------------------------------------------------------------ UDF layer


def avro_encode_udf(schema_json: str):
    """JSON string column → Avro binary column under `schema_json`."""
    schema = resolve_names(json.loads(schema_json))

    def _one(x):
        buf = BytesIO()
        _encode(buf, json.loads(x), schema)
        return buf.getvalue()

    return row_udf("binary", _one)


def avro_decode_udf(schema_json: str):
    """Avro binary column → JSON string column under `schema_json`.
    Pair with `F.from_json` to land typed columns."""
    schema = resolve_names(json.loads(schema_json))
    return row_udf(
        "string",
        lambda b: json.dumps(_decode(BytesIO(bytes(b)), schema), sort_keys=True),
    )


def avro_decode(col: Column, schema_json: str, spark_type: str) -> Column:
    """Decode Avro binary straight to a typed struct column."""
    return F.from_json(avro_decode_udf(schema_json)(col), spark_type)


# ------------------------------------------- object container files (OCF)

_OCF_MAGIC = b"Obj\x01"


def write_ocf(
    records: list,
    schema,
    sync: bytes = b"\x00" * 16,
    extra_meta: dict[str, bytes] | None = None,
) -> bytes:
    """Avro object-container-file bytes: magic, metadata map
    (avro.schema + null codec + caller extras, e.g. Iceberg's
    schema/partition-spec keys), then one block of `records`."""
    buf = BytesIO()
    buf.write(_OCF_MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": b"null",
    }
    for k, v in (extra_meta or {}).items():
        meta[k] = v if isinstance(v, bytes) else str(v).encode("utf-8")
    _write_long(buf, len(meta))
    for k, v in meta.items():
        _write_bytes(buf, k.encode("utf-8"))
        _write_bytes(buf, v)
    _write_long(buf, 0)
    buf.write(sync)
    block = BytesIO()
    resolved = resolve_names(json.loads(json.dumps(schema)))
    for rec in records:
        _encode(block, rec, resolved)
    data = block.getvalue()
    _write_long(buf, len(records))
    _write_long(buf, len(data))
    buf.write(data)
    buf.write(sync)
    return buf.getvalue()


def read_ocf(data: bytes) -> tuple[dict, list]:
    """Parse an OCF: returns (writer schema, records). Codec `null`
    and `deflate` supported (deflate via zlib raw)."""
    buf = BytesIO(data)
    if buf.read(4) != _OCF_MAGIC:
        raise ValueError("not an avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        n = _read_long(buf)
        if n == 0:
            break
        if n < 0:
            _read_long(buf)
            n = -n
        for _ in range(n):
            k = buf.read(_read_long(buf)).decode("utf-8")
            meta[k] = buf.read(_read_long(buf))
    schema = json.loads(meta["avro.schema"])
    resolved = resolve_names(json.loads(meta["avro.schema"]))
    codec = meta.get("avro.codec", b"null").decode()
    sync = buf.read(16)
    records = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, 1)
        count = _read_long(buf)
        size = _read_long(buf)
        block = buf.read(size)
        if codec == "deflate":
            import zlib

            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported OCF codec {codec!r}")
        inner = BytesIO(block)
        for _ in range(count):
            records.append(_decode(inner, resolved))
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch")
    return schema, records


# ---------------------------------------------- schema resolution


def _skip(buf: BytesIO, schema) -> None:
    """Skip one datum of `schema` (spec: writer fields absent from
    the reader are read and discarded)."""
    if isinstance(schema, list):
        _skip(buf, schema[_read_long(buf)])
        return
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return
    if t == "boolean":
        buf.read(1)
    elif t in ("int", "long", "enum"):
        _read_long(buf)
    elif t == "float":
        buf.read(4)
    elif t == "double":
        buf.read(8)
    elif t in ("bytes", "string"):
        buf.read(_read_long(buf))
    elif t == "fixed":
        buf.read(schema["size"])
    elif t == "array":
        while True:
            n = _read_long(buf)
            if n == 0:
                break
            if n < 0:
                buf.read(_read_long(buf))
                continue
            for _ in range(n):
                _skip(buf, schema["items"])
    elif t == "map":
        while True:
            n = _read_long(buf)
            if n == 0:
                break
            if n < 0:
                buf.read(_read_long(buf))
                continue
            for _ in range(n):
                buf.read(_read_long(buf))
                _skip(buf, schema["values"])
    elif t == "record":
        for f in schema["fields"]:
            _skip(buf, f["type"])
    else:
        raise ValueError(f"unsupported avro type {t!r}")


def _type_name(schema) -> str:
    if isinstance(schema, list):
        return "union"
    return schema["type"] if isinstance(schema, dict) else schema


# writer type → reader types it promotes to (spec "Schema Resolution")
_PROMOTIONS = {
    "int": {"long", "float", "double"},
    "long": {"float", "double"},
    "float": {"double"},
    "string": {"bytes"},
    "bytes": {"string"},
}


def _reader_match(writer, reader_branches):
    """First reader-union branch the writer schema resolves against."""
    wt = _type_name(writer)
    for rb in reader_branches:
        rt = _type_name(rb)
        if rt == wt or rt in _PROMOTIONS.get(wt, ()):
            return rb
        if (
            wt == rt == "record"
            and writer.get("name", "").split(".")[-1]
            == rb.get("name", "").split(".")[-1]
        ):
            return rb
    raise ValueError(
        f"avro resolution: writer {wt} matches no reader branch")


def decode_resolved(data: bytes, writer_schema, reader_schema):
    """Decode bytes written with `writer_schema` into the shape of
    `reader_schema` — the published Avro 'Schema Resolution' rules:
    record fields match by name (writer-only fields are skipped,
    reader-only fields take their defaults), primitives promote
    (int→long/float/double, long→float/double, float→double,
    string↔bytes), unions re-resolve per branch, enum symbols must
    exist in the reader (or its declared default).  This is what
    schema-registry consumers do on every read when producers have
    evolved the schema."""
    buf = BytesIO(data)
    return _decode_resolved(
        buf, resolve_names(writer_schema), resolve_names(reader_schema))


def _decode_resolved(buf: BytesIO, writer, reader):
    if isinstance(writer, list):
        branch = writer[_read_long(buf)]
        if isinstance(reader, list):
            return _decode_resolved(
                buf, branch, _reader_match(branch, reader))
        return _decode_resolved(buf, branch, reader)
    if isinstance(reader, list):
        return _decode_resolved(buf, writer, _reader_match(writer, reader))
    wt = _type_name(writer)
    rt = _type_name(reader)
    if wt == rt and wt not in ("record", "enum", "array", "map"):
        return _decode(buf, writer)
    if rt in _PROMOTIONS.get(wt, ()):
        v = _decode(buf, writer)
        if rt in ("float", "double"):
            return float(v)
        if rt == "long":
            return int(v)
        return v  # string<->bytes: both surface as str here
    if wt == rt == "enum":
        sym = writer["symbols"][_read_long(buf)]
        if sym in reader["symbols"]:
            return sym
        if "default" in reader:
            return reader["default"]
        raise ValueError(
            f"avro resolution: enum symbol {sym!r} not in reader")
    if wt == rt == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                break
            if n < 0:
                _read_long(buf)
                n = -n
            for _ in range(n):
                out.append(_decode_resolved(
                    buf, writer["items"], reader["items"]))
        return out
    if wt == rt == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                break
            if n < 0:
                _read_long(buf)
                n = -n
            for _ in range(n):
                k = buf.read(_read_long(buf)).decode("utf-8")
                out[k] = _decode_resolved(
                    buf, writer["values"], reader["values"])
        return out
    if wt == rt == "record":
        reader_fields = {}
        for f in reader["fields"]:
            reader_fields[f["name"]] = f
            for alias in f.get("aliases", []):
                reader_fields[alias] = f
        out = {}
        seen = set()
        for wf in writer["fields"]:
            rf = reader_fields.get(wf["name"])
            if rf is None:
                _skip(buf, wf["type"])
                continue
            out[rf["name"]] = _decode_resolved(
                buf, wf["type"], rf["type"])
            seen.add(rf["name"])
        for rf in reader["fields"]:
            if rf["name"] in seen:
                continue
            if "default" not in rf:
                raise ValueError(
                    f"avro resolution: reader field {rf['name']!r} "
                    "missing from writer and has no default")
            out[rf["name"]] = rf["default"]
        return out
    raise ValueError(
        f"avro resolution: cannot resolve writer {wt} as reader {rt}")


def avro_resolved_decode_udf(writer_json: str, reader_json: str):
    """Avro binary written under `writer_json` → JSON string shaped by
    `reader_json` (schema resolution applied per record)."""
    writer = resolve_names(json.loads(writer_json))
    reader = resolve_names(json.loads(reader_json))
    return row_udf(
        "string",
        lambda b: json.dumps(
            _decode_resolved(BytesIO(bytes(b)), writer, reader)
        ),
    )
