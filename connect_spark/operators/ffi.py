"""`ffi` processor — dlopen a shared library and invoke a function per
message (reference: internal/impl/ffi/processor.go: library_path,
function_name, args_mapping → array of args, signature with
void/int32/int64 return and int32/int64/byte* parameters, `out`
pointer parameters returned alongside the result).

Spark-first shape: ctypes (the platform dlopen) inside an
Arrow-batched UDF — the library loads once per executor process and
the call runs batch-local, no driver round-trips. `args_mapping` is a
Bloblang mapping evaluated per message by the dynamic value evaluator
(bloblang/pyeval.py), because FFI argument lists are heterogeneous
(ints + byte buffers) and therefore not a typed Column.

The result column `ffi_result` is a JSON array: the return value first
(unless void), then each `out` parameter in order; byte buffers are
decoded as UTF-8 text with surrogate escapes (C-string convention —
binary-heavy interop should pass lengths and re-encode downstream).
"""

from __future__ import annotations

import ctypes
import json
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from connect_spark.boundary import row_udf

_RETURN_TYPES = {
    "void": None,
    "int32": ctypes.c_int32,
    "int64": ctypes.c_int64,
}
_PARAM_TYPES = {"int32", "int64", "byte*"}


@lru_cache(maxsize=64)
def _load(library_path: str, function_name: str, ret: str):
    lib = ctypes.CDLL(library_path)
    fn = getattr(lib, function_name)
    fn.restype = _RETURN_TYPES[ret]
    return fn


def _call(fn, params: list[dict], args: list):
    if len(args) != len(params):
        raise ValueError(
            f"ffi: args_mapping returned {len(args)} args for "
            f"{len(params)} parameters"
        )
    c_args = []
    out_bufs: list[tuple[int, ctypes.Array]] = []
    for i, (p, a) in enumerate(zip(params, args)):
        t = p["type"]
        if t == "int32":
            c_args.append(ctypes.c_int32(int(a)))
        elif t == "int64":
            c_args.append(ctypes.c_int64(int(a)))
        elif t == "byte*":
            raw = a.encode("utf-8", "surrogateescape") if isinstance(a, str) else bytes(a)
            if p.get("out"):
                size = max(len(raw) + 1, int(p.get("out_size", 256)))
                buf = ctypes.create_string_buffer(raw, size)
                out_bufs.append((i, buf))
                c_args.append(buf)
            else:
                c_args.append(raw)
        else:  # pragma: no cover — validated at build
            raise ValueError(f"ffi: bad param type {t!r}")
    ret = fn(*c_args)
    result = []
    if fn.restype is not None:
        result.append(int(ret))
    for _, buf in out_bufs:
        result.append(buf.value.decode("utf-8", "surrogateescape"))
    return result


def ffi_call(
    df: DataFrame,
    library_path: str,
    function_name: str,
    args_mapping: str,
    signature: dict,
    out: str = "ffi_result",
) -> Column | DataFrame:
    """Apply the foreign function per message; appends `out` with the
    JSON result array. Build-time validation mirrors the reference's
    config checks (bad types / unloadable library fail fast)."""
    ret = signature.get("return", {}).get("type", "void")
    if ret not in _RETURN_TYPES:
        raise ValueError(f"invalid return type {ret!r}")
    params = [dict(p) for p in signature.get("parameters", [])]
    for p in params:
        if p["type"] not in _PARAM_TYPES:
            raise ValueError(f"invalid parameter type {p['type']!r}")
        if p.get("out") and p["type"] != "byte*":
            raise ValueError("out parameters must be pointer types")
    _load(library_path, function_name, ret)  # driver-side fail-fast

    from connect_spark.bloblang.pyeval import eval_mapping_value

    def one(v):
        args = eval_mapping_value(args_mapping, json.loads(v))
        if not isinstance(args, list):
            raise ValueError("args_mapping must return an array")
        # _load is cached per worker process
        fn = _load(library_path, function_name, ret)
        return json.dumps(_call(fn, params, args))

    doc = F.to_json(F.struct(*df.columns))
    return df.withColumn(out, row_udf("string", one)(doc))
