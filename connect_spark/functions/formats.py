"""Format & parsing processors (SURVEY.md §2.F) re-expressed for Spark.

- compress/decompress (docs/.../processors/{compress,decompress}.adoc:26):
  gzip/zlib/bz2/lzma via Arrow-batched `row_udf`s (Python stdlib
  codecs — the UDF tail is the right place for byte-level codecs; file
  level compression stays on the native parquet/csv codec options).
- grok (docs/.../processors/grok.adoc:26): %{PATTERN:name} compiled to
  a named-group regex evaluated with native regexp_extract per field —
  stays in codegen, no UDF.
- parse_log (docs/.../processors/parse_log.adoc:26): syslog RFC3164
  shape via the same regex machinery.
- text_chunker (docs/.../processors/text_chunker.adoc:26,85-101;
  internal/impl/text/text_chunker_processor.go): fixed-token chunking
  as pure array algebra (split → slice windows → explode) — narrow,
  no UDF, scales linearly.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from connect_spark.boundary import row_udf

# --- compress / decompress ---

_CODECS = {
    "gzip": ("gzip", "compress", "decompress"),
    "pgzip": ("gzip", "compress", "decompress"),  # parallel gzip ==
    # the gzip format (compress.adoc lists it as a speed variant)
    "zlib": ("zlib", "compress", "decompress"),
    "bz2": ("bz2", "compress", "decompress"),
    "lzma": ("lzma", "compress", "decompress"),
}


def _codec_fns(codec: str, direction: str):
    """Resolve (callable) for codecs beyond the stdlib-module table:
    flate = raw DEFLATE (zlib with no header, compress.adoc), snappy =
    pure-Python block codec (functions/snappy_codec.py)."""
    if codec == "flate":
        import zlib as _z

        if direction == "compress":
            def _flate_c(b: bytes) -> bytes:
                obj = _z.compressobj(wbits=-15)
                return obj.compress(b) + obj.flush()

            return _flate_c
        return lambda b: _z.decompress(b, wbits=-15)
    if codec == "snappy":
        from connect_spark.functions import snappy_codec as _sn

        return _sn.compress if direction == "compress" else _sn.decompress
    if codec == "lz4":
        from connect_spark.functions import lz4_codec as _lz

        return _lz.compress if direction == "compress" else _lz.decompress
    if codec == "zstd":
        from connect_spark.functions import zstd_codec as _zs

        return _zs.compress if direction == "compress" else _zs.decompress
    mod_name, comp, decomp = _CODECS[codec]
    mod = __import__(mod_name)
    return getattr(mod, comp if direction == "compress" else decomp)


def compress_udf(codec: str = "gzip"):
    """Arrow-batched bytes→bytes compression column function."""
    fn = _codec_fns(codec, "compress")
    return row_udf("binary", lambda b: fn(bytes(b)))


def decompress_udf(codec: str = "gzip"):
    fn = _codec_fns(codec, "decompress")
    return row_udf("binary", lambda b: fn(bytes(b)))


# --- grok ---

# Minimal pattern library (the reference bundles the standard grok set;
# these cover the documented examples).
GROK_PATTERNS = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "IP": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?",
    "LOGLEVEL": r"TRACE|DEBUG|INFO|WARN|ERROR|FATAL",
    "SYSLOGTIMESTAMP": r"[A-Z][a-z]{2} +\d{1,2} \d{2}:\d{2}:\d{2}",
}

_GROK_REF = re.compile(r"%\{(\w+)(?::(\w+))?\}")


def grok_to_regex(pattern: str) -> tuple[str, list[str]]:
    """Compile a grok pattern into (regex, captured field names)."""
    fields: list[str] = []

    def sub(m: re.Match) -> str:
        pat_name, field = m.group(1), m.group(2)
        base = GROK_PATTERNS.get(pat_name)
        if base is None:
            raise KeyError(f"unknown grok pattern %{{{pat_name}}}")
        if field:
            fields.append(field)
            return f"({base})"
        return f"(?:{base})"

    return _GROK_REF.sub(sub, pattern), fields


def grok_extract(col: Column | str, pattern: str) -> Column:
    """grok processor: returns a struct of captured fields (all string;
    cast downstream). Pure regexp_extract — codegen-friendly."""
    regex, fields = grok_to_regex(pattern)
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(
        *[
            F.regexp_extract(c, regex, i + 1).alias(name)
            for i, name in enumerate(fields)
        ]
    )


SYSLOG_3164 = (
    "%{SYSLOGTIMESTAMP:timestamp} %{NOTSPACE:hostname} "
    "%{WORD:appname}(?:\\[%{INT:procid}\\])?: %{GREEDYDATA:message}"
)


def parse_syslog(col: Column | str) -> Column:
    """parse_log syslog_rfc3164 (parse_log.adoc:26)."""
    return grok_extract(col, SYSLOG_3164)


# --- text chunker ---


def text_chunks(
    col: Column | str, chunk_tokens: int = 64, sep: str = " "
) -> Column:
    """text_chunker with the `token` strategy (text_chunker.adoc:85-101)
    on whitespace tokens: array of chunk strings, each ≤ chunk_tokens
    tokens. Pure array algebra: split → windowed slices → join."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.filter(F.split(c, sep), lambda t: t != "")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_tokens + 1, chunk_tokens), sep
        ),
    )
