"""Bloblang method registry → Column builders.

Each entry maps a documented method (docs/modules/guides/pages/
bloblang/methods.adoc, section lines cited in SURVEY.md §2.G) onto its
native `pyspark.sql.functions` equivalent, so compiled mappings stay
entirely inside whole-stage codegen. Args arrive as Columns or plain
Python literals (the compiler lowers `Lit` nodes to Python values).
"""

from __future__ import annotations

import hashlib
import hmac
import json
import re
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from connect_spark.boundary import row_udf


def _lit(v: Any) -> Column:
    return v if isinstance(v, Column) else F.lit(v)


METHODS: dict[str, Callable[..., Column]] = {}


def method(name: str):
    def deco(fn):
        METHODS[name] = fn
        return fn

    return deco


# --- string (methods.adoc:35) ---

method("uppercase")(lambda c: F.upper(c))
method("lowercase")(lambda c: F.lower(c))
method("capitalize")(lambda c: F.initcap(c))
method("trim")(lambda c, chars=None: F.trim(c) if chars is None else F.btrim(c, _lit(chars)))


@method("trim_prefix")
def _trim_prefix(c: Column, p: str) -> Column:
    return F.when(
        c.startswith(p), c.substr(F.lit(len(p) + 1), F.length(c))
    ).otherwise(c)


@method("trim_suffix")
def _trim_suffix(c: Column, s: str) -> Column:
    return F.when(
        c.endswith(s), c.substr(F.lit(1), F.length(c) - len(s))
    ).otherwise(c)
method("has_prefix")(lambda c, p: c.startswith(p))
method("has_suffix")(lambda c, s: c.endswith(s))
method("contains")(lambda c, s: c.contains(s))
method("index_of")(lambda c, s: F.instr(c, s) - 1)  # bloblang is 0-based
method("length")(lambda c: F.length(c))  # strings; arrays use .size()
method("size")(lambda c: F.size(c))
method("repeat")(lambda c, n: F.repeat(c, n if isinstance(n, int) else n))
method("replace_all")(lambda c, a, b: F.replace(c, _lit(a), _lit(b)))
method("reverse")(lambda c: F.reverse(c))
def _m_slice(c: Column, start, end=None) -> Column:
    """methods.adoc slice: 0-based start, exclusive end; negative
    start counts from the end (Spark substring already does for
    negative positions — only non-negative needs the +1 shift).
    Negative literals reach here as Columns (unary minus), so the
    sign test must work for both."""
    if isinstance(start, int):
        pos = F.lit(start + 1 if start >= 0 else start)
    else:
        sc = _lit(start)
        pos = F.when(sc >= 0, sc + 1).otherwise(sc)
    length = (
        (_lit(end) - _lit(start)) if end is not None else F.lit(1 << 30)
    )
    return F.substring(c, pos, length)


method("slice")(_m_slice)
method("split")(lambda c, sep: F.split(c, _regex_escape(sep)))
method("quote")(lambda c: F.concat(F.lit('"'), c, F.lit('"')))
method("unquote")(lambda c: F.regexp_replace(c, '^"|"$', ""))
method("slug")(
    lambda c: F.regexp_replace(F.lower(c), "[^a-z0-9]+", "-")
)
method("strip_html")(lambda c: F.regexp_replace(c, "<[^>]*>", ""))
method("format")(lambda c, *args: F.format_string(c, *map(_lit, args)))
method("join")(lambda c, sep="": F.array_join(c, sep))


def _regex_escape(sep: Any) -> Any:
    """Bloblang split takes a plain string; Spark split takes a regex."""
    if isinstance(sep, str):
        import re

        return re.escape(sep)
    return sep


# --- regex (methods.adoc:797) ---

method("re_match")(lambda c, pat: c.rlike(pat))
method("re_replace_all")(lambda c, pat, rep: F.regexp_replace(c, pat, rep))
method("re_find_all")(lambda c, pat: F.regexp_extract_all(c, _lit(pat), 0))

# --- number (methods.adoc:955) ---

method("abs")(lambda c: F.abs(c))
method("ceil")(lambda c: F.ceil(c))
method("floor")(lambda c: F.floor(c))
method("round")(lambda c, scale=0: F.round(c, scale))
method("log")(lambda c: F.log(c))
method("log10")(lambda c: F.log10(c))
method("sqrt")(lambda c: F.sqrt(c))
method("pow")(lambda c, e: F.pow(c, _lit(e)))
method("max")(lambda c, other=None: F.greatest(c, _lit(other)) if other is not None else F.array_max(c))
method("min")(lambda c, other=None: F.least(c, _lit(other)) if other is not None else F.array_min(c))

# --- timestamp (methods.adoc:1581) ---

method("ts_parse")(lambda c, fmt: F.to_timestamp(c, fmt))
method("ts_format")(lambda c, fmt="yyyy-MM-dd'T'HH:mm:ssXXX": F.date_format(c, fmt))
method("ts_round")(lambda c, unit="hour": F.date_trunc(unit, c))
method("ts_unix")(lambda c: F.unix_timestamp(c))
method("ts_unix_milli")(lambda c: (F.unix_micros(c) / 1000).cast("bigint"))
method("ts_unix_micro")(lambda c: F.unix_micros(c))
method("ts_sub")(lambda c, other: c - other)

# --- coercion (methods.adoc:2061) ---

method("string")(lambda c: c.cast("string"))
method("number")(lambda c: c.cast("double"))
method("int64")(lambda c: c.cast("bigint"))
method("int32")(lambda c: c.cast("int"))
method("float64")(lambda c: c.cast("double"))
method("bool")(lambda c: c.cast("boolean"))
method("bytes")(lambda c: c.cast("binary"))
method("timestamp")(lambda c: c.cast("timestamp"))
method("not_null")(lambda c: c)  # nulls surface via the _error model instead
method("type")(lambda c: F.typeof(c))

# --- arrays & objects (methods.adoc:2257) ---

method("append")(lambda c, v: F.array_append(c, _lit(v)))
method("concat")(lambda c, other: F.concat(c, other))
method("flatten")(lambda c: F.flatten(c))
method("unique")(lambda c: F.array_distinct(c))
method("sort")(lambda c: F.sort_array(c))
method("sum")(
    lambda c: F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
)
method("filter")(lambda c, f: F.filter(c, f))
method("map_each")(lambda c, f: F.transform(c, f))
method("any")(lambda c, f: F.exists(c, f))
method("all")(lambda c, f: F.forall(c, f))
method("fold")(lambda c, init, f: F.aggregate(c, _lit(init), f))
method("index")(lambda c, i: F.element_at(c, i + 1 if isinstance(i, int) and i >= 0 else _lit(i)))
method("first")(lambda c: F.element_at(c, 1))
method("last")(lambda c: F.element_at(c, -1))
method("keys")(lambda c: F.map_keys(c))
method("values")(lambda c: F.map_values(c))
method("get")(lambda c, k: F.element_at(c, _lit(k)))
method("zip")(lambda c, other: F.arrays_zip(c, other))
method("without")(lambda c, *names: c.dropFields(*names))  # methods.adoc:3282


@method("with")
def _with(c: Column, *names: str) -> Column:
    """`with` (methods.adoc:3266): keep only the named struct fields."""
    return F.struct(*[c.getField(n).alias(n) for n in names])
method("enumerated")(
    # empty arrays: sequence(0, -1) would step backwards and zip two
    # phantom entries; slice the zipped result to the true size so the
    # empty case yields [] with the correct element type
    lambda c: F.slice(
        F.arrays_zip(
            F.sequence(F.lit(0), F.greatest(F.size(c) - 1, F.lit(0))), c
        ),
        1,
        F.size(c),
    )
)

# --- parsing (methods.adoc:3319) ---

method("parse_json")(lambda c, schema="variant": _parse_json(c, schema))


def _parse_json(c: Column, schema: Any) -> Column:
    if schema == "variant":
        return F.parse_json(c)
    return F.from_json(c, schema)


method("format_json")(lambda c: F.to_json(c))
method("json_path")(lambda c, p: F.get_json_object(c, p))
method("parse_url")(
    lambda c: F.struct(
        F.parse_url(c, F.lit("HOST")).alias("host"),
        F.parse_url(c, F.lit("PATH")).alias("path"),
        F.parse_url(c, F.lit("QUERY")).alias("query"),
        F.parse_url(c, F.lit("PROTOCOL")).alias("scheme"),
    )
)
method("parse_csv")(lambda c, schema: F.from_csv(c, _lit(schema)))

# --- encoding & crypto (methods.adoc:3737) ---


@method("encode")
def _encode(c: Column, codec: str) -> Column:
    codec = codec.lower()
    if codec == "base64":
        return F.base64(c.cast("binary"))
    if codec == "hex":
        return F.lower(F.hex(c.cast("binary")))
    raise ValueError(f"unsupported encode codec {codec!r}")


@method("decode")
def _decode(c: Column, codec: str) -> Column:
    codec = codec.lower()
    if codec == "base64":
        return F.unbase64(c)
    if codec == "hex":
        return F.unhex(c)
    raise ValueError(f"unsupported decode codec {codec!r}")


@method("hash")
def _hash(c: Column, algo: str, key=None, polynomial: str = "IEEE") -> Column:
    """methods.adoc hash: md5/sha1/sha256/sha512/sha3_256/sha3_512/
    xxhash64/crc32 (IEEE, Castagnoli, Koopman polynomials)/fnv32/
    hmac_sha1/hmac_sha256/hmac_sha512 (key as 2nd arg). JVM builtins
    where Spark has them, Arrow-batched hashlib/hmac otherwise; all
    digests return lowercase hex (the repo's hash convention)."""
    algo = algo.lower()
    if algo == "md5":
        return F.md5(c.cast("binary"))
    if algo in ("sha1", "sha-1"):
        return F.sha1(c.cast("binary"))
    if algo in ("sha256", "sha-256"):
        return F.sha2(c.cast("binary"), 256)
    if algo in ("sha512", "sha-512"):
        return F.sha2(c.cast("binary"), 512)
    if algo == "xxhash64":
        return F.xxhash64(c)
    if algo == "crc32" and polynomial.upper() == "IEEE":
        # hex like every other digest (the raw bigint is available as
        # F.crc32 for callers that want it)
        return F.lpad(F.lower(F.hex(F.crc32(c.cast("binary")))), 8, "0")
    if algo in ("sha3_256", "sha3_512", "fnv32", "crc32") or algo.startswith(
        "hmac_"
    ):
        kcol = (
            key
            if isinstance(key, Column)
            else F.lit(key if key is not None else "")
        ).cast("binary")

        def crc_poly(poly_rev: int, d: bytes) -> int:
            crc = 0xFFFFFFFF
            for byte in d:
                crc ^= byte
                for _ in range(8):
                    crc = (crc >> 1) ^ (
                        poly_rev if crc & 1 else 0
                    )
            return crc ^ 0xFFFFFFFF

        def one(d, kk):
            if isinstance(d, str):
                d = d.encode()
            elif isinstance(d, bool):
                d = b"\x01" if d else b"\x00"
            elif isinstance(d, int):
                # match the JVM paths' cast('binary') layout
                d = int(d).to_bytes(8, "big", signed=True)
            elif isinstance(d, float):
                import struct as _st

                d = _st.pack(">d", d)
            else:
                d = bytes(d)
            if algo == "sha3_256":
                return hashlib.sha3_256(d).hexdigest()
            if algo == "sha3_512":
                return hashlib.sha3_512(d).hexdigest()
            if algo == "fnv32":
                # FNV-1a 32-bit (public domain spec)
                h = 0x811C9DC5
                for byte in d:
                    h = ((h ^ byte) * 0x01000193) & 0xFFFFFFFF
                return f"{h:08x}"
            if algo == "crc32":
                rev = {
                    "CASTAGNOLI": 0x82F63B78,
                    "KOOPMAN": 0xEB31D82E,
                }[polynomial.upper()]
                return f"{crc_poly(rev, d):08x}"
            digest = {
                "hmac_sha1": hashlib.sha1,
                "hmac_sha256": hashlib.sha256,
                "hmac_sha512": hashlib.sha512,
            }[algo]
            return hmac.new(bytes(kk), d, digest).hexdigest()

        # a null key hashes as the empty key
        return row_udf("string", one)(c, F.coalesce(kcol, F.lit(b"")))
    raise ValueError(f"unsupported hash algorithm {algo!r}")


# --- more string/url/path methods ---

method("escape_url_query")(lambda c: F.url_encode(c))
method("unescape_url_query")(lambda c: F.url_decode(c))
method("filepath_join")(lambda c: F.array_join(c, "/"))
method("filepath_split")(lambda c: F.split(c, "/"))
method("lpad")(lambda c, n, p=" ": F.lpad(c, n, p))
method("rpad")(lambda c, n, p=" ": F.rpad(c, n, p))


@method("unicode_segments")
def _unicode_segments(c: Column, segmentation_type: str) -> Column:
    """methods.adoc (string section) unicode_segments — UAX #29
    grapheme/word/sentence segmentation
    (internal/impl/lang/bloblang.go:70-120, uniseg). Pure-Python rule
    engines over the `regex` module's Unicode property tables
    (text/segmentation.py), Arrow-batched."""
    if segmentation_type not in ("grapheme", "word", "sentence"):
        raise ValueError(
            f"unknown segmentation type: {segmentation_type}"
        )
    from connect_spark.text.segmentation import unicode_segments

    return row_udf(
        "array<string>", lambda v: unicode_segments(v, segmentation_type)
    )(c.cast("string"))


@method("compare_bcrypt")
def _compare_bcrypt(c: Column, hashed_secret: str) -> Column:
    """methods.adoc (string section) compare_bcrypt — true/false
    whether the input matches a bcrypt hash
    (internal/impl/crypto/bcrypt.go:39-59). Pure-Python EksBlowfish
    (functions/bcrypt_py.py), Arrow-batched; malformed hashes yield
    null (the reference errors). Note bcrypt's work factor applies
    per row — this is an edge op, not a hot-path transform."""
    from connect_spark.functions.bcrypt_py import compare_bcrypt

    return row_udf(
        "boolean", lambda v: compare_bcrypt(v, hashed_secret), (ValueError,)
    )(c.cast("string"))


@method("compare_argon2")
def _compare_argon2(c: Column, hashed_secret: str) -> Column:
    """methods.adoc (string section) compare_argon2 — true/false
    whether the input matches an argon2i/argon2id PHC hash
    (internal/impl/crypto/argon2.go:112-160). Pure-Python RFC 9106
    (functions/argon2_py.py), oracle-pinned against the cryptography
    package's Rust Argon2; malformed hashes yield null."""
    from connect_spark.functions.argon2_py import compare_argon2

    return row_udf(
        "boolean", lambda v: compare_argon2(v, hashed_secret), (ValueError,)
    )(c.cast("string"))


@method("parse_duration")
def _parse_duration(c: Column) -> Column:
    """Duration string (e.g. "3h2m1s", "150ms") → nanoseconds
    (methods.adoc:1583 parse_duration returns ns)."""
    def part(unit: str) -> Column:
        raw = F.regexp_extract(c, r"(\d+(?:\.\d+)?)" + unit, 1)
        return F.when(raw == "", F.lit(0.0)).otherwise(
            raw.try_cast("double")
        )

    ns = (
        part("h") * 3_600_000_000_000
        + part("m(?!s)") * 60_000_000_000
        + part("s(?![a-z])") * 1_000_000_000
        + part("ms") * 1_000_000
        + part("us") * 1_000
        + part("ns")
    )
    return ns.cast("bigint")


# Predefined RFC 9562 namespaces accepted by uuid_v5 (methods.adoc:3937).
_UUID_NAMESPACES = {
    "dns": "6ba7b810-9dad-11d1-80b4-00c04fd430c8",
    "url": "6ba7b811-9dad-11d1-80b4-00c04fd430c8",
    "oid": "6ba7b812-9dad-11d1-80b4-00c04fd430c8",
    "x500": "6ba7b814-9dad-11d1-80b4-00c04fd430c8",
}


@method("uuid_v5")
def _uuid_v5(c: Column, namespace: str = "") -> Column:
    """RFC 4122/9562 version-5 UUID (methods.adoc:3931): the digest is
    sha1(namespace_uuid_bytes ‖ name_bytes) with the version nibble set
    to 5 and the variant field to 10xx.  The namespace arg accepts the
    predefined names dns/url/oid/x500, any valid UUID string, or empty
    for the nil UUID — matching the reference's parameter contract
    (methods.adoc:3937).  Pure Column algebra (sha1 over binary concat,
    nibble surgery via conv), so it stays inside codegen.
    """
    import re as _re

    ns = (namespace or "00000000-0000-0000-0000-000000000000").lower()
    ns = _UUID_NAMESPACES.get(ns, ns)
    if not _re.fullmatch(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", ns):
        raise ValueError(
            f"uuid_v5 namespace must be dns/url/oid/x500 or a UUID, got {namespace!r}"
        )
    ns_hex = ns.replace("-", "")
    h = F.sha1(F.concat(F.unhex(F.lit(ns_hex)), F.encode(c.cast("string"), "UTF-8")))
    # variant nibble: (orig & 0x3) | 0x8 → one of 8/9/a/b
    variant = F.lower(
        F.conv(
            (
                F.conv(F.substring(h, 17, 1), 16, 10).cast("int") % 4 + 8
            ).cast("string"),
            10,
            16,
        )
    )
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("5"), F.substring(h, 14, 3)),
        F.concat(variant, F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


# logfmt token grammar: key=value where value is bare (no spaces) or
# double-quoted with backslash escapes (methods.adoc:3602-3613).
_LOGFMT_TOKEN = r'([\w.\-/@]+)=("(?:[^"\\]|\\.)*"|[^\s"]*)'


@method("parse_logfmt")
def _parse_logfmt(c: Column) -> Column:
    """parse_logfmt (methods.adoc:3602): key=value pairs separated by
    spaces where values may be double-quoted — the doc's own example
    is `msg="hello world"` → {"msg": "hello world"}.  Quoted values
    honor the standard escapes \\n \\t \\r \\" \\\\ (an escaped
    backslash is resolved FIRST so \\\\n stays a backslash + n, via a
    NUL sentinel no logfmt line contains); any other \\x drops the
    backslash.  Repeated keys keep the LAST value instead of tripping
    Spark's default spark.sql.mapKeyDedupPolicy=EXCEPTION."""
    keys = F.regexp_extract_all(c, F.lit(_LOGFMT_TOKEN), 1)
    raw_vals = F.regexp_extract_all(c, F.lit(_LOGFMT_TOKEN), 2)

    def _unescape(s: Column) -> Column:
        s = F.regexp_replace(s, r"\\\\", "\x00")
        s = F.regexp_replace(s, r"\\n", "\n")
        s = F.regexp_replace(s, r"\\t", "\t")
        s = F.regexp_replace(s, r"\\r", "\r")
        s = F.regexp_replace(s, r"\\(.)", "$1")
        return F.replace(s, F.lit("\x00"), F.lit("\\"))

    vals = F.transform(
        raw_vals,
        lambda v: F.when(
            v.startswith('"') & v.endswith('"') & (F.length(v) >= 2),
            _unescape(F.substring(v, 2, F.length(v) - 2)),
        ).otherwise(v),
    )
    entries = F.zip_with(
        keys, vals, lambda k, v: F.struct(k.alias("k"), v.alias("v")))
    # last-wins dedup: keep entry i only when no LATER entry repeats
    # its key (logfmt lines hold a handful of pairs, so the per-entry
    # tail scan is trivially cheap)
    n = F.size(entries)
    deduped = F.filter(
        entries,
        lambda e, i: ~F.exists(
            F.slice(entries, i + 2, F.greatest(n - i - 1, F.lit(0))),
            lambda e2: e2["k"] == e["k"],
        ),
    )
    return F.map_from_entries(deduped)


@method("parse_yaml")
def _parse_yaml(c: Column) -> Column:
    """parse_yaml (methods.adoc:3723): YAML → JSON string via an
    Arrow-batched UDF (PyYAML in-container); chain .parse_json() /
    json_path() for structure."""
    import yaml

    # parse failure → null
    return row_udf(
        "string", lambda v: json.dumps(yaml.safe_load(v)), (Exception,)
    )(c)


@method("bloblang")
def _bloblang_eval(c: Column, mapping: Any) -> Column:
    """bloblang (methods.adoc:3321): execute an argument mapping on
    the target — the mapping SOURCE may itself be per-message data
    (a Column), which is the point of the method over static mappings.
    Runs the driver-side value evaluator (bloblang/pyeval.py) in an
    Arrow-batched UDF with an executor-side compile cache keyed on
    mapping source. Target JSON decodes to `this`; non-JSON targets
    pass through as strings. Result is a JSON string (chain
    .parse_json() / from_json for structure); failures → null."""
    from connect_spark.bloblang.pyeval import (
        compile_cached,
        eval_parsed_value,
    )

    def conv(t, m):
        try:
            this = json.loads(t)
        except Exception:  # noqa: BLE001 — raw string target
            this = t
        return json.dumps(
            eval_parsed_value(compile_cached(m), this), sort_keys=True
        )

    # mapping failure → null
    return row_udf("string", conv, (Exception,))(
        c.cast("string"), _lit(mapping).cast("string")
    )


# --- error handling (about.adoc:365-402) ---

method("catch")(lambda c, fallback: F.coalesce(c, _lit(fallback)))
method("or")(lambda c, fallback: F.coalesce(c, _lit(fallback)))


# --- AES encryption methods (methods.adoc:3827-3896) ----------------


def _aes_method(mode: str):
    def impl(c: Column, scheme, key, iv) -> Column:
        from connect_spark.functions import aes as _aes

        if not isinstance(scheme, str):
            raise ValueError("encrypt_aes/decrypt_aes scheme must be a literal")
        fn = _aes.encrypt_aes if mode == "enc" else _aes.decrypt_aes

        def one(d, kk, vv):
            if isinstance(d, str):
                d = d.encode()
            if isinstance(kk, str):
                kk = kk.encode()
            if isinstance(vv, str):
                vv = vv.encode()
            return fn(bytes(d), scheme, bytes(kk), bytes(vv))

        return row_udf("binary", one)(c, _lit(key), _lit(iv))

    return impl


method("encrypt_aes")(_aes_method("enc"))
method("decrypt_aes")(_aes_method("dec"))


# --- trig / bitwise / sized-int coercions (methods.adoc number and
# coercion categories) ----------------------------------------------

method("cos")(lambda c: F.cos(c))
method("sin")(lambda c: F.sin(c))
method("tan")(lambda c: F.tan(c))
method("bitwise_and")(lambda c, x: c.cast("long").bitwiseAND(_lit(x).cast("long")))
method("bitwise_or")(lambda c, x: c.cast("long").bitwiseOR(_lit(x).cast("long")))
method("bitwise_xor")(lambda c, x: c.cast("long").bitwiseXOR(_lit(x).cast("long")))
method("float32")(lambda c: c.cast("float"))
method("int8")(lambda c: c.cast("tinyint"))
method("int16")(lambda c: c.cast("smallint"))


def _uint(c: Column, bits: int) -> Column:
    # unsigned wraparound semantics on a 64-bit signed carrier
    mask = (1 << bits) - 1
    return c.cast("long").bitwiseAND(F.lit(mask))


method("uint8")(lambda c: _uint(c, 8))
method("uint16")(lambda c: _uint(c, 16))
method("uint32")(lambda c: _uint(c, 32))
method("uint64")(lambda c: c.cast("long"))  # carrier-limited; documented


# --- string replace / html / url-path escapes -----------------------

method("replace")(lambda c, old, new: F.replace(c, _lit(old), _lit(new)))


@method("replace_many")
def _replace_many(c: Column, pairs) -> Column:
    """methods.adoc replace_many / replace_all_many: flat
    [old1, new1, old2, new2, ...] — SINGLE-PASS like Go's
    strings.Replacer (sequential F.replace chains would let later
    pairs rewrite earlier pairs' output, e.g. ['a','b','b','z'] on
    'ab' must give 'bz', not 'zz')."""
    if isinstance(pairs, Column):
        raise ValueError("replace_many needs a literal pair array")
    vals = [str(v) for v in pairs]
    table = list(zip(vals[::2], vals[1::2]))
    rx = re.compile("|".join(re.escape(old) for old, _ in table))
    repl = dict(table)

    return row_udf(
        "string", lambda v: rx.sub(lambda m: repl[m.group(0)], v)
    )(c.cast("string"))


METHODS["replace_all_many"] = METHODS["replace_many"]

_HTML_PAIRS = [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
               ('"', "&#34;"), ("'", "&#39;")]


@method("escape_html")
def _escape_html(c: Column) -> Column:
    for old, new in _HTML_PAIRS:
        c = F.replace(c, F.lit(old), F.lit(new))
    return c


@method("unescape_html")
def _unescape_html(c: Column) -> Column:
    for old, new in reversed(_HTML_PAIRS):
        c = F.replace(c, F.lit(new), F.lit(old))
    return c


# path escaping = query escaping that keeps '/' and spaces as %20
method("escape_url_path")(
    lambda c: F.replace(
        F.replace(F.url_encode(c), F.lit("+"), F.lit("%20")),
        F.lit("%2F"), F.lit("/"),
    )
)
method("unescape_url_path")(lambda c: F.url_decode(c))


# --- map/object helpers ---------------------------------------------

method("exists")(lambda c, k: F.map_contains_key(c, _lit(k)))
method("key_values")(
    lambda c: F.transform(
        F.map_entries(c),
        lambda e: F.struct(
            e.getField("key").alias("key"), e.getField("value").alias("value")
        ),
    )
)
method("map_each_key")(lambda c, fn: F.transform_keys(c, lambda k, v: fn(k)))
method("merge")(lambda c, other: F.map_concat(c, other))
method("squash")(
    lambda c: F.aggregate(
        c,
        F.map_from_arrays(F.array(), F.array()).cast(
            "map<string,string>"
        ),
        lambda acc, m: F.map_concat(
            F.map_filter(acc, lambda k, _v: ~F.map_contains_key(m, k)), m
        ),
    )
)


@method("not_empty")
def _not_empty(c: Column) -> Column:
    return F.when(F.length(c.cast("string")) > 0, c).otherwise(
        F.raise_error(F.lit("not_empty: value is empty"))
    )


# --- array search / sort_by -----------------------------------------

method("find")(
    lambda c, v: F.when(
        F.array_position(c, _lit(v)) > 0, F.array_position(c, _lit(v)) - 1
    ).otherwise(F.lit(-1))
)
method("find_by")(
    lambda c, fn: F.element_at(F.filter(c, fn), 1)
)
method("find_all")(
    lambda c, v: F.filter(
        F.transform(c, lambda x, i: F.when(x == _lit(v), i).otherwise(F.lit(-1))),
        lambda i: i >= 0,
    )
)
method("find_all_by")(lambda c, fn: F.filter(c, fn))
method("sort_by")(
    lambda c, fn: F.array_sort(
        c,
        lambda a, b: F.when(fn(a) < fn(b), F.lit(-1))
        .when(fn(a) > fn(b), F.lit(1))
        .otherwise(F.lit(0)),
    )
)


# --- timestamp aliases + extensions ---------------------------------

METHODS["format_timestamp"] = METHODS["ts_format"]
METHODS["parse_timestamp"] = METHODS["ts_parse"]
METHODS["format_timestamp_unix"] = METHODS["ts_unix"]
METHODS["format_timestamp_unix_milli"] = METHODS["ts_unix_milli"]
METHODS["format_timestamp_unix_micro"] = METHODS["ts_unix_micro"]
method("ts_unix_nano")(
    lambda c: F.unix_micros(c.cast("timestamp")) * 1000
)
METHODS["format_timestamp_unix_nano"] = METHODS["ts_unix_nano"]
method("ts_tz")(
    lambda c, tz: F.convert_timezone(
        F.lit("UTC"), _lit(tz), c.cast("timestamp_ntz")
    )
)

_STRF_TO_SPARK = {
    "Y": "yyyy", "m": "MM", "d": "dd", "H": "HH",
    "M": "mm", "S": "ss", "y": "yy", "j": "DDD",
    "b": "MMM", "B": "MMMM", "a": "EEE", "A": "EEEE",
    "p": "a", "z": "xx",
}


def _strf(fmt: str) -> str:
    """strftime → Spark datetime pattern, tokenized so literal LETTERS
    get single-quoted (an unquoted 'T' in '%Y-%m-%dT%H' would be an
    illegal Spark pattern char) and '%%' survives as a literal '%'."""
    out: list[str] = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%" and i + 1 < len(fmt):
            code = fmt[i + 1]
            i += 2
            if code == "%":
                out.append("%")
            elif code in _STRF_TO_SPARK:
                out.append(_STRF_TO_SPARK[code])
            else:
                raise ValueError(f"unsupported strftime code %{code}")
        elif ch.isalpha():
            run = ch
            i += 1
            while i < len(fmt) and fmt[i].isalpha() and fmt[i] != "%":
                run += fmt[i]
                i += 1
            out.append("'" + run + "'")
        elif ch == "'":
            out.append("''")
            i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


method("ts_strftime")(
    lambda c, fmt: F.date_format(c.cast("timestamp"), _strf(fmt))
)
METHODS["format_timestamp_strftime"] = METHODS["ts_strftime"]
method("ts_strptime")(
    lambda c, fmt: F.to_timestamp(c, _strf(fmt))
)
METHODS["parse_timestamp_strptime"] = METHODS["ts_strptime"]


def _iso8601_interval(dur: str) -> Column:
    """ISO-8601 duration (P1DT2H3M4S subset) → Spark interval."""
    import re as _re

    m = _re.fullmatch(
        r"(-)?P(?:(\d+)D)?(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+(?:\.\d+)?)S)?)?",
        dur,
    )
    if not m:
        raise ValueError(f"unparseable ISO-8601 duration {dur!r}")
    sign = -1 if m.group(1) else 1
    days = int(m.group(2) or 0)
    hours = int(m.group(3) or 0)
    mins = int(m.group(4) or 0)
    secs = float(m.group(5) or 0)
    return F.expr(
        f"make_dt_interval({sign * days}, {sign * hours}, "
        f"{sign * mins}, {sign * secs})"
    )


method("ts_add_iso8601")(
    lambda c, dur: c.cast("timestamp") + _iso8601_interval(dur)
)
method("ts_sub_iso8601")(
    lambda c, dur: c.cast("timestamp") - _iso8601_interval(dur)
)


# --- jwt method family (functions/jwt_hs.py machinery) --------------


def _jwt_methods() -> None:
    from connect_spark.functions import jwt_hs as J

    for alg_bits in ("256", "384", "512"):
        hs = f"HS{alg_bits}"
        method(f"sign_jwt_hs{alg_bits}")(
            lambda c, secret, _a=hs: J.sign_jwt_hs(c, secret, _a)
        )
        method(f"parse_jwt_hs{alg_bits}")(
            lambda c, secret, _a=hs: J.parse_jwt_hs(c, secret, _a)
        )
        rs = f"RS{alg_bits}"
        method(f"sign_jwt_rs{alg_bits}")(
            lambda c, key, _a=rs: J.sign_jwt_rs(c, key, _a)
        )
        method(f"parse_jwt_rs{alg_bits}")(
            lambda c, key, _a=rs: J.parse_jwt_rs(c, key, _a)
        )
        es = f"ES{alg_bits}"
        method(f"sign_jwt_es{alg_bits}")(
            lambda c, key, _a=es: J.sign_jwt_es(c, key, _a)
        )
        method(f"parse_jwt_es{alg_bits}")(
            lambda c, key, _a=es: J.parse_jwt_es(c, key, _a)
        )


_jwt_methods()


# --- parse_form_url_encoded / format_yaml ---------------------------


@method("parse_form_url_encoded")
def _parse_form(c: Column) -> Column:
    """methods.adoc parse_form_url_encoded → JSON string (single
    values unwrapped, repeats as arrays, Go url.ParseQuery shape)."""
    from urllib.parse import parse_qs

    def one(v):
        q = parse_qs(v, keep_blank_values=True)
        return json.dumps(
            {
                k: vals[0] if len(vals) == 1 else vals
                for k, vals in sorted(q.items())
            },
            separators=(",", ":"),
        )

    return row_udf("string", one)(c.cast("string"))


@method("format_yaml")
def _format_yaml(c: Column) -> Column:
    import yaml

    return row_udf(
        "string",
        lambda v: yaml.safe_dump(
            json.loads(v), default_flow_style=False, sort_keys=True
        ),
    )(c.cast("string"))


# --- more parsing / codec method forms ------------------------------

method("array")(lambda c: F.array(c))
METHODS["assign"] = METHODS["merge"]


@method("compress")
def _m_compress(c: Column, algorithm: str = "gzip") -> Column:
    from connect_spark.functions.formats import compress_udf

    return compress_udf(algorithm)(c.cast("binary"))


@method("decompress")
def _m_decompress(c: Column, algorithm: str = "gzip") -> Column:
    from connect_spark.functions.formats import decompress_udf

    return decompress_udf(algorithm)(c.cast("binary"))


@method("parse_msgpack")
def _m_parse_msgpack(c: Column, schema: str) -> Column:
    """methods.adoc parse_msgpack; schema-ful here (DataFrame engine) —
    pass the struct DDL the bytes decode into."""
    from connect_spark.functions.msgpack_codec import msgpack_decode

    return msgpack_decode(c.cast("binary"), schema)


@method("format_msgpack")
def _m_format_msgpack(c: Column) -> Column:
    """Inverse: a JSON-string column (use .format_json() on structured
    values first) → msgpack bytes."""
    from connect_spark.functions.msgpack_codec import msgpack_encode_udf

    return msgpack_encode_udf()(c.cast("string"))


method("parse_xml")(lambda c, schema: F.from_xml(c, _lit(schema)))
method("format_xml")(lambda c: F.to_xml(c))


@method("parse_duration_iso8601")
def _m_parse_duration_iso(c: Column) -> Column:
    """ISO-8601 duration string → integer nanoseconds (methods.adoc
    parse_duration_iso8601). Pure Column regexp arithmetic.

    The reference errors on unparseable or imprecise durations
    (years/months/weeks have no fixed nanosecond length); in the
    vectorized engine that surfaces as NULL — `catch`/`or` pick it
    up — instead of silently returning 0 as the pre-validation
    version did."""
    def part(pat: str) -> Column:
        return F.coalesce(
            F.regexp_extract(c, pat, 1).try_cast("double"), F.lit(0.0)
        )

    # full-match validation: only D/H/M/S designators are precise, and
    # at least one component must be present (bare "P"/"PT" invalid).
    valid = c.rlike(
        r"^-?P(?=.*\d)(\d+D)?(T(?=.*\d)(\d+H)?(\d+M)?(\d+(\.\d+)?S)?)?$"
    )
    days = part(r"P(?:(\d+)D)?")
    hours = part(r"T(?:(\d+)H)")
    mins = part(r"T(?:\d+H)?(?:(\d+)M)")
    secs = part(r"(\d+(?:\.\d+)?)S")
    total = (
        days * 86400.0 + hours * 3600.0 + mins * 60.0 + secs
    ) * F.when(c.startswith("-"), F.lit(-1.0)).otherwise(F.lit(1.0))
    return F.when(valid, (total * 1e9).cast("bigint"))


@method("parse_parquet")
def _m_parse_parquet(c: Column) -> Column:
    """methods.adoc parse_parquet: a parquet-file byte column → array
    of row-JSON strings (explode downstream for one message per row).
    pyarrow decodes each blob inside one Arrow batch."""
    import io

    import pyarrow.parquet as pq

    def one(b):
        table = pq.read_table(io.BytesIO(bytes(b)))
        return [
            json.dumps(
                {k: v for k, v in row.items()},
                separators=(",", ":"),
                default=str,
            )
            for row in table.to_pylist()
        ]

    return row_udf("array<string>", one)(c.cast("binary"))



@method("re_find_all_submatch")
def _m_re_submatch(c: Column, pattern: str) -> Column:
    """All matches, each as [full, group1, ...] (methods.adoc)."""
    rx = re.compile(pattern)

    return row_udf(
        "array<array<string>>",
        lambda v: [[m.group(0), *m.groups("")] for m in rx.finditer(v)],
    )(c.cast("string"))



@method("re_find_object")
def _m_re_find_object(c: Column, pattern: str) -> Column:
    """First match as a map of named (and numbered) groups."""
    rx = re.compile(pattern)

    def one(v):
        m = rx.search(v)
        return None if m is None else _match_map(m)

    return row_udf("map<string,string>", one)(c.cast("string"))


def _match_map(m: re.Match) -> dict[str, str]:
    """A regex match as {"0": full, "1": group1, ..., name: group}."""
    out = {"0": m.group(0)}
    for i, g in enumerate(m.groups(""), start=1):
        out[str(i)] = g
    out.update({k: v or "" for k, v in m.groupdict().items()})
    return out



# --- collapse / regex aliases / geoip method family ------------------

METHODS["re_replace"] = METHODS["re_replace_all"]


@method("collapse")
def _m_collapse(c: Column) -> Column:
    """methods.adoc collapse: nested object → flat map with
    dot-separated (and array-indexed) keys. One Arrow batch over the
    JSON form."""

    def walk(prefix, v, out):
        if isinstance(v, dict):
            for k, sub in v.items():
                walk(f"{prefix}.{k}" if prefix else k, sub, out)
        elif isinstance(v, list):
            for i, sub in enumerate(v):
                walk(f"{prefix}.{i}", sub, out)
        else:
            out[prefix] = json.dumps(v) if not isinstance(v, str) else v

    def one(v):
        out: dict = {}
        walk("", json.loads(v), out)
        return out

    return row_udf("map<string,string>", one)(c.cast("string"))



@method("re_find_all_object")
def _m_re_find_all_object(c: Column, pattern: str) -> Column:
    rx = re.compile(pattern)

    return row_udf(
        "array<map<string,string>>",
        lambda v: [_match_map(m) for m in rx.finditer(v)],
    )(c.cast("string"))



def _geoip_method(field_path: tuple[str, ...] | None):
    """methods.adoc geoip_* family: look an IP column up in a MaxMind
    MMDB (functions/geoip.py pure-Python reader). The reader is opened
    once per executor worker (cache keyed on path) and the looked-up
    record — or one field path of it — returns as JSON."""

    from connect_spark.functions.geoip import MmdbReader

    def impl(c: Column, mmdb_path: str) -> Column:
        def one(ip):
            rdr = _GEOIP_READERS.get(mmdb_path)
            if rdr is None:
                with open(mmdb_path, "rb") as fh:
                    rdr = _GEOIP_READERS.setdefault(
                        mmdb_path, MmdbReader(fh.read())
                    )
            try:
                rec = rdr.lookup(ip)
            except Exception:  # noqa: BLE001 - bad IP → null
                return None
            if rec is None:
                return None
            if field_path:
                for k in field_path:
                    if not isinstance(rec, dict) or k not in rec:
                        return None
                    rec = rec[k]
            return rec if isinstance(rec, str) else json.dumps(
                rec, separators=(",", ":"), sort_keys=True
            )

        return row_udf("string", one)(c.cast("string"))

    return impl


_GEOIP_READERS: dict[str, object] = {}

method("geoip_city")(_geoip_method(None))
method("geoip_country")(_geoip_method(("country",)))
method("geoip_asn")(_geoip_method(None))
method("geoip_isp")(_geoip_method(None))
method("geoip_enterprise")(_geoip_method(None))
method("geoip_domain")(_geoip_method(("domain",)))
method("geoip_connection_type")(_geoip_method(("connection_type",)))
method("geoip_anonymous_ip")(_geoip_method(None))


# --- explode / diff / patch / vector (methods.adoc) -----------------

method("vector")(
    # pgvector text form: "[0.1,0.2,...]"
    lambda c: F.concat(
        F.lit("["),
        F.array_join(
            F.transform(c, lambda x: x.cast("double").cast("string")), ","
        ),
        F.lit("]"),
    )
)


@method("explode")
def _m_explode(c: Column, path: str) -> Column:
    """methods.adoc explode: one JSON document → array of documents,
    the `path` field's elements distributed with surrounding structure
    preserved (arrays → element per doc, objects → {key: value} per
    doc). Feed the result to unarchive/F.explode for row fan-out."""
    parts = path.split(".")

    def one(v):
        doc = json.loads(v)
        parent = doc
        for p in parts[:-1]:
            parent = parent[p]
        target = parent[parts[-1]]
        out = []
        if isinstance(target, list):
            items = target
        elif isinstance(target, dict):
            items = [{k: val} for k, val in target.items()]
        else:
            raise ValueError(
                f"explode target {path!r} is not an array or object"
            )
        for item in items:
            parent[parts[-1]] = item
            out.append(json.dumps(doc, separators=(",", ":")))
        return out

    return row_udf("array<string>", one)(c.cast("string"))



def _deep_diff(before, after, path):
    """Changelog entries {Type, Path, From, To} (methods.adoc diff)."""
    out = []
    if isinstance(before, dict) and isinstance(after, dict):
        for k in sorted(set(before) | set(after)):
            if k not in before:
                out.append(
                    {"Type": "create", "Path": path + [k], "From": None,
                     "To": after[k]}
                )
            elif k not in after:
                out.append(
                    {"Type": "delete", "Path": path + [k],
                     "From": before[k], "To": None}
                )
            else:
                out.extend(_deep_diff(before[k], after[k], path + [k]))
        return out
    if isinstance(before, list) and isinstance(after, list):
        for i in range(max(len(before), len(after))):
            ip = path + [str(i)]
            if i >= len(before):
                out.append({"Type": "create", "Path": ip, "From": None,
                            "To": after[i]})
            elif i >= len(after):
                out.append({"Type": "delete", "Path": ip,
                            "From": before[i], "To": None})
            else:
                out.extend(_deep_diff(before[i], after[i], ip))
        return out
    if before != after:
        out.append({"Type": "update", "Path": path, "From": before,
                    "To": after})
    return out


@method("diff")
def _m_diff(c: Column, other) -> Column:
    """Deep changelog between two JSON values → JSON array string."""
    return row_udf(
        "string",
        lambda x, y: json.dumps(
            _deep_diff(json.loads(x), json.loads(y), []),
            separators=(",", ":"),
        ),
    )(c.cast("string"), _lit(other).cast("string"))



@method("patch")
def _m_patch(c: Column, changelog) -> Column:
    """Apply a diff changelog to a JSON value → JSON string."""

    def one(x, log):
        doc = json.loads(x)
        entries = json.loads(log)
        # list deletes must apply highest-index-first or each
        # removal shifts the indexes of the remaining ones (diff
        # emits them ascending); non-deletes keep their order
        ordered = [e for e in entries if e["Type"] != "delete"] + \
            sorted(
                (e for e in entries if e["Type"] == "delete"),
                key=lambda e: tuple(
                    (0, int(p), "") if str(p).isdigit()
                    else (1, 0, str(p))
                    for p in e["Path"]
                ),
                reverse=True,
            )
        for entry in ordered:
            parts = entry["Path"]
            parent = doc
            for p in parts[:-1]:
                p = int(p) if isinstance(parent, list) else p
                parent = parent[p]
            leaf = parts[-1]
            leaf = int(leaf) if isinstance(parent, list) else leaf
            if entry["Type"] == "delete":
                del parent[leaf]
            elif entry["Type"] == "create" and isinstance(
                parent, list
            ) and leaf == len(parent):
                parent.append(entry["To"])
            else:
                parent[leaf] = entry["To"]
        return json.dumps(doc, separators=(",", ":"), sort_keys=True)

    return row_udf("string", one)(
        c.cast("string"), _lit(changelog).cast("string")
    )



@method("infer_schema")
def _m_infer_schema(c: Column) -> Column:
    """methods.adoc infer_schema: JSON value → JSON-schema draft
    fragment (type / properties / items, recursive) as a JSON string,
    consumable by the json_schema processor."""

    def infer(v):
        if v is None:
            return {"type": "null"}
        if isinstance(v, bool):
            return {"type": "boolean"}
        if isinstance(v, int):
            return {"type": "integer"}
        if isinstance(v, float):
            return {"type": "number"}
        if isinstance(v, str):
            return {"type": "string"}
        if isinstance(v, list):
            out = {"type": "array"}
            if v:
                out["items"] = infer(v[0])
            return out
        return {
            "type": "object",
            "properties": {
                k: infer(sub) for k, sub in sorted(v.items())
            },
        }

    return row_udf(
        "string",
        lambda v: json.dumps(
            infer(json.loads(v)), separators=(",", ":"), sort_keys=True
        ),
    )(c.cast("string"))



@method("json_schema")
def _m_json_schema(c: Column, schema: str) -> Column:
    """methods.adoc json_schema: validate against a (draft-subset)
    JSON schema — the valid value passes through, violations become
    null so the _error model / DLQ routing can pick them up (the
    processor form in functions/jsonschema.py flags row-level errors
    the same way)."""
    spec = json.loads(schema)

    def valid(v, sp) -> bool:
        t = sp.get("type")
        if t == "object":
            if not isinstance(v, dict):
                return False
            for req in sp.get("required", []):
                if req not in v:
                    return False
            for k, sub in sp.get("properties", {}).items():
                if k in v and not valid(v[k], sub):
                    return False
            return True
        if t == "array":
            if not isinstance(v, list):
                return False
            items = sp.get("items")
            return not items or all(valid(i, items) for i in v)
        if t == "string":
            if not isinstance(v, str):
                return False
            if "pattern" in sp and not re.search(sp["pattern"], v):
                return False
            return True
        if t == "integer":
            return isinstance(v, int) and not isinstance(v, bool)
        if t == "number":
            return isinstance(v, (int, float)) and not isinstance(v, bool)
        if t == "boolean":
            return isinstance(v, bool)
        if t == "null":
            return v is None
        if "enum" in sp:
            return v in sp["enum"]
        return True

    def one(v):
        try:
            doc = json.loads(v)
        except Exception:  # noqa: BLE001
            return None
        return v if valid(doc, spec) else None

    return row_udf("string", one)(c.cast("string"))

