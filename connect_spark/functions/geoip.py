"""geoip_* Bloblang methods via a pure-Python MaxMind DB reader.

The reference binds libmaxminddb (internal/impl/maxmind/
bloblang_geoip.go: geoip_country / geoip_city / geoip_asn over an
.mmdb file). Neither the maxminddb package nor a GeoIP database ships
in this container, so this module implements the MaxMind DB binary
format (spec 2.0) directly: metadata section (marker scan from EOF),
binary search tree walk (24/28/32-bit records), and the typed data
section (pointers, strings, doubles, uint16/32/64, int32, maps,
arrays, booleans, floats). A minimal writer (`MmdbWriter`) builds
spec-conformant databases so tests run hermetically — production use
points `GeoIp` at a real GeoLite2 .mmdb and nothing changes.

Lookups run inside an Arrow-batched pandas UDF; the reader is opened
once per executor (broadcast bytes), each lookup is a ≤32-step tree
walk — the same cost profile as libmaxminddb.
"""

from __future__ import annotations

import ipaddress
import json
import struct as _struct

from pyspark.sql import Column
from pyspark.sql import functions as F

from connect_spark.boundary import row_udf

_METADATA_MARKER = b"\xab\xcd\xefMaxMind.com"


class MmdbReader:
    def __init__(self, data: bytes):
        self.data = data
        meta_start = data.rindex(_METADATA_MARKER) + len(_METADATA_MARKER)
        self.metadata, _ = self._decode(meta_start, base=0)
        self.node_count = self.metadata["node_count"]
        self.record_size = self.metadata["record_size"]
        self.ip_version = self.metadata.get("ip_version", 4)
        self.node_bytes = self.record_size * 2 // 8
        self.tree_size = self.node_count * self.node_bytes
        self.data_start = self.tree_size + 16  # 16-byte separator

    # ---- tree walk ----
    def _record(self, node: int, side: int) -> int:
        base = node * self.node_bytes
        rs = self.record_size
        d = self.data
        if rs == 24:
            off = base + side * 3
            return int.from_bytes(d[off:off + 3], "big")
        if rs == 28:
            if side == 0:
                return ((d[base + 3] >> 4) << 24) | int.from_bytes(
                    d[base:base + 3], "big"
                )
            return ((d[base + 3] & 0x0F) << 24) | int.from_bytes(
                d[base + 4:base + 7], "big"
            )
        if rs == 32:
            off = base + side * 4
            return int.from_bytes(d[off:off + 4], "big")
        raise ValueError(f"unsupported record size {self.record_size}")

    def lookup(self, ip: str):
        addr = ipaddress.ip_address(ip)
        if addr.version == 6 and self.ip_version == 4:
            return None
        bits = addr.packed
        if addr.version == 4 and self.ip_version == 6:
            # v4 addresses sit under ::ffff:0:0/96 in v6 trees built
            # that way; simpler convention (and what our writer does):
            # v4-mapped at the 96-zero-bit prefix
            bits = b"\x00" * 12 + bits
        node = 0
        for byte in bits:
            for shift in range(7, -1, -1):
                side = (byte >> shift) & 1
                record = self._record(node, side)
                if record == self.node_count:
                    return None
                if record > self.node_count:
                    offset = record - self.node_count - 16 + self.data_start
                    value, _ = self._decode(offset, base=self.data_start)
                    return value
                node = record
        return None

    # ---- data section ----
    def _decode(self, pos: int, base: int):
        d = self.data
        ctrl = d[pos]
        pos += 1
        dtype = ctrl >> 5
        if dtype == 1:  # pointer
            size = (ctrl >> 3) & 0x3
            v = ctrl & 0x7
            if size == 0:
                ptr = (v << 8) | d[pos]
                pos += 1
            elif size == 1:
                ptr = ((v << 16) | int.from_bytes(d[pos:pos + 2], "big")) + 2048
                pos += 2
            elif size == 2:
                ptr = ((v << 24) | int.from_bytes(d[pos:pos + 3], "big")) + 526336
                pos += 3
            else:
                ptr = int.from_bytes(d[pos:pos + 4], "big")
                pos += 4
            value, _ = self._decode(base + ptr, base)
            return value, pos
        if dtype == 0:  # extended
            dtype = d[pos] + 7
            pos += 1
        size = ctrl & 0x1F
        if size == 29:
            size = 29 + d[pos]
            pos += 1
        elif size == 30:
            size = 285 + int.from_bytes(d[pos:pos + 2], "big")
            pos += 2
        elif size == 31:
            size = 65821 + int.from_bytes(d[pos:pos + 3], "big")
            pos += 3
        if dtype == 2:  # utf8 string
            return d[pos:pos + size].decode("utf-8"), pos + size
        if dtype == 3:  # double
            return _struct.unpack(">d", d[pos:pos + 8])[0], pos + 8
        if dtype == 4:  # bytes
            return d[pos:pos + size], pos + size
        if dtype in (5, 6, 9, 10):  # uint16/32/64/128
            return int.from_bytes(d[pos:pos + size], "big"), pos + size
        if dtype == 7:  # map
            out = {}
            for _ in range(size):
                k, pos = self._decode(pos, base)
                v, pos = self._decode(pos, base)
                out[k] = v
            return out, pos
        if dtype == 8:  # int32
            raw = d[pos:pos + size]
            return int.from_bytes(raw, "big", signed=True), pos + size
        if dtype == 11:  # array
            out = []
            for _ in range(size):
                v, pos = self._decode(pos, base)
                out.append(v)
            return out, pos
        if dtype == 14:  # boolean (size IS the value)
            return bool(size), pos
        if dtype == 15:  # float
            return _struct.unpack(">f", d[pos:pos + 4])[0], pos + 4
        raise ValueError(f"mmdb: unsupported type {dtype}")


# --------------------------------------------------------------- writer


class MmdbWriter:
    """Minimal spec-conformant writer (IPv4, 32-bit records, no
    pointer dedup) — enough to build test databases."""

    def __init__(self, database_type: str = "GeoLite2-City-Test"):
        self.database_type = database_type
        self.networks: list[tuple[ipaddress.IPv4Network, dict]] = []

    def insert(self, cidr: str, record: dict) -> None:
        self.networks.append((ipaddress.ip_network(cidr), record))

    # -- data section encoding --
    def _enc(self, v) -> bytes:
        if isinstance(v, str):
            raw = v.encode("utf-8")
            return self._ctrl(2, len(raw)) + raw
        if isinstance(v, bool):
            return self._ctrl_ext(14, 1 if v else 0)
        if isinstance(v, int):
            if v < 0:
                return self._ctrl_ext(8, 4) + v.to_bytes(4, "big", signed=True)
            raw = v.to_bytes((v.bit_length() + 7) // 8 or 1, "big")
            if len(raw) <= 2:
                return self._ctrl(5, len(raw)) + raw
            if len(raw) <= 4:
                return self._ctrl(6, len(raw)) + raw
            return self._ctrl_ext(9, len(raw)) + raw
        if isinstance(v, float):
            return self._ctrl(3, 8) + _struct.pack(">d", v)
        if isinstance(v, dict):
            out = self._ctrl(7, len(v))
            for k, val in v.items():
                out += self._enc(str(k)) + self._enc(val)
            return out
        if isinstance(v, list):
            out = self._ctrl_ext(11, len(v))
            for item in v:
                out += self._enc(item)
            return out
        raise TypeError(f"mmdb writer: {type(v)}")

    def _ctrl(self, dtype: int, size: int) -> bytes:
        assert size < 29
        return bytes([(dtype << 5) | size])

    def _ctrl_ext(self, dtype: int, size: int) -> bytes:
        assert size < 29
        return bytes([size, dtype - 7])

    def tobytes(self) -> bytes:
        # build trie: nodes as [left, right], leaves as data offsets
        data_blobs: list[bytes] = []
        offsets: dict[int, int] = {}
        pos = 0
        for i, (_, rec) in enumerate(self.networks):
            blob = self._enc(rec)
            offsets[i] = pos
            data_blobs.append(blob)
            pos += len(blob)

        nodes: list[list] = [[None, None]]

        def insert(net: ipaddress.IPv4Network, leaf: int):
            node = 0
            bits = int(net.network_address)
            for depth in range(net.prefixlen):
                side = (bits >> (31 - depth)) & 1
                if depth == net.prefixlen - 1:
                    nodes[node][side] = ("leaf", leaf)
                else:
                    nxt = nodes[node][side]
                    if not (isinstance(nxt, tuple) and nxt[0] == "node"):
                        nodes.append([None, None])
                        nxt = ("node", len(nodes) - 1)
                        nodes[node][side] = nxt
                    node = nxt[1]

        for i, (net, _) in enumerate(self.networks):
            insert(net, i)

        node_count = len(nodes)
        tree = bytearray()
        for left, right in nodes:
            for rec in (left, right):
                if rec is None:
                    val = node_count  # no data
                elif rec[0] == "node":
                    val = rec[1]
                else:
                    val = node_count + 16 + offsets[rec[1]]
                tree += val.to_bytes(4, "big")

        meta = {
            "node_count": node_count,
            "record_size": 32,
            "ip_version": 4,
            "database_type": self.database_type,
            "languages": ["en"],
            "binary_format_major_version": 2,
            "binary_format_minor_version": 0,
            "build_epoch": 0,
            "description": {"en": "synthesized test db"},
        }
        return (
            bytes(tree)
            + b"\x00" * 16
            + b"".join(data_blobs)
            + _METADATA_MARKER
            + self._enc(meta)
        )


# ------------------------------------------------------------ UDF layer


def geoip_udf(mmdb_bytes: bytes):
    """ip string column → full record JSON (null on miss or a bad IP)."""
    reader = MmdbReader(mmdb_bytes)

    def one(ip):
        rec = reader.lookup(ip)
        return json.dumps(rec, sort_keys=True) if rec is not None else None

    return row_udf("string", one, (ValueError,))


def geoip_country(col: Column, mmdb_bytes: bytes) -> Column:
    """geoip_country method → ISO code string."""
    return F.get_json_object(geoip_udf(mmdb_bytes)(col), "$.country.iso_code")


def geoip_city(col: Column, mmdb_bytes: bytes) -> Column:
    """geoip_city method → English city name."""
    return F.get_json_object(geoip_udf(mmdb_bytes)(col), "$.city.names.en")
