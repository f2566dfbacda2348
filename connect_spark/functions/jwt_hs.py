"""JWT sign/parse for the HS, RS and ES families at 256/384/512 bits
(methods.adoc:3982-4491 parse_jwt_*/sign_jwt_* — reference
internal/impl/crypto/jwt_{parse,sign}.go).

Stdlib only, Arrow-batched through `boundary.row_udf`: HMAC for HS,
RSASSA-PKCS1-v1_5 (RFC 8017) for RS, and ECDSA with RFC 6979 nonces
(functions/ecdsa.py) for ES. Each family has one sign and one parse
function; a parse checks the header `alg`, and a token with the wrong
alg, a bad signature or a malformed shape parses to null."""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
from typing import Callable

from pyspark.sql import Column

from connect_spark.boundary import row_udf


def _b64url(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode()


def _b64url_decode(s: str) -> bytes:
    return base64.urlsafe_b64decode(s + "=" * (-len(s) % 4))


# Minimal DER walk for RSA public keys (PKCS#1 RSAPublicKey or X.509
# SubjectPublicKeyInfo) so PEM-published keys verify directly.

def _der_read(data: bytes, pos: int) -> tuple[int, bytes, int]:
    tag = data[pos]
    length = data[pos + 1]
    pos += 2
    if length & 0x80:
        n_bytes = length & 0x7F
        length = int.from_bytes(data[pos:pos + n_bytes], "big")
        pos += n_bytes
    return tag, data[pos:pos + length], pos + length


def rsa_public_from_pem(pem: str) -> tuple[int, int]:
    """PEM (PKCS#1 'RSA PUBLIC KEY' or SPKI 'PUBLIC KEY') → (n, e)."""
    body = "".join(
        l for l in pem.strip().splitlines() if not l.startswith("-")
    )
    der = base64.b64decode(body)
    tag, seq, _ = _der_read(der, 0)
    # SPKI: SEQUENCE { SEQUENCE{oid,null}, BIT STRING { RSAPublicKey } }
    t1, first, after = _der_read(seq, 0)
    if t1 == 0x30:  # algorithm identifier → SPKI
        t2, bitstr, _ = _der_read(seq, after)
        inner = bitstr[1:]  # skip unused-bits octet
        _, seq, _ = _der_read(inner, 0)
        t1, first, after = _der_read(seq, 0)
    _, e_bytes, _ = _der_read(seq, after)
    return int.from_bytes(first, "big"), int.from_bytes(e_bytes, "big")


_HASHES = {
    "256": hashlib.sha256,
    "384": hashlib.sha384,
    "512": hashlib.sha512,
}

# DigestInfo prefixes per RFC 8017 §9.2 note 1
_DIGEST_INFO = {
    "256": bytes.fromhex("3031300d060960864801650304020105000420"),
    "384": bytes.fromhex("3041300d060960864801650304020205000430"),
    "512": bytes.fromhex("3051300d060960864801650304020305000440"),
}


def _jose_header(alg: str) -> str:
    return _b64url(
        json.dumps({"alg": alg, "typ": "JWT"}, separators=(",", ":")).encode()
    )


def _payload_b64(claims: str) -> str:
    return _b64url(
        json.dumps(
            json.loads(claims), separators=(",", ":"), sort_keys=True
        ).encode()
    )


def _signer(alg: str, sign: Callable[[bytes], bytes]):
    """claims JSON → compact JWT whose signature is `sign(input)`."""
    header = _jose_header(alg)

    def one(claims: str) -> str:
        payload = _payload_b64(claims)
        sig = sign(f"{header}.{payload}".encode())
        return f"{header}.{payload}.{_b64url(sig)}"

    return row_udf("string", one)


def _parser(alg: str, verify: Callable[[bytes, bytes], bool]):
    """compact JWT → claims JSON when the header names `alg` and
    `verify(input, signature)` holds; otherwise null."""

    def one(tok: str) -> str | None:
        header_b64, payload_b64, sig_b64 = tok.split(".")
        if json.loads(_b64url_decode(header_b64))["alg"] != alg:
            return None
        ok = verify(
            f"{header_b64}.{payload_b64}".encode(), _b64url_decode(sig_b64)
        )
        return _b64url_decode(payload_b64).decode() if ok else None

    # malformed token → null
    return row_udf("string", one, (Exception,))


def sign_jwt_hs(claims_json: Column, secret: str, alg: str = "HS256") -> Column:
    """HS256/HS384/HS512 signing (sign_jwt_hs* methods)."""
    h = _HASHES[alg[2:]]
    return _signer(
        alg, lambda msg: hmac.new(secret.encode(), msg, h).digest()
    )(claims_json)


def parse_jwt_hs(token: Column, secret: str, alg: str = "HS256") -> Column:
    """HS* verify+decode; wrong alg header / bad signature → null."""
    h = _HASHES[alg[2:]]
    return _parser(
        alg,
        lambda msg, sig: hmac.compare_digest(
            hmac.new(secret.encode(), msg, h).digest(), sig
        ),
    )(token)


def _emsa_pkcs1(msg: bytes, em_len: int, bits: str) -> bytes:
    h = _HASHES[bits](msg).digest()
    t = _DIGEST_INFO[bits] + h
    ps = b"\xff" * (em_len - len(t) - 3)
    return b"\x00\x01" + ps + b"\x00" + t


def rsa_sign_pkcs1(msg: bytes, n: int, d: int, bits: str = "256") -> bytes:
    """RSASSA-PKCS1-v1_5: pow(EM, d, n), EM = 0x00 0x01 PS(0xFF..) 0x00
    || DigestInfo || hash (RFC 8017 §9.2)."""
    k = (n.bit_length() + 7) // 8
    em = int.from_bytes(_emsa_pkcs1(msg, k, bits), "big")
    return pow(em, d, n).to_bytes(k, "big")


def rsa_verify_pkcs1(
    msg: bytes, sig: bytes, n: int, e: int, bits: str = "256"
) -> bool:
    k = (n.bit_length() + 7) // 8
    if len(sig) != k:
        return False
    em = pow(int.from_bytes(sig, "big"), e, n).to_bytes(k, "big")
    return hmac.compare_digest(em, _emsa_pkcs1(msg, k, bits))


def sign_jwt_rs(
    claims_json: Column,
    key: tuple[int, int] | str,
    alg: str = "RS256",
) -> Column:
    """RS256/RS384/RS512 signing; `key` is (n, d) or a private PEM."""
    if isinstance(key, str):
        n, _e, d = rsa_private_from_pem(key)
    else:
        n, d = key
    bits = alg[2:]
    return _signer(alg, lambda msg: rsa_sign_pkcs1(msg, n, d, bits))(
        claims_json
    )


def parse_jwt_rs(
    token: Column, public_key: tuple[int, int] | str, alg: str = "RS256"
) -> Column:
    """RS* verify+decode; `public_key` is (n, e) or a PEM string."""
    if isinstance(public_key, str):
        n, e = rsa_public_from_pem(public_key)
    else:
        n, e = public_key
    bits = alg[2:]
    return _parser(
        alg, lambda msg, sig: rsa_verify_pkcs1(msg, sig, n, e, bits)
    )(token)


_EC_OCTETS = {"ES256": 32, "ES384": 48, "ES512": 66}


def sign_jwt_es(
    claims_json: Column, key: int | str, alg: str = "ES256"
) -> Column:
    """ES256/ES384/ES512 signing (RFC 7518 §3.4 raw r||s). `key` is
    the private scalar or a SEC1/PKCS#8 EC private PEM (the PEM names
    its own curve, which must match `alg`)."""
    from connect_spark.functions import ecdsa as E

    curve = E.ALG_CURVES[alg]
    if isinstance(key, str):
        pem_curve, d = ec_private_from_pem(key)
        if pem_curve.name != curve.name:
            raise ValueError(
                f"{alg} needs a {curve.name} key, PEM is {pem_curve.name}"
            )
    else:
        d = key
    octets = _EC_OCTETS[alg]

    def sign(msg: bytes) -> bytes:
        r, s = E.sign(msg, d, curve)
        return r.to_bytes(octets, "big") + s.to_bytes(octets, "big")

    return _signer(alg, sign)(claims_json)


def parse_jwt_es(
    token: Column, public_key: tuple[int, int] | str, alg: str = "ES256"
) -> Column:
    """ES* verify+decode; `public_key` is (x, y) or an SPKI PEM."""
    from connect_spark.functions import ecdsa as E

    curve = E.ALG_CURVES[alg]
    if isinstance(public_key, str):
        pem_curve, q = ec_public_from_pem(public_key)
        if pem_curve.name != curve.name:
            raise ValueError(
                f"{alg} needs a {curve.name} key, PEM is {pem_curve.name}"
            )
    else:
        q = public_key
    octets = _EC_OCTETS[alg]

    def verify(msg: bytes, raw: bytes) -> bool:
        if len(raw) != 2 * octets:
            return False
        sig = (
            int.from_bytes(raw[:octets], "big"),
            int.from_bytes(raw[octets:], "big"),
        )
        return E.verify(msg, sig, q, curve)

    return _parser(alg, verify)(token)


# ----------------------------------------- EC / RSA PEM key parsing
# Reuses the DER reader above (_der_read). Curve OIDs per SEC 2.

_OID_EC_PUBLIC = bytes.fromhex("2a8648ce3d0201")
_OID_RSA = bytes.fromhex("2a864886f70d010101")
_CURVE_OIDS = {
    bytes.fromhex("2a8648ce3d030107"): "P-256",  # prime256v1
    bytes.fromhex("2b81040022"): "P-384",  # secp384r1
    bytes.fromhex("2b81040023"): "P-521",  # secp521r1
}


def _pem_der(pem: str) -> bytes:
    body = "".join(
        l for l in pem.strip().splitlines() if not l.startswith("-")
    )
    return base64.b64decode(body)


def _der_children(data: bytes) -> list[tuple[int, bytes]]:
    out = []
    pos = 0
    while pos < len(data):
        tag, content, pos = _der_read(data, pos)
        out.append((tag, content))
    return out


def _curve_by_oid(oid: bytes):
    from connect_spark.functions import ecdsa as E

    name = _CURVE_OIDS.get(bytes(oid))
    if name is None:
        raise ValueError(f"unsupported EC curve OID {bytes(oid).hex()}")
    return E.CURVES[name]


def ec_private_from_pem(pem: str):
    """SEC1 'EC PRIVATE KEY' or PKCS#8 'PRIVATE KEY' → (curve, d)."""
    der = _pem_der(pem)
    _, seq, _ = _der_read(der, 0)
    kids = _der_children(seq)
    if kids[0][0] == 0x02 and kids[0][1] == b"\x00":
        # PKCS#8: version 0, AlgorithmIdentifier, OCTET STRING(SEC1)
        alg_kids = _der_children(kids[1][1])
        if bytes(alg_kids[0][1]) != _OID_EC_PUBLIC:
            raise ValueError("not an EC key")
        curve = _curve_by_oid(alg_kids[1][1])
        _, inner_seq, _ = _der_read(kids[2][1], 0)
        kids = _der_children(inner_seq)
        return curve, int.from_bytes(kids[1][1], "big")
    # SEC1: version 1, OCTET STRING d, [0] curve OID, [1] pubkey
    if kids[0][1] != b"\x01":
        raise ValueError("unrecognized EC private key structure")
    d = int.from_bytes(kids[1][1], "big")
    curve = None
    for tag, content in kids[2:]:
        if tag == 0xA0:  # [0] explicit parameters
            _, oid, _ = _der_read(content, 0)
            curve = _curve_by_oid(oid)
    if curve is None:
        raise ValueError("SEC1 key missing curve parameters")
    return curve, d


def ec_public_from_pem(pem: str):
    """SPKI 'PUBLIC KEY' with an uncompressed EC point →
    (curve, (x, y))."""
    der = _pem_der(pem)
    _, seq, _ = _der_read(der, 0)
    kids = _der_children(seq)
    alg_kids = _der_children(kids[0][1])
    if bytes(alg_kids[0][1]) != _OID_EC_PUBLIC:
        raise ValueError("not an EC public key")
    curve = _curve_by_oid(alg_kids[1][1])
    point = kids[1][1][1:]  # skip unused-bits octet of the BIT STRING
    if point[0] != 0x04:
        raise ValueError("only uncompressed EC points supported")
    coord = (len(point) - 1) // 2
    x = int.from_bytes(point[1 : 1 + coord], "big")
    y = int.from_bytes(point[1 + coord :], "big")
    from connect_spark.functions import ecdsa as E

    if not E.on_curve((x, y), curve):
        raise ValueError("public point not on curve")
    return curve, (x, y)


def rsa_private_from_pem(pem: str) -> tuple[int, int, int]:
    """PKCS#1 'RSA PRIVATE KEY' or PKCS#8 'PRIVATE KEY' → (n, e, d)."""
    der = _pem_der(pem)
    _, seq, _ = _der_read(der, 0)
    kids = _der_children(seq)
    if (
        len(kids) >= 3
        and kids[0][0] == 0x02
        and kids[0][1] == b"\x00"
        and kids[1][0] == 0x30
    ):
        alg_kids = _der_children(kids[1][1])
        if bytes(alg_kids[0][1]) != _OID_RSA:
            raise ValueError("not an RSA key")
        _, seq, _ = _der_read(kids[2][1], 0)
        kids = _der_children(seq)
    ints = [int.from_bytes(c, "big") for t, c in kids if t == 0x02]
    # RSAPrivateKey: version, n, e, d, p, q, ...
    return ints[1], ints[2], ints[3]


# ------------------------------------------------- PEM writers (DER)
# Used in tests and by users exporting generated keys.


def _der_len(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    body = n.to_bytes((n.bit_length() + 7) // 8, "big")
    return bytes([0x80 | len(body)]) + body


def _der_tlv(tag: int, content: bytes) -> bytes:
    return bytes([tag]) + _der_len(len(content)) + content


def _der_int(v: int) -> bytes:
    body = v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")
    if body[0] & 0x80:
        body = b"\x00" + body
    return _der_tlv(0x02, body)


def _pem_wrap(der: bytes, label: str) -> str:
    b64 = base64.b64encode(der).decode()
    lines = [b64[i : i + 64] for i in range(0, len(b64), 64)]
    return (
        f"-----BEGIN {label}-----\n"
        + "\n".join(lines)
        + f"\n-----END {label}-----\n"
    )


def ec_private_to_pem(curve, d: int) -> str:
    """SEC1 'EC PRIVATE KEY' PEM for a private scalar."""
    oid = next(k for k, v in _CURVE_OIDS.items() if v == curve.name)
    inner = (
        _der_int(1)
        + _der_tlv(0x04, d.to_bytes(curve.qlen_bytes, "big"))
        + _der_tlv(0xA0, _der_tlv(0x06, oid))
    )
    return _pem_wrap(_der_tlv(0x30, inner), "EC PRIVATE KEY")


def ec_public_to_pem(curve, q: tuple[int, int]) -> str:
    """SPKI 'PUBLIC KEY' PEM for an EC point."""
    oid = next(k for k, v in _CURVE_OIDS.items() if v == curve.name)
    coord = curve.qlen_bytes
    point = (
        b"\x04"
        + q[0].to_bytes(coord, "big")
        + q[1].to_bytes(coord, "big")
    )
    alg = _der_tlv(
        0x30, _der_tlv(0x06, _OID_EC_PUBLIC) + _der_tlv(0x06, oid)
    )
    spki = _der_tlv(0x30, alg + _der_tlv(0x03, b"\x00" + point))
    return _pem_wrap(spki, "PUBLIC KEY")
