"""JWT sign/parse for the HS, RS and ES families at 256/384/512 bits
(methods.adoc:3982-4491 parse_jwt_*/sign_jwt_* — reference
internal/impl/crypto/jwt_{parse,sign}.go).

Arrow-batched through `boundary.row_udf`: stdlib HMAC for HS,
RSASSA-PKCS1-v1_5 (RFC 8017) as `pow` over the key integers for RS
(the API takes bare (n, d) tuples, from which the `cryptography`
package cannot build a private key), and the `cryptography` package's
deterministic ECDSA (RFC 6979) for ES. PEM keys load through
`cryptography` too; it is imported inside the functions that use it,
so importing this module stays cheap. Each family has one sign and one
parse function; a parse checks the header `alg`, and a token with the
wrong alg, a bad signature or a malformed shape parses to null."""

from __future__ import annotations

import base64
import functools
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




# ------------------------------------------------------------ PEM keys


def _pem_key(pem: str, family: str, private: bool):
    """Load a PEM key with `cryptography` (PKCS#1, SEC1 or PKCS#8
    private keys; PKCS#1 or SPKI public keys). `family` is "RSA" or
    "EC"; a key of the other family raises ValueError."""
    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import ec, rsa

    if private:
        key = serialization.load_pem_private_key(pem.encode(), None)
        want = {"RSA": rsa.RSAPrivateKey, "EC": ec.EllipticCurvePrivateKey}
    else:
        key = serialization.load_pem_public_key(pem.encode())
        want = {"RSA": rsa.RSAPublicKey, "EC": ec.EllipticCurvePublicKey}
    if not isinstance(key, want[family]):
        raise ValueError(f"not an {family} key")
    return key


def rsa_public_from_pem(pem: str) -> tuple[int, int]:
    """PEM (PKCS#1 'RSA PUBLIC KEY' or SPKI 'PUBLIC KEY') → (n, e)."""
    nums = _pem_key(pem, "RSA", private=False).public_numbers()
    return nums.n, nums.e


def rsa_private_from_pem(pem: str) -> tuple[int, int, int]:
    """PKCS#1 'RSA PRIVATE KEY' or PKCS#8 'PRIVATE KEY' → (n, e, d)."""
    nums = _pem_key(pem, "RSA", private=True).private_numbers()
    return nums.public_numbers.n, nums.public_numbers.e, nums.d


# ------------------------------------------------------------------ ES

_P_NAMES = {"secp256r1": "P-256", "secp384r1": "P-384", "secp521r1": "P-521"}


def _es_curve_hash(alg: str):
    """JOSE alg → (curve, hash), RFC 7518 §3.4."""
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import ec

    curve, h = {
        "ES256": (ec.SECP256R1, hashes.SHA256),
        "ES384": (ec.SECP384R1, hashes.SHA384),
        "ES512": (ec.SECP521R1, hashes.SHA512),
    }[alg]
    return curve(), h()


# Module-level caches: a worker builds each key once, not once a row.
@functools.lru_cache(maxsize=64)
def _es_private_key(d: int, alg: str):
    from cryptography.hazmat.primitives.asymmetric import ec

    return ec.derive_private_key(d, _es_curve_hash(alg)[0])


@functools.lru_cache(maxsize=64)
def _es_public_key(x: int, y: int, alg: str):
    """Raises ValueError for a point that is not on the curve."""
    from cryptography.hazmat.primitives.asymmetric import ec

    curve = _es_curve_hash(alg)[0]
    return ec.EllipticCurvePublicNumbers(x, y, curve).public_key()


def _es_pem(pem: str, alg: str, private: bool):
    """An EC PEM key whose curve must be the one `alg` names."""
    key = _pem_key(pem, "EC", private)
    want = _es_curve_hash(alg)[0].name
    if key.curve.name != want:
        raise ValueError(
            f"{alg} needs a {_P_NAMES[want]} key, "
            f"PEM is {_P_NAMES.get(key.curve.name, key.curve.name)}"
        )
    return key


def es_sign(msg: bytes, d: int, alg: str) -> bytes:
    """Deterministic ECDSA (RFC 6979) as the raw r || s of RFC 7518."""
    from cryptography.hazmat.primitives.asymmetric import ec
    from cryptography.hazmat.primitives.asymmetric.utils import (
        decode_dss_signature,
    )

    curve, h = _es_curve_hash(alg)
    der = _es_private_key(d, alg).sign(
        msg, ec.ECDSA(h, deterministic_signing=True)
    )
    r, s = decode_dss_signature(der)
    octets = (curve.key_size + 7) // 8
    return r.to_bytes(octets, "big") + s.to_bytes(octets, "big")


def es_verify(msg: bytes, raw: bytes, q: tuple[int, int], alg: str) -> bool:
    from cryptography.exceptions import InvalidSignature
    from cryptography.hazmat.primitives.asymmetric import ec
    from cryptography.hazmat.primitives.asymmetric.utils import (
        encode_dss_signature,
    )

    curve, h = _es_curve_hash(alg)
    octets = (curve.key_size + 7) // 8
    if len(raw) != 2 * octets:
        return False
    r = int.from_bytes(raw[:octets], "big")
    s = int.from_bytes(raw[octets:], "big")
    try:
        _es_public_key(*q, alg).verify(
            encode_dss_signature(r, s), msg, ec.ECDSA(h)
        )
    except InvalidSignature:
        return False
    return True


def sign_jwt_es(
    claims_json: Column, key: int | str, alg: str = "ES256"
) -> Column:
    """ES256/ES384/ES512 signing (RFC 7518 §3.4 raw r||s). `key` is
    the private scalar or a SEC1/PKCS#8 EC private PEM (the PEM names
    its own curve, which must match `alg`)."""
    if isinstance(key, str):
        d = _es_pem(key, alg, private=True).private_numbers().private_value
    else:
        d = key
    _es_private_key(d, alg)  # a scalar outside [1, n) raises here
    return _signer(alg, lambda msg: es_sign(msg, d, alg))(claims_json)


def parse_jwt_es(
    token: Column, public_key: tuple[int, int] | str, alg: str = "ES256"
) -> Column:
    """ES* verify+decode; `public_key` is (x, y) or an SPKI PEM."""
    if isinstance(public_key, str):
        nums = _es_pem(public_key, alg, private=False).public_numbers()
        q = (nums.x, nums.y)
    else:
        q = tuple(public_key)
    _es_public_key(*q, alg)  # a point off the curve raises here
    return _parser(alg, lambda msg, sig: es_verify(msg, sig, q, alg))(
        token
    )
