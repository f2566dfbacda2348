"""RS256/ES256 JWT sign/verify through the family functions
(`sign/parse_jwt_rs`, `sign/parse_jwt_es`) — stdlib RSA (RFC 8017
PKCS#1 v1.5), key generated in-test with Miller-Rabin primes
(deterministic seed)."""

from __future__ import annotations

import base64
import json
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from connect_spark.functions.jwt_hs import (
    parse_jwt_rs,
    rsa_public_from_pem,
    rsa_sign_pkcs1,
    rsa_verify_pkcs1,
    sign_jwt_rs,
)


def _is_probable_prime(n: int, rng: random.Random, rounds: int = 24) -> bool:
    if n < 2:
        return False
    for p in (2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37):
        if n % p == 0:
            return n == p
    d, r = n - 1, 0
    while d % 2 == 0:
        d //= 2
        r += 1
    for _ in range(rounds):
        a = rng.randrange(2, n - 1)
        x = pow(a, d, n)
        if x in (1, n - 1):
            continue
        for _ in range(r - 1):
            x = pow(x, 2, n)
            if x == n - 1:
                break
        else:
            return False
    return True


def _gen_prime(bits: int, rng: random.Random) -> int:
    while True:
        c = rng.getrandbits(bits) | (1 << (bits - 1)) | 1
        if _is_probable_prime(c, rng):
            return c


@pytest.fixture(scope="module")
def rsa_key():
    rng = random.Random(20260813)
    p = _gen_prime(512, rng)
    q = _gen_prime(512, rng)
    n, e = p * q, 65537
    d = pow(e, -1, (p - 1) * (q - 1))
    return n, e, d


def test_rsa_primitive_roundtrip(rsa_key):
    n, e, d = rsa_key
    sig = rsa_sign_pkcs1(b"hello", n, d, "256")
    assert rsa_verify_pkcs1(b"hello", sig, n, e, "256")
    assert not rsa_verify_pkcs1(b"hellO", sig, n, e, "256")
    assert not rsa_verify_pkcs1(b"hello", sig[:-1] + b"\x00", n, e, "256")


def test_jwt_rs256_sign_and_parse(spark, rsa_key):
    n, e, d = rsa_key
    df = spark.createDataFrame([Row(claims='{"sub": "u1", "x": 2}')])
    tok = df.select(sign_jwt_rs(F.col("claims"), (n, d), "RS256").alias("tok"))
    parsed = tok.select(
        parse_jwt_rs(F.col("tok"), (n, e), "RS256").alias("claims"),
        parse_jwt_rs(F.col("tok"), (n + 2, e), "RS256").alias("bad_key"),
        parse_jwt_rs(
            F.concat(F.lit("x"), F.col("tok")), (n, e), "RS256"
        ).alias("tampered"),
    ).collect()[0]
    assert json.loads(parsed.claims) == {"sub": "u1", "x": 2}
    assert parsed.bad_key is None
    assert parsed.tampered is None


def test_rsa_public_pem_parsing(rsa_key):
    n, e, d = rsa_key

    def der_int(v: int) -> bytes:
        raw = v.to_bytes((v.bit_length() + 7) // 8, "big")
        if raw[0] & 0x80:
            raw = b"\x00" + raw
        return b"\x02" + _der_len(len(raw)) + raw

    def _der_len(ln: int) -> bytes:
        if ln < 0x80:
            return bytes([ln])
        raw = ln.to_bytes((ln.bit_length() + 7) // 8, "big")
        return bytes([0x80 | len(raw)]) + raw

    inner = der_int(n) + der_int(e)
    pkcs1 = b"\x30" + _der_len(len(inner)) + inner
    pem = (
        "-----BEGIN RSA PUBLIC KEY-----\n"
        + base64.encodebytes(pkcs1).decode()
        + "-----END RSA PUBLIC KEY-----\n"
    )
    assert rsa_public_from_pem(pem) == (n, e)

    # SPKI wrapping: SEQ{ SEQ{oid rsaEncryption, NULL}, BITSTRING{pkcs1} }
    alg = bytes.fromhex("300d06092a864886f70d0101010500")
    bits = b"\x03" + _der_len(len(pkcs1) + 1) + b"\x00" + pkcs1
    spki = b"\x30" + _der_len(len(alg) + len(bits)) + alg + bits
    pem2 = (
        "-----BEGIN PUBLIC KEY-----\n"
        + base64.encodebytes(spki).decode()
        + "-----END PUBLIC KEY-----\n"
    )
    assert rsa_public_from_pem(pem2) == (n, e)


# ---------------------------------------------------------------- ES256


def test_ecdsa_p256_rfc6979_vector():
    """RFC 6979 A.2.5, P-256 + SHA-256, message 'sample'."""
    from connect_spark.functions import ecdsa as ec

    d = int(
        "C9AFA9D845BA75166B5C215767B1D6934E50C3DB36E89B127B8A622B120F6721",
        16,
    )
    q = ec.public_key(d)
    assert q == (
        int("60FED4BA255A9D31C961EB74C6356D68C049B8923B61FA6CE669622E60F29FB6", 16),
        int("7903FE1008B8BC99A41AE9E95628BC64F2F1B20C2D7E9F5177A3C294D4462299", 16),
    )
    r, s = ec.sign(b"sample", d)
    assert r == int(
        "EFD48B2AACB6A8FD1140DD9CD45E81D69D2C877B56AAF991C34D0EA84EAF3716", 16
    )
    assert s == int(
        "F7CB1C942D657C41D436C7A1B6E29F65F3E900DBB9AFF4064DC4AB2F843ACDA8", 16
    )
    assert ec.verify(b"sample", (r, s), q)
    assert not ec.verify(b"samplE", (r, s), q)


def test_jwt_es256_sign_and_parse(spark):
    from connect_spark.functions import ecdsa as ec
    from connect_spark.functions.jwt_hs import parse_jwt_es, sign_jwt_es

    d = 0xC9AFA9D845BA75166B5C215767B1D6934E50C3DB36E89B127B8A622B120F6721
    q = ec.public_key(d)
    other_q = ec.public_key(d + 1)

    df = spark.createDataFrame([Row(claims='{"sub": "es", "ok": true}')])
    tok = df.select(sign_jwt_es(F.col("claims"), d, "ES256").alias("tok"))
    parsed = tok.select(
        parse_jwt_es(F.col("tok"), q, "ES256").alias("claims"),
        parse_jwt_es(F.col("tok"), other_q, "ES256").alias("wrong_key"),
    ).collect()[0]
    assert json.loads(parsed.claims) == {"sub": "es", "ok": True}
    assert parsed.wrong_key is None
