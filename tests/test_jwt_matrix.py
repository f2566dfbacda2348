"""Full JWT matrix (HS/RS/ES × 256/384/512) + EC/RSA PEM parsing
(methods.adoc:3982-4491; internal/impl/crypto/jwt_{parse,sign}.go).

ECDSA is pinned to RFC 6979 deterministic-signature vectors (A.2.5
P-256, A.2.6 P-384) through the ES sign path, and the whole stack is
cross-validated against openssl where present: openssl-generated keys
parse and sign, and our signatures verify under `openssl dgst -verify`.
Test PEMs are written with the cryptography package's serialization.
"""

from __future__ import annotations

import base64
import json
import shutil
import subprocess

import pytest
from cryptography.hazmat.primitives import serialization as S
from cryptography.hazmat.primitives.asymmetric import rsa
from cryptography.hazmat.primitives.asymmetric.utils import (
    encode_dss_signature,
)
from pyspark.sql import Row
from pyspark.sql import functions as F

from connect_spark.functions.jwt_hs import (
    _b64url_decode,
    _es_pem,
    _es_private_key,
    es_sign,
    es_verify,
    parse_jwt_es,
    parse_jwt_hs,
    parse_jwt_rs,
    rsa_private_from_pem,
    rsa_sign_pkcs1,
    sign_jwt_es,
    sign_jwt_hs,
    sign_jwt_rs,
)

HAVE_OPENSSL = shutil.which("openssl") is not None


def _ec_pems(d: int, alg: str) -> tuple[str, str]:
    """(SEC1 private PEM, SPKI public PEM) for scalar `d`."""
    key = _es_private_key(d, alg)
    priv = key.private_bytes(
        S.Encoding.PEM, S.PrivateFormat.TraditionalOpenSSL,
        S.NoEncryption(),
    )
    pub = key.public_key().public_bytes(
        S.Encoding.PEM, S.PublicFormat.SubjectPublicKeyInfo
    )
    return priv.decode(), pub.decode()


def _rs(sig: bytes) -> tuple[int, int]:
    half = len(sig) // 2
    return int.from_bytes(sig[:half], "big"), int.from_bytes(sig[half:], "big")


def test_rfc6979_p256_vector():
    x = 0xC9AFA9D845BA75166B5C215767B1D6934E50C3DB36E89B127B8A622B120F6721
    r, s = _rs(es_sign(b"sample", x, "ES256"))
    assert r == int(
        "EFD48B2AACB6A8FD1140DD9CD45E81D69D2C877B56AAF991C34D0EA84EAF3716",
        16,
    )
    assert s == int(
        "F7CB1C942D657C41D436C7A1B6E29F65F3E900DBB9AFF4064DC4AB2F843ACDA8",
        16,
    )


def test_rfc6979_p384_vector():
    x = int(
        "6B9D3DAD2E1B8C1C05B19875B6659F4DE23C3B667BF297BA9AA47740787137D8"
        "96D5724E4C70A825F872C9EA60D2EDF5",
        16,
    )
    r, s = _rs(es_sign(b"sample", x, "ES384"))
    assert r == int(
        "94EDBB92A5ECB8AAD4736E56C691916B3F88140666CE9FA73D64C4EA95AD133C"
        "81A648152E44ACF96E36DD1E80FABE46",
        16,
    )
    assert s == int(
        "99EF4AEB15F178CEA1FE40DB2603138F130E740A19624526203B6351D0A3A94F"
        "A329C145786E679E7B82C71A38628AC8",
        16,
    )


@pytest.mark.parametrize("alg", ["HS256", "HS384", "HS512"])
def test_hs_matrix_sign_parse(spark, alg):
    df = spark.createDataFrame([Row(claims='{"sub": "u1", "n": 7}')])
    tok = df.select(
        sign_jwt_hs(F.col("claims"), "s3cret", alg).alias("t")
    )
    out = tok.select(
        parse_jwt_hs(F.col("t"), "s3cret", alg).alias("ok"),
        parse_jwt_hs(F.col("t"), "wrong", alg).alias("bad"),
    ).collect()[0]
    assert json.loads(out.ok) == {"sub": "u1", "n": 7}
    assert out.bad is None
    # alg header pinned: an HS256 token doesn't parse as HS384
    other = "HS384" if alg != "HS384" else "HS512"
    cross = tok.select(
        parse_jwt_hs(F.col("t"), "s3cret", other).alias("x")
    ).collect()[0]
    assert cross.x is None


@pytest.fixture(scope="module")
def rsa_key_full():
    # deterministic 1024-bit key (test-sized; see test_jwt_rs.py for
    # the generator) — regenerate via the same Miller-Rabin code
    import random

    from tests.test_jwt_rs import _gen_prime

    rng = random.Random(20260813)
    p = _gen_prime(512, rng)
    q = _gen_prime(512, rng)
    n, e = p * q, 65537
    d = pow(e, -1, (p - 1) * (q - 1))
    return n, e, d, p, q


@pytest.fixture(scope="module")
def rsa_key(rsa_key_full):
    n, e, d, _p, _q = rsa_key_full
    return n, e, d


@pytest.mark.parametrize("alg", ["RS256", "RS384", "RS512"])
def test_rs_matrix_sign_parse(spark, rsa_key, alg):
    n, e, d = rsa_key
    df = spark.createDataFrame([Row(claims='{"iss": "me"}')])
    tok = df.select(sign_jwt_rs(F.col("claims"), (n, d), alg).alias("t"))
    out = tok.select(
        parse_jwt_rs(F.col("t"), (n, e), alg).alias("ok"),
        parse_jwt_rs(F.col("t"), (n, e + 2), alg).alias("bad"),
    ).collect()[0]
    assert json.loads(out.ok) == {"iss": "me"}
    assert out.bad is None


@pytest.mark.parametrize("alg", ["ES256", "ES384", "ES512"])
def test_es_matrix_sign_parse_with_pem_keys(spark, alg):
    priv_pem, pub_pem = _ec_pems(0x1337C0DE + 17, alg)
    df = spark.createDataFrame([Row(claims='{"scope": "x"}')])
    tok = df.select(sign_jwt_es(F.col("claims"), priv_pem, alg).alias("t"))
    row = tok.select(
        parse_jwt_es(F.col("t"), pub_pem, alg).alias("ok"),
        F.col("t"),
    ).collect()[0]
    assert json.loads(row.ok) == {"scope": "x"}
    # signature octet width per RFC 7518 §3.4
    octets = {"ES256": 32, "ES384": 48, "ES512": 66}[alg]
    sig = _b64url_decode(row.t.split(".")[2])
    assert len(sig) == 2 * octets
    # tampered payload fails
    h, p, s = row.t.split(".")
    forged = f"{h}.{base64.urlsafe_b64encode(b'{}').rstrip(b'=').decode()}.{s}"
    bad = (
        spark.createDataFrame([Row(t=forged)])
        .select(parse_jwt_es(F.col("t"), pub_pem, alg).alias("r"))
        .collect()[0]
    )
    assert bad.r is None


def test_es_pem_curve_alg_mismatch_raises(spark):
    pem = _ec_pems(7, "ES256")[0]
    df = spark.createDataFrame([Row(claims="{}")])
    with pytest.raises(ValueError, match="P-384"):
        df.select(sign_jwt_es(F.col("claims"), pem, "ES384"))


@pytest.mark.skipif(not HAVE_OPENSSL, reason="openssl not on PATH")
@pytest.mark.parametrize(
    "ossl_curve,name", [("prime256v1", "P-256"), ("secp384r1", "P-384"),
                        ("secp521r1", "P-521")]
)
def test_openssl_generated_ec_keys_parse(tmp_path, ossl_curve, name):
    key = tmp_path / "k.pem"
    pub = tmp_path / "p.pem"
    subprocess.run(
        ["openssl", "ecparam", "-genkey", "-name", ossl_curve,
         "-noout", "-out", str(key)],
        check=True, capture_output=True,
    )
    subprocess.run(
        ["openssl", "ec", "-in", str(key), "-pubout", "-out", str(pub)],
        check=True, capture_output=True,
    )
    alg = {"P-256": "ES256", "P-384": "ES384", "P-521": "ES512"}[name]
    priv = _es_pem(key.read_text(), alg, private=True).private_numbers()
    q = _es_pem(pub.read_text(), alg, private=False).public_numbers()
    # the private scalar reproduces openssl's public point, and signs
    assert priv.public_numbers == q
    sig = es_sign(b"payload", priv.private_value, alg)
    assert es_verify(b"payload", sig, (q.x, q.y), alg)


def _rsa_private_pem(n, e, d, p, q) -> str:
    """PKCS#1 'RSA PRIVATE KEY' PEM with CRT params."""
    key = rsa.RSAPrivateNumbers(
        p, q, d, rsa.rsa_crt_dmp1(d, p), rsa.rsa_crt_dmq1(d, q),
        rsa.rsa_crt_iqmp(p, q), rsa.RSAPublicNumbers(e, n),
    ).private_key()
    return key.private_bytes(
        S.Encoding.PEM, S.PrivateFormat.TraditionalOpenSSL,
        S.NoEncryption(),
    ).decode()


def test_rsa_private_pem_roundtrip(rsa_key_full):
    n, e, d, p, q = rsa_key_full
    pem = _rsa_private_pem(n, e, d, p, q)
    assert rsa_private_from_pem(pem) == (n, e, d)


@pytest.mark.skipif(not HAVE_OPENSSL, reason="openssl not on PATH")
@pytest.mark.parametrize("bits,md", [("256", "sha256"), ("384", "sha384"),
                                     ("512", "sha512")])
def test_openssl_verifies_our_rsa_signature(
    tmp_path, rsa_key_full, bits, md
):
    n, e, d, p, q = rsa_key_full
    key = tmp_path / "rsa.pem"
    key.write_text(_rsa_private_pem(n, e, d, p, q))
    pub = tmp_path / "rsa_pub.pem"
    res = subprocess.run(
        ["openssl", "rsa", "-in", str(key), "-pubout", "-out", str(pub)],
        capture_output=True, text=True,
    )
    assert res.returncode == 0, res.stderr  # openssl accepts our PEM
    msg = tmp_path / "msg"
    msg.write_bytes(b"cross-validated payload")
    sig = rsa_sign_pkcs1(b"cross-validated payload", n, d, bits)
    sigf = tmp_path / "sig"
    sigf.write_bytes(sig)
    res = subprocess.run(
        ["openssl", "dgst", f"-{md}", "-verify", str(pub),
         "-signature", str(sigf), str(msg)],
        capture_output=True, text=True,
    )
    assert res.returncode == 0, res.stdout + res.stderr


@pytest.mark.skipif(not HAVE_OPENSSL, reason="openssl not on PATH")
@pytest.mark.parametrize("alg,md", [("ES256", "sha256"), ("ES384", "sha384"),
                                    ("ES512", "sha512")])
def test_openssl_verifies_our_ecdsa_signature(tmp_path, alg, md):
    d = 0xA5A5A5A5
    pub = tmp_path / "pub.pem"
    pub.write_text(_ec_pems(d, alg)[1])
    msg = tmp_path / "msg"
    msg.write_bytes(b"cross-validated payload")
    r, s = _rs(es_sign(b"cross-validated payload", d, alg))
    # wrap raw (r, s) into the DER ECDSA-Sig-Value openssl expects
    der_sig = encode_dss_signature(r, s)
    sigf = tmp_path / "sig.der"
    sigf.write_bytes(der_sig)
    res = subprocess.run(
        ["openssl", "dgst", f"-{md}", "-verify", str(pub),
         "-signature", str(sigf), str(msg)],
        capture_output=True, text=True,
    )
    assert res.returncode == 0, res.stdout + res.stderr
