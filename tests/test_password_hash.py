"""compare_bcrypt / compare_argon2 (functions/{bcrypt_py,argon2_py}.py;
reference internal/impl/crypto/{bcrypt,argon2}.go).

bcrypt correctness chain: the Blowfish core is cross-checked against
the cryptography package's cipher, then full bcrypt is pinned on
public test vectors (the jBCrypt suite) AND the reference doc's own
compare_bcrypt example. argon2 is pinned on the RFC 9106 §5 tags.
"""

from __future__ import annotations

import pytest

from connect_spark.functions.argon2_py import (
    argon2_phc_hash,
    argon2_tag,
    compare_argon2,
)
from connect_spark.functions.bcrypt_py import (
    _Blowfish,
    bcrypt_hash,
    compare_bcrypt,
)

# public bcrypt vectors (jBCrypt test suite), cost 6
BCRYPT_VECTORS = [
    ("", "$2a$06$DCq7YPn5Rq63x1Lad4cll.TV4S6ytwfsfvkgY8jIucDrjc8deX1s."),
    ("a", "$2a$06$m0CrhHm10qJ3lXRY.5zDGO3rS2KdeeWLuGmsfGlMfOxih58VYVfxe"),
    ("abc", "$2a$06$If6bvum7DFjUnE9p2uDeDu0YHzrHM6tf.iqN8.yx.jNN1ILEf7h0i"),
    (
        "abcdefghijklmnopqrstuvwxyz",
        "$2a$06$.rCVZVOThsIa97pEDOxvGuRRgzG64bvtJ0938xuqzv18d3ZpQhstC",
    ),
]


def test_blowfish_core_matches_cryptography():
    from cryptography.hazmat.decrepit.ciphers.algorithms import Blowfish
    from cryptography.hazmat.primitives.ciphers import Cipher, modes

    for key in (b"TESTKEY", bytes(range(1, 17)), b"k" * 56):
        bf = _Blowfish()
        bf.expand_key(key)
        pt = bytes(range(8))
        l, r = (
            int.from_bytes(pt[:4], "big"),
            int.from_bytes(pt[4:], "big"),
        )
        l2, r2 = bf.encrypt_block(l, r)
        ours = l2.to_bytes(4, "big") + r2.to_bytes(4, "big")
        enc = Cipher(Blowfish(key), modes.ECB()).encryptor()
        assert ours == enc.update(pt) + enc.finalize()


@pytest.mark.parametrize("password,hashed", BCRYPT_VECTORS)
def test_bcrypt_public_vectors(password, hashed):
    assert bcrypt_hash(password, hashed) == hashed
    assert compare_bcrypt(password, hashed) is True
    assert compare_bcrypt(password + "x", hashed) is False


def test_bcrypt_malformed_hash_raises():
    with pytest.raises(ValueError):
        compare_bcrypt("x", "$9z$06$invalid")
    with pytest.raises(ValueError):
        compare_bcrypt("x", "not-a-hash")


def test_argon2_rfc9106_vectors():
    # RFC 9106 §5.1-5.3: 32 KiB, 3 passes, 4 lanes, with secret and AD
    want = {
        "argon2d": "512b391b6f1162975371d30919734294"
                   "f868e3be3984f3c1a13a4db9fabe4acb",
        "argon2i": "c814d9d1dc7f37aa13f0d77f2494bda1"
                   "c8de6b016dd388d29952a4c4672b6ce8",
        "argon2id": "0d640df58d78766c08c037a34a8b53c9"
                    "d01ef0452d75b65eb52520e96b01e659",
    }
    for variant, tag in want.items():
        got = argon2_tag(
            b"\x01" * 32,
            b"\x02" * 16,
            time_cost=3,
            memory_cost=32,
            parallelism=4,
            variant=variant,
            secret=b"\x03" * 8,
            associated=b"\x04" * 12,
        )
        assert got.hex() == tag, variant


def test_argon2_phc_roundtrip_and_reject():
    salt = bytes(range(16))
    for variant in ("argon2i", "argon2id"):
        h = argon2_phc_hash(
            "s3cret",
            salt,
            variant=variant,
            memory_cost=32,
            time_cost=2,
            parallelism=4,
        )
        assert compare_argon2("s3cret", h) is True
        assert compare_argon2("nope", h) is False
    with pytest.raises(ValueError):
        compare_argon2("x", "$argon2x$v=19$m=32,t=2,p=4$AAAA$BBBB")
    with pytest.raises(ValueError):
        compare_argon2("x", "$argon2id$v=19$m=32,t=2$AAAA$BBBB")


def test_bloblang_methods(spark):
    """Both methods through the Bloblang compiler (the registration
    surface the reference exposes)."""
    from connect_spark.bloblang.compiler import compile_mapping

    salt = bytes(range(16))
    argon_hash = argon2_phc_hash(
        "blob-secret", salt, memory_cost=32, time_cost=1, parallelism=4
    )
    # golang.org/x/crypto/argon2's production defaults: 64 MiB, 3
    # passes, 4 lanes
    argon_prod = (
        "$argon2id$v=19$m=65536,t=3,p=4$cHJvZHVjdGlvbi1zYWx0IQ"
        "$uaOvqGyTVHeeiIIyjRdYiwr8t2K5Kc6ah8oQxn+sBiI"
    )
    # a 5-byte salt is below the library's 8-byte floor: null
    argon_short_salt = argon_hash.replace(
        argon_hash.split("$")[4], "c2hvcnQ"
    )
    bc_hash = BCRYPT_VECTORS[1][1]  # "a"
    df = spark.createDataFrame(
        [("a", "blob-secret"), ("wrong", "wrong")], ["bc", "ar"]
    )
    import json

    src = f"""
root.bc_ok = this.bc.compare_bcrypt({json.dumps(bc_hash)})
root.ar_ok = this.ar.compare_argon2({json.dumps(argon_hash)})
root.ar_prod = this.ar.compare_argon2({json.dumps(argon_prod)})
root.ar_short_salt = this.ar.compare_argon2({json.dumps(argon_short_salt)})
"""
    rows = {
        r["bc_ok"]: (r["ar_ok"], r["ar_prod"], r["ar_short_salt"])
        for r in compile_mapping(df, src).collect()
    }
    assert rows == {True: (True, True, None), False: (False, False, None)}


def test_reference_doc_example_cost10():
    """The compare_bcrypt doc example (bcrypt.go:30-37) verbatim —
    cost 10, ~9 s in pure Python, kept as the single slow pin."""
    h = "$2y$10$Dtnt5NNzVtMCOZONT705tOcS8It6krJX8bEjnDJnwxiFKsz1C.3Ay"
    assert compare_bcrypt("there-are-many-blobs-in-the-sea", h) is True
