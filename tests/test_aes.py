"""AES modes (functions/aes.py) against public test vectors, plus
the Bloblang encrypt_aes/decrypt_aes methods."""

from __future__ import annotations

import pytest

from connect_spark.functions.aes import decrypt_aes, encrypt_aes


def test_fips197_block_vectors():
    # FIPS-197 Appendix C.1/C.2/C.3 through the public CBC scheme: with
    # a zero IV the first ciphertext block is the bare block cipher
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    zero_iv = bytes(16)
    for key_hex, want in (
        ("000102030405060708090a0b0c0d0e0f",
         "69c4e0d86a7b0430d8cdb78070b4c55a"),
        ("000102030405060708090a0b0c0d0e0f1011121314151617",
         "dda97ca4864cdfe06eaf70a0ec0d7191"),
        ("000102030405060708090a0b0c0d0e0f"
         "101112131415161718191a1b1c1d1e1f",
         "8ea2b7ca516745bfeafc49904b496089"),
    ):
        key = bytes.fromhex(key_hex)
        ct = encrypt_aes(pt, "cbc", key, zero_iv)
        assert ct[:16].hex() == want
        # inverse cipher
        assert decrypt_aes(ct, "cbc", key, zero_iv) == pt


def test_ctr_sp800_38a_vector():
    # SP 800-38A F.5.1 (AES-128 CTR)
    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    iv = bytes.fromhex("f0f1f2f3f4f5f6f7f8f9fafbfcfdfeff")
    pt = bytes.fromhex(
        "6bc1bee22e409f96e93d7e117393172a"
        "ae2d8a571e03ac9c9eb76fac45af8e51"
    )
    ct = encrypt_aes(pt, "ctr", key, iv)
    assert ct.hex() == (
        "874d6191b620e3261bef6864990db6ce"
        "9806f66b7970fdff8617187bb9fffdff"
    )
    assert decrypt_aes(ct, "ctr", key, iv) == pt
    # the counter is one 128-bit integer: its low 64 bits carry into
    # the high half, and all-ones wraps to zero
    zeros = bytes(32)
    for start, second in (
        (bytes(8) + b"\xff" * 8, (1).to_bytes(8, "big") + bytes(8)),
        (b"\xff" * 16, bytes(16)),
    ):
        ks = encrypt_aes(zeros, "ctr", key, start)
        assert ks[16:] == encrypt_aes(zeros[:16], "ctr", key, second)


def test_methods_adoc_ctr_example():
    # the exact example from methods.adoc:3843-3847
    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    iv = bytes.fromhex("f0f1f2f3f4f5f6f7f8f9fafbfcfdfeff")
    assert encrypt_aes(b"hello world!", "ctr", key, iv).hex() == (
        "84e9b31ff7400bdf80be7254"
    )


def test_ofb_sp800_38a_vector():
    # SP 800-38A F.4.1 (AES-128 OFB)
    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    iv = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
    assert encrypt_aes(pt, "ofb", key, iv).hex() == (
        "3b3fd92eb72dad20333449f8e83cfb4a"
    )


def test_cbc_roundtrip_and_padding():
    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    iv = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    # SP 800-38A F.2.1 first block (no padding check — spec vector is
    # block-aligned; our CBC adds PKCS#7, so compare the first block)
    pt = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
    ct = encrypt_aes(pt, "cbc", key, iv)
    assert ct[:16].hex() == "7649abac8119b246cee98e9b12e9197d"
    assert decrypt_aes(ct, "cbc", key, iv) == pt
    for n in (0, 1, 15, 16, 17, 100):
        data = bytes(range(256))[:n]
        assert decrypt_aes(encrypt_aes(data, "cbc", key, iv), "cbc", key, iv) == data
    with pytest.raises(ValueError, match="padding|block"):
        decrypt_aes(b"\x00" * 15, "cbc", key, iv)
    # an IV that is not one block raises (Go's cipher.NewCTR/NewOFB/
    # NewCBCEncrypter panic on it) rather than being cut or padded
    for scheme in ("ctr", "ofb", "cbc"):
        for bad_iv in (iv[:12], iv + b"\x00"):
            with pytest.raises(ValueError):
                encrypt_aes(pt, scheme, key, bad_iv)


def test_gcm_nist_vector_and_tamper():
    # NIST GCM test case 3 (AES-128, 12-byte IV)
    key = bytes.fromhex("feffe9928665731c6d6a8f9467308308")
    iv = bytes.fromhex("cafebabefacedbaddecaf888")
    pt = bytes.fromhex(
        "d9313225f88406e5a55909c5aff5269a"
        "86a7a9531534f7da2e4c303d8a318a72"
        "1c3c0c95956809532fcf0e2449a6b525"
        "b16aedf5aa0de657ba637b391aafd255"
    )
    ct = encrypt_aes(pt, "gcm", key, iv)
    assert ct[:-16].hex() == (
        "42831ec2217774244b7221b784d0d49c"
        "e3aa212f2c02a4e035c17e2329aca12e"
        "21d514b25466931c7d8f6a5aac84aa05"
        "1ba30b396a0aac973d58e091473f5985"
    )
    assert ct[-16:].hex() == "4d5c2af327cd64a62cf35abd2ba6fab4"
    assert decrypt_aes(ct, "gcm", key, iv) == pt
    tampered = bytes([ct[0] ^ 1]) + ct[1:]
    with pytest.raises(ValueError, match="authentication"):
        decrypt_aes(tampered, "gcm", key, iv)


def test_bloblang_encrypt_decrypt_methods(spark):
    from connect_spark.bloblang.compiler import compile_mapping

    df = spark.createDataFrame([("hello world!",)], ["value"])
    src = """
let key = "2b7e151628aed2a6abf7158809cf4f3c".decode("hex")
let vector = "f0f1f2f3f4f5f6f7f8f9fafbfcfdfeff".decode("hex")
root.encrypted = this.value.encrypt_aes("ctr", $key, $vector).encode("hex")
"""
    row = compile_mapping(df, src).collect()[0]
    assert row["encrypted"] == "84e9b31ff7400bdf80be7254"
    back = """
let key = "2b7e151628aed2a6abf7158809cf4f3c".decode("hex")
let vector = "f0f1f2f3f4f5f6f7f8f9fafbfcfdfeff".decode("hex")
root.decrypted = this.encrypted.decode("hex").decrypt_aes("ctr", $key, $vector).string()
"""
    df2 = compile_mapping(df, src)
    out = compile_mapping(df2, back).collect()[0]
    assert out["decrypted"] == "hello world!"


def test_gcm_matches_jdk_for_all_nonce_lengths(spark):
    """GCM's counter is inc32 (wrap only the low 32 bits, SP 800-38D
    §6.2) — a full-128-bit increment diverges for non-12-byte nonces
    whose GHASH-derived J0 sits near a 2^32 low-word boundary. Pin
    bit-exactness against the JVM's AES/GCM (independent oracle, same
    implementation family Go's AEAD uses) across nonce lengths."""
    jvm = spark.sparkContext._jvm
    Cipher = jvm.javax.crypto.Cipher
    SecretKeySpec = jvm.javax.crypto.spec.SecretKeySpec
    GCMParameterSpec = jvm.javax.crypto.spec.GCMParameterSpec

    key = bytes(range(16))
    for nlen in (8, 12, 13, 16, 60):
        nonce = bytes((i * 37 + 5) % 256 for i in range(nlen))
        pt = bytes((i * 11) % 256 for i in range(100))
        c = Cipher.getInstance("AES/GCM/NoPadding")
        c.init(
            1,
            SecretKeySpec(bytearray(key), "AES"),
            GCMParameterSpec(128, bytearray(nonce)),
        )
        theirs = bytes(c.doFinal(bytearray(pt)))
        ours = encrypt_aes(pt, "gcm", key, nonce)
        assert ours == theirs, f"nonce len {nlen}"
        assert decrypt_aes(ours, "gcm", key, nonce) == pt
    # a nonce under 8 bytes raises (Go's AEAD takes only 12)
    with pytest.raises(ValueError):
        encrypt_aes(b"x", "gcm", key, bytes(7))
