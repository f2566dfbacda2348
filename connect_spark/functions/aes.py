"""AES in CTR / OFB / CBC / GCM modes over the `cryptography` package.

Backs the Bloblang ``encrypt_aes`` / ``decrypt_aes`` methods
(`docs/modules/guides/pages/bloblang/methods.adoc:3827-3896`: schemes
ctr, gcm, ofb, cbc; key + iv/nonce), which the reference builds on Go's
`crypto/aes` and `crypto/cipher`. Each scheme is one library mode:
CBC carries PKCS#7 padding (as the reference's CBC does) and GCM
returns ``ciphertext || 16-byte tag``, Go's AEAD Seal layout. The
library's own input checks apply: a CTR/OFB/CBC IV must be 16 bytes
and a GCM nonce at least 8. NIST SP 800-38A/D vectors, the methods.adoc
CTR example and the JVM's AES/GCM are pinned in tests/test_aes.py.
"""

from __future__ import annotations


def _cipher(scheme: str, key: bytes, iv: bytes):
    from cryptography.hazmat.decrepit.ciphers.modes import OFB
    from cryptography.hazmat.primitives.ciphers import (
        Cipher,
        algorithms,
        modes,
    )

    mode = {"ctr": modes.CTR, "ofb": OFB, "cbc": modes.CBC}[scheme]
    return Cipher(algorithms.AES(key), mode(iv))


def _gcm(key: bytes):
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    return AESGCM(key)


def _check(scheme: str, key: bytes) -> str:
    scheme = scheme.lower()
    if scheme not in ("ctr", "ofb", "cbc", "gcm"):
        raise ValueError(f"scheme must be ctr|gcm|ofb|cbc, got {scheme!r}")
    if len(key) not in (16, 24, 32):
        raise ValueError("AES key must be 16, 24, or 32 bytes")
    return scheme


def encrypt_aes(data: bytes, scheme: str, key: bytes, iv: bytes) -> bytes:
    scheme = _check(scheme, key)
    if scheme == "gcm":
        return _gcm(key).encrypt(iv, data, None)
    if scheme == "cbc":
        from cryptography.hazmat.primitives.padding import PKCS7

        pad = PKCS7(128).padder()
        data = pad.update(data) + pad.finalize()
    enc = _cipher(scheme, key, iv).encryptor()
    return enc.update(data) + enc.finalize()


def decrypt_aes(data: bytes, scheme: str, key: bytes, iv: bytes) -> bytes:
    scheme = _check(scheme, key)
    if scheme == "gcm":
        from cryptography.exceptions import InvalidTag

        try:
            return _gcm(key).decrypt(iv, data, None)
        except InvalidTag:
            raise ValueError("GCM authentication failed") from None
    dec = _cipher(scheme, key, iv).decryptor()
    out = dec.update(data) + dec.finalize()
    if scheme == "cbc":
        from cryptography.hazmat.primitives.padding import PKCS7

        unpad = PKCS7(128).unpadder()
        out = unpad.update(out) + unpad.finalize()
    return out
