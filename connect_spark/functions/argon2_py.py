"""Argon2 (RFC 9106) for the Bloblang `compare_argon2` method
(reference: internal/impl/crypto/argon2.go — decodes the PHC
`$argon2(i|id)$v=..$m=..,t=..,p=..$salt$key` string and compares a
recomputed tag in constant time).

The tag comes from the `cryptography` package's Argon2d/Argon2i/
Argon2id KDFs, as the reference's comes from golang.org/x/crypto/argon2;
this module owns the PHC string format and the compare. The library's
parameter checks apply: a salt shorter than 8 bytes, a tag shorter than
4 bytes or memory below 8 KiB per lane raises ValueError. The RFC 9106
§5 vectors are pinned in tests.
"""

from __future__ import annotations

import hmac
from base64 import b64decode, b64encode

__all__ = ["argon2_tag", "argon2_phc_hash", "compare_argon2"]


def argon2_tag(
    password: bytes,
    salt: bytes,
    *,
    time_cost: int,
    memory_cost: int,
    parallelism: int,
    tag_length: int = 32,
    variant: str = "argon2id",
    secret: bytes | None = None,
    associated: bytes | None = None,
) -> bytes:
    """Compute the raw Argon2 (version 0x13) tag; `memory_cost` is in
    KiB."""
    from cryptography.hazmat.primitives.kdf import argon2

    kdf = {
        "argon2d": argon2.Argon2d,
        "argon2i": argon2.Argon2i,
        "argon2id": argon2.Argon2id,
    }[variant]
    return kdf(
        salt=salt,
        length=tag_length,
        iterations=time_cost,
        lanes=parallelism,
        memory_cost=memory_cost,
        ad=associated,
        secret=secret,
    ).derive(password)


# --- PHC string format (argon2.go:47-110) ---------------------------


def _b64_nopad(data: bytes) -> str:
    return b64encode(data).decode().rstrip("=")


def _b64_decode_nopad(s: str) -> bytes:
    return b64decode(s + "=" * (-len(s) % 4))


def _parse_phc(hashed: str):
    parts = hashed.split("$")
    if len(parts) != 6:
        raise ValueError("invalid argon2 hash")
    _, variant, vpart, params, salt_b64, key_b64 = parts
    if variant not in ("argon2i", "argon2id"):
        raise ValueError("invalid argon2 hash: unrecognised argon2 format")
    if not vpart.startswith("v="):
        raise ValueError("invalid argon2 hash: parsing version")
    version = int(vpart[2:])
    kv = {}
    for item in params.split(","):
        k, _, v = item.partition("=")
        kv[k] = int(v)
    if set(kv) != {"m", "t", "p"}:
        raise ValueError("invalid argon2 hash: parsing parameters")
    salt = _b64_decode_nopad(salt_b64)
    key = _b64_decode_nopad(key_b64)
    return variant, version, kv, salt, key


def argon2_phc_hash(
    password: str | bytes,
    salt: bytes,
    *,
    variant: str = "argon2id",
    memory_cost: int = 64,
    time_cost: int = 3,
    parallelism: int = 1,
    tag_length: int = 32,
) -> str:
    """Produce the `$argon2id$v=19$m=..,t=..,p=..$salt$key` string."""
    if isinstance(password, str):
        password = password.encode("utf-8")
    tag = argon2_tag(
        password,
        salt,
        time_cost=time_cost,
        memory_cost=memory_cost,
        parallelism=parallelism,
        tag_length=tag_length,
        variant=variant,
    )
    return (
        f"${variant}$v=19$m={memory_cost},t={time_cost},p={parallelism}"
        f"${_b64_nopad(salt)}${_b64_nopad(tag)}"
    )


def compare_argon2(password: str | bytes, hashed: str) -> bool:
    """argon2.go compare semantics: recompute the tag with the hash's
    own parameters and constant-time compare."""
    if isinstance(password, str):
        password = password.encode("utf-8")
    variant, version, kv, salt, key = _parse_phc(hashed)
    if version != 0x13:
        raise ValueError(f"unsupported argon2 version {version}")
    tag = argon2_tag(
        password,
        salt,
        time_cost=kv["t"],
        memory_cost=kv["m"],
        parallelism=kv["p"],
        tag_length=len(key),
        variant=variant,
    )
    return hmac.compare_digest(tag, key)
