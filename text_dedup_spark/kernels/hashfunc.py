"""Base hash functions, byte-identical to the reference.

Reference: ``src/text_dedup/utils/hashfunc.py`` (md5/sha1/sha256 digests at
:13-61, ``sha1_hash`` at :63-93, ``xxh3_hash`` at :96-105). The scalar xxh3
family delegates to :mod:`text_dedup_spark.kernels.xxh3` (real ``xxhash``
when importable, spec-faithful pure Python otherwise); ``xxh3_64_batch``
hashes a whole batch in the native kernel (``minhash_native.c``) and falls
back to that scalar spec when no compiler is present.
"""

from __future__ import annotations

import hashlib
import struct
from hashlib import md5, sha1, sha256
from typing import Literal

import numpy as np

from text_dedup_spark.kernels import minhash_native
from text_dedup_spark.kernels.xxh3 import xxh3_64_intdigest, xxh3_128_intdigest


def md5_digest(data: bytes, return_type: Literal["str", "bytes"] = "str") -> bytes | str:
    h = md5(data, usedforsecurity=False)
    return h.hexdigest() if return_type == "str" else h.digest()


def sha256_digest(data: bytes, return_type: Literal["str", "bytes"] = "str") -> bytes | str:
    h = sha256(data, usedforsecurity=False)
    return h.hexdigest() if return_type == "str" else h.digest()


def sha1_hash(data: bytes, d: int = 32) -> int:
    """d-bit little-endian integer prefix of SHA1.

    Golden values (reference ``utils/hashfunc.py:80-87``):

    >>> sha1_hash(b"hello world", 32)
    896314922
    >>> sha1_hash(b"hello world", 64)
    13028719972609469994
    >>> sha1_hash(b"hello world", 128)
    310522945683037930239412421226792791594
    """
    if d == 32:
        return int(struct.unpack("<I", sha1(data, usedforsecurity=False).digest()[:4])[0])
    if d == 64:
        return int(struct.unpack("<Q", sha1(data, usedforsecurity=False).digest()[:8])[0])
    return int.from_bytes(
        hashlib.sha1(data, usedforsecurity=False).digest()[: d // 8], byteorder="little"
    )


def md5_hash(data: bytes, d: int = 32) -> int:
    """d-bit little-endian integer prefix of MD5 (same convention as
    ``sha1_hash``). Chosen as the cross-engine-checkable base hash: DuckDB's
    ``md5_number_upper`` is the first 8 digest bytes little-endian, so
    ``md5_hash(x, 32) == md5_number_upper(x) % 2**32`` — which is what makes
    a full MinHash+LSH+CC pipeline SQL-oracle-able (see __spark_entry__
    ``minhash_dedup_md5``).

    >>> md5_hash(b"abc", 32)
    2555380112
    >>> md5_hash(b"abc", 64)
    12704604231530709392
    """
    if d == 32:
        return int(struct.unpack("<I", md5(data, usedforsecurity=False).digest()[:4])[0])
    if d == 64:
        return int(struct.unpack("<Q", md5(data, usedforsecurity=False).digest()[:8])[0])
    return int.from_bytes(
        md5(data, usedforsecurity=False).digest()[: d // 8], byteorder="little"
    )


def xxh3_hash(data: bytes, seed: int = 0, bits: int = 32) -> int:
    """xxh3 with the reference's bit-width conventions (``hashfunc.py:96-105``)."""
    if bits == 32:
        return xxh3_64_intdigest(data, seed) & 0xFFFFFFFF
    if bits == 64:
        return xxh3_64_intdigest(data, seed)
    if bits == 128:
        return xxh3_128_intdigest(data, seed)
    return int.from_bytes(
        xxh3_128_intdigest(data, 0).to_bytes(16, "big")[: bits // 8], byteorder="big"
    )


def xxh3_64_batch(items: list[bytes], seed: int = 0) -> np.ndarray:
    """uint64 ``xxh3_64_intdigest(item, seed)`` per item, in input order:
    one native call over the packed batch, or the scalar spec per item when
    the native kernel does not load."""
    if minhash_native.available():
        return minhash_native.xxh3_64_batch(*minhash_native.pack(items), seed)
    return np.fromiter(
        (xxh3_64_intdigest(x, seed) for x in items), dtype=np.uint64, count=len(items)
    )
