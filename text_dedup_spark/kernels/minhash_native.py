"""ctypes binding for the C MinHash fingerprint kernel (minhash_native.c).

Three entry points over flat ``bytes`` buffers plus int64 offsets:
``xxh3_64_batch`` (one XXH3-64 per byte range), ``minhash_bands`` (band keys
straight from space-joined token buffers or raw ASCII text, which C
tokenizes: n-grams are hashed in place, no per-shingle Python object) and
``minhash_bands_items`` (band keys from pre-built shingles). Built and
loaded on first use by :mod:`native`; when that fails, ``available()`` is
False and callers take the pure-Python spec path (:mod:`xxh3` +
``MinHashKernel._signature_from_hashes``), which is also the oracle this
kernel is cross-checked against in tests.
"""

from __future__ import annotations

import ctypes

import numpy as np

from text_dedup_spark.kernels import native

_lib: ctypes.CDLL | None = None
_load_error: str | None = None

_P = ctypes.c_void_p
_I64 = ctypes.c_int64


def _build_or_load() -> ctypes.CDLL:
    lib = native.build_or_load("minhash_native")
    lib.xxh3_64_batch.restype = None
    lib.xxh3_64_batch.argtypes = [_P, _P, _I64, ctypes.c_uint64, _P]
    lib.minhash_bands.restype = ctypes.c_int
    lib.minhash_bands.argtypes = [
        _P, _P, _P, _I64, _I64, _I64, ctypes.c_uint64, ctypes.c_int, _P, _P, _I64, _I64, _P, _P,
    ]
    lib.minhash_bands_items.restype = ctypes.c_int
    lib.minhash_bands_items.argtypes = [
        _P, _P, _P, _I64, ctypes.c_uint64, ctypes.c_int, _P, _P, _I64, _I64, _P,
    ]
    return lib


def available() -> bool:
    global _lib, _load_error
    if _lib is None and _load_error is None:
        try:
            _lib = _build_or_load()
        except Exception as e:  # no compiler / sandbox / load failure
            _load_error = f"{type(e).__name__}: {e}"
    return _lib is not None


def load_error() -> str | None:
    available()
    return _load_error


def pack(items: list[bytes]) -> tuple[bytes, np.ndarray]:
    """One concatenated buffer plus ``len(items) + 1`` int64 offsets."""
    offsets = np.zeros(len(items) + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, items), dtype=np.int64, count=len(items)), out=offsets[1:])
    return b"".join(items), offsets


def _ptr(a: np.ndarray) -> int:
    return a.ctypes.data


def _checked_offsets(offsets: np.ndarray, nbytes: int) -> np.ndarray:
    """The C loops index ``buf`` through these without bounds checks."""
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    if len(offsets) == 0 or offsets[0] < 0 or offsets[-1] > nbytes or (np.diff(offsets) < 0).any():
        raise ValueError(f"offsets must be non-decreasing within [0, {nbytes}]")
    return offsets


def _checked_coeffs(a: np.ndarray, b: np.ndarray, bands: int, rows: int, hash_bits: int) -> tuple:
    m = bands * rows
    if hash_bits not in (32, 64):
        raise ValueError(f"hash_bits must be 32 or 64, got {hash_bits}")
    if bands < 0 or rows < 0 or len(a) < m or len(b) < m:
        raise ValueError(f"need bands * rows = {m} permutation coefficients, got {len(a)}")
    return (np.ascontiguousarray(a, dtype=np.uint64), np.ascontiguousarray(b, dtype=np.uint64))


def xxh3_64_batch(buf: bytes, offsets: np.ndarray, seed: int) -> np.ndarray:
    """uint64 XXH3-64 of each ``buf[offsets[i]:offsets[i+1]]``. Caller must
    have checked ``available()``."""
    offsets = _checked_offsets(offsets, len(buf))
    n = len(offsets) - 1
    out = np.empty(n, dtype=np.uint64)
    _lib.xxh3_64_batch(buf, _ptr(offsets), n, seed & 0xFFFFFFFFFFFFFFFF, _ptr(out))
    return out


def _check(rc: int) -> None:
    if rc != 0:
        raise MemoryError("minhash_native allocation failure")


def minhash_bands(
    buf: bytes, offsets: np.ndarray, is_ascii: np.ndarray, ngram: int, min_length: int,
    seed: int, hash_bits: int, a: np.ndarray, b: np.ndarray, bands: int, rows: int,
) -> tuple[np.ndarray, np.ndarray]:
    """(int64[n_docs, bands] band keys, bool[n_docs] valid) for the docs
    ``buf[offsets[d]:offsets[d+1]]``: where ``is_ascii[d]`` holds, the raw
    ASCII text of the doc, tokenized in C; elsewhere its tokens joined by
    single spaces (``tokenization.joined_tokens``). Invalid (fewer than
    ``min_length`` tokens) rows are zero. ``a`` and ``b`` are the first
    ``bands * rows`` permutation coefficients as uint64. Caller must have
    checked ``available()``."""
    offsets = _checked_offsets(offsets, len(buf))
    a, b = _checked_coeffs(a, b, bands, rows, hash_bits)
    n = len(offsets) - 1
    is_ascii = np.ascontiguousarray(is_ascii, dtype=np.uint8)
    if len(is_ascii) != n:
        raise ValueError(f"need one is_ascii flag per doc, got {len(is_ascii)} for {n} docs")
    out = np.empty((n, bands), dtype=np.int64)
    valid = np.empty(n, dtype=np.uint8)
    _check(_lib.minhash_bands(
        buf, _ptr(offsets), _ptr(is_ascii), n, ngram, min_length, seed & 0xFFFFFFFFFFFFFFFF,
        hash_bits, _ptr(a), _ptr(b), bands, rows, _ptr(out), _ptr(valid),
    ))
    return out, valid.view(bool)


def minhash_bands_items(
    buf: bytes, item_offsets: np.ndarray, doc_items: np.ndarray, seed: int,
    hash_bits: int, a: np.ndarray, b: np.ndarray, bands: int, rows: int,
) -> np.ndarray:
    """int64[n_docs, bands] band keys where doc ``d`` owns the shingles
    ``doc_items[d] .. doc_items[d+1]-1`` of the packed ``buf``/
    ``item_offsets``. Caller must have checked ``available()``."""
    item_offsets = _checked_offsets(item_offsets, len(buf))
    doc_items = _checked_offsets(doc_items, len(item_offsets) - 1)
    a, b = _checked_coeffs(a, b, bands, rows, hash_bits)
    n = len(doc_items) - 1
    out = np.empty((n, bands), dtype=np.int64)
    _check(_lib.minhash_bands_items(
        buf, _ptr(item_offsets), _ptr(doc_items), n, seed & 0xFFFFFFFFFFFFFFFF,
        hash_bits, _ptr(a), _ptr(b), bands, rows, _ptr(out),
    ))
    return out
