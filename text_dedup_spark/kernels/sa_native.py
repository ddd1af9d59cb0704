"""ctypes binding for the C suffix-array/LCP kernel (sa_native.c).

Built and loaded on first use by the shared native-kernel loader
(:mod:`native`: per-user cache dir, atomic install, ``--py-files`` source
read). Any load failure degrades to ``available() == False`` and callers
fall back to the numpy kernel (suffix_array_kernel), which remains the
oracle the C kernel is cross-checked against in tests.

Selection: ``TEXT_DEDUP_SPARK_SA_KERNEL`` = ``auto`` (default: C when it
loads) | ``c`` (require C, raise otherwise) | ``numpy`` (force fallback).
"""

from __future__ import annotations

import ctypes
import os

import numpy as np

from text_dedup_spark.kernels import native

_lib: ctypes.CDLL | None = None
_load_error: str | None = None


def _build_or_load() -> ctypes.CDLL:
    lib = native.build_or_load("sa_native")
    lib.build_sa_lcp.restype = ctypes.c_int
    lib.build_sa_lcp.argtypes = [
        ctypes.POINTER(ctypes.c_uint8),
        ctypes.c_int64,
        ctypes.POINTER(ctypes.c_int32),
        ctypes.POINTER(ctypes.c_int32),
    ]
    lib.build_sa.restype = ctypes.c_int
    lib.build_sa.argtypes = lib.build_sa_lcp.argtypes[:3]
    return lib


def _ensure_loaded() -> bool:
    global _lib, _load_error
    if _lib is not None:
        return True
    if _load_error is not None:
        return False
    mode = os.environ.get("TEXT_DEDUP_SPARK_SA_KERNEL", "auto")
    if mode == "numpy":
        _load_error = "disabled via TEXT_DEDUP_SPARK_SA_KERNEL=numpy"
        return False
    try:
        _lib = _build_or_load()
        return True
    except Exception as e:  # no compiler / sandbox / load failure
        _load_error = f"{type(e).__name__}: {e}"
        if mode == "c":
            raise RuntimeError(
                f"TEXT_DEDUP_SPARK_SA_KERNEL=c but the native kernel failed: {_load_error}"
            ) from e
        return False


def available() -> bool:
    return _ensure_loaded()


def load_error() -> str | None:
    _ensure_loaded()
    return _load_error


def suffix_and_lcp_arrays_c(data: bytes) -> tuple[np.ndarray, np.ndarray]:
    """(suffix array, LCP array) via the C kernel. Caller must have checked
    ``available()``. n < 2^31 (per-task corpora are byte-capped far below)."""
    n = len(data)
    sa = np.empty(n, dtype=np.int32)
    lcp = np.zeros(n, dtype=np.int32)
    if n == 0:
        return sa.astype(np.int64), lcp.astype(np.int64)
    if n >= 2**31:
        raise ValueError(f"corpus of {n} bytes exceeds the int32 kernel bound")
    buf = np.frombuffer(data, dtype=np.uint8)
    rc = _lib.build_sa_lcp(
        buf.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        n,
        sa.ctypes.data_as(ctypes.POINTER(ctypes.c_int32)),
        lcp.ctypes.data_as(ctypes.POINTER(ctypes.c_int32)),
    )
    if rc != 0:
        raise MemoryError("sa_native allocation failure")
    return sa.astype(np.int64), lcp.astype(np.int64)
