"""Winnowing anchors for content-defined grouping (suffix-array scale path).

Schleimer/Wilkerson/Aiken winnowing: hash every w-byte window with a
polynomial rolling hash, then keep the minimum hash of every run of W
consecutive window hashes (rightmost minimum). Guarantee: two byte strings
sharing a common substring of length >= w + W - 1 select at least one
identical anchor hash from inside that substring.

For exact-substring dedup with ``length_threshold = L`` we pick
w + W - 1 <= L, so ANY duplicated range the suffix-array pass would find is
also an anchor collision — grouping docs by anchor connected-components and
running the exact per-group suffix-array dedup is therefore *lossless*
(SURVEY.md §7.7's content-defined bucketing, made exact).

Round-5 perf form, same values as the original matmul/strided code (pinned
by TestWinnowingKernelForms): the window hash is computed in O(n) via a
modular prefix sum — hash(i) = B^(i+w-1) * (C[i+w] - C[i]) mod P with
C = cumsum(data[j] * B^(-j)) — instead of an O(n*w) sliding-window matmul,
and the per-run minimum in O(n log W) by power-of-two doubling instead of
an O(n*W) strided reduction.
"""

from __future__ import annotations

import numpy as np

_P = np.int64((1 << 31) - 1)
_B = np.int64(263)
# modular inverse of B (P is prime): B^(P-2) mod P
_BINV = np.int64(pow(int(_B), int(_P) - 2, int(_P)))


def _power_series_fresh(base: np.int64, n: int) -> np.ndarray:
    """[base^0, base^1, ..., base^(n-1)] mod P, vectorized via the
    block decomposition base^(q*K + r) = (base^K)^q * base^r."""
    if n <= 0:
        return np.empty(0, dtype=np.int64)
    k = max(1, int(n ** 0.5))
    small = np.empty(k, dtype=np.int64)
    acc = np.int64(1)
    for r in range(k):
        small[r] = acc
        acc = (acc * base) % _P
    n_big = (n + k - 1) // k
    big = np.empty(n_big, dtype=np.int64)
    step = acc  # base^k
    acc = np.int64(1)
    for q in range(n_big):
        big[q] = acc
        acc = (acc * step) % _P
    idx = np.arange(n)
    # both factors < P < 2^31 -> product < 2^62, no overflow
    return (big[idx // k] * small[idx % k]) % _P


# per-process grow-on-demand cache: the winnowing UDF calls window_hashes
# once per document, and rebuilding the two power series per call would
# dominate at typical web-page sizes (~2 KB). Keyed by int(base).
_POWER_CACHE: dict[int, np.ndarray] = {}


def _power_series(base: np.int64, n: int) -> np.ndarray:
    cached = _POWER_CACHE.get(int(base))
    if cached is None or len(cached) < n:
        grow = max(n, 2 * len(cached) if cached is not None else n, 1 << 16)
        cached = _power_series_fresh(base, grow)
        _POWER_CACHE[int(base)] = cached
    return cached[:n]


def window_hashes(data: bytes, w: int) -> np.ndarray:
    """Polynomial rolling hash of every w-byte window:
    hash(i) = sum_{j=0}^{w-1} data[i+j] * B^(w-1-j) mod P."""
    n = len(data)
    if n < w:
        return np.empty(0, dtype=np.int64)
    arr = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    binv_pow = _power_series(_BINV, n)
    # T[j] = data[j] * B^(-j); values < 256 * 2^31 < 2^39
    t = (arr * binv_pow) % _P
    # prefix sums: n terms each < P -> < n * 2^31, safe in int64 for any
    # realistic window-hash input (n < 2^32 bytes)
    c = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(t, out=c[1:])
    c %= _P
    # (C[i+w] - C[i]) mod P, then scale by B^(i+w-1)
    diff = (c[w:] - c[: n - w + 1]) % _P
    b_pow = _power_series(_B, n)  # B^(i+w-1) for i in 0..n-w
    return (diff * b_pow[w - 1 :]) % _P


def _sliding_min(h: np.ndarray, window: int) -> np.ndarray:
    """min(h[i : i+window]) for each i, via power-of-two doubling:
    O(n log window) with no O(n*window) strided temporary."""
    n = len(h)
    span = 1
    m = h
    # grow the covered span to the largest power of two <= window
    while span * 2 <= window:
        m = np.minimum(m[: len(m) - span], m[span:])
        span *= 2
    # combine two (possibly overlapping) spans covering the full window
    out_len = n - window + 1
    return np.minimum(m[:out_len], m[window - span : window - span + out_len])


def winnow_anchor_list(data: bytes, w: int, window: int) -> list[int]:
    """Distinct selected anchor hashes, SORTED (min per W-run of window
    hashes) — the per-doc UDF form: np.unique on the sliding-min array is
    one vectorized pass where a Python set + sorted() pays per-element."""
    h = window_hashes(data, w)
    if len(h) == 0:
        return []
    if len(h) <= window:
        return [int(h.min())]
    return np.unique(_sliding_min(h, window)).tolist()
