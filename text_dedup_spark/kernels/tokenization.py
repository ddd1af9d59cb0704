"""Tokenization / n-gram / shingle kernels, byte-identical to the reference.

Reference: ``src/text_dedup/utils/tokenization.py:5-33`` (ngrams),
``src/text_dedup/config/algorithms/minhash.py:181-198`` (tokenize + shingles;
identical copies at ``config/algorithms/simhash.py:309-326``).

Parity notes (SURVEY.md §7.9): tokenization MUST use the Python ``regex``
module's Unicode ``\\W`` — JVM regex (`pyspark.sql.functions.split`) has
different Unicode word-character classes, so all tokenizing happens inside
Python/pandas UDFs, never JVM-side.

One exact shortcut: over ASCII text (``str.isascii()``, O(1) in CPython)
``str.lower`` changes only ``A-Z`` (to ``a-z``), and the Unicode ``\\w`` is
exactly ``[0-9A-Za-z_]`` — every other ASCII code point is a separator
(checked on all 128 in tests/test_minhash_native.py). So ``tokenize`` of an
ASCII doc is: lowercase ``A-Z``, split on every byte outside
``[0-9A-Za-z_]``, drop empty tokens — a byte loop with no Unicode tables,
which the native MinHash kernel (minhash_native.c, ``ascii_join_tokens``)
runs on the raw bytes of each all-ASCII doc instead of ``joined_tokens``.
Any doc with a non-ASCII character takes the regex, whose Unicode classes
and case mappings a byte loop cannot reproduce.
"""

from __future__ import annotations

from collections.abc import Iterator
from itertools import tee

import regex as re

NON_ALPHA = re.compile(r"\W", re.UNICODE)


def tokenize(content: str) -> list[str]:
    """Lowercase, split on ``\\W`` (Unicode), drop empty tokens."""
    return [t for t in NON_ALPHA.split(content.lower()) if t]


def joined_tokens(content: str) -> bytes:
    """utf-8 of the tokens joined by single spaces, i.e.
    ``" ".join(tokenize(content)).encode()`` without the intermediate list.
    Tokens never contain a space (``\\W`` matches it, and no multi-byte
    utf-8 sequence holds byte 0x20), so every n-gram shingle of the doc is
    a contiguous byte range of this buffer — the input form of the native
    MinHash kernel (minhash_native.c)."""
    return " ".join(filter(None, NON_ALPHA.split(content.lower()))).encode("utf-8")


def ngrams(sequence: list[str], n: int, min_length: int = 5) -> Iterator[tuple[str, ...]]:
    """Sliding n-grams with the reference's two edge cases:

    - ``len(sequence) < min_length`` -> empty iterator
    - ``len(sequence) < n``          -> single tuple of the whole sequence
    """
    if len(sequence) < min_length:
        return iter([])
    if len(sequence) < n:
        return iter([tuple(sequence)])
    iterables = tee(iter(sequence), n)
    for i, sub_iterable in enumerate(iterables):
        for _ in range(i):
            next(sub_iterable, None)
    return zip(*iterables, strict=False)


def shingle_bytes(tokens: list[str], n: int, min_length: int = 5) -> set[bytes]:
    """Distinct utf-8 shingle byte strings from pre-tokenized input —
    output-identical to ``{" ".join(g).encode() for g in ngrams(tokens, n,
    min_length)}`` including both ``ngrams`` edge cases, with zip-based
    construction instead of the ``tee`` iterator machinery (no per-gram
    tuple through a generator chain; measured 0.83 -> 0.64 s per 20k web
    docs at n=2 — the fingerprint UDF calls this once per doc)."""
    if len(tokens) < min_length:
        return set()
    if len(tokens) < n:
        return {" ".join(tokens).encode("utf-8")}
    if n == 1:
        return {t.encode("utf-8") for t in tokens}
    if n == 2:
        return {f"{a} {b}".encode("utf-8") for a, b in zip(tokens, tokens[1:])}
    join = " ".join
    return {join(g).encode("utf-8") for g in zip(*(tokens[i:] for i in range(n)))}


def shingles(content: str, ngram_size: int, min_length: int = 5) -> set[bytes]:
    """Distinct utf-8 shingle byte strings (reference ``minhash.py:189-198``).

    The reference lowercases each joined gram, but its tokens already come
    from ``tokenize``'s lowered content and ``str.lower`` is idempotent
    (Unicode lowercase mappings never produce cased uppercase chars, incl.
    the expanding SpecialCasing ones), so the per-gram lower is a no-op —
    dropped here; it was ~5% of fingerprint CPU (unicode parity pinned in
    tests/test_unicode_parity.py)."""
    return shingle_bytes(tokenize(content), ngram_size, min_length)
