"""SimHash kernel — Python-int bit ops, semantics identical to the reference.

Reference: ``src/text_dedup/config/algorithms/simhash.py`` — Mask (:24-67),
Permutation (:70-160), ``_unsigned_hash`` (:189-219), ``compute`` (:222-253),
block solving (:281-296), embed (:328-380), ``create_permutations``
(:408-457).

The reference uses ``bitarray`` (unavailable here). A bitarray of length f in
its index order (index 0 = MSB of byte 0) maps exactly to an f-bit Python
integer read MSB-first; bitarray ``<<``/``>>``/``&``/``|``/``^``/``tobytes``
correspond to integer shifts/bitwise ops mod ``2**f`` and
``int.to_bytes(f//8, "big")``. All ops below use that mapping, so keys and
fingerprints are byte-identical to the reference's.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from itertools import permutations as iter_permutations

import numpy as np

from text_dedup_spark.kernels.hashfunc import xxh3_64_batch, xxh3_hash


@dataclass(frozen=True)
class Mask:
    """Block mask over an f-bit fingerprint (reference simhash.py:24-67).

    ``start``/``end`` are bitarray indices (0 = most-significant bit).
    """

    f: int
    start: int
    end: int

    @property
    def width(self) -> int:
        return self.end - self.start

    @property
    def val(self) -> int:
        return ((1 << self.width) - 1) << (self.f - self.end)

    def permute(self, x: int, offset: int) -> int:
        masked = x & self.val
        if offset > 0:
            return (masked << offset) & ((1 << self.f) - 1)
        return masked >> -offset

    def reverse(self, x: int, offset: int, reversed_val: int) -> int:
        masked = x & reversed_val
        if offset > 0:
            return masked >> offset
        return (masked << -offset) & ((1 << self.f) - 1)

    def reversed_val(self, offset: int) -> int:
        if offset > 0:
            return (self.val << offset) & ((1 << self.f) - 1)
        return self.val >> -offset


class Permutation:
    """Bit-permutation built from an ordered list of block masks
    (reference simhash.py:70-160). ``search_mask`` covers the leading
    ``b - k`` blocks after permutation."""

    def __init__(self, f: int, k: int, b: int, masks: list[Mask]) -> None:
        self.f, self.k, self.b = f, k, b
        width = 0
        self.widths: list[int] = []
        self.offsets: list[int] = []
        self.masks: list[Mask] = []
        self.reverse_vals: list[int] = []
        for mask in masks:
            offset = mask.start - width
            width += mask.width
            self.widths.append(mask.width)
            self.offsets.append(offset)
            self.masks.append(mask)
            self.reverse_vals.append(mask.reversed_val(offset))
        if sum(self.widths) != f:
            raise ValueError(
                f"The sum of block widths {sum(self.widths)} must equal fingerprint size {f}"
            )
        prefix_width = sum(self.widths[: b - k])
        self.search_mask: int = ((1 << prefix_width) - 1) << (f - prefix_width) if prefix_width else 0

    def permute(self, x: int) -> int:
        result = 0
        for mask, offset in zip(self.masks, self.offsets, strict=True):
            result |= mask.permute(x, offset)
        return result

    def reverse(self, x: int) -> int:
        result = 0
        for mask, offset, rv in zip(self.masks, self.offsets, self.reverse_vals, strict=True):
            result |= mask.reverse(x, offset, rv)
        return result


def unsigned_hash(obj: bytes, seed: int, f: int) -> int:
    """f-bit token hash (reference ``_unsigned_hash`` simhash.py:189-219)."""
    return xxh3_hash(obj, seed=seed, bits=f)


def compute(hashes: list[int], f: int) -> int:
    """Per-bit majority vote -> f-bit fingerprint (reference simhash.py:222-253).

    Golden (reference doctest): compute of ints 13352372148217134600 and
    5020219685658847592 at f=64 == 74633958390507528.
    """
    if not hashes:
        raise ValueError("Cannot compute simhash from empty hash list")
    nbytes = f // 8
    arr = np.frombuffer(
        b"".join(h.to_bytes(nbytes, "big") for h in hashes), dtype=np.uint8
    ).reshape(len(hashes), nbytes)
    bits = np.unpackbits(arr, axis=1).astype(np.int64)
    sig_bits = (np.sum(2 * bits - 1, axis=0) > 0).astype(np.uint8)
    return int.from_bytes(np.packbits(sig_bits).tobytes(), "big")


def hamming_distance(a: int, b: int) -> int:
    return (a ^ b).bit_count()


@dataclass
class SimHashKernel:
    """Driver-built state for the SimHash fingerprint UDF."""

    f: int = 64
    bit_diff: int = 3
    num_bucket: int = 4
    ngram_size: int = 3
    min_length: int = 5
    seed: int = 42
    # "xxh3" is the reference's base hash; "md5" (seedless little-endian
    # digest prefix, hashfunc.md5_hash) equals DuckDB's md5_number_upper at
    # f=64, which makes the full SimHash pipeline SQL-oracle-able (see
    # __spark_entry__ simhash_dedup_md5) — same trick as minhash_dedup_md5
    hash_func_name: str = "xxh3"
    perms: list[Permutation] = field(init=False, repr=False)

    def __post_init__(self) -> None:
        if self.num_bucket <= self.bit_diff:
            raise ValueError("num_bucket must be greater than bit_diff")
        self.perms = self.create_permutations()

    def create_permutations(self) -> list[Permutation]:
        """Reference simhash.py:408-457: blocks of ceil(f/b) bits (last block
        truncated at f), one Permutation per ordered (b-k)-selection."""
        max_block = math.ceil(self.f / self.num_bucket)
        masks: list[Mask] = []
        start = end = 0
        for _ in range(self.num_bucket):
            start, end = end, min(end + max_block, self.f)
            if start >= end:
                break
            masks.append(Mask(f=self.f, start=start, end=end))
        results: list[Permutation] = []
        indices = set(range(len(masks)))
        for fixed in iter_permutations(indices, self.num_bucket - self.bit_diff):
            changing = sorted(indices - set(fixed))
            blocks = [masks[i] for i in fixed] + [masks[i] for i in changing]
            results.append(Permutation(self.f, self.bit_diff, self.num_bucket, blocks))
        return results

    def shingles(self, content: str) -> set[bytes]:
        from text_dedup_spark.kernels.tokenization import shingles

        return shingles(content, self.ngram_size, self.min_length)

    def fingerprint(self, content: str) -> int:
        """f-bit SimHash; empty-token docs get the all-zero fingerprint
        (reference simhash.py:363-365)."""
        tokens = self.shingles(content)
        if not tokens:
            return 0
        if self.hash_func_name == "md5":
            from text_dedup_spark.kernels.hashfunc import md5_hash

            return compute([md5_hash(t, self.f) for t in tokens], self.f)
        if self.f == 64:
            # one batch hash call (native; byte-identical to scalar xxh3)
            return compute(xxh3_64_batch(list(tokens), self.seed).tolist(), self.f)
        return compute([unsigned_hash(t, self.seed, self.f) for t in tokens], self.f)

    def embed(self, content: str) -> tuple[bytes, list[tuple[bytes, bytes]]]:
        """Returns (fingerprint bytes, [(search_mask bytes, masked permuted
        fingerprint bytes)] one per permutation table) — reference
        simhash.py:328-380."""
        return self._keys_for_sig(self.fingerprint(content))

    def _keys_for_sig(self, sig: int) -> tuple[bytes, list[tuple[bytes, bytes]]]:
        nbytes = self.f // 8
        keys = [
            (
                p.search_mask.to_bytes(nbytes, "big"),
                (p.permute(sig) & p.search_mask).to_bytes(nbytes, "big"),
            )
            for p in self.perms
        ]
        return sig.to_bytes(nbytes, "big"), keys

    def fingerprint_batch(self, contents: list[str]) -> list[int]:
        """Per-doc fingerprints for a whole Arrow batch, bit-identical to
        ``fingerprint`` (pinned in tests). f=64 xxh3 fast path: ONE
        ``xxh3_64_batch`` call over every doc's shingles (native over one
        packed buffer) + per-doc bit votes over row views of one byte
        matrix."""
        if self.hash_func_name != "xxh3" or self.f != 64:
            # same NULL guard as the fast path below: a None text must
            # fingerprint as "" (all-zero sig), not raise inside tokenize
            return [self.fingerprint(c if c is not None else "") for c in contents]
        sets = [self.shingles(c if c is not None else "") for c in contents]
        sigs = [0] * len(sets)
        idx = [i for i, s in enumerate(sets) if s]
        if not idx:
            return sigs
        flat: list[bytes] = []
        lens: list[int] = []
        for i in idx:
            s = sets[i]
            flat.extend(s)
            lens.append(len(s))
        h = xxh3_64_batch(flat, self.seed)
        # one big-endian byte matrix for the whole batch; per-doc majority
        # votes run over row VIEWS of it (a 2D reduceat was tried and is
        # ~15x slower than these small per-doc sums; a batch-wide cumsum
        # needs an N x 64 int64 intermediate — hundreds of MB per Arrow
        # batch — for no speedup)
        arr8 = np.frombuffer(h.astype(">u8").tobytes(), dtype=np.uint8).reshape(
            len(flat), 8
        )
        pos = 0
        for i, n in zip(idx, lens, strict=True):
            s = np.unpackbits(arr8[pos : pos + n], axis=1).sum(
                axis=0, dtype=np.int64
            )
            pos += n
            sig_bits = (2 * s > n).astype(np.uint8)
            sigs[i] = int.from_bytes(np.packbits(sig_bits).tobytes(), "big")
        return sigs

    def embed_batch(self, contents: list[str]) -> list[tuple[bytes, list[tuple[bytes, bytes]]]]:
        """Batched ``embed`` (same per-doc outputs; the key derivation per
        permutation is a handful of Python-int mask ops per doc)."""
        return [self._keys_for_sig(sig) for sig in self.fingerprint_batch(contents)]
