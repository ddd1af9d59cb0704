"""MinHash signature kernel — byte-identical to the reference.

Reference: ``src/text_dedup/config/algorithms/minhash.py`` — hash-config
table (:101-108), ``optimal_param`` (:18-76), permutation generation
(:154-171), embed (:200-236). The reference embeds one doc per call
(``minhash.py:42`` batch_size=1); here a whole Arrow batch is embedded at
once (signatures are bit-for-bit identical because per-doc minima are
independent).

Two implementations of the same math:
- native (``minhash_native.c``) for the xxh3 configs with a 32-bit base
  hash (hash_bits 64/32): ``band_keys_batch`` hands C one buffer per batch
  (raw text for all-ASCII docs, which C tokenizes; space-joined tokens for
  the rest), and C hashes each n-gram in place, then permutes, takes minima
  and mixes band keys — no per-shingle Python object;
  ``embed_batch_bandhash`` does the same from pre-built shingles;
- the spec path — per-doc ``signature`` (scalar hash, definitional
  ``%``) and the numpy ``_signature_from_hashes`` over batch hashes —
  which serves every other config, is the fallback when no compiler is
  present, and is the oracle the native path is tested against.

Parity pins (SURVEY.md §7.9):
- base hash uses ``min(hash_bits, 32)`` bits (so 64-bit config hashes
  shingles to 32 bits — reference ``minhash.py:136-146``);
- ``(h*a + b) % P & max_hash`` wraps mod 2**64 *before* the modulo, exactly
  as numpy uint64 arithmetic does;
- a, b drawn from ``RandomState(seed)`` as ``randint(1, P)`` then
  ``randint(0, P)`` in that order (``minhash.py:164-171``);
- band bytes are the byteswapped (big-endian) raw signature slice
  (``minhash.py:232-236``, datasketch-compatible).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from text_dedup_spark.kernels import minhash_native
from text_dedup_spark.kernels.hashfunc import sha1_hash, xxh3_64_batch, xxh3_hash
from text_dedup_spark.kernels.tokenization import (
    joined_tokens,
    shingle_bytes,
    shingles,
    tokenize,
)

# Multiplier for the 64-bit band-key polynomial mix: 2**64/phi (the
# splitmix64 increment — a public-domain constant). Odd, so multiplication
# mod 2**64 is a bijection; the mix h = sum(v_k * M**(r-1-k)) mod 2**64 maps
# equal band tuples to equal keys always, distinct tuples to equal keys with
# p ~= 2**-64 per pair.
BAND_MIX_MULT = np.uint64(0x9E3779B97F4A7C15)

# (dtype, max_hash, modulo_prime) per hash_bits — reference minhash.py:101-108
HASH_CONFIG: dict[int, tuple[type, int, int]] = {
    64: (np.uint64, np.uint32((1 << 32) - 1), np.uint64((1 << 61) - 1)),
    32: (np.uint32, np.uint32((1 << 32) - 1), np.uint32((1 << 32) - 5)),
    16: (np.uint16, np.uint16((1 << 16) - 1), np.uint16((1 << 16) - 15)),
}


def _simpson(ys: np.ndarray, a: float, b: float) -> float:
    """Composite Simpson's rule over pre-evaluated samples; replaces
    scipy.integrate.quad (unavailable here). The integrands are smooth
    polynomials-of-powers on [0,1], so the error is far below the spacing of
    the (b, r) error lattice."""
    h = (b - a) / (len(ys) - 1)
    return float(h / 3 * (ys[0] + ys[-1] + 4 * ys[1:-1:2].sum() + 2 * ys[2:-1:2].sum()))


def optimal_param(
    threshold: float,
    num_perm: int,
    false_positive_weight: float = 0.5,
    false_negative_weight: float = 0.5,
    _n: int = 512,
) -> tuple[int, int]:
    """Minimize weighted FP/FN areas over (bands, rows) — reference
    ``minhash.py:18-76`` (datasketch ``optimal_param``), vectorized."""
    xs_fp = np.linspace(0.0, threshold, 2 * _n + 1)
    xs_fn = np.linspace(threshold, 1.0, 2 * _n + 1)
    min_error = float("inf")
    opt = (0, 0)
    for b in range(1, num_perm + 1):
        max_r = int(num_perm / b)
        for r in range(1, max_r + 1):
            # P(candidate | similarity s) = 1 - (1 - s^r)^b
            fp = _simpson(1.0 - (1.0 - xs_fp**r) ** b, 0.0, threshold)
            fn = _simpson((1.0 - xs_fn**r) ** b, threshold, 1.0)
            error = fp * false_positive_weight + fn * false_negative_weight
            if error < min_error:
                min_error = error
                opt = (b, r)
    return opt


@dataclass
class MinHashKernel:
    """Driver-built, picklable closure state for the fingerprint UDF."""

    num_perm: int
    ngram_size: int = 1
    min_length: int = 5
    threshold: float = 0.5
    hash_bits: int = 64
    hash_func_name: str = "xxh3"  # "xxh3" | "sha1" | "md5"
    seed: int = 42
    bands: int | None = None
    rows: int | None = None
    false_positive_weight: float = 0.5
    false_negative_weight: float = 0.5
    a: np.ndarray = field(init=False, repr=False)
    b: np.ndarray = field(init=False, repr=False)

    def __post_init__(self) -> None:
        if self.bands is None and self.rows is None:
            self.bands, self.rows = optimal_param(
                self.threshold,
                self.num_perm,
                self.false_positive_weight,
                self.false_negative_weight,
            )
        self.dtype, self.max_hash, self.modulo_prime = HASH_CONFIG[self.hash_bits]
        rng = np.random.RandomState(self.seed)
        # order matters: a then b, same bounds/dtype as minhash.py:164-171
        self.a = rng.randint(1, self.modulo_prime, size=(self.num_perm,), dtype=self.dtype)
        self.b = rng.randint(0, self.modulo_prime, size=(self.num_perm,), dtype=self.dtype)

    @property
    def hash_ranges(self) -> list[tuple[int, int]]:
        return [(i * self.rows, (i + 1) * self.rows) for i in range(self.bands)]

    def base_hash(self, data: bytes) -> int:
        if self.hash_func_name == "sha1":
            return sha1_hash(data, d=min(self.hash_bits, 32))
        if self.hash_func_name == "md5":
            from text_dedup_spark.kernels.hashfunc import md5_hash

            return md5_hash(data, d=min(self.hash_bits, 32))
        return xxh3_hash(data, seed=self.seed, bits=min(self.hash_bits, 32))

    def shingles(self, content: str) -> set[bytes]:
        return shingles(content, self.ngram_size, self.min_length)

    def signature(self, content: str) -> np.ndarray:
        """num_perm-long MinHash signature of one document."""
        tokens = self.shingles(content)
        hashvalues = np.array(
            [self.base_hash(t) for t in tokens], dtype=self.dtype
        ).reshape(len(tokens), 1)
        hashvalues = (hashvalues * self.a + self.b) % self.modulo_prime & self.max_hash
        masks = np.full(shape=self.num_perm, dtype=self.dtype, fill_value=self.max_hash)
        return np.vstack([hashvalues, masks]).min(axis=0)

    def band_values(self, signature: np.ndarray) -> list[bytes]:
        return [bytes(signature[s:e].byteswap().data) for (s, e) in self.hash_ranges]

    def embed(self, content: str) -> list[bytes]:
        """Per-doc list of ``bands`` band-value byte strings (band_idx = position)."""
        return self.band_values(self.signature(content))

    def embed_batch(self, contents: list[str]) -> list[list[bytes]]:
        return self.embed_batch_shingles([self.shingles(c) for c in contents])

    def _hash_shingle_batch(self, flat: list[bytes]) -> np.ndarray:
        """Base-hash a whole Arrow batch of shingles at once: xxh3 with a
        32-bit base (the hash_bits 64/32 configs) is one batch call
        (native, or the scalar spec without a compiler); other configs
        hash per shingle."""
        if self.hash_func_name == "xxh3" and min(self.hash_bits, 32) == 32:
            return (xxh3_64_batch(flat, self.seed) & np.uint64(0xFFFFFFFF)).astype(
                self.dtype
            )
        return np.fromiter(
            (self.base_hash(t) for t in flat), dtype=self.dtype, count=len(flat)
        )

    def _signature_from_hashes(self, h: np.ndarray, masks: np.ndarray) -> np.ndarray:
        if len(h) == 0:
            return masks
        # (h*a + b) % P & max — identical uint wraparound semantics to the
        # reference. Per-doc tile (~|shingles| x num_perm, a few hundred KB)
        # stays cache-resident: measured 2.8x faster than one batch-wide
        # matrix AND contention-free at 32-way worker concurrency (the big
        # matrix thrashes shared DRAM bandwidth).
        hv = np.multiply.outer(h.astype(self.dtype, copy=False), self.a)
        hv += self.b
        if self.hash_bits == 64:
            # Mersenne fold for P = 2**61-1 on the uint64-wrapped value:
            # 2**61 ≡ 1 (mod P), so x mod P == ((x >> 61) + (x & P)) with
            # one conditional subtract (the sum is <= P + 7). In-place with
            # a `where=`-masked subtract this is ~1.5x faster than `%=`
            # (0.30 vs 0.46 s on a 3k-doc probe, bit-equal asserted); the
            # branchless `y -= P*(y>=P)` form is 2x SLOWER than `%=` —
            # which is what an earlier round measured and rejected.
            hi = hv >> np.uint64(61)
            hv &= self.modulo_prime
            hv += hi
            np.subtract(hv, self.modulo_prime, out=hv,
                        where=hv >= self.modulo_prime)
        else:
            # 32/16-bit configs: non-Mersenne primes, narrow dtypes
            hv %= self.modulo_prime
        hv &= self.dtype(self.max_hash)
        return np.minimum(hv.min(axis=0), masks)

    def _batch_signatures(self, shingle_sets: list[set[bytes]], masks: np.ndarray):
        """Hash ALL shingles of the batch in one vectorized pass, then
        per-doc cache-tiled permute+min."""
        flat: list[bytes] = []
        offsets = [0]
        for s in shingle_sets:
            flat.extend(s)
            offsets.append(len(flat))
        hashes = self._hash_shingle_batch(flat)
        for i in range(len(shingle_sets)):
            yield self._signature_from_hashes(hashes[offsets[i] : offsets[i + 1]], masks)

    def embed_batch_shingles(self, shingle_sets: list[set[bytes]]) -> list[list[bytes]]:
        """Same outputs as per-doc ``embed`` (bit-for-bit), amortized over an
        Arrow batch (the reference wastes this with batch_size=1,
        ``minhash.py:42``)."""
        masks = np.full(shape=self.num_perm, dtype=self.dtype, fill_value=self.max_hash)
        return [self.band_values(sig) for sig in self._batch_signatures(shingle_sets, masks)]

    def _native_args(self) -> dict | None:
        """Keyword arguments of the native band-key entry points, or None
        when this config (or this host) takes the spec path."""
        if not (
            self.hash_func_name == "xxh3"
            and self.hash_bits in (32, 64)
            and minhash_native.available()
        ):
            return None
        n_used = self.bands * self.rows
        return dict(
            seed=self.seed,
            hash_bits=self.hash_bits,
            a=self.a[:n_used].astype(np.uint64),
            b=self.b[:n_used].astype(np.uint64),
            bands=self.bands,
            rows=self.rows,
        )

    def embed_batch_bandhash(self, shingle_sets: list[set[bytes]]) -> list[np.ndarray]:
        """Per-doc ``bands``-long int64 array of 64-bit band keys — the scale
        wire format. A band's key is the polynomial mix (mod 2**64) of its
        ``rows`` signature values, replacing the reference's band byte
        strings (``minhash.py:232-236``) as the LSH bucket identity: equal
        bands produce equal keys unconditionally (candidate recall is
        unaffected), distinct bands collide with p ~= 2**-64 per pair —
        at 10^12 docs x 32 bands that is ~10^4 spurious candidate pairs
        corpus-wide, absorbed by FP verification (or a ~1e-8 false-merge
        rate without it). vs the byte blobs: ~4x fewer bytes through Arrow,
        the fingerprint cache, and the band shuffle, and fixed-width int64
        group keys instead of binary comparators."""
        if not shingle_sets:
            return []
        native = self._native_args()
        if native is not None:
            buf, item_offsets = minhash_native.pack(
                [s for shingle_set in shingle_sets for s in shingle_set]
            )
            doc_items = np.zeros(len(shingle_sets) + 1, dtype=np.int64)
            np.cumsum([len(s) for s in shingle_sets], out=doc_items[1:])
            return list(
                minhash_native.minhash_bands_items(buf, item_offsets, doc_items, **native)
            )
        masks = np.full(shape=self.num_perm, dtype=self.dtype, fill_value=self.max_hash)
        sigs = list(self._batch_signatures(shingle_sets, masks))
        n_used = self.bands * self.rows
        m = (
            np.stack(sigs)[:, :n_used]
            .astype(np.uint64)
            .reshape(len(sigs), self.bands, self.rows)
        )
        h = np.zeros((len(sigs), self.bands), dtype=np.uint64)
        for k in range(self.rows):
            h = h * BAND_MIX_MULT + m[:, :, k]
        return list(h.view(np.int64))

    def band_keys_batch(self, contents) -> list[np.ndarray | None]:
        """The fingerprint UDF's body: per raw text (None reads as ""), its
        ``embed_batch_bandhash`` band keys, or None when it has fewer than
        ``min_length`` tokens (reference ``minhash.py:23-28``). Natively,
        one concatenated buffer per batch goes to C, which forms, hashes and
        permutes the n-grams: an all-ASCII doc (``str.isascii``, O(1))
        enters as its raw bytes and C tokenizes it (exact, see
        ``tokenization``); any other doc enters as its ``joined_tokens``.
        The choice is per doc: a doc's keys depend only on its own text, so
        one non-ASCII doc leaves the rest of its batch on the C path."""
        texts = [c if c is not None else "" for c in contents]
        native = self._native_args()
        if native is not None:
            is_ascii = [t.isascii() for t in texts]
            buf, offsets = minhash_native.pack(
                [t.encode() if a else joined_tokens(t) for t, a in zip(texts, is_ascii)]
            )
            keys, valid = minhash_native.minhash_bands(
                buf, offsets, np.array(is_ascii, dtype=np.uint8),
                self.ngram_size, self.min_length, **native,
            )
            return [k if ok else None for k, ok in zip(keys, valid, strict=True)]
        token_lists = [tokenize(t) for t in texts]
        keep = [i for i, t in enumerate(token_lists) if len(t) >= self.min_length]
        embedded = self.embed_batch_bandhash(
            [shingle_bytes(token_lists[i], self.ngram_size, self.min_length) for i in keep]
        )
        out: list[np.ndarray | None] = [None] * len(texts)
        for i, keys in zip(keep, embedded, strict=True):
            out[i] = keys
        return out
