"""Golden/property tests for the kernel library.

Ports the reference's test strategy (SURVEY.md §5): golden hash values from
``tests/test_utils/test_hashfunc.py`` and source doctests, the ngrams
edge-case table from ``tests/test_utils/test_tokenization.py``, SimHash
goldens from ``config/algorithms/simhash.py`` doctests, interval goldens from
``config/algorithms/suffix_array.py`` doctests.
"""

import numpy as np
import pytest

from tests.oracles import UnionFind, jaccard_similarity
from text_dedup_spark.kernels.hashfunc import (
    md5_digest,
    sha1_hash,
    sha256_digest,
    xxh3_hash,
)
from text_dedup_spark.kernels.intervals import (
    clean_up,
    merge_intervals,
    restore,
    restore_and_merge,
)
from text_dedup_spark.kernels.minhash_kernel import MinHashKernel, optimal_param
from text_dedup_spark.kernels.simhash_kernel import (
    SimHashKernel,
    compute,
    hamming_distance,
)
from text_dedup_spark.kernels.tokenization import ngrams, shingles, tokenize
from text_dedup_spark.kernels.xxh3 import _xxh3_64_py, _xxh3_128_py

M64 = (1 << 64) - 1


def _sanity_buffer(n: int) -> bytes:
    """Official xxHash sanity-test buffer (xsum_sanity_check.c)."""
    buf = bytearray(n)
    bg = 2654435761
    for i in range(n):
        buf[i] = (bg >> 56) & 0xFF
        bg = (bg * 11400714785074694797) & M64
    return bytes(buf)


class TestXXH3:
    # Official sanity vectors (public xxHash repo), covering every length
    # class: 0, 4-8, 9-16, 17-128, 129-240, >240 one block, >240 multi-block.
    VECTORS_64 = {
        0: 0x2D06800538D394C2,
        6: 0x27B56A84CD2D7325,
        12: 0xA713DAF0DFBB77E7,
        24: 0xA3FE70BF9D3510EB,
        48: 0x397DA259ECBA1F11,
        80: 0xBCDEFBBB2C47C90A,
        195: 0xCD94217EE362EC3A,
        403: 0xCDEB804D65C6DEA4,
        512: 0x617E49599013CB6B,
        2048: 0xDD59E2C3A5F038E0,
        2240: 0x6E73A90539CF2948,
        2367: 0xCB37AEB9E5D361ED,
    }
    VECTORS_128 = {
        0: (0x6001C324468D497F, 0x99AA06D3014798D8),
        24: (0x1E7044D28B1B901D, 0x0CE966E4678D3761),
        48: (0xF942219AED80F67B, 0xA002AC4E5478227E),
        81: (0x5E8BAFB9F95FB803, 0x4952F58181AB0042),
        222: (0xF1AEBD597CEC6B3A, 0x337E09641B948717),
        403: (0xCDEB804D65C6DEA4, 0x1B6DE21E332DD73D),
        512: (0x617E49599013CB6B, 0x18D2D110DCC9BCA1),
        2048: (0xDD59E2C3A5F038E0, 0xF736557FD47073A5),
        2240: (0x6E73A90539CF2948, 0xCCB134FBFA7CE49D),
        2367: (0xCB37AEB9E5D361ED, 0xE89C0F6FF369B427),
    }

    def test_xxh3_64_sanity_vectors(self):
        buf = _sanity_buffer(2367)
        for n, exp in self.VECTORS_64.items():
            assert _xxh3_64_py(buf[:n]) == exp, f"len={n}"

    def test_xxh3_128_sanity_vectors(self):
        buf = _sanity_buffer(2367)
        for n, (lo, hi) in self.VECTORS_128.items():
            got = _xxh3_128_py(buf[:n])
            assert (got & M64, got >> 64) == (lo, hi), f"len={n}"

    def test_xxh3_seed_changes_output(self):
        for data in [b"", b"abc", b"x" * 20, b"y" * 300]:
            assert _xxh3_64_py(data, 0) != _xxh3_64_py(data, 42)
            assert _xxh3_128_py(data, 0) != _xxh3_128_py(data, 42)

    def test_xxh3_deterministic_all_length_classes(self):
        buf = _sanity_buffer(400)
        for n in [0, 1, 2, 3, 4, 8, 9, 16, 17, 128, 129, 240, 241, 400]:
            assert _xxh3_64_py(buf[:n], 7) == _xxh3_64_py(bytes(buf[:n]), 7)

    def test_xxh3_32_is_low_32_of_64(self):
        # reference tests/test_utils/test_hashfunc.py:73
        for data in [b"hello world", b"", b"a"]:
            assert xxh3_hash(data, seed=1, bits=32) == xxh3_hash(data, seed=1, bits=64) & 0xFFFFFFFF


class TestHashFunc:
    def test_md5_hash_goldens_and_duckdb_equivalence(self):
        import duckdb

        from text_dedup_spark.kernels.hashfunc import md5_hash

        assert md5_hash(b"abc", 32) == 2555380112
        assert md5_hash(b"abc", 64) == 12704604231530709392
        # the convention that makes minhash_dedup_md5 SQL-oracle-able:
        # md5_hash(x, 32) == duckdb md5_number_upper(x) % 2^32
        con = duckdb.connect()
        for probe in (b"abc", b"hello world", b"tok1 tok2"):
            duck = con.execute(
                "SELECT CAST(md5_number_upper(?) AS HUGEINT) % 4294967296", [probe.decode()]
            ).fetchone()[0]
            assert md5_hash(probe, 32) == int(duck)

    def test_sha1_hash_goldens(self):
        # reference utils/hashfunc.py:80-87 doctests
        assert sha1_hash(b"hello world", 32) == 896314922
        assert sha1_hash(b"hello world", 64) == 13028719972609469994
        assert sha1_hash(b"hello world", 128) == 310522945683037930239412421226792791594

    def test_md5_golden(self):
        # reference tests/test_utils/test_hashfunc.py golden
        assert md5_digest(b"hello world") == "5eb63bbbe01eeed093cb22bb8f5acdc3"

    def test_sha256_hex_len(self):
        assert len(sha256_digest(b"abc")) == 64


class TestTokenization:
    def test_tokenize_unicode_lower(self):
        assert tokenize("Hello, World!") == ["hello", "world"]
        assert tokenize("") == []
        # \W in the regex module is Unicode-aware: é is a word char
        assert tokenize("Café au lait") == ["café", "au", "lait"]

    @pytest.mark.parametrize(
        ("seq", "n", "min_length", "expected"),
        [
            # reference tests/test_utils/test_tokenization.py edge table
            (["a", "b", "c", "d", "e"], 2, 5, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]),
            (["a", "b"], 2, 5, []),  # shorter than min_length -> empty
            (["a", "b"], 5, 2, [("a", "b")]),  # shorter than n -> one tuple
            ([], 2, 0, [()]),  # empty, min_length 0 -> single empty tuple
            (["a"], 1, 1, [("a",)]),
            (["a", "b", "c"], 1, 3, [("a",), ("b",), ("c",)]),
        ],
    )
    def test_ngrams_edge_cases(self, seq, n, min_length, expected):
        assert list(ngrams(seq, n, min_length)) == expected

    def test_shingles_distinct_bytes(self):
        s = shingles("the cat the cat the cat sat", 2, 5)
        assert all(isinstance(x, bytes) for x in s)
        assert b"the cat" in s and b"cat the" in s and b"cat sat" in s
        assert len(s) == 3

    @pytest.mark.parametrize("n", [1, 2, 3, 4])
    @pytest.mark.parametrize("min_length", [0, 2, 5])
    def test_shingle_bytes_equals_ngram_join_form(self, n, min_length):
        """The zip-based fast path (round-6 fingerprint optimization) must
        reproduce the definitional ngrams-join form on every edge class:
        empty, shorter-than-min_length, shorter-than-n, exact-n, long, and
        duplicate-heavy inputs."""
        from text_dedup_spark.kernels.tokenization import shingle_bytes

        cases = [
            [],
            ["a"],
            ["a", "b"],
            ["a", "b", "c"],
            ["a", "b", "c", "d"],
            list("abcdefghij"),
            ["x"] * 7,  # duplicate grams collapse identically
            ["the", "cat", "the", "cat", "sat"],
        ]
        for toks in cases:
            expected = {
                " ".join(g).encode("utf-8") for g in ngrams(toks, n, min_length)
            }
            assert shingle_bytes(toks, n, min_length) == expected, (toks, n, min_length)


class TestJaccard:
    def test_empty_union_is_one(self):
        assert jaccard_similarity(set(), set()) == 1.0

    def test_basic(self):
        assert jaccard_similarity({1, 2}, {2, 3}) == pytest.approx(1 / 3)
        assert jaccard_similarity({1}, {1}) == 1.0
        assert jaccard_similarity({1}, {2}) == 0.0


class TestOptimalParam:
    def test_product_bounded_and_deterministic(self):
        # reference tests/test_config/test_algorithms/test_minhash_components.py:107-114
        for threshold, num_perm in [(0.5, 200), (0.45, 256), (0.7, 64), (0.8, 128)]:
            b, r = optimal_param(threshold, num_perm)
            assert b * r <= num_perm
            assert b >= 1 and r >= 1
            assert (b, r) == optimal_param(threshold, num_perm)

    def test_known_datasketch_value(self):
        # datasketch's optimal_param(0.5, 128) == (25, 5) is widely reproduced
        assert optimal_param(0.5, 128) == (25, 5)


class TestMinHashKernel:
    def test_signature_shape_and_determinism(self):
        k = MinHashKernel(num_perm=32, ngram_size=2, min_length=2, threshold=0.5)
        sig1 = k.signature("the quick brown fox jumps over the lazy dog")
        sig2 = k.signature("the quick brown fox jumps over the lazy dog")
        assert sig1.shape == (32,)
        assert np.array_equal(sig1, sig2)
        assert sig1.dtype == np.uint64

    def test_permutation_generation_matches_reference_order(self):
        # a then b from the same RandomState(seed) — minhash.py:164-171
        k = MinHashKernel(num_perm=8, seed=42)
        rng = np.random.RandomState(42)
        a = rng.randint(1, np.uint64((1 << 61) - 1), size=(8,), dtype=np.uint64)
        b = rng.randint(0, np.uint64((1 << 61) - 1), size=(8,), dtype=np.uint64)
        assert np.array_equal(k.a, a)
        assert np.array_equal(k.b, b)

    def test_band_bytes_byteswapped(self):
        k = MinHashKernel(num_perm=8, bands=2, rows=4, min_length=1, ngram_size=1)
        sig = k.signature("alpha beta gamma delta")
        bands = k.band_values(sig)
        assert len(bands) == 2
        assert bands[0] == bytes(sig[0:4].byteswap().data)
        assert len(bands[0]) == 4 * 8

    def test_embed_batch_equals_per_doc(self):
        k = MinHashKernel(num_perm=16, bands=4, rows=4, ngram_size=2, min_length=3)
        docs = [
            "the quick brown fox jumps over the lazy dog",
            "pack my box with five dozen liquor jugs",
            "",  # empty -> all-max signature
            "one two three four five six seven",
        ]
        batch = k.embed_batch(docs)
        for doc, got in zip(docs, batch, strict=True):
            assert got == k.embed(doc)

    def test_similar_docs_share_bands(self):
        k = MinHashKernel(num_perm=64, threshold=0.5, ngram_size=2, min_length=3)
        a = k.embed("the quick brown fox jumps over the lazy dog and runs away fast")
        b = k.embed("the quick brown fox jumps over the lazy dog and runs away quickly")
        c = k.embed("completely different words appear inside this unrelated sentence here now")
        assert any(x == y for x, y in zip(a, b, strict=True))
        assert not any(x == y for x, y in zip(a, c, strict=True))

    def test_mersenne_fold_matches_modulo(self):
        """Round-6: the 64-bit config's permute uses a shift-add Mersenne
        fold instead of `%` — pin bit-equality against the definitional
        modulo over random hash batches, including the wraparound-heavy
        region near 2**64 (the per-doc `signature()` path still uses `%`,
        so `test_embed_batch_equals_per_doc` cross-checks this end to end)."""
        import numpy as np

        from text_dedup_spark.kernels.minhash_kernel import MinHashKernel

        k = MinHashKernel(num_perm=32, ngram_size=2, min_length=5, threshold=0.5)
        masks = np.full(shape=k.num_perm, dtype=k.dtype, fill_value=k.max_hash)
        rng = np.random.RandomState(3)
        for _ in range(5):
            h = rng.randint(0, 1 << 32, size=200).astype(np.uint64)
            ref = (np.multiply.outer(h, k.a) + k.b) % k.modulo_prime & k.dtype(
                k.max_hash
            )
            expected = np.minimum(ref.min(axis=0), masks)
            assert np.array_equal(k._signature_from_hashes(h, masks), expected)

    def test_16bit_config(self):
        k = MinHashKernel(num_perm=8, bands=2, rows=4, hash_bits=16, min_length=1)
        sig = k.signature("alpha beta gamma")
        assert sig.dtype == np.uint16

    def test_sha1_variant(self):
        k = MinHashKernel(num_perm=8, bands=2, rows=4, hash_func_name="sha1", min_length=1)
        assert k.base_hash(b"hello world") == 896314922


class TestSimHash:
    def test_compute_golden(self):
        # reference config/algorithms/simhash.py:240-253 doctest
        assert compute([13352372148217134600, 5020219685658847592], 64) == 74633958390507528

    def test_hamming(self):
        # reference simhash.py doctests (bitarray "1010" vs "0010")
        assert hamming_distance(0b1010, 0b1010) == 0
        assert hamming_distance(0b1010, 0b0010) == 1

    def test_default_has_four_permutations(self):
        # reference create_permutations doctest: default f=64,b=4,k=3 -> 4
        k = SimHashKernel()
        assert len(k.perms) == 4

    def test_permutation_roundtrip(self):
        # reference simhash.py:418-426 invariant: reverse(permute(x)) == x
        rng = np.random.RandomState(0)
        for kernel in [SimHashKernel(), SimHashKernel(f=64, bit_diff=7, num_bucket=8),
                       SimHashKernel(f=64, bit_diff=12, num_bucket=13)]:
            for _ in range(20):
                x = int(rng.randint(0, 1 << 62)) | (int(rng.randint(0, 1 << 62)) << 2)
                x &= (1 << kernel.f) - 1
                for p in kernel.perms:
                    assert p.reverse(p.permute(x)) == x

    def test_search_masks_partition_variants(self):
        # b=13, k=12 (NEWS benchmark config) -> 13 single-block tables
        k = SimHashKernel(f=64, bit_diff=12, num_bucket=13)
        assert len(k.perms) == 13
        widths = k.perms[0].widths
        assert sum(widths) == 64
        assert max(widths) == 5 and min(widths) == 4

    def test_empty_doc_zero_fingerprint(self):
        k = SimHashKernel(min_length=5)
        assert k.fingerprint("a b") == 0  # < min_length tokens -> no shingles

    def test_embed_key_shapes(self):
        k = SimHashKernel(ngram_size=2, min_length=2)
        sig, keys = k.embed("the quick brown fox jumps")
        assert len(sig) == 8
        assert len(keys) == 4
        for mask, val in keys:
            assert len(mask) == 8 and len(val) == 8
            # masked value must be inside the mask
            m = int.from_bytes(mask, "big")
            v = int.from_bytes(val, "big")
            assert v & ~m == 0

    def test_fingerprint_batch_null_guard_all_configs(self):
        """A None text must fingerprint as "" (all-zero sig) in EVERY config
        branch — the md5 / f=128 fallback used to raise AttributeError on
        tokenize(None.lower())."""
        for k in [
            SimHashKernel(),  # xxh3 f=64 fast path
            SimHashKernel(hash_func_name="md5"),  # md5 fallback
            SimHashKernel(f=128, bit_diff=3, num_bucket=4),  # f!=64 fallback
        ]:
            sigs = k.fingerprint_batch([None, "the quick brown fox jumps over dogs"])
            assert sigs[0] == 0
            assert sigs[1] == k.fingerprint("the quick brown fox jumps over dogs")

    def test_similar_docs_low_hamming(self):
        k = SimHashKernel(ngram_size=3, min_length=3)
        a = k.fingerprint("the quick brown fox jumps over the lazy dog near the river bank")
        b = k.fingerprint("the quick brown fox jumps over the lazy dog near the river edge")
        c = k.fingerprint("astronomy telescopes capture distant galaxies through long exposure imaging sensors")
        assert hamming_distance(a, b) < hamming_distance(a, c)


class TestIntervals:
    def test_merge_overlapping_golden(self):
        # suffix_array.py doctests
        xs = [slice(i, i + 10) for i in range(8)]
        xs[-1] = slice(7, 21)
        assert merge_intervals(xs, "overlapping") == [slice(0, 21)]

    def test_merge_longest_golden(self):
        xs = [slice(i, i + 10) for i in range(7)] + [slice(7, 21)]
        assert merge_intervals(xs, "longest") == xs

    def test_merge_touching_and_contained(self):
        assert merge_intervals([slice(0, 2), slice(2, 4), slice(4, 5)], "overlapping") == [slice(0, 5)]
        assert merge_intervals([slice(0, 4), slice(2, 4), slice(4, 5)], "longest") == [slice(0, 4), slice(4, 5)]
        assert merge_intervals([slice(0, 10)] * 5) == [slice(0, 10)]

    def test_restore_golden(self):
        got = list(
            restore(
                [slice(0, 10), slice(10, 20)],
                [slice(0, 5), slice(5, 10), slice(5, 15), slice(5, 19)],
            )
        )
        assert got == [(0, slice(0, 5)), (0, slice(5, 10)), (1, slice(0, 5)), (1, slice(0, 9))]

    def test_restore_and_merge_goldens(self):
        res, size = restore_and_merge(
            [slice(0, 10), slice(10, 20)],
            [slice(0, 5), slice(5, 10), slice(12, 19)],
            5,
            "longest",
        )
        assert res == [[slice(0, 5), slice(5, 10)], [slice(2, 9)]]
        assert size == 17
        res2, size2 = restore_and_merge(
            [slice(0, 10), slice(10, 20)],
            [slice(0, 5), slice(5, 10), slice(12, 19)],
            5,
            "overlapping",
        )
        assert res2 == [[slice(0, 10)], [slice(2, 9)]]
        assert size2 == 17

    def test_clean_up_golden(self):
        assert clean_up("This is a test.", [slice(0, 4), slice(5, 7)]) == "  a test."


class TestUnionFind:
    def test_union_and_min_labels(self):
        uf = UnionFind()
        uf.union(1, 2)
        uf.union(2, 3)
        uf.union(10, 11)
        clusters = uf.get_clusters()
        assert clusters[1] == clusters[2] == clusters[3] == 1
        assert clusters[10] == clusters[11] == 10

    def test_idempotent_union(self):
        uf = UnionFind()
        uf.union(5, 6)
        uf.union(5, 6)
        uf.union(6, 5)
        assert uf.find(5) == uf.find(6)


class TestXXH3Vectorized:
    def test_matches_scalar_all_lengths(self):
        """The native batch hash must be byte-identical to the scalar spec
        impl for every length class, the >240-byte striped long path (inside
        the first 1 KiB block and across several) included, at seeds that take the default
        secret (0), a custom one (42) and the top bit (2**63 + 5)."""
        from text_dedup_spark.kernels import minhash_native

        if not minhash_native.available():
            pytest.skip(f"native kernel unavailable: {minhash_native.load_error()}")
        rng = np.random.RandomState(123)
        strings = [
            rng.randint(0, 256, size=length).astype(np.uint8).tobytes()
            for length in list(range(0, 242)) + [300, 999, 5000]
        ]
        buf, offsets = minhash_native.pack(strings)
        for seed in (0, 42, 2**63 + 5):
            got = minhash_native.xxh3_64_batch(buf, offsets, seed)
            exp = np.array([_xxh3_64_py(s, seed) for s in strings], dtype=np.uint64)
            assert np.array_equal(got, exp), f"seed={seed}"
