"""Property-based tests (hypothesis) for kernel invariants."""

from hypothesis import given, settings
from hypothesis import strategies as st

from tests.oracles import jaccard_similarity
from text_dedup_spark.kernels.intervals import clean_up, merge_intervals
from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
from text_dedup_spark.kernels.simhash_kernel import SimHashKernel, hamming_distance
from text_dedup_spark.kernels.tokenization import ngrams, tokenize
from text_dedup_spark.kernels.xxh3 import _xxh3_64_py, _xxh3_128_py

_MINHASH = MinHashKernel(num_perm=16, bands=4, rows=4, ngram_size=2, min_length=2)
_SIMHASH = SimHashKernel(f=64, bit_diff=3, num_bucket=4, ngram_size=2, min_length=2)


class TestXXH3Properties:
    @given(st.binary(max_size=600), st.integers(min_value=0, max_value=2**63))
    @settings(max_examples=60, deadline=None)
    def test_deterministic_and_width(self, data, seed):
        a = _xxh3_64_py(data, seed)
        assert a == _xxh3_64_py(data, seed)
        assert 0 <= a < 2**64
        b = _xxh3_128_py(data, seed)
        assert 0 <= b < 2**128

    @given(st.binary(min_size=1, max_size=300))
    @settings(max_examples=30, deadline=None)
    def test_append_changes_hash(self, data):
        assert _xxh3_64_py(data) != _xxh3_64_py(data + b"\x00")


class TestTokenizationProperties:
    @given(st.text(max_size=300))
    @settings(max_examples=60, deadline=None)
    def test_tokens_nonempty_lowercase(self, text):
        toks = tokenize(text)
        assert all(t and t == t.lower() for t in toks)

    @given(st.lists(st.text(alphabet="abc", min_size=1, max_size=3), max_size=12),
           st.integers(1, 5), st.integers(0, 6))
    @settings(max_examples=80, deadline=None)
    def test_ngram_count_formula(self, seq, n, min_length):
        got = list(ngrams(seq, n, min_length))
        if len(seq) < min_length:
            assert got == []
        elif len(seq) < n:
            assert got == [tuple(seq)]
        else:
            assert len(got) == len(seq) - n + 1


class TestMinHashProperties:
    @given(st.text(alphabet="abcdefg ", min_size=0, max_size=200))
    @settings(max_examples=40, deadline=None)
    def test_signature_bounds(self, text):
        sig = _MINHASH.signature(text)
        assert (sig <= _MINHASH.max_hash).all()

    @given(st.text(alphabet="abcdefg ", min_size=0, max_size=100),
           st.text(alphabet="abcdefg ", min_size=0, max_size=100))
    @settings(max_examples=40, deadline=None)
    def test_identical_texts_identical_bands(self, a, b):
        ea, eb = _MINHASH.embed(a), _MINHASH.embed(b)
        if a == b:
            assert ea == eb
        if _MINHASH.shingles(a) == _MINHASH.shingles(b):
            assert ea == eb  # signature is a pure function of the shingle set


class TestSimHashProperties:
    @given(st.text(alphabet="abcdef ", max_size=150))
    @settings(max_examples=40, deadline=None)
    def test_fingerprint_width_and_key_consistency(self, text):
        sig, keys = _SIMHASH.embed(text)
        assert len(sig) == 8 and len(keys) == len(_SIMHASH.perms)
        x = int.from_bytes(sig, "big")
        for p, (mask_b, val_b) in zip(_SIMHASH.perms, keys, strict=True):
            assert int.from_bytes(val_b, "big") == p.permute(x) & p.search_mask

    @given(st.integers(0, 2**64 - 1), st.integers(0, 2**64 - 1))
    @settings(max_examples=60, deadline=None)
    def test_hamming_metric(self, a, b):
        assert hamming_distance(a, a) == 0
        assert hamming_distance(a, b) == hamming_distance(b, a)
        assert 0 <= hamming_distance(a, b) <= 64


class TestIntervalProperties:
    slices = st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 30)).map(lambda t: slice(t[0], t[0] + t[1])),
        max_size=12,
    )

    @given(slices)
    @settings(max_examples=60, deadline=None)
    def test_overlapping_merge_disjoint_sorted(self, xs):
        merged = merge_intervals(xs, "overlapping")
        for a, b in zip(merged, merged[1:], strict=False):
            assert a.stop < b.start  # strictly disjoint, ordered
        # coverage preserved
        cover = set()
        for s in xs:
            cover.update(range(s.start, s.stop))
        mcover = set()
        for s in merged:
            mcover.update(range(s.start, s.stop))
        assert cover == mcover

    @given(slices)
    @settings(max_examples=40, deadline=None)
    def test_clean_up_removes_covered_bytes(self, xs):
        text = "x" * 100
        merged = merge_intervals(xs, "overlapping")
        clipped = [slice(s.start, min(s.stop, 100)) for s in merged if s.start < 100]
        out = clean_up(text, clipped)
        removed = sum(s.stop - s.start for s in clipped)
        assert len(out.encode()) == 100 - removed


class TestJaccardProperties:
    @given(st.sets(st.integers(0, 20)), st.sets(st.integers(0, 20)))
    @settings(max_examples=80, deadline=None)
    def test_bounds_and_symmetry(self, a, b):
        j = jaccard_similarity(a, b)
        assert 0.0 <= j <= 1.0
        assert j == jaccard_similarity(b, a)
        assert jaccard_similarity(a, a) == 1.0


class TestSuffixArrayProperties:
    """Property pins for the SA/LCP kernel across alphabet entropies —
    low-entropy inputs stress the doubling tie classes and the width-7
    packed start; the brute-force comparisons are the ground truth."""

    @given(st.binary(min_size=0, max_size=300))
    @settings(max_examples=60, deadline=None)
    def test_sa_is_sorted_suffixes(self, data):
        from text_dedup_spark.kernels.suffix_array_kernel import build_suffix_array

        sa = list(build_suffix_array(data))
        assert sa == sorted(range(len(data)), key=lambda i: data[i:])

    @given(st.text(alphabet="ab", min_size=0, max_size=300).map(str.encode))
    @settings(max_examples=60, deadline=None)
    def test_low_entropy_lcp_matches_bruteforce(self, data):
        from text_dedup_spark.kernels.suffix_array_kernel import suffix_and_lcp_arrays

        sa, lcp = suffix_and_lcp_arrays(data)
        n = len(data)
        for r in range(1, n):
            a, b = data[sa[r - 1]:], data[sa[r]:]
            expect = 0
            while expect < min(len(a), len(b)) and a[expect] == b[expect]:
                expect += 1
            assert lcp[r] == expect, (r, sa[r - 1], sa[r])

    @given(st.binary(min_size=1, max_size=200), st.integers(2, 40))
    @settings(max_examples=40, deadline=None)
    def test_duplicate_ranges_cover_exactly_duplicated_windows(self, data, k):
        """Coverage union == union of all duplicated k-windows (the identity
        the driver's suffix oracle relies on)."""
        from collections import Counter

        from text_dedup_spark.kernels.suffix_array_kernel import duplicate_byte_ranges

        n = len(data)
        counts = Counter(data[i : i + k] for i in range(n - k + 1))
        expected = set()
        for i in range(n - k + 1):
            if counts[data[i : i + k]] > 1:
                expected.update(range(i, i + k))
        got = set()
        for s in duplicate_byte_ranges(data, k):
            got.update(range(s.start, s.stop))
        assert got == expected
