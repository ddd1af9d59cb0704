"""Native MinHash kernel (minhash_native.c) against the pure-Python spec.

The spec is the per-doc ``MinHashKernel.signature`` (scalar xxh3 from
kernels/xxh3.py, definitional ``%`` permutation) followed by the band-key
mix in Python integers; the fallback the kernel takes without a compiler is
checked against the native path on the same inputs.
"""

import subprocess
import sys
import zipfile
from pathlib import Path

import numpy as np
import pytest

from text_dedup_spark.kernels import minhash_native, native
from text_dedup_spark.kernels.hashfunc import xxh3_64_batch
from text_dedup_spark.kernels.minhash_kernel import BAND_MIX_MULT, MinHashKernel
from text_dedup_spark.kernels.simhash_kernel import SimHashKernel
from text_dedup_spark.kernels.tokenization import joined_tokens, shingles, tokenize
from text_dedup_spark.kernels.xxh3 import _xxh3_64_py

REPO = Path(__file__).resolve().parent.parent

requires_native = pytest.mark.skipif(
    not minhash_native.available(),
    reason=f"native kernel unavailable: {minhash_native.load_error()}",
)

# (ngram_size, min_length): the configs' (2, 5) and (3, 5), unigrams, an
# empty doc that still fingerprints (min_length 0 -> one b"" shingle),
# docs shorter than the n-gram, and a wide n-gram over long tokens
SHAPES = [(1, 5), (2, 5), (3, 5), (2, 0), (3, 1), (1, 0), (7, 2)]


def _disable_native(monkeypatch) -> None:
    """The host without a compiler: the loader fails, every caller must take
    the spec path."""

    def fail(name):
        raise RuntimeError("no C compiler")

    monkeypatch.setattr(native, "build_or_load", fail)
    monkeypatch.setattr(minhash_native, "_lib", None)
    monkeypatch.setattr(minhash_native, "_load_error", None)
    assert not minhash_native.available()


@pytest.fixture
def no_native(monkeypatch):
    _disable_native(monkeypatch)


def _random_corpus(seed: int, n_docs: int = 40) -> list[str | None]:
    rng = np.random.RandomState(seed)
    vocab = (
        ["the", "a", "of", "dedup", "x", "42", "naïve", "straße", "日本語", "テスト",
         "ελληνικά", "emoji😀", "İstanbul", "ǅemal", "ﬁne"]
        + ["w" * int(n) for n in rng.randint(100, 300, size=4)]  # >240-byte n-grams
    )
    seps = [" ", "  ", ", ", "\n", "—", "...", "\t!"]
    docs: list[str | None] = [None, "", " ", "!!", "one", "two words", "ÉCOLE"]
    for _ in range(n_docs):
        n = int(rng.randint(0, 30))
        words = [vocab[i] for i in rng.randint(0, len(vocab), size=n)]
        docs.append("".join(w + seps[rng.randint(len(seps))] for w in words))
    return docs


WORD_BYTES = set(b"0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ_")


def _ascii_corpus(seed: int, n_docs: int = 60) -> list[str]:
    """Random docs over all 128 ASCII code points, word bytes weighted up so
    the docs hold tokens of every length, separators of every kind (NUL and
    the other control bytes included) and runs of them."""
    rng = np.random.RandomState(seed)
    word = np.array(sorted(WORD_BYTES))
    docs = []
    for _ in range(n_docs):
        n = int(rng.randint(0, 120))
        codes = np.where(rng.rand(n) < 0.7, rng.choice(word, n), rng.randint(0, 128, n))
        docs.append(bytes(codes.astype(np.uint8)).decode("ascii"))
    return docs


def _spec_keys(k: MinHashKernel, text: str | None) -> np.ndarray | None:
    text = text if text is not None else ""
    if len(tokenize(text)) < k.min_length:
        return None
    sig = k.signature(text)
    keys = []
    for i in range(k.bands):
        key = 0
        for v in sig[i * k.rows : (i + 1) * k.rows]:
            key = (key * int(BAND_MIX_MULT) + int(v)) % 2**64
        keys.append(key)
    return np.array(keys, dtype=np.uint64).view(np.int64)


def _assert_same(got, exp):
    assert len(got) == len(exp)
    for i, (g, e) in enumerate(zip(got, exp, strict=True)):
        if e is None:
            assert g is None, f"doc {i}: expected no fingerprint"
        else:
            assert g is not None and np.array_equal(g, e), f"doc {i}"


def test_joined_tokens_is_the_join_of_tokenize():
    for t in _random_corpus(5)[1:]:
        jt = joined_tokens(t)
        assert jt == " ".join(tokenize(t)).encode("utf-8")
        assert b"  " not in jt


def test_ascii_tokenizer_spec_is_the_regex_tokenizer():
    """The equivalence the native ASCII tokenizer rests on, checked on all
    128 code points: ``str.lower`` changes only A-Z, and the regex Unicode
    ``\\W`` splits exactly on the bytes outside [0-9A-Za-z_]."""
    for c in range(128):
        ch = chr(c)
        assert ch.lower() == (chr(c | 0x20) if ch.isupper() else ch)
        assert ch.isupper() == (65 <= c <= 90)
        assert tokenize(f"a{ch}b") == (["a" + ch.lower() + "b"] if c in WORD_BYTES else ["a", "b"])


@requires_native
@pytest.mark.parametrize("ngram_size,min_length", SHAPES + [(10**6, 0)])
def test_ascii_docs_match_spec_and_joined_tokens(ngram_size, min_length):
    """Raw ASCII text tokenized in C gives the band keys of the spec and of
    its ``joined_tokens`` buffer. With an n-gram wider than every doc, each
    doc's one shingle is its whole joined buffer, so equal keys pin the C
    tokenizer's bytes to ``joined_tokens``'s."""
    k = MinHashKernel(
        num_perm=24, bands=5, rows=4, ngram_size=ngram_size, min_length=min_length,
    )
    corpus = _ascii_corpus(ngram_size % 97 + min_length)
    got = k.band_keys_batch(corpus)
    _assert_same(got, [_spec_keys(k, t) for t in corpus])
    buf, offsets = minhash_native.pack([joined_tokens(t) for t in corpus])
    keys, valid = minhash_native.minhash_bands(
        buf, offsets, np.zeros(len(corpus), dtype=np.uint8),
        k.ngram_size, k.min_length, **k._native_args(),
    )
    _assert_same(got, [key if ok else None for key, ok in zip(keys, valid, strict=True)])


@requires_native
@pytest.mark.parametrize("ngram_size,min_length", [(1, 5), (2, 5), (3, 0), (7, 2)])
def test_mixed_ascii_and_non_ascii_batch(ngram_size, min_length):
    """The raw-or-tokenized choice is per doc: interleaved ASCII and
    non-ASCII docs each get their spec keys, the same as alone in a batch."""
    k = MinHashKernel(
        num_perm=24, bands=5, rows=4, ngram_size=ngram_size, min_length=min_length,
    )
    ascii_docs, other = _ascii_corpus(3, n_docs=30), _random_corpus(4, n_docs=30)
    corpus = [d for pair in zip(ascii_docs, other, strict=False) for d in pair]
    assert any(t.isascii() for t in corpus if t) and not all(t.isascii() for t in corpus if t)
    got = k.band_keys_batch(corpus)
    _assert_same(got, [_spec_keys(k, t) for t in corpus])
    _assert_same(got, [k.band_keys_batch([t])[0] for t in corpus])


@requires_native
@pytest.mark.parametrize("min_length", [0, 1, 2])
def test_none_empty_and_separator_only_docs(min_length):
    k = MinHashKernel(num_perm=8, bands=2, rows=4, ngram_size=2, min_length=min_length)
    separators = "".join(chr(c) for c in range(128) if c not in WORD_BYTES)
    corpus = [None, "", " ", "!!!", "\x00", separators, separators + "_" + separators]
    got = k.band_keys_batch(corpus)
    _assert_same(got, [_spec_keys(k, t) for t in corpus])
    if min_length == 0:  # no tokens: the one empty shingle, as "" gets
        assert all(np.array_equal(g, got[1]) for g in got[:6])
    assert (got[6] is None) == (min_length == 2)  # "_" is a token


@requires_native
@pytest.mark.parametrize("ngram_size", [1, 2, 3])
@pytest.mark.parametrize("min_length", [0, 1, 3, 5])
def test_min_length_boundaries(ngram_size, min_length):
    """Docs of min_length - 1, min_length and min_length + 1 tokens, with
    separator runs at both ends and between tokens, ASCII and not."""
    k = MinHashKernel(
        num_perm=16, bands=4, rows=4, ngram_size=ngram_size, min_length=min_length,
    )
    corpus = []
    for n in range(max(min_length - 1, 0), min_length + 2):
        words = [f"W{i}_x" for i in range(n)]
        corpus += [" ".join(words), "-- " + ",\t".join(words) + " !", "é " + " ".join(words)]
    got = k.band_keys_batch(corpus)
    _assert_same(got, [_spec_keys(k, t) for t in corpus])
    for t, g in zip(corpus, got, strict=True):
        assert (g is None) == (len(tokenize(t)) < min_length)


@requires_native
@pytest.mark.parametrize("hash_bits", [64, 32])
@pytest.mark.parametrize("ngram_size,min_length", SHAPES)
def test_band_keys_match_spec(ngram_size, min_length, hash_bits):
    k = MinHashKernel(
        num_perm=24, bands=5, rows=4, ngram_size=ngram_size,
        min_length=min_length, hash_bits=hash_bits,
    )
    corpus = _random_corpus(ngram_size * 10 + min_length)
    expected = [_spec_keys(k, t) for t in corpus]
    _assert_same(k.band_keys_batch(corpus), expected)
    kept = [t if t is not None else "" for t, e in zip(corpus, expected, strict=True) if e is not None]
    _assert_same(
        k.embed_batch_bandhash([k.shingles(t) for t in kept]),
        [e for e in expected if e is not None],
    )


@requires_native
def test_empty_doc_with_min_length_zero_hashes_one_empty_shingle():
    k = MinHashKernel(num_perm=8, bands=2, rows=4, ngram_size=2, min_length=0)
    assert shingles("", 2, 0) == {b""}
    (got,) = k.band_keys_batch([""])
    assert np.array_equal(got, _spec_keys(k, ""))
    assert np.array_equal(k.band_keys_batch(["  ?!  "])[0], got)  # no tokens either


@requires_native
@pytest.mark.parametrize("ngram_size,min_length", [(2, 5), (3, 0), (7, 2)])
def test_forced_fallback_gives_identical_keys(ngram_size, min_length, monkeypatch):
    k = MinHashKernel(num_perm=200, bands=50, rows=4, ngram_size=ngram_size, min_length=min_length)
    corpus = _random_corpus(7, n_docs=25) + _ascii_corpus(8, n_docs=25)
    sets = [k.shingles(t or "") for t in corpus]
    got, got_sets = k.band_keys_batch(corpus), k.embed_batch_bandhash(sets)
    got_hash = xxh3_64_batch(sorted(set().union(*sets)), k.seed)
    _disable_native(monkeypatch)
    _assert_same(k.band_keys_batch(corpus), got)
    _assert_same(k.embed_batch_bandhash(sets), got_sets)
    assert np.array_equal(xxh3_64_batch(sorted(set().union(*sets)), k.seed), got_hash)


def test_fallback_without_compiler_matches_spec(no_native):
    k = MinHashKernel(num_perm=16, bands=4, rows=4, ngram_size=2, min_length=3)
    corpus = _random_corpus(11, n_docs=10) + _ascii_corpus(12, n_docs=10)
    _assert_same(k.band_keys_batch(corpus), [_spec_keys(k, t) for t in corpus])
    strings = [b"", b"abc", b"x" * 300]
    assert xxh3_64_batch(strings, 42).tolist() == [_xxh3_64_py(s, 42) for s in strings]


def test_simhash_fingerprint_batch_same_with_and_without_native(monkeypatch):
    k = SimHashKernel()
    corpus = _random_corpus(13, n_docs=20)
    got = k.fingerprint_batch(corpus)
    assert got == [k.fingerprint(t or "") for t in corpus]
    _disable_native(monkeypatch)
    assert k.fingerprint_batch(corpus) == got


@requires_native
def test_bands_rows_beyond_num_perm_rejected():
    k = MinHashKernel(num_perm=8, bands=3, rows=4)
    with pytest.raises(ValueError, match="permutation coefficients"):
        k.band_keys_batch(["one two three four five six"])


def test_pyfiles_zip_ships_both_kernel_sources(tmp_path):
    """``--py-files`` executors compile the C kernels from the zip: both
    sources must be in it and readable through the loader's zip path."""
    from tools.make_pyfiles import build

    out = tmp_path / "pkg.zip"
    build(out)
    names = set(zipfile.ZipFile(out).namelist())
    for name in ("sa_native", "minhash_native"):
        assert f"text_dedup_spark/kernels/{name}.c" in names
        assert f"text_dedup_spark/kernels/{name}.py" in names
    assert "text_dedup_spark/kernels/native.py" in names
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "from text_dedup_spark.kernels import native;"
        "assert native.__file__.startswith(sys.argv[1]), native.__file__;"
        "sys.stdout.buffer.write(native._read_source('minhash_native'))"
    )
    got = subprocess.run(
        [sys.executable, "-c", probe, str(out)], check=True, capture_output=True, cwd=tmp_path
    ).stdout
    assert got == (REPO / "text_dedup_spark/kernels/minhash_native.c").read_bytes()
