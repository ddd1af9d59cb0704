"""Spark suffix-array dedup vs single-node oracle (same kernels, no Spark)."""

import numpy as np
import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from text_dedup_spark.kernels.intervals import clean_up, restore_and_merge
from text_dedup_spark.kernels.suffix_array_kernel import duplicate_byte_ranges
from text_dedup_spark.operators import suffix_dedup as sd
from text_dedup_spark.operators.suffix_dedup import suffix_array_dedup

# gate values that force each grouping through the module constant
ONE_GROUP = 1 << 62
ANCHORED = 0


def make_corpus(seed: int = 5, n: int = 120):
    """Docs with planted long shared substrings (some >=100 bytes, some just
    below threshold), including one crossing a doc-concat boundary."""
    rng = np.random.RandomState(seed)
    words = [f"w{i}" for i in range(500)]

    def doc(n_words):
        return " ".join(words[i] for i in rng.randint(0, 500, size=n_words))

    texts = [doc(rng.randint(30, 120)) for _ in range(n)]
    long_chunk = doc(40)  # ~ 160+ bytes
    short_chunk = doc(10)  # < 100 bytes
    texts[10] = texts[10] + " " + long_chunk
    texts[55] = long_chunk + " " + texts[55]
    texts[20] = texts[20] + " " + short_chunk
    texts[70] = short_chunk + " " + texts[70]
    return texts


def tagged_corpus(seed: int, n: int, threshold: int):
    """Random docs with no duplicate that can span a doc boundary.

    Bodies mix ASCII, accented and CJK words plus shared chunks planted
    above and below the threshold; some docs are None, empty, or shorter
    than the threshold. Every other doc starts and ends with its own tag of
    >= threshold bytes. Tags and short docs are Hangul syllables, which
    occur nowhere else and never twice, so any range of >= 5 bytes that
    crosses a doc boundary holds a whole unique syllable and cannot be
    duplicated. (At threshold 1 coverage is per byte: a byte is removed iff
    its value occurs twice, which every grouping sees alike.)"""
    rng = np.random.RandomState(seed)
    syllables = iter(rng.permutation(11172) + 0xAC00)

    def hangul(n_syllables):  # 3 UTF-8 bytes each
        return "".join(chr(next(syllables)) for _ in range(n_syllables))

    tag_syllables = -(-threshold // 3)

    words = (
        [f"w{i}" for i in range(60)]
        + ["café", "naïve", "über", "façade", "Ångström", "jalapeño", "crème"]
        + ["数据", "去重", "后缀", "数组", "文本", "重复", "字符串", "东京"]
    )

    def body(n_words):
        return " ".join(words[i] for i in rng.randint(0, len(words), size=n_words))

    chunks = [body(k) for k in (3, 8, 20, 45)]
    texts = []
    for i in range(n):
        kind = i % 10
        if kind == 0:
            texts.append(None)
        elif kind == 1:
            texts.append("")
        elif kind == 2 and threshold > 3:
            texts.append(hangul(min(threshold - 1, 12) // 3))  # < threshold bytes
        else:
            parts = [body(rng.randint(5, 40))]
            for c in chunks:
                if rng.rand() < 0.3:
                    parts.insert(rng.randint(0, len(parts) + 1), c)
            tag, end_tag = hangul(tag_syllables), hangul(tag_syllables)
            texts.append(tag + " ".join(parts) + end_tag)
    return texts


def oracle(texts, k=100, strategy="longest"):
    encoded = [(t or "").encode("utf-8") for t in texts]
    boundaries = []
    start = 0
    for b in encoded:
        boundaries.append(slice(start, start + len(b)))
        start += len(b)
    ranges = duplicate_byte_ranges(b"".join(encoded), k)
    slices, _ = restore_and_merge(boundaries, ranges, k, strategy)
    return [clean_up(t or "", sl) for t, sl in zip(texts, slices, strict=True)]


def to_df(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "__INDEX__ long, text string"
    )


def rewritten(monkeypatch, df, gate, **kwargs):
    """Run the operator with the one-group gate forced to ``gate``; return
    ({id: text}, result)."""
    with monkeypatch.context() as m:
        m.setattr(sd, "ONE_GROUP_BYTES", gate)
        res = suffix_array_dedup(df, **kwargs)
    return {r["__INDEX__"]: r["text"] for r in res.docs.collect()}, res


def text_bytes(df):
    return df.select(F.sum(F.length(F.encode("text", "utf-8")))).first()[0]


@pytest.mark.parametrize("strategy", ["longest", "overlapping"])
def test_matches_oracle(spark, strategy):
    texts = make_corpus()
    expected = oracle(texts, 100, strategy)
    df = to_df(spark, texts)
    res = suffix_array_dedup(df, length_threshold=100, merge_strategy=strategy)
    got = {r["__INDEX__"]: r["text"] for r in res.docs.collect()}
    for i, exp in enumerate(expected):
        assert got[i] == exp, f"doc {i}"
    # the planted long duplicate must actually be removed from one side
    assert len(got[10]) < len(texts[10]) or len(got[55]) < len(texts[55])
    # below-threshold chunk untouched
    assert got[20] == texts[20] and got[70] == texts[70]
    kept_ids = {r["__INDEX__"] for r in res.kept.collect()}
    assert kept_ids == {i for i, t in enumerate(expected) if len(t) > 0}


def test_identical_docs_fully_removed(spark):
    base = "x " * 200  # 400 bytes of repeated content
    df = spark.createDataFrame(
        [(0, base), (1, base), (2, "unique words only here")],
        ["__INDEX__", "text"],
    )
    res = suffix_array_dedup(df, length_threshold=100)
    got = {r["__INDEX__"]: r["text"] for r in res.docs.collect()}
    # ExactSubstr semantics: ALL copies of the duplicated bytes are removed
    assert got[0] == "" and got[1] == ""
    assert got[2] == "unique words only here"
    assert {r["__INDEX__"] for r in res.kept.collect()} == {2}


@pytest.mark.parametrize("strategy", ["longest", "overlapping"])
def test_groupings_differential(spark, monkeypatch, strategy):
    """One group = anchored groups = anchored groups through the split
    path with a cap no group exceeds = the single-node oracle, on a corpus
    with multi-byte text, None/empty/short docs and no boundary-spanning
    duplicate."""
    texts = tagged_corpus(seed=3, n=60, threshold=30)
    expected = dict(enumerate(oracle(texts, 30, strategy)))
    assert any(e != (t or "") for e, t in zip(expected.values(), texts))
    df = to_df(spark, texts)
    kw = dict(length_threshold=30, merge_strategy=strategy)
    one, _ = rewritten(monkeypatch, df, ONE_GROUP, **kw)
    anchored, _ = rewritten(monkeypatch, df, ANCHORED, **kw)
    obs = Observation(f"sfx_differential_{strategy}")
    split, _ = rewritten(
        monkeypatch, df, ANCHORED, max_group_bytes=text_bytes(df),
        observation=obs, **kw,
    )
    assert one == expected
    assert anchored == expected
    assert split == expected
    assert obs.get["n_groups_split"] == 0


@pytest.mark.parametrize("threshold", [1, 5, 7, 8, 50, 100])
def test_groupings_agree_across_thresholds(spark, monkeypatch, threshold):
    """The anchored window stays valid below 8 bytes (w + W - 1 == t with
    w, W >= 1), and both groupings give the oracle's output."""
    texts = tagged_corpus(seed=threshold, n=30, threshold=threshold)
    expected = dict(enumerate(oracle(texts, threshold)))
    df = to_df(spark, texts)
    one, _ = rewritten(monkeypatch, df, ONE_GROUP, length_threshold=threshold)
    anchored, _ = rewritten(monkeypatch, df, ANCHORED, length_threshold=threshold)
    assert one == expected
    assert anchored == expected


class TestAnchoredGrouping:
    """Winnowing-anchor grouping must reproduce the one-group result exactly
    (content duplicates are always co-grouped; boundary-spanning concat
    artifacts are absent from this fixture by construction)."""

    def test_anchored_equals_global(self, spark, monkeypatch):
        texts = make_corpus(seed=8, n=150)
        # plant a chain: A~B share chunk1, B~C share chunk2 (transitive group)
        rng = np.random.RandomState(99)
        words = [f"w{i}" for i in range(500)]
        chunk1 = " ".join(words[i] for i in rng.randint(0, 500, size=40))
        chunk2 = " ".join(words[i] for i in rng.randint(0, 500, size=40))
        texts[5] = texts[5] + " " + chunk1
        texts[40] = chunk1 + " middle filler words " + chunk2
        texts[90] = chunk2 + " " + texts[90]

        df = to_df(spark, texts)
        g, _ = rewritten(monkeypatch, df, ONE_GROUP, length_threshold=100)
        a, _ = rewritten(monkeypatch, df, ANCHORED, length_threshold=100)
        assert g == a
        # chain members actually got rewritten
        assert len(a[40]) < len(texts[40])

    def test_auto_dispatch_both_paths_equal(self, spark, monkeypatch):
        """The size gate picks one group at or below it and anchored groups
        above it (the plans show which ran); the output is identical."""
        texts = make_corpus(seed=21, n=80)
        df = to_df(spark, texts)
        total = text_bytes(df)
        assert total <= sd._one_group_bytes()  # default gate: one group
        default = suffix_array_dedup(df, length_threshold=100)
        via_global, res_g = rewritten(monkeypatch, df, total, length_threshold=100)
        via_anchored, res_a = rewritten(
            monkeypatch, df, total - 1, length_threshold=100
        )

        def plan(res):
            return res.docs._jdf.queryExecution().optimizedPlan().toString()

        for res in (default, res_g):
            assert "FlatMapGroupsInPandas" in plan(res)
            assert "ArrowEvalPython" not in plan(res)
        # anchored output is a local checkpoint of the grouped pass
        assert "FlatMapGroupsInPandas" not in plan(res_a)
        assert via_global == via_anchored

    def test_byte_cap_splits_observably_with_locality_recall(self, spark, monkeypatch):
        """max_group_bytes splits an oversized group into min-anchor-range
        subgroups: the split is counted via Observation, and because real
        duplicate clusters share their minimum anchor, most removable bytes
        survive the split (recall floor pinned). The corpus sits above the
        cap and below the default gate, so the cap alone must send it to
        the split grouping."""
        rng = np.random.RandomState(17)
        words = [f"w{i}" for i in range(400)]

        def doc(n):
            return " ".join(words[i] for i in rng.randint(0, 400, size=n))

        # one shared template chains ALL docs into one anchor component;
        # planted exact pairs are the recoverable duplication
        template = doc(60)
        texts = []
        for i in range(120):
            body = doc(rng.randint(60, 120))
            texts.append(template + " " + body)
        for i in range(0, 40, 2):
            texts[i + 1] = texts[i]  # exact duplicate pairs
        df = to_df(spark, texts)
        total = text_bytes(df)
        assert 20_000 < total <= sd._one_group_bytes()

        lossless, _ = rewritten(monkeypatch, df, ANCHORED, length_threshold=100)
        l_removed = total - sum(len(t.encode("utf-8")) for t in lossless.values())
        assert l_removed > 0

        obs = Observation("sfx_cap_test")
        capped = suffix_array_dedup(
            df, length_threshold=100, max_group_bytes=20_000, observation=obs
        )
        c_removed = total - text_bytes(capped.docs)
        got = obs.get
        assert got["n_groups_split"] >= 1
        assert got["n_rows_in_split_groups"] >= 100
        assert got["n_overlap_rows"] >= 1  # boundary docs joined 2 subgroups
        # locality split keeps most of the removable bytes despite splitting
        assert c_removed / l_removed >= 0.6, (c_removed, l_removed)

        # boundary overlap recovers straddling duplicates: the same cap with
        # the margin disabled must never remove MORE than the overlap run
        obs0 = Observation("sfx_cap_test_no_ov")
        with monkeypatch.context() as m:
            m.setattr(sd, "_overlap_bytes", lambda cap, threshold: 0)
            capped0 = suffix_array_dedup(
                df, length_threshold=100, max_group_bytes=20_000, observation=obs0
            )
        c0_removed = total - text_bytes(capped0.docs)
        assert obs0.get["n_overlap_rows"] == 0
        assert c_removed >= c0_removed, (c_removed, c0_removed)

    def test_winnowing_guarantee(self):
        from text_dedup_spark.kernels.winnowing import winnow_anchor_list

        rng = np.random.RandomState(1)
        shared = bytes(rng.randint(97, 123, size=120, dtype=np.int64).astype(np.uint8).tolist())
        for trial in range(10):
            pre = bytes(rng.randint(97, 123, size=rng.randint(0, 200), dtype=np.int64).astype(np.uint8).tolist())
            post = bytes(rng.randint(97, 123, size=rng.randint(0, 200), dtype=np.int64).astype(np.uint8).tolist())
            a = set(winnow_anchor_list(pre + shared, 48, 100 - 48 + 1))
            b = set(winnow_anchor_list(shared + post, 48, 100 - 48 + 1))
            assert a & b, f"trial {trial}: 120-byte shared run selected no common anchor"

    def test_winnowing_kernel_forms(self):
        """The round-5 O(n) prefix-sum hash + O(n log W) doubling min must
        equal the definitional O(n*w)/O(n*W) forms value-for-value (anchor
        IDENTITY is what makes anchored grouping lossless — a changed hash
        would silently regroup)."""
        from text_dedup_spark.kernels import winnowing as wn

        def ref_anchors(data: bytes, w: int, window: int) -> set[int]:
            n = len(data)
            if n < w:
                return set()
            arr = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
            powers = np.empty(w, dtype=np.int64)
            acc = np.int64(1)
            for j in range(w - 1, -1, -1):
                powers[j] = acc
                acc = (acc * wn._B) % wn._P
            h = (np.lib.stride_tricks.sliding_window_view(arr, w) @ powers) % wn._P
            if len(h) == 0:
                return set()
            if len(h) <= window:
                return {int(h.min())}
            runs = np.lib.stride_tricks.sliding_window_view(h, window)
            return set(runs.min(axis=1).astype(int).tolist())

        rng = np.random.RandomState(7)
        for trial in range(25):
            n = int(rng.randint(0, 4000))
            data = bytes(rng.randint(0, 256, size=n, dtype=np.int64).astype(np.uint8).tolist())
            for w, window in ((48, 53), (8, 5), (2, 1), (16, 200)):
                want = ref_anchors(data, w, window)
                lst = wn.winnow_anchor_list(data, w, window)
                assert lst == sorted(want), (trial, n, w, window)
