"""Prefix-filtered set-similarity join: lossless default vs naive all-pairs,
and the observable hot-gram df cap (scale guard for stopword-heavy corpora)."""

import itertools
import random

import pytest
from pyspark.sql import Observation


from text_dedup_spark.functions.setsim import jaccard_pairs_prefix


def _grams(doc: str) -> set:
    toks = doc.split()
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


@pytest.fixture
def hot_corpus():
    # every doc shares the same long boilerplate (hot grams, df == n_docs);
    # docs 2i/2i+1 additionally share distinct content (true near-dup pairs)
    boiler = " ".join(f"nav{i} footer{i} cookie{i}" for i in range(12))
    docs = []
    for i in range(30):
        body = " ".join(f"w{i // 2}_{j} x{i // 2}_{j} y{i // 2}_{j}" for j in range(14))
        docs.append((i, f"{boiler} {body}"))
    return docs


@pytest.fixture
def graded_corpus():
    # one 40-token base text with a different number of tokens replaced per
    # doc: pair Jaccards spread over (0, 1], so the prefix bounds are tested
    # against pairs close to each threshold
    rng = random.Random(7)
    base = [f"t{j}" for j in range(40)]
    docs = []
    for i in range(24):
        toks = list(base)
        for j in rng.sample(range(40), (i * 37) % 23):
            toks[j] = f"u{i}_{j}"
        docs.append((i, " ".join(toks)))
    return docs


def _naive_pairs(docs, threshold):
    out = set()
    for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
        ga, gb = _grams(ta), _grams(tb)
        inter = len(ga & gb)
        union = len(ga | gb)
        if union and inter / union >= threshold:
            out.add((ia, ib))
    return out


def _df(spark, docs):
    return spark.createDataFrame(
        [(i, sorted(_grams(t))) for i, t in docs],
        "doc_id long, grams array<string>",
    )


# pins the prefix lengths' ceil arithmetic (asymmetric probing prefix,
# positional filter) across the threshold range, 1.0 included
THRESHOLDS = [0.3, 0.5, 0.6, 0.7, 0.75, 0.8, 0.9, 1.0]


@pytest.mark.parametrize("threshold", THRESHOLDS)
def test_lossless_matches_naive(spark, hot_corpus, threshold):
    expected = _naive_pairs(hot_corpus, threshold)
    got = {
        (r["a_id"], r["b_id"])
        for r in jaccard_pairs_prefix(_df(spark, hot_corpus), threshold=threshold).collect()
    }
    assert got == expected
    assert len(expected) >= 10  # planted pairs actually exercised


@pytest.mark.parametrize("threshold", THRESHOLDS)
def test_lossless_matches_naive_graded(spark, graded_corpus, threshold):
    expected = _naive_pairs(graded_corpus, threshold)
    got = {
        (r["a_id"], r["b_id"])
        for r in jaccard_pairs_prefix(_df(spark, graded_corpus), threshold=threshold).collect()
    }
    assert got == expected
    assert expected


def test_gram_df_cap_observable_subset(spark, hot_corpus):
    lossless = {
        (r["a_id"], r["b_id"])
        for r in jaccard_pairs_prefix(_df(spark, hot_corpus), threshold=0.5).collect()
    }
    obs = Observation("setsim_cap")
    capped_df = jaccard_pairs_prefix(
        _df(spark, hot_corpus), threshold=0.5, max_gram_df=5, observation=obs
    )
    capped = {(r["a_id"], r["b_id"]) for r in capped_df.collect()}
    # never a false pair; the boilerplate grams (df=30 > 5) are counted
    assert capped <= lossless
    got = obs.get
    assert int(got["n_hot_grams"]) > 0
    assert int(got["n_hot_postings"]) >= int(got["n_hot_grams"]) * 6
    # planted pairs survive: their content grams have df == 2 <= cap
    assert len(capped) == len(lossless)


def test_cap_above_max_df_is_identity(spark, hot_corpus):
    lossless = {
        (r["a_id"], r["b_id"])
        for r in jaccard_pairs_prefix(_df(spark, hot_corpus), threshold=0.5).collect()
    }
    capped = {
        (r["a_id"], r["b_id"])
        for r in jaccard_pairs_prefix(
            _df(spark, hot_corpus), threshold=0.5, max_gram_df=10_000
        ).collect()
    }
    assert capped == lossless
