"""The observation contract (operators/guards.py): an operator given a
``pyspark.sql.Observation`` attaches it on every path, so each counter it
documents is readable after an action — 0 when its guard is off or its path
did not run — and one operator never attaches one Observation twice."""

import threading

import numpy as np
import pytest
from pyspark.sql import Observation

import text_dedup_spark.operators.suffix_dedup as sd
from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
from text_dedup_spark.kernels.simhash_kernel import SimHashKernel
from text_dedup_spark.operators.ids import CLUSTER_COL, DUPLICATE_COL, INDEX_COL

SUFFIX = ("n_groups_split", "n_rows_in_split_groups", "n_overlap_rows")
BUCKETS = ("n_buckets_dropped", "n_postings_dropped")


def metrics(obs: Observation, timeout: float = 120.0) -> dict:
    """``obs.get`` without hanging the suite: an attached Observation whose
    plan never ran would block forever."""
    out: dict = {}

    def read():
        try:
            out["v"] = obs.get
        except Exception as e:  # e.g. NO_OBSERVE_BEFORE_GET
            out["e"] = e

    t = threading.Thread(target=read, daemon=True)
    t.start()
    t.join(timeout)
    if "e" in out:
        raise out["e"]
    assert "v" in out, "observation attached to a plan that never ran"
    return out["v"]


def texts(n: int = 40) -> list[tuple[int, str]]:
    """Near-duplicate families plus unique docs and one short doc."""
    rng = np.random.RandomState(3)
    words = [f"w{i}" for i in range(300)]
    fams = [" ".join(rng.choice(words, 40)) for _ in range(4)]
    rows = [(i, f"{fams[i % 4]} tail{i}") for i in range(n // 2)]
    rows += [(i, " ".join(rng.choice(words, 30))) for i in range(n // 2, n - 1)]
    return rows + [(n - 1, "short")]


def docs_df(spark):
    return spark.createDataFrame(texts(), f"{INDEX_COL} long, text string")


def suffix_one_group(spark, obs, monkeypatch):
    return sd.suffix_array_dedup(docs_df(spark), length_threshold=30, observation=obs).docs


def suffix_anchored_uncapped(spark, obs, monkeypatch):
    monkeypatch.setattr(sd, "ONE_GROUP_BYTES", 1)
    return sd.suffix_array_dedup(docs_df(spark), length_threshold=30, observation=obs).docs


def embeddings(spark):
    rng = np.random.RandomState(9)
    base = rng.randn(10, 8)
    vecs = [base[i % 10] + rng.randn(8) * (0.01 if i < 20 else 1.0) for i in range(30)]
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def embedding(mode, cap):
    def run(spark, obs, monkeypatch):
        from text_dedup_spark.functions.embedding_dedup import embedding_cosine_dedup

        return embedding_cosine_dedup(
            embeddings(spark), threshold=0.95, candidate_mode=mode,
            max_bucket_size=cap, observation=obs,
        )

    return run


def simhash_uncapped(fp):
    def run(spark, obs, monkeypatch):
        from text_dedup_spark.operators.simhash import simhash_dedup

        kernel = SimHashKernel(f=64, bit_diff=3, num_bucket=4, ngram_size=3, min_length=5)
        return simhash_dedup(
            docs_df(spark), kernel, check_false_positive=fp, observation=obs
        ).docs

    return run


def minhash(fp):
    def run(spark, obs, monkeypatch):
        from text_dedup_spark.operators.minhash import minhash_dedup

        kernel = MinHashKernel(num_perm=64, ngram_size=2, min_length=5, threshold=0.5)
        return minhash_dedup(
            docs_df(spark), kernel, check_false_positive=fp, observation=obs
        ).docs

    return run


def setsim_uncapped(spark, obs, monkeypatch):
    from text_dedup_spark.functions.setsim import jaccard_pairs_prefix

    grams = [(i, sorted(set(t.split()))) for i, t in texts()]
    df = spark.createDataFrame(grams, "doc_id long, grams array<string>")
    return jaccard_pairs_prefix(df, threshold=0.5, observation=obs)


CASES = {
    "suffix_one_group": (suffix_one_group, SUFFIX),
    "suffix_anchored_uncapped": (suffix_anchored_uncapped, SUFFIX),
    "embedding_all_pairs_capped": (embedding("all_pairs", 3), BUCKETS),
    "embedding_lsh_uncapped": (embedding("lsh", None), BUCKETS),
    "simhash_uncapped": (simhash_uncapped(False), BUCKETS + ("n_bypassed",)),
    "simhash_uncapped_verified": (simhash_uncapped(True), BUCKETS + ("n_bypassed",)),
    "minhash": (minhash(False), ("n_bypassed",)),
    "minhash_verified_uncapped": (minhash(True), ("n_bypassed",)),
    "setsim_uncapped": (setsim_uncapped, ("n_hot_grams", "n_hot_postings")),
}


@pytest.mark.parametrize("case", list(CASES))
def test_every_path_reports_its_counters(spark, monkeypatch, case):
    build, names = CASES[case]
    obs = Observation(f"contract_{case}")
    out = build(spark, obs, monkeypatch)
    assert out.count() > 0
    assert metrics(obs) == {n: 0 for n in names}


def flood(spark):
    """40 docs: 30 share a boilerplate body with distinct tails (distinct
    signatures in shared buckets), 10 are unique."""
    rng = np.random.RandomState(11)
    words = [f"w{i}" for i in range(400)]
    boiler = " ".join(rng.choice(words, 60))
    rows = [(i, f"{boiler} tail{i} more{i}") for i in range(30)]
    rows += [(100 + i, " ".join(rng.choice(words, 50))) for i in range(10)]
    return spark.createDataFrame(rows, f"{INDEX_COL} long, text string")


def test_simhash_both_guards_share_one_observation(spark):
    """The bucket cap and the verify cap report on ONE Observation: each
    counter equals the one its guard reports alone, and observing does not
    change the output."""
    from text_dedup_spark.operators.simhash import (
        simhash_check_false_positives,
        simhash_dedup,
    )

    kernel = SimHashKernel(f=64, bit_diff=3, num_bucket=4, ngram_size=3, min_length=5)
    df = flood(spark)
    caps = dict(max_bucket_size=8, check_false_positive=True, max_cluster_verify=2)

    def labels(res):
        return sorted(
            (r[INDEX_COL], r[CLUSTER_COL], r[DUPLICATE_COL]) for r in res.docs.collect()
        )

    obs = Observation("simhash_both")
    both = labels(simhash_dedup(df, kernel, observation=obs, **caps))
    got = metrics(obs)
    assert set(got) == {"n_buckets_dropped", "n_postings_dropped", "n_bypassed"}
    assert both == labels(simhash_dedup(df, kernel, **caps))

    # each guard alone, on the same input it sees inside the combined call
    bucket_only = Observation("simhash_bucket_only")
    capped = simhash_dedup(df, kernel, max_bucket_size=8, observation=bucket_only)
    verify_only = Observation("simhash_verify_only")
    simhash_check_false_positives(
        capped.docs, kernel, 0.5, max_cluster_verify=2, observation=verify_only
    )
    bucket, verify = metrics(bucket_only), metrics(verify_only)
    assert bucket["n_buckets_dropped"] > 0 and verify["n_bypassed"] > 0
    assert got == {**{k: bucket[k] for k in BUCKETS}, "n_bypassed": verify["n_bypassed"]}
