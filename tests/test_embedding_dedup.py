"""Embedding-cosine dedup vs single-node oracle (exact quantized-int math)."""

import numpy as np

from tests.oracles import UnionFind
from text_dedup_spark.functions.embedding_dedup import embedding_cosine_dedup


def make_vectors(n=120, dim=16, seed=9):
    rng = np.random.RandomState(seed)
    base = rng.randn(n // 3, dim)
    vecs = []
    for i in range(n):
        b = base[i % (n // 3)]
        if i < n // 3:
            v = b  # originals
        elif i < 2 * n // 3:
            v = b + rng.randn(dim) * 0.02  # near-duplicates (cos ~ 0.999)
        else:
            v = rng.randn(dim)  # unrelated
        vecs.append((v / np.linalg.norm(v)).astype(np.float32))
    return vecs


def oracle(vecs, threshold):
    q = [np.round(np.asarray(v, dtype=np.float64) * 1000).astype(np.int64) for v in vecs]
    uf = UnionFind()
    t2m = int(round(threshold * threshold * 1_000_000))
    for i in range(len(q)):
        for j in range(i + 1, len(q)):
            dot = int(q[i] @ q[j])
            na, nb = int(q[i] @ q[i]), int(q[j] @ q[j])
            if dot >= 0 and dot * dot * 1_000_000 >= na * nb * t2m:
                uf.union(i, j)
    return uf.get_clusters()


def test_matches_oracle(spark):
    vecs = make_vectors()
    expected = oracle(vecs, 0.95)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["cluster_id"], r["is_dup"])
        for r in embedding_cosine_dedup(df, threshold=0.95).collect()
    }
    assert len(got) == len(vecs)
    n_dups = 0
    for i in range(len(vecs)):
        exp_cluster = expected.get(i, i)
        assert got[i][0] == exp_cluster, f"vec {i}"
        assert got[i][1] == (1 if i in expected else 0)
        n_dups += got[i][1]
    assert n_dups >= 2 * (len(vecs) // 3) * 0.9  # planted near-dups found


def _edges_set(df):
    return {(r["src"], r["dst"]) for r in df.collect()}


class TestLshCandidatePath:
    """The scale path: sign-sketch LSH candidates + exact integer confirm.
    Contract: NO false positives ever (the confirm is the same exact
    integer test), candidate recall >= 0.99 on planted near-dups."""

    def test_lsh_edges_subset_and_recall(self, spark):
        from text_dedup_spark.functions.embedding_dedup import (
            _all_pairs_cosine_edges,
            lsh_cosine_edges,
        )

        vecs = make_vectors()
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        exact = _edges_set(_all_pairs_cosine_edges(df, threshold=0.95, n_rows=len(vecs)))
        got = _edges_set(lsh_cosine_edges(df, threshold=0.95))
        assert got <= exact, f"false positives: {sorted(got - exact)[:5]}"
        assert len(exact) > 0
        recall = len(got & exact) / len(exact)
        assert recall >= 0.99, f"candidate recall {recall:.3f} < 0.99"

    def test_auto_gate_dispatch(self, spark):
        from pyspark.sql import Observation

        from text_dedup_spark.functions.embedding_dedup import (
            cosine_edges,
            embedding_cosine_dedup,
        )

        vecs = make_vectors(n=60)
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        # above the gate -> lsh path; same edges on this easy fixture
        small_gate = _edges_set(cosine_edges(df, threshold=0.95, all_pairs_gate=10))
        big_gate = _edges_set(cosine_edges(df, threshold=0.95, all_pairs_gate=10_000))
        assert small_gate <= big_gate
        assert len(small_gate) >= 0.99 * len(big_gate)
        # the dedup wrapper exposes the gate + the observable bucket cap
        obs = Observation("emb_lsh_cap")
        out = embedding_cosine_dedup(
            df, threshold=0.95, candidate_mode="lsh", max_bucket_size=1_000,
            observation=obs,
        )
        assert out.count() == len(vecs)
        assert int(obs.get["n_buckets_dropped"]) == 0

    def test_lsh_clusters_match_oracle_on_planted(self, spark):
        # end-to-end: the LSH path reproduces the exact clustering on the
        # planted fixture (recall ~1.0 at cos≈0.999 with 12 planes x 16
        # tables: per-pair miss probability ~1e-13)
        vecs = make_vectors()
        expected = oracle(vecs, 0.95)
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        got = {
            r["vec_id"]: (r["cluster_id"], r["is_dup"])
            for r in embedding_cosine_dedup(
                df, threshold=0.95, candidate_mode="lsh"
            ).collect()
        }
        n_match = sum(
            got[i] == (expected.get(i, i), 1 if i in expected else 0)
            for i in range(len(vecs))
        )
        assert n_match >= 0.99 * len(vecs)
