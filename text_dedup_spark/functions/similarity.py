"""Embedding similarity search over ``array<float>`` columns.

Two tiers (task brief "Similarity search"):
- ``brute_force_topk``: exact all-pairs top-k. Uses integer-quantized dot
  products so results are engine-exact (oracle-checkable) — float reduction
  order never matters. O(n^2) pairs; the correctness baseline.
- ``lsh_bucketed_topk``: random-hyperplane (sign) LSH buckets: candidates
  only within matching sketches -> approximate, scales linearly-ish. The
  scale path for 100 TB embedding tables.

All arithmetic is JVM-side (``transform``/``zip_with``/``aggregate``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from text_dedup_spark.operators.guards import guard_hot_buckets


def quantize(vec: Column, scale: int = 1000) -> Column:
    return F.transform(vec, lambda x: F.round(x * scale).cast("long"))


def int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def brute_force_topk(
    emb: DataFrame, k: int = 3, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k by quantized integer dot product, ties broken by neighbor
    id — fully deterministic. Returns (vec_id, neighbor_id, dot, rank)."""
    q = emb.select(F.col(id_col).alias("vec_id"), quantize(F.col(vec_col)).alias("q"))
    a = q.select(F.col("vec_id"), F.col("q").alias("qa"))
    b = q.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qb"))
    pairs = a.crossJoin(b).where(F.col("vec_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "vec_id", "neighbor_id", int_dot(F.col("qa"), F.col("qb")).alias("dot")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "dot", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def sign_sketch_udf(dim: int, n_planes: int, n_tables: int, seed: int):
    """Vectorized pandas UDF computing all tables' random-hyperplane sign
    sketches in one (batch x dim) @ (dim x n_tables*n_planes) GEMM +
    bit-pack; returns array<long> of n_tables bucket codes per vector.
    Shared by ``lsh_bucketed_topk`` and ``embedding_dedup.cosine_edges``'s
    LSH candidate generation (same seed => same tables)."""
    import pandas as pd

    planes_all = np.concatenate(
        [np.asarray(_hyperplanes(dim, n_planes, seed + t)) for t in range(n_tables)]
    ).T  # (dim, n_tables*n_planes)
    weights = np.ascontiguousarray(planes_all)
    pow2 = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def sketch_udf(vecs):
        m = np.array(vecs.tolist(), dtype=np.float64)  # (batch, dim)
        proj = m @ weights  # (batch, n_tables*n_planes)
        bits = (proj >= 0).astype(np.int64).reshape(len(m), n_tables, n_planes)
        codes = bits @ pow2  # (batch, n_tables)
        return pd.Series(list(codes))

    return sketch_udf


def ivf_topk(
    emb: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 4,
    kmeans_iters: int = 8,
    sample_rows: int = 10_000,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer scale
    path next to the sign-sketch LSH one:

    1. spherical k-means on a deterministic driver sample (lowest ids,
       bounded by ``sample_rows``; numpy, seeded) -> ``n_centroids`` unit
       centroids, closed over by the executors (tiny broadcast);
    2. every vector joins the inverted list of its nearest centroid (one
       pandas-UDF GEMM per Arrow batch);
    3. each query probes its ``nprobe`` nearest centroids' lists and
       candidates are reranked with the exact quantized integer dot.

    Output schema matches ``brute_force_topk``; recall is pinned vs it in
    tests/test_similarity.py. At scale the shuffle is one equi-join keyed
    by centroid id — list sizes are ~n/n_centroids, and n_centroids grows
    with n (sqrt(n) rule of thumb) to bound per-list rerank work."""
    import pandas as pd

    if centroids is not None:
        # scale path: train once offline (or on a previous run) and pass the
        # centroids in — skips the driver sample (whose orderBy+limit is a
        # compat-scale convenience, not something to run on 10^12 rows)
        C = np.asarray(centroids, dtype=np.float64)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        n_c = len(C)
    else:
        sample_pdf = emb.orderBy(id_col).limit(sample_rows).select(vec_col).toPandas()
        X = np.array(sample_pdf[vec_col].tolist(), dtype=np.float64)
        if len(X) >= sample_rows:
            # the sample saturated: the table is at least sample_rows large,
            # so the driver-side k-means is training on a lowest-id prefix
            # (a sort+limit over the full table). Fine as a convenience at
            # test scale; at web scale train centroids offline and pass
            # centroids= to skip this stage entirely.
            import warnings

            warnings.warn(
                f"ivf_topk: driver k-means sample saturated at {sample_rows} "
                "rows; pass centroids= (trained offline) for large tables",
                stacklevel=2,
            )
        if len(X) == 0:
            # derive the empty frame from the input so the id type matches
            # the non-empty path's output exactly
            return emb.select(
                F.col(id_col).alias("vec_id"),
                F.col(id_col).alias("neighbor_id"),
                F.lit(0).cast("long").alias("dot"),
                F.lit(0).cast("int").alias("rank"),
            ).limit(0)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        rng = np.random.RandomState(seed)
        n_c = min(n_centroids, len(X))
        C = X[rng.choice(len(X), size=n_c, replace=False)]
        for _ in range(kmeans_iters):
            assign = np.argmax(X @ C.T, axis=1)
            for c in range(n_c):
                members = X[assign == c]
                if len(members):
                    m = members.sum(axis=0)
                    norm = np.linalg.norm(m)
                    if norm > 1e-12:
                        C[c] = m / norm
    n_probe = min(nprobe, n_c)

    # no type annotations: `from __future__ import annotations` stringifies
    # them and the locally-imported `pd` can't be resolved by pandas_udf's
    # hint inference — the returnType argument alone determines the schema
    @F.pandas_udf("array<int>")
    def probe_udf(vecs):
        M = np.array(vecs.tolist(), dtype=np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        sims = M @ C.T
        order = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    q = emb.select(
        F.col(id_col).alias("vec_id"),
        quantize(F.col(vec_col)).alias("q"),
        probe_udf(F.col(vec_col)).alias("probes"),
    ).persist()
    lists = q.select(
        F.col("probes")[0].alias("cid"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("qb"),
    )
    queries = q.select(
        F.explode("probes").alias("cid"), F.col("vec_id"), F.col("q").alias("qa")
    )

    # Per-list rerank as a cogrouped int64 GEMM: one numpy matmul per
    # inverted list scores every (probing query x member) pair at once —
    # int64 matmul is EXACT for quantized values (|dot| <= dim * scale^2
    # ~ 2.6e8, far under 2^63), so results are identical to the former
    # per-pair `aggregate(zip_with(...))` expression, which materialized a
    # 64-element array per candidate pair and dominated the query (~3x
    # slower at sf0.1). Each group emits only its local top-k per query
    # (same (dot DESC, neighbor ASC) order), so the global merge window
    # sees <= nprobe*k rows per query. No dedup needed: each neighbor
    # lives in exactly ONE inverted list and a query's probed cids are
    # distinct, so a (vec, neighbor) pair appears in at most one group.
    import pandas as pd

    def rerank(left, right):
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"vec_id": [], "neighbor_id": [], "dot": []}).astype(
                "int64"
            )
        A = np.array(left["qa"].tolist(), dtype=np.int64)
        B = np.array(right["qb"].tolist(), dtype=np.int64)
        qids = left["vec_id"].to_numpy()
        nids = right["neighbor_id"].to_numpy()
        dots = A @ B.T
        # (dot DESC, neighbor ASC): lexsort keys are last-key-primary
        order = np.lexsort((nids[None, :].repeat(len(A), 0), -dots), axis=1)
        out_q, out_n, out_d = [], [], []
        for i in range(len(A)):
            taken = 0
            for j in order[i]:
                if nids[j] == qids[i]:
                    continue
                out_q.append(qids[i])
                out_n.append(nids[j])
                out_d.append(dots[i, j])
                taken += 1
                if taken >= k:
                    break
        return pd.DataFrame(
            {"vec_id": out_q, "neighbor_id": out_n, "dot": out_d}
        ).astype("int64")

    scored = (
        queries.groupBy("cid")
        .cogroup(lists.groupBy("cid"))
        .applyInPandas(rerank, "vec_id long, neighbor_id long, dot long")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    result = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "dot", "rank")
    )
    result = result.localCheckpoint(eager=True)
    q.unpersist()
    return result


def lsh_bucketed_topk(
    emb: DataFrame,
    k: int = 3,
    n_planes: int = 12,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """Approximate top-k: candidates share a sign-sketch bucket in >=1 of
    ``n_tables`` hyperplane tables; exact quantized-dot rerank inside
    buckets. Output schema matches ``brute_force_topk``.

    Skew guard (default OFF, matching the repo's parity-by-default rule for
    caps): hot buckets (all-boilerplate embeddings hash together, and
    within-bucket pair generation is quadratic) above ``max_bucket_size``
    are dropped from pair generation — observably, never silently: pass a
    ``pyspark.sql.Observation`` as ``observation`` to read
    ``n_buckets_dropped`` / ``n_postings_dropped`` after an action (both 0
    without a cap; ``operators.guards``). Recall vs ``brute_force_topk`` is
    pinned in tests/test_similarity.py."""
    q = emb.select(
        F.col(id_col).alias("vec_id"),
        quantize(F.col(vec_col)).alias("q"),
        F.col(vec_col).alias("v"),
    )
    # all tables' sign sketches in one vectorized pandas UDF: a single
    # (batch x dim) @ (dim x n_tables*n_planes) GEMM + bit-pack, instead of
    # n_tables*n_planes*dim folded Catalyst expressions (whose codegen
    # compile time alone dominates at small scale)
    sketch_udf = sign_sketch_udf(dim, n_planes, n_tables, seed)
    sketched = q.select("vec_id", "q", sketch_udf(F.col("v")).alias("sketches"))
    # persisted: consumed by the bucket-size aggregation (when capped) and
    # both sides of the bucket self-join — without it the sketch GEMM UDF
    # recomputes per consumer; released after the (small, <= n*k rows)
    # result materializes
    # posexplode_outer: sketches is never empty (n_tables entries per row),
    # and a non-outer Generate above the pandas UDF makes Catalyst infer a
    # size(sketches)>0 filter that splits the sketch GEMM into TWO
    # ArrowEvalPython evaluations
    tagged = sketched.select(
        "vec_id", "q", F.posexplode_outer("sketches").alias("table_id", "bucket")
    ).persist()
    pruned = guard_hot_buckets(
        tagged, ["table_id", "bucket"], max_bucket_size, observation
    )
    a = pruned.select("table_id", "bucket", F.col("vec_id"), F.col("q").alias("qa"))
    b = pruned.select(
        "table_id",
        "bucket",
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("qb"),
    )
    # score BEFORE deduplicating (mirrors embedding_dedup.lsh_cosine_edges):
    # a pair sharing buckets in several tables pays one extra codegen'd dot
    # each (factor < n_tables, typically ~1.2), while deduplicating first
    # shuffled both 64-element quantized arrays (~1 KB/row) through the
    # exchange; post-score the dedup moves three bare longs (the dot is a
    # pure function of the pair, so duplicate rows are identical rows)
    cands = (
        a.join(b, ["table_id", "bucket"])
        .where(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id", "qa", "qb")
    )
    scored = cands.select(
        "vec_id", "neighbor_id", int_dot(F.col("qa"), F.col("qb")).alias("dot")
    ).dropDuplicates(["vec_id", "neighbor_id"])
    w = Window.partitionBy("vec_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    result = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "dot", "rank")
    )
    result = result.localCheckpoint(eager=True)
    tagged.unpersist()
    return result
