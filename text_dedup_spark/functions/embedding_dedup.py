"""Embedding-cosine near-duplicate detection (task brief: embedding-cosine
near-dup as a first-class dedup path).

Engine-exact comparison: embeddings are quantized to integer grids, and
``cos(a,b) >= t`` is evaluated as ``dot >= 0 AND dot^2 * 10^6 >= t2m *
|a|^2 * |b|^2`` in exact integer arithmetic. Pairs above threshold become
edges; connected components assign min-id cluster labels, same CC operator
as MinHash/SimHash.

Candidate generation is size-gated (``cosine_edges(candidate_mode=...)``):

- ``all_pairs`` (default at or below ``all_pairs_gate`` rows): blocked-GEMM
  exhaustive block pairs — EXACT, but B*(B+1)/2 block-pair tasks, i.e.
  quadratic work; the small-n correctness path (DuckDB-oracle-checked).
- ``lsh`` (default above the gate): sign-sketch LSH buckets (the same
  hyperplane tables as ``similarity.lsh_bucketed_topk``) generate the
  candidate pairs; every candidate is then confirmed with the SAME exact
  integer comparison (DECIMAL(38,0) arithmetic, whole-stage codegen). One
  equi-join keyed by (table, bucket) — task count linear in n, per-bucket
  work bounded by the observable ``max_bucket_size`` cap. Approximate only
  in candidate RECALL (a true pair whose vectors share no bucket is
  missed); candidate-recall >= 0.99 on planted near-dup fixtures is pinned
  in tests/test_embedding_dedup.py, and never a false positive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from text_dedup_spark.functions.similarity import int_dot, quantize, sign_sketch_udf
from text_dedup_spark.operators.connected_components import connected_components
from text_dedup_spark.operators.guards import (
    BUCKET_COUNTERS,
    guard_hot_buckets,
    observe_zero,
)
from text_dedup_spark.operators.ids import CLUSTER_COL, DUPLICATE_COL, INDEX_COL
from text_dedup_spark.operators.minhash import assign_clusters


def cosine_edges(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    n_blocks: int | None = None,
    n_rows: int | None = None,
    target_block_rows: int = 50_000,
    gemm_chunk_rows: int = 2048,
    candidate_mode: str = "auto",
    all_pairs_gate: int = 200_000,
    n_planes: int = 12,
    n_tables: int = 16,
    seed: int = 42,
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """cosine >= threshold edges (src < dst) over quantized vectors.

    ``candidate_mode``: "all_pairs" (exact, quadratic block pairs), "lsh"
    (sign-sketch candidates + exact confirm, linear task count), or "auto"
    (all_pairs at or below ``all_pairs_gate`` input rows, lsh above — the
    same explicit size-gated hybrid pattern as connected_components'
    driver gate). ``observation`` holds ``n_buckets_dropped`` /
    ``n_postings_dropped`` on either path (0 on all_pairs and uncapped)."""
    if candidate_mode not in ("auto", "all_pairs", "lsh"):
        raise ValueError(f"unknown candidate_mode {candidate_mode!r}")
    gate_cache = None
    if candidate_mode == "auto":
        if n_rows is None:
            # the gate needs a row count (one Spark action). Run it on a
            # PERSISTED slim (id, vec) projection that then feeds the chosen
            # path, so the action materializes lineage once instead of
            # recomputing it — callers who already know the count should
            # pass n_rows and skip the action entirely.
            gate_cache = emb.select(F.col(id_col), F.col(vec_col)).persist()
            emb = gate_cache
            n_rows = gate_cache.count()
        candidate_mode = "all_pairs" if n_rows <= all_pairs_gate else "lsh"
    if candidate_mode == "lsh":
        out = lsh_cosine_edges(
            emb,
            threshold,
            id_col=id_col,
            vec_col=vec_col,
            scale=scale,
            n_planes=n_planes,
            n_tables=n_tables,
            seed=seed,
            max_bucket_size=max_bucket_size,
            observation=observation,
        )
        if gate_cache is not None:
            # the LSH path re-persists its own sketch postings and (by
            # default) checkpoints eagerly; the slim projection is consumed
            # exactly once building them, so release it after the call
            gate_cache.unpersist()
        return out
    # all_pairs: the slim projection (when we built one) STAYS persisted — it
    # is at most all_pairs_gate rows by the gate decision and backs the two
    # scans (L and R roles) of the lazy block-pair union. No bucket guard
    # runs here: its counters report 0.
    return _all_pairs_cosine_edges(
        observe_zero(emb, observation, *BUCKET_COUNTERS),
        threshold,
        id_col=id_col,
        vec_col=vec_col,
        scale=scale,
        n_blocks=n_blocks,
        n_rows=n_rows,
        target_block_rows=target_block_rows,
        gemm_chunk_rows=gemm_chunk_rows,
    )


def lsh_cosine_edges(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    n_planes: int = 12,
    n_tables: int = 16,
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int | None = None,
    observation=None,
    eager: bool = True,
) -> DataFrame:
    """Scale path: LSH candidate generation + exact integer confirm.

    Candidates are pairs sharing a sign-sketch bucket in >= 1 of
    ``n_tables`` hyperplane tables (one equi-join keyed by (table, bucket)
    — no block-pair enumeration, task count linear in n). Each candidate is
    confirmed with the exact quantized-integer cosine test in DECIMAL(38,0)
    (dot^2 <= ~1e18 and norm products <= ~1e24 stay far under 38 digits, so
    the arithmetic is exact and fully JVM-side). Candidate recall for a
    true pair at cosine c is 1 - (1 - p^n_planes)^n_tables with
    p = 1 - acos(c)/pi — ~0.999+ for near-dup thresholds (>= 0.9) at the
    defaults; pinned >= 0.99 in tests. ``max_bucket_size`` caps hot buckets
    observably (``operators.guards.guard_hot_buckets``)."""
    if dim is None:
        first = emb.select(vec_col).first()
        if first is None:
            empty = emb.sparkSession.createDataFrame([], "src long, dst long")
            return observe_zero(empty, observation, *BUCKET_COUNTERS)
        dim = len(first[0])
    sketch = sign_sketch_udf(dim, n_planes, n_tables, seed)
    q = emb.select(
        F.col(id_col).alias("vid"),
        quantize(F.col(vec_col), scale).alias("q"),
        sketch(F.col(vec_col)).alias("sketches"),
    ).withColumn("n2", int_dot(F.col("q"), F.col("q")))
    # persisted: the sketch GEMM UDF output feeds the (optional) bucket-size
    # aggregation and both sides of the bucket self-join. posexplode_outer:
    # a non-outer Generate above the pandas UDF makes Catalyst infer a
    # size(sketches)>0 filter that splits the GEMM into two evaluations
    tagged = q.select(
        "vid", "q", "n2", F.posexplode_outer("sketches").alias("table_id", "bucket")
    ).persist()
    pruned = guard_hot_buckets(
        tagged, ["table_id", "bucket"], max_bucket_size, observation
    )
    a = pruned.select(
        "table_id",
        "bucket",
        F.col("vid").alias("src"),
        F.col("q").alias("qa"),
        F.col("n2").alias("na"),
    )
    b = pruned.select(
        "table_id",
        "bucket",
        F.col("vid").alias("dst"),
        F.col("q").alias("qb"),
        F.col("n2").alias("nb"),
    )
    cand = a.join(b, ["table_id", "bucket"]).where(F.col("src") < F.col("dst"))
    t2m = int(round(threshold * threshold * 1_000_000))

    def dec(c):
        return c.cast("decimal(38,0)")

    dot = int_dot(F.col("qa"), F.col("qb"))
    # confirm BEFORE deduplicating: candidates duplicated across tables cost
    # one extra codegen'd dot product each (expected factor < 2), while
    # deduplicating first would shuffle the quantized arrays through a
    # sort-based aggregate; post-confirm the distinct runs on two bare longs
    confirmed = (
        cand.withColumn("dot", dot)
        .where(
            (F.col("dot") >= 0)
            & (
                dec(F.col("dot")) * dec(F.col("dot")) * dec(F.lit(1_000_000))
                >= dec(F.col("na")) * dec(F.col("nb")) * dec(F.lit(t2m))
            )
        )
        .select("src", "dst")
        .distinct()
    )
    # edge output is small by construction (near-dup pairs only);
    # materialize, then release the pinned sketch postings. eager=False
    # keeps the plan lazy (composition / plan inspection) at the cost of
    # the sketch cache staying pinned.
    if not eager:
        return confirmed
    result = confirmed.localCheckpoint(eager=True)
    tagged.unpersist()
    return result


def _all_pairs_cosine_edges(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    n_blocks: int | None = None,
    n_rows: int | None = None,
    target_block_rows: int = 50_000,
    gemm_chunk_rows: int = 2048,
) -> DataFrame:
    """All-pairs cosine >= threshold edges over quantized vectors, exact.

    cos >= t  <=>  dot >= 0 and dot^2 >= t^2 * |a|^2 * |b|^2 over integer
    dots/norms — engine- and platform-exact (no float reduction order).

    Physical strategy: block nested-loop GEMM. Vectors hash into
    ``n_blocks`` groups; each of the B*(B+1)/2 block pairs is one
    ``applyInPandas`` task computing a float64 BLAS matmul as a prefilter
    (with a conservative margin) and confirming survivors in exact int64 —
    ~100x faster than per-pair expression dots.

    Scale sizing: ``n_blocks`` defaults to ceil(n / target_block_rows)
    (min 8), so per-task vector storage stays ~(target_block_rows x dim)
    regardless of table size, and the prefilter matmul runs in
    ``gemm_chunk_rows``-row slabs so the dots matrix never materializes
    beyond (chunk x |block|) — constant task memory at any n."""
    import math

    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    q = emb.select(
        F.col(id_col).alias("vid"), quantize(F.col(vec_col), scale).alias("q")
    )
    if n_blocks is None:
        if n_rows is None:
            # pass n_rows when the caller already knows the count; otherwise
            # the sizing action runs on the PERSISTED quantized projection,
            # which the block-pair union scans twice (L and R roles) anyway —
            # materialize once, never recompute upstream lineage
            q = q.persist()
            n_rows = q.count()
        n_blocks = max(8, math.ceil(n_rows / max(1, target_block_rows)))
    block = F.pmod(F.xxhash64("vid"), F.lit(n_blocks)).cast("int")
    q = q.withColumn("block", block)

    combos = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    combos_df = spark.createDataFrame(combos, "ba int, bb int")
    left = q.join(combos_df, q.block == combos_df.ba).select(
        "ba", "bb", "vid", "q", F.lit("L").alias("role")
    )
    right = q.join(combos_df, q.block == combos_df.bb).select(
        "ba", "bb", "vid", "q", F.lit("R").alias("role")
    )
    tagged = left.unionByName(right)
    t2_millionths = int(round(threshold * threshold * 1_000_000))

    def block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        diagonal = pdf["ba"].iloc[0] == pdf["bb"].iloc[0]
        lmask = pdf["role"] == "L"
        lrows = pdf[lmask]
        rrows = pdf[~lmask] if not diagonal else lrows
        if len(lrows) == 0 or len(rrows) == 0:
            return pd.DataFrame({"src": [], "dst": []}).astype("int64")
        la = np.array(lrows["q"].tolist(), dtype=np.int64)
        rb = np.array(rrows["q"].tolist(), dtype=np.int64)
        lids = lrows["vid"].to_numpy()
        rids = rrows["vid"].to_numpy()
        # float64 BLAS prefilter with margin (exact confirm below), run in
        # row slabs so the dots matrix is (chunk x |block|), never bigger
        laf, rbf = la.astype(np.float64), rb.astype(np.float64)
        na = np.einsum("ij,ij->i", laf, laf)
        nb = np.einsum("ij,ij->i", rbf, rbf)
        srcs, dsts = [], []
        for lo in range(0, len(laf), gemm_chunk_rows):
            hi = min(lo + gemm_chunk_rows, len(laf))
            dots_f = laf[lo:hi] @ rbf.T
            thresh = np.sqrt(np.outer(na[lo:hi], nb)) * (threshold - 1e-9)
            cand = np.nonzero((dots_f >= thresh) & (dots_f >= 0))
            for ci, j in zip(*cand, strict=True):
                i = lo + ci
                a_id, b_id = int(lids[i]), int(rids[j])
                if a_id == b_id:
                    continue
                if a_id > b_id:
                    if diagonal:
                        continue  # the (j, i) candidate covers this pair
                    a_id, b_id = b_id, a_id  # off-diagonal: normalize, don't drop
                dot = int(la[i] @ rb[j])
                if dot < 0:
                    continue
                n_a = int(la[i] @ la[i])
                n_b = int(rb[j] @ rb[j])
                if dot * dot * 1_000_000 >= n_a * n_b * t2_millionths:
                    srcs.append(a_id)
                    dsts.append(b_id)
        return pd.DataFrame({"src": srcs, "dst": dsts}, dtype="int64")

    return tagged.groupBy("ba", "bb").applyInPandas(block_pair, "src long, dst long")


def embedding_cosine_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
    candidate_mode: str = "auto",
    all_pairs_gate: int = 200_000,
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """Returns (vec_id, cluster_id, is_dup) with min-id cluster labels.
    Candidate generation gates on input size (see ``cosine_edges``)."""
    edges = cosine_edges(
        emb,
        threshold,
        id_col,
        vec_col,
        n_rows=n_rows,
        candidate_mode=candidate_mode,
        all_pairs_gate=all_pairs_gate,
        max_bucket_size=max_bucket_size,
        observation=observation,
    )
    assigned = assign_clusters(
        emb.select(F.col(id_col).alias(INDEX_COL)), connected_components(edges)
    )
    return assigned.select(
        F.col(INDEX_COL).alias(id_col),
        F.col(CLUSTER_COL).alias("cluster_id"),
        F.col(DUPLICATE_COL).cast("int").alias("is_dup"),
    )
