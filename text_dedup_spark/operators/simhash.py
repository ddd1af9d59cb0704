"""SimHash Hamming-bucket near-duplicate pipeline, Spark-first.

Re-expresses reference ``src/text_dedup/simhash.py``:

    df -> pandas UDF (tokenize+shingle+bit-vote fingerprint + P(b,b-k)
          permutation bucket keys) -> explode(keys)
       -> self-join per bucket with JVM-side popcount filter
          (bit_count(sig1 ^ sig2) <= bit_diff)
       -> shared large-star/small-star CC
       -> assign -> optional Jaccard verification -> filter

Semantics notes (SURVEY.md §7.6):
- the reference's driver-sequential bucket scan (``simhash.py:43-71``,
  the 626 s hotspot in its README) compares each record to ALL earlier
  records in its bucket — i.e. all pairs within a bucket — so a
  groupBy-bucket all-pairs join reproduces the identical union graph,
  order-free, and distributes it;
- the final filter keeps ``NOT __duplicate__`` using the *initial* flag
  even when FP-verification reassigns clusters — reference quirk
  (``simhash.py:176-186``), replicated;
- FP check builds a FRESH union-find over verified pairs (unlike minhash
  which regroups by old cluster) — reference ``simhash.py:93-173``.

Scale: fingerprints are stored as longs (two longs for f=128) so the
Hamming filter runs inside whole-stage codegen (``bit_count(a ^ b)``), not
Python. Hot buckets (boilerplate pages share all-zero or common prefixes)
are the skew risk — the bucket self-join is AQE-skew-split, and
``max_bucket_size`` caps pathological buckets with an observable count
(never a silent drop).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from text_dedup_spark.kernels.simhash_kernel import SimHashKernel
from text_dedup_spark.operators.connected_components import connected_components
from text_dedup_spark.operators.guards import guard_hot_buckets
from text_dedup_spark.operators.ids import CLUSTER_COL, DUPLICATE_COL, INDEX_COL
from text_dedup_spark.operators.minhash import _verify_clusters, assign_clusters


@dataclass
class SimHashDedupResult:
    docs: DataFrame
    kept: DataFrame
    clusters: DataFrame


_EMBED_SCHEMA = StructType(
    [
        StructField("sig_hi", LongType()),  # bits f-1..64 (0 when f=64)
        StructField("sig_lo", LongType()),  # bits 63..0, reinterpreted signed
        StructField("keys", ArrayType(BinaryType())),  # mask||maskedval per table
    ]
)


def _embed_udf(kernel: SimHashKernel):
    @F.pandas_udf(_EMBED_SCHEMA)
    def embed(texts: pd.Series) -> pd.DataFrame:
        m64 = (1 << 64) - 1
        his, los, keys_col = [], [], []
        for sig_bytes, keys in kernel.embed_batch(list(texts)):
            sig = int.from_bytes(sig_bytes, "big")
            lo = sig & m64
            hi = (sig >> 64) & m64
            # reinterpret as signed 64-bit for LongType
            los.append(lo - (1 << 64) if lo >= (1 << 63) else lo)
            his.append(hi - (1 << 64) if hi >= (1 << 63) else hi)
            keys_col.append([mask + val for mask, val in keys])
        return pd.DataFrame({"sig_hi": his, "sig_lo": los, "keys": keys_col})

    return embed


def simhash_embed(
    df: DataFrame, kernel: SimHashKernel, text_col: str = "text"
) -> DataFrame:
    """-> df + __E__ struct (sig_hi, sig_lo, keys array). Kept separate from
    the explode so callers can cache THIS frame: a Generate directly above
    the pandas UDF makes Catalyst infer a size(keys)>0 filter and split the
    UDF into two ArrowEvalPython evaluations (filter + rematerialize) —
    caching the embed output first keeps the expensive UDF at one pass and
    shrinks the cache to one row per doc instead of one per permutation."""
    return df.withColumn("__E__", _embed_udf(kernel)(F.col(text_col)))


def simhash_edges(
    fingerprints: DataFrame,
    bit_diff: int,
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """All-pairs-within-bucket Hamming join -> edges. JVM-side popcount.
    No distinct: a pair that shares k buckets emits k edges, which
    ``connected_components`` dedups itself (an extra distinct would be a
    pure shuffle tax).

    ``max_bucket_size`` caps pathological buckets (within-bucket pair count
    is quadratic). Via ``simhash_dedup`` the input rows are one per DISTINCT
    signature (exact-duplicate cliques are contracted upstream), so the cap
    bounds distinct near-miss signatures per bucket — identical-boilerplate
    floods never trigger it. Capping is observable, never silent: a
    ``pyspark.sql.Observation`` passed as ``observation`` holds
    ``n_buckets_dropped`` / ``n_postings_dropped`` after an action, both 0
    without a cap (``operators.guards``)."""
    fp = guard_hot_buckets(fingerprints, ["__key__"], max_bucket_size, observation)
    left = fp.select(
        F.col("__key__"),
        F.col(INDEX_COL).alias("id1"),
        F.col("sig_hi").alias("hi1"),
        F.col("sig_lo").alias("lo1"),
    )
    right = fp.select(
        F.col("__key__"),
        F.col(INDEX_COL).alias("id2"),
        F.col("sig_hi").alias("hi2"),
        F.col("sig_lo").alias("lo2"),
    )
    hamming = F.bit_count(F.col("lo1").bitwiseXOR(F.col("lo2"))) + F.bit_count(
        F.col("hi1").bitwiseXOR(F.col("hi2"))
    )
    return (
        left.join(right, "__key__")
        .where(F.col("id1") < F.col("id2"))
        .where(hamming <= F.lit(bit_diff))
        .select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    )


def simhash_check_false_positives(
    docs: DataFrame,
    kernel: SimHashKernel,
    jaccard_threshold: float,
    text_col: str = "text",
    max_cluster_verify: int | None = None,
    observation=None,
    contraction: str = "window",
) -> tuple[DataFrame, DataFrame]:
    """Intra-cluster pairwise Jaccard -> fresh CC over verified pairs
    (reference ``simhash.py:93-173``). The shared core, the
    ``max_cluster_verify`` cap and its ``n_bypassed`` counter are
    ``minhash._verify_clusters``'s.

    The pair join runs over one representative per distinct text, so the
    fresh CC consumes rep->member star edges (for text groups of size >= 2)
    plus the verified rep-rep pairs: the transitive closure is exactly the
    all-pairs graph's (pinned by the ``simhash_dedup_verified_md5`` oracle,
    whose SQL replays plain all-pairs). A 10k-member exact-duplicate
    cluster is ONE distinct text here, not 5*10^7 Jaccard pairs."""

    def regroup(cand, verified, bypassed):
        # star edges reconnect identical-text members to their rep (valid
        # iff identity satisfies the threshold, i.e. threshold <= 1.0)
        star = (
            cand.where(F.col(INDEX_COL) != F.col("__trep__")).select(
                F.col("__trep__").alias("src"), F.col(INDEX_COL).alias("dst")
            )
            if jaccard_threshold <= 1.0
            else cand.limit(0).select(
                F.col(INDEX_COL).alias("src"), F.col(INDEX_COL).alias("dst")
            )
        )
        new_map = connected_components(
            verified.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
            .unionByName(star)
        )
        if bypassed is None:
            return new_map
        # bypassed clusters keep their assignment verbatim; their min-id
        # labels can't collide with the fresh CC's labels (a bypassed
        # cluster's root is itself bypassed, so it never enters a verified
        # pair)
        return new_map.unionByName(
            bypassed.select(F.col("idx").alias("id"), F.col(CLUSTER_COL).alias("cluster"))
        )

    return _verify_clusters(
        docs,
        kernel.ngram_size,
        kernel.min_length,
        jaccard_threshold,
        regroup,
        observation,
        text_col,
        max_cluster_verify,
        contraction,
    )


def simhash_dedup(
    df: DataFrame,
    kernel: SimHashKernel,
    text_col: str = "text",
    id_col: str = INDEX_COL,
    check_false_positive: bool = False,
    jaccard_threshold: float = 0.5,
    skip_filtering: bool = False,
    max_bucket_size: int | None = None,
    max_cluster_verify: int | None = None,
    repartition_input: int | None = None,
    observation=None,
    contraction: str = "window",
) -> SimHashDedupResult:
    """End-to-end SimHash dedup. ``df`` must already carry a unique long id
    in ``id_col``.

    ``observation`` holds ``n_buckets_dropped`` / ``n_postings_dropped``
    (the ``max_bucket_size`` guard) and ``n_bypassed`` (the
    ``max_cluster_verify`` guard) once an action has run on ``docs`` or
    ``kept``; a counter is 0 when its guard is off or its path did not run.
    Each guard observes an internal ``Observation``, which connected
    components' and the verify's actions fill before this returns; the
    caller's is attached once, with those values as literals, to ``docs``."""
    docs = df if id_col == INDEX_COL else df.withColumn(INDEX_COL, F.col(id_col))
    if repartition_input:
        docs = docs.repartition(repartition_input, F.col(INDEX_COL))
    # persist the embed output (one row per doc, UDF evaluated exactly once
    # — see simhash_embed docstring); the cheap JVM window/explode re-runs
    # per consumer
    embedded = simhash_embed(docs, kernel, text_col).persist()

    # --- distinct-fingerprint contraction (lossless) -------------------
    # Docs with IDENTICAL signatures are Hamming-0 cliques AND share every
    # permutation bucket key (keys are a pure function of the signature),
    # so contracting each signature group to its min-id representative
    # BEFORE the quadratic within-bucket join yields the exact same
    # transitive closure: rep->member star edges reconnect the group, and
    # rep-rep bucket edges carry every cross-group adjacency. Within-bucket
    # pair work drops from sum(m_b^2) over DOCS to sum(u_b^2) over DISTINCT
    # signatures — the difference between a 10-minute hang and ~2 minutes
    # on a 1M-page boilerplate-heavy corpus (a 50k-doc identical-template
    # cluster is ONE node here; the reference's sequential bucket scan,
    # simhash.py:43-71, pays all 1.25e9 pairs).
    #
    # Rep selection is a partial-aggregated groupBy + join back, NOT a
    # window: the map-side combine shrinks the rep exchange to distinct
    # signatures, AQE broadcasts it when small (the common case — the join
    # back then moves NO embed rows and plans no sort), and at flood scale
    # it degrades to the same single hash exchange the window would pay,
    # minus the window's per-partition sort.
    sigs = embedded.select(
        F.col(INDEX_COL),
        F.col("__E__.sig_hi").alias("sig_hi"),
        F.col("__E__.sig_lo").alias("sig_lo"),
        F.col("__E__.keys").alias("__keys__"),
    )
    reps = sigs.groupBy("sig_hi", "sig_lo").agg(
        F.min(INDEX_COL).alias("__rep__")
    )
    with_rep = sigs.join(reps, ["sig_hi", "sig_lo"])
    member_edges = with_rep.where(F.col(INDEX_COL) != F.col("__rep__")).select(
        F.col("__rep__").alias("src"), F.col(INDEX_COL).alias("dst")
    )
    fps = (
        with_rep.where(F.col(INDEX_COL) == F.col("__rep__"))
        .select(
            F.col(INDEX_COL),
            F.col("sig_hi"),
            F.col("sig_lo"),
            F.explode_outer("__keys__").alias("__key__"),
        )
    )
    guard_obs = Observation() if observation is not None else None
    bucket_edges = simhash_edges(fps, kernel.bit_diff, max_bucket_size, guard_obs)
    edges = member_edges.unionByName(bucket_edges)
    mapping = connected_components(edges)
    assigned = assign_clusters(docs, mapping)
    counters = {"n_bypassed": 0}
    if check_false_positive:
        verify_obs = Observation() if observation is not None else None
        assigned, mapping = simhash_check_false_positives(
            assigned,
            kernel,
            jaccard_threshold,
            text_col,
            max_cluster_verify=max_cluster_verify,
            observation=verify_obs,
            contraction=contraction,
        )
        if verify_obs is not None:
            counters = verify_obs.get
    if observation is not None:
        counters = {**guard_obs.get, **counters}
        assigned = assigned.observe(
            observation, *[F.lit(v).cast("long").alias(k) for k, v in counters.items()]
        )
    # reference quirk: filter uses the INITIAL duplicate flag (simhash.py:176-186)
    kept = assigned if skip_filtering else assigned.where(~F.col(DUPLICATE_COL))
    return SimHashDedupResult(docs=assigned, kept=kept, clusters=mapping)
