"""MinHash + LSH near-duplicate pipeline, Spark-first.

Re-expresses reference ``src/text_dedup/minhash.py`` (load -> filter ->
fingerprint -> cluster -> assign -> verify -> filter) as a declarative
DataFrame plan:

    df -> pandas UDF (tokenize+shingle+minhash bands, Arrow-batched)
       -> posexplode(bands)
       -> groupBy(band) min/count           [star edges, O(n) not O(n^2)]
       -> large-star/small-star CC          [replaces polars super_merger]
       -> left join assign + coalesce       [replaces pickled parents dict]
       -> optional pair-verification join   [check_false_positives]
       -> filter representatives

Scale design (SURVEY.md §7.5):
- The reference's band self-join (``minhash.py:59-65``) is O(m^2) per band
  group; we emit star edges (band-min -> member) instead — identical
  transitive closure, linear output.
- Two physical forms of the star-edge step: ``lsh_star_edges`` (window-min,
  ONE exchange — fastest at bench scale, but a hot band key lands whole in
  a single sort task) and ``lsh_star_edges_salted`` (identical-fingerprint
  contraction when a probe finds enough exact duplicates, then groupBy-min
  + AQE-skew-split join-back — per-reducer rows bounded under arbitrarily
  hot bands). The pipeline's ``algorithm.profile`` is the only selector:
  "parity" runs the window forms, "scale" the salted star edges and the
  join-form FP-verify contraction. See each docstring.
- No collect_list anywhere; no driver-side maps. Cluster assignment is a
  shuffle join, broadcastable automatically when the cluster map is small.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
from text_dedup_spark.kernels.tokenization import shingles
from text_dedup_spark.operators.connected_components import connected_components
from text_dedup_spark.operators.guards import observe_zero
from text_dedup_spark.operators.ids import CLUSTER_COL, DUPLICATE_COL, INDEX_COL


@dataclass
class MinHashDedupResult:
    docs: DataFrame  # all surviving-filter docs + __CLUSTER__ + __duplicate__
    kept: DataFrame  # deduplicated output (cluster representatives)
    clusters: DataFrame  # (id, cluster) mapping for nodes in >=2 clusters


def _bands_udf(kernel: MinHashKernel):
    """Arrow-batched fingerprint: None for docs failing the min_length
    filter (reference ``minhash.py:23-28``), else an int64 array of 64-bit
    band keys (``MinHashKernel.band_keys_batch`` — the polynomial mix of
    each band's signature values; equal bands -> equal keys, distinct
    bands collide at ~2**-64). ~4x fewer bytes per doc through Arrow and
    the fingerprint cache than the byteswapped signature blob."""

    @F.pandas_udf(ArrayType(LongType()))
    def bands(texts: pd.Series) -> pd.Series:
        return pd.Series(kernel.band_keys_batch(texts))

    return bands


def _explode_bands(filtered: DataFrame, kernel: MinHashKernel) -> DataFrame:
    """Explode the band-key array into (band_idx, band_val) rows JVM-side
    (whole-stage codegen, no Python; band_val is the int64 band key)."""
    return filtered.select(
        F.col(INDEX_COL),
        F.posexplode(F.col("__BANDS__")).alias("__band_idx__", "__band_val__"),
    )


def gram_set_udf(ngram_size: int, min_length: int):
    """Per-doc distinct shingle strings (reference tokenize+shingles, ONE
    Python pass per doc). The pairwise Jaccard then runs JVM-side
    (``jaccard_ge_expr``) — the quadratic part of FP verification stays in
    whole-stage codegen instead of re-tokenizing both texts per PAIR."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(ArrayType(StringType()))
    def grams(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [g.decode("utf-8") for g in shingles(t or "", ngram_size, min_length)]
                for t in texts
            ]
        )

    return grams


def jaccard_ge_expr(g1, g2, threshold: float):
    """JVM column expression for ``jaccard_similarity(set1, set2) >=
    threshold`` over distinct-gram arrays: one int->double division and the
    same IEEE-754 comparison the Python kernel performs, so results are
    bit-identical; the reference's empty-union -> 1.0 convention folds into
    a constant on the threshold."""
    inter = F.size(F.array_intersect(g1, g2))
    uni = F.size(g1) + F.size(g2) - inter
    cond = inter.cast("double") / uni >= F.lit(float(threshold))
    if threshold <= 1.0:
        return (uni == F.lit(0)) | cond
    return (uni > F.lit(0)) & cond


def fingerprint_bands(df: DataFrame, kernel: MinHashKernel, text_col: str = "text") -> DataFrame:
    """The persisted fingerprint cache: (__INDEX__, __BANDS__) with one row
    per input doc, __BANDS__ null for docs below ``min_length``.

    SLIM — (id, band-key array) only, ~9B/band — the exact shape of the
    fingerprint checkpoint table you'd persist at cluster scale; wide
    columns rejoin by id at assignment. The persist sits BELOW every filter
    on __BANDS__ deliberately: a filter on the UDF output (the explicit
    isNotNull, or the ``isnotnull AND size > 0`` Catalyst infers for a
    posexplode) is pushed below the projection that computes the UDF, and
    the plan then holds two ArrowEvalPython nodes — one to evaluate the
    filter, one to rematerialize the column — doubling the most expensive
    stage of the pipeline. Caching the raw UDF output keeps one evaluation;
    the filter is a trivial scan predicate on the cache."""
    return (
        df.select(F.col(INDEX_COL), F.col(text_col))
        .withColumn("__BANDS__", _bands_udf(kernel)(F.col(text_col)))
        .select(INDEX_COL, "__BANDS__")
        .persist()
    )


def minhash_fingerprint(df: DataFrame, kernel: MinHashKernel, text_col: str = "text") -> DataFrame:
    """filter(min_length) + embed + band split -> (__INDEX__, __band_idx__,
    __band_val__). Equivalent of reference P1+F1..F7 (minhash.py:23-44).
    Reads a ``fingerprint_bands`` cache, so the bands UDF runs once per
    doc; ``spark.catalog.clearCache()`` (or ``fingerprint_bands`` directly,
    for a handle to unpersist) releases it."""
    bands = fingerprint_bands(df, kernel, text_col)
    return _explode_bands(bands.where(F.col("__BANDS__").isNotNull()), kernel)


def lsh_star_edges(exploded: DataFrame) -> DataFrame:
    """Band groups -> star edges (band-min-id, member-id) in ONE shuffle: a
    min-over-band window replaces the former groupBy + join-back pair, which
    exchanged the exploded band rows TWICE (once under the aggregation, once
    under the join's left side) and re-read the fingerprint cache for each —
    measured as the second-largest cost of the 1M-doc pipeline after the
    fingerprint UDF itself. A row is an edge iff its id is not its band
    group's minimum (a single-member group contributes nothing, so no
    count filter is needed). Edge set identical to the reference's all-pairs
    band join (J1) through connected components, linear in band-group size.

    The window partitions on (band key, band index), in that order: the
    sort's prefix is taken from the first column, and the int64 band key
    fills it, so comparisons tie on the prefix (and fall back to the full
    row comparator) only between members of one band group. Band index
    first puts only the few band-index values in the prefix, so nearly
    every comparison ties. A hashed one-column key would also allow radix
    sort, but it pools every band's groups in one 64-bit space: its false
    merges would come on top of the band keys' own, at about ``bands``
    times their rate.

    No distinct: connected_components dedups its input, so an extra shuffle
    here would be pure overhead."""
    from pyspark.sql import Window

    w = Window.partitionBy("__band_val__", "__band_idx__")
    return (
        exploded.withColumn("__root__", F.min(INDEX_COL).over(w))
        .where(F.col(INDEX_COL) != F.col("__root__"))
        .select(F.col("__root__").alias("src"), F.col(INDEX_COL).alias("dst"))
    )


def lsh_star_edges_salted(exploded: DataFrame) -> DataFrame:
    """Hot-band-safe star edges: salted min-aggregation + AQE join-back
    (SURVEY.md §7.5's "salted groupBy" form; north-star scale requirement).
    Same edge set as ``lsh_star_edges``.

    Why the window form can't serve 10^12 docs: a window partitioned by
    band key hashes every row of one band into ONE task's sort. Web corpora
    put 10^7-10^9 exact copies of boilerplate pages in the same band
    (FIXTURES.md F1 plants exactly this), so the hottest task scales with
    the largest duplicate group — unbounded. Here instead:

    1. ``groupBy(band).min(id)`` with map-side partial aggregation — which
       IS the salted first phase: every map task pre-combines its own rows
       per band (salt = input partition id, applied by Spark's
       HashAggregate(partial) automatically), so the reducer receives at
       most #map-tasks rows per band key no matter how hot the band. An
       explicit ``xxhash64(id) % S`` salt phase would add a full exchange
       of the exploded rows for no skew benefit (measured ~1.3x wall on 1M
       docs).
    2. join the band roots back to the exploded rows — the probe side's hot
       band partitions are AQE-skew-SPLIT (OptimizeSkewedJoin duplicates
       the one-row-per-band build side per split), so no task exceeds the
       skew threshold regardless of band heat.

    More exchanges than the window's one — at bench scale the window wins;
    the scale profile runs this form, because the window's worst task is
    O(hottest band) and this one's is O(skew-split threshold)."""
    # count >= 2: a single-member band can never produce an edge (its only
    # row IS the root), and on a mostly-unique web corpus single-member
    # bands are the overwhelming majority of distinct band values —
    # filtering them off the build side shrinks the join-back from
    # ~|distinct bands| to ~|duplicate-sharing bands| rows (often
    # broadcastable), and the inner join drops the matching probe rows for
    # free.
    roots = (
        exploded.select("__band_idx__", "__band_val__", F.col(INDEX_COL).alias("__m__"))
        .groupBy("__band_idx__", "__band_val__")
        .agg(F.min("__m__").alias("__root__"), F.count(F.lit(1)).alias("__bn__"))
        .where(F.col("__bn__") >= 2)
        .drop("__bn__")
    )
    return (
        exploded.join(roots, ["__band_idx__", "__band_val__"])
        .where(F.col(INDEX_COL) != F.col("__root__"))
        .select(F.col("__root__").alias("src"), F.col(INDEX_COL).alias("dst"))
    )


def contract_identical_fingerprints(
    filtered: DataFrame,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Collapse byte-identical fingerprints (== identical band arrays) to
    one representative BEFORE the band explode: returns ``(rep_rows,
    contraction_edges)`` where ``rep_rows`` is (id, __BANDS__) with one row
    per distinct fingerprint and ``contraction_edges`` is (src=rep-min-id,
    dst=member) star edges. Exact duplicates share every band, so routing
    only the representative through explode + band exchange removes the
    largest duplicate group from the hottest band entirely — the band
    phase's row count drops from n*b to n_distinct*b, and the transitive
    closure over (contraction edges UNION band star edges) is identical to
    running all members through the bands.

    Grouping key is ``xxhash64(__BANDS__)`` (collision ~2^-64 — the same
    absorbed risk class as the int64 band keys themselves; an FP-verify run
    re-checks any merged pair against real text). The min-rep map comes
    from a partial-agg-safe groupBy that ALSO carries the band array out
    via ``first(__BANDS__)`` — sound because every row of a group has the
    identical array by construction — so ``rep_rows`` needs no join at all,
    and the member-edge join probes only 16-byte (id, key) rows instead of
    dragging the band arrays through a shuffle (measured: the array-probe
    form cost ~40% extra wall on a 1M-doc corpus). The join-back is
    AQE-skew-split, so a 10M-copy boilerplate group never concentrates in
    one task."""
    fp = filtered.select(
        INDEX_COL, "__BANDS__", F.xxhash64(F.col("__BANDS__")).alias("__fph__")
    )
    if num_partitions:
        # pre-partition on the group/join key: the aggregate's required
        # distribution is satisfied, so this IS the agg exchange (at the
        # pinned width), and the edge join below is co-partitioned on
        # __fph__ — no second exchange. Same sort-width rationale as
        # ``band_partitions`` (concurrent sort tasks thrash beyond ~16 MB).
        fp = fp.repartition(num_partitions, "__fph__")
    rep_map = fp.groupBy("__fph__").agg(
        F.min(INDEX_COL).alias("__rep__"),
        F.first("__BANDS__").alias("__BANDS__"),
        F.count(F.lit(1)).alias("__fn__"),
    )
    # singleton fingerprints (the bulk of a mostly-unique corpus) emit no
    # contraction edge — keep them off the edge join's build side
    contraction_edges = (
        fp.select(INDEX_COL, "__fph__")
        .join(
            rep_map.where(F.col("__fn__") >= 2).select("__fph__", "__rep__"),
            "__fph__",
        )
        .where(F.col(INDEX_COL) != F.col("__rep__"))
        .select(F.col("__rep__").alias("src"), F.col(INDEX_COL).alias("dst"))
    )
    rep_rows = rep_map.select(F.col("__rep__").alias(INDEX_COL), "__BANDS__")
    return rep_rows, contraction_edges


def _contract_text_groups(
    cand: DataFrame, text_col: str, contraction: str, cluster_col: str = CLUSTER_COL
) -> DataFrame:
    """Attach ``__trep__`` (min id of the (cluster, identical-text) group)
    and ``__tsz__`` (group size) to every candidate row — the identical-text
    contraction of ``_verify_clusters``. ``contraction`` picks the physical
    form: "window" (parity) = one exchange, worst task O(largest
    identical-text group); "join" (scale) = partial-agg groupBy +
    AQE-skew-split join-back, worst task bounded."""
    if contraction not in ("window", "join"):
        raise ValueError(
            f"contraction must be 'window' or 'join', got {contraction!r}"
        )
    key = F.sha2(F.col(text_col), 256)
    if contraction == "window":
        from pyspark.sql import Window

        wt = Window.partitionBy(cluster_col, key)
        return cand.withColumn("__trep__", F.min(INDEX_COL).over(wt)).withColumn(
            "__tsz__", F.count(F.lit(1)).over(wt)
        )
    with_key = cand.withColumn("__tkey__", key)
    groups = with_key.groupBy(cluster_col, "__tkey__").agg(
        F.min(INDEX_COL).alias("__trep__"), F.count(F.lit(1)).alias("__tsz__")
    )
    return with_key.join(groups, [cluster_col, "__tkey__"]).drop("__tkey__")


def _verify_clusters(
    docs: DataFrame,
    ngram_size: int,
    min_length: int,
    threshold: float,
    regroup: Callable[[DataFrame, DataFrame, DataFrame | None], DataFrame],
    observation: Observation | None,
    text_col: str = "text",
    max_cluster_verify: int | None = None,
    contraction: str = "window",
) -> tuple[DataFrame, DataFrame]:
    """The FP-verification core of both pipelines: the pairwise Jaccard
    re-check of each cluster's duplicate candidates. Returns ``(docs with
    __CLUSTER__ reassigned, new (id, cluster) map)``; docs outside the new
    map revert to their own id, and __duplicate__ is NOT updated (reference
    quirk, ``minhash.py:101-170`` / ``simhash.py:93-173``).

    Only the regroup differs per algorithm: ``regroup(cand, verified,
    bypassed) -> (id, cluster)`` gets the contracted candidates (one row
    per doc with ``__trep__``/``__tsz__``), the verified rep pairs
    ``(id1, id2)`` and the bypassed ``(idx, __CLUSTER__)`` rows (None
    without a cap).

    ``max_cluster_verify`` (scale guard, None = reference-faithful):
    clusters with more DISTINCT texts than the cap skip pairwise
    verification and keep their assignment (a 10M-member exact-duplicate
    boilerplate cluster is ONE distinct text and never trips it; the cap
    bounds genuinely-distinct near-miss variety). Bypassed membership is
    counted as ``n_bypassed`` on ``observation`` (0 without a cap) — never
    a silent drop."""
    cand = docs.where(F.col(DUPLICATE_COL)).select(INDEX_COL, text_col, CLUSTER_COL)

    # --- identical-text contraction (lossless) -------------------------
    # Within a cluster, docs with byte-identical text always verify against
    # each other (Jaccard(t, t) = 1.0 >= threshold), and every cross-text
    # pair's Jaccard depends only on the two TEXTS — so the quadratic
    # pairwise re-check runs over one representative per distinct text.
    # Boilerplate mega-clusters are overwhelmingly exact duplicates — the
    # case that made the O(m^2) verify a scale hazard — and contract to a
    # handful of distinct texts. The "window" form (parity) measured 1.3x
    # faster than a join-back at sf0.1 (the join drags the TEXT column
    # through a second exchange), but one (cluster, text-hash) group is one
    # sort task; the "join" form (scale) bounds the worst task by the skew
    # threshold.
    # persisted: cand feeds the cap sizing, the rep selection AND the
    # regroup — without it each consumer re-runs the whole upstream
    # (assignment join + contraction) once per scan. Bounded: dup
    # candidates only (same size class as the reference's verify working
    # set), released after new_map materializes below. cand_cache keeps a
    # handle on the PERSISTED frame: `cand` is rebound under
    # max_cluster_verify, and unpersisting the derived plan would be a
    # silent no-op (CacheManager matches by sameResult) — the cached
    # contraction would leak for the session.
    cand_cache = _contract_text_groups(cand, text_col, contraction).persist()
    cand = cand_cache

    bypassed = None
    if max_cluster_verify is not None:
        # the cap bounds DISTINCT texts per cluster (identical-text floods
        # are contracted and never inflate the pair count)
        sizes = cand.where(F.col(INDEX_COL) == F.col("__trep__")).groupBy(
            CLUSTER_COL
        ).agg(F.count(F.lit(1)).alias("__csz__"))
        cand_all = cand.join(sizes, CLUSTER_COL)
        bypassed = cand_all.where(F.col("__csz__") > max_cluster_verify).select(
            F.col(INDEX_COL).alias("idx"), F.col(CLUSTER_COL)
        )
        # observable, never silent: readable post-action via Observation
        if observation is not None:
            bypassed = bypassed.observe(
                observation, F.count(F.lit(1)).alias("n_bypassed")
            )
        cand = cand_all.where(F.col("__csz__") <= max_cluster_verify).drop("__csz__")

    # one gram pass per rep, then JVM array_intersect Jaccard per pair —
    # the O(pairs) cost runs in whole-stage codegen, not Python. Persisted:
    # reps backs BOTH sides of the pair self-join — uncached, the gram UDF
    # would run twice (once per side). Cache only (cluster, id, grams): the
    # pair join never reads the raw text, and caching it alongside would
    # roughly double the cache bytes.
    reps = (
        cand.where(F.col(INDEX_COL) == F.col("__trep__"))
        .withColumn("__G__", gram_set_udf(ngram_size, min_length)(F.col(text_col)))
        .select(CLUSTER_COL, INDEX_COL, "__G__")
        .persist()
    )
    left = reps.select(
        F.col(CLUSTER_COL), F.col(INDEX_COL).alias("id1"), F.col("__G__").alias("g1")
    )
    right = reps.select(
        F.col(CLUSTER_COL), F.col(INDEX_COL).alias("id2"), F.col("__G__").alias("g2")
    )
    pairs = left.join(right, CLUSTER_COL).where(F.col("id1") < F.col("id2"))
    verified = pairs.where(jaccard_ge_expr(F.col("g1"), F.col("g2"), threshold))

    new_map = regroup(cand, verified, bypassed)
    if bypassed is None:
        new_map = observe_zero(new_map, observation, "n_bypassed")
    # materialize the verified mapping once (it is small — verified dup docs
    # only), then release the working caches: without this, the caller's
    # docs-action AND its clusters-action would each re-run the pair join
    new_map = new_map.localCheckpoint(eager=True)
    cand_cache.unpersist()
    reps.unpersist()
    reassigned = (
        docs.drop(CLUSTER_COL)
        .join(new_map.withColumnRenamed("id", INDEX_COL), INDEX_COL, "left")
        .withColumn(CLUSTER_COL, F.coalesce(F.col("cluster"), F.col(INDEX_COL)))
        .drop("cluster")
    )
    return reassigned, new_map


def assign_clusters(docs: DataFrame, mapping: DataFrame) -> DataFrame:
    """Left-join cluster assignment: cluster = parents.get(idx, idx),
    __duplicate__ = idx in parents (reference ``minhash.py:82-98``)."""
    m = mapping.select(F.col("id").alias(INDEX_COL), F.col("cluster").alias("__C__"))
    return (
        docs.join(m, INDEX_COL, "left")
        .withColumn(CLUSTER_COL, F.coalesce(F.col("__C__"), F.col(INDEX_COL)))
        .withColumn(DUPLICATE_COL, F.col("__C__").isNotNull())
        .drop("__C__")
    )


def check_false_positives(
    docs: DataFrame,
    kernel: MinHashKernel,
    text_col: str = "text",
    max_cluster_verify: int | None = None,
    observation=None,
    contraction: str = "window",
) -> tuple[DataFrame, DataFrame]:
    """Intra-cluster pairwise Jaccard re-check, re-assign min-idx within the
    *old* cluster (exact semantics of reference ``minhash.py:101-170`` —
    nodes failing verification revert to their own id). The shared core,
    the ``max_cluster_verify`` cap and its ``n_bypassed`` counter are
    ``_verify_clusters``'s.

    A text group is verified iff it has >=2 members or its rep verifies
    against some other distinct text; verified membership and the min-idx
    regroup run over the full doc set, so the output is exactly the
    reference's."""

    def regroup(cand, verified, bypassed):
        # both endpoints from ONE scan of the quadratic pair join: a union
        # of the id1 and id2 columns would re-run the pair-Jaccard filter —
        # the verify stage's dominant cost — once per side
        verified_reps = verified.select(
            F.explode(F.array(F.col("id1"), F.col("id2"))).alias("__trep__")
        )
        # a group verifies via size >= 2 (J = 1.0 pairs, iff the threshold
        # is satisfiable by identity) or via its rep's cross-text pairs. The
        # two branches partition cand on the auto predicate, so their union
        # is duplicate-free without any distinct — and the semi join
        # tolerates duplicate build rows, so verified_reps needs no distinct
        # either. cand is unique per doc id and bypassed is disjoint from it
        # (opposite cap filter).
        auto = F.col("__tsz__") >= 2 if kernel.threshold <= 1.0 else F.lit(False)
        members = (
            cand.where(auto)
            .select(F.col(INDEX_COL).alias("idx"), F.col(CLUSTER_COL))
            .unionByName(
                cand.where(~auto)
                .join(verified_reps, "__trep__", "left_semi")
                .select(F.col(INDEX_COL).alias("idx"), F.col(CLUSTER_COL))
            )
        )
        if bypassed is not None:
            members = members.unionByName(bypassed)
        # min-idx regroup within the OLD cluster, same window-vs-join trade
        # as the text contraction: the window is one exchange and evaluates
        # the `members` subtree ONCE, where the join form plans it twice —
        # build and probe side — for an extra exchange; its worst task is
        # O(largest old cluster), which the parity profile accepts and the
        # scale profile ("join") must not.
        if contraction == "window":
            from pyspark.sql import Window

            return members.withColumn(
                "__newc__", F.min("idx").over(Window.partitionBy(CLUSTER_COL))
            ).select(F.col("idx").alias("id"), F.col("__newc__").alias("cluster"))
        return members.join(
            members.groupBy(CLUSTER_COL).agg(F.min("idx").alias("__newc__")),
            CLUSTER_COL,
        ).select(F.col("idx").alias("id"), F.col("__newc__").alias("cluster"))

    return _verify_clusters(
        docs,
        kernel.ngram_size,
        kernel.min_length,
        kernel.threshold,
        regroup,
        observation,
        text_col,
        max_cluster_verify,
        contraction,
    )


def minhash_dedup(
    df: DataFrame,
    kernel: MinHashKernel,
    text_col: str = "text",
    id_col: str = INDEX_COL,
    check_false_positive: bool = False,
    skip_filtering: bool = False,
    repartition_input: int | None = None,
    max_cluster_verify: int | None = None,
    band_partitions: int | None = None,
    band_edges_mode: str = "window",
    observation=None,
) -> MinHashDedupResult:
    """End-to-end MinHash dedup. ``df`` must already carry a unique long id
    in ``id_col`` (see ``operators.ids.assign_ids``).

    ``repartition_input``: spread the CPU-heavy fingerprint UDF across N
    partitions. Needed when the source is a handful of files (bench/test
    inputs); leave None at scale where file splits give parallelism.

    ``band_partitions``: partition count for the band-group exchange under
    the star-edge window — the largest shuffle of the pipeline (docs x
    bands rows). The window's per-partition SORT is the concurrency-hostile
    step: partitions much beyond ~16 MB thrash cache under multi-task
    executors (measured 2.8x on the sort stage at 8 concurrent tasks).
    Size so partitions land well under that (rows*20B / band_partitions);
    an explicit count here survives AQE's parallelism-first coalescing,
    which would otherwise merge the sort back to defaultParallelism-sized
    partitions. None = session ``spark.sql.shuffle.partitions``.

    ``band_edges_mode`` is the physical form of every stage, resolved by
    the pipeline from ``algorithm.profile``: ``"window"`` (parity — one
    exchange per step, fastest when no band is pathologically hot) or
    ``"salted"`` (scale — identical-fingerprint contraction when it pays,
    salted groupBy-min + AQE-skew-split join-back, and the join-form
    FP-verify contraction: worst task bounded regardless of band heat).
    Cluster assignments are identical between modes (min is associative;
    contraction preserves the transitive closure).

    ``observation`` holds ``n_bypassed`` (the ``max_cluster_verify`` guard)
    after an action; 0 without the cap or the verify."""
    if band_edges_mode not in ("window", "salted"):
        raise ValueError(
            f"band_edges_mode must be 'window' or 'salted', got {band_edges_mode!r}"
        )
    docs = df if id_col == INDEX_COL else df.withColumn(INDEX_COL, F.col(id_col))
    if repartition_input:
        docs = docs.repartition(repartition_input, F.col(INDEX_COL))

    with_bands = fingerprint_bands(docs, kernel, text_col)
    filtered = with_bands.where(F.col("__BANDS__").isNotNull())

    rep_rows, contraction_edges = filtered, None
    if band_edges_mode == "salted":
        # Contract identical fingerprints only when the corpus has enough
        # of them: contraction spends ~2 exchanges of n narrow fingerprint
        # rows to save (1 - distinct_ratio) of the n*b-row band explode +
        # exchange — with b ~ 13 bands the break-even sits near
        # distinct_ratio ~ 0.85. ONE distributed pass over the slim cache
        # (count + approx_count_distinct; it populates the cache too, work
        # the band phase needs anyway) measures the ratio. rsd=0.02 (the
        # default is 5%): near break-even either choice costs the same, so
        # tighter is free accuracy. Output is identical either way, and
        # skew safety does not depend on the gate — the salted groupBy's
        # map-side partial aggregation and the AQE-skew-split join-back
        # bound per-task work with or without contraction.
        probe = filtered.select(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(F.xxhash64("__BANDS__"), rsd=0.02).alias("nd"),
        ).first()
        if probe["nd"] < 0.85 * probe["n"]:
            rep_rows, contraction_edges = contract_identical_fingerprints(
                filtered, num_partitions=band_partitions
            )
    exploded = _explode_bands(rep_rows, kernel)
    if band_partitions:
        # pre-partition on the band keys: satisfies the window's required
        # clustering and the salted groupBy's distribution (the join-back
        # probe shares it), so no second exchange, while pinning the sort
        # width
        exploded = exploded.repartition(
            band_partitions, "__band_idx__", "__band_val__"
        )
    if band_edges_mode == "salted":
        edges = lsh_star_edges_salted(exploded)
        if contraction_edges is not None:
            edges = edges.unionByName(contraction_edges)
    else:
        edges = lsh_star_edges(exploded)
    edges = edges.observe(
        "minhash_edges", F.count(F.lit(1)).alias("n_edges")
    )
    mapping = connected_components(edges)

    # min-length survivors rejoin their full columns by id (both sides carry
    # the repartition hash partitioning, so this adds no exchange of the
    # wide rows beyond the one the repartition already paid)
    survivors = docs.join(filtered.select(INDEX_COL), INDEX_COL)
    assigned = assign_clusters(survivors, mapping)
    if check_false_positive:
        assigned, mapping = check_false_positives(
            assigned,
            kernel,
            text_col,
            max_cluster_verify=max_cluster_verify,
            observation=observation,
            contraction="join" if band_edges_mode == "salted" else "window",
        )
    else:
        assigned = observe_zero(assigned, observation, "n_bypassed")

    kept = (
        assigned
        if skip_filtering
        else assigned.where(F.col(CLUSTER_COL) == F.col(INDEX_COL))
    )
    return MinHashDedupResult(docs=assigned, kept=kept, clusters=mapping)
