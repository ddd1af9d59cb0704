"""Exact-substring (suffix-array) dedup pipeline, Spark-first.

Reference: ``src/text_dedup/suffix_array.py`` — concat corpus bytes with
per-doc boundary slices (S6), external suffix-array + self-similar + collect
(X1/X2), restore ranges to docs (X3), per-doc text rewrite (P6) and
empty-doc filter (P7). Here the whole chain runs inside ``applyInPandas``
groups with the in-house suffix-array kernel; restore/merge/clean_up are
the doctest-pinned kernels from kernels/intervals.py.

Grouping model (SURVEY.md §7.7), chosen by corpus size alone
(the broadcast-threshold idiom):
- total UTF-8 bytes at or below the gate (``ONE_GROUP_BYTES``, and at most
  ``max_group_bytes``): the whole corpus is ONE group — byte-exact
  reference semantics in a 2-stage plan.
- above it: winnowing-anchor connected-component groups. LOSSLESS: any
  duplicated range >= the length threshold selects a shared anchor
  (w + W - 1 == threshold), so both copies land in one group and the
  per-group exact pass finds exactly the one-group result; group sizes
  stay bounded by actual content overlap, not corpus size. Giant
  boilerplate components are capped observably (``max_group_bytes``),
  never silently.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from text_dedup_spark.operators.guards import observe_zero
from text_dedup_spark.operators.ids import INDEX_COL

# Corpora whose total UTF-8 bytes are at or below this take the one-group
# plan. None = kernel-aware: 128 MB when the C SA-IS kernel loads (O(n)
# regardless of repetitiveness, measured ~2.5-6 MB/s/task on text — a
# 128 MB task stays under ~a minute), 32 MB on the numpy fallback (prefix
# doubling sustains ~1 MB/s on typical text and ~0.25 MB/s on
# pathologically repetitive bytes, where tie classes persist to width
# ~4 KB). Above the gate the anchored grouping's ~6 extra Spark stages pay
# for themselves; below it they dominate.
ONE_GROUP_BYTES: int | None = None


@dataclass
class SuffixDedupResult:
    docs: DataFrame  # id + rewritten text (may be empty)
    kept: DataFrame  # docs with non-empty rewritten text


def _one_group_bytes() -> int:
    if ONE_GROUP_BYTES is not None:
        return ONE_GROUP_BYTES
    from text_dedup_spark.kernels import sa_native

    return (128 << 20) if sa_native.available() else (32 << 20)


def _overlap_bytes(max_group_bytes: int, length_threshold: int) -> int:
    """Boundary-overlap margin of a byte split: cap/4 buys back the
    duplicates whose min-repeated-anchor positions sit within the margin
    of a cut for +25% worst-case per-task bytes (measured on the 91 MB
    ladder; see BENCH.md). The margin should cover the longest plausible
    duplicate run."""
    return min(max_group_bytes // 4, max(1 << 20, 64 * length_threshold))


def _group_slices(
    pdf: pd.DataFrame,
    text_col: str,
    id_col: str,
    length_threshold: int,
    merge_strategy: str,
) -> tuple[pd.DataFrame, list[list[slice]]]:
    """The per-group body: concat the group's docs in id order (load
    order), find the duplicated byte ranges >= threshold and map them back
    to per-doc, per-strategy merged removal slices."""
    from text_dedup_spark.kernels.intervals import restore_and_merge
    from text_dedup_spark.kernels.suffix_array_kernel import duplicate_byte_ranges

    pdf = pdf.sort_values(id_col)
    encoded = [(t or "").encode("utf-8") for t in pdf[text_col]]
    boundaries = []
    start = 0
    for b in encoded:
        boundaries.append(slice(start, start + len(b)))
        start += len(b)
    ranges = duplicate_byte_ranges(b"".join(encoded), length_threshold)
    slices_per_doc, _ = restore_and_merge(
        boundaries, ranges, length_threshold, merge_strategy
    )
    return pdf, slices_per_doc


def _apply_removals_udf(merge_strategy: str):
    """Final rewrite for the split path: merge a doc's unioned removal
    intervals (same strategy the reference applies per doc,
    ``kernels.intervals.merge_intervals``) and cut them out. clean_up
    treats overlapping slices as coalesced, matching the reference's
    behavior when "longest" leaves partial overlaps."""

    @F.pandas_udf("string")
    def apply_removals(texts: pd.Series, ivals: pd.Series) -> pd.Series:
        from text_dedup_spark.kernels.intervals import clean_up, merge_intervals

        out = []
        for t, iv in zip(texts, ivals):
            sl = merge_intervals(
                [slice(int(p[0]), int(p[1])) for p in iv], merge_strategy
            )
            out.append(clean_up(t or "", sl))
        return pd.Series(out)

    return apply_removals


def _anchor_groups(
    slim: DataFrame, text_col: str, id_col: str, length_threshold: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Winnowing-anchor CC grouping: ``(grouped, postings, roots)`` where
    ``grouped`` is ``slim`` plus ``__grp__``. ``postings`` (id, anchor) is
    persisted — the caller unpersists it once the groups ran."""
    from text_dedup_spark.operators.connected_components import connected_components

    # w + W - 1 == threshold at every threshold (w >= 1, W >= 1)
    hash_w = min(48, max(1, length_threshold // 2))
    winnow_window = length_threshold - hash_w + 1

    @F.pandas_udf("array<long>")
    def anchors(texts: pd.Series) -> pd.Series:
        from text_dedup_spark.kernels.winnowing import winnow_anchor_list

        return pd.Series(
            [
                winnow_anchor_list((t or "").encode("utf-8"), hash_w, winnow_window)
                for t in texts
            ]
        )

    # persisted: consumed by the roots aggregation AND the edge join-back —
    # without it the winnowing UDF runs twice. The UDF must feed explode
    # directly: behind a withColumn, the filter the optimizer infers from
    # the explode (size > 0) evaluates it a second time.
    postings = slim.select(
        F.col(id_col), F.explode(anchors(F.col(text_col))).alias("anchor")
    ).persist()
    roots = (
        postings.groupBy("anchor")
        .agg(F.min(id_col).alias("__root__"), F.count(F.lit(1)).alias("__cnt__"))
        .where(F.col("__cnt__") > 1)
    )
    edges = (
        postings.join(roots, "anchor")
        .where(F.col(id_col) != F.col("__root__"))
        .select(F.col("__root__").alias("src"), F.col(id_col).alias("dst"))
    )
    mapping = connected_components(edges)
    grouped = slim.join(
        mapping.withColumnRenamed("id", id_col).withColumnRenamed("cluster", "__grp__"),
        id_col,
        "left",
    ).withColumn("__grp__", F.coalesce(F.col("__grp__"), F.col(id_col)))
    return grouped, postings, roots


def _split_groups(
    grouped: DataFrame,
    postings: DataFrame,
    roots: DataFrame,
    text_col: str,
    id_col: str,
    length_threshold: int,
    max_group_bytes: int,
    observation,
) -> DataFrame:
    """Byte-bounded subgroups ``__sb__`` of every anchor group (see
    ``suffix_array_dedup``'s split locality). A doc may belong to several
    subgroups; each row of the result is one membership."""
    from pyspark.sql import Window

    # the salt is computed over NARROW columns (id, min anchor, byte
    # length) and joined back, so the giant group's text never ships
    # through a single window task.
    #
    # Split order = each doc's minimum REPEATED anchor (anchors appearing
    # in >= 2 docs — the `roots` aggregation already knows them), not its
    # minimum overall anchor: a doc's overall minimum usually comes from
    # its NON-shared content (the min of ~dozens of uniform hashes), so
    # partial-overlap duplicate pairs sorted by it land in uncorrelated
    # positions and a byte split separates them (measured 0.87-0.88
    # removable-byte recall on the 91 MB ladder). Both copies of a
    # duplicated run contain that run's shared anchors, so the min
    # REPEATED anchor of single-duplication docs is IDENTICAL for the
    # pair — they sort adjacently and survive any cut; multi-duplication
    # docs still co-locate with the partner of their minimal run.
    repeated = postings.join(roots.select("anchor"), "anchor")
    min_anchor = repeated.groupBy(id_col).agg(F.min("anchor").alias("__ma__"))
    narrow = grouped.select(
        "__grp__",
        F.col(id_col),
        F.length(F.encode(F.col(text_col), "utf-8")).alias("__db__"),
    ).join(min_anchor, id_col, "left")
    w = Window.partitionBy("__grp__").orderBy("__ma__", F.col(id_col))
    prev_bytes = F.coalesce(
        F.sum("__db__").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    # cumulative byte step function: a subgroup is a run where the step is
    # constant, so it holds <= max_group_bytes (+ the one straddling
    # document) of text
    sb = F.floor(prev_bytes / F.lit(max_group_bytes))
    # boundary overlap: duplicates whose occurrences straddle a cut were
    # the capped path's dominant loss (round-3 ladder: 0.872 of removable
    # bytes retained). Docs starting within the margin of their subgroup's
    # cut ALSO join the previous subgroup, so any duplicate pair within the
    # margin of a cut is seen together by at least one task; each doc's
    # removal intervals are unioned across its tasks afterwards.
    margin = _overlap_bytes(max_group_bytes, length_threshold)
    ov = (sb > 0) & (prev_bytes - sb * F.lit(max_group_bytes) < F.lit(margin))
    salt_df = narrow.select(
        "__grp__",
        F.col(id_col),
        F.col("__ma__"),
        sb.cast("long").alias("__sb__"),
        ov.cast("long").alias("__ov__"),
    )
    gstats = salt_df.groupBy("__grp__").agg(
        F.count_distinct("__sb__").alias("__ns__"),
        F.count(F.lit(1)).alias("__gn__"),
        F.sum("__ov__").alias("__no__"),
    )
    if observation is not None:
        gstats = gstats.observe(
            observation,
            F.coalesce(
                F.sum((F.col("__ns__") > 1).cast("long")), F.lit(0)
            ).alias("n_groups_split"),
            F.coalesce(
                F.sum(F.when(F.col("__ns__") > 1, F.col("__gn__")).otherwise(0)),
                F.lit(0),
            ).alias("n_rows_in_split_groups"),
            F.coalesce(F.sum("__no__"), F.lit(0)).alias("n_overlap_rows"),
        )
    membership = salt_df.select(F.col(id_col), "__sb__").unionByName(
        salt_df.where(F.col("__ov__") == 1).select(
            F.col(id_col), (F.col("__sb__") - 1).alias("__sb__")
        )
    )
    # multi-run membership: a doc with SEVERAL duplicated runs sorts at its
    # minimal run's anchor, but the partners of its other runs sort at
    # THEIR own minima — possibly subgroups away. Since the split order is
    # min-repeated-anchor, each subgroup covers a contiguous anchor-value
    # range, so route the doc additionally into the subgroup whose range
    # contains each of its (up to 8 smallest) distinct repeated anchors —
    # the partner of that run sits exactly there. Bounded duplication
    # (<= 8 extra memberships/doc), deduped below; intervals union per doc.
    bounds = salt_df.groupBy("__grp__", "__sb__").agg(F.min("__ma__").alias("__lo__"))
    barr = bounds.groupBy("__grp__").agg(
        F.sort_array(F.collect_list(F.struct("__lo__", "__sb__"))).alias("__bnds__")
    )
    # route ONLY via anchors that are some partner's sort minimum: a lost
    # pair (A, B) means B sorted at its min v and A (which contains v)
    # sorted elsewhere — so the exact set of useful routing anchors for A
    # is {group minima} ∩ A's anchors, minus its own minimum. Routing by
    # arbitrary repeated anchors instead multiplies task bytes ~8x for zero
    # extra coverage (measured: 93.7 s vs lossless 76.1 s on the 91 MB
    # ladder).
    minima = salt_df.select("__grp__", F.col("__ma__").alias("__a__")).distinct()
    danch = (
        repeated.join(salt_df.select(F.col(id_col), "__grp__", "__ma__"), id_col)
        .where(F.col("anchor") != F.col("__ma__"))
        .select(F.col(id_col), "__grp__", F.col("anchor").alias("__a__"))
        .join(minima, ["__grp__", "__a__"])
        .groupBy(id_col, "__grp__")
        .agg(F.slice(F.sort_array(F.collect_set("__a__")), 1, 8).alias("__as__"))
        .select(F.col(id_col), "__grp__", F.explode("__as__").alias("__a__"))
    )
    hits = F.filter(F.col("__bnds__"), lambda x: x["__lo__"] <= F.col("__a__"))
    placed = (
        danch.join(barr, "__grp__")
        .where(F.size(hits) > 0)
        .select(F.col(id_col), F.element_at(hits, -1)["__sb__"].alias("__sb__"))
    )
    membership = membership.unionByName(placed).distinct()
    # the gstats join keeps the observed aggregation in the executed plan
    return grouped.join(membership, id_col).join(gstats.select("__grp__"), "__grp__")


def suffix_array_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = INDEX_COL,
    length_threshold: int = 100,
    merge_strategy: str = "longest",
    max_group_bytes: int | None = None,
    observation=None,
) -> SuffixDedupResult:
    """Exact-substring dedup: group, then one per-group suffix-array pass.

    Grouping is the module docstring's size gate: at or below
    ``min(ONE_GROUP_BYTES, max_group_bytes)`` every doc is in group 0 (no
    winnowing, no cache, no checkpoint); above it, winnowing-anchor CC
    groups, whose output equals the one-group output (tested) — a
    duplicated range >= threshold is an anchor collision, so its docs share
    a group.

    Pervasive-overlap guard: on corpora where long duplicated runs chain
    most documents into one component (web boilerplate; measured: a 91 MB
    zipf corpus percolates 78% of docs into a single 71 MB group — the
    overlap is REAL, the reference's global pass would find it too), the
    lossless grouping degrades to near-single-task. ``max_group_bytes``
    splits any anchor group whose text exceeds the cap into byte-bounded
    subgroups — each holds at most the cap plus one straddling document
    (cumulative byte step function along the split order, not an
    equal-count split) — (duplicates across subgroups are missed — the
    standard bounded-loss tradeoff, like the SimHash bucket cap) and is
    OBSERVABLE: pass a ``pyspark.sql.Observation`` to read
    ``n_groups_split`` / ``n_rows_in_split_groups`` / ``n_overlap_rows``
    after an action on the output (all 0 unless the corpus took the split,
    anchored and capped, grouping).

    Split locality (three composing mechanisms — 91 MB ladder recall
    0.872 -> ~0.99+ of lossless removable bytes, see BENCH.md):

    1. *Min-REPEATED-anchor order*: oversized groups are range-partitioned
       by each doc's minimum anchor that appears in >= 2 docs — both copies
       of a single duplicated run share that minimum and sort adjacently
       (a doc's minimum over ALL anchors usually comes from non-shared
       content, leaving partial-overlap pairs uncorrelated).
    2. *Boundary overlap* (``_overlap_bytes``: min(cap/4, max(1 MiB,
       64x threshold))): docs starting within the margin of a cut also
       join the previous subgroup, so pairs straddling a cut are seen
       together.
    3. *Multi-run routing*: a doc is additionally routed to the subgroup
       holding each partner that sorted at one of the doc's other repeated
       anchors (restricted to anchors that ARE some doc's sort minimum;
       <= 8 extra memberships per doc).

    In split mode each task emits per-doc REMOVAL INTERVALS; a doc's
    intervals are unioned across its tasks, merged per strategy, and cut in
    one final vectorized pass — double-counted ranges from the overlap
    dedup in the merge. Split-task adjacency differs from the one-group
    concat's, so cross-doc-boundary matches can differ by a hair in either
    direction (+-0.01% measured) — inherent to the reference's
    separator-free concat, not introduced by the split. The same holds for
    the anchored groups' concat order."""
    gate = _one_group_bytes()
    if max_group_bytes is not None:
        gate = min(gate, max_group_bytes)
    total = df.select(
        F.sum(F.length(F.encode(F.col(text_col), "utf-8"))).alias("b")
    ).first()["b"] or 0
    slim = df.select(F.col(id_col), F.col(text_col))
    one_group = total <= gate
    split = not one_group and max_group_bytes is not None
    keys = ["__grp__", "__sb__"] if split else ["__grp__"]
    if one_group:
        grouped = slim.withColumn("__grp__", F.lit(0))
    else:
        slim = slim.persist()
        grouped, postings, roots = _anchor_groups(
            slim, text_col, id_col, length_threshold
        )
        if split:
            grouped = _split_groups(
                grouped, postings, roots, text_col, id_col,
                length_threshold, max_group_bytes, observation,
            )
    if not split:
        grouped = observe_zero(
            grouped, observation,
            "n_groups_split", "n_rows_in_split_groups", "n_overlap_rows",
        )

    def rewrite(pdf: pd.DataFrame) -> pd.DataFrame:
        from text_dedup_spark.kernels.intervals import clean_up

        pdf, slices_per_doc = _group_slices(
            pdf, text_col, id_col, length_threshold, merge_strategy
        )
        cleaned = [
            clean_up(t or "", sl)
            for t, sl in zip(pdf[text_col], slices_per_doc, strict=True)
        ]
        return pd.DataFrame({id_col: pdf[id_col].values, text_col: cleaned})

    def removals(pdf: pd.DataFrame) -> pd.DataFrame:
        """Split-mode task body: emit each doc's REMOVAL intervals instead
        of rewritten text, so a doc present in several subgroups can union
        its intervals before the single rewrite pass."""
        pdf, slices_per_doc = _group_slices(
            pdf, text_col, id_col, length_threshold, merge_strategy
        )
        ivals = [[[s.start, s.stop] for s in sl] for sl in slices_per_doc]
        return pd.DataFrame({id_col: pdf[id_col].values, "__IVALS__": ivals})

    body, schema = (
        (removals, f"{id_col} long, __IVALS__ array<array<long>>")
        if split
        else (rewrite, f"{id_col} long, {text_col} string")
    )
    rewritten = (
        grouped.select(*keys, id_col, text_col)
        .groupBy(*keys)
        .applyInPandas(body, schema=schema)
    )
    if split:
        # union a doc's per-task interval lists, then one rewrite pass;
        # merge_intervals dedups double-counted ranges from the overlap
        merged_iv = rewritten.groupBy(id_col).agg(
            F.flatten(F.collect_list("__IVALS__")).alias("__IVALS__")
        )
        rewritten = slim.join(merged_iv, id_col).select(
            F.col(id_col),
            _apply_removals_udf(merge_strategy)(
                F.col(text_col), F.col("__IVALS__")
            ).alias(text_col),
        )
    if not one_group:
        # materialize the rewritten text (same size class as the input;
        # this is the stage-checkpoint of the pipeline design), then
        # release the caches
        rewritten = rewritten.localCheckpoint(eager=True)
        postings.unpersist()
        slim.unpersist()
    docs = df.drop(text_col).join(rewritten, id_col)
    kept = docs.where(F.length(F.col(text_col)) > 0)
    return SuffixDedupResult(docs=docs, kept=kept)
