"""Set-similarity self-join with prefix filtering (PPJoin-style, lossless).

For Jaccard(A,B) >= t, A and B must share at least one element among their
*prefixes* of length |S| - ceil(t*|S|) + 1 when both sets are ordered by a
global total order (classic prefix-filtering result; rarest-first ordering
maximizes selectivity). The full inverted-index join indexes every element;
prefix filtering indexes only the prefixes and adds the size-ratio bound
t*|A| <= |B|, shrinking the candidate set by orders of magnitude on
boilerplate-heavy corpora — then candidates are verified EXACTLY with
integer intersection sizes, so the output is identical to the naive join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from text_dedup_spark.operators.guards import drop_hot_keys, observe_zero


def jaccard_pairs_prefix(
    grams_df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    grams_col: str = "grams",
    max_gram_df: int | None = None,
    observation=None,
) -> DataFrame:
    """grams_df: (id, array<string> distinct grams). Returns
    (a_id, b_id, inter_size, union_size) for pairs with
    inter/union >= threshold — byte-identical to the naive all-pairs join.

    The qualifying pairs come back materialized (``localCheckpoint``), and
    the gram and prefix caches the join persisted are released before the
    call returns: the threshold keeps the output near-linear (the
    operator's intended regime), and no cache outlives the call.

    ``max_gram_df`` (default OFF — parity/lossless by default, matching the
    repo's cap convention): drop grams whose document frequency exceeds the
    cap from the candidate index, like stopwords. A boilerplate gram shared
    by d documents fans out to d^2/2 candidate pairs in the prefix join —
    the quadratic hot spot on stopword-heavy corpora; capping bounds it at
    cap^2/2 per gram. Verification is untouched (exact intersection over the
    FULL gram arrays), so capping can only lose candidate recall, never emit
    a false pair. Observable, never silent: pass a
    ``pyspark.sql.Observation`` to read ``n_hot_grams`` /
    ``n_hot_postings`` once this returns (both 0 without a cap;
    ``operators.guards``)."""
    result, caches = _prefix_join(
        grams_df, threshold, id_col, grams_col, max_gram_df, observation
    )
    # materialize (the qualifying-pair output is small by construction:
    # near-dup pairs only), then release both caches — a long session
    # would otherwise accumulate pinned gram arrays and prefixes per call
    try:
        return result.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


def _prefix_join(
    grams_df: DataFrame,
    threshold: float,
    id_col: str,
    grams_col: str,
    max_gram_df: int | None,
    observation,
) -> tuple[DataFrame, tuple[DataFrame, DataFrame]]:
    """``jaccard_pairs_prefix``'s lazy plan: the qualifying pairs, and the
    gram and prefix caches it persists (not yet materialized), which the
    caller releases."""
    # persisted: consumed by the postings index AND both sides of the
    # verification join — without it the gram arrays are recomputed 3x.
    # The sz>0 filter sits ON TOP of the cache, not inside it: below the
    # persist, Catalyst pushes it under the caller's repartition exchange
    # and inlines the whole gram expression into a per-row scan Filter —
    # where the tokenizing split() is re-evaluated inside EVERY element_at
    # of the ngram lambda (measured 6.1 s vs 1.2 s for the sf0.1 gram
    # build; same pathology class as the fingerprint-cache note in
    # minhash_dedup). Against the cache it is a trivial predicate on the
    # materialized sz column.
    #
    # Round-6 form: the cache holds xxhash64 GRAM-KEY arrays, not strings —
    # ``sz`` (the exact STRING set size, which the input contract declares
    # distinct) is computed before hashing, so every prefix length and both
    # size bounds stay exact; postings explode the hashed array directly
    # (no per-posting hash call), and verification below intersects int64
    # arrays instead of ~20-byte strings — ~2.5x fewer bytes through the
    # cache, both verification joins, and the pair filter's per-pair hash
    # set (guide §2.3 "narrower types"). Collision accounting: a hash
    # collision (~2^-64 per gram pair, the same absorbed risk class as the
    # minhash band keys and the fingerprint contraction) could in principle
    # perturb an intersection size; parity against the all-string form is
    # pinned by tests/test_setsim.py and the DuckDB oracle on the driver
    # corpora.
    cache = grams_df.select(
        F.col(id_col),
        F.transform(F.col(grams_col), lambda g: F.xxhash64(g)).alias("__hg__"),
        F.size(grams_col).cast("bigint").alias("sz"),
    ).persist()
    sized = cache.where(F.col("sz") > 0)

    postings = sized.select(
        F.col(id_col), F.col("sz"), F.explode("__hg__").alias("gram")
    )
    freq = postings.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    names = ("n_hot_grams", "n_hot_postings")
    if max_gram_df is None:
        freq = observe_zero(freq, observation, *names)
    else:
        # hot grams leave the index BEFORE prefix ranking: surviving grams
        # move up in rarest-first rank, so every doc still indexes a full
        # prefix of its remaining grams (maximal retained candidate power)
        freq = drop_hot_keys(freq, "df", max_gram_df, observation, *names)
    ranked = postings.join(freq, "gram").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(F.asc("df"), F.asc("gram"))
        ),
    )
    # prefix length = sz - ceil(t*sz) + 1. Persisted (slim: 4 longs/row,
    # ~|docs x prefix_len| rows): both sides of the candidate self-join scan
    # it — unpersisted, the whole freq-agg + join + window-sort subtree is
    # planned and EXECUTED twice, once per side (measured as the query's
    # largest stage at sf0.1; the plan showed two Window+Exchange+
    # HashAggregate chains over the shared gram cache). Guide §2.4: two
    # operations keyed the same way should share one evaluation.
    prefix = ranked.where(
        F.col("rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).persist()

    t_num, t_den = _as_fraction(threshold)
    # Asymmetric (probing) prefix — Xiao et al. WWW'08 §4: for a qualifying
    # pair with |A| <= |B|, the required overlap alpha = ceil(t/(1+t) *
    # (|A|+|B|)) >= ceil(2t/(1+t) * |A|), so the SMALLER record's prefix
    # only needs length |A| - ceil(2t/(1+t)*|A|) + 1 (the classic lemma
    # needs both prefixes at length >= |X| - alpha + 1, and this choice is
    # >= that since the ceil is <= alpha). The a side filters the SAME
    # persisted prefix down to the short probing prefix (a cache-scan
    # predicate, no recompute), shrinking the candidate join's probe rows
    # by ~(1-t)/(1+t) of each doc's grams; direction is fixed by
    # (sz, id)-lexicographic order below so every unordered pair takes the
    # probe role exactly once. Exact integer ceil (no float rounding):
    # ceil(2*t_num*sz / (t_num+t_den)) via (x + d - 1) div d — the div is
    # exact for sz*t_num << 2^52, guarded by _as_fraction's 1e6 cap at any
    # realistic set size.
    d2 = t_num + t_den
    short_len = (
        F.col("sz")
        - F.floor((F.lit(2 * t_num) * F.col("sz") + F.lit(d2 - 1)) / F.lit(d2))
        + 1
    )
    a = prefix.where(F.col("rn") <= short_len).select(
        F.col("gram"), F.col(id_col).alias("a_id"), F.col("sz").alias("sza"),
        F.col("rn").alias("rna"),
    )
    b = prefix.select(
        F.col("gram"), F.col(id_col).alias("b_id"), F.col("sz").alias("szb"),
        F.col("rn").alias("rnb"),
    )
    # PPJoin positional filter (Xiao et al., "Efficient Similarity Joins for
    # Near Duplicate Detection", WWW'08 §3.2), exact-integer form. Both
    # docs' grams are ranked by the SAME global (df, gram) total order, so
    # for a candidate row matching on the gram at 1-based ranks (rna, rnb):
    #   |A ∩ B| <= min(rna-1, rnb-1)      [common grams ordered before it]
    #            + 1                       [the matching gram itself]
    #            + min(sza-rna, szb-rnb)   [common grams ordered after it]
    # and J >= t  <=>  |A ∩ B| * (t_num + t_den) >= t_num * (|A| + |B|),
    # so a row whose bound fails that inequality can be dropped. LOSSLESS:
    # a true pair's every matching row has bound >= overlap >= the
    # requirement, so the pair always survives into `cand`; only
    # false-candidate rows are pruned — before the distinct exchange and
    # the verification joins, which this filter exists to shrink
    # (measured 310k candidate rows -> the surviving fraction at sf0.1
    # for 25 true pairs; guide §2.3 "shuffle fewer bytes").
    pos_bound = F.least("rna", "rnb") + F.least(
        F.col("sza") - F.col("rna"), F.col("szb") - F.col("rnb")
    )
    # No distinct here: a pair sharing several prefix grams emits one row per
    # shared gram, but on realistic corpora the duplication factor is tiny
    # (measured 327,574 raw rows -> 308,750 distinct pairs at sf0.1, 6%),
    # while the distinct itself was a full exchange of every candidate row —
    # the verification below tolerates duplicate probe rows (identical
    # output rows), so the dedup moves AFTER the threshold filter, where
    # only the qualifying pairs (near-linear by construction) pay it
    # (guide §2.4: a distinct whose consumer tolerates duplicates is a pure
    # shuffle tax; §2.3: shuffle fewer rows).
    # (sz, id)-lexicographic direction: the probe role (short prefix) is
    # the smaller record, ties broken by id — every unordered pair is
    # generated exactly once; output ids are normalized numerically after
    # verification (inter/union are symmetric)
    cand = (
        a.join(b, "gram")
        .where(
            (F.col("sza") < F.col("szb"))
            | ((F.col("sza") == F.col("szb")) & (F.col("a_id") < F.col("b_id")))
        )
        # size-ratio bound: t*max(|A|,|B|) <= min(|A|,|B|)
        .where(
            F.least("sza", "szb")
            >= F.ceil(F.lit(threshold) * F.greatest("sza", "szb"))
        )
        .where(pos_bound * F.lit(t_num + t_den) >= F.lit(t_num) * (F.col("sza") + F.col("szb")))
        .select("a_id", "b_id")
    )

    ga = sized.select(F.col(id_col).alias("a_id"), F.col("__hg__").alias("ga"),
                      F.col("sz").alias("sza"))
    gb = sized.select(F.col(id_col).alias("b_id"), F.col("__hg__").alias("gb"),
                      F.col("sz").alias("szb"))
    inter = F.size(F.array_intersect("ga", "gb")).cast("bigint")
    result = (
        cand.join(ga, "a_id")
        .join(gb, "b_id")
        .withColumn("inter_size", inter)
        .withColumn("union_size", F.col("sza") + F.col("szb") - F.col("inter_size"))
        # exact integer comparison: inter/union >= t_num/t_den
        .where(F.col("inter_size") * t_den >= F.col("union_size") * t_num)
        # probe/index roles were size-directed; restore the numeric
        # (a_id < b_id) output convention (inter/union are symmetric)
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
            "inter_size",
            "union_size",
        )
        # pair-dedup lives HERE, on the qualifying pairs only (see the
        # candidate-join note above): identical candidate rows verify to
        # identical output rows, so this distinct restores exactly the set
        # the pre-verification distinct produced
        .distinct()
    )
    return result, (cache, prefix)


def _as_fraction(threshold: float, max_den: int = 1_000_000) -> tuple[int, int]:
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(max_den)
    return fr.numerator, fr.denominator
