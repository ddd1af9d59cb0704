"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the implemented operators from SURVEY.md §2 plus the
training-data-pipeline extensions (dedup variants, similarity search, text
analysis). ``oracle_sql()`` gives DuckDB-equivalent SQL where the operator is
SQL-expressible — including the flagship embedding_dedup (recursive-CTE
connected components) and suffix_dedup (duplicated-L-gram coverage).

No-oracle waivers (rows-only driver check; exact parity lives in pytest):
- minhash_dedup / minhash_dedup_verified / simhash_dedup: the signatures are
  XXH3-based (reference hashfunc semantics); DuckDB has no XXH3, so no SQL
  oracle can reproduce them. tests/test_spark_dedup.py pins exact cluster
  parity vs single-node reference-semantics oracles instead — AND every
  pipeline shape INCLUDING both FP-verification variants IS hard-oracled
  end to end by the md5 twins (``minhash_dedup_md5``,
  ``minhash_dedup_verified_md5``, ``simhash_dedup_md5``,
  ``simhash_dedup_verified_md5``: md5 base hash == DuckDB md5_number_upper;
  permutation arithmetic, LSH banding/Hamming buckets, connected
  components, pairwise-Jaccard verification and both regroup conventions —
  minhash's old-cluster min-idx, simhash's fresh CC — replayed in SQL), so
  only the base-hash choice remains waivered, never a pipeline.
(ann_lsh_topk / ann_ivf_topk stopped being waivers in round 3: both are
deterministic given the seed, so the oracle inlines the seeded hyperplane /
centroid constants and replays sketch->bucket->exact-rerank in SQL;
recall@k >= 0.9 vs brute force additionally pinned in
tests/test_similarity.py.)

Column-type discipline for hash-stable oracle comparison: every emitted
column is int/bigint/string — no raw floats (reduction-order hazards), no
engine-specific decimals.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# SQL-expressible queries (DuckDB oracle-checked)
# ---------------------------------------------------------------------------


def q_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups (reference bloom_filter.py semantics, F14/A1)."""
    d = _docs(spark, sf_dir)
    return d.groupBy(F.md5(F.encode(F.col("text"), "utf-8")).alias("text_md5")).agg(
        F.min("doc_id").alias("first_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


def q_exact_dup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicate flag (P4/P5: first occurrence wins)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w = Window.partitionBy(F.md5(F.encode(F.col("text"), "utf-8")))
    return d.select(
        "doc_id",
        (F.col("doc_id") != F.min("doc_id").over(w)).cast("int").alias("is_dup"),
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality-stat components (text analysis ops)."""
    from text_dedup_spark.functions.text_stats import (
        bpe_token_count,
        digit_count,
        distinct_token_count,
        max_token_len,
        token_count,
    )

    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).cast("bigint").alias("n_tokens"),
        distinct_token_count(t).cast("bigint").alias("n_distinct_tokens"),
        max_token_len(t).cast("bigint").alias("max_token_len"),
        F.length(t).cast("bigint").alias("n_chars_calc"),
        digit_count(t).cast("bigint").alias("n_digits"),
        bpe_token_count(t).cast("bigint").alias("n_bpe_tokens"),
    )


def q_lang_marker_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic mechanics: marker-token hit counts + argmax."""
    from text_dedup_spark.functions.text_stats import marker_hits

    d = _docs(spark, sf_dir)
    t = F.col("text")
    n_the = marker_hits(t, "the").cast("bigint")
    n_data = marker_hits(t, "data").cast("bigint")
    n_table = marker_hits(t, "table").cast("bigint")
    return d.select(
        "doc_id",
        n_the.alias("n_the"),
        n_data.alias("n_data"),
        n_table.alias("n_table"),
        F.when(n_the >= F.greatest(n_data, n_table), F.lit("en"))
        .when(n_data >= n_table, F.lit("tech"))
        .otherwise(F.lit("tabular"))
        .alias("pred_class"),
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality scoring (task brief: quality scoring over
    length / token-shape / stopword ratios). Integer milli-ratios keep the
    comparison engine-exact; the class thresholds mirror a typical
    training-data keep/flag/drop gate."""
    from text_dedup_spark.functions.text_stats import token_count

    d = _docs(spark, sf_dir)
    t = F.col("text")
    n_tokens = token_count(t).cast("long")
    n_chars = F.length(t).cast("long")
    toks = F.split(t, " ")
    n_stop = F.size(
        F.filter(toks, lambda x: (x == F.lit("the")) | (x == F.lit("a")) | (x == F.lit("of")))
    ).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    stop_milli = (n_stop * 1000).cast("long") / n_tokens
    stop_milli = F.floor(stop_milli).cast("long")
    ttr_milli = F.floor((n_distinct * 1000).cast("long") / n_tokens).cast("long")
    mean_tok_len_milli = F.floor(
        ((n_chars - (n_tokens - 1)) * 1000).cast("long") / n_tokens
    ).cast("long")
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_milli.alias("stop_milli"),
        ttr_milli.alias("ttr_milli"),
        mean_tok_len_milli.alias("mean_tok_len_milli"),
        F.when((n_tokens >= 50) & (ttr_milli >= 300), F.lit("keep"))
        .when(n_tokens >= 20, F.lit("flag"))
        .otherwise(F.lit("drop"))
        .alias("quality_class"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint (md5 prefix)."""
    from text_dedup_spark.functions.text_stats import doc_fingerprint

    d = _docs(spark, sf_dir)
    return d.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup candidate pairs (F2/F13 as declarative plan).

    Prefix-filtered set-similarity join (PPJoin-style, lossless): only the
    rarest-first prefixes are indexed, candidates are size-ratio-pruned,
    then verified with exact integer intersection sizes — identical output
    to a naive all-pairs join, DuckDB-oracle-verified."""
    from text_dedup_spark.functions.setsim import jaccard_pairs_prefix
    from text_dedup_spark.functions.text_stats import word_ngrams_from_tokens

    d = (
        _docs(spark, sf_dir)
        # the sf test inputs are single parquet files -> a one-partition
        # scan; spread the gram build + the persisted gram cache across the
        # session's parallelism (at scale, file splits provide this)
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .select(F.col("doc_id"), F.split(F.col("text"), " ").alias("toks"))
        .select(F.col("doc_id"), word_ngrams_from_tokens(F.col("toks"), 3).alias("grams"))
    )
    return jaccard_pairs_prefix(d, threshold=0.5, id_col="doc_id", grams_col="grams")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-3 neighbors by integer-quantized dot product."""
    from text_dedup_spark.functions.similarity import brute_force_topk

    return brute_force_topk(_emb(spark, sf_dir), k=3).withColumn(
        "rank", F.col("rank").cast("int")
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization over the events stream table: a session breaks after a
    30-minute inactivity gap per user (lag window). Windowed/stateful
    analytics health check, DuckDB-oracled."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts_epoch", F.col("ts").cast("timestamp").cast("long")
    )
    w = Window.partitionBy("user_id").orderBy("ts_epoch", "event_id")
    gap = F.col("ts_epoch") - F.lag("ts_epoch").over(w)
    with_breaks = ev.select(
        "user_id",
        "event_id",
        "ts_epoch",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("is_break"),
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_epoch", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = with_breaks.withColumn(
        "session_seq", F.sum("is_break").over(w2).cast("bigint")
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event_id"),
        (F.max("ts_epoch") - F.min("ts_epoch")).alias("duration_sec"),
    )


def q_events_minutely(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling one-minute-window counts per event type (streaming-style
    windowed agg run in batch; DuckDB-oracled via date_trunc)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("minute", F.col("ts")).cast("long").alias("window_start_epoch"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup clustering (quantized-integer exact
    comparison + shared CC). DuckDB-oracled: integer-cosine edges +
    recursive-CTE min-label connected components. threshold=0.4 because the
    synthetic embeddings' max pairwise cosine is ~0.51 — higher thresholds
    yield zero edges and a vacuous check."""
    from text_dedup_spark.functions.embedding_dedup import embedding_cosine_dedup

    return embedding_cosine_dedup(_emb(spark, sf_dir), threshold=0.4)


def q_lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational agg health check (TPC-H Q1 flavor).

    Sums are integer cents (round(x*100) per row, summed as BIGINT) — exact
    on both engines, honoring the module's no-decimal/no-float discipline."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_c).alias("sum_qty_cents"),
            F.sum(price_c).alias("sum_price_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# kernel-UDF / iterative queries (rows-only driver check; parity in pytest)
# ---------------------------------------------------------------------------


def _minhash_common(spark: SparkSession, sf_dir: str, check_fp: bool) -> DataFrame:
    from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
    from text_dedup_spark.operators.ids import CLUSTER_COL, DUPLICATE_COL
    from text_dedup_spark.operators.minhash import minhash_dedup

    kernel = MinHashKernel(
        num_perm=64, ngram_size=2, min_length=5, threshold=0.5, seed=42
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    res = minhash_dedup(
        _docs(spark, sf_dir),
        kernel,
        id_col="doc_id",
        check_false_positive=check_fp,
        repartition_input=n_parts,
    )
    return res.docs.select(
        F.col("doc_id"),
        F.col(CLUSTER_COL).alias("cluster_id"),
        F.col(DUPLICATE_COL).cast("int").alias("is_dup"),
    )


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH clustering (reference minhash.py; SURVEY §2 F1-F8, J1/J3,
    A1-A5, A9).

    no_oracle waiver (rows-only driver check): the base hash is XXH3
    (reference hashfunc semantics) and DuckDB has no XXH3, so no SQL-string
    oracle can replay the signatures. The identical pipeline SHAPE is
    hash-oracled end to end by ``minhash_dedup_md5`` (md5 base ==
    md5_number_upper), and exact cluster parity vs a reference-semantics
    Python oracle is pinned in tests/test_spark_dedup.py."""
    return _minhash_common(spark, sf_dir, check_fp=False)


def q_minhash_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash with intra-cluster Jaccard verification (J2/F13).

    no_oracle waiver: same XXH3-base reason as ``q_minhash_dedup``; the
    verified pipeline shape (pair Jaccard + old-cluster min-idx regroup) is
    hash-oracled by ``minhash_dedup_verified_md5``."""
    return _minhash_common(spark, sf_dir, check_fp=True)


_MD5_MINHASH = dict(
    num_perm=16, bands=4, rows=4, ngram_size=2, min_length=5, seed=42
)


def q_minhash_dedup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH+CC pipeline, HARD-oracled end to end.

    Same operator chain as minhash_dedup (fingerprint UDF -> band star
    edges -> connected components -> assignment) but with the md5 base hash
    (kernels.hashfunc.md5_hash), whose convention equals DuckDB's
    ``md5_number_upper % 2^32`` — so the ENTIRE pipeline (tokenize,
    2-gram shingles, 16 permutations with the kernel's exact uint64
    wraparound arithmetic, 4x4 banding, star edges, min-label CC) is
    replayed in SQL by the oracle, permutation constants inlined from the
    same seeded RandomState. The xxh3 flagship stays reference-faithful
    (and waivered); this query closes the oracle gap for the pipeline
    SHAPE."""
    from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
    from text_dedup_spark.operators.ids import CLUSTER_COL, DUPLICATE_COL
    from text_dedup_spark.operators.minhash import minhash_dedup

    kernel = MinHashKernel(hash_func_name="md5", threshold=0.5, **_MD5_MINHASH)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    res = minhash_dedup(
        _docs(spark, sf_dir),
        kernel,
        id_col="doc_id",
        check_false_positive=False,
        repartition_input=n_parts,
    )
    return res.docs.select(
        F.col("doc_id"),
        F.col(CLUSTER_COL).alias("cluster_id"),
        F.col(DUPLICATE_COL).cast("int").alias("is_dup"),
    )


def q_minhash_dedup_verified_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pipeline WITH false-positive verification, HARD-oracled.

    Closes the last pipeline-variant oracle gap (round-3 verdict task 1):
    same md5-base-hash chain as minhash_dedup_md5 plus the intra-cluster
    pairwise Jaccard re-check and the reference's old-cluster min-idx
    regroup quirk (reference minhash.py:101-170 — survivors regroup by the
    OLD cluster id, failures revert to their own id, the __duplicate__ flag
    is intentionally NOT updated). The oracle replays verification as plain
    all-pairs SQL Jaccard over distinct-gram lists, so the Spark side's
    identical-text contraction and auto-verify shortcuts must be
    output-invisible for the row to stay green."""
    from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
    from text_dedup_spark.operators.ids import CLUSTER_COL, DUPLICATE_COL
    from text_dedup_spark.operators.minhash import minhash_dedup

    kernel = MinHashKernel(hash_func_name="md5", threshold=0.5, **_MD5_MINHASH)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    res = minhash_dedup(
        _docs(spark, sf_dir),
        kernel,
        id_col="doc_id",
        check_false_positive=True,
        repartition_input=n_parts,
    )
    return res.docs.select(
        F.col("doc_id"),
        F.col(CLUSTER_COL).alias("cluster_id"),
        F.col(DUPLICATE_COL).cast("int").alias("is_dup"),
    )


def _md5_minhash_oracle_sql(verified: bool = False) -> str:
    """DuckDB replay of q_minhash_dedup_md5, permutation constants inlined
    from the identical seeded RandomState. ``verified=True`` appends the
    FP-verification replay: all-pairs Jaccard within each cluster over the
    SAME distinct-2-gram lists the signature stage built (reference
    ``utils/jaccard.py``: |A∩B| / |A∪B|; at threshold 0.5 the exact-integer
    form is 2*inter >= union, which also yields TRUE for the empty-union
    J=1.0 convention since 0 >= 0), then min-idx regroup by OLD cluster."""
    from text_dedup_spark.kernels.minhash_kernel import MinHashKernel

    k = MinHashKernel(hash_func_name="md5", threshold=0.5, **_MD5_MINHASH)
    perms = ",\n              ".join(
        f"({j}, {int(a)}, {int(b)})" for j, (a, b) in enumerate(zip(k.a, k.b))
    )
    p, maxh, wrap = 2305843009213693951, 4294967296, 18446744073709551616
    tail = (
        """,
            vp AS (
              SELECT a.id AS i1, b.id AS i2, a.cluster AS cl
              FROM cc a JOIN cc b ON a.cluster = b.cluster AND a.id < b.id
              JOIN grams ga ON ga.doc_id = a.id
              JOIN grams gb ON gb.doc_id = b.id
              WHERE 2 * len(list_intersect(ga.gs, gb.gs))
                    >= len(ga.gs) + len(gb.gs) - len(list_intersect(ga.gs, gb.gs))),
            -- explicit DISTINCT, not UNION dedup: inside a WITH RECURSIVE
            -- chain DuckDB has been observed to leave duplicate rows across
            -- the two UNION branches
            members AS (
              SELECT DISTINCT id, cl FROM (
                SELECT i1 AS id, cl FROM vp
                UNION ALL SELECT i2 AS id, cl FROM vp)),
            vmap AS (
              SELECT m.id, n.nc FROM members m
              JOIN (SELECT cl, min(id) AS nc FROM members GROUP BY cl) n USING (cl))
            SELECT d2.doc_id,
                   CAST(COALESCE(vmap.nc, d2.doc_id) AS BIGINT) AS cluster_id,
                   CAST(cc.id IS NOT NULL AS INT) AS is_dup
            FROM docs2 d2
            LEFT JOIN cc ON cc.id = d2.doc_id
            LEFT JOIN vmap ON vmap.id = d2.doc_id
        """
        if verified
        else """
            SELECT d2.doc_id,
                   CAST(COALESCE(cc.cluster, d2.doc_id) AS BIGINT) AS cluster_id,
                   CAST(cc.id IS NOT NULL AS INT) AS is_dup
            FROM docs2 d2 LEFT JOIN cc ON cc.id = d2.doc_id
        """
    )
    return f"""
            WITH RECURSIVE toks AS (
              -- regex \W split matches the kernel's tokenize() (Python
              -- regex \W on lowered text); identical for ASCII corpora —
              -- RE2's \W is ASCII-only, so non-ASCII word chars would
              -- diverge (the driver tables are pure ASCII)
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\W'),
                                 x -> x <> '') AS t
              FROM documents),
            docs2 AS (SELECT doc_id, t FROM toks WHERE len(t) >= 5),
            grams AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(1, len(t)),
                          i -> t[i] || ' ' || t[i+1])) AS gs
              FROM docs2),
            shingle AS (SELECT doc_id, unnest(gs) AS g FROM grams),
            hashed AS (
              SELECT doc_id,
                     CAST(md5_number_upper(g) AS HUGEINT) % {maxh} AS h
              FROM shingle),
            perms(j, a, b) AS (VALUES
              {perms}),
            phv AS (
              SELECT doc_id, perms.j,
                     min((((h * perms.a) % {wrap} + perms.b) % {wrap})
                         % {p} % {maxh}) AS mh
              FROM hashed, perms GROUP BY doc_id, perms.j),
            bandvals AS (
              SELECT doc_id, CAST(j // 4 AS INT) AS band_idx,
                     CAST(min(CASE WHEN j % 4 = 0 THEN mh END) AS BIGINT) AS m0,
                     CAST(min(CASE WHEN j % 4 = 1 THEN mh END) AS BIGINT) AS m1,
                     CAST(min(CASE WHEN j % 4 = 2 THEN mh END) AS BIGINT) AS m2,
                     CAST(min(CASE WHEN j % 4 = 3 THEN mh END) AS BIGINT) AS m3
              FROM phv GROUP BY doc_id, j // 4),
            bgroups AS (
              SELECT band_idx, m0, m1, m2, m3, min(doc_id) AS root, count(*) AS c
              FROM bandvals GROUP BY band_idx, m0, m1, m2, m3),
            sel AS (
              SELECT DISTINCT b.doc_id AS d, g.root AS r
              FROM bandvals b JOIN bgroups g USING (band_idx, m0, m1, m2, m3)
              WHERE g.c > 1 AND b.doc_id <> g.root),
            edges AS (SELECT r AS s, d FROM sel UNION ALL SELECT d AS s, r AS d FROM sel),
            reach(id, lab) AS (
              SELECT s, s FROM edges
              UNION
              SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id WHERE r.lab < e.d),
            cc AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id){tail}"""


_MD5_SIMHASH = dict(
    f=64, bit_diff=3, num_bucket=4, ngram_size=2, min_length=5, seed=42
)


def q_simhash_dedup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SimHash pipeline (bit-vote fingerprint -> permutation bucket
    keys -> Hamming bucket join -> CC), HARD-oracled end to end.

    Same operator chain as simhash_dedup but with the md5 base hash
    (kernels.hashfunc.md5_hash at f=64 == DuckDB ``md5_number_upper``), so
    the ENTIRE pipeline — tokenize, 2-gram shingles, per-bit majority vote,
    P(b, b-k) permutation bucket keys (constants derived from the same
    kernel), all-pairs-within-bucket Hamming <= bit_diff edges, min-label
    CC — is replayed in SQL by the oracle. The xxh3 flagship
    (simhash_dedup) stays reference-faithful and waivered; this closes the
    oracle gap for the last pipeline family (reference semantics:
    src/text_dedup/simhash.py:43-71, config/algorithms/simhash.py:222-380)."""
    from text_dedup_spark.kernels.simhash_kernel import SimHashKernel
    from text_dedup_spark.operators.ids import CLUSTER_COL, DUPLICATE_COL
    from text_dedup_spark.operators.simhash import simhash_dedup

    kernel = SimHashKernel(hash_func_name="md5", **_MD5_SIMHASH)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    res = simhash_dedup(
        _docs(spark, sf_dir), kernel, id_col="doc_id", repartition_input=n_parts
    )
    return res.docs.select(
        F.col("doc_id"),
        F.col(CLUSTER_COL).alias("cluster_id"),
        F.col(DUPLICATE_COL).cast("int").alias("is_dup"),
    )


def q_simhash_dedup_verified_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pipeline WITH false-positive verification, HARD-oracled.

    Same md5 chain as simhash_dedup_md5 plus the reference's verification
    variant (simhash.py:93-173): intra-cluster pairwise Jaccard, then a
    FRESH connected-components pass over the verified pairs (unlike minhash,
    which regroups by old cluster id) — __duplicate__ intentionally NOT
    updated. Short docs carry the all-zero fingerprint AND empty shingle
    sets, so their pairs verify via the empty-union J=1.0 convention
    (tests/oracles.jaccard_similarity) — replayed identically in SQL."""
    from text_dedup_spark.kernels.simhash_kernel import SimHashKernel
    from text_dedup_spark.operators.ids import CLUSTER_COL, DUPLICATE_COL
    from text_dedup_spark.operators.simhash import simhash_dedup

    kernel = SimHashKernel(hash_func_name="md5", **_MD5_SIMHASH)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    res = simhash_dedup(
        _docs(spark, sf_dir),
        kernel,
        id_col="doc_id",
        check_false_positive=True,
        jaccard_threshold=0.5,
        repartition_input=n_parts,
    )
    return res.docs.select(
        F.col("doc_id"),
        F.col(CLUSTER_COL).alias("cluster_id"),
        F.col(DUPLICATE_COL).cast("int").alias("is_dup"),
    )


def _md5_simhash_oracle_sql(verified: bool = False) -> str:
    """DuckDB replay of q_simhash_dedup_md5. Permutation bucket keys are
    derived from the kernel itself: for each permutation, the bucket key is
    ``permute(sig) & search_mask`` == sum over the leading (b - bit_diff)
    blocks of ``((sig >> (f-end)) % 2^width) * 2^(f-end+offset)`` (asserted
    equal to Permutation.permute in tests/test_spark_dedup.py). Docs with
    fewer than min_length tokens get the all-zero fingerprint (reference
    simhash.py:363-365) and thus cluster together — replayed identically.

    ``verified=True`` appends the FP-verification replay (reference
    simhash.py:93-173): all-pairs Jaccard within each cluster over per-doc
    distinct-2-gram lists (empty list for short docs, so short-doc pairs
    verify via 0 >= 0 — the empty-union J=1.0 convention), then a FRESH
    min-label connected-components pass over the verified pairs."""
    from text_dedup_spark.kernels.simhash_kernel import SimHashKernel

    k = SimHashKernel(hash_func_name="md5", **_MD5_SIMHASH)
    f, bk = k.f, k.num_bucket - k.bit_diff
    key_selects = []
    for p in k.perms:
        terms = []
        for mask, off in zip(p.masks[:bk], p.offsets[:bk]):
            shift = f - mask.end + off
            terms.append(
                f"((sig // CAST('{1 << (f - mask.end)}' AS HUGEINT)) "
                f"% {1 << mask.width}) * CAST('{1 << shift}' AS HUGEINT)"
            )
        key_selects.append(
            f"SELECT doc_id, CAST('{p.search_mask}' AS HUGEINT) AS mask,\n"
            f"                     {' + '.join(terms)} AS keyval FROM sig"
        )
    keys_cte = "\n              UNION ALL\n              ".join(key_selects)
    bit_vals = ",".join(f"({j}, CAST('{1 << j}' AS HUGEINT))" for j in range(f))
    tail = (
        """,
            gall AS (
              SELECT d.doc_id, COALESCE(g.gs, CAST([] AS VARCHAR[])) AS gs
              FROM documents d LEFT JOIN grams g ON g.doc_id = d.doc_id),
            vp AS (
              SELECT a.id AS i1, b.id AS i2
              FROM cc a JOIN cc b ON a.cluster = b.cluster AND a.id < b.id
              JOIN gall ga ON ga.doc_id = a.id
              JOIN gall gb ON gb.doc_id = b.id
              WHERE 2 * len(list_intersect(ga.gs, gb.gs))
                    >= len(ga.gs) + len(gb.gs) - len(list_intersect(ga.gs, gb.gs))),
            vedges AS (SELECT i1 AS s, i2 AS d FROM vp
                       UNION ALL SELECT i2 AS s, i1 AS d FROM vp),
            vreach(id, lab) AS (
              SELECT s, s FROM vedges
              UNION
              SELECT e.d, r.lab FROM vreach r JOIN vedges e ON e.s = r.id WHERE r.lab < e.d),
            vcc AS (SELECT id, min(lab) AS cluster FROM vreach GROUP BY id)
            SELECT d.doc_id,
                   CAST(COALESCE(vcc.cluster, d.doc_id) AS BIGINT) AS cluster_id,
                   CAST(cc.id IS NOT NULL AS INT) AS is_dup
            FROM documents d
            LEFT JOIN cc ON cc.id = d.doc_id
            LEFT JOIN vcc ON vcc.id = d.doc_id
        """
        if verified
        else """
            SELECT d.doc_id,
                   CAST(COALESCE(cc.cluster, d.doc_id) AS BIGINT) AS cluster_id,
                   CAST(cc.id IS NOT NULL AS INT) AS is_dup
            FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
        """
    )
    return f"""
            WITH RECURSIVE toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\\W'),
                                 x -> x <> '') AS t
              FROM documents),
            grams AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(1, len(t)),
                          i -> t[i] || ' ' || t[i+1])) AS gs
              FROM toks WHERE len(t) >= {k.min_length}),
            shingle AS (SELECT doc_id, unnest(gs) AS g FROM grams),
            hashed AS (
              SELECT doc_id, CAST(md5_number_upper(g) AS HUGEINT) AS h
              FROM shingle),
            bitidx(j, p) AS (VALUES {bit_vals}),
            -- per-bit majority vote: bit set iff ones*2 > n (reference
            -- compute(): sum(2*bit - 1) > 0)
            votes AS (
              SELECT doc_id, j,
                     CASE WHEN 2 * sum((h // p) % 2) > count(*)
                          THEN 1 ELSE 0 END AS bit
              FROM hashed CROSS JOIN bitidx GROUP BY doc_id, j),
            voted AS (
              SELECT doc_id, CAST(sum(bit * p) AS HUGEINT) AS sig
              FROM votes JOIN bitidx USING (j) GROUP BY doc_id),
            -- short docs (< min_length tokens) carry the all-zero sig
            sig AS (
              SELECT d.doc_id, COALESCE(v.sig, CAST(0 AS HUGEINT)) AS sig
              FROM documents d LEFT JOIN voted v ON v.doc_id = d.doc_id),
            keys AS (
              {keys_cte}),
            -- Hamming over 32-bit halves (BIGINT xor + bit_count)
            halves AS (
              SELECT doc_id, keys.mask, keys.keyval,
                     CAST(sig // 4294967296 AS BIGINT) AS hi,
                     CAST(sig % 4294967296 AS BIGINT) AS lo
              FROM keys JOIN sig USING (doc_id)),
            sel AS (
              SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
              FROM halves a JOIN halves b
                ON a.mask = b.mask AND a.keyval = b.keyval
               AND a.doc_id < b.doc_id
              WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                    <= {k.bit_diff}),
            edges AS (SELECT s, d FROM sel UNION ALL SELECT d AS s, s AS d FROM sel),
            reach(id, lab) AS (
              SELECT s, s FROM edges
              UNION
              SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id WHERE r.lab < e.d),
            cc AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id){tail}"""


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-bucket clustering (reference simhash.py; F9-F12, J4).

    no_oracle waiver (rows-only driver check): XXH3 base hash, which DuckDB
    cannot reproduce in a SQL-string oracle; the identical pipeline shape
    (bit-vote, P(b,b-k) bucket keys, Hamming join, CC) is hash-oracled end
    to end by ``simhash_dedup_md5`` / ``simhash_dedup_verified_md5``."""
    from text_dedup_spark.kernels.simhash_kernel import SimHashKernel
    from text_dedup_spark.operators.ids import CLUSTER_COL, DUPLICATE_COL
    from text_dedup_spark.operators.simhash import simhash_dedup

    kernel = SimHashKernel(f=64, bit_diff=3, num_bucket=4, ngram_size=3, min_length=5, seed=42)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    res = simhash_dedup(
        _docs(spark, sf_dir), kernel, id_col="doc_id", repartition_input=n_parts
    )
    return res.docs.select(
        F.col("doc_id"),
        F.col(CLUSTER_COL).alias("cluster_id"),
        F.col(DUPLICATE_COL).cast("int").alias("is_dup"),
    )


def q_suffix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (reference suffix_array.py; S6, X1-X3, P6-P7).

    ``suffix_array_dedup`` groups by corpus size: corpora under its byte
    gate are one group in a 2-stage plan (sf0.01's 500 docs, ~149 KB),
    larger ones winnowing-anchor groups (every duplicated range >=
    threshold co-locates its docs, so per-group exact suffix-array passes
    reproduce the one-group result — tested equal, and DuckDB-oracled here
    via a duplicated-50-gram coverage construction). length_threshold=50
    so the synthetic docs exercise removals; returns the per-doc byte
    shrinkage."""
    from text_dedup_spark.operators.suffix_dedup import suffix_array_dedup

    d = _docs(spark, sf_dir).select("doc_id", "text")
    res = suffix_array_dedup(
        d, text_col="text", id_col="doc_id", length_threshold=50
    )
    orig = d.select("doc_id", F.length(F.encode("text", "utf-8")).alias("orig_bytes"))
    return (
        res.docs.select("doc_id", F.length(F.encode("text", "utf-8")).alias("kept_bytes"))
        .join(orig, "doc_id")
        .select(
            "doc_id",
            "orig_bytes",
            "kept_bytes",
            (F.col("orig_bytes") - F.col("kept_bytes")).alias("removed_bytes"),
        )
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via random-hyperplane LSH buckets (scale path).

    DETERMINISTIC given the seed, and now hard-oracled: the oracle inlines
    the same seeded hyperplanes as double constants and replays sketch ->
    bucket join -> exact integer rerank in SQL (float projections agree
    because a sign flip needs |proj| within float64 noise of 0 — measure
    zero on real data; the rerank and ranking are exact integers)."""
    from text_dedup_spark.functions.similarity import lsh_bucketed_topk

    return lsh_bucketed_topk(_emb(spark, sf_dir), k=3).withColumn(
        "rank", F.col("rank").cast("int")
    )


_IVF_PARAMS = dict(n_centroids=16, nprobe=4, seed=42, dim=64)


def _ivf_fixed_centroids():
    """Seeded random unit centroids — the documented `centroids=` scale path
    (train offline, ship constants); also what makes the query
    SQL-replayable. numpy float64, normalized HERE so both engines consume
    the identical post-normalization doubles."""
    import numpy as np

    rng = np.random.RandomState(_IVF_PARAMS["seed"])
    C = rng.randn(_IVF_PARAMS["n_centroids"], _IVF_PARAMS["dim"])
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via IVF inverted lists, exercising the PRECOMPUTED
    centroids path (the scale deployment shape: coarse quantizer trained
    offline, no driver sample) — which also makes it deterministic and
    hard-oracled (centroid constants inlined into the SQL replay). The
    default k-means path keeps its recall>=0.9 pin in
    tests/test_similarity.py."""
    from text_dedup_spark.functions.similarity import ivf_topk

    return ivf_topk(
        _emb(spark, sf_dir),
        k=3,
        nprobe=_IVF_PARAMS["nprobe"],
        centroids=_ivf_fixed_centroids(),
    ).withColumn("rank", F.col("rank").cast("int"))


def _lsh_ann_oracle_sql() -> str:
    """DuckDB replay of q_ann_lsh_topk: the seeded hyperplanes are inlined
    as full-precision double constants (repr round-trips), projections and
    bucket codes recomputed in SQL, candidates re-joined per (table,
    bucket), and the rerank is the exact quantized integer dot with the
    same (dot DESC, neighbor_id) tie-break. Float caveat: numpy's GEMM and
    DuckDB's list_sum reduce in different orders, so a projection would
    need to sit within float64 noise of 0 to flip a sketch bit — measure
    zero on real-valued embeddings."""
    from text_dedup_spark.functions.similarity import _hyperplanes

    n_planes, n_tables, dim, seed = 12, 4, 64, 42  # lsh_bucketed_topk defaults
    rows = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + t)
        for j, w in enumerate(planes):
            warr = ",".join(repr(float(x)) for x in w)
            rows.append(f"({t}, {j}, [{warr}])")
    planes_values = ",\n              ".join(rows)
    return f"""
            WITH planes(t, j, w) AS (VALUES
              {planes_values}),
            e AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                     list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q
              FROM embeddings),
            proj AS (
              SELECT e.vec_id, p.t, p.j,
                     list_sum(list_transform(range(1, {dim + 1}),
                          i -> e.v[i] * p.w[i])) AS s
              FROM e CROSS JOIN planes p),
            buckets AS (
              SELECT vec_id, t,
                     CAST(sum(CASE WHEN s >= 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
              FROM proj GROUP BY vec_id, t),
            cand AS (
              SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
              FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket
              WHERE a.vec_id <> b.vec_id),
            scored AS (
              SELECT c.vec_id, c.neighbor_id,
                     CAST(list_sum(list_transform(range(1, {dim + 1}),
                          i -> qa.q[i] * qb.q[i])) AS BIGINT) AS dot
              FROM cand c
              JOIN e qa ON qa.vec_id = c.vec_id
              JOIN e qb ON qb.vec_id = c.neighbor_id),
            ranked AS (
              SELECT vec_id, neighbor_id, dot,
                     CAST(row_number() OVER (PARTITION BY vec_id
                          ORDER BY dot DESC, neighbor_id) AS INT) AS rank
              FROM scored)
            SELECT vec_id, neighbor_id, dot, rank FROM ranked WHERE rank <= 3
        """


def _ivf_ann_oracle_sql() -> str:
    """DuckDB replay of q_ann_ivf_topk (precomputed-centroids path): the
    seeded unit centroids are inlined as double constants; list assignment
    is argmax centroid similarity (rank 1), queries probe the top-nprobe
    centroids, and candidates are reranked with the exact integer dot.
    Query-side normalization in the Spark probe UDF is a positive row
    scaling — argsort order is identical on raw dots, so the oracle skips
    it. Centroid-side, ivf_topk re-normalizes whatever it is passed, and
    renormalizing an already-unit vector still shifts the low ulps (its
    computed norm is 1.0 +/- eps) — so the oracle inlines the SAME
    twice-normalized doubles the executors see."""
    import numpy as np

    C = _ivf_fixed_centroids()
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    nprobe, dim = _IVF_PARAMS["nprobe"], _IVF_PARAMS["dim"]
    rows = []
    for cid, c in enumerate(C):
        carr = ",".join(repr(float(x)) for x in c)
        rows.append(f"({cid}, [{carr}])")
    cent_values = ",\n              ".join(rows)
    return f"""
            WITH cent(cid, c) AS (VALUES
              {cent_values}),
            e AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                     list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q
              FROM embeddings),
            sims AS (
              SELECT e.vec_id, cent.cid,
                     list_sum(list_transform(range(1, {dim + 1}),
                          i -> e.v[i] * cent.c[i])) AS s
              FROM e CROSS JOIN cent),
            probes AS (
              SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id
                          ORDER BY s DESC, cid) AS pr
              FROM sims),
            lists AS (SELECT vec_id AS neighbor_id, cid FROM probes WHERE pr = 1),
            qprobes AS (SELECT vec_id, cid FROM probes WHERE pr <= {nprobe}),
            cand AS (
              SELECT qp.vec_id, l.neighbor_id
              FROM qprobes qp JOIN lists l USING (cid)
              WHERE qp.vec_id <> l.neighbor_id),
            scored AS (
              SELECT c.vec_id, c.neighbor_id,
                     CAST(list_sum(list_transform(range(1, {dim + 1}),
                          i -> qa.q[i] * qb.q[i])) AS BIGINT) AS dot
              FROM cand c
              JOIN e qa ON qa.vec_id = c.vec_id
              JOIN e qb ON qb.vec_id = c.neighbor_id),
            ranked AS (
              SELECT vec_id, neighbor_id, dot,
                     CAST(row_number() OVER (PARTITION BY vec_id
                          ORDER BY dot DESC, neighbor_id) AS INT) AS rank
              FROM scored)
            SELECT vec_id, neighbor_id, dot, rank FROM ranked WHERE rank <= 3
        """


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: MinHash+LSH dedup clustering at sf0.001."""
    return q_minhash_dedup(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dedup_groups": q_exact_dedup_groups,
        "exact_dup_flags": q_exact_dup_flags,
        "token_stats": q_token_stats,
        "quality_score": q_quality_score,
        "lang_marker_profile": q_lang_marker_profile,
        "doc_fingerprint": q_doc_fingerprint,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "ann_topk": q_ann_topk,
        "lineitem_pricing_summary": q_lineitem_pricing_summary,
        "minhash_dedup": q_minhash_dedup,
        "minhash_dedup_verified": q_minhash_dedup_verified,
        "minhash_dedup_md5": q_minhash_dedup_md5,
        "minhash_dedup_verified_md5": q_minhash_dedup_verified_md5,
        "simhash_dedup": q_simhash_dedup,
        "simhash_dedup_md5": q_simhash_dedup_md5,
        "simhash_dedup_verified_md5": q_simhash_dedup_verified_md5,
        "suffix_dedup": q_suffix_dedup,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "events_sessionize": q_events_sessionize,
        "events_minutely": q_events_minutely,
        "embedding_dedup": q_embedding_dedup,
    }



def _bpe_pattern_sql() -> str:
    """The BPE-ish pretokenizer pattern as a DuckDB string-literal body —
    SINGLE SOURCE: text_stats.BPE_ISH_PATTERN (single quotes doubled)."""
    from text_dedup_spark.functions.text_stats import BPE_ISH_PATTERN

    return BPE_ISH_PATTERN.replace("'", "''")


def oracle_sql() -> dict[str, str]:
    return {
        "minhash_dedup_md5": _md5_minhash_oracle_sql(),
        "minhash_dedup_verified_md5": _md5_minhash_oracle_sql(verified=True),
        "simhash_dedup_md5": _md5_simhash_oracle_sql(),
        "simhash_dedup_verified_md5": _md5_simhash_oracle_sql(verified=True),
        "ann_lsh_topk": _lsh_ann_oracle_sql(),
        "ann_ivf_topk": _ivf_ann_oracle_sql(),
        "exact_dedup_groups": """
            SELECT md5(text) AS text_md5,
                   min(doc_id) AS first_doc_id,
                   count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "exact_dup_flags": """
            SELECT doc_id,
                   CAST(doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_dup
            FROM documents
        """,
        "token_stats": """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
                   CAST(list_max(list_transform(string_split(text, ' '), t -> len(t))) AS BIGINT) AS max_token_len,
                   CAST(len(text) AS BIGINT) AS n_chars_calc,
                   CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
                   CAST(len(regexp_extract_all(text, '{BPE_SQL}')) AS BIGINT) AS n_bpe_tokens
            FROM documents
        """.replace("{BPE_SQL}", _bpe_pattern_sql()),
        "quality_score": """
            WITH t AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                     CAST(len(text) AS BIGINT) AS n_chars,
                     CAST(len(list_filter(string_split(text, ' '),
                          x -> x = 'the' OR x = 'a' OR x = 'of')) AS BIGINT) AS n_stop,
                     CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
              FROM documents)
            SELECT doc_id, n_tokens,
                   CAST(floor((n_stop * 1000) / n_tokens) AS BIGINT) AS stop_milli,
                   CAST(floor((n_distinct * 1000) / n_tokens) AS BIGINT) AS ttr_milli,
                   CAST(floor(((n_chars - (n_tokens - 1)) * 1000) / n_tokens) AS BIGINT) AS mean_tok_len_milli,
                   CASE WHEN n_tokens >= 50 AND floor((n_distinct * 1000) / n_tokens) >= 300 THEN 'keep'
                        WHEN n_tokens >= 20 THEN 'flag'
                        ELSE 'drop' END AS quality_class
            FROM t
        """,
        "lang_marker_profile": """
            WITH t AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split(text,' '), x -> x = 'the')) AS BIGINT) AS n_the,
                     CAST(len(list_filter(string_split(text,' '), x -> x = 'data')) AS BIGINT) AS n_data,
                     CAST(len(list_filter(string_split(text,' '), x -> x = 'table')) AS BIGINT) AS n_table
              FROM documents)
            SELECT doc_id, n_the, n_data, n_table,
                   CASE WHEN n_the >= greatest(n_data, n_table) THEN 'en'
                        WHEN n_data >= n_table THEN 'tech'
                        ELSE 'tabular' END AS pred_class
            FROM t
        """,
        "doc_fingerprint": """
            SELECT doc_id, substr(md5(text), 1, 16) AS fp FROM documents
        """,
        "ngram_jaccard_pairs": """
            WITH g AS (
              SELECT doc_id,
                     CASE WHEN len(string_split(text,' ')) >= 3 THEN
                       list_distinct(list_transform(
                         range(1, len(string_split(text,' ')) - 1),
                         i -> string_split(text,' ')[i] || ' ' ||
                              string_split(text,' ')[i+1] || ' ' ||
                              string_split(text,' ')[i+2]))
                     ELSE [] END AS grams
              FROM documents)
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS inter_size,
                   CAST(len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS BIGINT) AS union_size
            FROM g a, g b
            WHERE a.doc_id < b.doc_id
              AND len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) > 0
              AND 2 * len(list_intersect(a.grams, b.grams)) >=
                  len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))
        """,
        "ann_topk": """
            WITH q AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS qv
              FROM embeddings),
            pairs AS (
              SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                     CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                          i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot
              FROM q a, q b WHERE a.vec_id <> b.vec_id),
            ranked AS (
              SELECT vec_id, neighbor_id, dot,
                     CAST(row_number() OVER (PARTITION BY vec_id
                          ORDER BY dot DESC, neighbor_id) AS INT) AS rank
              FROM pairs)
            SELECT vec_id, neighbor_id, dot, rank FROM ranked WHERE rank <= 3
        """,
        "events_sessionize": """
            WITH e AS (
              SELECT user_id, event_id,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
              FROM events),
            g AS (
              SELECT user_id, event_id, ts_epoch,
                     CASE WHEN lag(ts_epoch) OVER w IS NULL
                          OR ts_epoch - lag(ts_epoch) OVER w > 1800
                          THEN 1 ELSE 0 END AS is_break
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_epoch, event_id)),
            s AS (
              SELECT user_id, event_id, ts_epoch,
                     sum(is_break) OVER (PARTITION BY user_id ORDER BY ts_epoch, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM g)
            SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                   count(*) AS n_events,
                   min(event_id) AS first_event_id,
                   max(ts_epoch) - min(ts_epoch) AS duration_sec
            FROM s GROUP BY user_id, session_seq
        """,
        "events_minutely": """
            SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS window_start_epoch, event_type,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        """,
        # Outer CAST matters: DuckDB sum(BIGINT) returns HUGEINT (int128),
        # which a dataframe-style fetch coerces to float64 — the driver
        # normalizer then prints 5.01327e+09 vs Spark's exact 5013269739.
        # Casting the aggregate back to BIGINT keeps the fetch int-typed.
        "lineitem_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        # Integer-cosine edges (same quantization + exact integer comparison
        # as the Spark path; HUGEINT avoids int64 overflow of dot^2*1e6) +
        # min-label connected components via a recursive CTE. 160000 =
        # round(0.4^2 * 1e6).
        "embedding_dedup": """
            WITH RECURSIVE q AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS v
              FROM embeddings),
            n AS (
              SELECT vec_id, v,
                     CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2
              FROM q),
            pairs AS (
              SELECT a.vec_id AS s, b.vec_id AS d,
                     CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                          i -> a.v[i] * b.v[i])) AS BIGINT) AS dot,
                     a.n2 AS na, b.n2 AS nb
              FROM n a, n b WHERE a.vec_id < b.vec_id),
            sel AS (
              SELECT s, d FROM pairs
              WHERE dot >= 0
                AND CAST(dot AS HUGEINT) * dot * 1000000 >= CAST(na AS HUGEINT) * nb * 160000),
            edges AS (SELECT s, d FROM sel UNION ALL SELECT d AS s, s AS d FROM sel),
            reach(id, lab) AS (
              SELECT s, s FROM edges
              UNION
              SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id WHERE r.lab < e.d),
            cc AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id)
            SELECT emb.vec_id,
                   CAST(COALESCE(cc.cluster, emb.vec_id) AS BIGINT) AS cluster_id,
                   CAST(cc.id IS NOT NULL AS INT) AS is_dup
            FROM embeddings emb LEFT JOIN cc ON cc.id = emb.vec_id
        """,
        # Exact-substring dedup oracle. Identity used: the byte-coverage
        # union of all duplicated substrings of length >= L equals the
        # coverage union of all duplicated L-grams of the doc_id-order
        # concatenated corpus (any longer duplicate is a union of duplicated
        # L-windows). Restore semantics: per-doc pieces of maximal covered
        # runs are kept only when >= L bytes (reference
        # config/algorithms/suffix_array.py:190-241); disjoint runs make the
        # 'longest' merge the identity. Docs are pure ASCII so DuckDB char
        # positions == utf-8 byte positions.
        "suffix_dedup": """
            WITH corpus AS (
              SELECT string_agg(text, '' ORDER BY doc_id) AS c FROM documents),
            docs AS (
              SELECT doc_id, length(text) AS len,
                     COALESCE(CAST(sum(length(text)) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS off
              FROM documents),
            allpos AS (
              SELECT CAST(d.off + u.i AS BIGINT) AS p
              FROM docs d, unnest(generate_series(1, d.len)) u(i)),
            pos AS (
              SELECT p, substr(corpus.c, CAST(p AS INT), 50) AS g
              FROM allpos, corpus
              WHERE p <= length(corpus.c) - 50 + 1),
            dup AS (
              SELECT p FROM pos QUALIFY count(*) OVER (PARTITION BY g) > 1),
            marks AS (
              SELECT p, CASE WHEN p > COALESCE(lag(p) OVER (ORDER BY p), -50) + 50
                             THEN 1 ELSE 0 END AS brk
              FROM dup),
            grp AS (SELECT p, sum(brk) OVER (ORDER BY p) AS gid FROM marks),
            runs AS (SELECT min(p) AS rs, max(p) + 50 AS re FROM grp GROUP BY gid),
            pieces AS (
              SELECT d.doc_id,
                     least(r.re, d.off + d.len + 1) - greatest(r.rs, d.off + 1) AS plen
              FROM docs d JOIN runs r
                ON r.rs < d.off + d.len + 1 AND r.re > d.off + 1),
            removed AS (
              SELECT doc_id, sum(CASE WHEN plen >= 50 THEN plen ELSE 0 END) AS rm
              FROM pieces GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(d.len AS BIGINT) AS orig_bytes,
                   CAST(d.len - COALESCE(rm.rm, 0) AS BIGINT) AS kept_bytes,
                   CAST(COALESCE(rm.rm, 0) AS BIGINT) AS removed_bytes
            FROM docs d LEFT JOIN removed rm ON rm.doc_id = d.doc_id
        """,
    }
