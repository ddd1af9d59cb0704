"""Dump formatted physical plans for the headline queries to PLANS.md —
evidence that scans prune columns, filters push down, and relational stages
stay inside whole-stage codegen (task brief: '.explain("formatted") the plan
and iterate until it's the plan you'd want')."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

QUERIES = [
    ("token_stats", "column pruning + codegen, no shuffle"),
    ("exact_dedup_groups", "partial (map-side) aggregation before the exchange"),
    ("ngram_jaccard_pairs", "prefix-filter join: no cross join anywhere"),
    ("minhash_dedup", "fingerprint UDF -> JVM band split -> partial-agg band roots"),
    ("events_sessionize", "window sort reuse across lag and running sum"),
    ("simhash_dedup", "bucket equi-join + JVM bit_count Hamming filter (codegen)"),
    ("ann_lsh_topk", "pandas-UDF GEMM sketches -> bucket join -> exact rerank window"),
    ("embedding_dedup", "blocked-GEMM FlatMapGroupsInPandas edges -> CC assignment join"),
    ("suffix_dedup", "size-dispatched: per-group SA applyInPandas + rewrite join"),
]


def _embedding_lsh_edges(spark, sf_dir):
    """The scale path for embedding dedup (auto gate picks all_pairs at
    sf0.01; this dumps the above-gate plan): sign-sketch bucket equi-join
    candidates + exact DECIMAL(38,0) confirm — no block-pair enumeration,
    one shuffle keyed by (table, bucket)."""
    from pyspark.sql import functions as F

    from text_dedup_spark.functions.embedding_dedup import lsh_cosine_edges

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_cosine_edges(emb, threshold=0.4, eager=False)


def _minhash_salted_edges(spark, sf_dir):
    """The scale profile's star-edge plan (band_edges_mode="salted"):
    identical-fingerprint contraction + salted two-phase groupBy-min +
    skew-splittable join-back. The thing to verify in the dump: NO Window
    node anywhere, and each aggregate appears as a partial/final
    HashAggregate pair around its exchange."""
    from pyspark.sql import functions as F

    from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
    from text_dedup_spark.operators.minhash import (
        _explode_bands,
        contract_identical_fingerprints,
        fingerprint_bands,
        lsh_star_edges_salted,
    )

    kernel = MinHashKernel(num_perm=64, ngram_size=2, min_length=5, threshold=0.5)
    # minhash_dedup's fingerprint cache: ONE UDF evaluation persisted, every
    # downstream branch scans the cache (InMemoryTableScan in the dump)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("__INDEX__"), "text"
    )
    filtered = fingerprint_bands(docs, kernel).where(F.col("__BANDS__").isNotNull())
    rep_rows, cedges = contract_identical_fingerprints(filtered)
    return lsh_star_edges_salted(_explode_bands(rep_rows, kernel)).unionByName(cedges)


def _setsim_prefix_plan(spark, sf_dir):
    """The ngram_jaccard_pairs entry materializes through localCheckpoint
    (its plan dump is an opaque ExistingRDD scan), so dump the lazy plan
    jaccard_pairs_prefix checkpoints: what to verify is (a) the gram build
    evaluated once above the cache — the sz>0 filter must scan the
    InMemoryRelation, NOT re-derive the ngram expression under the exchange
    (the round-5 pushdown fix, functions/setsim.py) — and (b) no cross join
    anywhere in the prefix candidate join. Its two caches are registered but
    never materialized; they go with the session."""
    from pyspark.sql import functions as F

    from text_dedup_spark.functions.setsim import _prefix_join
    from text_dedup_spark.functions.text_stats import word_ngrams_from_tokens

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .select(F.col("doc_id"), F.split(F.col("text"), " ").alias("toks"))
        .select(
            F.col("doc_id"), word_ngrams_from_tokens(F.col("toks"), 3).alias("grams")
        )
    )
    pairs, _caches = _prefix_join(d, 0.5, "doc_id", "grams", None, None)
    return pairs


EXTRA_QUERIES = [
    (
        "embedding_lsh_edges",
        "sketch GEMM UDF -> (table,bucket) equi-join -> exact decimal confirm (codegen)",
        _embedding_lsh_edges,
    ),
    (
        "setsim_prefix_lazy",
        "PPJoin lazy form: gram cache scanned (filter NOT pushed into the ngram expr), prefix join, exact verify",
        _setsim_prefix_plan,
    ),
    (
        "minhash_salted_edges",
        "scale-profile star edges: fingerprint contraction + salted 2-phase groupBy-min, Window-free",
        _minhash_salted_edges,
    ),
]


def main() -> None:
    import __spark_entry__ as e
    from text_dedup_spark.session import get_spark

    spark = get_spark("plans", master="local[2]", conf={"spark.sql.shuffle.partitions": "4"})
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = [
        "# PLANS — physical-plan evidence (sf0.01, AQE on)",
        "",
        "Generated by `python tools/dump_plans.py`. Things to check per plan:",
        "`ReadSchema` lists only needed columns (pruning), `PushedFilters` on",
        "scans, `HashAggregate` appears twice around each `Exchange` (partial",
        "aggregation = map-side combine; this is what makes hot LSH bands",
        "safe), `WholeStageCodegen` spans cover the relational stages, and",
        "Python shows up only in `ArrowEvalPython`/`FlatMapGroupsInPandas`",
        "nodes (the declared UDF surface).",
        "",
    ]
    builders = [(n, note, e.queries()[n]) for n, note in QUERIES]
    builders += EXTRA_QUERIES
    for name, note, fn in builders:
        df = fn(spark, "/root/testdata/sf0.01")
        plan = df._jdf.queryExecution().explainString(mode)
        out.append(f"## {name} — {note}\n\n```\n{plan.strip()}\n```\n")
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
