"""SparkSession factory with scale-oriented defaults.

Defaults encode the SURVEY.md §4 plan: AQE on (runtime re-plan + skew-join
splitting for hot LSH bands), Arrow transport for pandas UDFs, shuffle
partitions overridable by the caller (the test session uses 8 at local[4]).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Join strategy (guide §3.1/§9): allow shuffled-hash join when its size
    # conditions are met instead of always sort-merge — the dedup pipelines
    # are chains of small-map equi-joins whose sorts are pure overhead; the
    # AQE threshold bounds the per-partition build side (spill safety), so
    # the choice stays size-gated at any scale. Overridable per deployment
    # via get_spark(conf=...). Measured at sf0.1: verified minhash
    # 2.51 -> 2.06 s, ngram pairs 2.22 -> 1.88 s, no query slower.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # wide binary signature arrays: keep Arrow batches moderate
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.shuffle.partitions": "32",
    # let AQE coalesce shuffles above a cached plan (Spark defaults to
    # false): CC's cached `base` distinct otherwise pins two stages at the
    # full partition count. perfbench on a 4-core VM, 10 alternating
    # pairs: docs_per_cpu_s median 1528 -> 1739 (web_minhash, 9/10 pairs),
    # 1206 -> 1381 (boilerplate_flood, 10/10); labels unchanged.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
    # deterministic epoch math for NTZ timestamps (matches DuckDB's epoch())
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    app_name: str = "text-dedup-spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession. ``master`` defaults to
    ``$SPARK_GRAFT_MASTER`` or ``local[$SPARK_GRAFT_CPUS]``."""
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    merged = {**DEFAULT_CONF, **(conf or {})}
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
