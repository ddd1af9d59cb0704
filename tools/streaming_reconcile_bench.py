"""Streaming <-> batch reconciliation evidence at mid scale (round-5 task:
the 100-TB story claims incremental dedup; this run makes it credible past
test scale).

Ingests the tools/scaling_bench.py synthetic web corpus into a band store
in micro-batches (incremental_minhash_batch — the foreachBatch body), then
runs reconcile_band_store and compares its EXACT clustering against the
batch minhash_dedup (salted scale form) on the same input:

  - label parity: every doc's reconciled cluster id equals the batch
    pipeline's cluster id (count of disagreeing docs must be 0)
  - dup-count parity

Prints one JSON line with walls + parity counts.

Usage: python tools/streaming_reconcile_bench.py [n_docs] [n_batches] [cpus]
(defaults 1000000 10 8)
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.scaling_bench import DATA, ensure_corpus  # noqa: E402


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    ensure_corpus(n_docs)
    store_dir = "/tmp/spark_graft_band_store"
    shutil.rmtree(store_dir, ignore_errors=True)

    from pyspark.sql import functions as F

    from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
    from text_dedup_spark.operators.ids import CLUSTER_COL, DUPLICATE_COL, INDEX_COL
    from text_dedup_spark.operators.minhash import minhash_dedup
    from text_dedup_spark.session import get_spark
    from text_dedup_spark.streaming.dedup_stream import (
        incremental_minhash_batch,
        reconcile_band_store,
    )

    spark = get_spark(
        "reconcile-bench",
        master=f"local[{cpus}]",
        conf={
            "spark.sql.shuffle.partitions": str(max(cpus, 8)),
            "spark.driver.memory": "48g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    kernel = MinHashKernel(num_perm=128, ngram_size=2, min_length=5, threshold=0.5)
    df = spark.read.parquet(f"{DATA}/pages").withColumn(INDEX_COL, F.col("doc_id"))
    spark.range(cpus * 2).repartition(cpus * 2).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # --- micro-batch ingest (arrival order = doc_id ranges, like a feed) ---
    per = (n_docs + n_batches - 1) // n_batches
    batch_walls = []
    batch_calibs = []
    from tools.hostcal import cpu_calib_sec

    for b in range(n_batches):
        # per-batch host stamp: this box's ambient speed swings 1.5-2x
        # between minutes, and a per-batch trend claim ("flat, not
        # growing") is only honest when each wall carries the probe that
        # says how fast the host was DURING it
        cal = cpu_calib_sec()
        tb = time.time()
        batch = df.where(
            (F.col(INDEX_COL) >= b * per) & (F.col(INDEX_COL) < (b + 1) * per)
        )
        incremental_minhash_batch(
            spark, batch, kernel, store_dir, text_col="text"
        ).count()
        batch_walls.append(round(time.time() - tb, 2))
        batch_calibs.append(cal)
    # the per-batch calibration probes run between batches, outside every
    # batch wall, so they are not ingest time
    ingest_wall = round(sum(batch_walls), 2)

    # --- reconcile: exact batch-equivalent clustering from the store ------
    t0 = time.time()
    rec = reconcile_band_store(spark, store_dir).persist()
    n_rec = rec.count()
    n_dup_rec = rec.where(F.col("is_dup") == 1).count()
    reconcile_wall = round(time.time() - t0, 2)

    # --- batch pipeline on the same input (salted scale form) -------------
    t0 = time.time()
    res = minhash_dedup(
        df, kernel, id_col="doc_id", repartition_input=64,
        band_partitions=64, band_edges_mode="salted",
    )
    batch_docs = res.docs.select(
        INDEX_COL, F.col(CLUSTER_COL), F.col(DUPLICATE_COL)
    ).persist()
    n_batch = batch_docs.count()
    n_dup_batch = batch_docs.where(F.col(DUPLICATE_COL)).count()
    batch_wall = round(time.time() - t0, 2)

    # --- parity: per-doc label equality ------------------------------------
    joined = rec.join(
        batch_docs.withColumnRenamed(INDEX_COL, "doc_id"), "doc_id", "full"
    )
    n_label_mismatch = joined.where(
        F.coalesce(F.col("exact_cluster_id"), F.lit(-1))
        != F.coalesce(F.col(CLUSTER_COL), F.lit(-2))
    ).count()

    print(
        json.dumps(
            {
                "metric": "streaming band-store reconciliation vs salted batch",
                "n_docs": n_docs,
                "n_batches": n_batches,
                "cpus": cpus,
                "ingest_wall_sec": ingest_wall,
                "batch_walls": batch_walls,
                "batch_calib_sec": batch_calibs,
                "reconcile_wall_sec": reconcile_wall,
                "batch_pipeline_wall_sec": batch_wall,
                "n_reconciled_docs": n_rec,
                "n_batch_docs": n_batch,
                "n_dup_reconciled": n_dup_rec,
                "n_dup_batch": n_dup_batch,
                "n_label_mismatch": n_label_mismatch,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
