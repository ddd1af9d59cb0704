"""End-to-end pipeline runner: TOML config -> staged, checkpoint-resumable
Spark job (the counterpart of the reference's ``python -m text_dedup.minhash``
lifecycle, SURVEY.md §3.1, re-expressed as checkpointed DataFrame stages).

Stages, each checkpointed to ``spark.run_dir`` when set and resumed when its
config hash matches (``plans/checkpoints.StageRunner``):

- ``ids``: the input rows with ``__INDEX__``. Checkpointed only when the ids
  depend on partition layout: the parity load-order ``row_number`` and the
  scale profile's ``monotonically_increasing_id``. With
  ``algorithm.index_column`` the ids are a cast of an input column, so
  ``docs`` is derived from the input lazily and nothing is copied.
- ``assigned``: the dedup labels. MinHash, SimHash and embedding checkpoint
  ``(__INDEX__, __CLUSTER__, __duplicate__)``, bloom_filter
  ``(__INDEX__, __duplicate__)``; the output rows are ``docs`` joined to
  them by id. suffix_array checkpoints full rows, since its output is the
  rewritten text.

Without ``run_dir`` nothing is checkpointed and the outputs are written
from the lazy dedup plan (scale-profile layout-dependent ids are frozen
with ``localCheckpoint`` instead).

Outputs: ``{output_dir}/data`` parquet (internal columns dropped per
keep-flags, reference io.py:79-94) and, when ``save_clusters``,
``{output_dir}/clusters`` parquet read from the labels plus the reference's
``clusters.pickle`` (S5). ``rows_after`` is observed on the data write.

A resumed run assumes the input is unchanged: the config hash covers the
config, not the input data, and a resumed ``assigned`` stage is joined to
the input as it is read now (or to the ``ids`` checkpoint).
"""

from __future__ import annotations

import time
from dataclasses import asdict
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from text_dedup_spark.config import Config
from text_dedup_spark.operators.ids import CLUSTER_COL, DUPLICATE_COL, INDEX_COL

CLUSTERS_PICKLE_MAX = 5_000_000  # largest clusters.pickle mapping written


def read_input(spark: SparkSession, config: Config) -> DataFrame:
    args = dict(config.input.read_arguments)
    split = args.pop("split", None)
    if config.input.input_type == "local_hf_dataset":
        # reference io.py:31-45 (load_from_disk); read_arguments carries
        # dataset_path (and optionally keep_in_memory, which has no Spark
        # meaning — executors stream the shards)
        from text_dedup_spark.sources.hf_dataset import (
            HF_ROW_COL,
            hf_row_count,
            read_hf_dataset_dir,
        )

        path = args.pop("dataset_path")
        args.pop("keep_in_memory", None)
        df = read_hf_dataset_dir(spark, path, split)
        # slice on the explicit HF row position (hash-partitioned shard
        # tasks scramble physical order, so limit/offset would pick
        # arbitrary rows; the row column carries on-disk order exactly).
        # Percent bounds resolve from the IPC headers — metadata-only, no
        # extra distributed decode.
        total = hf_row_count(path, split) if split and "%" in split else None
        bounds = _split_bounds(df, split, total=total)
        if bounds is not None:
            a, b = bounds
            cond = F.col(HF_ROW_COL) >= a
            if b is not None:
                cond = cond & (F.col(HF_ROW_COL) < b)
            df = df.where(cond)
        return df
    if config.input.input_type == "table":
        # catalog table (Iceberg/Delta/hive — whatever the session catalog
        # serves; e.g. read_arguments.table = "iceberg_cat.db.pages" with
        # snapshot-id / as-of-timestamp passed straight through as reader
        # options for time travel). This is the north-star input shape: the
        # engine never lists files itself, the catalog plans the scan.
        name = args.pop("table")
        reader = spark.read.options(**{k: str(v) for k, v in args.items()})
        return _apply_split(reader.table(name), split)
    path = args.pop("path")
    reader = spark.read.options(**{k: str(v) for k, v in args.items()})
    ft = config.input.file_type
    if ft == "parquet":
        df = reader.parquet(path)
    elif ft == "csv":
        df = reader.option("header", "true").csv(path)
    elif ft == "json":
        df = reader.json(path)
    else:
        raise ValueError(f"unsupported file_type: {ft}")
    return _apply_split(df, split)


def _split_bounds(
    df: DataFrame, split: str | None, total: int | None = None
) -> tuple[int, int | None] | None:
    """Parse HF split-slice bounds (``train[:10%]``, ``train[100:200]``,
    ``train[5%:15%]``) into a [a, b) row range. Percent bounds use floor
    (``total * p // 100``), with ``total`` taken from the caller when known
    (HF sources resolve it from IPC headers) and counted otherwise.
    Negative indices are not supported (raise). Returns None when the split
    carries no slice."""
    if not split or "[" not in split:
        return None
    import re as _re

    m = _re.search(r"\[\s*(\d+%?)?\s*:\s*(\d+%?)?\s*\]", split)
    if not m:
        raise ValueError(f"unsupported split expression: {split}")

    def resolve(tok: str | None) -> int | None:
        nonlocal total
        if tok is None:
            return None
        if tok.endswith("%"):
            if total is None:
                total = df.count()
            return total * int(tok[:-1]) // 100
        return int(tok)

    return resolve(m.group(1)) or 0, resolve(m.group(2))


def _apply_split(df: DataFrame, split: str | None) -> DataFrame:
    """Row-range slice via limit/offset over the load order (parquet/csv/
    json sources, whose file-listing order is stable)."""
    bounds = _split_bounds(df, split)
    if bounds is None:
        return df
    a, b = bounds
    out = df if b is None else df.limit(b)
    return out.offset(a) if a else out


def _with_ids(df: DataFrame, config: Config) -> DataFrame:
    from text_dedup_spark.sources.hf_dataset import HF_ROW_COL

    algo = config.algorithm
    if algo.index_column:
        out = df.withColumn(INDEX_COL, F.col(algo.index_column).cast("long"))
        # the HF row column is internal — never let it leak into outputs
        return out.drop(HF_ROW_COL) if HF_ROW_COL in df.columns else out
    if algo.profile == "scale":
        # web-scale id assignment: no single-partition global window.
        # monotonically_increasing_id is unique and shuffle-free; ids are
        # run-specific (partition-layout dependent), which the ids-stage
        # checkpoint freezes for resume — the documented parity tradeoff
        # (reference ids are 0..n-1 load-order ordinals; under "scale" the
        # cluster labels are still deterministic min-ids over THIS run's ids)
        out = df.withColumn(INDEX_COL, F.monotonically_increasing_id())
        return out.drop(HF_ROW_COL) if HF_ROW_COL in df.columns else out
    from pyspark.sql import Window

    if HF_ROW_COL in df.columns:
        # HF source: the explicit on-disk row position IS the load order
        # (re-numbered densely so a sliced split starts at 0, as the
        # reference's post-slice ds.map with_indices does)
        return (
            df.withColumn(
                INDEX_COL,
                F.row_number().over(Window.orderBy(HF_ROW_COL)) - F.lit(1).cast("long"),
            )
            .drop(HF_ROW_COL)
        )
    # load-order ordinal (reference io.py:39-44): row_number over the
    # physical order captured by monotonically_increasing_id
    return (
        df.withColumn("__ord__", F.monotonically_increasing_id())
        .withColumn(
            INDEX_COL,
            F.row_number().over(Window.orderBy("__ord__")) - F.lit(1).cast("long"),
        )
        .drop("__ord__")
    )


def run_pipeline(config: Config, spark: SparkSession | None = None) -> dict:
    from text_dedup_spark.session import get_spark

    if spark is None:
        conf = {}
        if config.spark.shuffle_partitions:
            conf["spark.sql.shuffle.partitions"] = str(config.spark.shuffle_partitions)
        spark = get_spark("text-dedup-spark", master=config.spark.master, conf=conf)

    algo = config.algorithm
    # "scale" profile pins the skew guards when unset (config.py docstring)
    max_bucket_size = algo.max_bucket_size
    max_cluster_verify = algo.max_cluster_verify
    max_group_bytes = None
    # MinHash physical forms: one-exchange windows under parity, the
    # hot-band-safe salted star edges (and join-form verify) under scale
    band_edges_mode = "salted" if algo.profile == "scale" else "window"
    if algo.profile == "scale":
        max_bucket_size = 10_000 if max_bucket_size is None else max_bucket_size
        max_cluster_verify = (
            1_000 if max_cluster_verify is None else max_cluster_verify
        )
        max_group_bytes = 64 << 20  # bound per-task suffix-array corpora
    t0 = time.time()

    runner = None
    if config.spark.run_dir:
        from text_dedup_spark.plans.checkpoints import StageRunner

        runner = StageRunner(spark, config.spark.run_dir)

    def stage(name: str, build):
        if runner is None:
            return build()
        return runner.stage(name, {"cfg": cfg_dict, "stage": name}, build)

    def assign_stage(build, label_cols: list[str]) -> tuple[DataFrame, DataFrame]:
        """The ``assigned`` stage as (rows, labels). ``build`` gives every
        doc row that passes the algorithm's filters with its label columns
        added. Without ``run_dir`` both are that lazy frame. With it, only
        ``label_cols`` are checkpointed (the text is already in ``docs``),
        and the rows are rejoined by id: an inner join, since the labels
        hold exactly the docs ``build`` kept."""
        if runner is None:
            assigned = build()
            return assigned, assigned
        labels = stage("assigned", lambda: build().select(*label_cols))
        return docs.join(labels, INDEX_COL), labels

    cfg_dict = asdict(config)
    if algo.index_column:
        # ids are a cast of an input column: nothing to freeze, so the
        # input is not copied into an ids checkpoint
        docs = _with_ids(read_input(spark, config), config)
    else:
        docs = stage("ids", lambda: _with_ids(read_input(spark, config), config))
    if algo.profile == "scale" and runner is None and not algo.index_column:
        # "scale" ids come from monotonically_increasing_id, which is
        # partition-layout dependent: without the ids-stage checkpoint
        # (run_dir unset) every downstream action would re-derive ids from
        # lineage, and a replan or cache eviction between the persisted
        # fingerprint branch and a recomputed docs branch could silently
        # mismatch rows to clusters. Freeze them eagerly instead.
        docs = docs.localCheckpoint(eager=True)

    clusters: DataFrame | None = None
    embedding_candidate_mode: str | None = None
    if algo.algorithm_name == "minhash":
        from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
        from text_dedup_spark.operators.minhash import minhash_dedup

        kernel = MinHashKernel(
            num_perm=algo.num_perm,
            ngram_size=algo.ngram_size,
            min_length=algo.min_length,
            threshold=algo.threshold,
            hash_bits=algo.hash_bits,
            hash_func_name=algo.hash_func_name,
            seed=algo.seed,
            bands=algo.bands,
            rows=algo.rows,
            false_positive_weight=algo.false_positive_weight,
            false_negative_weight=algo.false_negative_weight,
        )

        def build_assigned():
            res = minhash_dedup(
                docs,
                kernel,
                text_col=algo.text_column,
                check_false_positive=algo.check_false_positive,
                skip_filtering=True,
                max_cluster_verify=max_cluster_verify,
                band_partitions=algo.band_partitions,
                band_edges_mode=band_edges_mode,
            )
            return res.docs

        assigned, labels = assign_stage(build_assigned, [INDEX_COL, CLUSTER_COL, DUPLICATE_COL])
        final = (
            assigned
            if config.output.skip_filtering
            else assigned.where(F.col(CLUSTER_COL) == F.col(INDEX_COL))
        )
        clusters = labels.where(F.col(DUPLICATE_COL)).select(
            F.col(INDEX_COL).alias("id"), F.col(CLUSTER_COL).alias("cluster")
        )
    elif algo.algorithm_name == "simhash":
        from text_dedup_spark.kernels.simhash_kernel import SimHashKernel
        from text_dedup_spark.operators.simhash import simhash_dedup

        kernel = SimHashKernel(
            f=algo.f,
            bit_diff=algo.bit_diff,
            num_bucket=algo.num_bucket,
            ngram_size=algo.ngram_size,
            min_length=algo.min_length,
            seed=algo.seed,
        )

        def build_assigned():
            return simhash_dedup(
                docs,
                kernel,
                text_col=algo.text_column,
                check_false_positive=algo.check_false_positive,
                jaccard_threshold=algo.jaccard_threshold,
                skip_filtering=True,
                max_bucket_size=max_bucket_size,
                max_cluster_verify=max_cluster_verify,
                # scale: FP-verify rep selection via partial-agg groupBy +
                # AQE join-back instead of a per-(cluster,text) window task
                contraction="join" if algo.profile == "scale" else "window",
            ).docs

        assigned, labels = assign_stage(build_assigned, [INDEX_COL, CLUSTER_COL, DUPLICATE_COL])
        final = (
            assigned
            if config.output.skip_filtering
            else assigned.where(~F.col(DUPLICATE_COL))
        )
        clusters = labels.where(F.col(CLUSTER_COL) != F.col(INDEX_COL)).select(
            F.col(INDEX_COL).alias("id"), F.col(CLUSTER_COL).alias("cluster")
        )
    elif algo.algorithm_name == "embedding":
        # beyond-reference first-class path: embedding-cosine near-dup
        # clustering, config-driven like the four reference pipelines.
        # profile="scale" pins candidate_mode "auto" -> "lsh" (no quadratic
        # block-pair plan) and the observable max_bucket_size hot-bucket cap.
        from text_dedup_spark.functions.embedding_dedup import embedding_cosine_dedup

        candidate_mode = algo.candidate_mode
        if algo.profile == "scale" and candidate_mode == "auto":
            candidate_mode = "lsh"
        embedding_candidate_mode = candidate_mode

        def build_assigned():
            res = embedding_cosine_dedup(
                docs,
                threshold=algo.cosine_threshold,
                id_col=INDEX_COL,
                vec_col=algo.embedding_column,
                candidate_mode=candidate_mode,
                all_pairs_gate=algo.all_pairs_gate,
                max_bucket_size=(
                    max_bucket_size if candidate_mode == "lsh" else None
                ),
            )
            labels = res.select(
                F.col(INDEX_COL),
                F.col("cluster_id").alias(CLUSTER_COL),
                F.col("is_dup").cast("boolean").alias(DUPLICATE_COL),
            )
            return docs.join(labels, INDEX_COL)

        assigned, labels = assign_stage(build_assigned, [INDEX_COL, CLUSTER_COL, DUPLICATE_COL])
        final = (
            assigned
            if config.output.skip_filtering
            else assigned.where(F.col(CLUSTER_COL) == F.col(INDEX_COL))
        )
        clusters = labels.where(F.col(DUPLICATE_COL)).select(
            F.col(INDEX_COL).alias("id"), F.col(CLUSTER_COL).alias("cluster")
        )
    elif algo.algorithm_name == "bloom_filter":
        from text_dedup_spark.operators.exact import exact_dedup

        def build_flags():
            return exact_dedup(docs, text_col=algo.text_column, skip_filtering=True).docs

        flagged, _ = assign_stage(build_flags, [INDEX_COL, DUPLICATE_COL])
        # exact_dedup keeps the input's column order; the id rejoin puts
        # the id first
        flagged = flagged.select(*docs.columns, DUPLICATE_COL)
        final = (
            flagged if config.output.skip_filtering else flagged.where(~F.col(DUPLICATE_COL))
        )
    elif algo.algorithm_name == "suffix_array":
        from text_dedup_spark.operators.suffix_dedup import suffix_array_dedup

        def build_rewritten():
            return suffix_array_dedup(
                docs,
                text_col=algo.text_column,
                length_threshold=algo.length_threshold,
                merge_strategy=algo.merge_strategy,
                max_group_bytes=max_group_bytes,
            ).docs

        # full rows: the stage output is the rewritten text
        rewritten = stage("assigned", build_rewritten)
        final = rewritten.where(F.length(F.col(algo.text_column)) > 0)
    else:
        raise ValueError(f"unknown algorithm: {algo.algorithm_name}")

    # output column policy (reference io.py:79-94)
    drop_cols = []
    if not (config.output.keep_index_column or config.output.save_clusters):
        drop_cols.append(INDEX_COL)
    if CLUSTER_COL in final.columns and not (
        config.output.keep_cluster_column or config.output.save_clusters
    ):
        drop_cols.append(CLUSTER_COL)
    if DUPLICATE_COL in final.columns:
        drop_cols.append(DUPLICATE_COL)
    out = Path(config.output.output_dir)
    final_out = final.drop(*drop_cols)
    # rows_after is counted during the data write: no second pass over it
    written = Observation("rows_after")
    final_out.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(str(out / "data"))
    if config.output.output_table:
        # from the data just written: the lazy final_out would run the
        # whole dedup plan a second time
        spark.read.parquet(str(out / "data")).write.mode("overwrite").saveAsTable(
            config.output.output_table
        )
    if config.output.save_clusters and clusters is not None:
        clusters.write.mode("overwrite").parquet(str(out / "clusters"))
        # small-scale compatibility export of the reference's clusters.pickle
        # (io.py:76-77) — dict[id, cluster]; only when it fits on the driver.
        # ONE action gates and collects, as in connected_components
        pdf = spark.read.parquet(str(out / "clusters")).limit(CLUSTERS_PICKLE_MAX + 1).toPandas()
        if len(pdf) <= CLUSTERS_PICKLE_MAX:
            import pickle

            mapping = dict(zip(pdf["id"].tolist(), pdf["cluster"].tolist()))
            with open(out / "clusters.pickle", "wb") as f:
                pickle.dump(mapping, f, protocol=pickle.HIGHEST_PROTOCOL)

    summary = {
        "algorithm": algo.algorithm_name,
        "rows_after": written.get["rows"],
        "wall_sec": round(time.time() - t0, 3),
        "output_dir": str(out),
        "stages": runner.manifest_log if runner else [],
    }
    if embedding_candidate_mode is not None:
        # surfaced so callers/tests can assert the scale profile resolved to
        # the LSH candidate plan (never quadratic block pairs)
        summary["embedding_candidate_mode"] = embedding_candidate_mode
    if algo.algorithm_name == "minhash":
        # same contract: tests assert scale resolves to the salted form
        summary["band_edges_mode"] = band_edges_mode
    return summary


def main(argv: list[str] | None = None) -> None:
    import argparse
    import json

    from text_dedup_spark.config import load_config

    p = argparse.ArgumentParser(description="text-dedup-spark pipeline")
    p.add_argument("--config", required=True, help="TOML config path")
    args = p.parse_args(argv)
    summary = run_pipeline(load_config(args.config))
    print(json.dumps(summary, indent=2, default=str))


if __name__ == "__main__":  # pragma: no cover
    main()
