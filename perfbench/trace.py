"""Traced run: per-layer metrics from job-group spans and Spark's event log.

The traced operation calls each layer of the MinHash pipeline from outside,
in the order ``operators.minhash.minhash_dedup`` runs them, and wraps each
call in a span: a Spark job group named after the layer, plus a wall-clock
timer. Each layer's output is persisted and counted inside its span, so the
layer's Spark jobs run there and nowhere else. Jobs outside any span (the
untraced operations, the ratio counts) run in the ``perfbench.aux`` group.

Task, shuffle and spill figures come from the uncompressed event log the
traced session writes: ``SparkListenerStageSubmitted`` carries each stage's
job group, and every ``SparkListenerTaskEnd`` is folded into the layer of
its stage. The kernel timings are single-threaded and in-process, on the
first ``KERNEL_SAMPLE`` docs of the corpus.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

LAYERS = ("fingerprint", "band_edges", "cc", "assign", "write")
LAYER_STATS = {
    "wall_s": "s",
    "task_s": "s",
    "cpu_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "max_task_s": "s",
    "median_task_s": "s",
    "rows_out": "count",
}
AUX = "perfbench.aux"
KERNEL_SAMPLE = 2000
CC_DRIVER_THRESHOLD = 5_000_000  # connected_components' default gate
MB = 1 << 20


def event_log_conf(logs: Path) -> dict[str, str]:
    """Session settings for one uncompressed, unrolled event log in ``logs``."""
    logs.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(logs),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def event_log(logs: Path) -> Path:
    """The finished event log of the one session that wrote to ``logs``."""
    (log,) = [p for p in logs.iterdir() if p.is_file() and not p.name.startswith(".")]
    return log


class Spans:
    """Job-group spans around layer calls, kept in memory until the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        sc.setJobGroup(AUX, "aux")

    @contextmanager
    def span(self, layer: str):
        rec = {"layer": layer, "group": f"perfbench.{len(self.spans)}.{layer}", "rows": 0}
        self.sc.setJobGroup(rec["group"], layer)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self.sc.setJobGroup(AUX, "aux")
            self.spans.append(rec)


def read_event_log(path: Path) -> tuple[dict[str, list[dict]], dict[str, int], dict[str, int]]:
    """Tasks, jobs and stages per job group, from one uncompressed event log.
    A task belongs to the group of the stage attempt that ran it."""
    stage_group: dict[tuple[int, int], str | None] = {}
    tasks: dict[str, list[dict]] = {}
    jobs: dict[str, int] = {}
    stages: dict[str, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
                stages[group] = stages.get(group, 0) + 1
            elif kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[group] = jobs.get(group, 0) + 1
            elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                group = stage_group[(ev["Stage ID"], ev["Stage Attempt ID"])]
                tasks.setdefault(group, []).append(ev["Task Metrics"])
    return tasks, jobs, stages


def layer_stats(spans: list[dict], tasks: list[dict]) -> dict[str, float]:
    run_s = [t["Executor Run Time"] / 1000 for t in tasks]
    read = sum(
        t["Shuffle Read Metrics"]["Remote Bytes Read"] + t["Shuffle Read Metrics"]["Local Bytes Read"]
        for t in tasks
    )
    return {
        "wall_s": sum(s["wall_s"] for s in spans),
        "task_s": sum(run_s),
        "cpu_s": sum(t["Executor CPU Time"] for t in tasks) / 1e9,
        "shuffle_read_mb": read / MB,
        "shuffle_write_mb": sum(t["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tasks) / MB,
        "spill_mb": sum(t["Disk Bytes Spilled"] for t in tasks) / MB,
        "max_task_s": max(run_s, default=0.0),
        "median_task_s": statistics.median(run_s) if run_s else 0.0,
        "rows_out": sum(s["rows"] for s in spans),
    }


def fold(spans: list[dict], log: Path) -> dict[str, float]:
    """Per-layer ``<layer>.<stat>`` metrics plus Spark job, stage and task
    counts over all spans."""
    tasks, jobs, stages = read_event_log(log)
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        groups = {s["group"] for s in mine}
        layer_tasks = [t for g in groups for t in tasks.get(g, [])]
        for stat, value in layer_stats(mine, layer_tasks).items():
            out[f"{layer}.{stat}"] = value
    groups = {s["group"] for s in spans}
    out["spark.jobs"] = sum(jobs.get(g, 0) for g in groups)
    out["spark.stages"] = sum(stages.get(g, 0) for g in groups)
    out["spark.tasks"] = sum(len(tasks.get(g, [])) for g in groups)
    return out


def python_udf_nodes(df) -> int:
    """Python UDF evaluation nodes in the physical plan of ``df``."""
    return df._jdf.queryExecution().executedPlan().toString().count("ArrowEvalPython")


def minhash_kernel(algo):
    """The MinHash kernel ``run_pipeline`` builds from the same settings."""
    from text_dedup_spark.kernels.minhash_kernel import MinHashKernel

    return MinHashKernel(
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


def traced_minhash(spark, spans: Spans, cfg) -> dict[str, float]:
    """The MinHash pipeline layer by layer, as ``minhash_dedup`` composes
    it under ``cfg``'s profile, then the outputs ``run_pipeline`` writes.
    Returns the ratio and count metrics measured along the way."""
    from pyspark.sql import functions as F

    from text_dedup_spark.operators.connected_components import connected_components
    from text_dedup_spark.operators.ids import CLUSTER_COL, DUPLICATE_COL, INDEX_COL
    from text_dedup_spark.operators.minhash import (
        _bands_udf,
        _explode_bands,
        assign_clusters,
        contract_identical_fingerprints,
        lsh_star_edges,
        lsh_star_edges_salted,
    )

    algo = cfg.algorithm
    kernel = minhash_kernel(algo)
    text = algo.text_column
    docs = spark.read.parquet(cfg.input.read_arguments["path"]).withColumn(
        INDEX_COL, F.col(algo.index_column).cast("long")
    )
    counts: dict[str, float] = {}

    with spans.span("fingerprint") as s:
        bands = (
            docs.select(INDEX_COL, text)
            .withColumn("__BANDS__", _bands_udf(kernel)(F.col(text)))
            .select(INDEX_COL, "__BANDS__")
        )
        udf_nodes = python_udf_nodes(bands)
        if udf_nodes != 1:
            raise RuntimeError(f"fingerprint plan evaluates the bands UDF {udf_nodes} times")
        with_bands = bands.persist()
        s["rows"] = with_bands.count()
    filtered = with_bands.where(F.col("__BANDS__").isNotNull())

    with spans.span("band_edges") as s:
        if algo.profile == "scale":
            # the salted form with minhash_dedup's "auto" contraction gate
            probe = filtered.select(
                F.count(F.lit(1)).alias("n"),
                F.approx_count_distinct(F.xxhash64("__BANDS__"), rsd=0.02).alias("nd"),
            ).first()
            if probe["nd"] < 0.85 * probe["n"]:
                reps, contraction = contract_identical_fingerprints(filtered)
                edges = lsh_star_edges_salted(_explode_bands(reps, kernel)).unionByName(contraction)
            else:
                edges = lsh_star_edges_salted(_explode_bands(filtered, kernel))
        else:
            edges = lsh_star_edges(_explode_bands(filtered, kernel))
        edges = edges.persist()
        s["rows"] = edges.count()
    counts["cc.edges_in"] = s["rows"]

    with spans.span("cc") as s:
        mapping = connected_components(edges, driver_threshold=CC_DRIVER_THRESHOLD).persist()
        s["rows"] = mapping.count()

    with spans.span("assign") as s:
        survivors = docs.join(filtered.select(INDEX_COL), INDEX_COL)
        assigned = assign_clusters(survivors, mapping).persist()
        s["rows"] = assigned.count()

    out = Path(cfg.output.output_dir)
    with spans.span("write") as s:
        assigned.where(F.col(CLUSTER_COL) == F.col(INDEX_COL)).drop(DUPLICATE_COL).write.mode(
            "overwrite"
        ).parquet(str(out / "data"))
        assigned.where(F.col(DUPLICATE_COL)).select(
            F.col(INDEX_COL).alias("id"), F.col(CLUSTER_COL).alias("cluster")
        ).write.mode("overwrite").parquet(str(out / "clusters"))
        s["rows"] = spark.read.parquet(str(out / "data")).count()

    distinct_edges = edges.where(F.col("src") != F.col("dst")).distinct().count()
    fp = filtered.select(F.count(F.lit(1)), F.countDistinct(F.xxhash64("__BANDS__"))).first()
    counts["cc.distinct_edges"] = distinct_edges
    counts["cc.driver_route"] = float(distinct_edges <= CC_DRIVER_THRESHOLD)
    counts["band_edges.distinct_fp_ratio"] = fp[1] / fp[0]
    for df in (with_bands, edges, mapping, assigned):
        df.unpersist()
    return counts


def kernel_metrics(input_dir: Path, cfg) -> dict[str, float]:
    """Single-thread kernel timings (median of three passes) on the first
    ``KERNEL_SAMPLE`` docs: tokenize, shingle, MinHash band keys as the
    fingerprint UDF computes them, and the SimHash embed."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from text_dedup_spark.config import load_config
    from text_dedup_spark.kernels.simhash_kernel import SimHashKernel
    from text_dedup_spark.kernels.tokenization import shingle_bytes, tokenize
    from perfbench.workloads import ROOT

    table = pq.read_table(input_dir)
    table = table.filter(pc.less(table["doc_id"], KERNEL_SAMPLE))
    sample = table.column("text").to_pylist()
    algo = cfg.algorithm
    mk = minhash_kernel(algo)
    sim = load_config(str(ROOT / "configs" / "simhash.toml")).algorithm
    sk = SimHashKernel(
        f=sim.f, bit_diff=sim.bit_diff, num_bucket=sim.num_bucket,
        ngram_size=sim.ngram_size, min_length=sim.min_length, seed=sim.seed,
    )

    def timed(fn):
        times, out = [], None
        for _ in range(3):
            t0 = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t0)
        return statistics.median(times), out

    tok_s, tokens = timed(lambda: [tokenize(t) for t in sample])
    sh_s, sets = timed(lambda: [shingle_bytes(t, algo.ngram_size, algo.min_length) for t in tokens])
    kept = [s for t, s in zip(tokens, sets) if len(t) >= algo.min_length]
    mh_s, _ = timed(lambda: mk.embed_batch_bandhash(kept))
    sim_s, _ = timed(lambda: sk.embed_batch(sample))
    return {
        "kernels.tokenize_s": tok_s,
        "kernels.shingle_s": sh_s,
        "kernels.minhash_embed_s": mh_s,
        "kernels.simhash_embed_s": sim_s,
        "kernels.shingles": sum(len(s) for s in sets),
    }


def traced_run(wl, input_dir: Path, truth, seed: int, work: Path) -> dict:
    """Untraced warm-up operation, the traced operation, then an untraced
    operation to compare against; returns the per-layer metrics."""
    from perfbench.labels import digest
    from perfbench.run import Checker, spark_conf, start_session
    from perfbench.workloads import load_settings, read_clusters, run_op

    base = work / "ops" / f"{os.getpid()}-trace"
    logs = base / "eventlog"
    checker = Checker(wl.name, seed)
    n = len(truth)
    spark = start_session(input_dir, spark_conf(event_log_conf(logs)))
    try:
        spans = Spans(spark.sparkContext)
        _, _, pred = run_op(spark, wl, input_dir, base / "warm", n)
        ok = [checker.ok(digest(pred))]
        spark.catalog.clearCache()
        cfg = load_settings(wl, input_dir, base / "traced")
        counts = traced_minhash(spark, spans, cfg)
        ok.append(checker.ok(digest(read_clusters(Path(cfg.output.output_dir), n))))
        spark.catalog.clearCache()
        untraced, _, pred = run_op(spark, wl, input_dir, base / "untraced", n)
        ok.append(checker.ok(digest(pred)))
        kernels = kernel_metrics(input_dir, cfg)
    finally:
        spark.stop()
    metrics = {**fold(spans.spans, event_log(logs)), **counts, **kernels}
    metrics["tracing_overhead_s"] = sum(s["wall_s"] for s in spans.spans) - untraced
    shutil.rmtree(base, ignore_errors=True)
    failed = ok.count(False)
    return {
        "attempted": len(ok),
        "failed": failed,
        "metrics": {} if failed else {k: (v, unit_of(k)) for k, v in metrics.items()},
        "spans": [(s["layer"], round(s["wall_s"], 3)) for s in spans.spans],
    }


def unit_of(name: str) -> str:
    stat = name.rsplit(".", 1)[-1]
    if stat in LAYER_STATS:
        return LAYER_STATS[stat]
    if name.endswith("_s"):
        return "s"
    return "ratio" if name.endswith(("_ratio", "_route")) else "count"
