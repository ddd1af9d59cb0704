"""The benchmark workloads and their untraced operation.

An operation is one ``pipeline.run_pipeline`` call, the package's public
batch entry point: read the corpus, dedup it, write the outputs. Each
operation gets fresh output and checkpoint directories, so no operation
resumes or reuses another's work.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from perfbench.labels import label_vector

ROOT = Path(__file__).resolve().parent.parent
CONFIG = ROOT / "configs" / "minhash.toml"  # both workloads' algorithm settings


@dataclass(frozen=True)
class Workload:
    name: str
    corpus: str  # corpus kind, see corpus.corpus_dir
    n_docs: int
    profile: str = "parity"


WORKLOADS = {
    w.name: w
    for w in (
        Workload("web_minhash", "web", 8_000),
        Workload("boilerplate_flood", "flood", 8_000, profile="scale"),
    )
}


def load_settings(wl: Workload, input_dir: Path, out_dir: Path):
    """The workload's config: algorithm settings from ``CONFIG``, input and
    output paths inside ``out_dir``. A checkpoint ``run_dir`` is kept only
    when the config sets one, and then it is fresh."""
    from text_dedup_spark.config import load_config

    cfg = load_config(str(CONFIG))
    cfg.input.input_type = "local_files"
    cfg.input.file_type = "parquet"
    cfg.input.read_arguments = {"path": str(input_dir)}
    cfg.algorithm.index_column = "doc_id"
    cfg.algorithm.profile = wl.profile
    cfg.output.output_dir = str(out_dir / "output")
    cfg.output.save_clusters = True
    if cfg.spark.run_dir:
        cfg.spark.run_dir = str(out_dir / "run")
    return cfg


def read_clusters(output_dir: Path, n_docs: int) -> np.ndarray:
    """Per-doc labels from a pipeline's ``clusters`` output."""
    t = pq.read_table(output_dir / "clusters")
    return label_vector(n_docs, t.column("id").to_numpy(), t.column("cluster").to_numpy())


def run_op(
    spark, wl: Workload, input_dir: Path, out_dir: Path, n_docs: int
) -> tuple[float, float, np.ndarray]:
    """One timed ``run_pipeline`` call; returns (wall seconds, CPU seconds of
    the run's process tree less JIT compilation, per-doc labels)."""
    from perfbench.procs import tree_cpu_s
    from text_dedup_spark.pipeline import run_pipeline

    cfg = load_settings(wl, input_dir, out_dir)
    c0, t0 = tree_cpu_s(), time.perf_counter()
    run_pipeline(cfg, spark)
    wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
    return wall, cpu, read_clusters(Path(cfg.output.output_dir), n_docs)
