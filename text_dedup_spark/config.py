"""TOML-driven pipeline config, mirroring the reference's field names.

Reference: ``src/text_dedup/config/base.py:16-43`` (Config with input/
algorithm/output sections), ``config/io/input_configs.py`` /
``output_configs.py``, algorithm models under ``config/algorithms/``.
Field names and defaults are kept identical so a reference TOML ports by
changing only the input/output sections to Spark sources/sinks.

Uses stdlib ``tomllib`` + dataclasses (pydantic-settings' TOML machinery is
not needed; validation is explicit). Drop-in compatibility: all 8 shipped
reference configs (reference ``configs/*.toml``) parse unmodified — the
reference-only execution knobs (``num_proc``, ``batch_size``,
``google_repo_path``, ``cache_dir``, bloom sizing) are accepted and
recorded, and genuinely unknown fields still raise (typo safety). Verified
by tests/test_config_compat.py against the reference configs verbatim.
"""

from __future__ import annotations

import tomllib
from dataclasses import dataclass, field
from typing import Any


@dataclass
class InputConfig:
    # local_files | table | local_hf_dataset (HF save_to_disk dir)
    input_type: str = "local_files"
    file_type: str = "parquet"  # parquet | csv | json
    read_arguments: dict[str, Any] = field(default_factory=dict)


@dataclass
class OutputConfig:
    output_dir: str = "output"
    skip_filtering: bool = False
    clean_cache: bool = False
    save_clusters: bool = False
    keep_index_column: bool = False
    keep_cluster_column: bool = False
    # optional catalog-table sink (saveAsTable; with an Iceberg catalog
    # configured on the session, "cat.db.name" writes Iceberg) — written IN
    # ADDITION to the output_dir parquet, which stays the summary source
    output_table: str | None = None


@dataclass
class AlgorithmConfig:
    algorithm_name: str = "minhash"  # minhash | simhash | bloom_filter | suffix_array
    text_column: str = "text"
    index_column: str | None = None
    cluster_column: str = "__CLUSTER__"
    seed: int = 42
    # minhash
    num_perm: int = 200
    ngram_size: int = 1
    threshold: float = 0.5
    min_length: int = 5
    hash_bits: int = 64
    hash_func_name: str = "xxh3"
    bands: int | None = None
    rows: int | None = None
    false_positive_weight: float = 0.5
    false_negative_weight: float = 0.5
    check_false_positive: bool = False
    # simhash
    f: int = 64
    bit_diff: int = 3
    num_bucket: int = 4
    jaccard_threshold: float = 0.5
    # suffix array
    merge_strategy: str = "longest"
    length_threshold: int = 100
    # embedding (beyond-reference first-class dedup path; algorithm_name =
    # "embedding" clusters rows of an embedding column by cosine >= the
    # threshold — functions.embedding_dedup). candidate_mode: "auto"
    # (all-pairs at or below all_pairs_gate rows, LSH above), "all_pairs",
    # or "lsh"; profile="scale" pins "auto" -> "lsh" plus the observable
    # max_bucket_size cap, so a scale run never plans quadratic block pairs.
    embedding_column: str = "embedding"
    cosine_threshold: float = 0.95
    candidate_mode: str = "auto"
    all_pairs_gate: int = 200_000
    # --- execution profile ----------------------------------------------
    # The only input that picks a physical form in the MinHash and SimHash
    # operators. "parity" (default): reference-faithful, no skew caps, and
    # the one-exchange window forms (MinHash star edges and both FP-verify
    # contractions). "scale": pins non-None skew guards when unset —
    # max_bucket_size=10000 (SimHash hot-bucket cap) and
    # max_cluster_verify=1000 (FP-verify cluster cap), both observable via
    # Observation metrics — plus the bounded-worst-task forms: salted
    # MinHash star edges (identical-fingerprint contraction when a
    # distinct-ratio probe says it pays, salted groupBy-min + AQE-skew
    # join-back) and the "join" FP-verify contraction in both pipelines.
    profile: str = "parity"
    max_bucket_size: int | None = None
    max_cluster_verify: int | None = None
    # MinHash band-exchange partition count (the pipeline's largest shuffle;
    # size so partitions stay well under ~16 MB of sort input — see
    # operators.minhash.minhash_dedup). None = session shuffle partitions.
    band_partitions: int | None = None
    # --- reference drop-in compatibility fields -------------------------
    # Every shipped reference TOML parses unmodified. These knobs configure
    # the reference's single-node execution and have no Spark meaning (or a
    # strictly-better substitute); they are accepted and recorded so a
    # reference user's config ports by changing only input/output paths.
    num_proc: int | None = None  # process pool size -> Spark executors/tasks
    batch_size: int | None = None  # HF map batch size -> Arrow batch size
    signature_column: str = "__SIGNATURE__"  # declared, unused by pipelines
    max_elements: int | None = None  # bloom sizing; exact dedup needs none
    error_rate: float | None = None  # bloom FP rate; exact dedup has zero
    google_repo_path: str | None = None  # external SA tool; in-house kernel
    cache_dir: str | None = None  # HF cache; Spark checkpoints via run_dir


@dataclass
class SparkConfig:
    master: str | None = None
    shuffle_partitions: int | None = None
    run_dir: str | None = None  # checkpoint/resume root; None disables


@dataclass
class Config:
    input: InputConfig = field(default_factory=InputConfig)
    algorithm: AlgorithmConfig = field(default_factory=AlgorithmConfig)
    output: OutputConfig = field(default_factory=OutputConfig)
    spark: SparkConfig = field(default_factory=SparkConfig)


def _fill(cls, data: dict):
    names = {f.name for f in cls.__dataclass_fields__.values()}  # type: ignore[attr-defined]
    unknown = set(data) - names
    if unknown:
        raise ValueError(f"unknown {cls.__name__} fields: {sorted(unknown)}")
    return cls(**data)


def load_config(path: str) -> Config:
    with open(path, "rb") as f:
        raw = tomllib.load(f)
    raw.pop("debug", None)  # reference-only section
    cfg = Config(
        input=_fill(InputConfig, raw.get("input", {})),
        algorithm=_fill(AlgorithmConfig, raw.get("algorithm", {})),
        output=_fill(OutputConfig, raw.get("output", {})),
        spark=_fill(SparkConfig, raw.get("spark", {})),
    )
    # value validation (a typo like profile="Scale" silently running with
    # all skew guards off would defeat the profile's purpose)
    if cfg.algorithm.profile not in ("parity", "scale"):
        raise ValueError(
            f"algorithm.profile must be 'parity' or 'scale', got {cfg.algorithm.profile!r}"
        )
    if cfg.algorithm.candidate_mode not in ("auto", "all_pairs", "lsh"):
        raise ValueError(
            "algorithm.candidate_mode must be 'auto', 'all_pairs' or 'lsh', "
            f"got {cfg.algorithm.candidate_mode!r}"
        )
    return cfg
