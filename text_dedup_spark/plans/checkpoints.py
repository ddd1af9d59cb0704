"""Checkpoint-resumable stage runner with per-partition lineage + metrics.

SURVEY.md §7.8: each pipeline stage writes a parquet table
``{run_dir}/{stage}/data`` plus a manifest json (stage name, config hash,
row count, partition count, partition skew, wall time); a re-run with the
same config hash skips the stage and reads the checkpoint — crash-
resumability for multi-hour 100 TB jobs. (Iceberg would slot in as the
table format where its runtime jar is on the classpath; plain parquet keeps
this container-portable — the runner's contract is format-agnostic.)

Lineage: every checkpointed stage writes a ``{stage}/lineage`` sidecar of
``(partition_id, rows)`` per checkpoint partition, so skew and partition
health are observable per stage. It costs no extra job: the one
``spark_partition_id()`` count that gives the manifest's row count and skew
is collected once and the sidecar is written from it on the driver.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def config_hash(obj) -> str:
    """Stable hash of any json-serializable config (dataclasses supported)."""
    try:
        from dataclasses import asdict, is_dataclass

        if is_dataclass(obj):
            obj = asdict(obj)
    except Exception:
        pass

    def default(o):
        import numpy as np

        if isinstance(o, np.ndarray):
            return o.tolist()
        if isinstance(o, (np.integer, np.floating)):
            return o.item()
        if isinstance(o, type):
            return o.__name__
        return str(o)

    payload = json.dumps(obj, sort_keys=True, default=default)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


@dataclass
class StageRunner:
    spark: SparkSession
    run_dir: str
    manifest_log: list[dict] = field(default_factory=list)

    def _paths(self, stage: str) -> tuple[Path, Path, Path]:
        base = Path(self.run_dir) / stage
        return base, base / "data", base / "manifest.json"

    def stage(
        self,
        name: str,
        cfg,
        build: Callable[[], DataFrame],
    ) -> DataFrame:
        """Run (or resume) a stage. ``build`` produces the stage output
        DataFrame; it is only invoked when no valid checkpoint exists.

        A fresh stage costs two actions: the checkpoint write and one
        per-partition row count over the read-back, whose sum is the
        manifest's ``rows`` and whose max/mean is its ``partition_skew``."""
        base, data_path, manifest_path = self._paths(name)
        chash = config_hash(cfg)
        if manifest_path.exists():
            manifest = json.loads(manifest_path.read_text())
            if manifest.get("config_hash") == chash:
                self.manifest_log.append({**manifest, "resumed": True})
                return self.spark.read.parquet(str(data_path))
        t0 = time.time()
        df = build()
        df.write.mode("overwrite").parquet(str(data_path))
        out = self.spark.read.parquet(str(data_path))
        parts = sorted(
            tuple(r) for r in out.groupBy(F.spark_partition_id()).count().collect()
        )
        n_rows = sum(n for _, n in parts)
        manifest = {
            "stage": name,
            "config_hash": chash,
            "rows": n_rows,
            "partitions": out.rdd.getNumPartitions(),
            "wall_sec": round(time.time() - t0, 3),
            "resumed": False,
            # max / mean over the partitions that hold rows
            "partition_skew": (
                round(max(n for _, n in parts) * len(parts) / n_rows, 3) if n_rows else 1.0
            ),
        }
        _write_lineage(base / "lineage", parts)
        manifest_path.write_text(json.dumps(manifest, indent=2))
        self.manifest_log.append(manifest)
        return out


def _write_lineage(path: Path, parts: list[tuple[int, int]]) -> None:
    """The ``(partition_id, rows)`` sidecar as a one-file parquet table,
    written on the driver (readable with ``spark.read.parquet(path)``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    table = pa.table(
        {
            "partition_id": pa.array([p for p, _ in parts], pa.int32()),
            "rows": pa.array([n for _, n in parts], pa.int64()),
        }
    )
    pq.write_table(table, path / "part-00000.parquet")
