"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload web_minhash --seed 1 --seconds 10 --trace 0

Run from the repository root. Corpora, Spark local directories and outputs
live under ``.perfbench_work/`` there. With ``--trace 0`` the run sets up
the Spark session three times, runs the workload's operation once to warm
up, then repeats it until ``MIN_OPS`` ran and ``--seconds`` are spent, and
reports the end-to-end metrics. With ``--trace 1`` it runs the operation
untraced and layer by layer (see ``perfbench/trace.py``) and reports the
per-layer metrics. The last line of stdout is ``{"correct", "attempted",
"failed", "metrics"}``; ``perfbench/NOTES.md`` defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
N_SETUPS = 3
WARMUP_OPS = 1
MIN_OPS = 2


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package from it."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.path.insert(0, str(ROOT))


def spark_conf(extra: dict[str, str] | None = None) -> dict[str, str]:
    """Session settings on top of ``session.DEFAULT_CONF``. The heap is
    fixed and pre-touched: G1's heap growth otherwise moved the JVM's
    resident size by up to 30% between identical runs. JIT compiler
    threads are kept for the JVM's life, so ``procs.tree_cpu_s`` can take
    their time out."""
    return {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads"
            f" -Djava.io.tmpdir={WORK / 'tmp'}"
        ),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        **(extra or {}),
    }


def start_session(input_dir: Path, conf: dict[str, str]):
    """Session start, Python worker warm-up and input load: the set-up a
    user pays before the first dedup call."""
    from text_dedup_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", master=f"local[{cores}]", conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(2 * cores).repartition(2 * cores).mapInPandas(
        lambda it: it, "id long"
    ).count()
    spark.read.parquet(str(input_dir)).count()
    return spark


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_stamp(before: list[int]) -> dict:
    """Steal share of all CPU time since ``before`` and the single-thread
    calibration probe, so runs on a contended host can be told apart."""
    from tools.hostcal import cpu_calib_sec

    d = [a - b for a, b in zip(_cpu_jiffies(), before)]
    return {
        "steal_pct": round(100 * d[7] / (sum(d) or 1), 2),
        "cpu_calib_sec": cpu_calib_sec(),
    }


class Checker:
    """Holds every operation's label digest to the pinned one for this
    (workload, seed), or to the run's first digest when none is pinned."""

    def __init__(self, workload: str, seed: int):
        pins = json.loads((Path(__file__).parent / "pinned.json").read_text())
        self.expected = pins.get(workload, {}).get(str(seed), {}).get("digest")

    def ok(self, got: str) -> bool:
        if self.expected is None:
            self.expected = got
        return got == self.expected


def measure(spark, wl, input_dir: Path, truth, seconds: float, seed: int) -> dict:
    """``WARMUP_OPS`` untimed operations (plan compilation, JIT), then timed
    operations until at least ``MIN_OPS`` ran and ``seconds`` are spent.
    Every operation's labels are checked; any failure withholds the run's
    metrics. Pair scores and peak memory are read after the first
    operation, so they do not depend on how many operations fit in the run."""
    from perfbench.labels import digest, pair_scores
    from perfbench.workloads import run_op

    checker = Checker(wl.name, seed)
    n = len(truth)
    attempted = failed = 0
    walls, cpus, scores, rss = [], [], None, None
    t_start = None
    while t_start is None or len(walls) < MIN_OPS or time.perf_counter() - t_start < seconds:
        op_dir = WORK / "ops" / f"{os.getpid()}-{attempted}"
        attempted += 1
        try:
            wall, cpu, pred = run_op(spark, wl, input_dir, op_dir, n)
        except Exception:
            traceback.print_exc()
            failed += 1
            break
        got = digest(pred)
        if not checker.ok(got):
            print(f"label digest {got} != {checker.expected}", file=sys.stderr)
            failed += 1
            break
        if attempted == 1:
            scores = pair_scores(pred, truth)
            rss = peak_rss_mb(spark)
        if attempted > WARMUP_OPS:
            walls.append(wall)
            cpus.append(cpu)
        spark.catalog.clearCache()
        shutil.rmtree(op_dir, ignore_errors=True)
        if attempted == WARMUP_OPS:
            t_start = time.perf_counter()
    metrics = {}
    if not failed:
        metrics = {
            "docs_per_cpu_s": (statistics.median([n / c for c in cpus]), "1/s"),
            "peak_rss_mb": (rss, "MB"),
            "pair_recall": (scores[0], "ratio"),
            "pair_precision": (scores[1], "ratio"),
        }
    return {"attempted": attempted, "failed": failed, "metrics": metrics,
            "walls": walls, "cpus": cpus, "digest": checker.expected,
            "wall_docs_per_s": statistics.median([n / w for w in walls]) if walls else None}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_main = time.perf_counter()

    if not (ROOT / "text_dedup_spark").is_dir() or not (ROOT / "configs").is_dir():
        print(f"no text_dedup_spark package and configs/ under {ROOT}", file=sys.stderr)
        return 2
    _prepare_env()
    import numpy as np

    from perfbench.corpus import corpus_dir
    from perfbench.procs import stop_jvm
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cdir = corpus_dir(WORK, wl.corpus, wl.n_docs, args.seed)
    input_dir, truth = cdir / "docs", np.load(cdir / "truth.npy")
    jiffies = _cpu_jiffies()

    # a SIGTERM unwinds through the finally below, so the JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.trace:
            from perfbench.trace import traced_run

            out = traced_run(wl, input_dir, truth, args.seed, WORK)
        else:
            setups, spark = [], None
            for _ in range(N_SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = start_session(input_dir, spark_conf())
                setups.append(time.perf_counter() - t0)
            out = measure(spark, wl, input_dir, truth, args.seconds, args.seed)
            if out["metrics"]:
                out["metrics"]["setup_s"] = (statistics.median(setups), "s")
            out["setups"] = setups
    finally:
        stop_jvm()
    out["host"] = host_stamp(jiffies)
    out["run_s"] = time.perf_counter() - t_main
    result = {
        "correct": out["failed"] == 0 and bool(out["metrics"]),
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.pop("metrics").items()},
    }
    print(json.dumps({k: v for k, v in out.items() if k not in ("attempted", "failed")}),
          file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
