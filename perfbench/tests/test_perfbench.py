"""Tests of the benchmark's own code, on a tiny corpus.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import os
import shutil
import sys
from dataclasses import replace
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench.labels import digest, label_vector, pair_scores  # noqa: E402


def _brute_force(pred, truth) -> tuple[float, float]:
    pairs = list(itertools.combinations(range(len(pred)), 2))
    predicted = {p for p in pairs if pred[p[0]] == pred[p[1]]}
    true = {p for p in pairs if truth[p[0]] == truth[p[1]]}
    hit = len(predicted & true)
    return hit / len(true), hit / len(predicted)


def test_pair_scores_hand_count():
    # predicted pairs (0,1) (0,2) (1,2) (3,4); true pairs (0,1) (2,3)
    pred = np.array([0, 0, 0, 3, 3, 5])
    truth = np.array([0, 0, 2, 2, 4, 5])
    assert pair_scores(pred, truth) == (1 / 2, 1 / 4)


@pytest.mark.parametrize("seed", range(5))
def test_pair_scores_match_all_pairs_enumeration(seed):
    rng = np.random.default_rng(seed)
    pred = rng.integers(0, 6, size=40)
    truth = rng.integers(0, 6, size=40)
    assert pair_scores(pred, truth) == pytest.approx(_brute_force(pred, truth), abs=0, rel=1e-12)


def test_label_vector_ignores_row_order():
    a = label_vector(6, [4, 1, 2], [1, 1, 1])
    b = label_vector(6, [2, 4, 1], [1, 1, 1])
    assert digest(a) == digest(b)
    assert a.tolist() == [0, 1, 1, 3, 1, 5]


@pytest.fixture(scope="module")
def tiny_run():
    """Two untraced operations and one traced operation on a 400-doc web
    corpus, in one session that writes an event log; the JVM is stopped after it."""
    from perfbench import run as R
    from perfbench.procs import stop_jvm

    R._prepare_env()
    from perfbench.corpus import corpus_dir
    from perfbench.trace import Spans, event_log, event_log_conf, traced_minhash
    from perfbench.workloads import WORKLOADS, load_settings, read_clusters, run_op

    wl = replace(WORKLOADS["web_minhash"], n_docs=400)
    cdir = corpus_dir(R.WORK, wl.corpus, wl.n_docs, 7)
    docs, n = cdir / "docs", len(np.load(cdir / "truth.npy"))
    work = R.WORK / "ops" / f"test-{os.getpid()}"
    spark = R.start_session(docs, R.spark_conf(event_log_conf(work / "eventlog")))
    try:
        spans = Spans(spark.sparkContext)
        digests = [digest(run_op(spark, wl, docs, work / f"op{k}", n)[2]) for k in range(2)]
        cfg = load_settings(wl, docs, work / "traced")
        traced_minhash(spark, spans, cfg)
        digests.append(digest(read_clusters(Path(cfg.output.output_dir), n)))
    finally:
        stop_jvm()
    yield spans.spans, event_log(work / "eventlog"), digests
    shutil.rmtree(work, ignore_errors=True)


def test_label_digest_stable_across_runs(tiny_run):
    _, _, digests = tiny_run
    assert len(set(digests)) == 1


def test_every_task_lands_in_exactly_one_span(tiny_run):
    from perfbench.trace import AUX, LAYERS, fold, read_event_log

    spans, log, _ = tiny_run
    tasks, _, _ = read_event_log(log)
    with open(log) as f:
        n_tasks = sum('"Event":"SparkListenerTaskEnd"' in line for line in f)
    # every task is attributed to one group, none twice
    assert sum(len(v) for v in tasks.values()) == n_tasks
    groups = {s["group"] for s in spans}
    assert [s["layer"] for s in spans] == list(LAYERS)
    assert len(groups) == len(spans)
    # the only tasks outside a span are set-up jobs and untraced operations
    assert set(tasks) <= groups | {AUX, None}
    assert all(tasks.get(g) for g in groups)
    assert fold(spans, log)["spark.tasks"] == sum(len(tasks[g]) for g in groups)


def test_no_process_outlives_the_session(tiny_run):
    from perfbench.procs import descendants

    assert descendants(os.getpid()) == []


def test_tree_cpu_counts_reaped_children():
    import subprocess

    from perfbench.procs import tree_cpu_s

    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    c0 = tree_cpu_s()
    subprocess.run([sys.executable, "-c", spin], check=True, timeout=60)
    assert tree_cpu_s() - c0 >= 0.45
