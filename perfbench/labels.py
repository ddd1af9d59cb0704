"""Output checks: an order-insensitive label digest and pair recall and
precision against the planted truth, both O(n) over per-doc label arrays."""

from __future__ import annotations

import hashlib

import numpy as np


def label_vector(n_docs: int, ids, clusters) -> np.ndarray:
    """Cluster label per doc id in ``0..n_docs-1``: ``clusters[k]`` for doc
    ``ids[k]``, and the doc's own id for every doc not listed (a singleton).
    Built by position, so the order of the output rows does not matter."""
    out = np.arange(n_docs, dtype=np.int64)
    out[np.asarray(ids, dtype=np.int64)] = np.asarray(clusters, dtype=np.int64)
    return out


def digest(*vectors: np.ndarray) -> str:
    """sha256 of the label vectors, first 16 hex digits."""
    h = hashlib.sha256()
    for v in vectors:
        h.update(np.ascontiguousarray(v, dtype="<i8").tobytes())
    return h.hexdigest()[:16]


def _pairs(counts: np.ndarray) -> int:
    c = counts.astype(np.int64)
    return int((c * (c - 1) // 2).sum())


def pair_scores(pred: np.ndarray, truth: np.ndarray) -> tuple[float, float]:
    """(recall, precision) over doc pairs: a pair is predicted when both docs
    share a predicted label, and true when they share a planted label. The
    true-positive count comes from the (pred, truth) contingency table."""
    _, pred_n = np.unique(pred, return_counts=True)
    _, truth_n = np.unique(truth, return_counts=True)
    joint = np.stack([np.asarray(pred, np.int64), np.asarray(truth, np.int64)], axis=1)
    _, joint_n = np.unique(joint, axis=0, return_counts=True)
    tp = _pairs(joint_n)
    n_true, n_pred = _pairs(truth_n), _pairs(pred_n)
    recall = tp / n_true if n_true else 1.0
    precision = tp / n_pred if n_pred else 1.0
    return recall, precision
