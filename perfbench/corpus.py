"""Seeded benchmark corpora, written once per (kind, size, seed) as parquet.

Each corpus directory holds ``docs/part-*.parquet`` with ``(doc_id, text)``
and ``truth.npy``, the planted cluster label of every doc (indexed by
``doc_id``). The same seed always gives byte-identical files, so a corpus
found on disk is reused and generating it is never part of a timed region.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 8


def _web(n_docs: int, seed: int) -> tuple[list[str], np.ndarray]:
    from text_dedup_spark.sources.web_pages import make_web_pages

    corpus = make_web_pages(n_docs=n_docs, seed=seed)
    labels = corpus.truth["cluster_label"].to_numpy(np.int64)
    return list(corpus.pages["text"]), labels


def _flood(n_docs: int, seed: int) -> tuple[list[str], np.ndarray]:
    """A web base of a fifth of the docs, then boilerplate: copies of a few
    12-token stubs, 30% of them near-miss variants (the stub plus 1-3
    unique tokens). Copies and variants of one stub form one planted
    cluster. Stub docs are shuffled into the base in a seeded order, so
    every input split holds hot bands. Labels only need to be equal within
    a cluster: base labels are base positions, stub ``s`` takes
    ``n_base + s``."""
    n_base = n_docs // 5
    n_stub_docs = n_docs - n_base
    texts, labels = _web(n_base, seed)
    rng = np.random.RandomState(seed + 1)
    n_stubs = 8
    stubs = [
        " ".join(f"boiler{s}w{w}" for w in rng.randint(0, 50, size=12))
        for s in range(n_stubs)
    ]
    stub_of = rng.randint(0, n_stubs, size=n_stub_docs)
    near_miss = rng.rand(n_stub_docs) < 0.3
    for i in range(n_stub_docs):
        t = stubs[stub_of[i]]
        if near_miss[i]:
            t += "".join(f" v{seed}x{i}t{k}" for k in range(1 + i % 3))
        texts.append(t)
    labels = np.concatenate([labels, n_base + stub_of])
    order = rng.permutation(len(texts))
    return [texts[j] for j in order], labels[order]


def corpus_dir(work: Path, kind: str, n_docs: int, seed: int) -> Path:
    """Directory of the (kind, n_docs, seed) corpus, generated on first use.
    ``kind`` is ``web`` or ``flood``."""
    out = work / "corpus" / f"{kind}-{n_docs}-{seed}"
    if (out / "truth.npy").exists():
        return out
    if kind == "web":
        texts, labels = _web(n_docs, seed)
    elif kind == "flood":
        texts, labels = _flood(n_docs, seed)
    else:
        raise ValueError(f"unknown corpus kind {kind!r}")
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "docs").mkdir(parents=True)
    table = pa.table(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}
    )
    per = -(-len(texts) // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * per, per), tmp / "docs" / f"part-{i:02d}.parquet")
    np.save(tmp / "truth.npy", labels)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out
