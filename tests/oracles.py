"""Single-node oracles with exact reference semantics, built from the kernel
library. The Spark pipelines are parity-tested against these (SURVEY.md §5b):
the kernels are golden-tested against the reference, and these oracles
compose them exactly as ``src/text_dedup/minhash.py`` / ``simhash.py`` do,
so Spark-vs-oracle equality evidences Spark-vs-reference equality."""

from __future__ import annotations

from collections import defaultdict

from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
from text_dedup_spark.kernels.simhash_kernel import SimHashKernel, hamming_distance
from text_dedup_spark.kernels.tokenization import tokenize


def jaccard_similarity(doc1: set, doc2: set) -> float:
    """|A∩B| / |A∪B|; empty union -> 1.0 (reference edge case,
    ``src/text_dedup/utils/jaccard.py:9-30``)."""
    if (union_size := len(doc1 | doc2)) == 0:
        return 1.0
    return len(doc1 & doc2) / union_size


class UnionFind:
    """Driver-local union-find, the oracle for distributed CC: reference
    ``src/text_dedup/utils/union_find.py:6-81`` semantics (path
    compression + union by rank)."""

    def __init__(self) -> None:
        self.parent: dict[int, int] = {}
        self.rank: dict[int, int] = {}

    def find(self, x: int) -> int:
        if x not in self.parent:
            self.parent[x] = x
            self.rank[x] = 0
            return x
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, x: int, y: int) -> None:
        px, py = self.find(x), self.find(y)
        if px == py:
            return
        if self.rank[px] < self.rank[py]:
            px, py = py, px
        self.parent[py] = px
        if self.rank[px] == self.rank[py]:
            self.rank[px] += 1

    def get_clusters(self) -> dict[int, int]:
        """id -> min-id of its component (normalized labels, SURVEY.md §7.3)."""
        roots: dict[int, int] = {}
        for x in list(self.parent):
            r = self.find(x)
            roots[r] = min(roots.get(r, r), x)
        return {x: roots[self.find(x)] for x in self.parent}


def minhash_oracle(
    texts: list[str], kernel: MinHashKernel, check_false_positive: bool = False
) -> tuple[dict[int, int], list[int]]:
    """Returns (parents map incl. roots with min-id labels, kept ids).

    Mirrors reference minhash.py: filter -> embed -> band buckets -> pair
    graph closure -> min-id clusters -> optional FP re-check grouped by OLD
    cluster -> keep cluster == idx.
    """
    kept_ids = [i for i, t in enumerate(texts) if len(tokenize(t)) >= kernel.min_length]
    buckets: dict[tuple[int, bytes], list[int]] = defaultdict(list)
    embedded = kernel.embed_batch([texts[i] for i in kept_ids])
    for i, bands in zip(kept_ids, embedded, strict=True):
        for bi, bv in enumerate(bands):
            buckets[(bi, bv)].append(i)
    uf = UnionFind()
    for members in buckets.values():
        if len(members) > 1:
            for m in members[1:]:
                uf.union(members[0], m)
    parents = uf.get_clusters()  # min-id labels, includes roots

    if check_false_positive:
        by_cluster: dict[int, list[int]] = defaultdict(list)
        for idx, c in parents.items():
            by_cluster[c].append(idx)
        shingle_cache = {i: kernel.shingles(texts[i]) for i in parents}
        new_parents: dict[int, int] = {}
        for c, members in by_cluster.items():
            members = sorted(members)
            verified: set[int] = set()
            for a_i in range(len(members)):
                for b_i in range(a_i + 1, len(members)):
                    a, b = members[a_i], members[b_i]
                    if (
                        jaccard_similarity(shingle_cache[a], shingle_cache[b])
                        >= kernel.threshold
                    ):
                        verified.add(a)
                        verified.add(b)
            if verified:
                m = min(verified)
                for v in verified:
                    new_parents[v] = m
        parents = new_parents

    final_kept = [i for i in kept_ids if parents.get(i, i) == i]
    return parents, final_kept


def simhash_oracle(
    texts: list[str],
    kernel: SimHashKernel,
    check_false_positive: bool = False,
    jaccard_threshold: float = 0.5,
) -> tuple[dict[int, int], list[int]]:
    """Mirrors reference simhash.py: embed -> bucket all-pairs Hamming ->
    UF -> optional fresh-UF Jaccard verify -> keep NOT initially-duplicate."""
    buckets: dict[tuple[bytes, bytes], list[tuple[int, int]]] = defaultdict(list)
    sigs: dict[int, int] = {}
    for i, t in enumerate(texts):
        sig_bytes, keys = kernel.embed(t)
        sig = int.from_bytes(sig_bytes, "big")
        sigs[i] = sig
        for key in keys:
            buckets[key].append((i, sig))
    uf = UnionFind()
    for members in buckets.values():
        for a_i in range(len(members)):
            for b_i in range(a_i + 1, len(members)):
                (ia, sa), (ib, sb) = members[a_i], members[b_i]
                if ia == ib:
                    # same doc can land twice in one bucket when two
                    # permutation tables emit identical (mask, val) keys;
                    # the reference skips self-comparisons (simhash.py:62-63)
                    continue
                if hamming_distance(sa, sb) <= kernel.bit_diff:
                    uf.union(ia, ib)
    parents = uf.get_clusters()
    initially_duplicate = set(parents)

    if check_false_positive:
        by_cluster: dict[int, list[int]] = defaultdict(list)
        for idx, c in parents.items():
            by_cluster[c].append(idx)
        shingle_cache = {i: kernel.shingles(texts[i]) for i in parents}
        uf2 = UnionFind()
        for _, members in by_cluster.items():
            members = sorted(members)
            for a_i in range(len(members)):
                for b_i in range(a_i + 1, len(members)):
                    a, b = members[a_i], members[b_i]
                    if (
                        jaccard_similarity(shingle_cache[a], shingle_cache[b])
                        >= jaccard_threshold
                    ):
                        uf2.union(a, b)
        parents = uf2.get_clusters()

    kept = [i for i in range(len(texts)) if i not in initially_duplicate]
    return parents, kept


def exact_oracle(texts: list[str]) -> list[int]:
    seen: set[str] = set()
    kept = []
    for i, t in enumerate(texts):
        if t not in seen:
            seen.add(t)
            kept.append(i)
    return kept
