"""Suffix-array interval kernels — exact port of the reference semantics.

Reference: ``src/text_dedup/config/algorithms/suffix_array.py`` —
``merge_intervals`` (:20-113), ``restore`` (:115-188), ``restore_and_merge``
(:190-241), ``clean_up`` (:260-290). The doctest golden values from those
lines are pinned in ``tests/test_kernels.py::TestIntervals``. Intervals are ``slice``
objects, as in the reference.
"""

from __future__ import annotations

from collections import deque
from collections.abc import Generator, Iterable
from typing import Literal

MergeStrategy = Literal["longest", "overlapping"]


def merge_intervals(
    intervals: list[slice], merge_strategy: MergeStrategy = "longest"
) -> list[slice]:
    """Dedup then sort by (start, -stop); "overlapping" coalesces touching
    ranges, "longest" drops contained ranges (reference :20-113)."""
    if len(intervals) == 0:
        return []
    q = deque(
        sorted(
            (slice(s[0], s[1]) for s in {(s.start, s.stop) for s in intervals}),
            key=lambda x: (x.start, -x.stop),
        )
    )
    merged: list[slice] = []
    while q:
        current = q.popleft()
        if not merged:
            merged.append(current)
            continue
        prev = merged[-1]
        if merge_strategy == "overlapping":
            if prev.stop >= current.start:
                merged[-1] = slice(prev.start, max(prev.stop, current.stop))
            else:
                merged.append(current)
        elif merge_strategy == "longest":
            if current.stop <= prev.stop:
                continue
            else:
                merged.append(current)
    return merged


def restore(
    boundaries: list[slice], segments: Iterable[slice]
) -> Generator[tuple[int, slice], None, None]:
    """Map global byte ranges back into per-doc ranges, splitting ranges that
    span doc boundaries (reference :115-188, same control flow)."""
    indices: deque[slice] = deque(segments)
    for i, s in enumerate(boundaries):
        while indices:
            curr_slice = indices.popleft()
            while curr_slice.stop <= s.start and indices:
                curr_slice = indices.popleft()
            x, y = curr_slice.start, curr_slice.stop
            if y <= s.start:
                break
            if x >= s.stop:
                indices.appendleft(slice(x, y))
                break
            if s.start <= x < s.stop <= y:
                yield i, slice(x - s.start, s.stop - s.start)
                if y > s.stop:
                    indices.appendleft(slice(s.stop, y))
                break
            elif s.start <= x < y <= s.stop:
                yield i, slice(x - s.start, y - s.start)
                continue
            elif x < s.start < y <= s.stop:
                yield i, slice(0, y - s.start)
                continue
            elif x < s.start < s.stop <= y:
                yield i, slice(0, s.stop - s.start)
                if y > s.stop:
                    indices.appendleft(slice(s.stop, y))
                break


def restore_and_merge(
    boundaries: list[slice],
    segments: Iterable[slice],
    k: int,
    merge_strategy: MergeStrategy = "longest",
) -> tuple[list[list[slice]], int]:
    """Restore + per-doc merge, keeping only ranges >= k bytes (reference :190-241)."""
    duplicate_size = 0
    results: list[list[slice]] = [[] for _ in boundaries]
    for idx, s in restore(boundaries, segments):
        if s.stop - s.start >= k:
            results[int(idx)].append(s)
    for i, _ in enumerate(results):
        results[i] = merge_intervals(results[i], merge_strategy)
        duplicate_size += sum(s.stop - s.start for s in results[i])
    return results, duplicate_size


def clean_up(text: str, slices: list[slice]) -> str:
    """Remove byte ranges from utf-8 encoded text, decode ignoring partial
    codepoints (reference :260-290)."""
    byte_array = bytearray(text, "utf-8")
    result = bytearray()
    start = 0
    for s in slices:
        result.extend(byte_array[start : s.start])
        start = s.stop
    result.extend(byte_array[start:])
    return result.decode("utf-8", errors="ignore")
