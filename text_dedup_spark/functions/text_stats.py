"""Text-analysis functions for training-data pipelines — JVM-side only.

Everything here is built from ``pyspark.sql.functions`` (whole-stage
codegen, no Python in the hot path). These are the engine's "scalar function
library" counterparts for quality scoring / token counting / language ID /
fingerprinting over web text. The *parity-exact* tokenizer (Python ``regex``
``\\W``) lives in kernels/tokenization.py and is used by the dedup pipelines;
the functions here are the fast JVM approximations used for analytics, with
DuckDB-matchable semantics so they are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens (JVM split). DuckDB equivalent: string_split(text, ' ')."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(ws_tokens(text))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(ws_tokens(text)))


def max_token_len(text: Column) -> Column:
    return F.array_max(F.transform(ws_tokens(text), lambda t: F.length(t)))


def word_ngrams_from_tokens(toks: Column, n: int) -> Column:
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + F.lit(k)).cast("int")) for k in range(n)]),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


BPE_ISH_PATTERN = (
    # explicit whitespace class: Java regex \s includes \x0b, RE2 does
    # not — spelling it out keeps Spark and the DuckDB oracle identical
    r"'(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r\x0B']+"
)


def bpe_token_count(text: Column) -> Column:
    """GPT-2-flavoured pretokenizer count (task brief: token counting —
    whitespace + a BPE-ish regex): contractions, letter runs, digit runs,
    punctuation runs; whitespace separates but is not counted. Pure JVM
    (regexp_count, whole-stage codegen); the pattern is RE2-compatible so
    the DuckDB oracle counts identically."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def digit_count(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, "[0-9]", ""))


def marker_hits(text: Column, marker: str) -> Column:
    """Count of whitespace-token occurrences of ``marker``."""
    return F.size(F.filter(ws_tokens(text), lambda t: t == F.lit(marker)))


def doc_fingerprint(text: Column, nchars: int = 16) -> Column:
    """Deterministic hex fingerprint prefix (md5) — stable doc identity for
    lineage tables; DuckDB-matchable."""
    return F.substring(F.md5(F.encode(text, "utf-8")), 1, nchars)
