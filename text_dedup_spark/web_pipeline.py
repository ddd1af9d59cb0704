"""End-to-end web-page dedup: the north-star flow over the input-hint table
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Stage 1 — text extraction: ``html -> extracted_text`` as a vectorized pandas
UDF. The parity invariant (BASELINE.json input_hint) is *byte-identical
extracted text per url*: when the table carries a ``text`` column (the
expected extraction output), the pipeline verifies byte-equality and exposes
the mismatch count as an observable metric — never silently divergent.

Stage 2+ — any dedup path over the extracted text (MinHash by default),
consuming ``extracted_text`` exactly as the reference consumes
``text_column``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
from text_dedup_spark.operators.ids import INDEX_COL, assign_ids
from text_dedup_spark.operators.minhash import MinHashDedupResult, minhash_dedup
from text_dedup_spark.sources.web_pages import extract_text_expr


@dataclass
class WebDedupResult:
    extracted: DataFrame  # + extracted_text (+ __ext_mismatch__ when verifiable)
    dedup: MinHashDedupResult


def extract_stage(df: DataFrame, html_col: str = "html", verify_against: str | None = "text") -> DataFrame:
    out = df.withColumn("extracted_text", extract_text_expr()(F.col(html_col)))
    if verify_against and verify_against in df.columns:
        out = out.withColumn(
            "__ext_mismatch__",
            (~F.col("extracted_text").eqNullSafe(F.col(verify_against))).cast("int"),
        ).observe("extraction", F.sum("__ext_mismatch__").alias("n_mismatched"))
    return out


def dedup_web_pages(
    df: DataFrame,
    kernel: MinHashKernel | None = None,
    id_mode: str = "hash",  # xxhash64(url) — web-scale deterministic ids
    check_false_positive: bool = False,
) -> WebDedupResult:
    """Raw input-hint table -> extraction -> MinHash dedup on the extracted
    text. ``id_mode="hash"`` derives ids from the url (no global sort);
    ``"order"`` gives reference-style 0..n-1 ordinals (test scale only).
    Runs the salted (scale-profile) forms: this entry point IS the
    web-scale flow, where exact-duplicate boilerplate makes hot bands the
    expected case, not the exception (operators.minhash docstrings)."""
    kernel = kernel or MinHashKernel(num_perm=128, ngram_size=2, min_length=5, threshold=0.5)
    extracted = extract_stage(df)
    with_ids = assign_ids(extracted, order_by="url", mode=id_mode)
    res = minhash_dedup(
        with_ids,
        kernel,
        text_col="extracted_text",
        id_col=INDEX_COL,
        check_false_positive=check_false_positive,
        band_edges_mode="salted",
    )
    return WebDedupResult(extracted=extracted, dedup=res)
