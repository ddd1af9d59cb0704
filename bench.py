"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "queries_detail": {name: {runs, median, min,
   max, k}}, "sf": ..., "docs_per_sec": ...}

The dedup queries dominate; docs_per_sec is documents processed by the
flagship minhash_dedup per second (throughput figure for BASELINE.md).

Noise policy (round-5): this box is a VM whose host steal/system time can
inflate a single wall 1.2-2x (BENCH.md environment-stamping section), so a
single-shot artifact is not comparable across rounds. Each query now runs
an UNTIMED warm pass (plan compile + page-cache touch; the steady state of
a long-lived cluster) followed by K timed repeats — K adaptive to the warm
wall so the total stays bounded — and `queries` records the lower median
(noise on this host is one-sided: contention only ever inflates a wall, so
the lower median is the estimator of the uncontended number being compared
across rounds). Spread and raw runs land in `queries_detail`;
`spark.catalog.clearCache()` runs between repeats so a pipeline's internal
persist() can never leak one run's work into the next timing.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "exact_dedup_groups",
    "token_stats",
    "lang_marker_profile",
    "quality_score",
    "ngram_jaccard_pairs",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "minhash_dedup",
    "minhash_dedup_verified",
    "minhash_dedup_md5",
    "minhash_dedup_verified_md5",
    "simhash_dedup",
    "simhash_dedup_md5",
    "simhash_dedup_verified_md5",
    "suffix_dedup",
    "embedding_dedup",
    "events_sessionize",
    "events_minutely",
    "lineitem_pricing_summary",
]


def main() -> None:
    import __spark_entry__ as entry_mod
    from text_dedup_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        conf={"spark.sql.shuffle.partitions": str(max(int(cpus), 8))},
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry_mod.queries()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    _warmup(spark)
    from tools.hostcal import cpu_calib_sec

    calib_before = cpu_calib_sec()
    cpu_before = _cpu_sample()

    timings: dict[str, float] = {}
    detail: dict[str, dict] = {}
    for name in BENCH_QUERIES:
        timings[name], detail[name] = _warm_median(spark, queries[name], sf_dir, name)

    skew = _skew_guard_leg(spark, sf_dir)
    setsim_cap = _setsim_cap_leg(spark)
    band_salt = _hot_band_leg(spark, sf_dir)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline query wall time (dedup + text analytics + ANN)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_detail": detail,
        "sf": sf_dir,
        "docs_per_sec": round(n_docs / timings["minhash_dedup"], 1),
        "cpus": int(cpus),
        "skew_guard": skew,
        "setsim_gram_cap": setsim_cap,
        "band_salt": band_salt,
        "host_cpu": _cpu_delta(cpu_before),
        # fixed single-thread probe timed before/after the query loop —
        # catches the zero-steal "slow mode" the host_cpu stamp misses
        # (tools/hostcal.py; compare against the ~0.2-0.3 s quiet baseline)
        "cpu_calib_sec": {"before": calib_before, "after": cpu_calib_sec()},
    }
    print(json.dumps(out))
    spark.stop()


def _warm_median(spark, fn, sf_dir: str, name: str) -> tuple[float, dict]:
    """One untimed warm pass, then K timed repeats (K: 3 if warm wall <= 3 s,
    2 if <= 8 s, else 1 — bounds total bench wall at ~4 min). Returns
    (lower median, detail). Cache is cleared between repeats: several
    pipelines persist() intermediates internally, and Spark's CacheManager
    matches by canonicalized plan, so without the clear a repeat could
    silently reuse the previous run's fingerprint cache and time only the
    tail of the pipeline."""
    t0 = time.time()
    n = fn(spark, sf_dir).count()
    warm = time.time() - t0
    spark.catalog.clearCache()
    k = 3 if warm <= 3.0 else (2 if warm <= 8.0 else 1)
    runs: list[float] = []
    for _ in range(k):
        t0 = time.time()
        fn(spark, sf_dir).count()
        runs.append(round(time.time() - t0, 3))
        spark.catalog.clearCache()
    med = sorted(runs)[(len(runs) - 1) // 2]
    print(
        f"# {name}: {n} rows; warm {warm:.2f}s, runs {runs} -> median {med:.2f}s",
        file=sys.stderr,
    )
    return med, {"runs": runs, "median": med, "min": min(runs),
                 "max": max(runs), "k": k, "warm_pass": round(warm, 3)}


def _cpu_sample() -> list[int] | None:
    """Aggregate /proc/stat jiffies — the run's own environment stamp."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except Exception:
        return None


def _cpu_delta(before: list[int] | None) -> dict | None:
    """CPU-time mix over the benchmark window. ``steal_pct`` is the
    honesty metric on this virtualized box: runs with steal >> 1% are
    contended by a noisy neighbor and their walls are NOT comparable to
    quiet-window runs (measured 1.5-2x inflation at ~10% steal). BENCH.md
    round tables cite it next to every headline number."""
    after = _cpu_sample()
    if before is None or after is None:
        return None
    d = [a - b for a, b in zip(after, before, strict=True)]
    tot = sum(d) or 1
    return {
        "user_pct": round(100 * d[0] / tot, 2),
        "system_pct": round(100 * d[2] / tot, 2),
        "idle_pct": round(100 * d[3] / tot, 2),
        "steal_pct": round(100 * d[7] / tot, 2) if len(d) > 7 else None,
    }


def _warmup(spark) -> None:
    """Spin up the Python UDF worker pool once before timing. A long-lived
    cluster has warm workers; without this the first pandas-UDF query pays
    ~4 s of one-time worker startup (32 interpreters importing numpy/pandas)
    that belongs to session setup, not to that query."""
    spark.range(64).repartition(64).mapInPandas(lambda it: it, "id long").count()


def _skew_guard_leg(spark, sf_dir: str) -> dict:
    """Distinct-near-miss boilerplate flood: the post-contraction hot-bucket
    hazard. Identical-text floods contract to one node before the bucket
    join (simhash_dedup's distinct-signature contraction), so what actually
    stresses the quadratic within-bucket join at web scale is a flood of
    DISTINCT near-miss signatures — boilerplate pages differing only by a
    short tail (tracking ids, dates, usernames). Each variant's signature
    sits within a few bits of the template's, so a large fraction agree on
    a permutation table's 16-bit masked prefix: hot buckets of hundreds+ of
    distinct signatures, pair count quadratic in bucket size.

    Construction (tuned against the contraction, measured via kernel probes):
    a 140-token template concentrates the per-bit vote so variants only
    flip the template's ~12 marginal bits, and tails of 1-6 UNIQUE tokens
    spread variants across that flippable subspace — thousands of DISTINCT
    signatures that still agree on the 16-bit masked prefix in 3 of 4
    permutation tables (single-token tails collapse to <=256 signatures
    and the contraction absorbs them — round 3's leg, where the cap cost
    wall AND dups, the honest artifact BENCH_r03 records). At a 13x flood
    the quadratic join visibly dominates: measured warm ~1.7x wall win for
    the cap with ~0.3% dup loss (the closure reconnects most dropped-bucket
    members through the scattered fourth table + contraction star edges)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from text_dedup_spark.kernels.simhash_kernel import SimHashKernel
    from text_dedup_spark.operators.simhash import simhash_dedup

    boiler = " ".join(
        f"boilerplate{i} navigation footer copyright terms privacy cookie"
        .split()[i % 7] + str(i)
        for i in range(140)
    )
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    n_docs = base.count()
    n_flood = 13 * n_docs
    tail_toks = F.array(
        *[
            F.concat(F.lit("u"), F.col("id").cast("string"), F.lit(f"x{j}"))
            for j in range(6)
        ]
    )
    flood = spark.range(n_flood).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit(boiler + " "),
            F.concat_ws(
                " ", F.slice(tail_toks, F.lit(1), (F.col("id") % 6 + 1).cast("int"))
            ),
        ).alias("text"),
    )
    docs = (
        base.unionByName(flood)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .persist()
    )
    docs.count()  # materialize so both legs time the dedup, not the union
    kernel = SimHashKernel(f=64, bit_diff=3, num_bucket=4, ngram_size=3, min_length=5)
    # the cap bounds per-bucket pair work at cap^2/2 — the knob a web-scale
    # run sets from its latency budget, independent of corpus size (hot
    # bucket size grows with the flood, the cap does not). 512 sits ~100x
    # above this corpus's average distinct-signature bucket load, so only
    # genuine outlier buckets are dropped.
    cap = 512

    t0 = time.time()
    obs = Observation("bench_skew_cap")
    res = simhash_dedup(docs, kernel, id_col="doc_id", max_bucket_size=cap,
                        observation=obs)
    n_dup_capped = res.docs.where(F.col("__duplicate__")).count()
    capped_sec = round(time.time() - t0, 3)
    got = obs.get

    t0 = time.time()
    res_full = simhash_dedup(docs, kernel, id_col="doc_id")
    n_dup_full = res_full.docs.where(F.col("__duplicate__")).count()
    uncapped_sec = round(time.time() - t0, 3)
    docs.unpersist()

    leg = {
        "cap": cap,
        "n_flood": int(n_flood),
        "capped_sec": capped_sec,
        "uncapped_sec": uncapped_sec,
        "n_buckets_dropped": int(got["n_buckets_dropped"]),
        "n_postings_dropped": int(got["n_postings_dropped"]),
        "n_dup_capped": int(n_dup_capped),
        "n_dup_uncapped": int(n_dup_full),
    }
    print(f"# skew_guard: {leg}", file=sys.stderr)
    return leg


def _hot_band_leg(spark, sf_dir: str) -> dict:
    """Exact-duplicate boilerplate flood A/B for the MinHash star-edge
    forms (the north-star's hot-band skew case): 80x the corpus as
    byte-identical copies of ONE page (~400k rows at sf0.1). Every copy shares every band, so
    band_edges_mode="window" hashes the whole flood into one sort task per
    band — the task that scales with the largest duplicate group at web
    scale — while "salted" contracts identical fingerprints to one
    representative before the band exchange (flood never reaches it) and
    computes band minima via partial-agg groupBy + AQE-skew join-back.
    Both modes must find the identical duplicate set (min is associative;
    contraction preserves the closure) — asserted here, not assumed.

    At THIS corpus size the window's hot sort task (400k rows) is
    milliseconds, so the leg's honest expectation is near-parity wall
    (salted pays 2 extra exchanges, saves 14x edge volume via
    contraction); what the leg pins is output equality plus the absence
    of a pathological cliff in either form. The salted form's payoff is
    the WORST-TASK bound — O(skew-split threshold) instead of O(largest
    duplicate group) — which no single-box bench can exhibit. An untimed
    fingerprint pass precedes the A/B: 32 Python workers importing the
    kernel once cost ~60 s of one-time noise that would otherwise land
    entirely on whichever mode runs first (measured 87 s vs 10 s for the
    SAME plan cold vs warm)."""
    from pyspark.sql import functions as F

    from text_dedup_spark.kernels.minhash_kernel import MinHashKernel
    from text_dedup_spark.operators.minhash import fingerprint_bands, minhash_dedup

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("__INDEX__"), "text"
    )
    n_docs = base.count()
    n_flood = 80 * n_docs  # ~400k identical copies at sf0.1
    boiler = " ".join(f"footer{i} terms privacy cookie banner nav{i % 9}" for i in range(40))
    flood = spark.range(n_flood).select(
        (F.col("id") + 10_000_000).alias("__INDEX__"), F.lit(boiler).alias("text")
    )
    docs = (
        base.unionByName(flood)
        .repartition(spark.sparkContext.defaultParallelism, "__INDEX__")
        .persist()
    )
    docs.count()  # materialize: both legs time the dedup, not the union
    kernel = MinHashKernel(num_perm=64, ngram_size=2, min_length=5, threshold=0.5)
    # untimed warm pass (see docstring): worker imports + codegen
    warm = fingerprint_bands(docs, kernel)
    warm.count()
    warm.unpersist()

    walls: dict[str, float] = {}
    dups: dict[str, int] = {}
    for mode in ("window", "salted"):
        t0 = time.time()
        res = minhash_dedup(docs, kernel, band_edges_mode=mode)
        dups[mode] = res.docs.where(F.col("__duplicate__")).count()
        walls[mode] = round(time.time() - t0, 3)
    docs.unpersist()

    leg = {
        "n_flood": int(n_flood),
        "window_sec": walls["window"],
        "salted_sec": walls["salted"],
        "n_dup_window": int(dups["window"]),
        "n_dup_salted": int(dups["salted"]),
    }
    # the equality the docstring promises, enforced — a mode divergence
    # fails the bench instead of passing silently into the artifact
    assert dups["window"] == dups["salted"], leg
    print(f"# band_salt: {leg}", file=sys.stderr)
    return leg


def _setsim_cap_leg(spark, n: int = 2000) -> dict:
    """Stopword-dominated pathological corpus for the prefix join's
    observable hot-gram cap: tiny gram sets where one gram is shared by
    EVERY doc (prefix filtering cannot exclude a stopword once sets are
    small enough that the prefix spans them) -> n^2/2 candidate pairs
    uncapped. Planted true pairs (2i, 2i+1) share a rare gram, so the
    capped leg keeps the full output while dropping the hot gram."""
    from pyspark.sql import Observation

    from text_dedup_spark.functions.setsim import jaccard_pairs_prefix

    rows = [(i, ["the of and", f"u{i // 2} body gram"]) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, grams array<string>").repartition(8)

    t0 = time.time()
    n_lossless = jaccard_pairs_prefix(df, threshold=0.5).count()
    lossless_sec = round(time.time() - t0, 3)

    t0 = time.time()
    obs = Observation("bench_setsim_cap")
    n_capped = jaccard_pairs_prefix(
        df, threshold=0.5, max_gram_df=100, observation=obs
    ).count()
    capped_sec = round(time.time() - t0, 3)
    got = obs.get

    leg = {
        "n_docs": n,
        "lossless_sec": lossless_sec,
        "capped_sec": capped_sec,
        "n_pairs_lossless": int(n_lossless),
        "n_pairs_capped": int(n_capped),
        "n_hot_grams": int(got["n_hot_grams"]),
        "n_hot_postings": int(got["n_hot_postings"]),
    }
    print(f"# setsim_gram_cap: {leg}", file=sys.stderr)
    return leg


if __name__ == "__main__":
    main()
