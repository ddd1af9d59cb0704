"""Distributed connected components: alternating large-star / small-star.

Replaces the reference's driver-local clustering (polars-grouper
``super_merger`` at ``minhash.py:66``; ``UnionFind`` at
``simhash.py:43-71``) with the iterative DataFrame-join algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC'14) —
O(log^2 n) rounds, each round two shuffles, no driver-side state
(SURVEY.md §7.5 / A9).

Scale notes:
- per-round ``localCheckpoint`` cuts lineage so plans stay bounded;
- the groupBy min is covered by map-side partial aggregation (no skew);
  the join back to neighbors is skew-prone on hub nodes -> AQE skew join;
- labels converge to the component MINIMUM id, matching the reference's
  min-id cluster convention (``minhash.py:74``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    driver_threshold: int = 5_000_000,
) -> DataFrame:
    """Compute connected components of an undirected graph given as an edge
    DataFrame. Returns ``(id, cluster)`` for every node appearing in an edge,
    where ``cluster`` is the minimum node id of the component (the component
    root maps to itself).

    Hybrid strategy (same spirit as Spark's broadcast-join size gate): edge
    sets up to ``driver_threshold`` are solved with a driver-local union-find
    in one pass — the iterative join algorithm costs ~8 scheduled jobs of
    fixed latency, which dwarfs tiny graphs. Above the gate, the distributed
    large-star/small-star loop runs with NO driver-side state. Both paths
    produce identical min-id labels (tested against each other).

    Round-6 physical form (guide §2.4/§1): ONE action decides the gate AND
    collects — ``distinct().limit(threshold+1).toPandas()`` over a
    persisted distinct frame. The former shape spent a count action plus a
    separate collect; an intermediate round-6 shape probed the RAW edges
    (no distinct at all), which was fastest on tiny graphs but collected
    every duplicate row through the serial driver path — measured 4.06M
    raw vs 0.78M distinct edges on a 1M-doc web corpus, a 5x larger
    Arrow collect + numpy input for rows the kernel immediately dedups.
    The distinct runs distributed (parallel), the collect is bounded by
    the DISTINCT edge count, and on saturation the distributed loop reuses
    the same cached distinct frame — nothing is recomputed."""
    spark = edges.sparkSession
    base = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    pdf_edges = None
    if driver_threshold > 0:
        # ONE action decides the gate and collects: the limit caps the
        # Arrow collect at threshold+1 rows, and the dedup runs
        # DISTRIBUTED (the distinct above) before anything reaches the
        # driver — a duplicate-heavy graph (band edges emit one row per
        # shared band; measured 4.06M raw vs 0.78M distinct on a 1M-doc
        # web corpus) would otherwise push b x more rows through the
        # serial collect + numpy kernel than the driver ever needs. The
        # persist means the probe's distinct is computed once: a
        # saturated probe hands the SAME cached frame to the distributed
        # loop below, nothing recomputed.
        pdf_edges = base.limit(driver_threshold + 1).toPandas()
        if len(pdf_edges) > driver_threshold:
            pdf_edges = None
    if pdf_edges is not None:
        base.unpersist()
        if len(pdf_edges) == 0:
            return spark.createDataFrame([], "id long, cluster long")
        import numpy as np
        import pandas as pd

        # vectorized min-label propagation with pointer jumping — the same
        # labels as tests/oracles.UnionFind (pinned by the CC test
        # matrix, which runs this gate against the UF oracle), but ~30x
        # faster: the per-edge Python union() loop took ~29 s on 4M edges,
        # a SERIAL cost that capped measured scaling efficiency at any
        # parallelism (the driver does it alone while executors idle).
        # numpy.minimum.at scatters each edge's min label to both
        # endpoints; label[label] pointer-jumps toward the component
        # minimum; O(log n) sweeps over arrays, ~1 s on the same input.
        u = pdf_edges["u"].to_numpy(np.int64)
        v = pdf_edges["v"].to_numpy(np.int64)
        nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
        ui, vi = idx[: len(u)], idx[len(u) :]
        label = np.arange(len(nodes), dtype=np.int64)
        while True:
            before = label.copy()
            np.minimum.at(label, ui, label[vi])
            np.minimum.at(label, vi, label[ui])
            while True:
                jumped = label[label]
                if np.array_equal(jumped, label):
                    break
                label = jumped
            if np.array_equal(label, before):
                break
        pdf = pd.DataFrame({"id": nodes, "cluster": nodes[label]})
        mapping = spark.createDataFrame(pdf)
        # the mapping is joined back against the full corpus (assignment,
        # J3); when it fits under the session's broadcast threshold a hint
        # saves shuffling the corpus — the dominant cost of the assignment
        # stage. Gate on estimated BYTES (16B/row) against the session's own
        # autoBroadcastJoinThreshold, like Spark's planner, so small-executor
        # deployments are never forced into an oversized broadcast build.
        try:
            s = str(
                spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
            ).strip().lower()
            for suffix, mult in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                                 ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                                 ("b", 1)):
                if s.endswith(suffix):
                    threshold = int(s[: -len(suffix)]) * mult
                    break
            else:
                threshold = int(s)
        except ValueError:
            threshold = 10 << 20
        if threshold > 0 and len(pdf) * 16 <= threshold:
            mapping = F.broadcast(mapping)
        return mapping

    e = base.localCheckpoint()
    base.unpersist()
    prev_sig: tuple | None = None
    for _ in range(max_iterations):
        # --- large-star: connect every strictly-larger neighbor to the
        # neighborhood minimum.
        bi = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = bi.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("mv", F.col("u")).alias("m"))
        e1 = (
            bi.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star: orient edges large->small, connect all smaller
        # neighbors (and the center) to the minimum.
        o = e1.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mins2 = o.groupBy("u").agg(F.min("v").alias("m"))
        members = (
            o.join(mins2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        centers = mins2.select(F.col("u"), F.col("m").alias("v"))
        e2 = members.union(centers).where(F.col("u") != F.col("v")).distinct().localCheckpoint()

        row = e2.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        sig = (row["n"], row["h"])
        e = e2
        if sig == prev_sig:
            break
        prev_sig = sig
    return (
        e.select(F.col("u").alias("id"), F.col("v").alias("cluster"))
        .union(e.select(F.col("v").alias("id"), F.col("v").alias("cluster")))
        .distinct()
    )
