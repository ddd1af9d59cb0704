"""Hot-key guard: the one skew cap shared by every bucket and posting join.

A join keyed by bucket (SimHash permutation keys, sign-sketch tables) or by
gram (set-similarity postings) pays work quadratic in each key's row count,
so boilerplate floods turn one hot key into the whole job. The guard drops
keys whose count exceeds a cap, observably, never silently.

Observation contract, the same for every operator that takes one: each
counter the operator documents is present once an action has run, and it
is 0 when the guard is off or its path did not run. The zero counters are
attached to a frame the plan already has, so observing adds no exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

BUCKET_COUNTERS = ("n_buckets_dropped", "n_postings_dropped")


def observe_zero(df: DataFrame, observation: Observation | None, *names: str) -> DataFrame:
    """``df`` reporting 0 for each counter in ``names`` on ``observation``
    (``df`` unchanged when it is None)."""
    if observation is None:
        return df
    return df.observe(observation, *[F.lit(0).cast("long").alias(n) for n in names])


def drop_hot_keys(
    counts: DataFrame,
    count_col: str,
    cap: int,
    observation: Observation | None,
    keys_name: str,
    rows_name: str,
) -> DataFrame:
    """``counts`` (one row per key, its row count in ``count_col``) without
    the keys whose count exceeds ``cap``. ``observation`` receives the
    number of dropped keys as ``keys_name`` and the rows under them as
    ``rows_name``."""
    hot = F.col(count_col) > cap
    if observation is not None:
        counts = counts.observe(
            observation,
            F.coalesce(F.sum(hot.cast("long")), F.lit(0)).alias(keys_name),
            F.coalesce(F.sum(F.when(hot, F.col(count_col)).otherwise(0)), F.lit(0)).alias(
                rows_name
            ),
        )
    return counts.where(~hot)


def guard_hot_buckets(
    rows: DataFrame,
    keys: list[str],
    cap: int | None,
    observation: Observation | None,
) -> DataFrame:
    """``rows`` without those under a bucket (``keys``) holding more than
    ``cap`` rows; ``cap=None`` keeps every row. Counters:
    ``BUCKET_COUNTERS``."""
    if cap is None:
        return observe_zero(rows, observation, *BUCKET_COUNTERS)
    sizes = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("__bsz__"))
    kept = drop_hot_keys(sizes, "__bsz__", cap, observation, *BUCKET_COUNTERS)
    return rows.join(kept.select(*keys), keys)
