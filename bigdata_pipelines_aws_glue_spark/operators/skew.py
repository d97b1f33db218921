"""Scale/parallelism helpers (SURVEY.md §4 scale posture).

- ``spread``: CPU-heavy per-row operators (hashing, vector math) on
  inputs that arrive in few partitions (single small parquet locally;
  a coalesced scan at 100 TB) need an explicit repartition or the
  whole stage runs on a fraction of the cores. Cheap where it's a
  no-op (narrow check first).
- ``salt_key`` / ``unsalt``: classic skew-salting for hot keys when
  AQE's skew-join splitting isn't applicable (e.g. aggregations onto
  a dominant key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition up to the session's default parallelism when the
    current partitioning underuses the cluster. Round-robin, no key —
    the target stages are embarrassingly parallel maps."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def salted_skew_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Replicate-and-salt equi-join for hot keys: the BIG (skewed)
    side gets a per-row salt in [0, buckets); the SMALL side is
    replicated once per salt value; the join runs on (keys + salt),
    spreading each hot key over ``buckets`` reducers. Result is
    row-identical to the plain join (each big row matches exactly its
    own salt's replica — multiplicity preserved even with duplicate
    small-side keys; pinned by pytest on a constructed 90%-hot key).
    Use when AQE's skew-join splitting isn't available or the skew is
    known up front; cost is ``buckets``× the small side's shuffle
    volume, which is the cheap side by construction.

    Only join types where the replicated small side cannot surface
    unmatched rows are allowed: a right/full outer join would emit an
    unmatched small-side row once per salt replica (``buckets`` copies
    null-extended) instead of once, silently breaking the
    row-identity guarantee. (ADVICE r11.)"""
    safe = {"inner", "left", "left_outer", "leftouter", "left_semi",
            "leftsemi", "left_anti", "leftanti", "cross"}
    if how.lower() not in safe:
        raise ValueError(
            f"salted_skew_join: how={how!r} breaks row-identity — an "
            f"unmatched small-side row appears once per salt replica; "
            f"allowed: {sorted(safe)}"
        )
    salted = big.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(buckets))
    )
    replicated = small.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(b) for b in range(buckets)])),
    )
    return salted.join(replicated, on + ["__salt"], how).drop("__salt")


def two_phase_agg(
    df: DataFrame,
    key_cols: list[str],
    agg_exprs: dict[str, str],
    buckets: int = 16,
) -> DataFrame:
    """Skew-safe sum/count aggregation: partial agg over (keys, salt)
    then final agg over keys. Only algebraic aggregates (sum, count,
    min, max) are supported — exactly the ones that decompose."""
    allowed = {"sum", "count", "min", "max"}
    bad = set(agg_exprs.values()) - allowed
    if bad:
        raise ValueError(f"non-decomposable aggregates: {bad}")
    salted = df.withColumn(
        "__salt", F.pmod(F.spark_partition_id(), F.lit(buckets))
    )
    partial = salted.groupBy(*key_cols, "__salt").agg(
        *[
            getattr(F, fn)(c).alias(f"__p_{c}")
            for c, fn in agg_exprs.items()
        ]
    )
    final_fns = {c: ("sum" if fn == "count" else fn) for c, fn in agg_exprs.items()}
    return partial.groupBy(*key_cols).agg(
        *[
            getattr(F, fn)(f"__p_{c}").alias(c)
            for c, fn in final_fns.items()
        ]
    )
