"""Small shared helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Small inputs often arrive as one parquet file = one partition, which
    serializes every narrow stage (gram building, signature/embedding UDFs)
    onto a single core. Repartition up to the cluster's slot count; a no-op
    for big inputs that already carry enough partitions.

    When `keys` are given, the repartition hashes on those columns so a
    downstream window/groupBy on the same keys reuses the distribution —
    one shuffle total instead of parallelize-shuffle + operator-shuffle
    (the exact_dedup r2 bench regression)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        # JVM-side probe: partition count of the physical plan's InternalRow
        # RDD. df.rdd would wrap the plan in a Python-serialization stage
        # (DeserializeToObject + pickler setup) just to ask a partition
        # count — pure overhead on every wrapped read, so it is never used,
        # not even as a fallback.
        n_parts = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        # private-API drift (a pyspark upgrade renaming queryExecution):
        # fall back to the public-API count before assuming 0 — df.rdd
        # wraps the plan in a Python-serialization stage just to ask a
        # partition count, but that overhead only applies on this already-
        # exceptional path and is far cheaper than the unconditional full
        # repartition shuffle that assuming 0 would force on every wrapped
        # read for that pyspark version.
        try:
            n_parts = df.rdd.getNumPartitions()
        except Exception:
            n_parts = 0
    if n_parts < target:
        if keys:
            from pyspark.sql import functions as F

            return df.repartition(target, *[F.col(k) for k in keys])
        return df.repartition(target)
    return df


def as_list(values) -> list:
    """A possibly-null array cell as a list. Array columns reach pandas as
    numpy arrays (or None), and `arr or []` calls bool() on the array:
    ambiguous for two or more elements, deprecated for none."""
    return [] if values is None else list(values)
