"""Filtered negative sampling over the materialized triple set — the
training-data operator that turns a knowledge graph into KG-embedding
training examples (TransE/DistMult convention: corrupt one side of each
positive triple, FILTER out corruptions that are themselves true triples,
Bordes et al. 2013).

Spark shape:
  1. a bounded deterministic entity POOL (the `max_pool` entities with the
     smallest blake2b(entity, seed) — content-keyed, so the pool is stable
     across runs and cluster sizes) is collected once and broadcast: the
     standard uniform-negative-pool practice, and the only driver-side
     materialization (hard-bounded);
  2. one Arrow pass (mapInPandas) emits k candidate corruptions per
     positive — which side to corrupt and the replacement entity both come
     from blake2b of (r_id, j), so resume/rerun regenerate byte-identical
     negatives (the determinism requirement every other sampling op in
     this engine follows);
  3. the FILTER step is a distributed anti-join of candidates against the
     true (subj, pred, obj) set — the part that cannot ride a broadcast at
     web scale (10^11 triples) and is exactly an equi-join Catalyst plans.

Self-corruptions (replacement == original entity) are dropped in-batch;
accidental true triples are dropped by the anti-join, so the delivered
count per positive is <= k (the standard "filtered setting" semantics —
callers wanting exactly-k resample with a second round over the
shortfall)."""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

NEGATIVE_SCHEMA = StructType(
    [
        StructField("r_id", StringType(), False),
        StructField("neg_idx", IntegerType(), False),
        StructField("subj_id", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj_id", StringType(), False),
        StructField("corrupted", StringType(), False),  # 'subj' | 'obj'
    ]
)


def _h64(*parts: str) -> int:
    return int.from_bytes(
        hashlib.blake2b("|".join(parts).encode(), digest_size=8).digest(),
        "big",
    )


def entity_pool(
    triples: DataFrame, max_pool: int = 100_000, seed: int = 42
) -> list[str]:
    """Deterministic bounded entity pool: the max_pool entities with the
    smallest blake2b(entity, seed) — a content-keyed uniform sample that
    is identical on any cluster size (no partition-order dependence)."""
    ents = (
        triples.select(F.col("subj_id").alias("e"))
        .unionByName(triples.select(F.col("obj_id").alias("e")))
        .distinct()
    )

    @F.pandas_udf(LongType())
    def _rank(e: pd.Series) -> pd.Series:
        return e.map(lambda x: _h64(str(x), str(seed)) % (1 << 62))

    ranked = ents.withColumn("_h", _rank("e")).orderBy("_h", "e").limit(max_pool)
    return [r["e"] for r in ranked.collect()]


def kg_negative_samples(
    triples: DataFrame,
    k: int = 2,
    max_pool: int = 100_000,
    seed: int = 42,
) -> DataFrame:
    """(r_id, subj_id, pred, obj_id) positives -> filtered negatives
    (NEGATIVE_SCHEMA). See module docstring for semantics and scale shape.

    The positives frame has THREE consumers (the entity-pool scan, the
    corruption pass, and the true-triple set for the filter join); persist
    it once so an upstream join/extraction subtree is not re-executed per
    consumer (r6: the bench's supply-edges input cost ~6s per re-run, i.e.
    ~2/3 of this operator's wall time). Lineage-keeping persist, not
    checkpoint: blocks recompute on executor loss. They are NOT
    ContextCleaner-managed: the CacheManager holds them until unpersist."""
    from pyspark import StorageLevel

    triples = triples.select("r_id", "subj_id", "pred", "obj_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pool = entity_pool(triples, max_pool=max_pool, seed=seed)
    if not pool:
        return triples.sparkSession.createDataFrame([], NEGATIVE_SCHEMA)
    bc = triples.sparkSession.sparkContext.broadcast(pool)

    def _corrupt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = bc.value
        n = len(p)
        for batch in batches:
            rows = []
            for rec in batch.itertuples(index=False):
                for j in range(k):
                    side = "subj" if _h64(rec.r_id, str(j), "side") % 2 == 0 else "obj"
                    repl = p[_h64(rec.r_id, str(j), "ent") % n]
                    s, o = rec.subj_id, rec.obj_id
                    if side == "subj":
                        if repl == s:
                            continue
                        s = repl
                    else:
                        if repl == o:
                            continue
                        o = repl
                    rows.append((rec.r_id, j, s, rec.pred, o, side))
            yield pd.DataFrame(
                rows,
                columns=["r_id", "neg_idx", "subj_id", "pred", "obj_id",
                         "corrupted"],
            )

    # No repartition before the sampling pass: A/B at bench sf0.1 and
    # sf1.0 showed the extra round-robin shuffle costs more than the
    # blake2b loop saves from wider parallelism (the cached positives
    # already carry the upstream join's partitioning).
    cand = triples.select("r_id", "subj_id", "pred", "obj_id").mapInPandas(
        _corrupt, schema=NEGATIVE_SCHEMA
    )
    true_set = triples.select("subj_id", "pred", "obj_id").distinct()
    return cand.join(true_set, ["subj_id", "pred", "obj_id"], "left_anti")
