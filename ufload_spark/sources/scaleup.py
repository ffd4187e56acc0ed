"""Deterministic fixture scale-up: synthesize sfN from sf0.1 for benching.

The driver ships fixtures up to sf0.1 (~600k lineitem); the sub-second
per-query times there are too small to expose driver-side bottlenecks, so
the bench also wants one datapoint at ~10× that. This module replicates a
fixture directory ``factor``× with per-copy key shifts chosen so every
query's workload CHARACTER is preserved, not just its row count:

- **Star-schema tables**: every int64 key (orderkey, custkey, suppkey,
  partkey) shifts by ``copy * STRIDE`` — copy k of lineitem joins copy k of
  orders/part/supplier, so join fan-outs, group cardinalities and
  selectivity ratios are identical to the source fixture. region/nation
  are true dimensions and stay fixed.
- **events**: event_id/user_id shift; timestamps stay — per-user session
  structure replicates exactly.
- **documents**: doc_id shifts and every TOKEN gets a per-copy suffix
  (``tok`` → ``tok~3``): within-copy shingle/duplicate structure is
  preserved exactly (a uniform token rename is a bijection on shingles),
  while across copies no shingle ever collides — near-dup density per doc
  stays the fixture's, instead of every doc gaining factor-1 identical
  twins (which would blow up LSH candidate volume quadratically and bench
  a different workload).
- **embeddings**: vec_id shifts and each copy applies a deterministic
  per-(copy, dim) ±1 sign pattern. A diagonal ±1 matrix is orthogonal, so
  within-copy cosines/L2 distances are bit-preserved — planted near-dups
  stay near-dups — while cross-copy vectors decorrelate.

Replication is one broadcast cross-join against ``spark.range(factor)``
(one scan of the source, no driver-side loops) and the output publishes by
build-into-tmp + atomic rename, so a crashed or concurrent generation can
never be observed half-written.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ufload_spark.session import tune
from ufload_spark.sources.tables import TABLES, read_parquet

#: key shift per copy — far above any fixture key, far below int64 overflow
STRIDE = 1_000_000_000_000

#: int64 key columns to shift per copy, per table
_SHIFT_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

#: pure dimensions, copied once
_FIXED = ("region", "nation")


def _replicate(df: DataFrame, factor: int) -> DataFrame:
    """Cross the source with a broadcast copy index; ``k`` column added."""
    copies = F.broadcast(
        df.sparkSession.range(factor).select(F.col("id").alias("k"))
    )
    return df.crossJoin(copies)


def _scale_table(spark: SparkSession, src: str, name: str, factor: int) -> DataFrame:
    df = read_parquet(spark, f"{src}/{name}.parquet")
    if name in _FIXED:
        return df
    out = _replicate(df, factor)
    for key in _SHIFT_KEYS[name]:
        out = out.withColumn(key, F.col(key) + F.col("k") * F.lit(STRIDE))
    if name == "documents":
        # per-copy token suffix (identity for copy 0), via split → transform
        # → array_join (regexp_replace can't splice the copy index into its
        # replacement); n_chars recomputed over the rewritten text. Empty
        # tokens from leading/trailing/repeated whitespace are filtered
        # before suffixing (ADVICE r4: an empty edge split would gain a
        # bare '~k' token and break the rename-is-a-bijection-on-shingles
        # invariant for non-canonical whitespace)
        out = out.withColumn(
            "text",
            F.when(F.col("k") == 0, F.col("text")).otherwise(
                F.array_join(
                    F.transform(
                        F.filter(
                            F.split(F.col("text"), r"\s+"), lambda t: t != ""
                        ),
                        lambda t: F.concat(t, F.lit("~"), F.col("k").cast("string")),
                    ),
                    " ",
                )
            ),
        ).withColumn("n_chars", F.length("text").cast("long"))
    if name == "embeddings":
        out = out.withColumn(
            "embedding",
            F.when(F.col("k") == 0, F.col("embedding")).otherwise(
                F.transform(
                    "embedding",
                    lambda x, i: F.when(
                        F.pmod(F.xxhash64(F.col("k"), i), F.lit(2)) == 0, x
                    ).otherwise(-x),
                )
            ),
        )
    return out.drop("k")


def ensure_scaled_fixture(
    spark: SparkSession, src_dir: str, dest_dir: str, factor: int = 10
) -> str:
    """Materialize ``src_dir`` scaled ``factor``× under ``dest_dir``
    (idempotent: a published dir with a ``.done`` marker is reused)."""
    if os.path.exists(os.path.join(dest_dir, ".done")):
        return dest_dir
    tune(spark)
    tmp = f"{dest_dir}.tmp.{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp, exist_ok=True)
    for name in TABLES:
        _scale_table(spark, src_dir, name, factor).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/{name}.parquet")
    with open(os.path.join(tmp, ".done"), "w") as f:
        f.write(f"src={src_dir} factor={factor}")
    try:
        os.rename(tmp, dest_dir)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # concurrent publish won
    return dest_dir
