"""Storage-layout operators: bucketed and partitioned table layouts.

The reference tunes physical layout with ``pg_restore -j N`` and post-load
ANALYZE (reference ufload/db.py:61-65,163-175); a Spark warehouse tunes it
with bucketing (pre-shuffled layout → exchange-free joins) and directory
partitioning (partition pruning). Both are registered as driver-verified
queries here: each WRITES the layout through the normal writer, then runs
the query whose plan the layout improves, and the DuckDB oracle checks the
answer survived the layout round-trip. `tests/test_scale.py` pins the plan
properties themselves (no exchange before the bucketed join;
PartitionFilters on the pruned scan).

At 100 TB these layouts are THE repeated-join/selective-scan answer:
bucketing pays one shuffle at write time and amortizes it over every
subsequent orderkey join; partitioning turns a predicate into directory
listing. Bucket/partition counts here are fixture-sized; production sizes
them by data volume (buckets ≈ total/target-file-size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ufload_spark.plans.registry import register
from ufload_spark.sources.loader import _scratch_unique, sf_tag
from ufload_spark.sources.tables import read_parquet, table

N_BUCKETS = 8


def _unique_table(spark: SparkSession, prefix: str, *, max_age_s: float = 3600) -> str:
    """Per-invocation managed-table name ``<prefix>_<ms>_<rand>``, with a
    sweep of same-prefix leftovers older than ``max_age_s`` (dropped from
    the catalog if registered, and their warehouse dirs deleted — a prior
    session's crash leaves the dir without a catalog entry, which makes
    ``saveAsTable`` fail with LOCATION_ALREADY_EXISTS). Unique names mean a
    driver retry can never drop a table a concurrent invocation's lazy
    result still reads.

    Scope note (ADVICE r4): age is the only liveness signal, and the sweep
    both DROPs tables and deletes warehouse dirs — safe for this repo's
    single-driver harness, where every same-prefix artifact belongs to this
    process lineage. If multiple Spark sessions ever shared one warehouse,
    scope the prefix (and the sweep) per session — e.g. include
    ``spark.sparkContext.applicationId`` in ``prefix`` — so one session can
    never drop a >1h-old table another session's live DataFrame still
    reads."""
    import time
    import uuid

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark._jvm
    jwh = jvm.org.apache.hadoop.fs.Path(warehouse)
    fs = jwh.getFileSystem(spark._jsc.hadoopConfiguration())
    now_ms = time.time() * 1000
    if fs.exists(jwh):
        for st in fs.listStatus(jwh):
            name = st.getPath().getName()
            if name.startswith(prefix + "_") and (
                now_ms - st.getModificationTime() >= max_age_s * 1000
            ):
                spark.sql(f"DROP TABLE IF EXISTS {name}")
                fs.delete(st.getPath(), True)
    return f"{prefix}_{int(now_ms):x}_{uuid.uuid4().hex[:8]}"


@register(
    "layout_bucketed_orderkey_join",
    """
SELECT o_orderpriority, count(*) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
    doc="bucketed-layout join: both tables bucketBy(orderkey) → the join "
    "runs exchange-free; revenue rollup read back from the bucketed copies",
)
def layout_bucketed_orderkey_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write lineitem and orders bucketed on the join key, then run the
    classic revenue join ON THE BUCKETED COPIES. Spark records bucket specs
    in the catalog, sees both sides pre-hashed into the same bucket count,
    and plans the join with NO exchange (pinned by
    ``test_bucketed_join_has_no_shuffle``) — at scale this converts every
    recurring orderkey join from two shuffles to zero. The oracle computes
    the same rollup from the raw parquet, proving the bucketed round-trip
    changed the layout, not the data."""
    suffix = sf_tag(sf_dir)
    li_t = _unique_table(spark, f"li_bucketed_{suffix}")
    o_t = _unique_table(spark, f"o_bucketed_{suffix}")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    li.write.bucketBy(N_BUCKETS, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable(li_t)
    o.write.bucketBy(N_BUCKETS, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable(o_t)
    j = spark.table(li_t).join(
        spark.table(o_t), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return (
        j.where(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@register(
    "layout_partitioned_prune",
    """
SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
""",
    doc="partitioned-layout scan: write events partitionBy(event_type), "
    "read back with a partition predicate — pruning at directory level",
)
def layout_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events partitioned by event_type, then aggregate two types
    FROM THE PARTITIONED COPY: the predicate becomes a PartitionFilter —
    Spark lists only the matching directories and never opens the other
    files (pinned by ``test_partitioned_write_prunes``). The layout twin of
    predicate pushdown: pushdown skips row groups, partitioning skips
    whole files. Oracle reads the raw parquet."""
    dest = _scratch_unique(f"events_by_type_{sf_tag(sf_dir)}")
    ev = table(spark, sf_dir, "events")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(dest)
    back = read_parquet(spark, dest).where(
        F.col("event_type").isin("click", "purchase")
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


#: Z-order: 8 bits per dimension → a 16-bit interleaved key;
#: the top 8 key bits form the clustering bucket (≈ one file each)
Z_BITS = 8


@register(
    "layout_zorder_stats",
    """
WITH quant AS (
  SELECT o_orderkey,
         CAST(o_custkey % 256 AS BIGINT) AS xq,
         CAST(datediff('day', DATE '1992-01-01', o_orderdate) % 256 AS BIGINT)
           AS yq
  FROM orders
), zed AS (
  SELECT o_orderkey, xq, yq,
         ((((xq >> 0) & 1) << 0) + (((yq >> 0) & 1) << 1) + (((xq >> 1) & 1) << 2) + (((yq >> 1) & 1) << 3) + (((xq >> 2) & 1) << 4) + (((yq >> 2) & 1) << 5) + (((xq >> 3) & 1) << 6) + (((yq >> 3) & 1) << 7) + (((xq >> 4) & 1) << 8) + (((yq >> 4) & 1) << 9) + (((xq >> 5) & 1) << 10) + (((yq >> 5) & 1) << 11) + (((xq >> 6) & 1) << 12) + (((yq >> 6) & 1) << 13) + (((xq >> 7) & 1) << 14) + (((yq >> 7) & 1) << 15)) AS zval
  FROM quant
)
SELECT CAST(zval >> 8 AS INT) AS bucket,
       count(*) AS n_rows,
       min(xq) AS x_min, max(xq) AS x_max,
       min(yq) AS y_min, max(yq) AS y_max
FROM zed GROUP BY 1
""",
    doc="Z-order clustering index: bit-interleave two quantized dimensions "
    "into one locality-preserving key, bucket by its high bits, and emit "
    "per-bucket min/max ranges — the data-skipping statistics a reader "
    "would prune with",
)
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional clustering for data skipping (the lakehouse
    OPTIMIZE ZORDER BY technique, public): quantize two query dimensions
    (customer key, order date) to Z_BITS bits each, interleave their bits
    into one z-value — pure integer shifts/masks, bit-identical on both
    engines — and cluster rows by the z-value's high byte. The emitted
    per-bucket (min, max) ranges on BOTH source dimensions are exactly
    the footer statistics a scan would prune with: because the z-curve
    preserves locality in every interleaved dimension at once, each
    bucket covers a narrow range of BOTH columns, so predicates on either
    dimension skip most buckets — where linear sorting gives skipping on
    the leading column only (pinned by the range-volume test).

    Plan: one scan, integer map, one hash aggregate on the bucket. At
    100 TB the same z-value is the repartitionByRange / sortWithinPartitions
    key that lays the files out; this query is the planner + audit of
    that layout.

    Reference analog: none (extension surface — storage-layout family).
    """
    o = table(spark, sf_dir, "orders")
    quant = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).cast("long").alias("xq"),
        (F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")) % 256)
        .cast("long")
        .alias("yq"),
    )
    zval = F.expr("(((xq >> 0) & 1) << 0) + (((yq >> 0) & 1) << 1) + (((xq >> 1) & 1) << 2) + (((yq >> 1) & 1) << 3) + (((xq >> 2) & 1) << 4) + (((yq >> 2) & 1) << 5) + (((xq >> 3) & 1) << 6) + (((yq >> 3) & 1) << 7) + (((xq >> 4) & 1) << 8) + (((yq >> 4) & 1) << 9) + (((xq >> 5) & 1) << 10) + (((yq >> 5) & 1) << 11) + (((xq >> 6) & 1) << 12) + (((yq >> 6) & 1) << 13) + (((xq >> 7) & 1) << 14) + (((yq >> 7) & 1) << 15)")
    return (
        quant.select("o_orderkey", "xq", "yq", zval.alias("zval"))
        .groupBy(F.expr("CAST(zval >> 8 AS INT)").alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("xq").alias("x_min"),
            F.max("xq").alias("x_max"),
            F.min("yq").alias("y_min"),
            F.max("yq").alias("y_max"),
        )
    )


@register(
    "layout_dynamic_partition_overwrite",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN event_type = 'click'
                     THEN CAST(floor(value * 100 + 0.5) AS BIGINT) * 2
                     ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END)
            AS BIGINT) AS total_cents
FROM events GROUP BY event_type
""",
    doc="dynamic partition overwrite: rewrite ONLY the click partition "
    "(values doubled) under partitionOverwriteMode=dynamic; untouched "
    "partitions must survive byte-for-byte — proven by exact cent totals",
)
def layout_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INSERT OVERWRITE at partition granularity — the daily-reprocessing
    primitive of every partitioned lake: recompute one day/type and swap
    it in WITHOUT touching siblings. Static overwrite mode would truncate
    the whole table; ``spark.sql.sources.partitionOverwriteMode=dynamic``
    (set per-write here, not session-wide) replaces exactly the
    partitions present in the incoming frame. The query writes events
    partitioned by type, overwrites the ``click`` partition with doubled
    cent values, reads the table back and totals per type in exact
    integers — doubled clicks prove the overwrite landed, exact totals on
    the other four types prove they survived untouched.

    Scale shape: the rewrite's cost is the recomputed partition only; the
    swap is a directory-level commit (the same atomic-rename discipline
    as the loader's staged publish). At 100 TB this plus
    `loader_time_travel`'s pointer versioning is the compaction/backfill
    write path.

    Reference analog: the reference re-restores one instance's DB among
    many (cli/main.py restore loop) — partition-scoped replacement is
    that operation lake-side.
    """
    dest = _scratch_unique(f"events_dpo_{sf_tag(sf_dir)}")
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    ev.write.partitionBy("event_type").mode("overwrite").parquet(dest)
    clicks2 = ev.where(F.col("event_type") == "click").withColumn(
        "cents", F.col("cents") * 2
    )
    (
        clicks2.write.partitionBy("event_type")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(dest)
    )
    back = read_parquet(spark, dest)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("cents").alias("total_cents"),
    )
