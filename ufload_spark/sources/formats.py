"""Source-format breadth: CSV, JSON-lines, and ORC round-trips.

The engine's native format is parquet; real ingestion also arrives as CSV
and JSON lines (and ORC from Hive-era warehouses). Each query here WRITES a
fixture slice in the format through Spark's writer, reads it back through
the real reader with an EXPLICIT schema (schema inference is a full extra
pass over the data — never pay it at 100 TB), and aggregates; the DuckDB
oracle computes the same aggregate from the original parquet, so a lossy
encode/decode (quoting, timestamp formatting, null handling) hash-fails.

Scale posture: all three formats split across executors (CSV/JSON by line,
ORC by stripe); only parquet/ORC carry column statistics, so CSV/JSON are
ingest formats — land, convert to parquet via the staged loader, query the
columns. That conversion IS ``stage_and_publish``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ufload_spark.plans.registry import register
from ufload_spark.sources.loader import _scratch_unique, sf_tag
from ufload_spark.sources.tables import table

_ORDERS_AGG_SQL = """
SELECT o_orderstatus, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total,
       strftime(min(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS first_date
FROM orders WHERE o_custkey % 10 = 0
GROUP BY o_orderstatus
"""

_ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate date, o_orderpriority string"
)


def _orders_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 10 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            # the fixture stores o_orderdate as timestamp; DATE is the
            # text-format-friendly type being round-tripped here
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


def _agg(df: DataFrame) -> DataFrame:
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        # string-typed on both sides: pandas coerces DuckDB DATEs to
        # midnight Timestamps, which would hash-differ from Spark's dates
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_date"),
    )


def _roundtrip(
    spark: SparkSession, sf_dir: str, fmt: str, options: dict | None = None
) -> DataFrame:
    # unique per-invocation dest: these queries write-then-lazily-read, so a
    # shared path would let a driver retry observe a mid-rewrite directory
    dest = _scratch_unique(f"orders_{fmt}_{sf_tag(sf_dir)}")
    w = _orders_slice(spark, sf_dir).write.mode("overwrite").format(fmt)
    r = spark.read.format(fmt).schema(_ORDERS_SCHEMA)
    for k, v in (options or {}).items():
        w = w.option(k, v)
        r = r.option(k, v)
    w.save(dest)
    return _agg(r.load(dest))


@register(
    "source_csv_roundtrip",
    _ORDERS_AGG_SQL,
    doc="CSV source: write → read back with explicit schema (header, "
    "quoting) → aggregate; oracle from the original parquet",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV is the lowest-common-denominator ingest format: no types, no
    stats, line-splittable. The explicit schema avoids the inference pass
    (a full extra scan); header + quote handling round-trips strings with
    commas. Values surviving the text round-trip bit-exact is what the
    oracle pins."""
    return _roundtrip(spark, sf_dir, "csv", {"header": "true"})


@register(
    "source_json_roundtrip",
    _ORDERS_AGG_SQL,
    doc="JSON-lines source: write → schema-explicit read → aggregate; "
    "oracle from the original parquet",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON lines: self-describing field names but stringly-typed values —
    the explicit schema does the coercion at scan time (PERMISSIVE mode;
    corrupt rows would surface in ``_corrupt_record`` rather than failing
    the job, the posture bulk ingest wants)."""
    return _roundtrip(spark, sf_dir, "json")


@register(
    "source_orc_roundtrip",
    _ORDERS_AGG_SQL,
    doc="ORC source: columnar round-trip (stripe-split, stats-bearing) — "
    "the Hive-era interchange format",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC is the other columnar: stripes split across executors, min/max
    stats support predicate pushdown like parquet. Same round-trip
    contract as the text formats."""
    return _roundtrip(spark, sf_dir, "orc")


@register(
    "source_schema_evolution",
    """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_priority,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus
""",
    doc="schema evolution: old-schema and new-schema parquet files read as "
    "one table via mergeSchema; missing columns null-padded",
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A table whose schema grew mid-life — the normal state of a 100 TB
    dataset written over months. Half of ``orders`` is written WITHOUT
    ``o_orderpriority`` (the old producer), half WITH it (the new one),
    into the same directory; ``mergeSchema=true`` reconciles the footers
    into the union schema and null-pads the old files' missing column at
    scan time — no rewrite of historical data. The oracle checks the
    null-padding exactly: ``count(o_orderpriority)`` must equal the
    new-schema row count.

    Scale note: ``mergeSchema`` reads every file footer at planning time —
    on object stores pin a table-format (Delta/Iceberg) schema instead;
    the scan-side semantics (union schema, null padding) are identical.
    """
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    # unique per-invocation dest (r3 driver hash-fail post-mortem): the
    # overwrite-then-append below is observably non-atomic, so the dir must
    # belong to THIS invocation alone
    dest = _scratch_unique(f"orders_evolved_{sf_tag(sf_dir)}")
    old = base.where(F.col("o_orderkey") % 2 == 0).drop("o_orderpriority")
    new = base.where(F.col("o_orderkey") % 2 == 1)
    old.write.mode("overwrite").parquet(dest)
    new.write.mode("append").parquet(dest)
    merged = spark.read.option("mergeSchema", "true").parquet(dest)
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.count("o_orderpriority").alias("n_with_priority"),
        # decimal accumulate → double: sum is exact whatever the partition /
        # reduction order; round(sum(double),2) is not, in principle
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


@register(
    "source_corrupt_records",
    """
SELECT CASE WHEN doc_id % 7 = 3 THEN NULL ELSE lang END AS lang,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN doc_id % 7 = 3 THEN NULL ELSE n_chars END)
            AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1
""",
    doc="malformed-record handling: JSONL with deterministically truncated "
    "lines read under PERMISSIVE + columnNameOfCorruptRecord; corrupt rows "
    "group under NULL lang — oracle by construction from the clean table",
)
def source_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-records ingestion semantics — the part of a 100 TB JSONL landing
    zone that always exists and engines must not silently drop. The query
    synthesizes the landing file itself from ``documents`` (every
    ``doc_id % 7 == 3`` line truncated mid-token, so corruption is
    deterministic and the ORACLE is computable from the clean table by
    construction — no cross-engine JSON-error-semantics dependency), then
    reads it back with an explicit schema under PERMISSIVE mode with
    ``columnNameOfCorruptRecord``: malformed lines surface as a non-null
    corrupt column and null fields, never as dropped rows. The aggregate
    groups corrupt rows under NULL lang and proves (via the count and the
    null-sum) that exactly the planted lines — and only those — failed.

    Scale shape: text write + line-split JSON read are both
    executor-parallel; the aggregate is one shuffle. DROPMALFORMED /
    FAILFAST are the same reader with a different mode knob; a production
    pipeline routes the corrupt column to a quarantine sink (the loader's
    staging discipline) instead of aggregating it.
    """
    dest = _scratch_unique(f"docs_jsonl_{sf_tag(sf_dir)}")
    d = table(spark, sf_dir, "documents").select(
        F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("line"),
        "doc_id",
    )
    lines = d.select(
        F.when(
            F.col("doc_id") % 7 == 3,
            F.substring(F.col("line"), 1, F.length("line") - 5),
        )
        .otherwise(F.col("line"))
        .alias("value")
    )
    lines.write.mode("overwrite").format("text").save(dest)
    parsed = (
        spark.read.schema(
            "doc_id long, lang string, n_chars long, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(dest)
    )
    # group on the corrupt FLAG, not on parsed fields: since SPARK-40646
    # PERMISSIVE may keep partial results (fields parsed before the error),
    # so lang can be non-null even on a corrupt row
    return parsed.groupBy(
        F.when(F.col("_corrupt").isNull(), F.col("lang")).alias("lang")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(F.col("_corrupt").isNull(), F.col("n_chars"))
        ).alias("sum_chars"),
    )
