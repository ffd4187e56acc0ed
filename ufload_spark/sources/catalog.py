"""Catalog scans as relational data (OP-SRC-11, SURVEY §2.1).

The reference queries PostgreSQL system catalogs as ordinary tables — DBs
per owner (reference ufload/db.py:679-685 ``pg_database`` ∩ ``pg_user``),
table existence (db.py:687-690, 698 ``information_schema.tables``), server
version (db.py:569-571). Spark's equivalents are ``spark.catalog``
listings; here they are lifted into DataFrames so the same relational
operators (filters, joins against instance lists, OP-JOIN-5 stale-db
pruning) run over catalog metadata exactly as the reference runs SQL over
``pg_database``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ufload_spark.plans.registry import register
from ufload_spark.sources.tables import TABLES, local_frame, register_views, table


def tables_df(spark: SparkSession) -> DataFrame:
    """``spark.catalog.listTables()`` as a DataFrame — the catalog scan the
    reference does against information_schema (db.py:687-698). The listing
    is driver-side metadata (it is in PostgreSQL too); the DataFrame makes
    it joinable."""
    rows = [
        (t.name, t.tableType, t.isTemporary)
        for t in spark.catalog.listTables()
    ]
    return local_frame(
        spark, rows, "table_name string, table_type string, is_temporary boolean"
    )


def table_exists(spark: SparkSession, name: str) -> bool:
    """``exists`` (reference db.py:687-690): skip-if-exists probe before an
    expensive restore."""
    return spark.catalog.tableExists(name)


@register(
    "catalog_tables",
    "SELECT unnest(["
    + ", ".join(f"'{t}'" for t in sorted(TABLES))
    + "]) AS table_name",
    doc="OP-SRC-11 catalog scan: registered tables as a relational listing "
    "(db.py:679-698)",
)
def catalog_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register the fixture views, then scan the session catalog and project
    the engine's tables — the information_schema probe as a DataFrame."""
    register_views(spark, sf_dir)
    return (
        tables_df(spark)
        .where(F.col("table_name").isin(*TABLES))
        .select("table_name")
        .distinct()
    )


@register(
    "catalog_exists_probe",
    """
SELECT 'events' AS table_name, TRUE AS table_exists
UNION ALL
SELECT 'no_such_table' AS table_name, FALSE AS table_exists
""",
    doc="OP-STR-2/OP-FIL-8 skip-if-exists probe (db.py:687-690)",
)
def catalog_exists_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The restore loop's ``exists`` guard (reference cli/main.py:324-331):
    probe the catalog before doing work."""
    register_views(spark, sf_dir)
    rows = [
        ("events", table_exists(spark, "events")),
        ("no_such_table", table_exists(spark, "no_such_table")),
    ]
    return local_frame(spark, rows, "table_name string, table_exists boolean")


# keep the imported helper referenced (used by callers composing catalog
# scans with real table reads)
_ = table
