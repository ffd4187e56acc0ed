"""Parquet fixture sources.

The reference reaches its data through psql subprocesses over PostgreSQL heap
tables (reference ufload/db.py:73-95); here every table is a columnar parquet
scan whose filters and projections Catalyst pushes into the reader
(PushedFilters / ReadSchema in the physical plan). At 100 TB the same code
path reads a partitioned table directory on object storage — nothing here
assumes a single file.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ufload_spark.session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _session_memo(spark: SparkSession, name: str) -> dict:
    """A dict kept on the session object itself (as :func:`tune` keeps its
    sentinel), so it dies with the session and a new session starts empty.
    A module-level dict keyed on the session would pin every stopped
    session and its frames for the life of the process."""
    return vars(spark).setdefault(f"_ufload_spark_{name}", {})


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-zone TIMESTAMP, whatever
    encoding the fixture generation happened to use. Three dtypes have been
    observed across driver fixture refreshes:

    - ``bigint``: parquet TIMESTAMP(NANOS) read as long (nanosAsLong conf).
      Integer-div to µs, not ``/``: ns epochs exceed double precision
      (2^53), and DuckDB truncates ns→µs the same way.
    - ``timestamp_ntz``: tz-less parquet µs timestamps. ``withWatermark``
      and ``unix_micros`` reject NTZ, so cast to TIMESTAMP. Value-safe
      because the session timezone is pinned to UTC (:func:`tune` raises if
      the host locks it to anything else) — wall-clock values map to the
      same instants DuckDB/pandas see.
    - ``timestamp``: already what every consumer wants; no-op.

    Every fixture read — batch :func:`table`, streaming
    ``events_readstream``, and tests building their own streams — routes
    through this ONE function, so a future driver-side fixture refresh
    changing the encoding again is a one-line fix here, not a hunt.
    """
    from pyspark.sql.types import LongType, TimestampNTZType

    if col not in df.columns:
        return df
    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Column pruning + predicate pushdown are left
    to Catalyst — callers select/filter on the returned DataFrame."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    # a read's schema is one driver-side footer read (:func:`read_parquet`,
    # no job), but each call still lists the path and opens the footer, so
    # each session resolves a table once, the way a catalog would
    tables = _session_memo(spark, "tables")
    df = tables.get((sf_dir, name))
    if df is None:
        tune(spark)
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if name == "events":
            df = normalize_ts(df)
        tables[(sf_dir, name)] = df
    return df


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in field order, or
    dicts keyed by field name) — the one place the engine builds a frame
    from Python values.

    The rows become a ``pyarrow.Table`` with the exact Spark types
    (``to_arrow_schema``), which Spark plans as a ``LocalRelation``: no job
    and no Python worker. ``createDataFrame(<list>)`` instead pickles the
    rows, parallelizes them into ``defaultParallelism`` slices and runs an
    identity map in Python workers, a fixed cost that grows with cores."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = [
        tuple(r[f.name] for f in schema) if isinstance(r, dict) else tuple(r)
        for r in rows
    ]
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    data = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(data, schema)


def _data_files(spark: SparkSession, paths) -> list:
    """The parquet data files under ``paths`` (globs expanded, directories
    walked), skipping what Spark's file index hides: names starting with
    ``_`` (except ``key=value`` partition dirs) or ``.``, and in-flight
    ``._COPYING_`` copies. Each root's files in name order."""
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()

    def hidden(name: str) -> bool:
        return (
            (name.startswith("_") and "=" not in name)
            or name.startswith(".")
            or name.endswith("._COPYING_")
        )

    def walk(fs, st) -> list:
        if not st.isDirectory():
            return [st]
        children = sorted(
            fs.listStatus(st.getPath()), key=lambda c: c.getPath().getName()
        )
        return [
            f
            for c in children
            if not hidden(c.getPath().getName())
            for f in walk(fs, c)
        ]

    files = []
    for p in paths:
        jpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(conf)
        for st in fs.globStatus(jpath) or []:
            files += walk(fs, st)
    return files


def _open_footer(spark: SparkSession, status):
    jvm = spark._jvm
    return jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
            status, spark._jsc.hadoopConfiguration()
        )
    )


def _footer_schema(spark: SparkSession, reader) -> StructType:
    """The schema Spark's parquet inference derives from one footer: the
    Spark row metadata a Spark writer stores, else the parquet schema
    converted under the session's SQL conf (so ``nanosAsLong`` and the
    binary/INT96/NTZ rules apply), then made nullable as a file relation
    makes it."""
    from pyspark.sql.types import _parse_datatype_json_string

    jvm = spark._jvm
    meta = reader.getFooter().getFileMetaData()
    stored = meta.getKeyValueMetaData().get("org.apache.spark.sql.parquet.row.metadata")
    struct = None
    if stored is not None:
        try:
            struct = jvm.org.apache.spark.sql.types.DataType.fromJson(stored)
        except Exception:
            struct = None  # unreadable metadata: Spark falls back to the converter too
    if struct is None:
        conv = jvm.org.apache.spark.sql.execution.datasources.parquet
        struct = conv.ParquetToSparkSchemaConverter(
            spark._jsparkSession.sessionState().conf()
        ).convert(meta.getSchema())
    return _parse_datatype_json_string(struct.asNullable().json())


def footers(spark: SparkSession, *paths: str) -> tuple[StructType, int]:
    """``(schema, rows)`` of the parquet data under ``paths``, read from the
    footers on the driver: no job. The schema is the one inference gives
    (first data file, :func:`_footer_schema`); the rows are the sum of
    every data file's footer record count, the figure Spark's aggregate
    pushdown computes for ``count()``. With no data file at all, Spark's
    own inference decides: it raises on an empty or missing path."""
    files = _data_files(spark, paths)
    if not files:
        return spark.read.parquet(*paths).schema, 0
    schema, rows = None, 0
    for st in files:
        reader = _open_footer(spark, st)
        try:
            rows += reader.getRecordCount()
            if schema is None:
                schema = _footer_schema(spark, reader)
        finally:
            reader.close()
    return schema, rows


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the schema taken from the first
    data file's footer on the driver instead of a schema-inference job.
    The plan is the same (a user schema equal to the inferred one; key=value
    partition columns are still discovered by the file index)."""
    files = _data_files(spark, paths)
    if not files:
        return spark.read.parquet(*paths)  # Spark raises, as inference does
    reader = _open_footer(spark, files[0])
    try:
        schema = _footer_schema(spark, reader)
    finally:
        reader.close()
    return spark.read.schema(schema).parquet(*paths)


#: The incremental tiers' stand-in for "a new batch against the published
#: corpus": ids divisible by BATCH_MOD are the batch, the rest the corpus.
#: Fixture patterns planted for these tiers must be coprime with it, or
#: batch rows only ever collide with batch rows.
BATCH_MOD = 4


def in_batch(col: str = "doc_id") -> Column:
    """The batch side of the split; ``~in_batch(col)`` is the corpus side."""
    return F.col(col) % BATCH_MOD == 0


#: fewest rows per task of a spread sized by ``n_rows``: below ~1k rows a
#: task's fixed cost (scheduling, the exchange, the AQE coalescing a
#: REPARTITION_BY_NUM disables) exceeds the parallelism it buys
SPREAD_ROWS_PER_TASK = 1024


def parallelism(spark: SparkSession, floor: int = 8) -> int:
    """The session's cores, at least ``floor``: the width of every explicit
    hash spread (the floor only matters on tiny local sessions)."""
    return max(spark.sparkContext.defaultParallelism, floor)


def spread(
    df: DataFrame,
    *keys,
    n_rows: int | None = None,
    src: tuple | None = None,
    waves: int = 1,
) -> DataFrame:
    """Hash-repartition ``df`` on ``keys`` to ``waves`` × :func:`parallelism`
    tasks — the one explicit spread in the engine.

    Why: the fixtures are one parquet file with one row group per table,
    so a scan arrives in 1–2 splits and all per-row work above it (regex
    passes, explodes, hash fan-outs, partial aggregates, the vector
    kernels) runs on one core while the rest idle. At 100 TB the same
    table arrives in thousands of splits and the spread is a no-op, or the
    exchange the downstream per-key work demands anyway. Values never
    change: the reductions above a spread are exact-integer, rounded to
    shared decimals, or per-row maps.

    The rule, one skip per size hint:

    - ``src`` (``(sf_dir, table)`` of the scan ``df`` reads): skip when the
      scan already has at least as many splits as the session has cores.
      The split count is read once per session and table (plan
      compilation, no job).
    - ``n_rows`` (the frame's row bound): the width is capped at
      ``n_rows // SPREAD_ROWS_PER_TASK``, and a width of 1 or less skips.
    - neither: always spread."""
    spark = df.sparkSession
    n = waves * parallelism(spark)
    if src is not None:
        splits = _session_memo(spark, "scan_splits")
        if src not in splits:
            splits[src] = df.rdd.getNumPartitions()
        if splits[src] >= parallelism(spark, floor=1):
            return df
    if n_rows is not None:
        n = min(n, n_rows // SPREAD_ROWS_PER_TASK)
        if n <= 1:
            return df
    return df.repartition(n, *keys)


#: (sf_dir, name) → row count. Corpus counts parameterize the
#: self-bounding density knobs (LSH bits-per-band, record-linkage block
#: fan-out, quantile-sample threshold, winnowing df cap): fixtures are
#: immutable within a session, and the count is the table's footer record
#: counts summed on the driver (:func:`footers`, no job), so one footer read
#: per (dir, table) is the whole cost of making every knob scale-aware
#: instead of a constant that is wrong at 100x.
_COUNT_CACHE: dict[tuple[str, str], int] = {}


def corpus_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Cached row count of one fixture table — the plan-build-time input
    to every corpus-derived knob (the ``lsh_r`` discipline: the Python
    side derives a literal from this count; the oracle computes the
    IDENTICAL formula in a scalar CTE over ``count(*)``, so both engines
    agree at any scale factor)."""
    import os as _os

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    key = (_os.path.abspath(sf_dir), name)
    if key not in _COUNT_CACHE:
        tune(spark)
        _COUNT_CACHE[key] = footers(spark, f"{sf_dir}/{name}.parquet")[1]
    return _COUNT_CACHE[key]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for spark.sql() use."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
