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
    # spark.read.parquet re-reads footers for schema inference on every
    # call — pure driver-side latency — so each session resolves a table
    # once, the way a catalog would
    tables = _session_memo(spark, "tables")
    df = tables.get((sf_dir, name))
    if df is None:
        tune(spark)
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            df = normalize_ts(df)
        tables[(sf_dir, name)] = df
    return df


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
#: immutable within a session, and a parquet count is a metadata-only
#: footer scan, so one count per (dir, table) is the whole cost of making
#: every knob scale-aware instead of a constant that is wrong at 100x.
_COUNT_CACHE: dict[tuple[str, str], int] = {}


def corpus_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Cached row count of one fixture table — the plan-build-time input
    to every corpus-derived knob (the ``lsh_r`` discipline: the Python
    side derives a literal from this count; the oracle computes the
    IDENTICAL formula in a scalar CTE over ``count(*)``, so both engines
    agree at any scale factor)."""
    import os as _os

    key = (_os.path.abspath(sf_dir), name)
    if key not in _COUNT_CACHE:
        _COUNT_CACHE[key] = table(spark, sf_dir, name).count()
    return _COUNT_CACHE[key]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for spark.sql() use."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
