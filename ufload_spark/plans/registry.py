"""Query registry — the single source of truth for the engine's query surface.

Every operator from SURVEY.md §2 (and every extension operator) registers a
named :class:`Query` here: a Spark callable ``(spark, sf_dir) -> DataFrame``
plus, where SQL-expressible, a DuckDB oracle SQL string over the same parquet
tables. ``__spark_entry__`` exposes this registry to the verification driver.

Column-name discipline: the driver's comparator sorts columns by name before
hashing values, so the Spark result and the oracle SQL must alias every
computed column identically. Registration asserts nothing at import time —
tests enforce parity by running both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: SparkQuery
    oracle: str | None  # DuckDB SQL; None => rows-only check (non-SQL op)
    doc: str = ""


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = "") -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a Spark query with its DuckDB oracle twin."""

    def wrap(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return wrap


def load_all() -> dict[str, Query]:
    """Import every operator module so its registrations run, then return
    the populated registry in registration order."""
    # Imports are side-effectful (decorators populate QUERIES).
    from ufload_spark.operators import (  # noqa: F401
        analytics,
        archive,
        corpus,
        dedup,
        delive,
        events,
        graph,
        listing,
        multimodal,
        names_queries,
        quality,
        pipeline,
        restore_e2e,
        similarity,
        sql_interface,
        skew,
        tpch_full,
        temporal,
        textops,
        udtf_queries,
    )
    from ufload_spark.sources import (  # noqa: F401
        catalog,
        formats,
        layout,
        loader,
        pysource,
        zipsource,
    )
    from ufload_spark.streaming import jobs  # noqa: F401

    return dict(QUERIES)
