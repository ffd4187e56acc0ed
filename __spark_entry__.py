"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``ufload_spark`` package; this file only adapts
its query registry to the driver's interface, ordered for the driver's
sample (:func:`queries`).
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ufload_spark.plans.registry import load_all


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Latest backup per instance (OP-WIN-1 + OP-FIL-1 + OP-SORT-1) — the core
    of the reference's ``ls``/``restore`` source selection.
    """
    from ufload_spark.operators.listing import latest_backup_per_instance

    return latest_backup_per_instance(spark, "/root/testdata/sf0.001")


def _driver_history(repo_root: str | None = None) -> tuple[set[str], set[str]]:
    """``(verified, sampled)`` name sets from the CORRECTNESS_r*.json artifacts.

    The verification driver samples at most ~50 registry entries per round, in
    iteration order. To converge on full driver-side coverage :func:`queries`
    puts unverified queries first; this reads the accumulated round artifacts
    to know which ones those are. "Verified" means a fully green row — rows,
    schema, AND value hash all matching with no error; a hash-mismatched row
    is an unverified query that must re-sort to the front of the sample.
    "Sampled" is any appearance at all, green or not. Missing or malformed
    artifacts degrade gracefully to plain registration order.
    """
    if repo_root is None:
        repo_root = os.path.dirname(os.path.abspath(__file__))
    verified: set[str] = set()
    sampled: set[str] = set()
    for path in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            sampled.add(name)
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and row.get("err") is None
            ):
                verified.add(name)
    return verified, sampled


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered
    never-driver-verified-first (see :func:`_driver_history`), highest
    urgency first: (1) sampled by the driver but never fully green (known
    fails being re-fixed), (2) never reached by the driver's sample,
    (3) verified. Registration order within each bucket."""
    verified, sampled = _driver_history()

    def bucket(name: str) -> int:
        return 2 if name in verified else 0 if name in sampled else 1

    registry = load_all()
    return {name: registry[name].fn for name in sorted(registry, key=bucket)}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every SQL-expressible query; non-SQL ops are
    omitted (driver records a rows-only check)."""
    return {name: q.oracle for name, q in load_all().items() if q.oracle is not None}
