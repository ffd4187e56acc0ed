"""Output checks, run once per run outside the timed passes.

Registered queries are compared with their DuckDB oracle over the same
fixture dir by the repository's own comparison (``tests.oracle.compare``).
CLI verbs are checked against the reference's rules:

- ``ls``, ``clean``, ``archive`` and ``upgrade`` return what their
  registered twins (``latest_backup_per_instance``, ``stale_dbs_to_drop``,
  ``archive_merge``, ``version_sort``) return, so they share those oracles;
- ``restore`` returns one report row per matched instance, and ``ok`` is
  true exactly when one of the instance's three newest backups is viable:
  its mtime second is divisible by neither 3 (corrupt archive) nor 5 (two
  members).
"""

from __future__ import annotations

from tests.oracle import compare, duckdb_con
from ufload_spark.operators.listing import BACKUPS_CTE

VERB_TWINS = {
    "ls": "latest_backup_per_instance",
    "clean": "stale_dbs_to_drop",
    "archive": "archive_merge",
    "upgrade": "version_sort",
}

_VIABLE_SQL = BACKUPS_CTE + """
SELECT instance,
       bool_or(second(mtime) % 3 <> 0 AND second(mtime) % 5 <> 0) AS viable
FROM (
  SELECT instance, mtime,
         row_number() OVER (PARTITION BY instance
                            ORDER BY mtime DESC, name DESC) AS rn
  FROM backups
) WHERE rn <= 3 GROUP BY instance
"""


def against_oracle(df, oracle_sql: str, sf_dir: str) -> str | None:
    """None when the Spark frame ``df`` matches the oracle, else what differs."""
    try:
        compare(df, oracle_sql, sf_dir)
    except AssertionError as e:
        return str(e)
    return None


def restore_report(df, instances: list[str], sf_dir: str) -> str | None:
    """None when the restore report follows the listing rule."""
    got = df.toPandas()
    if sorted(got["instance"]) != sorted(instances):
        return f"report instances {sorted(got['instance'])} != {sorted(instances)}"
    con = duckdb_con(sf_dir)
    try:
        viable = dict(con.execute(_VIABLE_SQL).fetchall())
    finally:
        con.close()
    wrong = [
        r.instance for r in got.itertuples() if bool(r.ok) != bool(viable.get(r.instance))
    ]
    return f"ok disagrees with the listing rule for {wrong}" if wrong else None
