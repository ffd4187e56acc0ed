"""Every registered query vs its DuckDB oracle at sf0.001 (the driver runs
the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, persistent_rdds
from tests.oracle import compare
from ufload_spark.lifetime import scope
from ufload_spark.plans.registry import load_all

QUERIES = load_all()
NAMES = sorted(QUERIES)


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, name):
    """The query matches its oracle, and leaks nothing: it runs inside a
    lifetime scope, and once the scope exits no persistent RDD it made is
    left (rule 3 of ``ufload_spark.lifetime``)."""
    q = QUERIES[name]
    before = persistent_rdds(spark)
    with scope():
        df = q.fn(spark, SF_DIR)
        if q.oracle is None:
            # rows-only check, like the driver's weaker path
            assert df.count() >= 0
            assert len(df.schema) > 0
        else:
            compare(df, q.oracle, SF_DIR)
    assert not persistent_rdds(spark) - before, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    # stable schema
    assert [f.name for f in df.schema] == ["instance", "name", "mtime", "url"]


def test_contract_shapes():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 30
