from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

#: Default sf0.001 keeps the full suite fast; set UFLOAD_TEST_SF_DIR to run
#: the identical gate at the driver's sf0.01 (or any other fixture dir).
SF_DIR = os.environ.get("UFLOAD_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MID = "/root/testdata/sf0.01"


def persistent_rdds(spark: SparkSession) -> set[int]:
    """Ids of the RDDs the session currently holds persisted (caches and
    local checkpoints alike) — the leak probe of the lifetime tests."""
    return {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    from ufload_spark.session import RUNTIME_CONF

    builder = (
        SparkSession.builder.appName("ufload_spark-tests")
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    s = builder.getOrCreate()
    yield s
    s.stop()
