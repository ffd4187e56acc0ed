"""SparkSession construction and runtime tuning.

The engine is designed for a multi-executor cluster reading ~100 TB; the
session defaults encode that posture (AQE on, skew-join handling, broadcast
threshold, partition sizing) while remaining correct on ``local[N]``.

Any session handed to us (e.g. by the verification driver) is tuned in place
via :func:`tune` — every conf set there is runtime-settable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to every session the engine touches.
#: - UTC session timezone: the fixture parquet stores timezone-naive
#:   timestamps; UTC makes Spark's reading bit-identical to DuckDB/pandas.
#: - AQE + skew join: at 100 TB, static shuffle partition counts are always
#:   wrong; AQE coalesces small partitions and splits skewed ones at runtime.
#: - Arrow: every pandas_udf / mapInPandas boundary is Arrow-batched.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 64 MiB shuffle target: lets AQE pick partition counts by bytes, not a
    # static number — the knob that survives a 1000× scale-up.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # the events fixture stores TIMESTAMP(NANOS) parquet, which Spark's
    # vectorized reader rejects; read as long and convert in the source
    # (ns % 1000 == 0 in the fixtures, so the conversion is lossless).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Batch shuffles are sized by AQE (advisory bytes above), but streaming
    # state stores fix their partition count from this at first run — the
    # default 200 is pure overhead locally. A cluster deployment overrides.
    "spark.sql.shuffle.partitions": "32",
    # push count/min/max over a parquet scan into its footers (the job
    # reads metadata, no rows). The loader's audit counts and corpus_count
    # need no job at all (sources.tables.footers reads the footers on the
    # driver); the conf stays for every other count() over parquet, whose
    # plans would change without it
    "spark.sql.parquet.aggregatePushdown": "true",
}

#: Build-time confs (only used when WE create the session, e.g. bench/tests).
BUILD_CONF: dict[str, str] = {
    "spark.sql.files.maxPartitionBytes": "128m",
    # Broadcast threshold compares against PRUNED COMPRESSED-COLUMNAR
    # size estimates, but the build side materializes as an in-heap
    # HashedRelation at ~20-30x those bytes (two int64 columns of 15M
    # orders estimate ~50m and hash to ~1g+). At 64m the r11 factor-100
    # spot tier OOMed the 8g heap broadcast-building the ORDERS side of
    # the CF basket join — the r10 size-estimate-flip class, this time
    # from the conf itself; the same arithmetic kills a 4g-executor
    # cluster. 16m bounds the worst-case hashed build to ~300-500m.
    # Genuinely small dims (nation/region/supplier/customer) stay under
    # it at every fixture SF; anything between 16m and 64m was a
    # fact-sized side that had no business broadcasting.
    "spark.sql.autoBroadcastJoinThreshold": "16m",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Idempotent and cheap: each conf.set is a Python→JVM round trip and
    ``tune`` is called from every table scan, so a sentinel attribute on the
    session object skips re-application (a restarted session is a new object
    and gets tuned afresh)."""
    if getattr(spark, "_ufload_spark_tuned", False):
        return spark
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf locked by the host — keep going
            pass
    # The NTZ→TIMESTAMP normalization in sources.tables is only value-safe
    # under a UTC session zone; if the host locked the conf to something
    # else, every epoch extraction would silently shift. Fail loudly instead.
    tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    if tz != "UTC":
        raise RuntimeError(
            f"spark.sql.session.timeZone is locked to {tz!r}; the engine "
            "requires UTC for timestamp_ntz normalization to be value-exact"
        )
    spark._ufload_spark_tuned = True
    return spark


def get_spark(
    app_name: str = "ufload_spark",
    master: str | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Create (or fetch) a tuned SparkSession.

    ``driver_memory`` overrides BUILD_CONF's default 8g for callers that
    model a differently-sized deployment — the factor-100 spot tier runs
    the single local JVM at the per-core memory a real cluster's
    executors would have (8g/32 threads = 250m per task is ~1/8 of
    production guidance, and the deficit, not any plan defect, is what
    an OOM there would otherwise conflate). Only effective when this
    call actually creates the JVM.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``),
    matching the harness environment; on a real cluster the master comes from
    spark-submit and this argument is left None.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = {**BUILD_CONF, **RUNTIME_CONF}
    if driver_memory is not None:
        conf["spark.driver.memory"] = driver_memory
    for k, v in conf.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
