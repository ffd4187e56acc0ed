"""Streaming jobs over the ``events`` fixture (SURVEY §2.9, OP-STR-1..3).

Each registered query runs a REAL Structured Streaming pipeline: a
``readStream`` parquet file source, event-time transformations, a memory
sink, and a ``Trigger.AvailableNow`` run to completion — then returns the
sink contents as a DataFrame. Results are deterministic (complete-mode
aggregation, or an order-insensitive post-aggregate over the sink), so each
job has an exact DuckDB oracle shared with its batch twin in
:mod:`ufload_spark.operators.events`.

At 100 TB these same plans run unmodified against a continuous source
(Kafka / object-store file arrivals): the file source scales by splitting
input across executors; state (window partials, dedup keys, per-user
session state) lives in the partitioned state store keyed by the groupBy
columns, so stateful work shuffles once on the key and scales with
executors, not with history.
"""

from __future__ import annotations

import itertools
import os
import tempfile
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ufload_spark.lifetime import cut, scope
from ufload_spark.operators.dedup import (
    _SIMHASH_BITSUMS_SQL,
    _SIMHASH_COMBINE_SQL,
    _SIMHASH_PROBE_SQL,
    dedup_simhash,
    exact_index,
    simhash_collided,
    simhash_frame,
    text_fingerprint,
)
from ufload_spark.operators.events import (
    SESSION_WINDOWS_SQL,
    SLIDING_WINDOWS_SQL,
    TUMBLING_HOURLY_SQL,
    session_windows,
    sliding_windows,
    tumbling_hourly,
)
from ufload_spark.plans.registry import register
from ufload_spark.session import tune
from ufload_spark.sources.tables import (
    footers,
    in_batch,
    local_frame,
    normalize_ts,
    read_parquet,
)

_SINK_SEQ = itertools.count()


def events_readstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet. The schema is taken from the
    file's footer (file sources need it declared up front); the ns-timestamp
    conversion mirrors sources.tables (nanosAsLong, integer div — double
    division corrupts ns epochs beyond 2^53)."""
    tune(spark)
    path = f"{sf_dir}/events.parquet"
    raw_schema = footers(spark, path)[0]
    # the file source wants a directory (or glob) — the fixture is a single
    # file, so address it through a trivial glob whose non-wildcard prefix
    # (the directory) becomes the basePath; a real deployment streams a
    # directory of arriving files and this disappears
    sdf = spark.readStream.schema(raw_schema).parquet(
        f"{sf_dir}/events.[p]arquet"
    )
    return normalize_ts(sdf)


def run_to_memory(
    sdf: DataFrame, *, output_mode: str, prefix: str
) -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) into a
    memory sink and return the sink table. Sink names are unique per call so
    repeated driver invocations never collide."""
    name = f"{prefix}_{os.getpid()}_{next(_SINK_SEQ)}"
    ckpt = tempfile.mkdtemp(prefix=f"ufload-ckpt-{name}-")
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


@register(
    "streaming_tumbling_hourly",
    TUMBLING_HOURLY_SQL,
    doc="Structured Streaming tumbling-window aggregate run to completion "
    "(readStream → watermark → window agg → memory sink, AvailableNow)",
)
def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of ``events_tumbling_hourly``, actually executed
    through the streaming engine. Complete output mode makes the final sink
    contents equal the batch aggregate regardless of how the source was
    batched; the watermark (OP-STR-1, the reference's 900 s guard) bounds
    state eviction in a continuous deployment."""
    sdf = events_readstream(spark, sf_dir).withWatermark("ts", "15 minutes")
    return run_to_memory(
        tumbling_hourly(sdf), output_mode="complete", prefix="tumbling"
    )


@register(
    "streaming_sliding_windows",
    SLIDING_WINDOWS_SQL,
    doc="Structured Streaming sliding-window aggregate (1 h window, 30 min "
    "slide) run to completion — overlapping-window state in the streaming "
    "engine, complete mode",
)
def streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of ``events_sliding_windows`` (same oracle):
    overlapping windows mean each event updates window_size/slide state
    rows — the state-store shape that distinguishes sliding from tumbling
    at scale (state keys ×2 here, watermark evicts each window
    slide-by-slide). Complete mode makes the final sink equal the batch
    aggregate under any batching."""
    sdf = events_readstream(spark, sf_dir).withWatermark("ts", "15 minutes")
    return run_to_memory(
        sliding_windows(sdf), output_mode="complete", prefix="sliding"
    )


@register(
    "streaming_dedup_users_per_type",
    """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
    doc="streaming dropDuplicates (stateful key dedup) → distinct users per type",
)
def streaming_dedup_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication (OP-STR-2's idempotent-replay shape): project
    to the key columns, ``dropDuplicates`` keeps the first arrival per
    (user_id, event_type) in the state store, the memory sink receives each
    key once. A batch count over the sink is then exactly
    count-distinct-users per type. Projecting BEFORE the dedup means
    whichever physical row wins, the emitted data is identical —
    deterministic under any batching."""
    sdf = events_readstream(spark, sf_dir)
    deduped = sdf.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    sink = run_to_memory(deduped, output_mode="append", prefix="dedup")
    return sink.groupBy("event_type").agg(F.count("*").alias("n_users"))


_STATE_OUT_SCHEMA = "user_id long, last_ts timestamp, n_events long"
_STATE_SCHEMA = "last_us long, n_events long"


def _track_user_state(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: per-user running (max event time, count).

    The state tuple stores the timestamp as int64 microseconds — the state
    store codec round-trips primitives, not tz-aware pandas timestamps.
    """
    last_us, n = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        batch_max = pdf["ts"].max()
        last_us = max(last_us, int(batch_max.value) // 1000)
    state.update((last_us, n))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "last_ts": [pd.Timestamp(last_us * 1000)],
            "n_events": [n],
        }
    )


@register(
    "streaming_user_activity_stateful",
    """
SELECT user_id, max(ts) AS last_ts, count(*) AS n_events
FROM events GROUP BY user_id
""",
    doc="custom stateful streaming operator (applyInPandasWithState): "
    "per-user activity tracking, final state per user",
)
def streaming_user_activity_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInPandasWithState`` — the escape hatch for operators Spark
    lacks (per-key custom state machines). Each micro-batch updates per-user
    state and emits the current (last_ts, n_events); the sink then holds one
    row per user per batch that touched it, and a keep-latest batch
    aggregate (max is monotone here) recovers the final state — so the
    result is deterministic whatever the batching. State is hash-partitioned
    by user_id: memory scales with #users per executor, not stream length."""
    sdf = events_readstream(spark, sf_dir)
    tracked = sdf.groupBy("user_id").applyInPandasWithState(
        _track_user_state,
        outputStructType=_STATE_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_to_memory(tracked, output_mode="update", prefix="state")
    return sink.groupBy("user_id").agg(
        F.max("last_ts").alias("last_ts"), F.max("n_events").alias("n_events")
    )


@register(
    "streaming_interval_join",
    """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       CAST((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS BIGINT) AS dt_s
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
    doc="stream-stream interval join (clicks ⋈ purchases within 30 min, "
    "watermarks both sides) run to completion via AvailableNow",
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream join surface: two event streams joined per user
    with a time-band predicate. Both sides carry watermarks and the join
    condition bounds event-time distance, so the state store can EVICT —
    each side retains only rows inside (watermark - band), the property
    that makes a continuous deployment's state finite. Inner join + append
    mode means the sink holds exactly the matched pairs regardless of
    batching, so the batch inequality join is an exact oracle.

    Watermark choice: generous (31 days, beyond the fixture's whole
    event-time span) so the exact-match oracle holds under ANY
    micro-batching of the input, not just the single-batch single-file
    fixture (r2 ADVICE: a 1-hour watermark silently drops matches once the
    source splits into multiple files). A production deployment trading
    completeness for bounded state would shrink it to its lateness SLA —
    see test_interval_join_invariant_under_micro_batching."""
    clicks = (
        events_readstream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "31 days")
    )
    purchases = (
        events_readstream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "31 days")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + INTERVAL 30 MINUTES"
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        # p_ts/c_ts are TIMESTAMP here — events_readstream normalizes the
        # source before the watermark — so unix_micros applies directly
        F.expr("(unix_micros(p_ts) - unix_micros(c_ts)) div 1000000").alias(
            "dt_s"
        ),
    )
    return run_to_memory(joined, output_mode="append", prefix="ssjoin")


@register(
    "streaming_dedup_within_watermark",
    """
SELECT event_type, count(*) AS n_first_arrivals
FROM (
  SELECT DISTINCT user_id, event_type FROM events
) GROUP BY event_type
""",
    doc="dropDuplicatesWithinWatermark: streaming dedup whose key state "
    "EVICTS once the watermark passes — bounded state, unlike plain "
    "dropDuplicates",
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup (the production form of
    ``streaming_dedup_users_per_type``): plain ``dropDuplicates`` keeps
    every key it has ever seen — state grows with history, eventually
    fatal on a continuous stream. ``dropDuplicatesWithinWatermark``
    guarantees dedup only for duplicates arriving within the watermark
    delay and EVICTS older key state. The fixture's event-time span sits
    inside one AvailableNow run's watermark progression per key, so the
    sink equals exact distinct — which the oracle checks; on an unbounded
    stream the same query runs with finite state."""
    sdf = events_readstream(spark, sf_dir).withWatermark("ts", "31 days")
    deduped = sdf.select("user_id", "event_type", "ts").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    sink = run_to_memory(deduped, output_mode="append", prefix="dedup_wm")
    return sink.groupBy("event_type").agg(F.count("*").alias("n_first_arrivals"))


@register(
    "streaming_static_enrich",
    """
SELECT c.c_mktsegment AS segment,
       count(*) AS n_events,
       round(sum(e.value), 2) AS total_value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id % 100 + 1
GROUP BY c.c_mktsegment
""",
    doc="stream-static join: streaming events enriched against a static "
    "dimension table (broadcast per micro-batch), windowless complete agg",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-static join surface: each micro-batch of the event
    stream joins against a STATIC dimension frame — Spark re-plans the
    join per batch, broadcasting the dimension side, with no state store
    involvement at all (only stream-stream joins need state). This is the
    enrichment shape of every production pipeline (events × customer /
    device / geo dims); at 100 TB of stream the dimension stays
    executor-cached and the stream never shuffles for the join. Inner
    join + complete-mode aggregate makes the sink equal the batch twin
    regardless of batching, giving an exact oracle.

    The synthetic key maps users onto the customer table's key range
    (events and TPC-H tables are unrelated fixtures) — the join mechanics,
    not the key choice, are what's under test."""
    from ufload_spark.sources.tables import table as static_table

    sdf = events_readstream(spark, sf_dir)
    dim = static_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = sdf.withColumn(
        "c_custkey", (F.col("user_id") % 100 + 1)
    ).join(F.broadcast(dim), "c_custkey")
    agg = enriched.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return run_to_memory(agg, output_mode="complete", prefix="enrich")


@register(
    "streaming_upsert_publish",
    """
SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events GROUP BY event_type
""",
    doc="incremental load sink: readStream → foreachBatch MERGE upsert → "
    "stage/audit/atomic publish per micro-batch; aggregate read back from "
    "the published table",
)
def streaming_upsert_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production CDC loop, end to end: each micro-batch MERGEs into
    the published table (strict mode — duplicate keys in a batch abort the
    write) and republishes through the stage→audit→atomic-swap lifecycle,
    so readers always see a complete, audited table between batches. This
    composes OP-SNK-1 (the loader) with OP-STR-2 (incremental idempotent
    loads) the way a warehouse ingests a change stream.

    Because event_id is unique, the final table equals the full event set
    under ANY batching — the exact-oracle property; with updates in the
    stream the same loop degrades gracefully to last-write-wins per key.
    At 100 TB the per-batch full-outer merge is the plain-parquet shape of
    what Delta/Iceberg MERGE does against indexed file groups; the
    stage/audit/publish sequence is unchanged there."""
    from ufload_spark.operators.archive import merge_upsert
    from ufload_spark.sources.loader import (
        _fs,
        _scratch_unique,
        sf_tag,
        stage_and_publish,
    )
    from ufload_spark.streaming.notify import run_with_notify

    sdf = events_readstream(spark, sf_dir).select("event_id", "event_type", "value")
    # unique target per invocation: reruns start from batch zero, and no
    # concurrent/retried invocation can observe this one's target mid-merge
    target = _scratch_unique(f"events_upserted_{sf_tag(sf_dir)}")

    def upsert_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        s = batch.sparkSession
        bfs, bjtarget, _ = _fs(s, target)
        existing = (
            read_parquet(s, target)
            if bfs.exists(bjtarget)
            else local_frame(s, [], batch.schema)
        )
        merged = merge_upsert(existing, batch, ["event_id"], on_duplicate="raise")
        stage_and_publish(s, merged, target)

    ckpt = tempfile.mkdtemp(prefix="ufload-ckpt-upsert-")
    run_with_notify(sdf, upsert_batch, checkpoint_dir=ckpt)
    return (
        read_parquet(spark, target)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "streaming_session_windows",
    SESSION_WINDOWS_SQL,
    doc="Structured Streaming session windows (30 min inactivity gap) run "
    "to completion — MERGING session state, complete mode",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of ``events_session_windows`` (same
    gaps-and-islands oracle): ``session_window`` state rows are not
    fixed-keyed like tumbling/sliding windows — adjacent sessions MERGE
    when a late event bridges their gap, the state shape that makes
    sessionization the hardest windowed aggregate for a streaming engine
    (state key ranges change as data arrives). Complete mode + AvailableNow
    makes the final sink equal the batch sessionization under any
    micro-batching; the watermark bounds how long an open session can wait
    for a bridging event in a continuous deployment."""
    sdf = events_readstream(spark, sf_dir).withWatermark("ts", "15 minutes")
    return run_to_memory(
        session_windows(sdf), output_mode="complete", prefix="sessions"
    )


@register(
    "streaming_hier_rollup",
    """
WITH wm AS (SELECT max(ts) - INTERVAL 15 MINUTE AS w FROM events)
SELECT * FROM (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         count(*) AS n_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
           AS total_value
  FROM events GROUP BY 1, 2
) WHERE window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
""",
    doc="chained stateful streaming rollup: minute window agg feeding an "
    "hour window agg in ONE streaming query (multiple stateful operators, "
    "append mode) — the streaming twin of events_hier_rollup's cascade",
)
def streaming_hier_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate cascade running INSIDE the streaming
    engine: a 1-minute windowed aggregation whose partials feed a 1-hour
    windowed aggregation in the same query — Spark's multiple-stateful-
    operator support (3.4+, public), where ``F.window`` over the upstream
    WINDOW COLUMN chains the second state store off the first's output
    watermark. Measures are integer cents like the batch cascade, so the
    two-level re-aggregation is exact under any micro-batching.

    Chaining requires APPEND mode: a window only emits once the watermark
    passes its end, so the final sink holds every hour window except the
    trailing unfinalized one still in state. That emission rule is part
    of the operator's semantics, and the oracle states it literally —
    hour windows whose end ≤ max(ts) − the 15-minute watermark delay.
    At 100 TB both state stores shuffle once on their window key and
    evict by watermark: state is bounded by ACTIVE windows per level,
    exactly like the batch cascade's partials, plus replay-safe recovery
    from the checkpoint.
    """
    sdf = events_readstream(spark, sf_dir).withWatermark("ts", "15 minutes")
    cents = F.round(F.col("value") * 100).cast("long")
    minute = sdf.groupBy(F.window("ts", "1 minute").alias("w1"), "event_type").agg(
        F.count("*").alias("n"), F.sum(cents).alias("c")
    )
    hourly = (
        minute.groupBy(F.window(F.col("w1"), "1 hour").alias("w2"), "event_type")
        .agg(F.sum("n").alias("n_events"), F.sum("c").alias("sum_cents"))
        .select(
            F.col("w2.start").alias("window_start"),
            "event_type",
            "n_events",
            (F.col("sum_cents").cast("double") / 100.0).alias("total_value"),
        )
    )
    return run_to_memory(hourly, output_mode="append", prefix="hier_rollup")


from ufload_spark.operators.events import CM_DEPTH as _CM_D, CM_WIDTH as _CM_W, _cm_bucket_sql as _cm_b


@register(
    "streaming_countmin_sketch",
    f"""
SELECT t.d, {_cm_b("t.d", "user_id")} AS bucket,
       CAST(count(*) AS BIGINT) AS c
FROM events, range({_CM_D}) t(d)
GROUP BY 1, 2
""",
    doc="streaming Count-Min sketch: additive md5-row counters aggregated "
    "in complete mode — sink contents are micro-batch-split-invariant and "
    "equal the batch sketch exactly",
)
def streaming_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min sketch (`events_countmin_estimate`) maintained BY THE
    STREAMING ENGINE: every arriving event increments one counter per
    hash row, state is the D×W counter table in the state store, and
    because counters are purely ADDITIVE the final sink is bit-identical
    no matter how the source was micro-batched — the mergeability that
    makes sketches the right streaming state at 100 TB (state size is
    D×W, constant, while exact per-key counting state grows with
    cardinality). Complete-mode emission of a 192-row table is free.

    The registered oracle is the batch sketch computed by DuckDB from
    the same md5 geometry, so a streaming-path divergence (double
    counting on retry, dropped batch) hash-mismatches.
    """
    from ufload_spark.operators.events import CM_DEPTH, CM_WIDTH

    sdf = events_readstream(spark, sf_dir)
    d_col = F.explode(F.array(*[F.lit(k) for k in range(CM_DEPTH)])).alias("d")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("d").cast("string"), F.col("user_id").cast("string")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % CM_WIDTH
    )
    sketch = (
        sdf.select("user_id", d_col)
        .select("d", bucket.alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    return run_to_memory(sketch, output_mode="complete", prefix="countmin")


def _make_user_spend_processor():
    """transformWithState processor factory: per-user running (count,
    cents). The StatefulProcessor subclass is defined inside the factory
    so the module imports even where the API surface is absent; the state
    tuple is primitives-only (the state-store codec contract the
    applyInPandasWithState job documents)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserSpend(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n BIGINT, cents BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n, cents = self._agg.get() if self._agg.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            self._agg.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_cents": [cents],
                }
            )

        def close(self) -> None:
            pass

    return UserSpend()


def _protobuf_available() -> bool:
    """transformWithStateInPandas drives a Python state server over protobuf
    messages; this sandbox ships no google.protobuf, so the query registers
    only where the API can actually run (the import-try gate the
    environment mandates for optional dependencies)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


_TWS_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events GROUP BY user_id
"""


def _register_tws(fn):
    if _protobuf_available():
        return register(
            "streaming_transform_with_state",
            _TWS_ORACLE,
            doc="Spark 4 transformWithStateInPandas: per-user running spend "
            "via a typed ValueState processor — update-mode emissions are "
            "monotone, so a keep-latest rollup is batching-invariant and "
            "equals the batch agg",
        )(fn)
    return fn


@_register_tws
def streaming_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEW Spark 4 arbitrary-stateful API (``transformWithStateInPandas``
    — the successor to ``applyInPandasWithState`` with typed state
    handles, timers, and multiple state variables per key): a
    StatefulProcessor keeps one ValueState tuple (count, exact cents) per
    user, updates it per micro-batch, and emits the running total. Counts
    and half-up cents are integers and strictly monotone under positive
    values, so the keep-latest (max) rollup over the update-mode sink is
    invariant to HOW the source was batched — the same determinism
    contract as the older-API job above, proven on the newer engine
    surface.

    Scale shape: state is hash-partitioned by user_id in the state store
    (RocksDB-backed on a real cluster) — memory per executor scales with
    resident keys, not stream length; the processor touches only its
    key's state, so executors scale horizontally.

    Reference analog: the reference's incremental sync state machine
    (polling + cursor persistence, upgrade.py) is this pattern's
    single-node ancestor (SURVEY §2.9).
    """
    sdf = events_readstream(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    keyed = sdf.select("user_id", cents.alias("cents"))
    tracked = keyed.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_user_spend_processor(),
        outputStructType="user_id bigint, n_events bigint, total_cents bigint",
        outputMode="Update",
        timeMode="None",
    )
    sink = run_to_memory(tracked, output_mode="update", prefix="tws")
    return sink.groupBy("user_id").agg(
        F.max("n_events").cast("bigint").alias("n_events"),
        F.max("total_cents").cast("bigint").alias("total_cents"),
    )


from ufload_spark.operators.events import (
    EMD_BIN_CENTS as _EMD_W,
    EMD_ORACLE_TAIL as _EMD_TAIL,
    emd_from_side_bin_counts as _emd_stat,
)


@register(
    "streaming_emd_monitor",
    f"""
WITH vals AS (
  SELECT CASE WHEN CAST(extract(day FROM ts) AS INT) <= 15 THEN 0 ELSE 1 END
           AS side,
         CAST(floor(value * 100 + 0.5) AS BIGINT) // {_EMD_W} AS b
  FROM events
), counts AS (
  SELECT side, b, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY 1, 2
{_EMD_TAIL}
""",
    doc="streaming drift monitor: the $1-bin value histograms maintained BY "
    "the streaming engine (additive complete-mode state, micro-batch-split-"
    "invariant), the Wasserstein-1 statistic evaluated over the bounded "
    "sink via the SHARED batch helper — equals events_emd_drift exactly",
)
def streaming_emd_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events_emd_drift` as a LIVE monitor: the streaming engine maintains
    the per-(side, $1-bin) histogram — purely ADDITIVE counters, so like
    the Count-Min job the sink is bit-identical under any micro-batching,
    and state is bounded by the value domain (~1 200 counters), never
    event cardinality. The Wasserstein-1 statistic itself is evaluated on
    demand over the bounded sink table by the SAME helper the batch
    operator uses (`events.emd_from_side_bin_counts`; the oracle embeds
    the same shared SQL tail) — the evaluate-on-read split every metrics
    store makes, with the batch/live drift risk engineered away: there is
    one statistic implementation, not two copies.

    At 100 TB: the histogram aggregate shuffles once on (side, bin) with
    map-side partials and constant state; complete-mode emission of a
    ≤1 200-row table per micro-batch is free; recovery replays from the
    checkpoint into the same additive state.
    """
    sdf = events_readstream(spark, sf_dir)
    binned = sdf.select(
        F.when(F.dayofmonth("ts") <= 15, 0).otherwise(1).alias("side"),
        F.expr(
            f"CAST(floor(value * 100 + 0.5) AS BIGINT) div {_EMD_W}"
        ).alias("b"),
    )
    counts = binned.groupBy("side", "b").agg(
        F.count("*").cast("bigint").alias("c")
    )
    sink = run_to_memory(counts, output_mode="complete", prefix="emd_monitor")
    return _emd_stat(sink)


from ufload_spark.operators.temporal import (
    CHGPT_TAIL_SQL as _CHGPT_TAIL,
    changepoint_from_daily as _chgpt_stat,
)


@register(
    "streaming_changepoint_monitor",
    f"""
WITH daily AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS day,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1
){_CHGPT_TAIL}
""",
    doc="streaming structural-break monitor: hourly value-cents counters "
    "maintained BY the streaming engine (additive complete-mode state), "
    "the binseg argmax evaluated over the bounded sink via the SHARED "
    "batch statistic (CHGPT_TAIL_SQL) — the EMD-monitor discipline on "
    "the time axis",
)
def streaming_changepoint_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`orders_changepoint_binseg`'s statistic as a LIVE monitor over the
    event stream: the streaming engine maintains per-HOUR revenue-cents
    counters — purely additive, so the sink is bit-identical under any
    micro-batching and state is bounded by the time axis (~720 counters
    for the fixtures' month), never event cardinality. The binseg argmax
    (milli-cent-quantized mean gap, exact wide-integer key, min-segment
    guard) is evaluated on demand over the bounded sink by the SAME
    helper the batch operator uses (`temporal.changepoint_from_daily`;
    the oracle embeds the shared :data:`CHGPT_TAIL_SQL`) — where the EMD
    monitor alarms on VALUE-distribution drift, this one locates WHEN
    the level shifted. The axis is hours here and days in the batch twin;
    the statistic is axis-agnostic (any ordered integer key).

    At 100 TB: one (hour) shuffle with map-side partials and constant
    state; complete-mode emission of a bounded table per micro-batch;
    checkpoint replay lands in the same additive counters.
    """
    sdf = events_readstream(spark, sf_dir)
    hourly = sdf.groupBy(
        F.expr(
            "CAST(unix_timestamp(date_trunc('hour', ts)) AS BIGINT) div 3600"
        ).alias("day")
    ).agg(
        F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("cents")
    )
    sink = run_to_memory(hourly, output_mode="complete", prefix="chgpt_monitor")
    return _chgpt_stat(sink)


def documents_readstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the documents parquet (schema from the file's
    footer, the file-source requirement; same trivial-glob device as
    :func:`events_readstream`)."""
    tune(spark)
    path = f"{sf_dir}/documents.parquet"
    raw_schema = footers(spark, path)[0]
    return spark.readStream.schema(raw_schema).parquet(
        f"{sf_dir}/documents.[p]arquet"
    )


#: the columns each gate publishes per epoch segment; an empty admitted
#: table (no epoch admitted anything) reads back with this schema
_EXACT_SEGMENT = "fp string, doc_id bigint, source string"
_SIMHASH_SEGMENT = "doc_id bigint, source string, simhash bigint"


def _publish_segment(rows: DataFrame, target: str, epoch_id: int) -> None:
    """Publish one micro-batch's survivors as the epoch's own segment
    ``<target>/e<epoch>``; an empty batch publishes nothing."""
    from ufload_spark.sources.loader import stage_and_publish

    # EAGER checkpoint before the empty-gate (r12, guide §5): isEmpty()
    # executed the whole batch pipeline once and the publish then
    # re-executed it — the per-batch work ran ~twice. One materialization
    # serves both; the frame is batch-sized and released with the scope
    # once the segment is published. (The guard itself must stay:
    # stage_and_publish AUDITS against empty frames by design.)
    with scope():
        rows = cut(rows, eager=True)
        if not rows.isEmpty():
            stage_and_publish(
                rows.sparkSession, rows, f"{target}/e{int(epoch_id):06d}"
            )


def ingest_gate_batch(
    batch: DataFrame, target: str, corpus_fp: DataFrame, epoch_id: int
) -> None:
    """One micro-batch of the streaming admission gate: fingerprint the
    batch, drop docs whose fingerprint is in the corpus index, and
    publish the survivors (per-batch min doc_id per fp) to the epoch's
    OWN append-only segment ``<target>/e<epoch>`` (r10 — the previous
    form re-read, re-merged and re-published the ENTIRE admitted table
    every micro-batch: O(total admitted) I/O per batch, quadratic on a
    long stream). MIN-DOC-ID-WINS conflict resolution moves to read time
    (:func:`read_ingest_admitted`) and stays exact because min is
    associative — the global min per fp over per-epoch minima is the
    same min. A replayed epoch rewrites its own segment with identical
    rows (the per-batch result is a pure function of batch × static
    index), which is the foreachBatch exactly-once contract."""
    rows = (
        batch.select("doc_id", "source", text_fingerprint().alias("fp"))
        .join(corpus_fp, "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min_by(F.struct("doc_id", "source"), "doc_id").alias("d"))
        .select("fp", "d.doc_id", "d.source")
    )
    _publish_segment(rows, target, epoch_id)


def _epoch_segments(spark: SparkSession, target: str, schema: str) -> DataFrame:
    """One DataFrame over the PUBLISHED epoch segments of a gate target —
    the immediate children whose name is exactly ``e<digits>``, the name
    :func:`_publish_segment` gives them; with none published, an empty
    frame of the gate's segment ``schema``. A bare
    ``{target}/e*`` glob also matches the ``eNNNNNN.staging.*`` /
    ``eNNNNNN.old.*`` siblings ``stage_and_publish`` parks while an
    epoch's publish is in flight (r10 ADVICE): debris from a crashed
    publish is younger than ``ORPHAN_MIN_AGE_S`` at replay time and is
    never swept unless that exact segment republishes, so the glob could
    silently include partially-committed staging rows that were never
    audited. Listing + exact-name filter keeps every read inside the
    stage→audit→atomic-publish contract (readers see only audited data),
    instead of leaning on the min-wins dedup to make the debris harmless.
    """
    import re

    from ufload_spark.sources.loader import _fs

    fs, jtarget, _jvm = _fs(spark, target)
    segs = (
        sorted(
            str(st.getPath().toString())
            for st in fs.listStatus(jtarget)
            if re.fullmatch(r"e\d{6,}", st.getPath().getName())
        )
        if fs.exists(jtarget)
        else []
    )
    return read_parquet(spark, *segs) if segs else local_frame(spark, [], schema)


def read_ingest_admitted(spark: SparkSession, target: str) -> DataFrame:
    """The admitted table across all epoch segments of an
    :func:`ingest_gate_batch` target: min-doc-id-wins resolved at read
    time over the per-epoch minima — exact because min is associative,
    batching-independent and replay-safe. One listed-segment scan
    (:func:`_epoch_segments` — published segments only, never staging
    debris) + one fp-keyed aggregate; the per-batch side never touches
    other epochs."""
    return (
        _epoch_segments(spark, target, _EXACT_SEGMENT)
        .groupBy("fp")
        .agg(F.min_by(F.struct("doc_id", "source"), "doc_id").alias("d"))
        .select("fp", "d.doc_id", "d.source")
    )


def _run_gate(
    spark: SparkSession, sf_dir: str, name: str, index: DataFrame, gate_batch, read
) -> DataFrame:
    """Drive one streaming admission gate: stream the batch side of the
    documents split, call ``gate_batch(batch, target, index, epoch_id)``
    on every non-empty micro-batch (each epoch publishes its own segment
    under a fresh ``<name>_admitted`` scratch target), then ``read`` the
    admitted table back and take the per-source census."""
    from ufload_spark.sources.loader import _scratch_unique, sf_tag
    from ufload_spark.streaming.notify import run_with_notify

    sdf = documents_readstream(spark, sf_dir).where(in_batch())
    target = _scratch_unique(f"{name}_admitted_{sf_tag(sf_dir)}")

    def admit(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        gate_batch(batch, target, index, epoch_id)

    ckpt = tempfile.mkdtemp(prefix=f"ufload-ckpt-{name}-")
    run_with_notify(sdf, admit, checkpoint_dir=ckpt)
    return (
        read(spark, target)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_admitted"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "streaming_ingest_gate",
    """
WITH fp AS (
  SELECT doc_id, source,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
), existing AS (
  SELECT DISTINCT fp FROM fp WHERE doc_id % 4 <> 0
), batch AS (
  SELECT * FROM fp WHERE doc_id % 4 = 0
), novel AS (
  SELECT b.* FROM batch b ANTI JOIN existing e USING (fp)
), kept AS (
  SELECT fp, min(doc_id) AS keep FROM novel GROUP BY fp
), admitted AS (
  SELECT n.* FROM novel n JOIN kept k ON n.fp = k.fp AND n.doc_id = k.keep
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_admitted,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM admitted GROUP BY source
""",
    doc="streaming admission gate: document stream → foreachBatch "
    "fingerprint + anti-join the persisted corpus index + MIN-WINS merge "
    "into the published admitted table (batching-independent, "
    "replay-idempotent); per-source admission census read back from the "
    "published table",
)
def streaming_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING end of the ingest story (`dedup_exact_incremental`
    is the batch gate; `pipeline_incremental_ingest` the composed batch
    funnel): new documents arrive as a stream, every micro-batch
    fingerprints ONLY ITSELF, anti-joins the persisted corpus
    fingerprint index (the same memo-published table the batch gate
    maintains), and merges survivors into the published admitted table
    under min-doc-id-wins — so the final table equals the batch answer
    under ANY batching and under epoch REPLAY (the foreachBatch
    exactly-once contract; proven by the kill-and-restart test,
    tests/test_streaming.py::test_ingest_gate_recovers_from_checkpoint).
    Each merge publishes through stage→audit→atomic-swap, so readers
    between batches always see a complete audited table.

    Scale shape: per batch — batch-sized fingerprint map, anti-join
    against the index scan, min-merge shuffled on the 128-bit key. At
    100 TB the admitted table would be BUCKETED by fp, making the merge
    co-located; the corpus index only ever appends.

    Reference analog: OP-STR-2 / OP-SNK-1 composed (the reference's
    skip-if-unchanged memo + staging publish, db.py:97-208,695-711),
    applied to corpus admission.
    """
    corpus_fp = exact_index(spark, sf_dir, "fp")
    return _run_gate(
        spark, sf_dir, "ingest", corpus_fp, ingest_gate_batch, read_ingest_admitted
    )


def neardup_gate_batch(
    batch: DataFrame, target: str, corpus_sims: DataFrame, epoch_id: int
) -> None:
    """One micro-batch of the streaming NEAR-dup admission gate:
    SimHash-fingerprint the batch (frame-level core of ``dedup_simhash``),
    drop docs with any corpus fingerprint within Hamming
    :data:`~ufload_spark.operators.dedup.HAMMING_D` (segment pigeonhole
    probe — the ``dedup_simhash_incremental`` decision, against the
    STATIC corpus index, so the admitted set is independent of how the
    stream was batched), and publish survivors to the epoch's OWN
    append-only segment ``<target>/e<epoch>`` (r10, r9 ADVICE: the old
    form re-read, unioned and re-published the ENTIRE admitted table
    every micro-batch — O(total admitted) rewrite per batch, quadratic
    total I/O on a long stream). Per-batch cost is now batch-sized plus
    one segment publish; a replayed epoch re-publishes the SAME segment
    with the same rows (the gate is a pure function of batch × static
    index), which is the replay-idempotence the foreachBatch
    exactly-once contract needs. Readers go through
    :func:`read_admitted`, which doc_id-dedups across segments."""
    sims = simhash_frame(batch.select("doc_id", "text")).join(
        batch.select("doc_id", "source"), "doc_id"
    )
    # BROADCAST the batch side (r12, guide §3.1): the planner sees a
    # micro-batch frame with no size statistics and would shuffle BOTH
    # sides of the segment equi-join — re-shuffling the corpus-sized index
    # melt every batch. The batch is the small side by the gate's own
    # contract (batch ≪ corpus at scale), so broadcasting it leaves the
    # index scan map-side: per batch the corpus is read once, never
    # exchanged.
    collided = simhash_collided(F.broadcast(sims), corpus_sims)
    rows = sims.join(collided, "doc_id", "left_anti")
    _publish_segment(rows.select("doc_id", "source", "simhash"), target, epoch_id)


def read_admitted(spark: SparkSession, target: str) -> DataFrame:
    """The admitted table across all epoch segments of a
    :func:`neardup_gate_batch` target, doc_id-deduped at read time — a
    replayed epoch republished its own segment so duplicates are
    crash-window debris at most; the dedup makes the read exact either
    way. One listed-segment scan (:func:`_epoch_segments` — published
    segments only, never in-flight staging debris); the per-batch side
    never touches other epochs."""
    return _epoch_segments(spark, target, _SIMHASH_SEGMENT).dropDuplicates(["doc_id"])


@register(
    "streaming_neardup_gate",
    """
WITH tokens AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
  FROM tokens, unnest(range(1, greatest(len(toks) - 1, 1))) AS t(i)
  WHERE len(toks) >= 3
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh
), bitsums AS (
  SELECT doc_id, """
    + _SIMHASH_BITSUMS_SQL
    + """
  FROM hashed GROUP BY doc_id
), sims AS (
  SELECT doc_id, CAST("""
    + _SIMHASH_COMBINE_SQL
    + f""" AS BIGINT) AS simhash FROM bitsums
), {_SIMHASH_PROBE_SQL}, admitted AS (
  SELECT d.doc_id, d.source FROM documents d
  SEMI JOIN batch USING (doc_id)
  WHERE d.doc_id NOT IN (SELECT doc_id FROM collided)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_admitted,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM admitted GROUP BY source
""",
    doc="streaming NEAR-dup admission gate: document stream → foreachBatch "
    "SimHash + segment-pigeonhole probe of the persisted corpus "
    "fingerprints + per-epoch APPEND-ONLY segment publish "
    "(batching-independent vs the static index, replay-idempotent — a "
    "replayed epoch rewrites its own segment); per-source admission "
    "census read back doc_id-deduped across segments",
)
def streaming_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-duplicate sibling of :func:`streaming_ingest_gate` —
    admission gated on SIMILARITY, not equality: each micro-batch
    SimHash-fingerprints only itself and probes the memo-published corpus
    fingerprint table with the segment pigeonhole join
    (``dedup_simhash_incremental``'s decision); survivors publish to the
    epoch's own APPEND-ONLY segment through stage → audit → atomic swap
    (r10 — the previous form re-read and re-published the whole admitted
    table every micro-batch, O(total admitted) I/O per batch). Gating
    against the STATIC corpus index makes the admitted set independent of
    batching (near-dup is not transitive, so gating against
    already-admitted stream docs would make admission order-dependent —
    intra-batch near-dups are a downstream batch-dedup concern, stated,
    not silent); a replayed epoch rewrites its own segment with identical
    rows, and :func:`read_admitted` doc_id-dedups across segments, so
    epoch replay is a no-op (kill-and-restart proof:
    tests/test_streaming.py::test_neardup_gate_recovers_from_checkpoint).

    Scale shape: per batch — batch-sized shingle window + one segment
    equi-join against the index scan (bucket cardinality 2^SEG_BITS per
    segment bounds per-bucket pairing), one batch-sized segment publish.
    The corpus is never re-shingled; the admitted table only ever appends.

    Reference analog: OP-STR-2 (skip-if-unchanged memo) composed with the
    dedup extension family — the streaming lifecycle of SimHash.
    """
    from ufload_spark.sources.loader import memo_read

    corpus_sims = memo_read(
        spark,
        "simhash_fps_corpus",
        sf_dir,
        lambda: dedup_simhash(spark, sf_dir).where(~in_batch()),
    )
    return _run_gate(
        spark, sf_dir, "neardup", corpus_sims, neardup_gate_batch, read_admitted
    )
