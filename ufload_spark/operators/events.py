"""Event-stream semantics in batch (SURVEY §2.9 + extension surface).

The reference encodes streaming concerns in batch form: a late-data guard
(reference ufload/cloud.py:129-133) and incremental idempotence
(db.py:695-711). Here the full Spark event-time surface is exercised over the
``events`` fixture: tumbling windows, session windows, latest-per-key, and
JSON property extraction. The streaming twins of these plans (readStream +
watermark) live in ufload_spark.streaming; batch and streaming share the same
aggregation semantics, so the DuckDB oracles below validate both.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ufload_spark.functions.binning import suboctave_bin, suboctave_bin_sql
from ufload_spark.lifetime import cut, keep
from ufload_spark.plans.registry import register
from ufload_spark.sources.tables import local_frame, table


TUMBLING_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


def tumbling_hourly(ev: DataFrame) -> DataFrame:
    """1-hour tumbling windows via ``F.window`` over a batch or streaming
    events frame — the one body of ``events_tumbling_hourly`` and its
    streaming twin; epoch-aligned windows equal ``date_trunc('hour')``."""
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "events_tumbling_hourly",
    TUMBLING_HOURLY_SQL,
    doc="tumbling event-time window aggregate (streaming twin: groupBy(window))",
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_hourly(table(spark, sf_dir, "events"))


SESSION_WINDOWS_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
       count(*) AS n_events
FROM numbered GROUP BY user_id, session_no
"""


def session_windows(ev: DataFrame) -> DataFrame:
    """Session windows with a 30-minute inactivity gap via
    ``F.session_window`` over a batch or streaming events frame — the one
    body of ``events_session_windows`` and its streaming twin. The oracle
    reconstructs sessions with the classic gaps-and-islands SQL: a new
    session starts when the gap ≥ 30 min, since Spark sessions are
    half-open ``[start, last+gap)``."""
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.max("ts").alias("last_ts"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "last_ts",
            "n_events",
        )
    )


@register(
    "events_session_windows",
    SESSION_WINDOWS_SQL,
    doc="session windows (30 min gap) — F.session_window vs gaps-and-islands",
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_windows(table(spark, sf_dir, "events"))


@register(
    "events_json_extract",
    """
SELECT event_type,
       count(*) AS n_events,
       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
""",
    doc="JSON property extraction (extension surface over events.props)",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "events_latest_per_user",
    """
SELECT user_id, event_id, ts, event_type FROM (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
    doc="OP-WIN-1 on the raw stream table: latest event per user",
)
def events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship latest-per-key shape on raw events — in streaming form
    this is ``applyInPandasWithState`` / max_by with watermark; in batch
    ``max_by`` over the (ts, event_id) tie-break struct: the aggregate
    partial-combines map-side so the user_id shuffle carries one row per
    (mapper, user) instead of sorting the whole event stream through the
    exchange (same argument as latest_backup_per_instance; event_id makes
    the winner unique, so this is value-identical to the oracle's window
    rank)."""
    ev = table(spark, sf_dir, "events")
    best = F.max_by(
        F.struct("ts", "event_id", "event_type"), F.struct("ts", "event_id")
    )
    return (
        ev.groupBy("user_id")
        .agg(best.alias("b"))
        .select("user_id", "b.event_id", "b.ts", "b.event_type")
    )


@register(
    "events_dedup_keep_first",
    """
SELECT user_id, event_type, event_id, ts FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
""",
    doc="deterministic dropDuplicates: keep earliest row per key",
)
def events_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicates`` keeps an arbitrary row; the deterministic form
    (and the one a streaming pipeline needs for idempotent replay) is
    keep-earliest — ``min_by`` over the (ts, event_id) struct, the partial-
    aggregating dual of the latest-per-key ``max_by`` above."""
    ev = table(spark, sf_dir, "events")
    first = F.min_by(F.struct("event_id", "ts"), F.struct("ts", "event_id"))
    return (
        ev.groupBy("user_id", "event_type")
        .agg(first.alias("b"))
        .select("user_id", "event_type", "b.event_id", "b.ts")
    )


@register(
    "events_late_data_guard",
    """
SELECT event_type, count(*) AS n_settled
FROM events
WHERE ts < (SELECT max(ts) FROM events) - INTERVAL 15 MINUTE
GROUP BY event_type
""",
    doc="OP-FIL-1/OP-STR-1 batch watermark: drop events inside the "
    "still-settling window (cloud.py:129-133's 900 s guard)",
)
def events_late_data_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference ignores files modified < 900 s ago as possibly
    half-uploaded (cloud.py:129-133). Batch form over events: treat the last
    15 minutes before the observed max event time as unsettled and exclude
    it. The max is a scalar-subquery broadcast (one row), so the guard adds
    a cheap pre-pass, not a shuffle; in streaming this is exactly the
    watermark (see ufload_spark.streaming)."""
    ev = table(spark, sf_dir, "events")
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 15 MINUTES")).alias("wm"))
    return (
        ev.join(F.broadcast(wm))
        .where(F.col("ts") < F.col("wm"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_settled"))
    )


SLIDING_WINDOWS_SQL = """
WITH expl AS (
  SELECT e.value,
         time_bucket(INTERVAL 30 MINUTE, e.ts)
           - k.k * INTERVAL 30 MINUTE AS window_start
  FROM events e, (SELECT unnest(range(0, 2)) AS k) k
)
SELECT window_start, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM expl GROUP BY window_start
"""


def sliding_windows(ev: DataFrame) -> DataFrame:
    """Overlapping windows via ``F.window(ts, '1 hour', '30 minutes')`` over
    a batch or streaming events frame — the one body of
    ``events_sliding_windows`` and its streaming twin. Spark assigns each
    event to the 2 windows covering it (the oracle reconstructs them as the
    30-min-aligned bucket and its predecessor). Same partial-agg economics
    as tumbling windows — the row expansion happens map-side before the
    partial aggregate."""
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@register(
    "events_sliding_windows",
    SLIDING_WINDOWS_SQL,
    doc="sliding event-time windows (1 h window, 30 min slide) — each event "
    "lands in window_size/slide windows",
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_windows(table(spark, sf_dir, "events"))


_GAP_SCHEMA = "user_id long, n_gaps long, median_gap_s double"


def _median_gap(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: per-user median inter-event gap in seconds.
    Median is non-algebraic — no partial aggregation exists — which is
    exactly when a grouped pandas kernel is the right tool."""
    ts = pdf["ts"].sort_values()
    gaps = ts.diff().dropna().dt.total_seconds()
    return pd.DataFrame(
        {
            "user_id": [pdf["user_id"].iloc[0]],
            "n_gaps": [len(gaps)],
            "median_gap_s": [float(gaps.median()) if len(gaps) else None],
        }
    )


@register(
    "events_median_gap_per_user",
    """
WITH gaps AS (
  SELECT user_id,
         epoch(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS gap_s
  FROM events
)
SELECT user_id, count(gap_s) AS n_gaps,
       round(median(gap_s), 3) AS median_gap_s
FROM gaps GROUP BY user_id
""",
    doc="applyInPandas grouped-map: per-user median inter-event gap "
    "(non-algebraic statistic, Arrow-batched per group)",
)
def events_median_gap_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouped-map UDF surface (§2.10): ``applyInPandas`` ships each
    user's rows to one Arrow batch and computes an exact median — the
    statistic with no partial-aggregate form. One shuffle on user_id;
    per-task memory is bounded by the largest single group, the same bound
    any exact-median computation has."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    out = ev.groupBy("user_id").applyInPandas(_median_gap, schema=_GAP_SCHEMA)
    return out.withColumn("median_gap_s", F.round("median_gap_s", 3))


@register(
    "events_funnel",
    """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM v) AS step_view,
       (SELECT count(*) FROM c) AS step_click,
       (SELECT count(*) FROM p) AS step_purchase
""",
    doc="ordered conversion funnel view→click→purchase: strictly-ordered "
    "step timestamps via per-step min-after-previous joins",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: a user converts a step only with an event strictly
    AFTER their previous step's first event — the standard product-
    analytics definition (an unordered count would credit purchases that
    preceded the view). Each step is a per-user min aggregate plus an
    equi-join on user_id; every shuffle is on the high-cardinality user
    key, and step frames shrink monotonically — at 100 TB the step-k join
    input is only step-k-1 converters."""
    ev = table(spark, sf_dir, "events")

    def first_after(prev: DataFrame, etype: str, t_prev: str, out: str) -> DataFrame:
        e = ev.where(F.col("event_type") == etype)
        return (
            e.join(prev, "user_id")
            .where(F.col("ts") > F.col(t_prev))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = first_after(v, "click", "t_view", "t_click")
    p = first_after(c, "purchase", "t_click", "t_purchase")
    counts = [
        df.agg(F.count("*").alias(name))
        for df, name in ((v, "step_view"), (c, "step_click"), (p, "step_purchase"))
    ]
    return counts[0].crossJoin(counts[1]).crossJoin(counts[2])


@register(
    "events_retention_cohorts",
    """
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
)
SELECT f.cohort_week,
       CAST((epoch(a.week) - epoch(f.cohort_week)) // 604800 AS INT) AS week_offset,
       count(*) AS n_users
FROM activity a JOIN firsts f ON a.user_id = f.user_id
GROUP BY 1, 2
""",
    doc="weekly retention cohorts: users bucketed by first-seen week, "
    "counted per week offset",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the canonical growth-analytics rollup. First-seen
    week per user (one agg), distinct active (user, week) pairs (one agg),
    then a user-keyed join and a count per (cohort, offset). All shuffles
    key on user_id until the final tiny (weeks × offsets) aggregate; no
    windows, no driver loops — linear at any event volume."""
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    offset = (
        (F.unix_timestamp("week") - F.unix_timestamp("cohort_week")) / 604800
    ).cast("int")
    return (
        activity.join(firsts, "user_id")
        .groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.count("*").alias("n_users"))
    )


SESSION_GAP_S = 1800  # 30 min inactivity ends a session


@register(
    "events_sessionize_ids",
    f"""
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_S}
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, event_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM marked
)
SELECT user_id, event_id,
       CAST(session_seq AS BIGINT) AS session_seq
FROM numbered
""",
    doc=f"gap-based sessionization: assign a per-user session sequence "
    f"number ({SESSION_GAP_S} s inactivity gap) via lag + running sum",
)
def events_sessionize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-ID assignment — the per-EVENT form of sessionization
    (``events_session_windows`` is the per-session aggregate form): mark
    events whose gap from the previous exceeds the threshold, then a
    running sum of marks numbers the sessions. Both windows share one
    user_id partition — a single shuffle; (ts, event_id) ordering makes
    the numbering deterministic under timestamp ties. The classic CDC/
    clickstream enrichment at any scale."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = F.when(
        gap.isNull() | (gap > SESSION_GAP_S), F.lit(1)
    ).otherwise(F.lit(0))
    run = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(new_session).over(run).cast("bigint").alias("session_seq"),
    )


@register(
    "events_props_variant",
    """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       count(DISTINCT CAST(json_extract_string(props, '$.k') AS INT)) AS distinct_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k
FROM events GROUP BY event_type
""",
    doc="semi-structured access via VariantType: parse_json once, "
    "variant_get per field — the modern engine surface for open schemas",
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VariantType (Spark 4): ``parse_json`` converts the JSON string to a
    binary variant ONCE, and ``variant_get`` does typed path access
    without re-parsing text per field — the difference matters when a
    props blob is accessed by several expressions (get_json_object
    re-tokenizes the string each call). The shredded binary encoding is
    also what open table formats push down. Oracle reads the same values
    through DuckDB's JSON path functions."""
    ev = table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("sum_k"),
        F.count_distinct(k).alias("distinct_k"),
        F.min(k).cast("int").alias("min_k"),
    )


@register(
    "events_fill_gaps",
    """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
), hours AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
), actual AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events WHERE user_id < 5 GROUP BY 1, 2
), users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 5)
SELECT u.user_id, h.hour,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_events
FROM users u CROSS JOIN hours h
LEFT JOIN actual a ON a.user_id = u.user_id AND a.hour = h.hour
""",
    doc="time-series gap filling: densify sparse per-user hourly counts "
    "over the full range via sequence + explode + left join",
)
def events_fill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resampling sparse events to a dense grid — what every downstream
    time-series model wants. The hour spine comes from ``sequence()`` over
    the observed bounds (a 1-row aggregate, broadcast into the cross
    join); missing (user, hour) cells left-join to zero. Spine size is
    (range × keys), independent of event volume — at 100 TB the spine is
    still tiny next to the events and the join shuffles on the dense keys.
    User subset keeps the fixture output reviewable."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    sub = ev.where(F.col("user_id") < 5)
    actual = sub.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n"))
    users = sub.select("user_id").distinct()
    return (
        users.crossJoin(F.broadcast(hours))
        .join(actual, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


Z_THRESHOLD = 2.5


@register(
    "events_value_anomalies",
    f"""
WITH stats AS (
  SELECT event_id, user_id, value,
         avg(value) OVER w AS mu,
         stddev_samp(value) OVER w AS sigma
  FROM events
  WINDOW w AS (PARTITION BY user_id)
)
SELECT user_id, event_id,
       round(value, 4) AS value,
       round((value - mu) / sigma, 4) AS z
FROM stats
WHERE sigma IS NOT NULL AND sigma > 0
  AND abs((value - mu) / sigma) > {Z_THRESHOLD}
""",
    doc=f"per-user z-score outliers (|z| > {Z_THRESHOLD}): windowed "
    "mean/stddev, flagged events — the metering-anomaly audit",
)
def events_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical anomaly surface: events whose value sits more than
    Z_THRESHOLD sample standard deviations from their user's mean — the
    audit a metering/billing pipeline runs over usage streams (reference
    analog: the restore-size sanity checks around db.py:695-711, as a
    population statistic instead of a fixed memo). Single-event users
    (undefined sigma) are excluded. ONE user_id exchange: mean and stddev
    ride the same unbounded window partition, the flag is a row-local
    predicate — no join-back of a separate aggregate."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    return (
        ev.select("user_id", "event_id", "value", z.alias("z"))
        .where(F.col("z").isNotNull() & (F.abs("z") > Z_THRESHOLD))
        .select(
            "user_id",
            "event_id",
            F.round("value", 4).alias("value"),
            F.round("z", 4).alias("z"),
        )
    )


@register(
    "events_type_transitions",
    """
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 4)
         AS p
FROM pairs
""",
    doc="event-type Markov transition matrix: per-user ordered bigrams of "
    "event_type, counted and row-normalized into transition probabilities",
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams: each
    user's events are ordered (ties broken by event_id so both engines
    sequence identically), consecutive event-type bigrams are counted
    corpus-wide, and each row is normalized by its source state's total —
    the behavioral-model summary funnels and anomaly scores build on.

    Scale shape: the lag rides ONE user_id exchange (the same partition
    key every per-user window in the family uses); the bigram count then
    reduces to |types|² rows, so the normalizing window runs over a
    micro-frame. Per-user state never materializes beyond the lag buffer.

    Reference analog: none (extension surface — event analytics family).
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    wt = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wt), 4).alias("p"),
    )


@register(
    "events_concurrency_peak",
    f"""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_S}
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
), sessions AS (
  SELECT user_id, session_no, min(ts) AS s, max(ts) AS e
  FROM numbered GROUP BY user_id, session_no
), seg AS (
  SELECT CAST(day AS DATE) AS day,
         greatest(s, CAST(CAST(day AS DATE) AS TIMESTAMP)) AS lo,
         least(e, CAST(CAST(day AS DATE) + INTERVAL 1 DAY AS TIMESTAMP)) AS hi
  FROM (SELECT s, e,
               unnest(generate_series(CAST(s AS DATE), CAST(e AS DATE),
                                      INTERVAL 1 DAY)) AS day
        FROM sessions)
), bounds AS (
  SELECT day, lo AS t, 1 AS delta FROM seg
  UNION ALL SELECT day, hi, -1 FROM seg
), run AS (
  SELECT day, delta,
         sum(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
                          ROWS UNBOUNDED PRECEDING) AS c
  FROM bounds
)
SELECT CAST(day AS TIMESTAMP) AS day, CAST(max(c) AS INT) AS peak_concurrent,
       CAST(count(*) FILTER (WHERE delta = 1) AS BIGINT) AS n_active_sessions
FROM run GROUP BY day
""",
    doc="sweep-line peak concurrency: sessionize, split sessions at day "
    "boundaries, then per-day boundary sweep (+1/-1 running sum) — max "
    "simultaneous sessions and active-session count per day",
)
def events_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the classic interval sweep-line,
    distributed. Sessions come from the same gaps-and-islands chain as
    ``events_session_windows`` (closed intervals [first event, last
    event]); each session is split at midnight boundaries (``sequence`` +
    ``explode`` — a session active across midnight counts toward BOTH
    days' peaks, clamped to each day), then every day's boundary events
    (+1 at segment start, -1 at segment end, +1 ordered first at ties so
    touching sessions count as concurrent) are swept with a running sum
    whose maximum is that day's peak.

    Scale shape: the sweep's running sum is a window PARTITIONED BY DAY —
    the global-running-sum trap (one giant partition) is avoided because
    day boundaries split the timeline into independent sweeps that
    parallelize across the cluster; at 100 TB you'd split by hour instead
    (same construction, finer spine). Three shuffles total: sessionize
    (user_id), boundary sweep (day), final per-day aggregate (map-side
    combined into the same day partitioning).
    """
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
    run_w = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = (
        ev.select(
            "user_id",
            "ts",
            F.sum(new_session).over(run_w).alias("session_no"),
        )
        .groupBy("user_id", "session_no")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    seg = sessions.select(
        "s",
        "e",
        F.explode(F.sequence(F.to_date("s"), F.to_date("e"))).alias("day"),
    ).select(
        "day",
        F.greatest(F.col("s"), F.col("day").cast("timestamp")).alias("lo"),
        F.least(
            F.col("e"), F.date_add(F.col("day"), 1).cast("timestamp")
        ).alias("hi"),
    )
    # both boundaries exploded from ONE pass over seg — a union of two
    # selects would recompute the whole sessionize subtree per branch
    bounds = seg.select(
        "day",
        F.explode(
            F.array(
                F.struct(F.col("lo").alias("t"), F.lit(1).alias("delta")),
                F.struct(F.col("hi").alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("b"),
    ).select("day", "b.t", "b.delta")
    sweep = W.partitionBy("day").orderBy(
        F.col("t"), F.col("delta").desc()
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        bounds.select(
            "day", "delta", F.sum("delta").over(sweep).alias("c")
        )
        .groupBy("day")
        .agg(
            F.max("c").cast("int").alias("peak_concurrent"),
            F.count_if(F.col("delta") == 1).alias("n_active_sessions"),
        )
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "peak_concurrent",
            "n_active_sessions",
        )
    )


#: EWMA depth: weights 2^-(i+1) over the last EWMA_K events (dyadic alpha =
#: 1/2, so every weight product is exact in binary floating point — and the
#: query keeps everything in scaled integers anyway)
EWMA_K = 8

_EWMA_NUM_SQL = " + ".join(
    f"coalesce(lag(cents, {i}) OVER w, 0) * {1 << (EWMA_K - 1 - i)}"
    for i in range(EWMA_K)
)
_EWMA_DEN_SQL = " + ".join(
    f"CASE WHEN lag(cents, {i}) OVER w IS NOT NULL THEN {1 << (EWMA_K - 1 - i)} ELSE 0 END"
    for i in range(EWMA_K)
)


@register(
    "events_ewma_value",
    f"""
WITH q AS (
  SELECT event_id, user_id, ts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
), acc AS (
  SELECT event_id, user_id,
         {_EWMA_NUM_SQL} AS num,
         {_EWMA_DEN_SQL} AS den
  FROM q
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id,
       round(CAST(num AS DOUBLE) / den / 100, 6) + 0.0 AS ewma
FROM acc
""",
    doc=f"per-user EWMA of event values over the last {EWMA_K} events "
    "(dyadic alpha=1/2): exact integer numerator/denominator from cent-"
    "quantized values, one user_id exchange",
)
def events_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series smoothing as a bounded-memory window: the classic
    exponentially-weighted moving average with α = ½ truncated at
    :data:`EWMA_K` lags (weight 2⁻⁹ ≈ 0.2 % — the truncation error is
    below the cent resolution of the data). Values quantize to cents with
    the shared half-up rule, each lag multiplies a power-of-two weight,
    and the short-history renormalization divides by the sum of available
    weights — so numerator and denominator are EXACT int64 and the single
    final division is deterministic on both engines (the
    `lineitem_ols_price_model` discipline applied to a sliding window).

    Scale shape: one user_id exchange shared by all :data:`EWMA_K` lag
    frames (one Window spec), no state beyond the frame — the batch twin
    of a `transformWithState` streaming smoother, and unlike the
    recursive EWMA formulation it is expressible as a fixed-width window,
    which is what makes it distributable without a sequential scan.

    Reference analog: none — extension surface (events/metering family).
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    q = e.select("event_id", "user_id", "ts", cents.alias("cents"))
    num = None
    den = None
    for i in range(EWMA_K):
        wt = 1 << (EWMA_K - 1 - i)
        lag = F.lag("cents", i).over(w)
        term = F.coalesce(lag, F.lit(0)) * wt
        have = F.when(lag.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        num = term if num is None else num + term
        den = have if den is None else den + have
    return q.select(
        "event_id",
        "user_id",
        (
            F.round(num.cast("double") / den.cast("double") / 100, 6)
            + F.lit(0.0)
        ).alias("ewma"),
    )


#: KMV sketch size: the k smallest 48-bit hash values per set
KMV_K = 64


@register(
    "events_kmv_set_overlap",
    f"""
WITH hashed AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
  FROM events
), ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed
), sk AS (
  SELECT event_type, list(h ORDER BY h) AS mins,
         CAST(count(*) AS BIGINT) AS k_used
  FROM ranked WHERE rn <= {KMV_K} GROUP BY event_type
), ex AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS exact_users
  FROM hashed GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.mins AS ma, b.mins AS mb, a.k_used AS ka, b.k_used AS kb
  FROM sk a JOIN sk b ON a.event_type < b.event_type
), uni AS (
  SELECT type_a, type_b, ka, kb, ma, mb,
         list_sort(list_distinct(ma || mb)) AS mu
  FROM pairs
), est AS (
  SELECT type_a, type_b,
         least(CAST(len(mu) AS BIGINT), {KMV_K}) AS ku,
         mu[least(CAST(len(mu) AS BIGINT), {KMV_K})] AS kth,
         len(list_filter(list_slice(mu, 1, least(CAST(len(mu) AS BIGINT), {KMV_K})),
                         x -> list_contains(ma, x) AND list_contains(mb, x)))
           AS n_both
  FROM uni
)
SELECT e.type_a, e.type_b,
       CAST(n_both AS BIGINT) AS kmv_common,
       round(CAST(n_both AS DOUBLE) / ku, 6) + 0.0 AS jaccard_est,
       round((CAST(ku AS DOUBLE) - 1) / (CAST(kth AS DOUBLE) / 281474976710656.0), 1)
         + 0.0 AS union_est,
       xa.exact_users AS users_a, xb.exact_users AS users_b
FROM est e
JOIN ex xa ON e.type_a = xa.event_type
JOIN ex xb ON e.type_b = xb.event_type
""",
    doc=f"KMV (k-minimum-values, k={KMV_K}) sketch per event type over "
    "distinct-user hashes; pairwise Jaccard and union-size estimates — "
    "the intersection arithmetic HLL cannot do, fully deterministic "
    "(min-k of md5 is order-free)",
)
def events_kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-overlap estimation between event-type audiences with KMV
    sketches (Bar-Yossef et al.): each type keeps its :data:`KMV_K`
    smallest 48-bit user-hash values. Unlike HLL, KMV sketches support
    INTERSECTION estimates: merge two sketches, truncate the union to its
    k-th minimum, count members present in both — Jaccard ≈ that count/k
    and |union| ≈ (k−1)/kth-min-normalized. Everything is min-k over
    deterministic md5 hashes: an ORDER-FREE reduction (min commutes), so
    unlike engine-specific HLL/theta sketch registers the sketch content
    is bit-identical across engines, runs, and cluster sizes, and the
    DuckDB oracle reproduces it exactly.

    Scale shape: one distinct on (type, user-hash) with map-side partial
    dedup, then a per-type top-k — at 100 TB the row_number window over
    each type's hashes would be the two-stage min-k (per-partition top-k,
    then merge: the aggregate form of TakeOrdered); the pairwise stage
    operates on sketch rows only (types² × k, independent of corpus).
    Exact per-type cardinalities ride along for audit.

    Reference analog: none — extension surface (sketches family:
    complements the mergeable-HLL rollup `events_distinct_rollup_sketch`).
    """
    e = table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    # the distinct (type, user-hash) table feeds the sketch build twice
    # (a/b join sides) and the exact-cardinality audit twice — persist it
    # so the corpus scans once (its cardinality is users × types, orders
    # of magnitude under the event count)
    hashed = keep(e.select("event_type", h.alias("h")).distinct())
    w = Window.partitionBy("event_type").orderBy("h")
    sk = (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(
            F.array_sort(F.collect_list("h")).alias("mins"),
            F.count("*").alias("k_used"),
        )
    )
    ex = hashed.groupBy("event_type").agg(
        F.count("*").alias("exact_users")
    )
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("mins").alias("ma"),
        F.col("k_used").alias("ka"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("mins").alias("mb"),
        F.col("k_used").alias("kb"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    mu = F.array_sort(F.array_distinct(F.concat("ma", "mb")))
    ku = F.least(F.size(mu).cast("long"), F.lit(KMV_K))
    est = pairs.select(
        "type_a",
        "type_b",
        "ma",
        "mb",
        mu.alias("mu"),
        ku.alias("ku"),
    ).select(
        "type_a",
        "type_b",
        F.element_at("mu", F.col("ku").cast("int")).alias("kth"),
        F.size(
            F.filter(
                F.slice("mu", 1, F.col("ku").cast("int")),
                lambda x: F.array_contains("ma", x)
                & F.array_contains("mb", x),
            )
        )
        .cast("long")
        .alias("n_both"),
        "ku",
    )
    return (
        est.join(
            ex.select(
                F.col("event_type").alias("type_a"),
                F.col("exact_users").alias("users_a"),
            ),
            "type_a",
        )
        .join(
            ex.select(
                F.col("event_type").alias("type_b"),
                F.col("exact_users").alias("users_b"),
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            F.col("n_both").alias("kmv_common"),
            (
                F.round(
                    F.col("n_both").cast("double") / F.col("ku"), 6
                )
                + F.lit(0.0)
            ).alias("jaccard_est"),
            (
                F.round(
                    (F.col("ku").cast("double") - 1)
                    / (F.col("kth").cast("double") / 281474976710656.0),
                    1,
                )
                + F.lit(0.0)
            ).alias("union_est"),
            "users_a",
            "users_b",
        )
    )


def _grouped_agg_kernels():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def median_cents(c: pd.Series) -> float:
        # pandas median of int cents: midpoints are exact .5 halves in
        # binary floating point, matching DuckDB's interpolating median
        # on BIGINT
        return float(c.median())

    @pandas_udf("long")
    def count_rows(c: pd.Series) -> int:
        return int(c.size)

    return median_cents, count_rows


@register(
    "events_grouped_agg_median",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(median(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100, 6)
         + 0.0 AS median_value
FROM events GROUP BY event_type
""",
    doc="GROUPED_AGG pandas UDF tier: per-event-type exact median via an "
    "Arrow-batched aggregating kernel next to a JVM count in one groupBy",
)
def events_grouped_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUPED_AGG pandas-UDF tier (§2.10) — the one vectorized-Python
    surface the UDF inventory still lacked (scalar, grouped-map,
    mapInPandas, mapInArrow, stateful, and UDTFs are covered elsewhere).
    A grouped-agg kernel aggregates a whole group's column to ONE value —
    here an exact median (non-algebraic: no partial-aggregation form
    exists, which is precisely when the kernel tier is justified). API
    constraint, surfaced by this query: Spark refuses to mix GROUPED_AGG
    pandas UDFs with JVM aggregates in one ``agg``
    (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a second pandas
    kernel rather than a codegen count — one Arrow transfer serves both.
    Values are cent-quantized first so the median's only
    non-integer case is an exact dyadic midpoint — deterministic against
    DuckDB's interpolating BIGINT median.

    Scale caveat, stated: GROUPED_AGG materializes each group's column in
    memory (no partial aggregation), so group cardinality × group size is
    the constraint — right for per-type/per-tenant medians (few large
    groups), wrong for per-user medians at 100 TB, where the
    percentile_approx sketch (`orders_approx_quantiles`) is the scalable
    substitute.

    Reference analog: none — §2.10 UDF-surface completeness.
    """
    e = table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    med, cnt = _grouped_agg_kernels()
    return (
        e.select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg(
            cnt(F.col("cents")).alias("n_events"),
            (F.round(med(F.col("cents")) / 100, 6) + F.lit(0.0)).alias(
                "median_value"
            ),
        )
    )


_MBIN_SQL = suboctave_bin_sql("cents")


@register(
    "events_rfm_segmentation",
    f"""
WITH p AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         max(ts) AS last_ts
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), anchor AS (
  SELECT max(last_ts) AS a FROM p
), u AS (
  SELECT user_id, freq, cents, {_MBIN_SQL} AS mkey,
         date_diff('day', CAST(last_ts AS DATE), CAST(a AS DATE)) AS rdays
  FROM p, anchor
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS t FROM u
), rb AS (
  SELECT rdays AS k, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY 1
), fb AS (
  SELECT freq AS k, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY 1
), mb AS (
  SELECT mkey AS k, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY 1
), rs AS (
  SELECT k, CAST(5 - least(4, (5 * coalesce(sum(n) OVER (
           ORDER BY k ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0)) // t) AS INT) AS score
  FROM rb, tot
), fs AS (
  SELECT k, CAST(1 + least(4, (5 * coalesce(sum(n) OVER (
           ORDER BY k ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0)) // t) AS INT) AS score
  FROM fb, tot
), ms AS (
  SELECT k, CAST(1 + least(4, (5 * coalesce(sum(n) OVER (
           ORDER BY k ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0)) // t) AS INT) AS score
  FROM mb, tot
)
SELECT rs.score AS r_score, fs.score AS f_score, ms.score AS m_score,
       CAST(count(*) AS BIGINT) AS n_users
FROM u
JOIN rs ON u.rdays = rs.k
JOIN fs ON u.freq = fs.k
JOIN ms ON u.mkey = ms.k
GROUP BY 1, 2, 3
""",
    doc="RFM quintile segmentation (recency/frequency/monetary) via "
    "domain-bounded value histograms — no corpus-wide ntile window; "
    "boundaries at value granularity, exact integer arithmetic",
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of purchasers: quintile scores 1-5 for Recency
    (days since last purchase, recent = 5), Frequency (purchase count)
    and Monetary (lifetime cents), aggregated to segment-cell populations
    (≤ 125 output rows). The classic formulation is three corpus-wide
    ``ntile(5)`` windows — three total-order sorts a distributed engine
    must refuse. Instead each dimension gets a VALUE histogram (distinct
    recency days — bounded by the dataset's time span; distinct purchase
    counts — bounded by per-user activity; sub-octave monetary bins —
    ≤ 512 by construction), the cumulative population runs over the
    histogram table, and the quintile score is derived per distinct value
    by integer arithmetic (``5·cum_before div total``). Ties share one
    bin and therefore one score on both engines — no tiebreak ambiguity,
    exactly deterministic.

    Scale shape: one per-user aggregate (shuffle on user_id), three tiny
    histogram aggregates with SCALE-GUARDed partition-less windows over
    domain-bounded tables, three broadcast joins mapping users to scores,
    and a ≤125-row final aggregate.

    Reference analog: none (extension surface — event-analytics family).
    """
    ev = table(spark, sf_dir, "events")
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("freq"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.max("ts").alias("last_ts"),
        )
    )
    anchor = p.agg(F.max("last_ts").alias("a"))
    mkey = suboctave_bin("cents")
    u = p.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        "freq",
        "cents",
        mkey.alias("mkey"),
        F.datediff(F.to_date("a"), F.to_date("last_ts")).cast("bigint").alias(
            "rdays"
        ),
    )
    tot = u.agg(F.count("*").cast("bigint").alias("t"))

    # SCALE GUARD: the three partition-less windows below run over VALUE
    # histograms only — distinct recency days (dataset time span), distinct
    # per-user purchase counts (activity-bounded), ≤512 sub-octave monetary
    # bins — never over the user population.
    def scores(col: str, ascending_score: bool) -> DataFrame:
        hist = u.groupBy(F.col(col).alias("k")).agg(
            F.count("*").cast("bigint").alias("n")
        )
        w = Window.orderBy(F.asc("k")).rowsBetween(
            Window.unboundedPreceding, -1
        )
        cum = hist.withColumn(
            "cum_before", F.coalesce(F.sum("n").over(w), F.lit(0))
        )
        q = F.least(F.lit(4), F.expr("(5 * cum_before) div t"))
        score = (1 + q) if ascending_score else (5 - q)
        return cum.crossJoin(F.broadcast(tot)).select(
            "k", score.cast("int").alias("score")
        )

    rs = scores("rdays", ascending_score=False)
    fs = scores("freq", ascending_score=True)
    ms = scores("mkey", ascending_score=True)
    return (
        u.join(F.broadcast(rs.withColumnsRenamed({"k": "rdays", "score": "r_score"})), "rdays")
        .join(F.broadcast(fs.withColumnsRenamed({"k": "freq", "score": "f_score"})), "freq")
        .join(F.broadcast(ms.withColumnsRenamed({"k": "mkey", "score": "m_score"})), "mkey")
        .groupBy("r_score", "f_score", "m_score")
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


#: CUSUM drift alarm threshold, in cents of accumulated positive deviation.
CUSUM_THRESHOLD_CENTS = 25000


@register(
    "events_cusum_drift",
    f"""
WITH p AS (
  SELECT user_id, event_id, ts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), t AS (
  SELECT CAST(sum(cents) AS BIGINT) // CAST(count(*) AS BIGINT) AS target
  FROM p
), c AS (
  SELECT user_id, event_id,
         CAST(sum(cents - target) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM p, t
), s AS (
  SELECT user_id,
         cum - CAST(min(cum) OVER (
           PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS excursion
  FROM c
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(max(excursion) AS BIGINT) AS max_cusum_cents,
       CAST(max(excursion) >= {CUSUM_THRESHOLD_CENTS} AS INT) AS drift_flag
FROM s GROUP BY user_id
""",
    doc="CUSUM upward-drift detection per user over purchase values — "
    "running-sum-minus-running-min window equivalence, exact integer cents",
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM drift detection over purchase amounts (Page 1954,
    public): the one-sided upper CUSUM ``S_i = max(0, S_{{i-1}} + (x_i -
    target))`` looks like an unexpressible non-linear recursion, but it
    has an exact closed form — ``S_i = C_i - min_{{j<=i}} C_j`` where
    ``C`` is the plain running sum of deviations — which turns the
    changepoint detector into two stock window functions. Emits each
    user's maximum excursion and an alarm flag at
    :data:`CUSUM_THRESHOLD_CENTS`.

    Numeric discipline: deviations are integer cents against the floored
    global mean (``total div n``, both engines identical; the sub-cent
    floor bias is deterministic), so every running sum, min and max is
    exact — no float accumulation across the window frames.

    Scale shape: one broadcast scalar (the target), one shuffle
    partitioning by the high-cardinality user_id for the ordered windows
    (both windows share the single (user_id, ts, event_id) sort), and the
    final per-user aggregate rides the same partitioning — one exchange
    total. Per-partition state for running sum/min is O(1).

    Reference analog: none (extension surface — event-analytics family;
    the offline sibling of the streaming anomaly guards).
    """
    ev = table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    t = p.agg(
        F.expr("CAST(sum(cents) AS BIGINT) div count(*)").alias("target")
    )
    w_sum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = p.crossJoin(F.broadcast(t)).select(
        "user_id",
        "event_id",
        F.sum(F.col("cents") - F.col("target"))
        .over(w_sum)
        .cast("bigint")
        .alias("cum"),
    )
    w_min = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = c.select(
        "user_id",
        (F.col("cum") - F.min("cum").over(w_min).cast("bigint")).alias(
            "excursion"
        ),
    )
    return s.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_purchases"),
        F.max("excursion").cast("bigint").alias("max_cusum_cents"),
        (F.max("excursion") >= CUSUM_THRESHOLD_CENTS)
        .cast("int")
        .alias("drift_flag"),
    )


@register(
    "events_stickiness_dau_wau",
    """
WITH triple AS (
  SELECT DISTINCT year(date_trunc('week', ts)) * 10000
                    + month(date_trunc('week', ts)) * 100
                    + day(date_trunc('week', ts)) AS wk,
                  CAST(ts AS DATE) AS d, user_id
  FROM events
), dau AS (
  SELECT wk, d, CAST(count(*) AS BIGINT) AS dau FROM triple GROUP BY wk, d
), wau AS (
  SELECT wk, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM triple GROUP BY wk
), davg AS (
  SELECT wk, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(dau) AS BIGINT) AS dau_sum
  FROM dau GROUP BY wk
)
SELECT CAST(davg.wk AS INT) AS week_start, n_days, dau_sum, wau,
       round(CAST(dau_sum AS DOUBLE) / (n_days * wau), 6) + 0.0
         AS stickiness
FROM davg JOIN wau ON davg.wk = wau.wk
""",
    doc="product-analytics stickiness: mean DAU / WAU per ISO week from one "
    "deduplicated (week, day, user) frame",
)
def events_stickiness_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity stickiness — the product-analytics staple ``avg(DAU)/WAU``
    per ISO week (1.0 = every weekly-active user shows up daily). The
    scan is deduplicated ONCE to the (week, day, user) triple; both the
    daily and weekly distinct counts then run over that frame — the raw
    event volume is touched a single time, and the triple is at most
    |users|·7 rows per week no matter how many events each user emits
    (the 100 TB concern: events per user grows with corpus, the triple
    does not).

    Counts are exact integers; stickiness is one fixed-shape rounded
    division. Week keys are the integer yyyymmdd of the Monday week start
    (``date_trunc('week')`` is Monday-ISO on both engines; the integer
    form sidesteps date-vs-timestamp materialization differences).

    Scale shape: one dedup shuffle on the triple, two small aggregates
    (the week one rides a second distinct on user — bounded by the
    triple), one tiny join on week keys.

    Reference analog: none (extension surface — event-analytics family).
    """
    ev = table(spark, sf_dir, "events")
    wkd = F.date_trunc("week", F.col("ts"))
    triple = ev.select(
        (F.year(wkd) * 10000 + F.month(wkd) * 100 + F.dayofmonth(wkd)).alias(
            "wk"
        ),
        F.to_date("ts").alias("d"),
        "user_id",
    ).distinct()
    dau = triple.groupBy("wk", "d").agg(
        F.count("*").cast("bigint").alias("dau")
    )
    wau = triple.groupBy("wk").agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )
    davg = dau.groupBy("wk").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("dau").cast("bigint").alias("dau_sum"),
    )
    return davg.join(wau, "wk").select(
        F.col("wk").cast("int").alias("week_start"),
        "n_days",
        "dau_sum",
        "wau",
        (
            F.round(
                F.col("dau_sum").cast("double")
                / (F.col("n_days") * F.col("wau")),
                6,
            )
            + F.lit(0.0)
        ).alias("stickiness"),
    )


#: Markov stationary iteration: mass micro-units and unrolled step count.
MARKOV_MASS = 1_000_000_000
MARKOV_ITERS = 4

_MARKOV_PAIRS_CTE = """
ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type AS p, event_type AS nxt, CAST(count(*) AS BIGINT) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
), outw AS (
  SELECT p, CAST(sum(n) AS BIGINT) AS wout FROM pairs GROUP BY p
), states AS (
  SELECT DISTINCT p AS s FROM pairs
), ns AS (
  SELECT CAST(count(*) AS BIGINT) AS k FROM states
)"""


def _markov_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``(p, nxt, n, wout)`` transition-count matrix both Markov
    queries iterate over (the ``pairs``/``outw`` CTEs): ONE per-user lag
    window reduces the event stream to |types|² rows, kept so the steps
    do not re-run the user exchange."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return keep(
        ev.select(
            "user_id",
            F.col("event_type").alias("nxt"),
            F.lag("event_type").over(w).alias("p"),
        )
        .where(F.col("p").isNotNull())
        .groupBy("p", "nxt")
        .agg(F.count("*").cast("bigint").alias("n"))
        .withColumn(
            "wout", F.sum("n").over(Window.partitionBy("p")).cast("bigint")
        )
    )


def _markov_oracle() -> str:
    steps = [f", r0 AS (SELECT s, {MARKOV_MASS} // k AS r FROM states, ns)"]
    for i in range(1, MARKOV_ITERS + 1):
        steps.append(
            f""", r{i} AS (
  SELECT e.nxt AS s, CAST(sum((r.r * e.n) // o.wout) AS BIGINT) AS r
  FROM pairs e
  JOIN r{i - 1} r ON e.p = r.s
  JOIN outw o ON e.p = o.p
  GROUP BY e.nxt
)"""
        )
    return (
        "WITH "
        + _MARKOV_PAIRS_CTE
        + "".join(steps)
        + f"""
SELECT s AS state, r AS stationary_micro,
       round(CAST(r AS DOUBLE) / {MARKOV_MASS}, 6) + 0.0 AS share
FROM r{MARKOV_ITERS}
"""
    )


@register(
    "events_markov_stationary",
    _markov_oracle(),
    doc=f"stationary distribution of the event-type Markov chain: "
    f"{MARKOV_ITERS} unrolled integer-micro-unit power steps over the "
    "transition-count matrix",
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where user behavior settles: the stationary distribution of the
    event-type Markov chain, by :data:`MARKOV_ITERS` unrolled power steps
    over the transition-count matrix that ``events_type_transitions``
    exposes raw. The numeric discipline is ``graph_pagerank_purchases``'s:
    every mass is an exact INTEGER count of probability micro-units
    (:data:`MARKOV_MASS` total) and every step is integer multiply/div,
    so per-state inflow sums are reduction-order-free and bit-identical
    across engines and cluster sizes.

    Scale shape: ONE corpus-touching exchange (the per-user lag window on
    user_id — the family's shared partition key) reduces the stream to a
    |types|² count matrix, which is persisted; the four iterations then
    join |types|-row rank vectors against it — micro-frames, costless at
    any corpus size. Compare pagerank, where the edge table itself is
    corpus-scaled and must be published/bucketed; here only the REDUCTION
    is corpus-scaled.

    Reference analog: none (extension surface — event-analytics family).
    """
    pairs = _markov_pairs(spark, sf_dir)
    states = pairs.select(F.col("p").alias("s")).distinct()
    ns = states.agg(F.count("*").cast("bigint").alias("k"))
    ranks = states.crossJoin(F.broadcast(ns)).select(
        "s", F.expr(f"{MARKOV_MASS} div k").cast("bigint").alias("r")
    )
    for _ in range(MARKOV_ITERS):
        ranks = (
            pairs.join(F.broadcast(ranks), pairs.p == F.col("s"))
            .select(
                F.col("nxt"),
                F.expr("(r * n) div wout").alias("contrib"),
            )
            .groupBy("nxt")
            .agg(F.sum("contrib").cast("bigint").alias("r"))
            .select(F.col("nxt").alias("s"), "r")
        )
    return ranks.select(
        F.col("s").alias("state"),
        F.col("r").alias("stationary_micro"),
        (F.round(F.col("r").cast("double") / MARKOV_MASS, 6) + F.lit(0.0)).alias(
            "share"
        ),
    )


@register(
    "events_user_entropy",
    """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
), tot AS (
  SELECT user_id, CAST(sum(n) AS BIGINT) AS nt,
         CAST(count(*) AS BIGINT) AS n_types
  FROM c GROUP BY user_id
), terms AS (
  SELECT c.user_id, tot.n_types, tot.nt,
         CAST(round((CAST(c.n AS DOUBLE) / tot.nt)
                    * ln(CAST(c.n AS DOUBLE) / tot.nt), 12)
              AS DECIMAL(38, 12)) AS term
  FROM c JOIN tot ON c.user_id = tot.user_id
)
SELECT user_id, any_value(n_types) AS n_types, any_value(nt) AS n_events,
       round(-CAST(sum(term) AS DOUBLE), 6) + 0.0 AS entropy_nats
FROM terms GROUP BY user_id
""",
    doc="behavioral entropy per user: Shannon entropy of the event-type "
    "mix, decimal-summed terms for cross-engine determinism",
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each user's event-type mix — the
    behavioral-diversity feature (0 = monomaniac, ln|types| = uniform)
    that segmentation and anomaly models consume.

    Numeric discipline — the engine's NLL summation pattern
    (``text_unigram_logprob``): each ``p·ln p`` term is a fixed-shape double expression over
    two exact integers, individually rounded to 12dp and cast to
    ``decimal(38,12)`` BEFORE the per-user sum, so the reduction is
    order-free; the ≤ |types| per-term ulp differences sit 6 orders of
    magnitude below the final 6dp rounding. Never sum raw doubles across
    rows and round after — partition order would leak into the hash.

    Scale shape: one (user, type) count aggregate with map-side combine,
    a per-user rollup riding the same user partitioning, one join back —
    all on the high-cardinality user key; output is one row per user.

    Reference analog: none (extension surface — event-analytics family).
    """
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = c.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count("*").cast("bigint").alias("n_types"),
    )
    p = F.col("n").cast("double") / F.col("nt")
    terms = c.join(tot, "user_id").select(
        "user_id",
        "n_types",
        "nt",
        F.round(p * F.log(p), 12).cast("decimal(38,12)").alias("term"),
    )
    return terms.groupBy("user_id").agg(
        F.any_value("n_types").alias("n_types"),
        F.any_value("nt").alias("n_events"),
        (F.round(-F.sum("term").cast("double"), 6) + F.lit(0.0)).alias(
            "entropy_nats"
        ),
    )


@register(
    "events_funnel_latency",
    """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
), lat AS (
  SELECT 'view_to_click' AS step, c.user_id,
         epoch_us(c.t_click) - epoch_us(v.t_view) AS us
  FROM c JOIN v ON c.user_id = v.user_id
  UNION ALL
  SELECT 'click_to_purchase' AS step, p.user_id,
         epoch_us(p.t_purchase) - epoch_us(c.t_click) AS us
  FROM p JOIN c ON p.user_id = c.user_id
)
SELECT step, CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(us) AS BIGINT) AS total_us,
       CAST(sum(us) // count(*) AS BIGINT) AS avg_us,
       CAST(max(us) AS BIGINT) AS max_us
FROM lat GROUP BY step
""",
    doc="funnel step latency: exact integer-microsecond time from first "
    "view to first subsequent click, and click to purchase",
)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert for the strictly-ordered funnel: per converting
    user, microseconds from first view to the first LATER click and from
    that click to the first later purchase, aggregated per step (count,
    total, integer-average, max). Same step semantics as
    ``events_funnel`` — an unordered diff would credit purchases that
    preceded the view.

    All latencies are exact integer microseconds; the average is integer
    division — no float anywhere, so the output hashes identically on
    both engines by construction.

    Scale shape: three per-user min aggregates, each riding the shared
    user_id partitioning with step frames shrinking monotonically
    (step-k input is step-k-1 converters), one 2-row final aggregate.

    Reference analog: none (extension surface — event-analytics family).
    """
    ev = table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    lat = (
        c.join(v, "user_id")
        .select(
            F.lit("view_to_click").alias("step"),
            (
                F.unix_micros(F.col("t_click")) - F.unix_micros(F.col("t_view"))
            ).alias("us"),
        )
        .unionAll(
            p.join(c, "user_id").select(
                F.lit("click_to_purchase").alias("step"),
                (
                    F.unix_micros(F.col("t_purchase"))
                    - F.unix_micros(F.col("t_click"))
                ).alias("us"),
            )
        )
    )
    return lat.groupBy("step").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("us").cast("bigint").alias("total_us"),
        F.expr("CAST(sum(us) div count(*) AS BIGINT)").alias("avg_us"),
        F.max("us").cast("bigint").alias("max_us"),
    )


@register(
    "events_ab_test_ztest",
    """
WITH assigned AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS HUGEINT) AS cents
  FROM events GROUP BY 1, 2
), arms AS (
  SELECT arm, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(cents) AS HUGEINT) AS sx,
         CAST(sum(cents * cents) AS HUGEINT) AS sxx
  FROM assigned GROUP BY arm
), wide AS (
  SELECT
    max(CASE WHEN arm = 0 THEN n END)   AS n_a,
    max(CASE WHEN arm = 1 THEN n END)   AS n_b,
    max(CASE WHEN arm = 0 THEN sx END)  AS sx_a,
    max(CASE WHEN arm = 1 THEN sx END)  AS sx_b,
    max(CASE WHEN arm = 0 THEN sxx END) AS sxx_a,
    max(CASE WHEN arm = 1 THEN sxx END) AS sxx_b
  FROM arms
), stats AS (
  SELECT n_a, n_b, sx_a, sx_b,
         CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m_a,
         CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m_b,
         CAST(n_a * sxx_a - sx_a * sx_a AS DOUBLE)
           / CAST(n_a * (n_a - 1) AS DOUBLE) AS var_a,
         CAST(n_b * sxx_b - sx_b * sx_b AS DOUBLE)
           / CAST(n_b * (n_b - 1) AS DOUBLE) AS var_b
  FROM wide
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(m_a / 100.0, 6) + 0.0 AS mean_value_a,
       round(m_b / 100.0, 6) + 0.0 AS mean_value_b,
       CASE WHEN var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE) > 0
            THEN round((m_a - m_b)
                 / sqrt(var_a / CAST(n_a AS DOUBLE)
                        + var_b / CAST(n_b AS DOUBLE)), 6) + 0.0
            END AS t_welch
FROM stats
""",
    doc="Welch two-sample t-test on per-user purchase value: deterministic "
    "user_id-parity arms, exact integer-cent moments (HUGEINT/decimal38), "
    "one fixed double sequence; NULL when both variances degenerate",
)
def events_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t statistic for an A/B experiment: users are
    assigned to arms by ``user_id % 2`` (the stand-in for a salted
    assignment hash — any deterministic user→arm map slots in), the
    per-user metric is total purchase value in integer cents, and

        t = (m_a − m_b) / sqrt(s²_a/n_a + s²_b/n_b)

    with the unbiased per-arm variances. (A conversion-rate z-test
    degenerates on these fixtures — every user purchases — so the
    continuous-metric test is the informative one.)

    Determinism: per-arm moments (n, Σx, Σx²) are exact
    decimal(38,0)/HUGEINT; the double math is the same fixed sequence on
    both engines — divisions, the Welch combination, sqrt, round — and
    the degenerate zero-variance case returns NULL on both sides rather
    than tripping ANSI division.

    Scale shape: one shuffle on user_id for the per-user metric (the arm
    rides along), then a map-side partial aggregate into two groups and a
    2-row pivot. Σx² is ~1e14 per user at these fixtures and the arm sum
    stays inside decimal38 up to ~1e24 users.

    Reference analog: none — extension surface (the experimentation
    sibling of ``lineitem_ols_price_model``).
    """
    ev = table(spark, sf_dir, "events")
    cents = F.sum(
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        ).otherwise(0)
    ).cast("bigint")
    assigned = ev.groupBy(
        "user_id", (F.col("user_id") % 2).cast("int").alias("arm")
    ).agg(cents.alias("cents"))
    dec = "decimal(38,0)"
    arms = assigned.groupBy("arm").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("cents").cast(dec).alias("sx"),
        F.sum(F.col("cents").cast(dec) * F.col("cents")).cast(dec).alias("sxx"),
    )
    wide = arms.groupBy().agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 0, F.col("sx"))).alias("sx_a"),
        F.max(F.when(F.col("arm") == 1, F.col("sx"))).alias("sx_b"),
        F.max(F.when(F.col("arm") == 0, F.col("sxx"))).alias("sxx_a"),
        F.max(F.when(F.col("arm") == 1, F.col("sxx"))).alias("sxx_b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    m_a = F.col("sx_a").cast("double") / n_a.cast("double")
    m_b = F.col("sx_b").cast("double") / n_b.cast("double")
    var_a = (n_a * F.col("sxx_a") - F.col("sx_a") * F.col("sx_a")).cast(
        "double"
    ) / (n_a * (n_a - 1)).cast("double")
    var_b = (n_b * F.col("sxx_b") - F.col("sx_b") * F.col("sx_b")).cast(
        "double"
    ) / (n_b * (n_b - 1)).cast("double")
    se2 = var_a / n_a.cast("double") + var_b / n_b.cast("double")
    return wide.select(
        n_a.cast("bigint").alias("n_a"),
        n_b.cast("bigint").alias("n_b"),
        (F.round(m_a / 100.0, 6) + F.lit(0.0)).alias("mean_value_a"),
        (F.round(m_b / 100.0, 6) + F.lit(0.0)).alias("mean_value_b"),
        F.when(
            se2 > 0, F.round((m_a - m_b) / F.sqrt(se2), 6) + F.lit(0.0)
        ).alias("t_welch"),
    )


@register(
    "events_chi2_independence",
    """
WITH cells AS (
  SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
), marg AS (
  SELECT event_type, arm, o,
         CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
         CAST(sum(o) OVER (PARTITION BY arm) AS BIGINT) AS ct,
         CAST(sum(o) OVER () AS BIGINT) AS n
  FROM cells
), terms AS (
  SELECT n,
         CAST(round(
           (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)
           * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)
           / (CAST(rt AS DOUBLE) * ct / n), 12) AS DECIMAL(38, 12)) AS term
  FROM marg
), agg AS (
  SELECT max(n) AS n, sum(term) AS chi2_dec,
         CAST(count(*) AS BIGINT) AS n_cells
  FROM terms
)
SELECT CAST(n AS BIGINT) AS n_events, n_cells,
       round(CAST(chi2_dec AS DOUBLE), 6) + 0.0 AS chi2
FROM agg
""",
    doc="chi-square independence test of event_type x assignment arm: "
    "exact integer contingency table, per-cell terms rounded+cast to "
    "decimal(38,12) before the order-free sum (the JSD discipline)",
)
def events_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² test of independence between event type and the
    ``user_id % 2`` experiment arm — the categorical-balance audit every
    A/B pipeline runs before trusting its assignment. The contingency
    table is exact int64; each cell's (o−e)²/e is a FIXED double sequence
    (e = rt·ct/n with one multiply and one divide), and the cross-cell
    sum — the one place float association order could differ — is made
    order-free by rounding each term to 12 decimals and summing in
    decimal(38,12), the ``text_js_divergence_by_lang`` discipline.

    Scale shape: one shuffle to the (type × arm) cell table (bounded by
    the category product, here 10 rows); marginals via windows over that
    bounded frame; no corpus-sized window anywhere.

    Reference analog: none — extension surface (the categorical sibling
    of ``events_ab_test_ztest``).
    """
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 2).cast("int").alias("arm")
    ).agg(F.count("*").cast("bigint").alias("o"))
    w_r = Window.partitionBy("event_type")
    w_c = Window.partitionBy("arm")
    w_all = Window.partitionBy()
    marg = cells.select(
        "o",
        F.sum("o").over(w_r).cast("bigint").alias("rt"),
        F.sum("o").over(w_c).cast("bigint").alias("ct"),
        F.sum("o").over(w_all).cast("bigint").alias("n"),
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    term = F.round(
        (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e,
        12,
    ).cast("decimal(38,12)")
    agg = marg.select(F.col("n"), term.alias("term")).groupBy().agg(
        F.max("n").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum("term").alias("chi2_dec"),
    )
    return agg.select(
        "n_events",
        "n_cells",
        (F.round(F.col("chi2_dec").cast("double"), 6) + F.lit(0.0)).alias(
            "chi2"
        ),
    )


@register(
    "events_ks_drift_binned",
    f"""
WITH vals AS (
  SELECT CASE WHEN CAST(extract(day FROM ts) AS INT) <= 15 THEN 0 ELSE 1 END
           AS side,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
), binned AS (
  SELECT side, {suboctave_bin_sql('cents')} AS b,
         CAST(count(*) AS BIGINT) AS c
  FROM vals GROUP BY 1, 2
), wide AS (
  SELECT b,
         CAST(coalesce(sum(CASE WHEN side = 0 THEN c END), 0) AS BIGINT) AS ca,
         CAST(coalesce(sum(CASE WHEN side = 1 THEN c END), 0) AS BIGINT) AS cb
  FROM binned GROUP BY b
), cum AS (
  SELECT
    CAST(sum(ca) OVER (ORDER BY b
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
    CAST(sum(cb) OVER (ORDER BY b
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b,
    CAST(sum(ca) OVER () AS BIGINT) AS n_a,
    CAST(sum(cb) OVER () AS BIGINT) AS n_b
  FROM wide
), diffs AS (
  SELECT n_a, n_b,
         CAST(abs(cum_a * n_b - cum_b * n_a) AS DECIMAL(38, 0)) AS dnum
  FROM cum
)
SELECT max(n_a) AS n_a, max(n_b) AS n_b,
       round(CAST(max(dnum) AS DOUBLE)
             / (CAST(max(n_a) AS DOUBLE) * max(n_b)), 6) + 0.0 AS ks_stat
FROM diffs
""",
    doc="two-sample KS drift statistic over sub-octave value bins: "
    "first-half vs second-half of month, exact integer CDFs, max CDF gap "
    "by decimal cross-multiplication, one final division",
)
def events_ks_drift_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned Kolmogorov-Smirnov drift check: does the event-value
    distribution shift between the first and second half of the month?
    The statistic is max_b |CDF_a(b) − CDF_b(b)| evaluated at the
    sub-octave bin edges (the engine's standard device for avoiding a
    corpus-wide sort: the exact KS over raw values needs global order
    statistics; at ≤512 bin edges with ~9% value resolution the binned
    statistic is the drift-monitoring workhorse).

    Determinism: both CDFs are exact integer running sums; the max is
    taken over |cum_a·n_b − cum_b·n_a| in decimal(38,0) — integer
    cross-multiplication, no float comparison — and ONE division at the
    end converts the argmax gap to the [0,1] statistic.

    Scale shape: one shuffle to the (side, bin) table, everything after
    runs on the ≤512-row bin frame.

    Reference analog: none — extension surface (the distributional sibling
    of ``events_chi2_independence``; same drift-audit family as
    ``text_js_divergence_by_lang``).
    """
    ev = table(spark, sf_dir, "events")
    vals = ev.select(
        F.when(F.dayofmonth("ts") <= 15, 0).otherwise(1).alias("side"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    binned = vals.groupBy("side", suboctave_bin("cents").alias("b")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    wide = binned.groupBy("b").agg(
        F.coalesce(F.sum(F.when(F.col("side") == 0, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("ca"),
        F.coalesce(F.sum(F.when(F.col("side") == 1, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("cb"),
    )
    # SCALE GUARD: partition-less windows over the <=512-row bin frame only.
    w_cum = (
        Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    cum = wide.select(
        F.sum("ca").over(w_cum).cast("bigint").alias("cum_a"),
        F.sum("cb").over(w_cum).cast("bigint").alias("cum_b"),
        F.sum("ca").over(w_all).cast("bigint").alias("n_a"),
        F.sum("cb").over(w_all).cast("bigint").alias("n_b"),
    )
    diffs = cum.select(
        "n_a",
        "n_b",
        F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
        .cast("decimal(38,0)")
        .alias("dnum"),
    )
    return diffs.groupBy().agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        (
            F.round(
                F.max("dnum").cast("double")
                / (F.max("n_a").cast("double") * F.max("n_b")),
                6,
            )
            + F.lit(0.0)
        ).alias("ks_stat"),
    )


@register(
    "events_burstiness_fano",
    """
WITH hours AS (
  SELECT date_trunc('hour', ts) AS h, event_type,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS n_hours
  FROM events
), moments AS (
  SELECT event_type,
         CAST(sum(c) AS BIGINT) AS sx,
         CAST(sum(c * c) AS BIGINT) AS sxx
  FROM hours GROUP BY event_type
)
SELECT event_type, n_hours,
       round(CAST(sx AS DOUBLE) / n_hours, 6) + 0.0 AS mean_per_hour,
       round((CAST(n_hours * sxx - sx * sx AS DOUBLE)
              / CAST(n_hours * (n_hours - 1) AS DOUBLE))
             / (CAST(sx AS DOUBLE) / n_hours), 6) + 0.0 AS fano
FROM moments, spine
""",
    doc="index of dispersion (Fano factor) of hourly event counts per "
    "type, zero-hours included via the global hour spine; exact integer "
    "moments, fixed double sequence",
)
def events_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness audit: the Fano factor (variance/mean of hourly counts)
    per event type — ≈1 for a Poisson stream, >1 for bursty arrivals;
    the signal capacity planners and anomaly detectors key on. Hours
    where a type has NO events count as zeros: the variance uses
    n = the corpus's global distinct-hour spine, and zero terms vanish
    from Σc and Σc² — so no spine join materializes, just the scalar
    hour count riding in by broadcast.

    Determinism: per-type (Σc, Σc²) are exact int64; mean and the
    unbiased variance are a fixed double sequence, one division each.

    Scale shape: one shuffle to the (hour × type) frame (calendar-bounded
    per type), one tiny moment aggregate.

    Reference analog: none — extension surface (arrival-process sibling
    of ``events_concurrency_peak``).
    """
    ev = table(spark, sf_dir, "events")
    hours = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count("*").cast("bigint").alias("c"))
    spine = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).distinct().groupBy().agg(F.count("*").cast("bigint").alias("n_hours"))
    moments = hours.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("sx"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sxx"),
    )
    j = moments.crossJoin(F.broadcast(spine))
    n = F.col("n_hours")
    mean = F.col("sx").cast("double") / n
    var = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double") / (
        n * (n - 1)
    ).cast("double")
    return j.select(
        "event_type",
        "n_hours",
        (F.round(mean, 6) + F.lit(0.0)).alias("mean_per_hour"),
        (F.round(var / mean, 6) + F.lit(0.0)).alias("fano"),
    )


#: bot heuristics: hourly rate cap and squared-CoV regularity threshold
#: (CoV² < BOT_COV2_NUM/BOT_COV2_DEN flags metronome-regular traffic)
BOT_RATE_CAP = 40
BOT_COV2_NUM = 1
BOT_COV2_DEN = 100


@register(
    "events_bot_detection",
    f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), rate AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
         CAST(max(c) AS BIGINT) AS max_hourly,
         CAST(count(*) AS BIGINT) AS active_hours
  FROM hourly GROUP BY user_id
), gaps AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS g
  FROM events
), gm AS (
  SELECT user_id, CAST(count(g) AS BIGINT) AS ng,
         CAST(sum(g) AS HUGEINT) AS sg,
         CAST(sum(CAST(g AS HUGEINT) * g) AS HUGEINT) AS sgg
  FROM gaps WHERE g IS NOT NULL GROUP BY user_id
)
SELECT r.user_id, r.n_events, r.max_hourly, r.active_hours,
       r.max_hourly >= {BOT_RATE_CAP} AS rate_flag,
       coalesce({BOT_COV2_DEN} * g.ng * (g.ng * g.sgg - g.sg * g.sg)
                < {BOT_COV2_NUM} * (g.ng - 1) * g.sg * g.sg, false)
         AS regular_flag
FROM rate r LEFT JOIN gm g ON r.user_id = g.user_id AND g.ng >= 2
""",
    doc=f"bot-detection panel: per-user hourly rate cap (>= {BOT_RATE_CAP}"
    "/h) and metronome-regularity flag (inter-arrival CoV² < "
    f"{BOT_COV2_NUM}/{BOT_COV2_DEN} by integer cross-multiplication over "
    "exact microsecond moments)",
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abuse-detection panel every event pipeline runs: per user, (a) the
    burst-rate flag — any hour with ≥ :data:`BOT_RATE_CAP` events — and
    (b) the regularity flag — inter-arrival times too periodic for a
    human, CoV² = n(nΣg²−(Σg)²)/((n−1)(Σg)²) below 1/100, evaluated
    ENTIRELY by integer cross-multiplication of exact microsecond moments
    (HUGEINT/decimal38), so the flag never compares floats.

    Scale shape: one shuffle to (user, hour) counts, one user_id window
    for the ordered gaps (deterministic (ts, event_id) order), one
    user-level join. All per-user state is moments, never gap lists.

    Reference analog: none — extension surface (the abuse sibling of
    ``events_burstiness_fano``; that one audits the stream, this one
    names the users).
    """
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").cast("bigint").alias("c"))
    rate = hourly.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.max("c").cast("bigint").alias("max_hourly"),
        F.count("*").cast("bigint").alias("active_hours"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("g"),
    )
    dec = "decimal(38,0)"
    gm = (
        gaps.where(F.col("g").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("g").cast("bigint").alias("ng"),
            F.sum("g").cast(dec).alias("sg"),
            F.sum(F.col("g").cast(dec) * F.col("g")).cast(dec).alias("sgg"),
        )
        .where(F.col("ng") >= 2)
    )
    ng, sg, sgg = (F.col(c) for c in ("ng", "sg", "sgg"))
    regular = (
        F.lit(BOT_COV2_DEN) * ng * (ng * sgg - sg * sg)
        < F.lit(BOT_COV2_NUM) * (ng - 1) * sg * sg
    )
    return rate.join(gm, "user_id", "left").select(
        "user_id",
        "n_events",
        "max_hourly",
        "active_hours",
        (F.col("max_hourly") >= BOT_RATE_CAP).alias("rate_flag"),
        F.coalesce(regular, F.lit(False)).alias("regular_flag"),
    )


#: robust outlier threshold: |x - med| > (MAD_K_X10K / 10000) * MAD
#: (3 sigma-equivalents x the 1.4826 normal-consistency constant)
MAD_K_X10K = 44478


@register(
    "events_outlier_mad",
    f"""
WITH cents AS (
  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events
), h1 AS (
  SELECT event_type, v, CAST(count(*) AS BIGINT) AS c FROM cents GROUP BY 1, 2
), m1 AS (
  SELECT event_type, v AS med, n FROM (
    SELECT event_type, v, c,
           sum(c) OVER (PARTITION BY event_type ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cm,
           sum(c) OVER (PARTITION BY event_type) AS n
    FROM h1
  ) WHERE cm - c < (n + 1) // 2 AND (n + 1) // 2 <= cm
), dev AS (
  SELECT c.event_type, abs(c.v - m.med) AS d
  FROM cents c JOIN m1 m USING (event_type)
), h2 AS (
  SELECT event_type, d, CAST(count(*) AS BIGINT) AS c FROM dev GROUP BY 1, 2
), m2 AS (
  SELECT event_type, d AS mad FROM (
    SELECT event_type, d, c,
           sum(c) OVER (PARTITION BY event_type ORDER BY d
                        ROWS UNBOUNDED PRECEDING) AS cm,
           sum(c) OVER (PARTITION BY event_type) AS n
    FROM h2
  ) WHERE cm - c < (n + 1) // 2 AND (n + 1) // 2 <= cm
)
SELECT h.event_type,
       CAST(sum(h.c) AS BIGINT) AS n_events,
       CAST(any_value(m1.med) AS BIGINT) AS med_cents,
       CAST(any_value(m2.mad) AS BIGINT) AS mad_cents,
       CAST(sum(CASE WHEN 10000 * h.d > {MAD_K_X10K} * m2.mad
                     THEN h.c ELSE 0 END) AS BIGINT) AS n_outliers
FROM h2 h JOIN m2 USING (event_type) JOIN m1 USING (event_type)
GROUP BY h.event_type
""",
    doc="robust outlier panel: per-type lower-median and MAD over the exact "
    "cents histogram, outliers counted by integer cross-multiplication "
    "(|x-med| > 4.4478*MAD) — no floats anywhere, two bounded-domain passes",
)
def events_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly counting the way monitoring pipelines do it when
    mean/stddev are poisoned by the very outliers being hunted: center =
    MEDIAN, spread = MAD (median absolute deviation), flag =
    |x − med| > 3·1.4826·MAD. Both medians are LOWER medians (rank
    ⌈n/2⌉), read directly off the exact integer-cent histogram — the
    bounded-domain degenerate case of the engine's selection ladder
    (see ``lineitem_leadtime_quartiles``) — and the threshold multiplies
    through by 10⁴ (:data:`MAD_K_X10K`), so med, MAD and the outlier
    count are all exact BIGINTs: no float, no interpolation, no
    engine-order sensitivity anywhere.

    Scale shape: two raw-scan hash aggregates (the irreducible two-pass
    cost of MAD — deviations need the median first), each collapsing to
    a (type × ≤ cents-domain) histogram bounded by the VALUE domain, not
    the corpus; medians come from windows over those bounded histograms,
    and the outlier count is summed from the second histogram — the raw
    stream is never rescanned a third time.

    Reference analog: none (extension surface — monitoring family;
    `events_value_anomalies` is the z-score sibling this replaces when
    the tail is heavy).
    """
    ev = table(spark, sf_dir, "events")
    cents = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("v"),
    )

    def lower_median(hist: DataFrame, col: str) -> DataFrame:
        # SCALE GUARD: windows partition by event_type over the HISTOGRAM
        # frame, whose size is bounded by the cents value domain.
        w_cum = (
            Window.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_n = Window.partitionBy("event_type")
        cum = hist.select(
            "event_type",
            col,
            "c",
            F.sum("c").over(w_cum).cast("bigint").alias("cm"),
            F.sum("c").over(w_n).cast("bigint").alias("n"),
        ).withColumn("r", F.expr("(n + 1) DIV 2"))
        return cum.where(
            (F.col("cm") - F.col("c") < F.col("r")) & (F.col("r") <= F.col("cm"))
        )

    h1 = cents.groupBy("event_type", "v").agg(
        F.count("*").cast("bigint").alias("c")
    )
    m1 = lower_median(h1, "v").select(
        "event_type", F.col("v").alias("med")
    )
    dev = cents.join(F.broadcast(m1), "event_type").select(
        "event_type", F.abs(F.col("v") - F.col("med")).alias("d")
    )
    h2 = dev.groupBy("event_type", "d").agg(
        F.count("*").cast("bigint").alias("c")
    )
    m2 = lower_median(h2, "d").select(
        "event_type", F.col("d").alias("mad")
    )
    return (
        h2.join(F.broadcast(m2), "event_type")
        .join(F.broadcast(m1), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("bigint").alias("n_events"),
            F.any_value("med").cast("bigint").alias("med_cents"),
            F.any_value("mad").cast("bigint").alias("mad_cents"),
            F.sum(
                F.when(
                    F.lit(10000) * F.col("d") > F.lit(MAD_K_X10K) * F.col("mad"),
                    F.col("c"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


#: Count-Min sketch geometry: D independent hash rows x W buckets
CM_DEPTH = 3
CM_WIDTH = 64


def _cm_bucket_sql(d: str, key: str) -> str:
    return (
        f"(('0x' || substr(md5(CAST({d} AS VARCHAR) || ':' ||"
        f" CAST({key} AS VARCHAR)), 1, 12))::BIGINT % {CM_WIDTH})"
    )


@register(
    "events_countmin_estimate",
    f"""
WITH keyed AS (
  SELECT user_id FROM events
), sketch AS (
  SELECT t.d, {_cm_bucket_sql("t.d", "user_id")} AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM keyed, range({CM_DEPTH}) t(d)
  GROUP BY 1, 2
), exact AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
  FROM keyed GROUP BY user_id
), probes AS (
  SELECT e.user_id, e.exact_n, t.d,
         {_cm_bucket_sql("t.d", "e.user_id")} AS bucket
  FROM exact e, range({CM_DEPTH}) t(d)
)
SELECT p.user_id, CAST(any_value(p.exact_n) AS BIGINT) AS exact_n,
       CAST(min(s.c) AS BIGINT) AS cm_estimate,
       CAST(min(s.c) - any_value(p.exact_n) AS BIGINT) AS overestimate
FROM probes p JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket
GROUP BY p.user_id
""",
    doc=f"Count-Min sketch ({CM_DEPTH}x{CM_WIDTH}, md5 row hashes): one-pass "
    "mergeable frequency sketch, then per-key min-over-rows point estimates "
    "audited against exact counts (CM never underestimates)",
)
def events_countmin_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min sketch (Cormode & Muthukrishnan) as a distributed
    operator: :data:`CM_DEPTH` independent md5-keyed hash rows of
    :data:`CM_WIDTH` counters summarize the full per-key frequency
    distribution in a fixed 192-counter table, and a key's estimate is
    the MIN of its counters across rows — ≥ the true count by
    construction, within εN with high probability. The query then audits
    the sketch against the exact counts per key (``overestimate`` is the
    collision inflation), which is the eval a pipeline runs before
    trusting sketch geometry at production scale.

    Why it matters at 100 TB: counters are sums, so the sketch is
    MERGEABLE — map tasks sketch their partitions independently and the
    shuffle carries ≤ D×W rows per task regardless of key cardinality,
    the same contract as the HLL rollup (`events_distinct_rollup_sketch`)
    but for point frequencies rather than distinct counts. The hash is
    content-addressed md5 (the corpus module's discipline), so sketch
    contents are bit-identical on any engine or layout.

    Scale shape: one ×D row-local fan-out (no shuffle) into a D×W-row
    hash aggregate; the probe side reuses the exact per-key aggregate
    (itself one shuffle) and joins the 192-row sketch broadcast. All
    counters BIGINT.

    Reference analog: none (extension surface — sketch family).
    """
    ev = table(spark, sf_dir, "events")
    keyed = ev.select("user_id")
    d_col = F.explode(F.array(*[F.lit(k) for k in range(CM_DEPTH)])).alias("d")

    def bucket(d: F.col, key: F.col) -> F.col:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(":", d.cast("string"), key.cast("string"))
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint")
            % CM_WIDTH
        )

    exact = keyed.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("exact_n")
    )
    # One (user_id, d, bucket) frame serves BOTH the sketch build and the
    # probe (r11, guide §2.4): counter c = count of raw (event, d) rows per
    # (d, bucket) ≡ sum of per-user exact counts per (d, bucket) — bucket
    # is a function of (d, user_id) only, so grouping the exact aggregate
    # is the same exact integers. This cuts the md5/conv evaluations from
    # D × |events| to D × |distinct users| and removes one corpus-wide
    # fan-out pass; at 100 TB the event stream is hashed zero times and
    # the user aggregate once. (In a true streaming sketch the counters
    # still build from raw events map-side — this query is the offline
    # audit, where the exact aggregate is already required.)
    probes = exact.select("user_id", "exact_n", d_col).select(
        "user_id",
        "exact_n",
        "d",
        bucket(F.col("d"), F.col("user_id")).alias("bucket"),
    )
    probes = cut(probes)  # feeds sketch + probe join
    sketch = probes.groupBy("d", "bucket").agg(
        F.sum("exact_n").cast("bigint").alias("c")
    )
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("user_id")
        .agg(
            F.any_value("exact_n").cast("bigint").alias("exact_n"),
            F.min("c").cast("bigint").alias("cm_estimate"),
            (F.min("c") - F.any_value("exact_n")).cast("bigint").alias("overestimate"),
        )
    )


@register(
    "events_entropy_rate",
    """
WITH ordered AS (
  SELECT event_type AS cur,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
), trans AS (
  SELECT prev, cur, CAST(count(*) AS BIGINT) AS n_ij
  FROM ordered WHERE prev IS NOT NULL GROUP BY prev, cur
), row_tot AS (
  SELECT prev, CAST(sum(n_ij) AS BIGINT) AS n_i FROM trans GROUP BY prev
), tot AS (
  SELECT CAST(sum(n_ij) AS BIGINT) AS n FROM trans
), cond_terms AS (
  SELECT CAST(round((CAST(t.n_ij AS DOUBLE) / tot.n)
                    * ln(CAST(t.n_ij AS DOUBLE) / r.n_i), 12)
              AS DECIMAL(38,12)) AS term
  FROM trans t JOIN row_tot r ON t.prev = r.prev, tot
), marg_terms AS (
  SELECT CAST(round((CAST(n_i AS DOUBLE) / tot.n)
                    * ln(CAST(n_i AS DOUBLE) / tot.n), 12)
              AS DECIMAL(38,12)) AS term
  FROM row_tot, tot
)
SELECT (SELECT n FROM tot) AS n_transitions,
       (SELECT CAST(count(*) AS BIGINT) FROM row_tot) AS n_states,
       round(-CAST((SELECT sum(term) FROM cond_terms) AS DOUBLE), 6) + 0.0
         AS entropy_rate_nats,
       round(-CAST((SELECT sum(term) FROM marg_terms) AS DOUBLE), 6) + 0.0
         AS marginal_entropy_nats
""",
    doc="Markov entropy rate of the event stream: H(next|cur) from exact "
    "integer transition counts vs the marginal H(cur) — each p*ln(p) term "
    "rounded+cast decimal(38,12) before the order-free sum",
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How predictable is the NEXT event given the current one? The Markov
    entropy rate H(X₊₁|X) = −Σᵢⱼ p(i,j)·ln p(j|i) over the exact
    transition counts (per-user ordered streams, deterministic (ts,
    event_id) order), reported beside the marginal entropy H(X) — the
    gap between them is exactly the information the previous event
    carries, the signal that justifies (or kills) sequence features in
    a model. Term summation follows the engine's NLL discipline: each
    term is a fixed-shape double expression over exact integers, rounded
    to 12 dp and cast ``decimal(38,12)`` BEFORE the sum, so the
    reduction is order-free at any parallelism.

    Scale shape: one user_id exchange for the lag window, then a
    |types|²-bounded transition table — every aggregate after the window
    is state-domain-sized, and the output is one row.

    Reference analog: none (extension surface — the sequence-level
    sibling of `events_user_entropy`; `events_markov_stationary` uses
    the same transition table for the long-run mix).
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
    )
    trans = (
        ordered.where(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count("*").cast("bigint").alias("n_ij"))
    )
    row_tot = trans.groupBy("prev").agg(F.sum("n_ij").cast("bigint").alias("n_i"))
    tot = trans.agg(F.sum("n_ij").cast("bigint").alias("n"))
    dec = "decimal(38,12)"
    cond = (
        trans.join(F.broadcast(row_tot), "prev")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (F.col("n_ij").cast("double") / F.col("n"))
                * F.log(F.col("n_ij").cast("double") / F.col("n_i")),
                12,
            )
            .cast(dec)
            .alias("term")
        )
        .agg(F.sum("term").alias("h_cond"))
    )
    marg = (
        row_tot.crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (F.col("n_i").cast("double") / F.col("n"))
                * F.log(F.col("n_i").cast("double") / F.col("n")),
                12,
            )
            .cast(dec)
            .alias("term")
        )
        .agg(F.sum("term").alias("h_marg"))
    )
    n_states = row_tot.agg(F.count("*").cast("bigint").alias("n_states"))
    return (
        tot.crossJoin(F.broadcast(n_states))
        .crossJoin(F.broadcast(cond))
        .crossJoin(F.broadcast(marg))
        .select(
            F.col("n").alias("n_transitions"),
            "n_states",
            (F.round(-F.col("h_cond").cast("double"), 6) + F.lit(0.0)).alias(
                "entropy_rate_nats"
            ),
            (F.round(-F.col("h_marg").cast("double"), 6) + F.lit(0.0)).alias(
                "marginal_entropy_nats"
            ),
        )
    )


@register(
    "events_diff_in_diff",
    """
WITH cells AS (
  SELECT CAST(user_id % 2 AS INT) AS arm,
         CASE WHEN CAST(extract(day FROM ts) AS INT) <= 15
              THEN 0 ELSE 1 END AS period,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1, 2
), m AS (
  SELECT arm, period, n,
         CAST((CAST(cents AS HUGEINT) * 1000000) // n AS BIGINT) AS mean_micro
  FROM cells
)
SELECT max(CASE WHEN arm = 0 AND period = 0 THEN mean_micro END) AS ctl_pre,
       max(CASE WHEN arm = 0 AND period = 1 THEN mean_micro END) AS ctl_post,
       max(CASE WHEN arm = 1 AND period = 0 THEN mean_micro END) AS trt_pre,
       max(CASE WHEN arm = 1 AND period = 1 THEN mean_micro END) AS trt_post,
       CAST(sum(n) AS BIGINT) AS n_events,
       (max(CASE WHEN arm = 1 AND period = 1 THEN mean_micro END)
        - max(CASE WHEN arm = 1 AND period = 0 THEN mean_micro END))
       - (max(CASE WHEN arm = 0 AND period = 1 THEN mean_micro END)
          - max(CASE WHEN arm = 0 AND period = 0 THEN mean_micro END))
         AS did_micro
FROM m
""",
    doc="difference-in-differences estimator: 2x2 arm x period cell means "
    "in exact integer micro-cents (one floor division per cell), DiD as "
    "pure integer arithmetic over the four cells",
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The difference-in-differences estimator — the workhorse causal
    design when treatment wasn't randomized at the metric's grain:
    compare the treatment arm's pre→post change against the control
    arm's, so any shared time trend cancels. Arms follow the engine's
    assignment convention (``user_id % 2``), periods the mid-month split
    (``events_ks_drift_binned``). Each of the four cell means is an
    exact integer micro-cent (decimal128 sum, one floor division), and
    the estimator itself is pure integer subtraction — no float enters
    the plan at all.

    Scale shape: ONE hash aggregate to 4 cells (map-side partials), a
    4-row pivot, a 1-row result. Scan-bound at any corpus size.

    Reference analog: none (extension surface — experimentation family:
    `events_ab_test_ztest` tests a randomized difference,
    `orders_bootstrap_ci` intervals it, this de-biases a non-randomized
    one).
    """
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.when(F.dayofmonth("ts") <= 15, 0).otherwise(1).alias("period"),
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )
    m = cells.select(
        "arm",
        "period",
        "n",
        F.expr("CAST(CAST(cents AS decimal(38,0)) * 1000000 AS decimal(38,0)) div n")
        .cast("bigint")
        .alias("mean_micro"),
    )

    def cell(a: int, p: int):
        return F.max(
            F.when((F.col("arm") == a) & (F.col("period") == p), F.col("mean_micro"))
        )

    return m.agg(
        cell(0, 0).alias("ctl_pre"),
        cell(0, 1).alias("ctl_post"),
        cell(1, 0).alias("trt_pre"),
        cell(1, 1).alias("trt_post"),
        F.sum("n").cast("bigint").alias("n_events"),
        ((cell(1, 1) - cell(1, 0)) - (cell(0, 1) - cell(0, 0))).alias("did_micro"),
    )


@register(
    "events_cuped_adjustment",
    """
WITH per_user AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
         CAST(sum(CASE WHEN CAST(extract(day FROM ts) AS INT) <= 15
                       THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN CAST(extract(day FROM ts) AS INT) > 15
                       THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM per_user
), arms AS (
  SELECT CAST(count(*) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         CAST(sum(CASE WHEN arm = 1 THEN x END) AS HUGEINT) AS sxt,
         CAST(sum(CASE WHEN arm = 1 THEN y END) AS HUGEINT) AS syt,
         CAST(sum(CASE WHEN arm = 0 THEN x END) AS HUGEINT) AS sxc,
         CAST(sum(CASE WHEN arm = 0 THEN y END) AS HUGEINT) AS syc
  FROM per_user
)
SELECT m.n AS n_users,
       round(CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
             / CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE), 6) + 0.0 AS theta,
       round(CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
             * CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
             / (CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)
                * CAST(m.n * m.syy - m.sy * m.sy AS DOUBLE)), 6) + 0.0
         AS var_reduction,
       round((CAST(a.syt AS DOUBLE) / a.nt - CAST(a.syc AS DOUBLE) / (a.n1 - a.nt))
             - (CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                / CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE))
               * (CAST(a.sxt AS DOUBLE) / a.nt
                  - CAST(a.sxc AS DOUBLE) / (a.n1 - a.nt)), 6) + 0.0
         AS adjusted_effect_cents
FROM mom m, arms a
""",
    doc="CUPED variance reduction: theta = cov(x,y)/var(x) from exact "
    "decimal128 per-user pre/post moments, variance-reduction share = rho², "
    "covariate-adjusted treatment effect — fixed-shape float combination of "
    "exact integers, single divisions only",
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Existing Data, Deng et al.) —
    the variance-reduction standard in experimentation platforms: regress
    each user's post-period metric y on their PRE-period covariate x,
    and report θ = cov(x,y)/var(x), the achievable variance reduction
    ρ², and the covariate-adjusted effect (ȳ_T−ȳ_C) − θ(x̄_T−x̄_C). All
    sufficient statistics are exact decimal128 integer moments over
    per-user cent totals (the OLS/correlation discipline); floats appear
    only in the fixed-shape final combination with single divisions, so
    both engines evaluate the identical IEEE expression tree.

    Scale shape: one per-user aggregate (the metric grain), one 1-row
    moment rollup with map-side partials — the same two-level shape as
    `events_ab_test_ztest`, sharing its user_id exchange at 100 TB.

    Reference analog: none (extension surface — experimentation family).
    """
    ev = table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    per_user = ev.groupBy(
        "user_id", (F.col("user_id") % 2).cast("int").alias("arm")
    ).agg(
        F.sum(F.when(F.dayofmonth("ts") <= 15, cents).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.dayofmonth("ts") > 15, cents).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    dec = "decimal(38,0)"
    xd, yd = F.col("x").cast(dec), F.col("y").cast(dec)
    mom = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(xd * xd).cast(dec).alias("sxx"),
        F.sum(xd * yd).cast(dec).alias("sxy"),
        F.sum(yd * yd).cast(dec).alias("syy"),
    )
    arms = per_user.agg(
        F.count("*").cast("bigint").alias("n1"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("nt"),
        F.sum(F.when(F.col("arm") == 1, F.col("x"))).cast(dec).alias("sxt"),
        F.sum(F.when(F.col("arm") == 1, F.col("y"))).cast(dec).alias("syt"),
        F.sum(F.when(F.col("arm") == 0, F.col("x"))).cast(dec).alias("sxc"),
        F.sum(F.when(F.col("arm") == 0, F.col("y"))).cast(dec).alias("syc"),
    )
    n, sx, sy, sxx, sxy, syy = (
        F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy", "syy")
    )
    cov_n = (n.cast(dec) * sxy - sx * sy).cast("double")
    varx_n = (n.cast(dec) * sxx - sx * sx).cast("double")
    vary_n = (n.cast(dec) * syy - sy * sy).cast("double")
    theta = cov_n / varx_n
    dy = F.col("syt").cast("double") / F.col("nt") - F.col("syc").cast("double") / (
        F.col("n1") - F.col("nt")
    )
    dx = F.col("sxt").cast("double") / F.col("nt") - F.col("sxc").cast("double") / (
        F.col("n1") - F.col("nt")
    )
    return mom.crossJoin(F.broadcast(arms)).select(
        F.col("n").alias("n_users"),
        (F.round(theta, 6) + F.lit(0.0)).alias("theta"),
        (F.round(cov_n * cov_n / (varx_n * vary_n), 6) + F.lit(0.0)).alias(
            "var_reduction"
        ),
        (F.round(dy - theta * dx, 6) + F.lit(0.0)).alias("adjusted_effect_cents"),
    )


#: conversion-window sweep, in hours
FUNNEL_WINDOWS_H = (1, 6, 24, 72)


@register(
    "events_funnel_window_sweep",
    f"""
WITH w AS (
  SELECT unnest(ARRAY{list(FUNNEL_WINDOWS_H)}) AS win_h
), v AS (
  SELECT user_id, min(epoch_us(ts)) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), vw AS (
  SELECT v.user_id, v.t_view, w.win_h,
         CAST(w.win_h AS BIGINT) * 3600000000 AS win_us
  FROM v, w
), c AS (
  SELECT vw.user_id, vw.win_h, vw.win_us, min(epoch_us(e.ts)) AS t_click
  FROM events e
  JOIN vw ON e.user_id = vw.user_id
         AND epoch_us(e.ts) > vw.t_view
         AND epoch_us(e.ts) <= vw.t_view + vw.win_us
  WHERE e.event_type = 'click' GROUP BY 1, 2, 3
), p AS (
  SELECT c.user_id, c.win_h, min(epoch_us(e.ts)) AS t_purchase
  FROM events e
  JOIN c ON e.user_id = c.user_id
        AND epoch_us(e.ts) > c.t_click
        AND epoch_us(e.ts) <= c.t_click + c.win_us
  WHERE e.event_type = 'purchase' GROUP BY 1, 2
)
SELECT w.win_h,
       (SELECT CAST(count(*) AS BIGINT) FROM v) AS step_view,
       (SELECT CAST(count(*) AS BIGINT) FROM c WHERE c.win_h = w.win_h)
         AS step_click,
       (SELECT CAST(count(*) AS BIGINT) FROM p WHERE p.win_h = w.win_h)
         AS step_purchase
FROM w
""",
    doc="conversion-window sensitivity sweep: the ordered funnel evaluated "
    f"at {len(FUNNEL_WINDOWS_H)} window widths {FUNNEL_WINDOWS_H} in ONE "
    "plan — exact microsecond interval arithmetic, per-window step counts",
)
def events_funnel_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How sensitive is the funnel to the attribution window? The ordered
    view→click→purchase funnel (`events_funnel`) re-evaluated at every
    width in :data:`FUNNEL_WINDOWS_H` — a step converts only within W of
    the previous step — in ONE plan: the window literals explode against
    the per-user first-view frame and ride the step joins as an extra
    grouping key. Analysts run this sweep to pick (and defend) the window
    a dashboard hard-codes; a big 6h→24h jump means slow converters, a
    flat curve means the choice is safe. All interval arithmetic is exact
    integer microseconds.

    Scale shape: the same monotone-shrinking per-user min/join chain as
    the base funnel, ×|windows| on the (already user-grain) step frames —
    shuffles stay keyed on user_id, and the sweep multiplies only the
    small side. Output is |windows| rows.

    Reference analog: none (extension surface — event-analytics family).
    """
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("t_view"))
    )
    w = local_frame(spark, [(h,) for h in FUNNEL_WINDOWS_H], "win_h int").select(
        "win_h", (F.col("win_h").cast("bigint") * 3600000000).alias("win_us")
    )
    vw = v.crossJoin(F.broadcast(w))
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", us.alias("t_e")
    )
    c = (
        clicks.join(vw, "user_id")
        .where(
            (F.col("t_e") > F.col("t_view"))
            & (F.col("t_e") <= F.col("t_view") + F.col("win_us"))
        )
        .groupBy("user_id", "win_h", "win_us")
        .agg(F.min("t_e").alias("t_click"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", us.alias("t_e")
    )
    p = (
        purchases.join(c, "user_id")
        .where(
            (F.col("t_e") > F.col("t_click"))
            & (F.col("t_e") <= F.col("t_click") + F.col("win_us"))
        )
        .groupBy("user_id", "win_h")
        .agg(F.min("t_e").alias("t_purchase"))
    )
    nv = v.agg(F.count("*").cast("bigint").alias("step_view"))
    nc = c.groupBy("win_h").agg(F.count("*").cast("bigint").alias("step_click"))
    np_ = p.groupBy("win_h").agg(
        F.count("*").cast("bigint").alias("step_purchase")
    )
    return (
        w.select("win_h")
        .join(nc, "win_h", "left")
        .join(np_, "win_h", "left")
        .crossJoin(F.broadcast(nv))
        .select(
            "win_h",
            "step_view",
            F.coalesce(F.col("step_click"), F.lit(0)).cast("bigint").alias("step_click"),
            F.coalesce(F.col("step_purchase"), F.lit(0))
            .cast("bigint")
            .alias("step_purchase"),
        )
    )


#: EMD drift: uniform bin width in cents ($1) — the value domain is bounded
#: (fixture caps near $600), so the bin frame stays ≤ ~600 rows at any SF
EMD_BIN_CENTS = 100

#: The Wasserstein-1 statistic over per-(side, $1-bin) counts, shared by
#: the batch operator and the streaming monitor (streaming/jobs.py) so the
#: two can never drift apart. Each populated bin's CDF gap persists until
#: the NEXT populated bin, so the gap is weighted by that span (empty
#: intermediate bins are covered without materializing them; after the
#: last bin both CDFs are 1 and the gap is 0). Output is exact integer
#: MICRO-CENTS: sum(gap_num * span) * width * 1e6 // (n_a * n_b).
EMD_ORACLE_TAIL = f"""), wide AS (
  SELECT b,
         CAST(coalesce(sum(CASE WHEN side = 0 THEN c END), 0) AS BIGINT) AS ca,
         CAST(coalesce(sum(CASE WHEN side = 1 THEN c END), 0) AS BIGINT) AS cb
  FROM counts GROUP BY b
), cum AS (
  SELECT b,
         coalesce(lead(b) OVER (ORDER BY b), b) - b AS span,
         CAST(sum(ca) OVER (ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_a,
         CAST(sum(cb) OVER (ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_b,
         CAST(sum(ca) OVER () AS BIGINT) AS n_a,
         CAST(sum(cb) OVER () AS BIGINT) AS n_b
  FROM wide
), gaps AS (
  SELECT n_a, n_b,
         CAST(abs(cum_a * n_b - cum_b * n_a) AS DECIMAL(38, 0))
           * CAST(span AS DECIMAL(38, 0)) AS dnum
  FROM cum
)
SELECT max(n_a) AS n_a, max(n_b) AS n_b,
       CAST(count(*) AS BIGINT) AS n_bins,
       CAST(CAST(sum(dnum) AS HUGEINT) * {EMD_BIN_CENTS} * 1000000
            // (CAST(max(n_a) AS HUGEINT) * max(n_b)) AS BIGINT)
         AS emd_micro
FROM gaps"""


def emd_from_side_bin_counts(counts: DataFrame) -> DataFrame:
    """The Spark half of the shared statistic: ``counts`` carries
    (side, b, c); returns the 1-row (n_a, n_b, n_bins, emd_micro) frame.
    SCALE GUARD: every window runs over the $1-bin frame only — bounded
    by the value domain, not event count."""
    wide = counts.groupBy("b").agg(
        F.coalesce(F.sum(F.when(F.col("side") == 0, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("ca"),
        F.coalesce(F.sum(F.when(F.col("side") == 1, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("cb"),
    )
    w_cum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_lead = Window.orderBy("b")
    cum = wide.select(
        (F.coalesce(F.lead("b").over(w_lead), F.col("b")) - F.col("b")).alias(
            "span"
        ),
        F.sum("ca").over(w_cum).cast("bigint").alias("cum_a"),
        F.sum("cb").over(w_cum).cast("bigint").alias("cum_b"),
        F.sum("ca").over(w_all).cast("bigint").alias("n_a"),
        F.sum("cb").over(w_all).cast("bigint").alias("n_b"),
    )
    dnum = F.abs(
        F.col("cum_a").cast("decimal(38,0)") * F.col("n_b")
        - F.col("cum_b").cast("decimal(38,0)") * F.col("n_a")
    ) * F.col("span").cast("decimal(38,0)")
    gaps = cum.select("n_a", "n_b", dnum.alias("dnum"))
    return gaps.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.count("*").cast("bigint").alias("n_bins"),
        F.expr(
            f"CAST(CAST(sum(dnum) AS decimal(38,0)) * {EMD_BIN_CENTS} * 1000000"
            " div (CAST(max(n_a) AS decimal(38,0)) * max(n_b)) AS BIGINT)"
        ).alias("emd_micro"),
    )


@register(
    "events_emd_drift",
    f"""
WITH vals AS (
  SELECT CASE WHEN CAST(extract(day FROM ts) AS INT) <= 15 THEN 0 ELSE 1 END
           AS side,
         CAST(floor(value * 100 + 0.5) AS BIGINT) // {EMD_BIN_CENTS} AS b
  FROM events
), counts AS (
  SELECT side, b, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY 1, 2
{EMD_ORACLE_TAIL}
""",
    doc="1-D earth-mover (Wasserstein-1) drift over uniform $1 value bins, "
    "first-half vs second-half of month: EMD = Σ|CDF gap|·span (gaps "
    "persist across empty bins) — exact integer cross-multiplied "
    "numerators, ONE floor division to micro-cents",
)
def events_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The integral companion of `events_ks_drift_binned`: KS reports the
    WORST CDF gap (sensitive to one sharp shift, blind to how much mass
    moved how far); the 1-D earth-mover distance integrates |CDF_a −
    CDF_b| over the value axis, measuring the total transport cost of the
    drift in value units — the metric monitoring pipelines alarm on when
    they care about magnitude, not just existence, of a shift
    (Wasserstein-1's closed form on the line: EMD = ∫|F_a − F_b|, public).

    Exactness and the empty-bin subtlety: per populated bin, the gap
    numerator |cum_a·n_b − cum_b·n_a| is an exact decimal128 integer (the
    KS discipline) — and because a CDF gap PERSISTS until the next
    populated bin, each gap is weighted by that span (a lead() over the
    bin frame), so value distributions with holes integrate correctly
    without materializing empty bins. One floor division lands on exact
    integer micro-cents. No float until nothing is left to compute. The
    statistic (oracle SQL tail + Spark builder) is SHARED with
    `streaming_emd_monitor`, so the batch and live forms cannot drift.

    Scale shape: one shuffle to the (side, $1-bin) table; the running-sum
    and lead windows and the final aggregate run over the ≤~600-row bin
    frame (bounded by the value domain, never event count).

    Reference analog: none (extension surface — drift-monitoring family,
    beside events_ks_drift_binned / text_js_divergence_by_lang).
    """
    ev = table(spark, sf_dir, "events")
    vals = ev.select(
        F.when(F.dayofmonth("ts") <= 15, 0).otherwise(1).alias("side"),
        F.expr(
            f"CAST(floor(value * 100 + 0.5) AS BIGINT) div {EMD_BIN_CENTS}"
        ).alias("b"),
    )
    counts = vals.groupBy("side", "b").agg(
        F.count("*").cast("bigint").alias("c")
    )
    return emd_from_side_bin_counts(counts)


#: power analysis at alpha = 0.05 two-sided, power = 0.80: z quantiles as
#: fixed literals (both engines share the exact doubles)
POWER_Z_ALPHA = 1.959963984540054
POWER_Z_BETA = 0.8416212335729143
#: minimum detectable effects to size, as % of the pooled mean
POWER_MDE_PCTS = (1, 2, 5, 10)


@register(
    "events_power_analysis",
    f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS HUGEINT) AS cents
  FROM events GROUP BY 1
), mom AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(cents) AS HUGEINT) AS sx,
         CAST(sum(cents * cents) AS HUGEINT) AS sxx
  FROM per_user
), base AS (
  SELECT CAST(n AS BIGINT) AS n_users,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
         CAST(n * sxx - sx * sx AS DOUBLE)
           / CAST(n * (n - 1) AS DOUBLE) AS var_cents
  FROM mom
)
SELECT n_users, CAST(mde_pct AS INT) AS mde_pct,
       CAST(ceil(2.0 * ({POWER_Z_ALPHA} + {POWER_Z_BETA})
                 * ({POWER_Z_ALPHA} + {POWER_Z_BETA}) * var_cents
                 / ((mde_pct / 100.0) * mean_cents
                    * (mde_pct / 100.0) * mean_cents)) AS BIGINT)
         AS n_per_arm,
       round(sqrt(2.0 * var_cents / (n_users / 2.0))
             * ({POWER_Z_ALPHA} + {POWER_Z_BETA}) * 100.0
             / mean_cents, 6) + 0.0 AS mde_now_pct
FROM base, (SELECT unnest(ARRAY{list(POWER_MDE_PCTS)}) AS mde_pct)
""",
    doc="experiment power analysis: per-user spend moments → required n "
    "per arm for 1/2/5/10% MDEs and the MDE the CURRENT population "
    "already supports (alpha .05 two-sided, power .80; z quantiles as "
    "shared literals, moments exact decimal128)",
)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The question every experiment asks BEFORE `events_ab_test_ztest`
    runs: how many users per arm does a given minimum detectable effect
    need, and what MDE does the population on hand already support? The
    standard two-sample normal approximation (public):
    n/arm = 2(z_{{α/2}}+z_β)²σ²/Δ², inverted for the current-n MDE. The
    z quantiles are FIXED double literals shared by both engines (no
    erf-inverse at runtime); σ² and the mean come from exact decimal128
    per-user spend moments, so the only float work is one fixed-shape
    expression per target MDE row.

    Scale shape: one user_id shuffle for per-user spend, one 1-row moment
    reduction, then a ×|:data:`POWER_MDE_PCTS`| row-local literal explode.

    Reference analog: none (extension surface — experimentation family:
    power → test (z/t, MWU) → correction (CUPED) → interval (bootstrap)).
    """
    ev = table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    cents = F.sum(
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100 + 0.5).cast("bigint"),
        ).otherwise(0)
    ).cast(dec)
    per_user = ev.groupBy("user_id").agg(cents.alias("cents"))
    mom = per_user.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("cents").cast(dec).alias("sx"),
        F.sum(F.col("cents") * F.col("cents")).alias("sxx"),
    )
    base = mom.select(
        F.col("n").cast("bigint").alias("n_users"),
        (F.col("sx").cast("double") / F.col("n").cast("double")).alias(
            "mean_cents"
        ),
        (
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
            / (F.col("n") * (F.col("n") - 1)).cast("double")
        ).alias("var_cents"),
    )
    zsum = POWER_Z_ALPHA + POWER_Z_BETA
    mde = F.explode(
        F.array(*[F.lit(p) for p in POWER_MDE_PCTS])
    ).alias("mde_pct")
    rows = base.select("n_users", "mean_cents", "var_cents", mde)
    delta = (F.col("mde_pct") / 100.0) * F.col("mean_cents")
    return rows.select(
        "n_users",
        F.col("mde_pct").cast("int").alias("mde_pct"),
        F.ceil(2.0 * zsum * zsum * F.col("var_cents") / (delta * delta))
        .cast("bigint")
        .alias("n_per_arm"),
        (
            F.round(
                F.sqrt(2.0 * F.col("var_cents") / (F.col("n_users") / 2.0))
                * zsum
                * 100.0
                / F.col("mean_cents"),
                6,
            )
            + F.lit(0.0)
        ).alias("mde_now_pct"),
    )


#: uplift segmentation: activity-tier thresholds on per-user event count
UPLIFT_LOW = 10
UPLIFT_MID = 30


@register(
    "events_uplift_by_segment",
    f"""
WITH per_user AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
         CAST(count(*) AS BIGINT) AS n_ev,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS INT) AS converted
  FROM events GROUP BY 1
), seg AS (
  SELECT CASE WHEN n_ev < {UPLIFT_LOW} THEN 'low'
              WHEN n_ev < {UPLIFT_MID} THEN 'mid'
              ELSE 'high' END AS segment,
         arm, converted
  FROM per_user
), cells AS (
  SELECT segment,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT)
           AS conv_t,
         CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT)
           AS conv_c
  FROM seg GROUP BY 1
)
SELECT segment, n_t, n_c, conv_t, conv_c,
       CASE WHEN n_t > 0 AND n_c > 0 THEN
         CAST(CAST(conv_t AS HUGEINT) * 1000000 // n_t
              - CAST(conv_c AS HUGEINT) * 1000000 // n_c AS BIGINT)
       ELSE NULL END AS uplift_micro
FROM cells
""",
    doc="uplift (treatment-effect heterogeneity) by activity segment: "
    "per-user conversion rolled up per (segment, arm), uplift = "
    "p_t - p_c in exact integer micro-rates, one floor division per arm",
)
def events_uplift_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift segmentation — the heterogeneity member of the
    experimentation family: `events_ab_test_ztest` answers whether the
    treatment moved the aggregate; this one splits users into activity
    tiers (event count < :data:`UPLIFT_LOW` / < :data:`UPLIFT_MID` /
    above) and reports the per-segment treatment-minus-control conversion
    gap — the table an uplift-targeting policy reads to decide WHO to
    treat (treat the 'mid' tier if that's where the lift concentrates).
    Rates are exact integer micro-units, one floor division per arm per
    segment; everything upstream is counts. A segment whose users all
    landed in one arm emits a NULL uplift row (CASE-guarded in both
    engines) instead of raising DIVIDE_BY_ZERO under ANSI mode.

    Scale shape: one user-keyed aggregate off the raw scan (map-side
    partials), then a 3-row segment rollup of those partials. Same
    two-level shape as the RFM and stickiness queries; nothing shuffles
    twice.

    Reference analog: none (extension surface — experimentation family,
    beside events_ab_test_ztest / events_cuped_adjustment /
    events_diff_in_diff).
    """
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_ev"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("int")
        .alias("converted"),
    )
    seg = per_user.select(
        F.when(F.col("n_ev") < UPLIFT_LOW, "low")
        .when(F.col("n_ev") < UPLIFT_MID, "mid")
        .otherwise("high")
        .alias("segment"),
        (F.col("user_id") % 2).cast("int").alias("arm"),
        "converted",
    )
    cells = seg.groupBy("segment").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_t"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_c"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_t"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_c"),
    )
    dec = "decimal(38,0)"
    return cells.select(
        "segment",
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        F.expr(
            "CASE WHEN n_t > 0 AND n_c > 0 THEN "
            f"CAST(CAST(conv_t AS {dec}) * 1000000 div n_t"
            f" - CAST(conv_c AS {dec}) * 1000000 div n_c AS BIGINT)"
            " ELSE NULL END"
        ).alias("uplift_micro"),
    )


#: absorption horizon (steps) and the absorbing target state
ABSORB_STEPS = 4
ABSORB_TARGET = "purchase"


def _absorption_oracle() -> str:
    steps = [
        f""", allstates AS (
  SELECT DISTINCT s FROM (
    SELECT p AS s FROM pairs UNION ALL SELECT nxt FROM pairs
  )
), a0 AS (
  SELECT s, CAST(CASE WHEN s = '{ABSORB_TARGET}' THEN 1000000 ELSE 0 END
                 AS BIGINT) AS a
  FROM allstates
)"""
    ]
    for i in range(1, ABSORB_STEPS + 1):
        steps.append(
            f""", c{i} AS (
  SELECT e.p AS s, CAST(sum((e.n * a.a) // o.wout) AS BIGINT) AS inflow
  FROM pairs e
  JOIN a{i - 1} a ON e.nxt = a.s
  JOIN outw o ON e.p = o.p
  GROUP BY e.p
), a{i} AS (
  SELECT st.s,
         CAST(CASE WHEN st.s = '{ABSORB_TARGET}' THEN 1000000
                   ELSE coalesce(c.inflow, 0) END AS BIGINT) AS a
  FROM allstates st LEFT JOIN c{i} c ON c.s = st.s
)"""
        )
    return (
        "WITH "
        + _MARKOV_PAIRS_CTE
        + "".join(steps)
        + f"""
SELECT a.s AS event_type,
       CAST(coalesce(o.wout, 0) AS BIGINT) AS n_out,
       a.a AS absorb_micro
FROM a{ABSORB_STEPS} a LEFT JOIN outw o ON o.p = a.s
"""
    )


@register(
    "events_markov_absorption",
    _absorption_oracle(),
    doc=f"{ABSORB_STEPS}-step absorption probability into "
    f"'{ABSORB_TARGET}' from every event type, exact integer micro-units "
    "over the same transition matrix as the stationary query (per-edge "
    "floor division, order-free inflow sums)",
)
def events_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECISION member of the Markov family: where
    `events_markov_stationary` says where behavior settles, this one
    answers the growth team's actual question — what is the probability
    a user starting from each event type reaches ``purchase`` within
    :data:`ABSORB_STEPS` transitions? Backward induction with an
    absorbing target: a₀ = 1 on the target, aₖ(s) = Σ_t P(s→t)·aₖ₋₁(t)
    with the target clamped to 1 every step (absorption without editing
    the matrix). All masses are exact integer micro-units — each edge
    contribution floors once ((n·a) div wout), so inflow sums are
    reduction-order-free and bit-identical across engines. States that
    never emit a transition (pure sinks) keep probability 0 (or 1 on the
    target) — the honest semantics for end-of-trace types.

    Scale shape: identical to the stationary query — ONE corpus-touching
    exchange (the per-user lag window) reduces to the |types|² persisted
    count matrix; each of the :data:`ABSORB_STEPS` steps joins a
    |types|-row vector against it via broadcast. Only the reduction is
    corpus-scaled.

    Reference analog: none (extension surface — event-analytics family,
    beside events_markov_stationary / events_funnel).
    """
    pairs = _markov_pairs(spark, sf_dir)
    allstates = (
        pairs.select(F.col("p").alias("s"))
        .unionAll(pairs.select(F.col("nxt").alias("s")))
        .distinct()
    )
    a = allstates.select(
        "s",
        F.when(F.col("s") == ABSORB_TARGET, F.lit(1000000))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("a"),
    )
    for _ in range(ABSORB_STEPS):
        inflow = (
            pairs.join(
                F.broadcast(a.withColumnRenamed("s", "nxt")), "nxt"
            )
            .select(F.col("p").alias("s"), F.expr("(n * a) div wout").alias("c"))
            .groupBy("s")
            .agg(F.sum("c").cast("bigint").alias("inflow"))
        )
        a = allstates.join(F.broadcast(inflow), "s", "left").select(
            "s",
            F.when(F.col("s") == ABSORB_TARGET, F.lit(1000000))
            .otherwise(F.coalesce("inflow", F.lit(0)))
            .cast("bigint")
            .alias("a"),
        )
        a = cut(a)
    outw = pairs.groupBy(F.col("p").alias("s")).agg(
        F.max("wout").cast("bigint").alias("n_out")
    )
    return a.join(F.broadcast(outw), "s", "left").select(
        F.col("s").alias("event_type"),
        F.coalesce("n_out", F.lit(0)).cast("bigint").alias("n_out"),
        F.col("a").alias("absorb_micro"),
    )


@register(
    "events_retention_decay_fit",
    """
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
), cohorts AS (
  SELECT f.cohort_week,
         CAST((epoch(a.week) - epoch(f.cohort_week)) // 604800 AS BIGINT)
           AS wk,
         CAST(count(*) AS BIGINT) AS n_users
  FROM activity a JOIN firsts f ON a.user_id = f.user_id
  GROUP BY 1, 2
), sizes AS (
  SELECT cohort_week, n_users AS base FROM cohorts WHERE wk = 0
), maxw AS (
  SELECT max(week) AS mw FROM activity
), horizon AS (
  SELECT s.cohort_week, s.base,
         CAST((epoch(m.mw) - epoch(s.cohort_week)) // 604800 AS BIGINT)
           AS max_off
  FROM sizes s CROSS JOIN maxw m
), offsets AS (
  SELECT DISTINCT wk FROM cohorts WHERE wk >= 1
), eligible AS (
  SELECT o.wk, CAST(sum(h.base) AS BIGINT) AS at_risk
  FROM offsets o JOIN horizon h ON h.max_off >= o.wk
  GROUP BY o.wk
), retained AS (
  SELECT c.wk, CAST(sum(c.n_users) AS BIGINT) AS ret
  FROM cohorts c JOIN horizon h ON h.cohort_week = c.cohort_week
  WHERE c.wk >= 1 AND h.max_off >= c.wk
  GROUP BY c.wk
), pts AS (
  SELECT e.wk * 1000000 AS x,
         CAST(floor(ln(CAST(r.ret AS DOUBLE) / e.at_risk) * 1000000 + 0.5)
              AS BIGINT) AS y,
         CAST(CAST(r.ret AS HUGEINT) * 1000000 // e.at_risk AS BIGINT)
           AS rate_micro
  FROM eligible e JOIN retained r ON r.wk = e.wk
  WHERE r.ret > 0
), sums AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(x*y) AS HUGEINT) AS sxy,
         CAST(sum(x*x) AS HUGEINT) AS sxx, CAST(sum(y*y) AS HUGEINT) AS syy
  FROM pts
), comps AS (
  SELECT n,
         CAST(n*sxy - sx*sy AS DOUBLE) AS cov_n,
         CAST(n*sxx - sx*sx AS DOUBLE) AS varx_n,
         CAST(n*syy - sy*sy AS DOUBLE) AS vary_n
  FROM sums
)
SELECT CAST(n AS BIGINT) AS n_points,
       round(CASE WHEN varx_n > 0 THEN cov_n / varx_n END, 6) + 0.0
         AS decay_per_week,
       round(CASE WHEN varx_n > 0 AND cov_n < 0
                  THEN 0.6931471805599453 / (-(cov_n / varx_n)) END, 6)
         + 0.0 AS half_life_weeks,
       round(CASE WHEN varx_n > 0 AND vary_n > 0
                  THEN cov_n * cov_n / (varx_n * vary_n) END, 6) + 0.0 AS r2
FROM comps
""",
    doc="exponential retention-decay fit: right-censored pooled weekly "
    "retention rates (life-table at-risk denominators), log-linear OLS "
    "in exact fixed-point micro-units (the zipf discipline), half-life "
    "in weeks when decay is negative",
)
def events_retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MODEL on top of `events_retention_cohorts`' table: fit
    ln(retention rate) = λ·week + c pooled across cohorts and report the
    decay rate, half-life (ln2/−λ), and R² — the single number a growth
    team tracks where the cohort triangle is the diagnostic detail.
    Right-censoring is handled life-table style (the `events_survival_km`
    discipline): week-k's denominator counts only users whose cohort is
    at least k weeks old at the data's horizon, so young cohorts never
    deflate old-age retention.

    Exactness: pooled rates are exact integer micro-units (one floor
    division per offset); the regression inputs snap ln to fixed-point
    micro BEFORE the exact-HUGEINT/decimal128 moment sums (the
    `text_zipf_fit` discipline), so both engines regress identical
    integers and the only floats are the final three reported ratios.

    Scale shape: the same two corpus-touching aggregates as the cohort
    query (first-seen per user, distinct user-weeks); everything after —
    horizons, at-risk sums, the fit — runs on the weeks×cohorts-bounded
    frame. Nothing shuffles twice on user_id.

    Reference analog: none (extension surface — growth-analytics family,
    beside events_retention_cohorts / events_survival_km /
    events_churn_hazard).
    """
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    cohorts = (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (
                (
                    F.unix_timestamp("week")
                    - F.unix_timestamp("cohort_week")
                )
                / 604800
            )
            .cast("bigint")
            .alias("wk"),
        )
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )
    cohorts = cut(cohorts)
    sizes = cohorts.where(F.col("wk") == 0).select(
        "cohort_week", F.col("n_users").alias("base")
    )
    maxw = activity.agg(F.max("week").alias("mw"))
    horizon = sizes.crossJoin(F.broadcast(maxw)).select(
        "cohort_week",
        "base",
        (
            (F.unix_timestamp("mw") - F.unix_timestamp("cohort_week"))
            / 604800
        )
        .cast("bigint")
        .alias("max_off"),
    )
    offsets = cohorts.where(F.col("wk") >= 1).select("wk").distinct()
    eligible = (
        offsets.join(F.broadcast(horizon), F.col("max_off") >= F.col("wk"))
        .groupBy("wk")
        .agg(F.sum("base").cast("bigint").alias("at_risk"))
    )
    retained = (
        cohorts.where(F.col("wk") >= 1)
        .join(
            F.broadcast(horizon.select("cohort_week", "max_off")),
            "cohort_week",
        )
        .where(F.col("max_off") >= F.col("wk"))
        .groupBy("wk")
        .agg(F.sum("n_users").cast("bigint").alias("ret"))
    )
    pts = (
        eligible.join(retained, "wk")
        .where(F.col("ret") > 0)
        .select(
            (F.col("wk") * 1000000).cast("bigint").alias("x"),
            F.floor(
                F.log(F.col("ret").cast("double") / F.col("at_risk"))
                * 1000000
                + 0.5
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    dec = "decimal(38,0)"
    sums = pts.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"),
    )
    comps = sums.select(
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        .alias("cov_n"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("varx_n"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("vary_n"),
    )
    # degenerate fits (one point, or zero x/y variance) emit NULL in
    # BOTH engines: ANSI Spark raises on the division and DuckDB would
    # produce inf/nan — the CASE guards keep the engines identical
    slope = F.col("cov_n") / F.col("varx_n")
    ok_x = F.col("varx_n") > 0
    return comps.select(
        F.col("n").cast("bigint").alias("n_points"),
        (F.round(F.when(ok_x, slope), 6) + F.lit(0.0)).alias(
            "decay_per_week"
        ),
        (
            F.round(
                F.when(
                    ok_x & (F.col("cov_n") < 0),
                    F.lit(0.6931471805599453) / (-slope),
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("half_life_weeks"),
        (
            F.round(
                F.when(
                    ok_x & (F.col("vary_n") > 0),
                    F.col("cov_n")
                    * F.col("cov_n")
                    / (F.col("varx_n") * F.col("vary_n")),
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("r2"),
    )


#: Wald SPRT for conversion rate, H0: p=0.20 vs H1: p=0.30, alpha=beta=0.05.
#: Log-likelihood-ratio increments and boundaries in integer micro-nats,
#: precomputed so both engines walk the identical integer cumulative sum:
#: success ln(0.3/0.2), failure ln(0.7/0.8), boundaries +-ln(0.95/0.05).
SPRT_UP = 405_465
SPRT_DOWN = -133_531
SPRT_A = 2_944_439
SPRT_B = -2_944_439


@register(
    "events_sprt_monitor",
    f"""
WITH c AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CASE WHEN event_type = 'purchase'
              THEN {SPRT_UP} ELSE {SPRT_DOWN} END AS step,
         sum(CASE WHEN event_type = 'purchase'
                  THEN {SPRT_UP} ELSE {SPRT_DOWN} END)
           OVER (PARTITION BY CAST(ts AS DATE) ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS cum,
         row_number() OVER (PARTITION BY CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn
  FROM events
), agg AS (
  SELECT day,
         CAST(count(*) AS BIGINT) AS n_trials,
         CAST(sum(CASE WHEN step > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_success,
         CAST(sum(step) AS BIGINT) AS llr_final_micro,
         min(CASE WHEN cum >= {SPRT_A} OR cum <= {SPRT_B}
                  THEN rn * 10 + CASE WHEN cum >= {SPRT_A}
                                      THEN 1 ELSE 0 END END) AS m
  FROM c GROUP BY day
)
SELECT day, n_trials, n_success, llr_final_micro,
       CAST(coalesce(m // 10, 0) AS BIGINT) AS decision_trial,
       CASE WHEN m IS NULL THEN 'continue'
            WHEN m % 10 = 1 THEN 'accept_h1'
            ELSE 'accept_h0' END AS decision
FROM agg
""",
    doc="Wald SPRT conversion monitor: per-day sequential test of "
    "p=0.20 vs p=0.30 in integer micro-nat LLR steps; emits the first "
    "boundary crossing (decision + trial index) or 'continue'",
)
def events_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test (1945) as a streaming-
    style conversion monitor — the sequential sibling of
    ``events_ab_test_ztest`` (fixed-horizon) and ``events_cusum_drift``
    (change detection): each day's event stream is walked in (ts,
    event_id) order accumulating the conversion LLR, and the day's
    verdict is the FIRST boundary crossing — ``accept_h1`` at
    +ln((1-β)/α), ``accept_h0`` at ln(β/(1-α)) — with the trial index
    where the test would have stopped (Wald's point: ~half the sample
    of the fixed-horizon test at the same error rates).

    Cross-engine exactness: LLR increments and boundaries are integer
    micro-nat LITERALS (:data:`SPRT_UP` …), the cumulative sum is
    integer over a total (ts, event_id) order, and the first crossing
    is ``min(rn·10 + direction_bit)`` — one integer ``min``, no
    argmin-semantics to reconcile between engines.

    Scale shape: ONE window pass partitioned by day (at 100 TB the
    partition key becomes (experiment, day) — the monitor is
    embarrassingly parallel across experiments), then a per-day hash
    aggregate with map-side partials. No global sort: the window sorts
    within day partitions only.

    Reference analog: none (extension surface — experimentation
    family). Streaming twin: the same fold runs incrementally under
    ``applyInPandasWithState`` in streaming/jobs.py's monitor family.
    """
    e = table(spark, sf_dir, "events")
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    step = F.when(F.col("event_type") == "purchase", SPRT_UP).otherwise(
        SPRT_DOWN
    )
    w = Window.partitionBy(F.to_date("ts")).orderBy("ts", "event_id")
    c = e.select(
        day,
        step.alias("step"),
        F.sum(step).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.row_number().over(w).alias("rn"),
    )
    crossed = (F.col("cum") >= SPRT_A) | (F.col("cum") <= SPRT_B)
    dirbit = F.when(F.col("cum") >= SPRT_A, 1).otherwise(0)
    agg = c.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_trials"),
        F.sum(F.when(F.col("step") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_success"),
        F.sum("step").cast("bigint").alias("llr_final_micro"),
        F.min(F.when(crossed, F.col("rn") * 10 + dirbit)).alias("m"),
    )
    return agg.select(
        "day",
        "n_trials",
        "n_success",
        "llr_final_micro",
        F.coalesce(F.expr("m div 10"), F.lit(0)).cast("bigint").alias(
            "decision_trial"
        ),
        F.when(F.col("m").isNull(), "continue")
        .when(F.col("m") % 10 == 1, "accept_h1")
        .otherwise("accept_h0")
        .alias("decision"),
    )


#: 2-state HMM (idle=0 / engaged=1) in integer micro-nats: initial,
#: transition T[prev][cur], and per-event-type emission rows. Literals =
#: round(ln(p)*1e6) so both engines walk the identical integer lattice.
HMM_PI = -693_147  # ln(0.5)
HMM_T = ((-105_361, -2_302_585), (-916_291, -510_826))  # .9/.1, .4/.6
HMM_E_IDLE = {
    "view": -916_291,      # .4
    "error": -1_203_973,   # .3
    "click": -1_897_120,   # .15
    "signup": -2_302_585,  # .1
    "purchase": -2_995_732,  # .05
}
HMM_E_ENGAGED = {
    "purchase": -1_049_822,  # .35
    "click": -1_203_973,     # .3
    "view": -1_609_438,      # .2
    "signup": -2_302_585,    # .1
    "error": -2_995_732,     # .05
}
#: emission for any event type outside the trained vocabulary — the
#: CASE ... ELSE bucket in both engines' SQL and the kernel's fillna
HMM_E_ELSE = -2_995_732
#: decode the first K events of each user: bounds the DP depth (and the
#: oracle's recursion) independent of corpus size
HMM_MAX_T = 16

_E0_SQL = (
    "(CASE event_type WHEN 'view' THEN -916291 WHEN 'error' THEN -1203973"
    " WHEN 'click' THEN -1897120 WHEN 'signup' THEN -2302585"
    " ELSE -2995732 END)"
)
_E1_SQL = (
    "(CASE event_type WHEN 'purchase' THEN -1049822 WHEN 'click' THEN"
    " -1203973 WHEN 'view' THEN -1609438 WHEN 'signup' THEN -2302585"
    " ELSE -2995732 END)"
)

_VITERBI_SCHEMA = (
    "user_id long, seq_len long, best_score_micro long, "
    "final_state int, n_engaged long"
)


def _viterbi_block(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized Viterbi over a BLOCK of complete users (rows sorted by
    (user_id, ts, event_id), each user's prefix contiguous): the DP is
    sequential in TIME but independent across USERS, so the lattice is
    a (n_users × T) integer matrix walked in :data:`HMM_MAX_T` numpy
    steps — the per-group pandas overhead of a grouped-map kernel
    (~15k one-row DataFrames at sf1, measured 25 s) drops to array ops
    (~4 s)."""
    import numpy as np

    uid = pdf["user_id"].to_numpy()
    n = len(uid)
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = uid[1:] != uid[:-1]
    gidx = np.cumsum(change) - 1
    starts = np.flatnonzero(change)
    lens = np.diff(np.append(starts, n))
    nu = len(starts)
    pos = np.arange(n) - starts[gidx]

    # unseen event types take the same ELSE emission bucket as the
    # registered SQL / oracle CASE (r8 advice: a bare .map() yields NaN
    # and the int64 cast raises instead of matching the CASE ... ELSE)
    e0r = (
        pdf["event_type"].map(HMM_E_IDLE).fillna(HMM_E_ELSE).astype(np.int64).to_numpy()
    )
    e1r = (
        pdf["event_type"]
        .map(HMM_E_ENGAGED)
        .fillna(HMM_E_ELSE)
        .astype(np.int64)
        .to_numpy()
    )
    E0 = np.zeros((nu, HMM_MAX_T), np.int64)
    E1 = np.zeros((nu, HMM_MAX_T), np.int64)
    valid = np.zeros((nu, HMM_MAX_T), bool)
    E0[gidx, pos] = e0r
    E1[gidx, pos] = e1r
    valid[gidx, pos] = True

    v0 = HMM_PI + E0[:, 0]
    v1 = HMM_PI + E1[:, 0]
    ptr0 = np.zeros((nu, HMM_MAX_T), np.int8)
    ptr1 = np.zeros((nu, HMM_MAX_T), np.int8)
    for t in range(1, HMM_MAX_T):
        m = valid[:, t]
        c00, c10 = v0 + HMM_T[0][0], v1 + HMM_T[1][0]
        c01, c11 = v0 + HMM_T[0][1], v1 + HMM_T[1][1]
        # >= prefers state 0, identical to the oracle's CASE
        ptr0[:, t] = np.where(m, (c00 < c10).astype(np.int8), 0)
        ptr1[:, t] = np.where(m, (c01 < c11).astype(np.int8), 0)
        v0 = np.where(m, np.maximum(c00, c10) + E0[:, t], v0)
        v1 = np.where(m, np.maximum(c01, c11) + E1[:, t], v1)

    state = (v0 < v1).astype(np.int8)  # tie -> 0, same as oracle
    n_eng = state.astype(np.int64).copy()
    s = state.copy()
    for t in range(HMM_MAX_T - 1, 0, -1):
        m = valid[:, t]
        prev = np.where(s == 0, ptr0[:, t], ptr1[:, t])
        s = np.where(m, prev, s).astype(np.int8)
        n_eng += np.where(m, s, 0)
    return pd.DataFrame(
        {
            "user_id": uid[starts],
            "seq_len": lens.astype(np.int64),
            "best_score_micro": np.maximum(v0, v1),
            "final_state": state.astype(np.int32),
            "n_engaged": n_eng,
        }
    )


def _viterbi_batches(it):
    """mapInPandas stream: Arrow chunks split partitions at arbitrary row
    boundaries, so the (possibly incomplete) LAST user of each chunk is
    held back and prepended to the next — users are contiguous under the
    partition sort, so every block handed to the vectorized DP holds
    only complete prefixes."""
    import numpy as np

    buf = None
    for pdf in it:
        if buf is not None and len(buf):
            pdf = pd.concat([buf, pdf], ignore_index=True)
        if not len(pdf):
            continue
        last = pdf["user_id"].iloc[-1]
        m = (pdf["user_id"] == last).to_numpy()
        buf = pdf.iloc[np.flatnonzero(m)]
        work = pdf.iloc[np.flatnonzero(~m)]
        if len(work):
            yield _viterbi_block(work)
    if buf is not None and len(buf):
        yield _viterbi_block(buf)


@register(
    "events_hmm_viterbi",
    f"""
WITH RECURSIVE seqs AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
  FROM events
), seqsc AS (
  SELECT * FROM seqs WHERE t <= {HMM_MAX_T}
), lens AS (
  SELECT user_id, CAST(max(t) AS BIGINT) AS n FROM seqsc GROUP BY user_id
), fwd AS (
  SELECT user_id, CAST(t AS BIGINT) AS t,
         {HMM_PI} + {_E0_SQL} AS v0,
         {HMM_PI} + {_E1_SQL} AS v1,
         -1 AS ptr0, -1 AS ptr1
  FROM seqsc WHERE t = 1
  UNION ALL
  SELECT s.user_id, CAST(s.t AS BIGINT),
         greatest(f.v0 + {HMM_T[0][0]}, f.v1 + {HMM_T[1][0]})
           + (CASE s.event_type WHEN 'view' THEN -916291
              WHEN 'error' THEN -1203973 WHEN 'click' THEN -1897120
              WHEN 'signup' THEN -2302585 ELSE -2995732 END) AS v0,
         greatest(f.v0 + {HMM_T[0][1]}, f.v1 + {HMM_T[1][1]})
           + (CASE s.event_type WHEN 'purchase' THEN -1049822
              WHEN 'click' THEN -1203973 WHEN 'view' THEN -1609438
              WHEN 'signup' THEN -2302585 ELSE -2995732 END) AS v1,
         CASE WHEN f.v0 + {HMM_T[0][0]} >= f.v1 + {HMM_T[1][0]}
              THEN 0 ELSE 1 END AS ptr0,
         CASE WHEN f.v0 + {HMM_T[0][1]} >= f.v1 + {HMM_T[1][1]}
              THEN 0 ELSE 1 END AS ptr1
  FROM fwd f JOIN seqsc s ON s.user_id = f.user_id AND s.t = f.t + 1
), bt AS (
  SELECT f.user_id, f.t,
         CASE WHEN f.v0 >= f.v1 THEN 0 ELSE 1 END AS state
  FROM fwd f JOIN lens l ON l.user_id = f.user_id AND f.t = l.n
  UNION ALL
  SELECT b.user_id, b.t - 1,
         CASE WHEN b.state = 0 THEN f.ptr0 ELSE f.ptr1 END AS state
  FROM bt b JOIN fwd f ON f.user_id = b.user_id AND f.t = b.t
  WHERE b.t > 1
)
SELECT l.user_id AS user_id, l.n AS seq_len,
       CAST(greatest(f.v0, f.v1) AS BIGINT) AS best_score_micro,
       CAST(CASE WHEN f.v0 >= f.v1 THEN 0 ELSE 1 END AS INTEGER)
         AS final_state,
       CAST(b.ne AS BIGINT) AS n_engaged
FROM lens l
JOIN fwd f ON f.user_id = l.user_id AND f.t = l.n
JOIN (SELECT user_id, sum(state) AS ne FROM bt GROUP BY user_id) b
  ON b.user_id = l.user_id
""",
    doc=f"2-state HMM Viterbi decode of each user's first {HMM_MAX_T} "
    "events (engaged/idle), exact integer micro-nat lattice; Spark runs "
    "the DP as a cross-user-vectorized mapInPandas kernel, the oracle "
    "as a recursive-CTE forward pass + pointer backtrace",
)
def events_hmm_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HMM Viterbi decoding — the canonical operator Spark LACKS as a
    built-in (the recurrence carries state along the sequence, so no
    window/aggregate composition expresses it): per user, the most
    likely hidden engaged/idle path explaining the first
    :data:`HMM_MAX_T` events, under fixed integer micro-nat transition/
    emission tables. Output per user: lattice score, final decoded
    state, and time spent "engaged" (via full pointer backtrace, not
    just the final argmax).

    Cross-engine exactness: all log-probabilities are INTEGER literals
    and the tie-break (prefer idle on equal scores) is a plain ``>=``
    in both the pandas kernel and the oracle's CASE — every cell of the
    DP lattice matches bit-for-bit. The DuckDB oracle is a recursive
    CTE forward pass carrying (v0, v1, ptr0, ptr1) plus a second
    recursion walking the pointers back — Viterbi is expressible in
    SQL, just not in SPARK SQL (no recursive CTE over window state at
    this shape); benchmarked it is also ~30x slower that way, which is
    the argument for the Arrow kernel.

    Scale shape: one window pass bounds every user to a fixed prefix
    (DP depth is corpus-size independent); the window's user_id exchange
    is the ONLY shuffle, and the kernel is ``mapInPandas`` VECTORIZED
    ACROSS USERS — the DP is sequential in time but independent across
    users, so each Arrow chunk walks an (n_users × T) integer lattice in
    T numpy steps instead of paying per-group pandas overhead (measured
    25 s → ~4 s at sf1 vs the grouped-map form; chunk boundaries are
    handled by holding back each chunk's possibly-split last user). At
    100 TB this is the standard sessionized-decode shape.

    Reference analog: none (extension surface — sequence-model family,
    beside ``events_markov_stationary``/``events_markov_absorption``,
    which model OBSERVED transitions; the HMM decodes LATENT state).
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prefix = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("t", F.row_number().over(w))
        .where(F.col("t") <= HMM_MAX_T)
        .drop("t")
    )
    # The window already hash-partitioned by user_id and sorted by
    # (user_id, ts, event_id); the explicit sort is a no-op Catalyst
    # removes, kept so the kernel's contiguity contract doesn't silently
    # depend on WindowExec's output order. Only 2 columns cross Arrow.
    ordered = prefix.sortWithinPartitions("user_id", "ts", "event_id").select(
        "user_id", "event_type"
    )
    return ordered.mapInPandas(_viterbi_batches, schema=_VITERBI_SCHEMA)
