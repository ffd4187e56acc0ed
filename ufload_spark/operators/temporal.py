"""Temporal joins Spark lacks as primitives: as-of join and range join.

Neither exists in the reference (SURVEY §2.3 notes their absence) nor as a
single Spark operator, but both are bread-and-butter for event analytics,
so the engine provides them as compositions with cluster-safe plans:

- **As-of join** (most recent right row at or before each left row): the
  union + ordered-window trick. Both inputs are tagged and unioned, one
  shuffle partitions by key and orders by (ts, side); a running
  ``last(..., ignorenulls)`` carries the latest right payload forward into
  each left row. No join product ever materializes — cost is one shuffle +
  one sort, independent of how many right rows precede each left row.
  (DuckDB has a native ASOF JOIN, which is the oracle.)

- **Range join** (pairs within a time band): banded equi-join. Each left
  row is exploded to its bucket and the two adjacent ±band buckets, the
  join runs on (key, bucket) — an equi-join Catalyst can hash — and the
  exact band predicate filters after. Each qualifying pair matches exactly
  one bucket key, so no dedup pass is needed. The oracle is the quadratic
  inequality join, which is exactly what this plan avoids at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ufload_spark.lifetime import cut
from ufload_spark.plans.registry import register
from ufload_spark.sources.tables import local_frame, table

BAND_S = 300  # range-join band: 5 minutes


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_payload: list[str],
    right_tiebreak: str | None = None,
) -> DataFrame:
    """For every left row, attach the payload of the most recent right row
    with ``right.ts <= left.ts`` (per key). Left rows with no prior right
    row keep NULLs (ASOF LEFT JOIN semantics).

    Determinism: several right rows can share (key, ts); (ts, side) alone
    is then not a total order and ``last(...)`` would carry an arbitrary
    one. ``right_tiebreak`` (default: the first payload column) breaks the
    tie — the HIGHEST tiebreak value among equal-ts right rows wins,
    always."""
    tb = right_tiebreak or right_payload[0]
    tb_type = dict(right.dtypes)[tb]
    nulls = [F.lit(None).alias(f"r_{c}") for c in right_payload]
    l_tag = left.select(
        F.col(key),
        F.col(ts),
        F.lit(1).alias("side"),
        *[F.col(c) for c in left.columns if c not in (key, ts)],
        *nulls,
        F.lit(None).cast(tb_type).alias("__tb"),
    )
    r_tag = right.select(
        F.col(key),
        F.col(ts),
        F.lit(0).alias("side"),
        *[
            F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
            for c in left.columns
            if c not in (key, ts)
        ],
        *[F.col(c).alias(f"r_{c}") for c in right_payload],
        F.col(tb).alias("__tb"),
    )
    u = l_tag.unionByName(r_tag)
    # right rows sort before left rows at equal ts → ties match (>= asof);
    # among equal-ts right rows the tiebreak orders them totally and
    # last() carries the highest one
    w = (
        Window.partitionBy(key)
        .orderBy(ts, "side", F.col("__tb").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "*",
        *[
            F.last(f"r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in right_payload
        ],
    )
    return carried.where(F.col("side") == 1).drop(
        "side", "__tb", *[f"r_{c}" for c in right_payload]
    )


@register(
    "events_asof_last_click",
    """
SELECT p.event_id, p.user_id, p.ts,
       c.event_id AS click_event_id, c.ts AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
    doc="as-of join: most recent click at or before each purchase, via the "
    "union + ordered-window plan (no join product)",
)
def events_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution shape: each purchase joined to the user's latest click
    at or before it. One shuffle on user_id; window state is one row."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(purchases, clicks, "user_id", "ts", ["event_id", "ts"])
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_event_id").alias("click_event_id"),
        F.col("asof_ts").alias("click_ts"),
    )


@register(
    "events_range_join_pairs",
    f"""
SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
       epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= {BAND_S} * 1000000
""",
    doc=f"range join: same-user event pairs within {BAND_S} s, via banded "
    "bucket equi-join (the oracle runs the quadratic inequality join)",
)
def events_range_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: bucket = floor(epoch/band); the left side
    explodes to buckets {b-1, b, b+1}, the join is a plain hash equi-join
    on (user_id, bucket), and the exact |dt| ≤ band predicate filters the
    band edges. Each qualifying pair hits exactly one bucket key — no
    dedup. Shuffle volume is 3× the input, never the pair product."""
    # ts arrives as TIMESTAMP — sources.tables.normalize_ts converts the
    # fixture's encoding (bigint ns / timestamp_ntz) at the scan, centrally
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    band_us = BAND_S * 1_000_000
    bucket = F.floor(F.col("us") / band_us)
    a = ev.select(
        "user_id",
        F.col("event_id").alias("event_a"),
        F.col("us").alias("us_a"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("bucket"),
    )
    b = ev.select(
        "user_id",
        F.col("event_id").alias("event_b"),
        F.col("us").alias("us_b"),
        bucket.alias("bucket"),
    )
    dt = F.col("us_b") - F.col("us_a")
    return (
        a.join(b, ["user_id", "bucket"])
        .where((F.col("event_a") < F.col("event_b")) & (F.abs(dt) <= band_us))
        .select("user_id", "event_a", "event_b", dt.alias("dt_us"))
    )

@register(
    "events_scd2_user_state",
    """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), changes AS (
  SELECT user_id, ts, event_id, event_type
  FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type,
       ts AS valid_from,
       lead(ts) OVER w2 AS valid_to,
       lead(ts) OVER w2 IS NULL AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    doc="SCD type-2 dimension build: change-compressed per-user state "
    "history with [valid_from, valid_to) intervals and a current flag",
)
def events_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC-to-warehouse op: collapse each user's event stream into a
    type-2 slowly-changing dimension — consecutive repeats of the same
    state are COMPRESSED away (gaps-and-islands via ``lag``), each
    surviving change opens a validity interval closed by the next change
    (``lead``), and the open interval is flagged current. Both windows
    ride ONE user_id exchange (same partitioning, consecutive window
    stages — no second shuffle), and ordering ties on ts break by
    event_id so the history is deterministic under parallelism on both
    engines. At 100 TB this is the shape dimension builds must have:
    state per user bounded by CHANGES, not events.

    Reference analog: none (extension surface — event analytics family).
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
    )
    valid_to = F.lead("ts").over(w)
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


@register(
    "events_hier_rollup",
    """
WITH minute AS (
  SELECT date_trunc('minute', ts) AS bucket_start, event_type,
         count(*) AS n_events,
         sum(CAST(round(value * 100) AS BIGINT)) AS sum_cents
  FROM events GROUP BY 1, 2
), hourly AS (
  SELECT date_trunc('hour', bucket_start) AS bucket_start, event_type,
         CAST(sum(n_events) AS BIGINT) AS n_events,
         CAST(sum(sum_cents) AS BIGINT) AS sum_cents
  FROM minute GROUP BY 1, 2
), daily AS (
  SELECT date_trunc('day', bucket_start) AS bucket_start, event_type,
         CAST(sum(n_events) AS BIGINT) AS n_events,
         CAST(sum(sum_cents) AS BIGINT) AS sum_cents
  FROM hourly GROUP BY 1, 2
)
SELECT 'minute' AS grain, bucket_start, event_type, n_events,
       CAST(sum_cents AS DOUBLE) / 100.0 AS total_value,
       CAST(sum_cents * 10000 // n_events AS DOUBLE) / 1e6 AS avg_value
FROM minute
UNION ALL
SELECT 'hour', bucket_start, event_type, n_events,
       CAST(sum_cents AS DOUBLE) / 100.0,
       CAST(sum_cents * 10000 // n_events AS DOUBLE) / 1e6
FROM hourly
UNION ALL
SELECT 'day', bucket_start, event_type, n_events,
       CAST(sum_cents AS DOUBLE) / 100.0,
       CAST(sum_cents * 10000 // n_events AS DOUBLE) / 1e6
FROM daily
""",
    doc="hypertable-style continuous-aggregate cascade: minute partials -> "
    "hour -> day, each coarser grain re-aggregated from the finer grain's "
    "exact integer-cent partials (sum/count carried, avg derived) — never "
    "from raw",
)
def events_hier_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup, the hypertable continuous-aggregate shape:
    raw events are aggregated ONCE at the finest grain (minute) into
    mergeable partials (count, integer-cent sum) and every coarser grain
    (hour, day) is computed by RE-AGGREGATING the next-finer grain's
    partials — avg is derived from the partials at presentation time, so
    it stays exact through the cascade. This is the semantics of
    TimescaleDB continuous aggregates / Druid rollup re-expressed as one
    Spark plan.

    The measure is summed as BIGINT cents, not doubles: distributed
    partial aggregation has no defined reduction order, and double sums
    (then round-at-presentation) proved to land on exact decimal ties
    that Spark's BigDecimal.valueOf rounding and DuckDB's raw-double
    rounding break differently. Integer partials make every level of the
    cascade exact and reduction-order-independent on any cluster — the
    posture money-typed measures need at 100 TB anyway. The derived avg
    is exact integer micro-units (floor division) presented as a double.

    Scale posture: only the minute level ever touches raw data, so at
    100 TB the hour rollup reads ~minutes-per-hour× fewer rows and the day
    rollup ~1440× fewer than raw. In-plan, the three grains share the
    minute aggregation subtree: the raw-scan shuffle is planned once and
    the coarser levels hang off it (ReuseExchange dedups the repeated
    exchange under the union). In a production lifecycle each level would
    persist as its own table with the same derivation, the pattern
    ``similarity_ivf_incremental`` demonstrates for index state.

    Reference analog: none (extension surface — event analytics family).
    """
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    minute = ev.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("bucket_start"), "event_type"
    ).agg(F.count("*").alias("n_events"), F.sum(cents).alias("sum_cents"))
    hourly = minute.groupBy(
        F.date_trunc("hour", F.col("bucket_start")).alias("bucket_start"),
        "event_type",
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sum_cents").alias("sum_cents"))
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("bucket_start")).alias("bucket_start"),
        "event_type",
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sum_cents").alias("sum_cents"))

    def present(df: DataFrame, grain: str) -> DataFrame:
        micros = F.expr("sum_cents * 10000 div n_events")
        return df.select(
            F.lit(grain).alias("grain"),
            "bucket_start",
            "event_type",
            "n_events",
            (F.col("sum_cents").cast("double") / 100.0).alias("total_value"),
            (micros.cast("double") / 1e6).alias("avg_value"),
        )

    return (
        present(minute, "minute")
        .unionAll(present(hourly, "hour"))
        .unionAll(present(daily, "day"))
    )


@register(
    "events_distinct_rollup_sketch",
    # sketch estimates are engine-specific; the checkable contract per day:
    # the merged-from-hours estimate must (a) equal the sketch built
    # directly on the day's raw rows (HLL union is lossless at equal lgK)
    # and (b) land within the sketch's error bound of the exact count
    """
SELECT date_trunc('day', ts) AS day,
       count(DISTINCT date_trunc('hour', ts)) AS n_hours,
       true AS merge_consistent,
       true AS within_bound
FROM events GROUP BY 1
""",
    doc="mergeable-sketch rollup: per-hour HLL user sketches unioned into "
    "per-day distinct estimates — checked for union losslessness vs the "
    "directly-built day sketch and for the HLL accuracy bound vs exact",
)
def events_distinct_rollup_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct-count companion to ``events_hier_rollup``: COUNT and
    SUM partials re-aggregate trivially, but DISTINCT does not — the only
    scale-correct way to roll distinct users from hour to day is a
    mergeable sketch. Per hour, an HLL sketch of user_id
    (``hll_sketch_agg``); per day, the hour sketches are UNIONED
    (``hll_union_agg``) and estimated — raw rows are never re-scanned at
    the coarser grain, and a pre-aggregated sketch table would serve any
    ad-hoc date range the same way.

    Two contracts are checked in-query (the estimates themselves are
    engine-specific, so the oracle pins the flags): (a) merge agreement —
    the merged-from-hours estimate agrees with the direct day sketch's
    estimate within the estimator envelope. NOT exact equality: a fresh
    sketch estimates with the insertion-ordered HIP accumulator while a
    union result must fall back to the composite estimator, so once
    sketches leave coupon mode the two estimates of the SAME register
    content legitimately differ (r7 lesson: equality held at sf0.01 —
    coupon mode is exact both ways — and broke 29/30 days at sf0.1;
    measured max gap 1.05% of exact vs the ~1.6% lgK=12 rsd). Union
    still adds no accuracy loss — that is the mergeability that makes
    sketch rollups sound. (b) the accuracy bound — the estimate lands
    within 3× the default rsd of the exact count (exact is verification
    cost only, not the scale path).

    Reference analog: none (extension surface — sketch family).
    """
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = hourly.groupBy(F.date_trunc("day", F.col("hour")).alias("day")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged"),
        F.count("*").alias("n_hours"),
    )
    direct = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct"),
        F.count_distinct("user_id").alias("exact"),
    )
    err = F.abs(F.col("est_merged") - F.col("exact")) / F.col("exact")
    gap = F.abs(F.col("est_merged") - F.col("est_direct")) / F.col("exact")
    return merged.join(direct, "day").select(
        "day",
        "n_hours",
        # HIP (direct) vs composite (union) estimators of the same
        # registers: agreement within 1x the 3-rsd envelope (same 0.05
        # bound as within_bound), never exact equality past coupon
        # mode (docstring)
        (gap <= 0.05).alias("merge_consistent"),
        # default lgConfigK=12 → rsd ~1.6%; 3x margin mirrors
        # approx_distinct_parts' contract envelope
        (err <= 0.05).alias("within_bound"),
    )


@register(
    "pipeline_pit_features",
    """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), changes AS (
  SELECT user_id, ts, event_id, event_type
  FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
), scd AS (
  SELECT user_id, event_type,
         ts AS valid_from,
         lead(ts) OVER w2 AS valid_to
  FROM changes
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
), labels AS (
  SELECT event_id AS label_id, user_id, ts AS label_ts,
         round(value, 2) AS label_value
  FROM events WHERE event_type = 'purchase'
)
SELECT l.label_id, l.user_id, l.label_ts, l.label_value,
       s.event_type AS state_at_label, s.valid_from AS state_since
FROM labels l
LEFT JOIN scd s
  ON s.user_id = l.user_id
 AND s.valid_from < l.label_ts
 AND (s.valid_to IS NULL OR s.valid_to >= l.label_ts)
""",
    doc="point-in-time feature join (the feature-store op): purchase labels "
    "joined to the SCD2 user-state dimension with a STRICT as-of predicate "
    "(valid_from < label_ts) — the state opened by the label's own event is "
    "invisible, so the feature can never leak the label",
)
def pipeline_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free training-example assembly: every 'purchase' label event
    gets the user's state AS OF the instant strictly before the label —
    the point-in-time-correct join a feature store performs when
    materializing training sets (labels must never see features derived
    from themselves or later events).

    Built on the SCD2 intervals of ``events_scd2_user_state``: a label at
    time t matches the unique interval with ``valid_from < t`` and
    ``valid_to >= t`` (or open). Strict ``<`` is the leakage guard — a
    state change at exactly t (possibly the label's own event) is not yet
    visible. Labels before any prior state keep NULL features (LEFT
    join), which is honest: at that instant there was nothing to know.

    Plan shape: dimension build and probe both partition by user_id —
    one exchange each side, equi-join on the key with the interval
    predicate applied at the join; intervals partition each user's
    timeline, so every label matches AT MOST ONE interval and no dedup
    pass exists. Per-user cost is labels × CHANGES (the SCD2 compression
    is what keeps the right side small at 100 TB).
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
    )
    scd = changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    labels = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("label_id"),
        "user_id",
        F.col("ts").alias("label_ts"),
        F.round("value", 2).alias("label_value"),
    )
    l, s = labels.alias("l"), scd.alias("s")
    return l.join(
        s,
        (F.col("l.user_id") == F.col("s.user_id"))
        & (F.col("s.valid_from") < F.col("l.label_ts"))
        & (
            F.col("s.valid_to").isNull()
            | (F.col("s.valid_to") >= F.col("l.label_ts"))
        ),
        "left",
    ).select(
        F.col("l.label_id").alias("label_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("l.label_ts").alias("label_ts"),
        F.col("l.label_value").alias("label_value"),
        F.col("s.event_type").alias("state_at_label"),
        F.col("s.valid_from").alias("state_since"),
    )


#: Attribution lookback window: a purchase is click-attributed when the
#: user's latest prior click is at most this many seconds before it.
ATTRIB_WINDOW_S = 3600


@register(
    "events_attribution_last_touch",
    f"""
WITH j AS (
  SELECT p.value, p.ts, c.ts AS click_ts
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND p.ts >= c.ts
), tagged AS (
  SELECT CASE
           WHEN click_ts IS NULL THEN 'organic'
           WHEN epoch_us(ts) - epoch_us(click_ts)
                <= CAST({ATTRIB_WINDOW_S} AS BIGINT) * 1000000
             THEN 'click_attributed'
           ELSE 'click_expired'
         END AS channel,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM j
)
SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM tagged GROUP BY channel
""",
    doc=f"last-touch attribution: purchase revenue split by whether the "
    f"user's latest prior click fell within {ATTRIB_WINDOW_S} s",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is attributed to
    the user's most recent PRIOR click — ``click_attributed`` when that
    click is within :data:`ATTRIB_WINDOW_S`, ``click_expired`` when it is
    older, ``organic`` when the user never clicked before buying — and
    revenue is totaled per channel in exact integer cents.

    Scale shape: the as-of join runs as the union + ordered-window plan
    (:func:`asof_join` — one shuffle on user_id, O(1) window state, no
    join product ever materializes), the latency classification is a
    row-local integer microsecond comparison, and the output is a 3-row
    aggregate with map-side combine. The oracle uses DuckDB's native
    ASOF LEFT JOIN against the identical window arithmetic.

    Reference analog: none (extension surface — the attribution sibling
    of ``events_asof_last_click``, which emits the raw pairs).
    """
    ev = table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    j = asof_join(purchases, clicks, "user_id", "ts", ["event_id", "ts"])
    lat_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof_ts"))
    channel = (
        F.when(F.col("asof_ts").isNull(), "organic")
        .when(lat_us <= ATTRIB_WINDOW_S * 1_000_000, "click_attributed")
        .otherwise("click_expired")
    )
    return (
        j.select(
            channel.alias("channel"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("channel")
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


#: autocorrelation: maximum lag (days) reported
ACF_MAX_LAG = 14


@register(
    "orders_acf_daily_revenue",
    f"""
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS HUGEINT)
           AS cents
  FROM orders GROUP BY 1
), lags AS (
  SELECT CAST(range AS INT) AS lag FROM range(1, {ACF_MAX_LAG} + 1)
), pairs AS (
  SELECT l.lag, x.cents AS x, y.cents AS y
  FROM lags l
  JOIN daily x ON true
  JOIN daily y ON y.day = x.day + l.lag
), sums AS (
  SELECT lag, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(x * y) AS HUGEINT) AS sxy,
         CAST(sum(x * x) AS HUGEINT) AS sxx,
         CAST(sum(y * y) AS HUGEINT) AS syy
  FROM pairs GROUP BY lag
)
SELECT lag, CAST(n AS BIGINT) AS n_pairs,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0 AS acf
FROM sums
""",
    doc=f"autocorrelation of the daily-revenue series at lags 1..{ACF_MAX_LAG}: "
    "lagged Pearson from exact integer-cent sums (HUGEINT/decimal38), one "
    "sqrt+division per lag",
)
def orders_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily order revenue, lags 1..14 — the
    seasonality/persistence diagnostic of demand forecasting. Per lag k it
    is the Pearson correlation of the day series against itself shifted by
    k days (pairs restricted to days where both endpoints exist).

    Determinism: the day series is integer cents, every moment (n, Σx, Σy,
    Σxy, Σx², Σy²) is an exact decimal(38,0)/HUGEINT, and the double math
    is the same fixed sequence on both engines — cast, multiply, sqrt,
    divide, round (the ``lineitem_ols_price_model`` discipline). Σx² at
    sf10000 is ~6e34, inside decimal38.

    Scale shape: ONE shuffle aggregates orders to the daily frame, which
    is bounded by the calendar (~2.4k rows/decade), never order count.
    The lag expansion (explode × 14), self-join and per-lag moments all
    run on that bounded frame — broadcast-joinable at any corpus size.

    Reference analog: none — extension surface (time-series sibling of
    ``lineitem_ols_price_model``).
    """
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
            .cast("long")
            .alias("day")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("decimal(38,0)")
            .alias("cents")
        )
    )
    lags = F.explode(
        F.array(*[F.lit(k) for k in range(1, ACF_MAX_LAG + 1)])
    ).alias("lag")
    x = daily.select(lags, F.col("day"), F.col("cents").alias("x"))
    y = daily.select(
        F.col("day").alias("yday"), F.col("cents").alias("y")
    )
    pairs = x.join(
        F.broadcast(y), F.col("yday") == F.col("day") + F.col("lag")
    )
    dec = "decimal(38,0)"
    sums = pairs.groupBy("lag").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast(dec).alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx", "syy"))
    cov_n = (n * sxy - sx * sy).cast("double")
    varx_n = (n * sxx - sx * sx).cast("double")
    vary_n = (n * syy - sy * sy).cast("double")
    return sums.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        (F.round(cov_n / F.sqrt(varx_n * vary_n), 6) + F.lit(0.0)).alias("acf"),
    )


@register(
    "events_cumulative_distinct_users",
    """
WITH first_seen AS (
  SELECT user_id, date_trunc('day', min(ts)) AS day FROM events GROUP BY 1
), daily AS (
  SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM first_seen GROUP BY 1
)
SELECT day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM daily
""",
    doc="running distinct-user count via the first-seen trick: min(ts) per "
    "user, daily new-user counts, one running integer sum over the bounded "
    "day frame",
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users over time WITHOUT a running COUNT(DISTINCT)
    — the first-seen trick: a user contributes to the cumulative curve
    exactly once, on the day of their first event, so the running distinct
    count is the running SUM of daily first-seen counts. Turns an
    unboundable stateful distinct into two hash aggregates plus a window
    over the calendar frame.

    Scale shape: one shuffle on user_id (min ts), one on day. The running
    sum's input is the per-day frame.
    """
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day")
    )
    daily = first_seen.groupBy("day").agg(
        F.count("*").cast("bigint").alias("new_users")
    )
    # SCALE GUARD: partition-less window = a single-reducer sort. Safe here
    # ONLY because the input is the per-day aggregate — bounded by the
    # calendar span, not event volume. The running sum is over int64s, so
    # combine order cannot change the value.
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


#: trailing revenue window (days, inclusive of the order day)
ROLLING_WINDOW_DAYS = 90


@register(
    "orders_rolling_90d_by_customer",
    f"""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderkey, o_custkey, day,
       CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY day
            RANGE BETWEEN {ROLLING_WINDOW_DAYS - 1} PRECEDING AND CURRENT ROW)
            AS BIGINT) AS trailing_cents
FROM o
""",
    doc=f"per-customer trailing {ROLLING_WINDOW_DAYS}-day revenue via a "
    "RANGE frame over integer epoch-days — exact int64 cents",
)
def orders_rolling_90d_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 90-day spend per customer at every order — the RANGE-frame
    window (value-based, not row-based: the frame is `day ∈ [d-89, d]`
    regardless of how many orders fall in it). Orders on the same day
    share one frame, so the output is identical however same-day rows are
    ordered — no tie-break needed.

    Scale shape: ONE shuffle partitions by customer; each partition sorts
    its own order history (tens of rows). The measure is exact int64
    cents. This is the feature-engineering shape behind every
    "spend in the last N days" model input.
    """
    o = table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-(ROLLING_WINDOW_DAYS - 1), Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        day.alias("day"),
        cents.alias("cents"),
    ).select(
        "o_orderkey",
        "o_custkey",
        "day",
        F.sum("cents").over(w).cast("bigint").alias("trailing_cents"),
    )


#: a user whose last event is at least this many days before the corpus
#: end is treated as churned (otherwise right-censored)
CHURN_QUIET_DAYS = 7


@register(
    "events_churn_hazard",
    f"""
WITH span AS (
  SELECT user_id,
         CAST(CAST(min(ts) AS DATE) - DATE '1970-01-01' AS BIGINT) AS first_day,
         CAST(CAST(max(ts) AS DATE) - DATE '1970-01-01' AS BIGINT) AS last_day
  FROM events GROUP BY 1
), horizon AS (
  SELECT max(last_day) AS max_day FROM span
), lives AS (
  SELECT CAST((last_day - first_day) // 7 AS BIGINT) AS week,
         CASE WHEN last_day <= max_day - {CHURN_QUIET_DAYS} THEN 1 ELSE 0 END
           AS churned
  FROM span, horizon
), weekly AS (
  SELECT week, CAST(count(*) AS BIGINT) AS n_ending,
         CAST(sum(churned) AS BIGINT) AS n_churned
  FROM lives GROUP BY week
)
SELECT week, n_churned,
       CAST(sum(n_ending) OVER (ORDER BY week DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_risk,
       round(CAST(n_churned AS DOUBLE)
             / sum(n_ending) OVER (ORDER BY week DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) + 0.0
         AS hazard
FROM weekly
""",
    doc="discrete churn-hazard table (the life-table half of Kaplan-Meier): "
    "per lifetime-week churn counts, at-risk set via one reverse running "
    "sum, hazard as a single division",
)
def events_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time churn hazard: users are binned by lifetime week
    (last event day − first event day, integer-divided by 7); a user
    counts as churned if their last event precedes the corpus horizon by
    ≥ :data:`CHURN_QUIET_DAYS` days, else right-censored. The at-risk set
    n_risk(w) = users whose lifetime reaches week w is the REVERSE running
    sum of per-week endings, and hazard(w) = churned(w)/n_risk(w) is one
    IEEE division of exact ints. (The Kaplan-Meier survival curve is the
    running product of (1−hazard); emitting the hazard table keeps every
    value a single deterministic division instead of a float product whose
    association order differs across engines.)

    Scale shape: one shuffle on user_id for the span aggregate, one on
    week; the window runs over the per-week frame, bounded by the corpus
    time span in weeks.
    """
    ev = table(spark, sf_dir, "events")
    day = lambda c: F.datediff(c, F.lit("1970-01-01")).cast("long")  # noqa: E731
    span = ev.groupBy("user_id").agg(
        day(F.to_date(F.min("ts"))).alias("first_day"),
        day(F.to_date(F.max("ts"))).alias("last_day"),
    )
    horizon = span.groupBy().agg(F.max("last_day").alias("max_day"))
    lives = span.crossJoin(F.broadcast(horizon)).select(
        F.floor((F.col("last_day") - F.col("first_day")) / 7)
        .cast("bigint")
        .alias("week"),
        F.when(
            F.col("last_day") <= F.col("max_day") - CHURN_QUIET_DAYS, 1
        )
        .otherwise(0)
        .alias("churned"),
    )
    weekly = lives.groupBy("week").agg(
        F.count("*").cast("bigint").alias("n_ending"),
        F.sum("churned").cast("bigint").alias("n_churned"),
    )
    # SCALE GUARD: partition-less window over the per-week frame only —
    # bounded by the corpus time span, not user count.
    w = (
        Window.orderBy(F.col("week").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_risk = F.sum("n_ending").over(w).cast("bigint")
    return weekly.select(
        "week",
        "n_churned",
        n_risk.alias("n_risk"),
        (
            F.round(F.col("n_churned").cast("double") / n_risk, 6)
            + F.lit(0.0)
        ).alias("hazard"),
    )


@register(
    "events_survival_km",
    f"""
WITH span AS (
  SELECT user_id,
         CAST(CAST(min(ts) AS DATE) - DATE '1970-01-01' AS BIGINT) AS first_day,
         CAST(CAST(max(ts) AS DATE) - DATE '1970-01-01' AS BIGINT) AS last_day
  FROM events GROUP BY 1
), horizon AS (
  SELECT max(last_day) AS max_day FROM span
), lives AS (
  SELECT CAST((last_day - first_day) // 7 AS BIGINT) AS week,
         CASE WHEN last_day <= max_day - {CHURN_QUIET_DAYS} THEN 1 ELSE 0 END
           AS churned
  FROM span, horizon
), weekly AS (
  SELECT week, CAST(count(*) AS BIGINT) AS n_ending,
         CAST(sum(churned) AS BIGINT) AS n_churned
  FROM lives GROUP BY week
), haz AS (
  SELECT week, n_churned,
         CAST(sum(n_ending) OVER (ORDER BY week DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_risk
  FROM weekly
), terms AS (
  SELECT week, n_churned, n_risk,
         CASE WHEN n_churned >= n_risk THEN 0.0
              ELSE round(ln(CAST(n_risk - n_churned AS DOUBLE) / n_risk), 12)
         END AS ln_term,
         CASE WHEN n_churned >= n_risk THEN 1 ELSE 0 END AS dead
  FROM haz
)
SELECT week, n_churned, n_risk,
       CASE WHEN max(dead) OVER (ORDER BY week
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
            THEN 0.0
            ELSE round(exp(sum(ln_term) OVER (ORDER BY week
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) + 0.0
       END AS km_survival
FROM terms
""",
    doc="Kaplan-Meier survival curve over user lifetimes (the product-limit "
    "integral of events_churn_hazard): per-week at-risk/churned counts, "
    "survival as exp of a running sum of per-term-rounded log factors — "
    "deterministic cross-engine, zero-survival prefix handled exactly",
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival estimate of user lifetime, the
    curve form of :func:`events_churn_hazard`'s life table: S(w) =
    prod_{i<=w} (1 - d_i / r_i) with d = churned endings and r = the
    at-risk set (reverse running sum of endings; users censored inside
    :data:`CHURN_QUIET_DAYS` of the horizon leave the risk set without a
    death event, exactly KM's right-censoring).

    Float discipline: a running *product* of doubles is
    association-order-dependent, so each factor's log is rounded to 12
    decimals FIRST (the chi-square/JSD per-term discipline) and the
    product becomes exp of a running SUM over the bounded weekly frame —
    both engines add the identical rounded terms in the identical window
    order. A week where every at-risk user churns drives S to exactly 0;
    that case bypasses ln entirely via a flag whose running max pins every
    later week to 0.0 (Spark ANSI ln(0) would raise, and -inf would poison
    the sum).

    Scale shape: identical to the hazard table — one user_id shuffle, one
    week shuffle, then two windows over the per-week frame bounded by the
    corpus span in weeks, never by user count.

    Reference analog: none (extension surface — experimentation/retention
    family, beside events_churn_hazard and events_retention_cohorts).
    """
    ev = table(spark, sf_dir, "events")
    day = lambda c: F.datediff(c, F.lit("1970-01-01")).cast("long")  # noqa: E731
    span = ev.groupBy("user_id").agg(
        day(F.to_date(F.min("ts"))).alias("first_day"),
        day(F.to_date(F.max("ts"))).alias("last_day"),
    )
    horizon = span.groupBy().agg(F.max("last_day").alias("max_day"))
    lives = span.crossJoin(F.broadcast(horizon)).select(
        F.floor((F.col("last_day") - F.col("first_day")) / 7)
        .cast("bigint")
        .alias("week"),
        F.when(F.col("last_day") <= F.col("max_day") - CHURN_QUIET_DAYS, 1)
        .otherwise(0)
        .alias("churned"),
    )
    weekly = lives.groupBy("week").agg(
        F.count("*").cast("bigint").alias("n_ending"),
        F.sum("churned").cast("bigint").alias("n_churned"),
    )
    # SCALE GUARD: partition-less windows over the per-week frame only —
    # bounded by the corpus time span, not user count.
    w_desc = Window.orderBy(F.col("week").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_asc = Window.orderBy("week").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    haz = weekly.select(
        "week",
        "n_churned",
        F.sum("n_ending").over(w_desc).cast("bigint").alias("n_risk"),
    )
    dead = F.when(F.col("n_churned") >= F.col("n_risk"), 1).otherwise(0)
    ln_term = F.when(F.col("n_churned") >= F.col("n_risk"), F.lit(0.0)).otherwise(
        F.round(
            F.log(
                (F.col("n_risk") - F.col("n_churned")).cast("double")
                / F.col("n_risk")
            ),
            12,
        )
    )
    terms = haz.select(
        "week", "n_churned", "n_risk", ln_term.alias("ln_term"), dead.alias("dead")
    )
    return terms.select(
        "week",
        "n_churned",
        "n_risk",
        F.when(F.max("dead").over(w_asc) == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum("ln_term").over(w_asc)), 6) + F.lit(0.0))
        .alias("km_survival"),
    )


@register(
    "orders_theilsen_trend",
    """
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily
), slopes AS (
  SELECT CAST(b.cents - a.cents AS DOUBLE) / (b.day - a.day) AS slope
  FROM daily a JOIN daily b ON b.day > a.day
), np AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM slopes
), med_slope AS (
  SELECT slope FROM (
    SELECT slope, row_number() OVER (ORDER BY slope) AS rn FROM slopes
  ), np WHERE rn = (n_pairs + 1) // 2
), resid AS (
  SELECT d.cents - m.slope * d.day AS b0 FROM daily d, med_slope m
), med_b0 AS (
  SELECT b0 FROM (
    SELECT b0, row_number() OVER (ORDER BY b0) AS rn FROM resid
  ), nd WHERE rn = (n_days + 1) // 2
)
SELECT n_days, n_pairs,
       round(slope, 6) + 0.0 AS slope_cents_per_day,
       round(b0, 6) + 0.0 AS intercept_cents
FROM nd, np, med_slope, med_b0
""",
    doc="Theil-Sen robust trend of daily revenue: lower-median of all "
    "pairwise slopes over the calendar-bounded day frame, median residual "
    "intercept; slope doubles are single divisions of exact cents",
)
def orders_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator for the daily-revenue trend — the
    outlier-robust alternative to ``lineitem_ols_price_model``'s least
    squares (breakdown point 29% vs 0%): the slope is the LOWER MEDIAN of
    all pairwise day-to-day slopes, the intercept the lower median of the
    per-day residuals under that slope.

    Determinism: each pairwise slope is ONE IEEE division of exact int64
    cent/day deltas, so the multiset of slopes is bit-identical across
    engines; selection by row_number picks a VALUE (equal values are
    interchangeable), so the median is deterministic without any float
    summation.

    Scale shape: orders aggregate once to the calendar-bounded day frame
    (~2.4k rows/decade); the pair join and both medians run on that frame
    (pairs ≈ calendar²/2 ≈ 3M/decade — bounded by time span, NEVER corpus
    size). SCALE GUARD: the partition-less rank windows are safe only for
    that reason; for corpus-sized medians use
    ``orders_exact_quartiles_select``'s histogram refinement instead.

    Reference analog: none — extension surface (robust-statistics sibling
    of the OLS and ACF entries).
    """
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
            .cast("long")
            .alias("day")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    nd = daily.groupBy().agg(F.count("*").cast("bigint").alias("n_days"))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("b.day") > F.col("a.day")).select(
        (
            (F.col("b.cents") - F.col("a.cents")).cast("double")
            / (F.col("b.day") - F.col("a.day"))
        ).alias("slope")
    )
    np_ = slopes.groupBy().agg(F.count("*").cast("bigint").alias("n_pairs"))
    w_s = Window.orderBy("slope")
    med_slope = (
        slopes.withColumn("rn", F.row_number().over(w_s))
        .crossJoin(F.broadcast(np_))
        .where(F.col("rn") == F.expr("(n_pairs + 1) DIV 2"))
        .select("slope")
    )
    resid = daily.crossJoin(F.broadcast(med_slope)).select(
        (F.col("cents") - F.col("slope") * F.col("day")).alias("b0")
    )
    w_b = Window.orderBy("b0")
    med_b0 = (
        resid.withColumn("rn", F.row_number().over(w_b))
        .crossJoin(F.broadcast(nd))
        .where(F.col("rn") == F.expr("(n_days + 1) DIV 2"))
        .select("b0")
    )
    return (
        nd.crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(med_slope))
        .crossJoin(F.broadcast(med_b0))
        .select(
            "n_days",
            "n_pairs",
            (F.round(F.col("slope"), 6) + F.lit(0.0)).alias(
                "slope_cents_per_day"
            ),
            (F.round(F.col("b0"), 6) + F.lit(0.0)).alias("intercept_cents"),
        )
    )


@register(
    "orders_revenue_growth",
    """
WITH monthly AS (
  SELECT CAST(extract(year FROM o_orderdate) AS INT) AS year,
         CAST(extract(month FROM o_orderdate) AS INT) AS month,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM orders GROUP BY 1, 2
), lagged AS (
  SELECT year, month, revenue_cents,
         lag(revenue_cents, 1) OVER w AS prev_m,
         lag(revenue_cents, 12) OVER w AS prev_y
  FROM monthly
  WINDOW w AS (ORDER BY year * 12 + month)
)
SELECT year, month, revenue_cents,
       round(CAST((revenue_cents - prev_m) * 100 AS DOUBLE) / prev_m, 6) + 0.0
         AS mom_pct,
       round(CAST((revenue_cents - prev_y) * 100 AS DOUBLE) / prev_y, 6) + 0.0
         AS yoy_pct
FROM lagged
""",
    doc="month-over-month and year-over-year revenue growth: exact integer "
    "monthly cents, lag-1/lag-12 over the bounded month frame, one "
    "division per growth figure (NULL where no prior period)",
)
def orders_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The finance-dashboard staple: monthly revenue with MoM and YoY
    percentage growth. Offsets use ``lag`` over the month frame keyed by
    the integer ``year*12+month`` (sidestepping months_between semantics);
    growth is (Δcents·100)/prev — an exact integer numerator and ONE IEEE
    division, NULL for the first month / first year.

    Scale shape: one shuffle aggregates orders to the calendar-bounded
    month frame; the lag window runs on that bounded frame only (SCALE
    GUARD: safe because the frame is the calendar, not the corpus).

    Reference analog: none — extension surface (the periodic sibling of
    ``orders_seasonality_index``).
    """
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("int").alias("year"),
        F.month("o_orderdate").cast("int").alias("month"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("bigint")
        .alias("revenue_cents")
    )
    w = Window.orderBy(F.col("year") * 12 + F.col("month"))
    lagged = monthly.select(
        "year",
        "month",
        "revenue_cents",
        F.lag("revenue_cents", 1).over(w).alias("prev_m"),
        F.lag("revenue_cents", 12).over(w).alias("prev_y"),
    )
    growth = lambda prev: (  # noqa: E731
        F.round(
            ((F.col("revenue_cents") - F.col(prev)) * 100).cast("double")
            / F.col(prev),
            6,
        )
        + F.lit(0.0)
    )
    return lagged.select(
        "year",
        "month",
        "revenue_cents",
        growth("prev_m").alias("mom_pct"),
        growth("prev_y").alias("yoy_pct"),
    )


@register(
    "orders_forecast_naive_backtest",
    """
WITH monthly AS (
  SELECT CAST(extract(year FROM o_orderdate) * 12
              + extract(month FROM o_orderdate) AS BIGINT) AS mkey,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), paired AS (
  SELECT a.cents AS actual, f.cents AS forecast
  FROM monthly a JOIN monthly f ON f.mkey = a.mkey - 12
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_eval_months,
         CAST(sum(abs(actual - forecast)) AS BIGINT) AS sae,
         CAST(sum(actual - forecast) AS BIGINT) AS se,
         CAST(sum(actual) AS BIGINT) AS sa
  FROM paired
)
SELECT n_eval_months,
       CAST(sae // n_eval_months AS BIGINT) AS mae_cents,
       round(CAST(sae * 100 AS DOUBLE) / sa, 6) + 0.0 AS wmape_pct,
       round(CAST(se * 100 AS DOUBLE) / sa, 6) + 0.0 AS bias_pct
FROM agg
""",
    doc="seasonal-naive forecast backtest: predict month m with month "
    "m-12, exact integer error sums over the bounded month frame, "
    "weighted MAPE/bias as single divisions",
)
def orders_forecast_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (ŷ_m = y_{m−12}) — the
    baseline every demand-forecasting pipeline must report before any
    model earns its keep. Errors accumulate as exact integer cents
    (Σ|e|, Σe, Σy), so MAE is an integer floor-division and weighted
    MAPE / bias are one IEEE division each.

    Scale shape: one shuffle to the calendar-bounded month frame; the
    lag pairing is a self-join on the integer month key over that bounded
    frame.

    Reference analog: none — extension surface (the evaluation sibling of
    ``orders_revenue_growth`` / ``orders_seasonality_index``).
    """
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("mkey")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("bigint")
        .alias("cents")
    )
    a = monthly.alias("a")
    f_ = monthly.alias("f")
    paired = a.join(
        F.broadcast(f_), F.col("f.mkey") == F.col("a.mkey") - 12
    ).select(
        F.col("a.cents").alias("actual"), F.col("f.cents").alias("forecast")
    )
    agg = paired.groupBy().agg(
        F.count("*").cast("bigint").alias("n_eval_months"),
        F.sum(F.abs(F.col("actual") - F.col("forecast")))
        .cast("bigint")
        .alias("sae"),
        F.sum(F.col("actual") - F.col("forecast")).cast("bigint").alias("se"),
        F.sum("actual").cast("bigint").alias("sa"),
    )
    return agg.select(
        "n_eval_months",
        F.expr("CAST(sae DIV n_eval_months AS BIGINT)").alias("mae_cents"),
        (
            F.round((F.col("sae") * 100).cast("double") / F.col("sa"), 6)
            + F.lit(0.0)
        ).alias("wmape_pct"),
        (
            F.round((F.col("se") * 100).cast("double") / F.col("sa"), 6)
            + F.lit(0.0)
        ).alias("bias_pct"),
    )


@register(
    "orders_seasonal_decompose",
    """
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), ma AS (
  SELECT day, cents,
         CASE WHEN count(*) OVER w = 7
              THEN CAST(sum(cents) OVER w AS BIGINT) * 1000000 // 7
         END AS trend_micro
  FROM daily
  WINDOW w AS (ORDER BY day RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), det AS (
  SELECT day, cents, trend_micro,
         cents * 1000000 - trend_micro AS detr, day % 7 AS dow
  FROM ma
), seas AS (
  SELECT dow,
         CAST(CAST(sum(detr) AS HUGEINT) // count(*) AS BIGINT) AS s_micro
  FROM det WHERE detr IS NOT NULL GROUP BY dow
), ctr AS (
  SELECT CAST(CAST(sum(s_micro) AS HUGEINT) // count(*) AS BIGINT) AS m
  FROM seas
), adj AS (
  SELECT dow, CAST(s_micro - m AS BIGINT) AS seasonal_micro FROM seas, ctr
)
SELECT d.day, d.cents, CAST(d.trend_micro AS BIGINT) AS trend_micro,
       a.seasonal_micro,
       CAST(d.detr - a.seasonal_micro AS BIGINT) AS resid_micro
FROM det d JOIN adj a USING (dow)
""",
    doc="classical additive seasonal decomposition of daily revenue "
    "(trend = centered 7-day MA, weekly seasonal = centered per-weekday "
    "mean of the detrended series, residual = remainder) — exact integer "
    "micro-cents end to end, windows bounded by the calendar",
)
def orders_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition (the moving-average core of STL,
    without loess): daily revenue splits into trend + weekly seasonal +
    residual. Trend is the CENTERED 7-day moving average over a
    value-based RANGE frame (incomplete edge windows yield NULL, never a
    shortened average); the seasonal component is the per-weekday mean of
    the detrended series, re-centered so the observed weekday effects sum
    to ~0 (one integer division of grain 10^-6, over the classes that
    actually have complete-window data — tiny fixtures cover < 7); the residual is what
    remains — the input a forecast or anomaly monitor consumes
    (``orders_peak_revenue_days``' spike rule applied to resid_micro
    becomes seasonality-blind).

    Everything stays in exact integer micro-cents: the MA is sum·10^6
    div 7, weekday means are decimal128 floor divisions, and every
    subtraction is int64 — no float anywhere, so both engines produce
    bit-identical components (trunc-toward-zero div semantics confirmed
    equal: Spark `div` and DuckDB `//`).

    Scale shape: orders aggregate ONCE to the calendar-bounded day frame
    (one shuffle); the MA window and the 7-row seasonal/centering frames
    are all bounded by the time span, never order count, and the weekday
    effects come back via one broadcast join.

    Reference analog: none (extension surface — time-series family,
    beside `orders_seasonality_index` [multiplicative monthly index] and
    `orders_acf_daily_revenue`).
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    # SCALE GUARD: partition-less windows over the daily frame only —
    # bounded by the calendar span (~2 400 rows), not order count.
    w_ma = Window.orderBy("day").rangeBetween(-3, 3)
    ma = daily.select(
        "day",
        "cents",
        F.when(
            F.count("*").over(w_ma) == 7,
            F.expr("1").cast("bigint"),
        ).alias("full_w"),
        F.sum("cents").over(w_ma).cast("bigint").alias("w_sum"),
    ).select(
        "day",
        "cents",
        F.when(
            F.col("full_w").isNotNull(),
            F.expr("w_sum * 1000000 div 7"),
        )
        .cast("bigint")
        .alias("trend_micro"),
    )
    det = ma.select(
        "day",
        "cents",
        "trend_micro",
        (F.col("cents") * 1000000 - F.col("trend_micro")).alias("detr"),
        (F.col("day") % 7).alias("dow"),
    )
    seas = (
        det.where(F.col("detr").isNotNull())
        .groupBy("dow")
        .agg(
            F.expr(
                "CAST(CAST(sum(detr) AS decimal(38,0)) div count(*) AS BIGINT)"
            ).alias("s_micro")
        )
    )
    ctr = seas.agg(
        F.expr(
            "CAST(CAST(sum(s_micro) AS decimal(38,0)) div count(*) AS BIGINT)"
        ).alias("m")
    )
    adj = seas.crossJoin(F.broadcast(ctr)).select(
        "dow", (F.col("s_micro") - F.col("m")).cast("bigint").alias("seasonal_micro")
    )
    return det.join(F.broadcast(adj), "dow").select(
        "day",
        "cents",
        "trend_micro",
        "seasonal_micro",
        (F.col("detr") - F.col("seasonal_micro")).cast("bigint").alias("resid_micro"),
    )


#: Holt smoothing: level weight alpha = 0.3, truncated to HOLT_LAGS lags
#: (tail mass (1-a)^28 < 5e-5 — below the 1e-12 weight grain's relevance);
#: forecast horizon 7 days
HOLT_LAGS = 28
HOLT_H = 7


def _holt_weights() -> list[int]:
    """w_k = round(0.3 * 0.7^k * 1e12) — exact integers shared by both
    engines (computed once here; no runtime float powers anywhere)."""
    a = 0.3
    return [round(a * ((1 - a) ** k) * 1_000_000_000_000) for k in range(HOLT_LAGS)]


HOLT_W = _holt_weights()


def _holt_weights_values_sql() -> str:
    rows = ", ".join(f"({k}, {w})" for k, w in enumerate(HOLT_W))
    return f"(VALUES {rows}) lags(k, w)"


@register(
    "orders_forecast_holt_backtest",
    f"""
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), slopes AS (
  SELECT day,
         (cents - lag(cents) OVER (ORDER BY day)) * 1000000
           // (day - lag(day) OVER (ORDER BY day)) AS s_micro
  FROM daily
), lvl AS (
  SELECT d.day,
         CAST(CAST(sum(CAST(lags.w AS HUGEINT) * y.cents) AS HUGEINT)
              * 1000000 // sum(CAST(lags.w AS HUGEINT)) AS BIGINT)
           AS level_micro
  FROM daily d
  JOIN {_holt_weights_values_sql()} ON TRUE
  JOIN daily y ON y.day = d.day - lags.k
  GROUP BY d.day
), trd AS (
  SELECT d.day,
         CAST(CAST(sum(CAST(l2.w AS HUGEINT) * s.s_micro) AS HUGEINT)
              // sum(CAST(l2.w AS HUGEINT)) AS BIGINT) AS trend_micro
  FROM daily d
  JOIN {_holt_weights_values_sql().replace('lags(k, w)', 'l2(k, w)')} ON TRUE
  JOIN slopes s ON s.day = d.day - l2.k AND s.s_micro IS NOT NULL
  GROUP BY d.day
), evald AS (
  SELECT a.cents AS actual, o.cents AS last_y,
         lvl.level_micro + {HOLT_H} * coalesce(trd.trend_micro, 0) AS yhat_micro
  FROM daily o
  JOIN daily a ON a.day = o.day + {HOLT_H}
  JOIN lvl ON lvl.day = o.day
  LEFT JOIN trd ON trd.day = o.day
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(abs(actual * 1000000 - yhat_micro)) AS HUGEINT) AS sae_h,
         CAST(sum(CAST(abs(actual - last_y) AS HUGEINT) * 1000000) AS HUGEINT)
           AS sae_n
  FROM evald
)
SELECT n_eval,
       CAST(sae_h // n_eval AS BIGINT) AS mae_holt_micro,
       CAST(sae_n // n_eval AS BIGINT) AS mae_naive_micro,
       round(CAST(sae_n - sae_h AS DOUBLE) * 100.0 / CAST(sae_n AS DOUBLE), 6)
         + 0.0 AS improvement_pct
FROM agg
""",
    doc=f"Holt linear-trend forecast backtest at horizon {HOLT_H} days: "
    "exponential-smoothing level + trend from PRE-COMPUTED integer weights "
    f"(alpha 0.3, {HOLT_LAGS} lags), forecasts and MAEs in exact integer "
    "micro-cents, persistence-naive baseline alongside",
)
def orders_forecast_holt_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing (public, Holt 1957),
    backtested against the persistence forecast — the model tier above
    `orders_forecast_naive_backtest`'s seasonal baseline. The recursive
    smoother is unrolled into its closed WEIGHTED-SUM form truncated at
    :data:`HOLT_LAGS` lags (tail mass < 5e-5): level(t) = Σ w_k·y_{{t−k}}
    / Σ w_k over the PRESENT lags, trend(t) = the same smoother over
    day-gap-normalized first differences, forecast = level + H·trend.
    The weights are integers precomputed ONCE in Python (round(α(1−α)^k
    ·10^12)) and shipped as literals to both engines — no runtime float
    powers, so level/trend/forecast/MAE are all exact integer micro-cent
    arithmetic (decimal128 numerators, one floor division each); the only
    float is the final improvement percentage.

    Scale shape: orders aggregate once to the calendar-bounded day frame;
    the lag joins fan that frame ×:data:`HOLT_LAGS` against a broadcast
    weight table and re-aggregate — bounded by calendar × lags, never
    order count. The slope window is the established partition-less
    day-frame guard.

    Reference analog: none (extension surface — forecasting family,
    beside naive/Croston/Theil-Sen).
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    # SCALE GUARD: partition-less window over the daily frame only.
    # Integer `div` end-to-end (r6 ADVICE): the old double `/` + bigint
    # cast was exact only below 2^53 — daily micro-slopes pass that around
    # sf100 — while DuckDB's `//` on BIGINT is always exact; both engines
    # now truncate identical integers toward zero at any scale.
    w_day = Window.orderBy("day")
    slopes = daily.select(
        "day",
        (F.col("cents") - F.lag("cents").over(w_day)).alias("dc"),
        (F.col("day") - F.lag("day").over(w_day)).alias("dd"),
    ).select("day", F.expr("(dc * 1000000) div dd").alias("s_micro"))
    lags = local_frame(spark, list(enumerate(HOLT_W)), "k bigint, w bigint")
    dec = "decimal(38,0)"
    lvl = (
        daily.select("day")
        .crossJoin(F.broadcast(lags))
        .join(
            daily.withColumnsRenamed({"day": "yday", "cents": "y"}),
            F.expr("yday = day - k"),
        )
        .groupBy("day")
        .agg(
            F.expr(
                f"CAST(CAST(sum(CAST(w AS {dec}) * y) AS {dec}) * 1000000"
                f" div sum(CAST(w AS {dec})) AS BIGINT)"
            ).alias("level_micro")
        )
    )
    trd = (
        daily.select("day")
        .crossJoin(F.broadcast(lags))
        .join(
            slopes.where(F.col("s_micro").isNotNull()).withColumnsRenamed(
                {"day": "sday"}
            ),
            F.expr("sday = day - k"),
        )
        .groupBy("day")
        .agg(
            F.expr(
                f"CAST(CAST(sum(CAST(w AS {dec}) * s_micro) AS {dec})"
                f" div sum(CAST(w AS {dec})) AS BIGINT)"
            ).alias("trend_micro")
        )
    )
    evald = (
        daily.withColumnsRenamed({"day": "oday", "cents": "last_y"})
        .join(daily.selectExpr("day + 0 AS aday", "cents AS actual"),
              F.expr(f"aday = oday + {HOLT_H}"))
        .join(lvl.withColumnsRenamed({"day": "lday"}), F.expr("lday = oday"))
        .join(
            trd.withColumnsRenamed({"day": "tday"}),
            F.expr("tday = oday"),
            "left",
        )
        .select(
            "actual",
            "last_y",
            (
                F.col("level_micro")
                + HOLT_H * F.coalesce(F.col("trend_micro"), F.lit(0))
            ).alias("yhat_micro"),
        )
    )
    agg = evald.agg(
        F.count("*").cast("bigint").alias("n_eval"),
        # cast BEFORE the sum: per-day errors reach ~1e16 micro at sf1 and
        # a long accumulator overflows around 2 400 of them (ANSI raises;
        # measured at sf1) — the decimal128 accumulator matches the
        # oracle's HUGEINT sum
        F.sum(
            F.abs(F.col("actual") * 1000000 - F.col("yhat_micro")).cast(dec)
        ).alias("sae_h"),
        F.sum(F.abs(F.col("actual") - F.col("last_y")).cast(dec) * 1000000)
        .cast(dec)
        .alias("sae_n"),
    )
    return agg.select(
        "n_eval",
        F.expr("CAST(sae_h div n_eval AS BIGINT)").alias("mae_holt_micro"),
        F.expr("CAST(sae_n div n_eval AS BIGINT)").alias("mae_naive_micro"),
        (
            F.round(
                (F.col("sae_n") - F.col("sae_h")).cast("double")
                * 100.0
                / F.col("sae_n").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("improvement_pct"),
    )


#: changepoint detection: minimum segment length (days) on either side
CHGPT_MIN_SEG = 30

_DAILY_CENTS_SQL = """
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
)"""

#: the binseg statistic over any (day, cents) frame — SHARED by the batch
#: operator and the streaming monitor (streaming/jobs.py) so the two can
#: never drift apart (the EMD-tail discipline). Expects a `daily` CTE.
CHGPT_TAIL_SQL = f""", cum AS (
  SELECT day,
         row_number() OVER (ORDER BY day) AS i,
         CAST(sum(cents) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS sl,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(cents) OVER () AS BIGINT) AS s
  FROM daily
), scored AS (
  SELECT day, i AS n_left, n - i AS n_right, sl AS sum_left, s - sl AS sum_right,
         CAST(CAST(sl AS HUGEINT) * (n - i) - CAST(s - sl AS HUGEINT) * i
              AS HUGEINT) AS gap_num
  FROM cum
  WHERE i >= {CHGPT_MIN_SEG} AND n - i >= {CHGPT_MIN_SEG}
)
, keyed AS (
  SELECT *, gap_num * 1000 // (CAST(n_left AS HUGEINT) * n_right) AS d_milli
  FROM scored
)
SELECT day AS split_day, n_left, n_right,
       CAST(CAST(sum_left AS HUGEINT) * 1000000 // n_left AS BIGINT)
         AS mean_left_micro,
       CAST(CAST(sum_right AS HUGEINT) * 1000000 // n_right AS BIGINT)
         AS mean_right_micro
FROM keyed
ORDER BY d_milli * d_milli * n_left * n_right DESC, split_day
LIMIT 1
"""


@register(
    "orders_changepoint_binseg",
    _DAILY_CENTS_SQL + CHGPT_TAIL_SQL,
    doc="single-changepoint binary segmentation on daily revenue: argmax "
    "of the between-segment SS via the milli-cent-quantized mean gap — "
    "d = (S_L*n_R - S_R*n_L)*1000 // (n_L*n_R) exact in both engines, "
    "key = d^2*n_L*n_R in wide integers (internal, never emitted), "
    "min-segment guard on both sides, deterministic day tie-break",
)
def orders_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first split of binary segmentation (Scott & Knott / the
    CUSUM-adjacent changepoint family): over the daily revenue series,
    pick the day whose prefix/suffix split maximizes the between-segment
    sum of squares, via its mean-gap form BSS(k) = (n_L·n_R/n)·(μ_L−μ_R)²
    — maximized exactly as the integer key (S_L·n_R − S_R·n_L)² //
    (n_L·n_R) (HUGEINT/decimal128 cross-multiplication, one floor
    division per candidate, ties broken by earliest day — a total order,
    so both engines pick the identical split; the wide key is INTERNAL
    to the ORDER BY and never emitted, keeping every output column
    int64). Where `events_cusum_drift` ALARMS on drift, this LOCATES the
    structural break; running it recursively on each side yields the
    full binseg tree.

    Scale shape: orders aggregate once to the calendar-bounded day frame
    (the only corpus-sized shuffle); cumulative sums, the candidate
    scores, and the top-1 cut all run over that ≤~2,400-row frame
    (partition-less windows over the bounded day frame — the established
    stats-family guard), with the top-1 a TakeOrderedAndProject, never a
    global sort of data rows.

    Reference analog: none (extension surface — drift/monitoring family,
    beside events_cusum_drift / events_emd_drift; the day-domain member
    of the segmentation tier).
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    return changepoint_from_daily(daily)


def changepoint_from_daily(daily: DataFrame) -> DataFrame:
    """The Spark half of the shared binseg statistic: ``daily`` carries
    (day, cents); returns the 1-row best-split frame. SHARED with
    `streaming_changepoint_monitor` (the oracle side shares
    :data:`CHGPT_TAIL_SQL`), so batch and live can never drift apart.
    SCALE GUARD: every window runs over the calendar-bounded day frame
    only."""
    # SCALE GUARD: partition-less windows over the bounded daily frame.
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("i"),
        F.sum("cents").over(w_cum).cast("bigint").alias("sl"),
        F.count("*").over(w_all).cast("bigint").alias("n"),
        F.sum("cents").over(w_all).cast("bigint").alias("s"),
    )
    dec = "decimal(38,0)"
    scored = cum.where(
        (F.col("i") >= CHGPT_MIN_SEG) & (F.col("n") - F.col("i") >= CHGPT_MIN_SEG)
    ).select(
        F.col("day").alias("split_day"),
        F.col("i").alias("n_left"),
        (F.col("n") - F.col("i")).alias("n_right"),
        F.col("sl").alias("sum_left"),
        (F.col("s") - F.col("sl")).alias("sum_right"),
        F.expr(
            f"CAST(sl AS {dec}) * (n - i) - CAST(s - sl AS {dec}) * i"
        ).alias("gap_num"),
    )
    # The mean gap floors to MILLI-cents first (fits int64 at any SF —
    # it's a mean, not a sum), then squares back up in decimal128 for the
    # BSS-proportional key d²·n_L·n_R. Spark's `div` returns LONG, so the
    # quotient must be the int64-sized quantity (the repo's wide-quotient
    # trap: gap²//(n_L·n_R) wrapped negative at sf0.01 and flipped the
    # argmax). Quantization can reorder candidates only when their BSS
    # differ by < 1 milli-cent of mean gap; the day tie-break keeps the
    # choice total and cross-engine identical either way.
    keyed = scored.withColumn(
        "d_milli",
        F.expr(f"(gap_num * 1000) div (CAST(n_left AS {dec}) * n_right)"),
    )
    key = F.expr(f"CAST(d_milli AS {dec}) * d_milli * n_left * n_right")
    top = keyed.orderBy(key.desc(), "split_day").limit(1)
    return top.select(
        "split_day",
        "n_left",
        "n_right",
        F.expr(
            f"CAST(CAST(sum_left AS {dec}) * 1000000 div n_left AS BIGINT)"
        ).alias("mean_left_micro"),
        F.expr(
            f"CAST(CAST(sum_right AS {dec}) * 1000000 div n_right AS BIGINT)"
        ).alias("mean_right_micro"),
    )


_HW_SEAS_CTES = """, ma AS (
  SELECT day, cents,
         CASE WHEN count(*) OVER w = 7
              THEN CAST(sum(cents) OVER w AS BIGINT) * 1000000 // 7
         END AS trend_micro
  FROM daily
  WINDOW w AS (ORDER BY day RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), det AS (
  SELECT day, cents * 1000000 - trend_micro AS detr, day % 7 AS dow
  FROM ma
), seas AS (
  SELECT dow,
         CAST(CAST(sum(detr) AS HUGEINT) // count(*) AS BIGINT) AS s_micro
  FROM det WHERE detr IS NOT NULL GROUP BY dow
), ctr AS (
  SELECT CAST(CAST(sum(s_micro) AS HUGEINT) // count(*) AS BIGINT) AS m
  FROM seas
), adj AS (
  SELECT dow, CAST(s_micro - m AS BIGINT) AS seasonal_micro FROM seas, ctr
)"""


@register(
    "orders_forecast_hw_backtest",
    _DAILY_CENTS_SQL
    + _HW_SEAS_CTES
    + f""", deseas AS (
  SELECT d.day,
         CAST(d.cents * 1000000 - coalesce(a.seasonal_micro, 0) AS BIGINT)
           AS ym
  FROM daily d LEFT JOIN adj a ON d.day % 7 = a.dow
), slopes AS (
  SELECT day,
         (ym - lag(ym) OVER (ORDER BY day))
           // (day - lag(day) OVER (ORDER BY day)) AS s_micro
  FROM deseas
), lvl AS (
  SELECT d.day,
         CAST(CAST(sum(CAST(lags.w AS HUGEINT) * y.ym) AS HUGEINT)
              // sum(CAST(lags.w AS HUGEINT)) AS BIGINT) AS level_micro
  FROM deseas d
  JOIN {_holt_weights_values_sql()} ON TRUE
  JOIN deseas y ON y.day = d.day - lags.k
  GROUP BY d.day
), trd AS (
  SELECT d.day,
         CAST(CAST(sum(CAST(l2.w AS HUGEINT) * s.s_micro) AS HUGEINT)
              // sum(CAST(l2.w AS HUGEINT)) AS BIGINT) AS trend_micro
  FROM deseas d
  JOIN {_holt_weights_values_sql().replace('lags(k, w)', 'l2(k, w)')} ON TRUE
  JOIN slopes s ON s.day = d.day - l2.k AND s.s_micro IS NOT NULL
  GROUP BY d.day
), evald AS (
  SELECT a.cents AS actual, sn.cents AS snaive,
         lvl.level_micro + {HOLT_H} * coalesce(trd.trend_micro, 0)
           + coalesce(sa.seasonal_micro, 0) AS yhat_micro
  FROM daily o
  JOIN daily a ON a.day = o.day + {HOLT_H}
  JOIN daily sn ON sn.day = o.day + {HOLT_H} - 7
  JOIN lvl ON lvl.day = o.day
  LEFT JOIN trd ON trd.day = o.day
  LEFT JOIN adj sa ON (o.day + {HOLT_H}) % 7 = sa.dow
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(abs(actual * 1000000 - yhat_micro)) AS HUGEINT) AS sae_hw,
         CAST(sum(CAST(abs(actual - snaive) AS HUGEINT) * 1000000) AS HUGEINT)
           AS sae_sn
  FROM evald
)
SELECT n_eval,
       CAST(sae_hw // n_eval AS BIGINT) AS mae_hw_micro,
       CAST(sae_sn // n_eval AS BIGINT) AS mae_snaive_micro,
       round(CAST(sae_sn - sae_hw AS DOUBLE) * 100.0 / CAST(sae_sn AS DOUBLE), 6)
         + 0.0 AS improvement_pct
FROM agg
""",
    doc="Holt-Winters additive backtest: deseasonalize by the centered "
    "weekly index (the seasonal_decompose statistic), run the unrolled "
    "integer-weight Holt smoother on the deseasonalized series, "
    "re-seasonalize the forecast, score MAE vs the seasonal-naive "
    "baseline — exact integer micro-cents end to end",
)
def orders_forecast_hw_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seasonality-aware top of the forecasting ladder (naive →
    Croston → Theil-Sen → Holt → HOLT-WINTERS): additive HW as
    deseasonalize → Holt → re-seasonalize, with every stage in the
    family's exact-integer discipline — the weekly index is
    `orders_seasonal_decompose`'s centered per-weekday mean of the
    detrended series (one floor division per weekday), the smoother is
    `orders_forecast_holt_backtest`'s unrolled weighted sum with the
    SAME precomputed integer weights (:data:`HOLT_W`), and the forecast
    adds back the target day-of-week's index. Scored against the
    honest baseline for a weekly-seasonal series: seasonal-naive
    (y_{{t+H−7}}), not plain persistence.

    Scale shape: orders aggregate once to the calendar-bounded day frame;
    everything after — the 7-day MA window, the weekday index, the
    ±:data:`HOLT_LAGS` lag joins against the broadcast weight table, the
    backtest join — runs on frames bounded by calendar × lags, never
    order count. The slope window is the established partition-less
    day-frame guard; slopes divide with integer `div` end to end (the
    r7 Holt lesson: double division loses exactness past 2^53).

    Reference analog: none (extension surface — forecasting family).
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    daily = cut(daily)
    # SCALE GUARD: all windows below run over the bounded daily frame.
    w_ma = Window.orderBy("day").rangeBetween(-3, 3)
    ma = daily.select(
        "day",
        "cents",
        F.when(
            F.count("*").over(w_ma) == 7,
            (F.sum("cents").over(w_ma).cast("bigint") * 1000000).cast(
                "bigint"
            ),
        ).alias("masum"),
    )
    det = ma.select(
        "day",
        (
            F.col("cents") * 1000000 - F.expr("masum div 7")
        ).alias("detr"),
        (F.col("day") % 7).alias("dow"),
    )
    dec = "decimal(38,0)"
    seas = (
        det.where(F.col("detr").isNotNull())
        .groupBy("dow")
        .agg(
            F.expr(
                f"CAST(CAST(sum(detr) AS {dec}) div count(*) AS BIGINT)"
            ).alias("s_micro")
        )
    )
    ctr = seas.agg(
        F.expr(
            f"CAST(CAST(sum(s_micro) AS {dec}) div count(*) AS BIGINT)"
        ).alias("m")
    )
    adj = seas.crossJoin(F.broadcast(ctr)).select(
        "dow", (F.col("s_micro") - F.col("m")).cast("bigint").alias("seasonal_micro")
    )
    adj = F.broadcast(adj)
    deseas = daily.join(adj, daily.day % 7 == adj.dow, "left").select(
        "day",
        (
            F.col("cents") * 1000000
            - F.coalesce("seasonal_micro", F.lit(0))
        )
        .cast("bigint")
        .alias("ym"),
    )
    deseas = cut(deseas)
    w_day = Window.orderBy("day")
    slopes = deseas.select(
        "day",
        (F.col("ym") - F.lag("ym").over(w_day)).alias("dy"),
        (F.col("day") - F.lag("day").over(w_day)).alias("dd"),
    ).select("day", F.expr("dy div dd").alias("s_micro"))
    lags = local_frame(spark, list(enumerate(HOLT_W)), "k bigint, w bigint")
    lvl = (
        deseas.select("day")
        .crossJoin(F.broadcast(lags))
        .join(
            deseas.withColumnsRenamed({"day": "yday", "ym": "y"}),
            F.expr("yday = day - k"),
        )
        .groupBy("day")
        .agg(
            F.expr(
                f"CAST(CAST(sum(CAST(w AS {dec}) * y) AS {dec})"
                f" div sum(CAST(w AS {dec})) AS BIGINT)"
            ).alias("level_micro")
        )
    )
    trd = (
        deseas.select("day")
        .crossJoin(F.broadcast(lags))
        .join(
            slopes.where(F.col("s_micro").isNotNull()).withColumnsRenamed(
                {"day": "sday"}
            ),
            F.expr("sday = day - k"),
        )
        .groupBy("day")
        .agg(
            F.expr(
                f"CAST(CAST(sum(CAST(w AS {dec}) * s_micro) AS {dec})"
                f" div sum(CAST(w AS {dec})) AS BIGINT)"
            ).alias("trend_micro")
        )
    )
    sa = F.broadcast(
        adj.withColumnsRenamed({"dow": "tdow", "seasonal_micro": "tseas"})
    )
    evald = (
        daily.withColumnsRenamed({"day": "oday", "cents": "ocents"})
        .join(
            daily.selectExpr("day + 0 AS aday", "cents AS actual"),
            F.expr(f"aday = oday + {HOLT_H}"),
        )
        .join(
            daily.selectExpr("day + 0 AS snday", "cents AS snaive"),
            F.expr(f"snday = oday + {HOLT_H} - 7"),
        )
        .join(lvl.withColumnsRenamed({"day": "lday"}), F.expr("lday = oday"))
        .join(
            trd.withColumnsRenamed({"day": "tday"}),
            F.expr("tday = oday"),
            "left",
        )
        .join(sa, F.expr(f"(oday + {HOLT_H}) % 7 = tdow"), "left")
        .select(
            "actual",
            "snaive",
            (
                F.col("level_micro")
                + HOLT_H * F.coalesce(F.col("trend_micro"), F.lit(0))
                + F.coalesce("tseas", F.lit(0))
            ).alias("yhat_micro"),
        )
    )
    agg = evald.agg(
        F.count("*").cast("bigint").alias("n_eval"),
        F.sum(
            F.abs(F.col("actual") * 1000000 - F.col("yhat_micro")).cast(dec)
        ).alias("sae_hw"),
        F.sum(F.abs(F.col("actual") - F.col("snaive")).cast(dec) * 1000000)
        .cast(dec)
        .alias("sae_sn"),
    )
    return agg.select(
        "n_eval",
        F.expr("CAST(sae_hw div n_eval AS BIGINT)").alias("mae_hw_micro"),
        F.expr("CAST(sae_sn div n_eval AS BIGINT)").alias("mae_snaive_micro"),
        (
            F.round(
                (F.col("sae_sn") - F.col("sae_hw")).cast("double")
                * 100.0
                / F.col("sae_sn").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("improvement_pct"),
    )


@register(
    "orders_mann_kendall_trend",
    """
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily
), s AS (
  SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                       WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat
  FROM daily a JOIN daily b ON b.day > a.day
), ties AS (
  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tie_corr
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY cents)
  WHERE t > 1
), v AS (
  SELECT CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_corr AS BIGINT)
           AS var_s_x18
  FROM nd, ties
)
SELECT n_days, s_stat, var_s_x18,
       round(CASE WHEN var_s_x18 <= 0 THEN 0.0
                  WHEN s_stat > 0
                  THEN (s_stat - 1) / sqrt(var_s_x18 / 18.0)
                  WHEN s_stat < 0
                  THEN (s_stat + 1) / sqrt(var_s_x18 / 18.0)
                  ELSE 0.0 END, 6) + 0.0 AS z_stat
FROM nd, s, v
""",
    doc="Mann-Kendall trend test on daily revenue: integer S over all "
    "day pairs, tie-corrected variance in exact x18 units, continuity-"
    "corrected z — the significance partner of orders_theilsen_trend",
)
def orders_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test over daily revenue — the
    nonparametric significance test whose slope estimate is
    ``orders_theilsen_trend`` (the pair is the standard hydrology/
    econometrics kit): S counts concordant minus discordant day pairs,
    Var(S) carries the tie correction, and the continuity-corrected
    ``z = (S∓1)/√Var(S)`` is the test statistic.

    Determinism: S and the tie-corrected variance are EXACT integers
    (variance kept in ×18 units so the only float ops are one sqrt and
    one division, single-expression, engine-identical); degenerate
    frames (all days tied) CASE-guard to z = 0 on both sides rather
    than dividing by zero under ANSI mode.

    Scale shape: identical to Theil-Sen — one orders aggregate to the
    calendar-bounded day frame, then the pair join and tie histogram
    run on that bounded frame (pairs ≈ days²/2, bounded by time span,
    never corpus size).

    Reference analog: none (extension surface — robust-statistics
    family).
    """
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
            .cast("long")
            .alias("day")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    nd = daily.groupBy().agg(F.count("*").cast("bigint").alias("n_days"))
    a, b = daily.alias("a"), daily.alias("b")
    s = a.join(b, F.col("b.day") > F.col("a.day")).agg(
        F.sum(
            F.when(F.col("b.cents") > F.col("a.cents"), 1)
            .when(F.col("b.cents") < F.col("a.cents"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    ties = (
        daily.groupBy("cents")
        .agg(F.count("*").cast("bigint").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.expr("t * (t - 1) * (2 * t + 5)")), F.lit(0)
            )
            .cast("bigint")
            .alias("tie_corr")
        )
    )
    v = nd.crossJoin(F.broadcast(ties)).select(
        F.expr("CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_corr AS BIGINT)")
        .alias("var_s_x18")
    )
    return (
        nd.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(v))
        .select(
            "n_days",
            "s_stat",
            "var_s_x18",
            (
                F.round(
                    F.expr(
                        "CASE WHEN var_s_x18 <= 0 THEN 0.0"
                        " WHEN s_stat > 0"
                        " THEN (s_stat - 1) / sqrt(var_s_x18 / 18.0)"
                        " WHEN s_stat < 0"
                        " THEN (s_stat + 1) / sqrt(var_s_x18 / 18.0)"
                        " ELSE 0.0 END"
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("z_stat"),
        )
    )
