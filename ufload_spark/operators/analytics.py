"""Aggregate / join / window / set-op breadth (SURVEY §2.3-2.7, build-plan
step 7).

The reference's own aggregate surface is thin (group-collect, distinct,
count, max-by — SURVEY §2.4); an analytics engine needs the full breadth, so
these queries exercise Spark's hash aggregates, broadcast vs shuffle joins,
window frames, rollup/cube grouping sets and set operations over the TPC-H-ish
fixtures — each with an exact DuckDB oracle.

Scale notes are per-query; the common rules: dimension tables (region,
nation, supplier, groups) are broadcast so fact scans never shuffle for
them; aggregates rely on map-side partial aggregation; no query collects to
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ufload_spark.functions.names import db_to_instance, file_to_db
from ufload_spark.lifetime import cut
from ufload_spark.operators.listing import BACKUPS_CTE, backups
from ufload_spark.functions.binning import suboctave_bin, suboctave_bin_sql
from ufload_spark.plans.registry import register
from ufload_spark.sources.tables import local_frame, read_parquet, spread, table


@register(
    "tpch_q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                   AS sum_qty,
       round(sum(l_extendedprice), 2)                              AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4)                                   AS avg_qty,
       round(avg(l_extendedprice), 4)                              AS avg_price,
       round(avg(l_discount), 4)                                   AS avg_disc,
       count(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 pricing summary: wide hash aggregate with partial agg",
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline aggregate. Single scan → partial agg per partition → one
    shuffle on a low-cardinality key (≤6 groups) → final agg. The shipdate
    predicate pushes to the parquet scan."""
    li = table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    doc="TPC-H Q3: 3-way join + agg + top-10",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join where the filtered customer side is small → broadcast;
    lineitem never shuffles for the customer join. Top-10 via
    TakeOrderedAndProject (no global sort materialization)."""
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
""",
    doc="TPC-H Q5: 6-way join, local-supplier condition, per-nation revenue",
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: region/nation/supplier are broadcast dims; the only
    shuffle is lineitem⋈orders on orderkey (both huge at scale — the
    bucketing candidate)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "top_customers_per_nation",
    """
SELECT n_name, c_custkey, c_acctbal, rnk FROM (
  SELECT n_name, c_custkey, c_acctbal,
         rank() OVER (PARTITION BY n_name
                      ORDER BY c_acctbal DESC, c_custkey) AS rnk
  FROM customer JOIN nation ON c_nationkey = n_nationkey
) WHERE rnk <= 3
""",
    doc="OP-WIN-1 generalization: top-k per group via rank",
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "c_custkey", "c_acctbal")
        .withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 3)
    )


@register(
    "orders_running_total",
    """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
""",
    doc="window frame: per-customer running revenue",
)
def orders_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@register(
    "order_gap_days",
    """
SELECT o_custkey, o_orderkey,
       date_diff('day',
                 lag(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS gap_days
FROM orders
""",
    doc="lag/lead analytics: days between consecutive orders per customer",
)
def order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
        .cast("long")
        .alias("gap_days"),
    )


@register(
    "agg_rollup_status_priority",
    """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    doc="grouping sets: rollup over status×priority",
)
def agg_rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "agg_cube_flags",
    """
SELECT l_returnflag, l_linestatus, count(*) AS n_items,
       round(sum(l_quantity), 2) AS total_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    doc="grouping sets: cube over returnflag×linestatus",
)
def agg_cube_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


@register(
    "distinct_parts_per_flag",
    """
SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps
FROM lineitem GROUP BY l_returnflag
""",
    doc="OP-AGG-2 distinct aggregate (two distinct columns → expand)",
)
def distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@register(
    "approx_distinct_parts",
    # HLL estimates are engine-specific, so the checkable contract is the
    # sketch's accuracy guarantee: the estimate must land within 3× the
    # requested rsd of the exact count (true for every group with margin).
    """
SELECT l_returnflag, true AS within_bound FROM lineitem GROUP BY l_returnflag
""",
    doc="approx_count_distinct (HLL) — scale path for distinct counting, "
    "checked against its accuracy bound vs the exact count",
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB exact distinct counts shuffle every key; HLL sketches keep
    the aggregation map-side and mergeable. The estimate itself is
    engine-specific, so the oracle checks the sketch CONTRACT: per group,
    |approx − exact| / exact within 3× the 2% target rsd. (The exact count
    here is the small-side verification cost, not part of the scale path.)"""
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    err = F.abs(F.col("approx_parts") - F.col("exact_parts")) / F.col("exact_parts")
    return agg.select("l_returnflag", (err <= 0.06).alias("within_bound"))


@register(
    "orders_approx_quantiles",
    # sketch estimates are engine-specific; the checkable contract is the
    # rank-error guarantee: each approx quantile must lie between the exact
    # quantiles ±2.5% of rank around its target
    """
SELECT o_orderstatus, true AS within_bound FROM orders GROUP BY o_orderstatus
""",
    doc="percentile_approx (KLL-style sketch) — scale path for quantiles, "
    "checked against its rank-error bound vs exact percentiles",
)
def orders_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB exact percentiles need a full sort or all values in one
    aggregation buffer; percentile_approx keeps a bounded mergeable sketch
    (map-side partials). The estimate is engine-specific, so the oracle
    checks the sketch CONTRACT per group: with accuracy=1000 the rank error
    is ≤0.1%, so each approx quantile q must land between the exact
    quantiles at q∓2.5% rank — a generous envelope that still catches a
    broken sketch. (Exact percentiles here are verification cost only.)"""
    li = table(spark, sf_dir, "orders")
    qs = [0.25, 0.5, 0.75]
    lo = [q - 0.025 for q in qs]
    hi = [q + 0.025 for q in qs]
    agg = li.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", qs, 1000).alias("approx"),
        F.percentile("o_totalprice", F.array(*[F.lit(x) for x in lo])).alias("lo"),
        F.percentile("o_totalprice", F.array(*[F.lit(x) for x in hi])).alias("hi"),
    )
    within = F.lit(True)
    for i in range(len(qs)):
        a = F.element_at("approx", i + 1)
        within = (
            within
            & (a >= F.element_at("lo", i + 1))
            & (a <= F.element_at("hi", i + 1))
        )
    return agg.select("o_orderstatus", within.alias("within_bound"))


@register(
    "customers_without_orders",
    """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
    doc="OP-SET-2/OP-JOIN-2 shape: anti join on real fact table",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "segment_set_ops",
    """
SELECT c_custkey FROM customer WHERE c_mktsegment IN ('BUILDING', 'FURNITURE')
EXCEPT
SELECT c_custkey FROM customer WHERE c_acctbal < 1000
INTERSECT
SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0
""",
    doc="OP-SET-1/2: union-shape include, except, intersect (distinct semantics)",
)
def segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL EXCEPT/INTERSECT bind INTERSECT tighter: A EXCEPT (B INTERSECT C).

    Mirrors the reference's listing union + exclusion dict surgery
    (cli/main.py:245-282) with proper distinct set semantics."""
    c = table(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment").isin("BUILDING", "FURNITURE")).select("c_custkey")
    b = c.where(F.col("c_acctbal") < 1000).select("c_custkey")
    d = c.where(F.col("c_custkey") % 2 == 0).select("c_custkey")
    return a.subtract(b.intersect(d))


@register(
    "orders_above_avg",
    """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
""",
    doc="OP-FIL-8 scalar-subquery predicate",
)
def orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    avg = o.agg(F.avg("o_totalprice").alias("avg_price"))
    return (
        o.join(F.broadcast(avg))
        .where(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "stale_dbs_to_drop",
    BACKUPS_CTE
    + """
, dbs AS (
  SELECT concat('pfx_', string_split(name, '-')[1], '_',
                string_split(name, '-')[2], '_',
                substr(string_split(name, '-')[3], 1, 4)) AS db_name,
         mtime, name
  FROM backups
), keyed AS (
  SELECT db_name,
         regexp_replace(substr(db_name, 5), '_[0-9]{8}_[0-9]{4}$', '') AS instance,
         mtime, name
  FROM dbs
)
SELECT instance, db_name, rn FROM (
  SELECT instance, db_name,
         row_number() OVER (PARTITION BY instance
                            ORDER BY mtime DESC, name DESC) AS rn
  FROM keyed
) WHERE rn > 1
""",
    doc="OP-JOIN-5 catalog clean: drop all but the newest DB per instance",
)
def stale_dbs_to_drop(
    spark: SparkSession, sf_dir: str, instances=None
) -> DataFrame:
    """The reference's post-restore cleanup: derive each DB's instance, keep
    the newest, drop the rest (db.py:193-199,660-677). Composition of
    OP-FN-1 → OP-FN-2 → OP-WIN-1 over the catalog.

    ``instances`` pre-filters the LISTING's instance column (the cheap
    concat, pushable to the scan) instead of the caller filtering the
    DERIVED instance after the window: a ``.where(derived.isin(...))``
    on the output makes Catalyst inline the whole
    ``db_to_instance∘file_to_db`` expression tree into a per-source-row
    filter — measured 25 s vs 4 s on the sf1 fixture for the same
    5-instance result. The derived and listing instance agree on every
    well-formed name by construction, which is what the oracles assume
    too."""
    b = backups(spark, sf_dir)
    if instances is not None:
        b = b.where(F.col("instance").isin(*list(instances)))
    dbs = b.select(
        file_to_db(F.col("name"), "pfx").alias("db_name"), "mtime", "name"
    )
    keyed = dbs.select(
        "db_name",
        db_to_instance(F.col("db_name"), "pfx").alias("instance"),
        "mtime",
        "name",
    )
    w = Window.partitionBy("instance").orderBy(F.desc("mtime"), F.desc("name"))
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select("instance", "db_name", "rn")
    )


@register(
    "tpch_q6_forecast_revenue",
    """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6: pure filter + scalar aggregate, everything pushed to scan",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pushdown showcase: every predicate reaches the parquet reader
    (PushedFilters), two columns read, no shuffle at all — partial sums
    combine into one scalar."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "tpch_q10_returned_items",
    """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    doc="TPC-H Q10: returned-item revenue per customer, join + agg + top-20",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join on orderkey (the one real shuffle), nation broadcast,
    top-20 via TakeOrderedAndProject."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q14_promo_effect",
    """
SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
""",
    doc="TPC-H Q14: promo revenue share — conditional aggregate over a join",
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part is the small side → broadcast; the filtered lineitem scan never
    shuffles. One conditional-sum scalar aggregate."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), disc).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(disc), 4).alias(
                "promo_revenue_pct"
            )
        )
    )


@register(
    "tpch_q18_large_orders",
    """
SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(sum(l_quantity), 2) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 210
)
GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
    doc="TPC-H Q18: large-quantity orders — agg-derived semi-join filter",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HAVING-subquery's aggregate IS the answer: sum(l_quantity) per
    order is computed once, the > 210 filter keeps the qualifying orders
    (tiny), and the outer query's re-aggregation is redundant because
    orderkey is unique per group — so ``total_qty`` is just ``q`` carried
    through the orders/customer joins. Lineitem is scanned and shuffled
    EXACTLY ONCE (the r6 rewrite dropped the second pass + semi-join +
    regroup: 4.1 s → 2.6 s at sf1, identical rows); at scale a bucketed
    layout on orderkey removes the one remaining lineitem exchange."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 210)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("q"), 2).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "tpch_q13_custdist",
    """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) GROUP BY c_count
""",
    doc="TPC-H Q13: customer order-count distribution — outer join + "
    "double aggregation",
)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join (customers without orders count 0) then a
    distribution over the counts. Two shuffles: custkey, then the tiny
    count-valued key — the second input is one row per customer, already
    small."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@register(
    "orders_pivot_priority",
    "SELECT o_orderstatus, "
    + ", ".join(
        f"""CAST(count(CASE WHEN o_orderpriority = '{p}' THEN 1 END) AS BIGINT)
           AS "p{i + 1}" """
        for i, p in enumerate(_PRIORITIES)
    )
    + " FROM orders GROUP BY o_orderstatus",
    doc="PIVOT: order counts cross-tabulated status × priority",
)
def orders_pivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``groupBy().pivot()`` with explicit pivot values — compiles to one
    hash aggregate with conditional counts (no per-value scans); listing
    the values keeps the plan static, no discovery pass."""
    o = table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", list(_PRIORITIES))
        .count()
    )
    renamed = piv.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(f"p{i + 1}")
            for i, p in enumerate(_PRIORITIES)
        ],
    )
    return renamed


@register(
    "parts_unpivot_metrics",
    """
SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
""",
    doc="UNPIVOT/melt: wide part metrics to long (metric, value) rows",
)
def parts_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``unpivot`` (melt) — the wide→long reshape feature pipelines use
    before generic per-metric aggregation. Narrow map, rows × n_metrics."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice"),
    )
    return p.unpivot(
        "p_partkey", ["p_size", "p_retailprice"], "metric", "value"
    )


@register(
    "supplier_acctbal_percentiles",
    """
SELECT n_nationkey % 5 AS bucket,
       round(quantile_cont(s_acctbal, 0.25), 4) AS p25,
       round(quantile_cont(s_acctbal, 0.50), 4) AS p50,
       round(quantile_cont(s_acctbal, 0.75), 4) AS p75
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_nationkey % 5
""",
    doc="exact interpolated percentiles per group (percentile ≡ quantile_cont)",
)
def supplier_acctbal_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — identical definition in
    Spark's ``percentile`` and DuckDB's ``quantile_cont``). Exact
    percentile needs the group's values together (sort within group); the
    scale path swaps in ``percentile_approx`` with mergeable sketches."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    j = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        (F.col("n_nationkey") % 5).alias("bucket"), "s_acctbal"
    )
    return j.groupBy("bucket").agg(
        F.round(F.expr("percentile(s_acctbal, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(s_acctbal, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(s_acctbal, 0.75)"), 4).alias("p75"),
    )


@register(
    "orders_stats_per_status",
    """
SELECT o_orderstatus,
       round(stddev_samp(o_totalprice), 2) AS sd_price,
       round(var_samp(o_totalprice) / 1000000, 2) AS var_price_m,
       round(corr(o_totalprice, CAST(epoch(o_orderdate) AS DOUBLE)), 6) AS corr_price_date,
       round(covar_samp(o_totalprice, CAST(epoch(o_orderdate) AS DOUBLE)) / 1000000, 2)
         AS covar_price_date_m
FROM orders GROUP BY o_orderstatus
""",
    doc="statistical aggregates: stddev/variance/correlation/covariance",
)
def orders_stats_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates — all algebraic (sum/sum²/sum-of-products
    partials), so they combine map-side like any sum at 100 TB."""
    o = table(spark, sf_dir, "orders")
    epoch = F.unix_timestamp("o_orderdate").cast("double")
    # second moments reach ~1e10 where engine summation-order ulps exceed a
    # 2-dp rounding unit — report variance/covariance in millions instead
    return o.groupBy("o_orderstatus").agg(
        F.round(F.stddev_samp("o_totalprice"), 2).alias("sd_price"),
        F.round(F.var_samp("o_totalprice") / 1e6, 2).alias("var_price_m"),
        F.round(F.corr(F.col("o_totalprice"), epoch), 6).alias("corr_price_date"),
        F.round(F.covar_samp(F.col("o_totalprice"), epoch) / 1e6, 2).alias(
            "covar_price_date_m"
        ),
    )


@register(
    "orders_date_dimensions",
    """
SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
       isodow(o_orderdate) AS dow_iso,
       count(*) AS n_orders,
       strftime(min(o_orderdate + INTERVAL 30 DAY), '%Y-%m-%d') AS first_due
FROM orders GROUP BY 1, 2, 3
""",
    doc="date-function pack: year/quarter/ISO weekday extraction + date math",
)
def orders_date_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar dimension derivation (the group keys every reporting
    rollup uses) plus interval arithmetic — all JVM-side date functions.
    ``weekday()+1`` is the ISO day-of-week DuckDB's ``isodow`` returns."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        (F.weekday("o_orderdate") + 1).alias("dow_iso"),
    ).agg(
        F.count("*").alias("n_orders"),
        # dates travel as strings: pandas widens DATE to midnight
        # timestamps, which would sham-mismatch the comparator
        F.date_format(
            F.min(F.date_add(F.col("o_orderdate").cast("date"), 30)), "yyyy-MM-dd"
        ).alias("first_due"),
    )


HIST_LO, HIST_HI, HIST_BUCKETS = 0.0, 600_000.0, 12
_HIST_W = (HIST_HI - HIST_LO) / HIST_BUCKETS


@register(
    "orders_price_histogram",
    f"""
SELECT CAST(least({HIST_BUCKETS - 1},
            greatest(0, floor((o_totalprice - {HIST_LO}) / {_HIST_W}))) AS INT)
         AS bucket,
       count(*) AS n_orders,
       round(min(o_totalprice), 2) AS lo_price,
       round(max(o_totalprice), 2) AS hi_price
FROM orders GROUP BY 1
""",
    doc=f"histogram binning: {HIST_BUCKETS} fixed-width price buckets via "
    "pure arithmetic (one codegen hash aggregate)",
)
def orders_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution profiling as one aggregate: the bucket id is plain
    arithmetic (floor over a fixed grid, edges clamped), so the whole
    histogram is a single map-side-combined hash aggregate — no sort, no
    window, and the same expression text works in both engines. The
    data-adaptive variant (equi-depth) is `supplier_acctbal_percentiles`/
    `orders_approx_quantiles`; fixed-width is the streaming-friendly one
    (mergeable across partitions and batches)."""
    o = table(spark, sf_dir, "orders")
    bucket = F.least(
        F.lit(HIST_BUCKETS - 1),
        F.greatest(
            F.lit(0), F.floor((F.col("o_totalprice") - HIST_LO) / _HIST_W)
        ),
    ).cast("int")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("lo_price"),
        F.round(F.max("o_totalprice"), 2).alias("hi_price"),
    )


@register(
    "orders_trailing_revenue",
    """
SELECT o_orderkey, o_orderstatus,
       CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS day_no,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_orderstatus
         ORDER BY CAST(epoch(o_orderdate) // 86400 AS BIGINT)
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS trailing_7d
FROM orders WHERE o_custkey % 20 = 0
""",
    doc="RANGE-frame window: per-status trailing-7-day revenue — value-"
    "based frame bounds, not row counts",
)
def orders_trailing_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RANGE frame surface (every other window here uses ROWS): the
    frame holds all peers within 6 DAYS of the current row's date, however
    many rows that is — the semantics rolling business metrics actually
    want (a ROWS frame silently under-counts on dense days). Ordering is
    the integer day number; one shuffle on the partition key. DuckDB
    executes the identical frame spec."""
    o = table(spark, sf_dir, "orders").where(F.col("o_custkey") % 20 == 0)
    day_no = (F.unix_timestamp("o_orderdate") / 86400).cast("long")
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy(day_no)
        .rangeBetween(-6, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        day_no.alias("day_no"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_7d"),
    )


@register(
    "orders_rank_functions",
    """
SELECT o_orderkey, o_orderstatus,
       ntile(4) OVER w AS price_quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       dense_rank() OVER w AS drank
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
""",
    doc="ranking-function surface: ntile / percent_rank / cume_dist / "
    "dense_rank over one per-status window",
)
def orders_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining SQL ranking functions in one pass — quartile bucketing
    (ntile), relative rank (percent_rank), cumulative distribution
    (cume_dist) and gap-free ranking (dense_rank) — all over a single
    per-status window, so the whole quartet costs ONE exchange + one
    partition-local sort. The order key carries o_orderkey as tiebreak:
    ntile's bucket boundaries depend on absolute row position, so a
    nondeterministic order under ties would diverge between engines.
    Ratios are exact rationals of row counts, rounded identically."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.dense_rank().over(w).alias("drank"),
    )


@register(
    "lineitem_ols_price_model",
    """
WITH q AS (
  SELECT l_returnflag,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
  FROM lineitem
), sums AS (
  SELECT l_returnflag,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(x*y) AS HUGEINT) AS sxy,
         CAST(sum(x*x) AS HUGEINT) AS sxx, CAST(sum(y*y) AS HUGEINT) AS syy
  FROM q GROUP BY l_returnflag
), comps AS (
  SELECT l_returnflag, n, sx, sy,
         CAST(n*sxy - sx*sy AS DOUBLE) AS cov_n,
         CAST(n*sxx - sx*sx AS DOUBLE) AS varx_n,
         CAST(n*syy - sy*sy AS DOUBLE) AS vary_n
  FROM sums
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       round(cov_n / varx_n / 100, 6) + 0.0 AS slope,
       round((CAST(sy AS DOUBLE) - (cov_n / varx_n) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) / 100, 6) + 0.0 AS intercept,
       round(cov_n * cov_n / (varx_n * vary_n), 6) + 0.0 AS r2
FROM comps
""",
    doc="closed-form OLS (price ~ quantity) per return flag: exact integer "
    "sufficient statistics in one grouped aggregate, decimal128 normal-"
    "equation combination, slope/intercept in currency units and R^2",
)
def lineitem_ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear regression at scale the closed-form way: one aggregation pass
    collects the exact sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²)
    per group and the normal equations solve in the projection — no
    gradient loop, no second scan. Quantities and prices quantize exactly
    (whole units / cents via the half-up ``floor(v+0.5)`` both engines
    share), so every sum is exact — Σx/Σy in int64, the product sums
    (Σxy, Σx², Σy²) in decimal128 because Σy² wraps int64 past sf≈0.125 —
    the same order-free-reduction discipline as `embedding_pca_power` and
    `graph_pagerank_purchases` — and the n·Σxy − ΣxΣy combinations are
    computed in exact decimal128 before ONE final float division,
    rounded on both engines. Slope/intercept are reported back in currency
    units (cents → /100).

    Scale shape: one shuffle (the groupBy with map-side partials —
    sufficient statistics are the textbook algebraic aggregate); adding
    regressors grows the statistics vector O(d²), not the scan count, and
    at d ≤ a few dozen the solve stays a driver-free projection (beyond
    that it becomes the PCA Gramian shape). R² doubles as the model-audit
    metric a feature pipeline gates on.

    Reference analog: none — extension surface (the training-data brief's
    quality-scoring family: a one-pass linear fit is the standard cheap
    signal/leakage probe over tabular features).
    """
    li = table(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_quantity") + 0.5).cast("long")
    y = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    dec = "decimal(38,0)"
    # The product sums run in decimal128, mirroring the oracle's HUGEINT:
    # Σy² alone is ~10^14 per row × millions of rows per group, which
    # wraps int64 past sf≈0.125 (silently, with ANSI off). Σx/Σy stay
    # int64-exact at any plausible scale (≤ ~10^7 cents per row).
    xd = F.col("x").cast(dec)
    yd = F.col("y").cast(dec)
    sums = (
        li.select("l_returnflag", x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(xd * yd).alias("sxy"),
            F.sum(xd * xd).alias("sxx"),
            F.sum(yd * yd).alias("syy"),
        )
    )
    n, sx, sy, sxy, sxx, syy = (
        F.col(c).cast(dec) for c in ("n", "sx", "sy", "sxy", "sxx", "syy")
    )
    cov_n = (n * sxy - sx * sy).cast("double")
    varx_n = (n * sxx - sx * sx).cast("double")
    vary_n = (n * syy - sy * sy).cast("double")
    slope_c = cov_n / varx_n  # cents per unit
    return sums.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        (F.round(slope_c / 100, 6) + F.lit(0.0)).alias("slope"),
        (
            F.round(
                (sy.cast("double") - slope_c * sx.cast("double"))
                / F.col("n").cast("double")
                / 100,
                6,
            )
            + F.lit(0.0)
        ).alias("intercept"),
        (F.round(cov_n * cov_n / (varx_n * vary_n), 6) + F.lit(0.0)).alias(
            "r2"
        ),
    )


#: market-basket thresholds: an item/pair must appear in >= this many
#: baskets (orders) to be reported — the a-priori support floor
BASKET_MINSUP = 2


@register(
    "basket_part_pairs",
    f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
), freq AS (
  SELECT part, CAST(count(*) AS BIGINT) AS sup FROM items GROUP BY part
  HAVING count(*) >= {BASKET_MINSUP}
), fitems AS (
  SELECT i.okey, i.part FROM items i JOIN freq USING (part)
), pairs AS (
  SELECT a.part AS part_a, b.part AS part_b, CAST(count(*) AS BIGINT) AS pair_sup
  FROM fitems a JOIN fitems b ON a.okey = b.okey AND a.part < b.part
  GROUP BY 1, 2 HAVING count(*) >= {BASKET_MINSUP}
), nb AS (
  SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_baskets FROM items
)
SELECT p.part_a, p.part_b, p.pair_sup,
       fa.sup AS sup_a, fb.sup AS sup_b,
       round(CAST(p.pair_sup AS DOUBLE) * n_baskets
             / (CAST(fa.sup AS DOUBLE) * fb.sup), 6) + 0.0 AS lift
FROM pairs p
JOIN freq fa ON p.part_a = fa.part
JOIN freq fb ON p.part_b = fb.part, nb
""",
    doc=f"market-basket mining: co-purchased part pairs with support >= "
    f"{BASKET_MINSUP} after a-priori single-item pruning; lift from exact "
    "integer supports",
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-pair mining over order baskets — the first two levels of
    a-priori (the part of FP-growth workloads that dominates retail/
    affinity pipelines). Items below the support floor are pruned BEFORE
    pairing (the a-priori property: an infrequent item cannot be in a
    frequent pair), so the within-basket self-join runs over the pruned
    item set; its output is bounded by Σ basket_size², never corpus², and
    TPC-H baskets are ≤ 7 items. Lift is computed from exact integer
    supports with one rounded division.

    Scale shape: one distinct + one support aggregate (shuffles on
    (okey, part) / part), the pruning semi-join (frequency side is
    corpus-derived — AQE decides broadcast, the curation-pipeline
    discipline), the basket self-join on okey, and the pair aggregate.
    At 100 TB the support floor is the knob: raising it shrinks the
    frequent-item set super-linearly (Zipfian supports), which is what
    keeps level-2 candidate volume bounded.

    Reference analog: none — extension surface (co-occurrence mining is
    the tabular sibling of the n-gram containment join).
    """
    return _basket_pair_stats(spark, sf_dir).select(
        "part_a",
        "part_b",
        "pair_sup",
        "sup_a",
        "sup_b",
        (
            F.round(
                F.col("pair_sup").cast("double")
                * F.col("n_baskets")
                / (F.col("sup_a").cast("double") * F.col("sup_b")),
                6,
            )
            + F.lit(0.0)
        ).alias("lift"),
    )


def _basket_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared level-2 a-priori frame: frequent (part_a < part_b) pairs with
    ``pair_sup``, per-item supports and the basket count — the common input
    of the association-rule and recommendation queries. Same plan shape as
    :func:`basket_part_pairs` (pruned self-join on okey, bounded by
    Σ basket_size²).

    NOTE (r11, measured): do NOT localCheckpoint ``fitems`` here — unlike
    the CF incidence (whose consumers sit above different exchanges), the
    self-join's two sides are the same canonical subtree and share one
    reused exchange, so the checkpoint only adds its own materialization:
    isolated sf1 medians 17.9 s (current) vs 21.0 s (fitems checkpointed)
    for part_recommendations_topn."""
    # spread on okey (guide §2.4/§2.5): parallelizes the 2-split
    # fixture scan and pre-satisfies the (okey, part) distinct AND the
    # within-basket okey self-join — one exchange instead of two.
    li = spread(
        table(spark, sf_dir, "lineitem"), "l_orderkey", src=(sf_dir, "lineitem")
    )
    items = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    # localCheckpoint the (okey, part) distinct (r12, guide §2.4/§5): four
    # consumers read it (both self-join sides, the support aggregate, the
    # basket count) and each planned its own scan+distinct pass above the
    # one reused spread exchange — the distinct CPU ran ~4x per query.
    # The checkpoint is items-sized (|distinct pairs| << lineitem); the
    # repartition AFTER it restores the hash(okey) clustering the
    # checkpoint erases (the r10 lesson: localCheckpoint destroys visible
    # outputPartitioning), so the self-join still rides one exchange.
    # This is NOT the r11 measured-negative (that checkpointed FITEMS
    # with no re-partition, adding materialization while forcing the
    # join to re-exchange); interleaved A/B at sf1: topn 8.97 -> 6.34 s.
    items = spread(cut(items), "okey")
    freq = (
        items.groupBy("part")
        .agg(F.count("*").alias("sup"))
        .where(F.col("sup") >= BASKET_MINSUP)
    )
    fitems = items.join(freq.select("part"), "part", "left_semi")
    a = fitems.alias("a")
    b = fitems.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.part") < F.col("b.part")),
        )
        .groupBy(
            F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b")
        )
        .agg(F.count("*").alias("pair_sup"))
        .where(F.col("pair_sup") >= BASKET_MINSUP)
    )
    n_baskets = items.select("okey").distinct().groupBy().agg(
        F.count("*").alias("n_baskets")
    )
    fa = freq.select(F.col("part").alias("part_a"), F.col("sup").alias("sup_a"))
    fb = freq.select(F.col("part").alias("part_b"), F.col("sup").alias("sup_b"))
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .crossJoin(F.broadcast(n_baskets))
    )


def _basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both rule directions (a ⇒ b AND b ⇒ a) from ONE pass over the pair
    frame: each pair row explodes into its two orientations row-locally,
    instead of a union of two selects — which would duplicate the whole
    mining subtree (scan, distinct, self-join, aggregates) in the plan."""
    stats = _basket_pair_stats(spark, sf_dir)
    both = F.explode(
        F.array(
            F.struct(
                F.col("part_a").alias("antecedent"),
                F.col("part_b").alias("consequent"),
                F.col("sup_a").alias("sup_ante"),
                F.col("sup_b").alias("sup_cons"),
            ),
            F.struct(
                F.col("part_b").alias("antecedent"),
                F.col("part_a").alias("consequent"),
                F.col("sup_b").alias("sup_ante"),
                F.col("sup_a").alias("sup_cons"),
            ),
        )
    ).alias("r")
    return stats.select(both, "pair_sup", "n_baskets").select(
        "r.*", "pair_sup", "n_baskets"
    )


_BASKET_PAIRS_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
), freq AS (
  SELECT part, CAST(count(*) AS BIGINT) AS sup FROM items GROUP BY part
  HAVING count(*) >= {BASKET_MINSUP}
), fitems AS (
  SELECT i.okey, i.part FROM items i JOIN freq USING (part)
), pairs AS (
  SELECT a.part AS part_a, b.part AS part_b, CAST(count(*) AS BIGINT) AS pair_sup
  FROM fitems a JOIN fitems b ON a.okey = b.okey AND a.part < b.part
  GROUP BY 1, 2 HAVING count(*) >= {BASKET_MINSUP}
), nb AS (
  SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_baskets FROM items
), stats AS (
  SELECT p.part_a, p.part_b, p.pair_sup, fa.sup AS sup_a, fb.sup AS sup_b,
         n_baskets
  FROM pairs p
  JOIN freq fa ON p.part_a = fa.part
  JOIN freq fb ON p.part_b = fb.part, nb
)
"""


@register(
    "basket_association_rules",
    _BASKET_PAIRS_SQL
    + """
, rules AS (
  SELECT part_a AS antecedent, part_b AS consequent, pair_sup,
         sup_a AS sup_ante, sup_b AS sup_cons, n_baskets FROM stats
  UNION ALL
  SELECT part_b, part_a, pair_sup, sup_b, sup_a, n_baskets FROM stats
)
SELECT antecedent, consequent, pair_sup,
       round(CAST(pair_sup AS DOUBLE) / sup_ante, 6) + 0.0 AS confidence,
       round(CAST(pair_sup AS DOUBLE) * n_baskets
             / (CAST(sup_ante AS DOUBLE) * sup_cons), 6) + 0.0 AS lift
FROM rules
""",
    doc="directional association rules from frequent pairs: confidence "
    "pair_sup/sup(antecedent) and lift, both from exact integer supports",
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules (a ⇒ b and b ⇒ a) over the frequent
    pairs of :func:`basket_part_pairs`. Confidence is P(b|a) =
    pair_sup/sup_a and lift is confidence/P(b); both are single IEEE
    divisions of exact int64 supports, so the doubles are bit-identical
    across engines.

    Scale shape: identical to the pair miner (the union doubling is a
    row-local projection, no extra shuffle). The rule table is bounded by
    2× the frequent-pair count, which the support floor controls.

    Reference analog: none — extension surface.
    """
    rules = _basket_rules(spark, sf_dir)
    return rules.select(
        "antecedent",
        "consequent",
        "pair_sup",
        (
            F.round(F.col("pair_sup").cast("double") / F.col("sup_ante"), 6)
            + F.lit(0.0)
        ).alias("confidence"),
        (
            F.round(
                F.col("pair_sup").cast("double")
                * F.col("n_baskets")
                / (F.col("sup_ante").cast("double") * F.col("sup_cons")),
                6,
            )
            + F.lit(0.0)
        ).alias("lift"),
    )


#: item-item recommendations reported per antecedent part
RECO_TOP_N = 3


@register(
    "part_recommendations_topn",
    _BASKET_PAIRS_SQL
    + f"""
, rules AS (
  SELECT part_a AS antecedent, part_b AS consequent, pair_sup,
         sup_a AS sup_ante, sup_b AS sup_cons, n_baskets FROM stats
  UNION ALL
  SELECT part_b, part_a, pair_sup, sup_b, sup_a, n_baskets FROM stats
), scored AS (
  SELECT antecedent, consequent, pair_sup,
         round(CAST(pair_sup AS DOUBLE) * n_baskets
               / (CAST(sup_ante AS DOUBLE) * sup_cons), 6) + 0.0 AS lift
  FROM rules
), ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY antecedent
           ORDER BY lift DESC, pair_sup DESC, consequent) AS rank
  FROM scored
)
SELECT antecedent, consequent, pair_sup, lift, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {RECO_TOP_N}
""",
    doc=f"item-item collaborative filtering: top-{RECO_TOP_N} co-purchase "
    "recommendations per part ranked by lift with deterministic ties",
)
def part_recommendations_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item top-N recommendation lists: for every frequent part, the
    top-:data:`RECO_TOP_N` co-purchased parts ranked by lift. The rank
    window orders by ``(lift DESC, pair_sup DESC, consequent)`` — lift is
    a single division of exact integers (bit-identical cross-engine) and
    the two integer tie-breaks make the row_number deterministic.

    Scale shape: the pair-mining plan plus ONE extra shuffle for the rank
    window, partitioned by antecedent — per-partition work is each part's
    frequent-neighbor list, bounded by the support floor, never the
    corpus. This is the batch-precompute half of a recommender: the
    emitted (antecedent → top-N) table is the thing a serving layer
    broadcasts.

    Reference analog: none — extension surface.
    """
    scored = _basket_rules(spark, sf_dir).select(
        "antecedent",
        "consequent",
        "pair_sup",
        (
            F.round(
                F.col("pair_sup").cast("double")
                * F.col("n_baskets")
                / (F.col("sup_ante").cast("double") * F.col("sup_cons")),
                6,
            )
            + F.lit(0.0)
        ).alias("lift"),
    )
    w = Window.partitionBy("antecedent").orderBy(
        F.col("lift").desc(), F.col("pair_sup").desc(), F.col("consequent")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= RECO_TOP_N)
    )


#: customer-level item-item cosine CF: pair-support floor, per-part list
#: size, and the whale-basket cap (customers with more distinct parts are
#: excluded BEFORE pairing — the knob that bounds pair fan-out at scale)
CF_MIN_CO = 2
CF_TOP_N = 3
CF_MAX_BASKET = 500
#: incremental tier: 1-in-CF_BATCH_MOD customers form the "new baskets"
#: batch (~3%) — a nightly-ingest-sized fraction, so the probe's delta
#: pairing is ~1/CF_BATCH_MOD of the train tier's Σ basket² fan-out and
#: the touched-part set stays a strict subset of the catalog at scale
CF_BATCH_MOD = 32


@register(
    "part_similarity_cosine",
    f"""
WITH baskets AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), kept AS (
  SELECT cust FROM baskets GROUP BY cust
  HAVING count(*) <= {CF_MAX_BASKET}
), b AS (
  SELECT baskets.* FROM baskets SEMI JOIN kept USING (cust)
), npart AS (
  SELECT part, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY part
), co AS (
  SELECT a.part AS part_a, c.part AS part_b,
         CAST(count(*) AS BIGINT) AS co
  FROM b a JOIN b c ON a.cust = c.cust AND a.part < c.part
  GROUP BY 1, 2
  HAVING count(*) >= {CF_MIN_CO}
), sym AS (
  SELECT part_a, part_b, co FROM co
  UNION ALL
  SELECT part_b, part_a, co FROM co
), scored AS (
  SELECT s.part_a, s.part_b, s.co,
         CAST(CAST(s.co AS HUGEINT) * s.co * 1000000
              // (CAST(na.n AS HUGEINT) * nb.n) AS BIGINT) AS cos2_micro
  FROM sym s
  JOIN npart na ON na.part = s.part_a
  JOIN npart nb ON nb.part = s.part_b
), ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY part_a
           ORDER BY cos2_micro DESC, co DESC, part_b) AS rank
  FROM scored
)
SELECT part_a, part_b, co, cos2_micro, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {CF_TOP_N}
""",
    doc=f"customer-level item-item cosine CF: top-{CF_TOP_N} neighbors per "
    "part by squared-cosine over binary customer vectors, exact integer "
    "cross-multiplied scores, whale baskets excluded before pairing",
)
def part_similarity_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering by cosine similarity over BINARY
    customer-purchase vectors — the vector-space sibling of
    `part_recommendations_topn` (lift ranks by surprise against
    independence; cosine ranks by overlap normalized by both parts'
    popularity, the classic item-kNN recommender). cos(p,q) =
    co/√(n_p·n_q); ranking uses cos² in exact integer micro-units
    (co²·10⁶ div n_p·n_q — monotone in cosine since all terms are
    non-negative, so no square root and no floats), ties broken by
    (co DESC, part_b ASC) for a total order.

    Scale shape: one distinct to customer-part incidence, a HAVING-gated
    semi-join that drops whale baskets (> :data:`CF_MAX_BASKET` distinct
    parts) BEFORE pairing — the cap that keeps the within-customer
    self-join's Σ basket² fan-out linear-ish at 100 TB (the a-priori
    support-floor lesson, applied to the vector world); the pair
    aggregate shuffles on (part_a, part_b); the part-popularity table is
    part-dimension-sized and broadcasts onto the scored pairs; the
    top-:data:`CF_TOP_N` rank window is PARTITIONED by part_a over
    floor-filtered candidates only.

    Reference analog: none (extension surface — recommender family,
    beside `part_recommendations_topn`).
    """
    # spread: the orders probe + the (cust, part) distinct's partial
    # aggregate run above the 2-split lineitem scan — parallelize first.
    li = spread(
        table(spark, sf_dir, "lineitem"), "l_orderkey", src=(sf_dir, "lineitem")
    )
    o = table(spark, sf_dir, "orders")
    baskets = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    kept = (
        baskets.groupBy("cust")
        .agg(F.count("*").alias("bs"))
        .where(F.col("bs") <= CF_MAX_BASKET)
        .select("cust")
    )
    # Materialize the capped incidence ONCE (r11, measured A/B at sf1):
    # b feeds three consumers (npart, both self-join sides) and its top is
    # a broadcast semi-join ABOVE the distinct's exchange, so every
    # consumer replays the reduce-side distinct + semi-join even with AQE
    # stage reuse. localCheckpoint truncates the lineage and stores the
    # (cust, part) rows as blocks — isolated sf1 medians: plain 39.5 s,
    # persist() 39.7 s (the columnar cache encode eats the savings),
    # localCheckpoint 32.8 s, all bit-identical. Incidence rows are
    # whale-capped (≤ CF_MAX_BASKET parts/customer), two bigints each, so
    # the checkpointed footprint stays ~corpus-incidence-sized at scale.
    b = cut(baskets.join(kept, "cust", "left_semi"))
    npart = b.groupBy("part").agg(F.count("*").cast("bigint").alias("n"))
    # Pair counts through the shared sized helper (r12 ADVICE defactoring;
    # the exploding-join aggregate sizing rationale and the measured
    # multiplier A/B live at _cf_pair_counts / CF_PAIR_REPART_MULT —
    # interleaved A/B at sf1: co phase 16.6 → 10.7 s trimmed mean).
    co = _cf_pair_counts(b).where(F.col("co") >= CF_MIN_CO)
    # Both orientations from ONE evaluation of the pair aggregate via a
    # row-local explode (r11, the _basket_rules trick): the self-union
    # form re-ran the final HashAggregate + floor filter above the reused
    # pair exchange once per orientation.
    sym = co.select(
        F.explode(
            F.array(
                F.struct(F.col("part_a"), F.col("part_b"), F.col("co")),
                F.struct(
                    F.col("part_b").alias("part_a"),
                    F.col("part_a").alias("part_b"),
                    F.col("co"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    na = F.broadcast(npart.select(F.col("part").alias("part_a"), F.col("n").alias("na")))
    nb = F.broadcast(npart.select(F.col("part").alias("part_b"), F.col("n").alias("nb")))
    scored = (
        sym.join(na, "part_a")
        .join(nb, "part_b")
        .select(
            "part_a",
            "part_b",
            "co",
            F.expr(
                "CAST(CAST(co AS decimal(38,0)) * co * 1000000"
                " div (CAST(na AS decimal(38,0)) * nb) AS BIGINT)"
            ).alias("cos2_micro"),
        )
    )
    w = Window.partitionBy("part_a").orderBy(
        F.desc("cos2_micro"), F.desc("co"), F.col("part_b")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= CF_TOP_N)
        .select("part_a", "part_b", "co", "cos2_micro", "rank")
    )


def _cf_capped_baskets(
    spark: SparkSession, sf_dir: str, *, batch: bool | None = None
) -> DataFrame:
    """Whale-capped distinct (customer, part) incidence — the shared front
    half of the item-item CF tiers. ``batch=True``/``False`` restricts to
    the 1-in-:data:`CF_BATCH_MOD` "new baskets" slice / its complement;
    the customer filter sits on the ORDERS side BEFORE the join so the
    scan is pruned, not the join output. The whale cap is per-customer
    and the mod partitions customers, so capping inside a slice equals
    capping globally then slicing."""
    # spread: the orders probe + the (cust, part) distinct's partial
    # aggregate run above the 2-split lineitem scan (see part_similarity_cosine).
    li = spread(
        table(spark, sf_dir, "lineitem"), "l_orderkey", src=(sf_dir, "lineitem")
    )
    o = table(spark, sf_dir, "orders")
    if batch is True:
        o = o.where(F.col("o_custkey") % CF_BATCH_MOD == 0)
    elif batch is False:
        o = o.where(F.col("o_custkey") % CF_BATCH_MOD != 0)
    baskets = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    kept = (
        baskets.groupBy("cust")
        .agg(F.count("*").alias("bs"))
        .where(F.col("bs") <= CF_MAX_BASKET)
        .select("cust")
    )
    return baskets.join(kept, "cust", "left_semi")


def _cf_part_popularity(b: DataFrame) -> DataFrame:
    return b.groupBy("part").agg(F.count("*").cast("bigint").alias("n"))


#: bucket sizing for the persisted CF pair table: buckets ≈ published pair
#: bytes / this target, clamped below — SIZE-derived, not a core-count
#: constant (the layout.py "buckets ≈ bytes / target file size" posture,
#: computed instead of prose): the whole merge stage runs at the bucket
#: count (no exchange above the bucketed scan until the rank window), so
#: too few buckets caps the probe's parallelism at any cluster size, and
#: too many makes tiny files.
CF_BUCKET_TARGET_BYTES = 8 << 20
CF_BUCKETS_MIN, CF_BUCKETS_MAX = 16, 4096

#: (abs sf_dir) → (catalog name, bucket count) of the bucketed pair table;
#: per-process memo like loader._MEMO_PUBLISHED (fixtures are immutable
#: in-session)
_CF_PAIRS_BUCKETED: dict[str, tuple[str, int]] = {}


def _cf_pairs_bucketed_table(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """The persisted train co-occurrence table as a (part_a, part_b)-BUCKETED
    managed table — the merge-side layout the incremental tier's docstring
    declared as the cluster posture, made real (r11; the r9/r10
    ``_bucketed_edges_table`` playbook): the per-batch full-outer merge
    previously re-shuffled the ENTIRE persisted pair table (123M rows /
    424 MB at sf1) on the pair key every run to meet a ~4M-row delta;
    against the bucketed layout only the delta shuffles (repartitioned
    into the bucket count — the r11 conf-independence rule), the persisted
    side reads its buckets exchange-free, and one file per bucket sorted
    by the join key lets the sort-merge ride the bucket sort order. The
    audited artifact stays the memo-published parquet; the bucketed table
    derives from it (one read + one bucket shuffle, once per process)."""
    import os

    from ufload_spark.sources.layout import _unique_table
    from ufload_spark.sources.loader import memo_publish, sf_tag

    key = os.path.abspath(sf_dir)
    memo = _CF_PAIRS_BUCKETED.get(key)
    if memo is not None and spark.catalog.tableExists(memo[0]):
        return memo
    co_path = memo_publish(
        spark,
        "cf_co_pairs",
        sf_dir,
        lambda: _cf_pair_counts(_cf_capped_baskets(spark, sf_dir, batch=False)),
    )
    co_bytes = sum(
        os.path.getsize(os.path.join(co_path, f))
        for f in os.listdir(co_path)
        if f.endswith(".parquet")
    )
    n_buckets = int(
        min(CF_BUCKETS_MAX, max(CF_BUCKETS_MIN, co_bytes // CF_BUCKET_TARGET_BYTES))
    )
    name = _unique_table(spark, f"cf_co_pairs_b_{sf_tag(sf_dir)}")
    (
        read_parquet(spark, co_path)
        # one task per bucket → one file per bucket → the scan exposes the
        # sortBy order and the merge's SMJ needs no re-sort
        .repartition(n_buckets, "part_a", "part_b")
        .write.bucketBy(n_buckets, "part_a", "part_b")
        .sortBy("part_a", "part_b")
        .mode("overwrite")
        .saveAsTable(name)
    )
    _CF_PAIRS_BUCKETED[key] = (name, n_buckets)
    return name, n_buckets


#: exploding-join aggregate sizing (r11 session 3, guide §2.2/§2.3): the
#: within-customer self-join multiplies its incidence input into the
#: Σ basket² pair stream (~123M rows at sf1) while the stage geometry was
#: sized for the INPUT — the pair count's map-side partial agg built a
#: multi-million-key hash table per task inside the join stage (spill-to-
#: sort fallback) and combine compressed almost nothing (pairs are
#: near-distinct per cust slice). Shipping the RAW 2-column pair stream
#: (16 B/row — narrower than the partial rows) through an explicit
#: MULT×parallelism hash repartition lets the join stage stream pairs out
#: with no hash table and runs the count at right-sized tasks. Interleaved
#: multiplier A/B at sf1: 1× wash, 2× noisy, 4× −36%, 8× wash — 4× both
#: halves the per-task key count below the spill threshold and keeps ~4
#: task waves on the cores. Cores-relative, not fixture-tuned;
#: REPARTITION_BY_NUM so AQE cannot coalesce the exploded stage back down
#: by its pre-explosion input-size estimate.
CF_PAIR_REPART_MULT = 4


def _cf_pair_counts(b: DataFrame, *, sized: bool = True) -> DataFrame:
    """(part_a, part_b, co) pair counts of an incidence frame ``b`` —
    the shared exploding self-join + count of the CF tiers.

    ``sized=True`` applies the :data:`CF_PAIR_REPART_MULT` raw-stream
    repartition above — right for the TRAIN-sized inputs
    (part_similarity_cosine, the publish lambda). The batch-sized delta
    path passes ``sized=False``: its per-task key counts are already
    small and the extra exchange + 4×P-file checkpoint were measured
    neutral-to-slightly-worse there (r11 change 17: 11.1 s before vs
    11.5 s after; r12 ADVICE)."""
    a_side = b.select("cust", F.col("part").alias("part_a"))
    c_side = b.select("cust", F.col("part").alias("part_b"))
    pairs = (
        a_side.join(c_side, "cust")
        .where(F.col("part_a") < F.col("part_b"))
        .select("part_a", "part_b")
    )
    if sized:
        pairs = spread(pairs, "part_a", "part_b", waves=CF_PAIR_REPART_MULT)
    return pairs.groupBy("part_a", "part_b").agg(
        F.count("*").cast("bigint").alias("co")
    )


_CF_BASKET_CTE = f"""
WITH baskets AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), kept AS (
  SELECT cust FROM baskets GROUP BY cust
  HAVING count(*) <= {CF_MAX_BASKET}
), b AS (
  SELECT baskets.* FROM baskets SEMI JOIN kept USING (cust)
)"""


@register(
    "part_similarity_incremental",
    _CF_BASKET_CTE
    + f"""
, train AS (SELECT * FROM b WHERE cust % {CF_BATCH_MOD} <> 0),
batch AS (SELECT * FROM b WHERE cust % {CF_BATCH_MOD} = 0),
co_train AS (
  SELECT a.part AS part_a, c.part AS part_b, CAST(count(*) AS BIGINT) AS co
  FROM train a JOIN train c ON a.cust = c.cust AND a.part < c.part
  GROUP BY 1, 2
), co_delta AS (
  SELECT a.part AS part_a, c.part AS part_b, CAST(count(*) AS BIGINT) AS co
  FROM batch a JOIN batch c ON a.cust = c.cust AND a.part < c.part
  GROUP BY 1, 2
), merged AS (
  SELECT coalesce(t.part_a, d.part_a) AS part_a,
         coalesce(t.part_b, d.part_b) AS part_b,
         CAST(coalesce(t.co, 0) + coalesce(d.co, 0) AS BIGINT) AS co
  FROM co_train t FULL JOIN co_delta d
    ON t.part_a = d.part_a AND t.part_b = d.part_b
), touched AS (
  SELECT DISTINCT part_a AS part FROM co_delta
  UNION SELECT DISTINCT part_b FROM co_delta
), npart AS (
  SELECT part, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY part
), floored AS (
  SELECT * FROM merged WHERE co >= {CF_MIN_CO}
), sym AS (
  SELECT part_a, part_b, co FROM floored
  UNION ALL
  SELECT part_b, part_a, co FROM floored
), scored AS (
  SELECT s.part_a, s.part_b, s.co,
         CAST(CAST(s.co AS HUGEINT) * s.co * 1000000
              // (CAST(na.n AS HUGEINT) * nb.n) AS BIGINT) AS cos2_micro
  FROM sym s
  SEMI JOIN touched t ON s.part_a = t.part
  JOIN npart na ON na.part = s.part_a
  JOIN npart nb ON nb.part = s.part_b
), ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY part_a
           ORDER BY cos2_micro DESC, co DESC, part_b) AS rank
  FROM scored
)
SELECT part_a, part_b, co, cos2_micro, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {CF_TOP_N}
""",
    doc="item-item CF, incremental-maintenance tier (VERDICT r7 #3): the "
    "train customers' co-occurrence AND popularity tables are persisted "
    "through the audited sink; a nightly-sized new-basket batch "
    f"(1/{CF_BATCH_MOD} of customers) computes ONLY its delta pairs, "
    "merges them into the persisted counts, and rescores ONLY the touched "
    "parts' neighbor lists",
)
def part_similarity_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN treatment applied to item-item CF (the
    ``similarity_ivf_incremental`` lifecycle): ``part_similarity_cosine``
    re-pairs every basket on every run — its Σ basket² fan-out is the
    headline cost of the CF family at sf1 — but co-occurrence counts are
    ADDITIVE, so production maintains them incrementally. All but
    1-in-:data:`CF_BATCH_MOD` customers ("the corpus") have their pair
    counts AND part-popularity table built once and published through
    stage→audit→atomic-publish; the ~3% slice ("the new baskets")
    computes ONLY its delta pairs (Σ batch-basket² — 1/CF_BATCH_MOD of
    the pairing work), full-outer-merges them into the persisted counts
    on the pair key, adds its popularity increments to the persisted
    popularity (counts are additive; the mod partitions customers, so
    the merged table equals the full-corpus popularity without ever
    re-scanning the train baskets), and rescores ONLY parts the delta
    touched. The support floor and top-N ranking apply to the MERGED
    counts, so an admitted neighbor list is exactly what the batch
    recompute would produce for those parts.

    Scale shape: the probe reads the train side purely from parquet —
    the batch-customer filter sits on the orders scan BELOW the join, so
    the probe's only corpus-sized work is one pruned scan; the persisted
    pair table IS a (part_a, part_b)-bucketed managed table (r11 — the
    cluster posture this docstring used to carry as prose), so the merge
    reads it exchange-free from its buckets and only the batch-sized
    delta shuffles; it is additionally pruned to touched endpoints
    before the merge;
    the delta pairing shuffles Σ basket² only for batch customers;
    popularity joins broadcast; the rank window partitions by part_a
    over floor-filtered candidates of touched parts only.

    Reference analog: none (extension surface — recommender family;
    lifecycle pattern from the download memo, ufload db.py:695-711).
    """
    from ufload_spark.sources.loader import memo_publish

    # NOTE (r8, measured): do NOT persist() the batch/delta subtrees —
    # AQE's exchange reuse already shares their exchanges and the columnar
    # cache encode only adds its own materialization (+4 s warm at sf1).
    # localCheckpoint is DIFFERENT (r11, measured): batch feeds delta and
    # the popularity increment, delta feeds the merge probe AND both
    # touched-endpoint flag unions, and every one of those consumers sits
    # above a DIFFERENT exchange, so each replays the lineitem⋈orders
    # lateness join's reduce side even with stage reuse. Truncating the
    # lineage at the two batch-sized frames (raw row blocks, no cache
    # encode) computes the batch subtree once: isolated sf1 medians
    # 31.4 s → 20.4 s, results bit-identical (361k rows).
    batch = cut(_cf_capped_baskets(spark, sf_dir, batch=True))

    np_path = memo_publish(
        spark,
        "cf_npart_train",
        sf_dir,
        lambda: _cf_part_popularity(_cf_capped_baskets(spark, sf_dir, batch=False)),
    )
    # The persisted pair table comes back through its BUCKETED layout
    # (r11, guide §2.4/§3.3): the full-outer merge below joins on exactly
    # the bucket key, so the 123M-row persisted side reads exchange-free
    # from its buckets and only the batch-sized delta shuffles — measured
    # at sf1, the merge previously re-shuffled the whole persisted table
    # (the dominant per-run cost, ~9 s of the 26 s isolated wall).
    co_table, n_cf_buckets = _cf_pairs_bucketed_table(spark, sf_dir)
    persisted = spark.table(co_table).select("part_a", "part_b", "co")
    # sized=False: the delta is batch-sized — the 4×P repartition was
    # measured neutral-to-worse here (see _cf_pair_counts)
    delta = cut(_cf_pair_counts(batch, sized=False))
    touched_early = (
        delta.select(F.col("part_a").alias("part"))
        .union(delta.select(F.col("part_b").alias("part")))
        .distinct()
    )
    # Push the touched-part filter BELOW the merge: a persisted pair whose
    # endpoints the delta never touched cannot appear in any rescored
    # neighbor list (only touched part_a lists are emitted, and the sym
    # swap only lifts pairs with a touched endpoint), so pruning it here
    # is output-identical and makes the merge's persisted side
    # ∝ |touched|, not ∝ |all pairs| — the probe-tier economics at a
    # production batch fraction. Two broadcast flag joins, no shuffle.
    pa = touched_early.select(F.col("part").alias("part_a"), F.lit(1).alias("ta"))
    pb = touched_early.select(F.col("part").alias("part_b"), F.lit(1).alias("tb"))
    persisted_pruned = (
        persisted.join(F.broadcast(pa), "part_a", "left")
        .join(F.broadcast(pb), "part_b", "left")
        .where((F.col("ta") == 1) | (F.col("tb") == 1))
        .drop("ta", "tb")
    )
    t = persisted_pruned.select("part_a", "part_b", F.col("co").alias("co_t"))
    # repartition the delta INTO the bucket layout (the r11
    # conf-independence rule: whenever shuffle.partitions differs from the
    # bucket count, EnsureRequirements would otherwise re-shuffle the
    # PERSISTED side to match the delta — the exact exchange the bucketed
    # table exists to avoid)
    d = delta.select("part_a", "part_b", F.col("co").alias("co_d")).repartition(
        n_cf_buckets, "part_a", "part_b"
    )
    merged = t.join(d, ["part_a", "part_b"], "full").select(
        "part_a",
        "part_b",
        (F.coalesce("co_t", F.lit(0)) + F.coalesce("co_d", F.lit(0)))
        .cast("bigint")
        .alias("co"),
    )
    touched = touched_early
    # Part popularity = persisted train popularity ⊕ batch increments:
    # counts are additive and the mod partitions customers, so this equals
    # popularity over the full incidence WITHOUT rebuilding it — the probe
    # never scans the train customers' baskets at all.
    np_train = read_parquet(spark, np_path).select("part", F.col("n").alias("n_t"))
    np_batch = _cf_part_popularity(batch).select("part", F.col("n").alias("n_d"))
    npart = np_train.join(np_batch, "part", "full").select(
        "part",
        (F.coalesce("n_t", F.lit(0)) + F.coalesce("n_d", F.lit(0)))
        .cast("bigint")
        .alias("n"),
    )
    floored = merged.where(F.col("co") >= CF_MIN_CO)
    # Both orientations from ONE evaluation of the merge via a row-local
    # explode (the _basket_rules trick; r11): a self-union would duplicate
    # the whole merge subtree in the plan, and with the persisted side now
    # exchange-free from its buckets there is no exchange left for AQE
    # stage reuse to collapse — the union form re-ran the 104M-row merge
    # once per orientation.
    sym = floored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("part_a"), F.col("part_b"), F.col("co")
                ),
                F.struct(
                    F.col("part_b").alias("part_a"),
                    F.col("part_a").alias("part_b"),
                    F.col("co"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    na = F.broadcast(
        npart.select(F.col("part").alias("part_a"), F.col("n").alias("na"))
    )
    nb = F.broadcast(
        npart.select(F.col("part").alias("part_b"), F.col("n").alias("nb"))
    )
    scored = (
        sym.join(
            F.broadcast(touched.select(F.col("part").alias("part_a"))),
            "part_a",
            "left_semi",
        )
        .join(na, "part_a")
        .join(nb, "part_b")
        .select(
            "part_a",
            "part_b",
            "co",
            F.expr(
                "CAST(CAST(co AS decimal(38,0)) * co * 1000000"
                " div (CAST(na AS decimal(38,0)) * nb) AS BIGINT)"
            ).alias("cos2_micro"),
        )
    )
    w = Window.partitionBy("part_a").orderBy(
        F.desc("cos2_micro"), F.desc("co"), F.col("part_b")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= CF_TOP_N)
        .select("part_a", "part_b", "co", "cos2_micro", "rank")
    )


#: quantile binning: the boundary sample targets a CONSTANT ROW COUNT,
#: not a constant fraction (r8 verdict) — a row is sampled when its
#: 24-bit md5 bucket falls under a threshold derived from the corpus
#: count, ``th(n) = clamp(ceil(2^24 * QBIN_SAMPLE_TARGET / n), 1, 2^24)``
#: (exact integer ceiling in both engines), so the expected sample is
#: ~QBIN_SAMPLE_TARGET rows at ANY scale factor (until n > 2^24 * target
#: ≈ 3.4e10 orders, where the 24-bit bucket floor makes it n/2^24 — still
#: only ~2k rows per 34 billion; widen the substring to re-bound).
#: Boundary error shrinks as 1/sqrt(sample) (DKW), independent of n.
QBIN_SAMPLE_TARGET = 2048
QBIN_HASH_SPACE = 16**6
QBIN_BINS = 10


def _qbin_threshold(n_orders: int) -> int:
    """clamp(ceil-div(2^24 * target, n), 1, 2^24) — integer arithmetic so
    Python and DuckDB derive bit-identical thresholds."""
    return min(
        QBIN_HASH_SPACE,
        max(1, (QBIN_HASH_SPACE * QBIN_SAMPLE_TARGET + n_orders - 1) // n_orders),
    )

_QBIN_SUM = " + ".join(
    f"(CASE WHEN o_totalprice > b[{k}] THEN 1 ELSE 0 END)"
    for k in range(1, QBIN_BINS)
)


@register(
    "features_quantile_binning",
    f"""
WITH qknob AS (
  SELECT least({QBIN_HASH_SPACE}, greatest(1,
           ({QBIN_HASH_SPACE * QBIN_SAMPLE_TARGET} + count(*) - 1)
             // count(*))) AS th
  FROM orders
), sample AS (
  SELECT o_totalprice AS p, o_orderkey AS k
  FROM orders
  WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6))::BIGINT
        < (SELECT th FROM qknob)
), ranked AS (
  SELECT p, row_number() OVER (ORDER BY p, k) AS rn,
         count(*) OVER () AS ns
  FROM sample
), bset AS (
  SELECT list(p ORDER BY rn) AS b
  FROM ranked r
  WHERE EXISTS (
    SELECT 1 FROM range(1, {QBIN_BINS}) t(j)
    WHERE r.rn = CAST(ceil(j * r.ns / {QBIN_BINS}.0) AS BIGINT)
  )
), binned AS (
  SELECT 1 + {_QBIN_SUM} AS bin,
         o_totalprice,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders, bset
)
SELECT CAST(bin AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM binned GROUP BY bin
""",
    doc=f"quantile feature binning: exact decile boundaries from a "
    "content-addressed sample (the range-partitioner splitter pattern), "
    "broadcast bin assignment, per-bin exact-integer stats",
)
def features_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile binning the way a distributed engine actually does it:
    exact quantiles of a corpus-sized column need a global sort, so the
    boundaries come from a bounded CONTENT-ADDRESSED sample (md5-bucketed
    — deterministic across engines, runs, and cluster sizes, unlike
    percentile_approx whose sketch is engine-specific), sorted exactly
    (the sample is bounded by construction — Spark's own RangePartitioner
    splitter discipline), and broadcast back for a scan-local bin
    assignment. Per-bin statistics use cent-quantized exact integer sums.
    Ties sit on the left side of a boundary (``>`` comparison) — stated,
    so the contract is engine-free.

    Scale shape: one sample scan (bounded output), one window over the
    SAMPLE only, one broadcast, then one full-scan projection + grouped
    aggregate with map-side partials. The md5 threshold is SELF-BOUNDING
    (r9): derived from the corpus count so the expected sample is
    ~:data:`QBIN_SAMPLE_TARGET` rows at any scale factor — a constant
    SIZE, not a constant fraction — keeping the sample sort
    single-partition forever; boundary error shrinks as 1/√sample
    (Dvoretzky–Kiefer–Wolfowitz), independent of corpus size. The oracle
    derives the identical threshold in its ``qknob`` scalar CTE.

    Reference analog: none — extension surface (feature-engineering
    family: quantile bins are the standard preprocessing for decision
    trees and for leakage-robust WOE/target encodings).
    """
    from ufload_spark.sources.tables import corpus_count

    o = table(spark, sf_dir, "orders")
    th = _qbin_threshold(corpus_count(spark, sf_dir, "orders"))
    bucket = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 6), 16, 10
    ).cast("bigint")
    sample = o.where(bucket < F.lit(th)).select(
        F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")
    )
    ws = Window.orderBy("p", "k")
    ranked = sample.select(
        "p",
        F.row_number().over(ws).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("ns"),
    )
    marks = [
        F.ceil(F.lit(j) * F.col("ns") / QBIN_BINS).cast("long")
        for j in range(1, QBIN_BINS)
    ]
    hit = marks[0] == F.col("rn")
    for m in marks[1:]:
        hit = hit | (m == F.col("rn"))
    bset = (
        ranked.where(hit)
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("rn", "p"))).alias("bs"))
        .select(F.transform("bs", lambda x: x["p"]).alias("b"))
    )
    binned = o.crossJoin(F.broadcast(bset)).select(
        sum(
            [F.lit(1)]
            + [
                F.when(
                    F.col("o_totalprice") > F.element_at("b", k), 1
                ).otherwise(0)
                for k in range(1, QBIN_BINS)
            ]
        ).alias("bin"),
        "o_totalprice",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    return binned.groupBy(F.col("bin").cast("int").alias("bin")).agg(
        F.count("*").alias("n_orders"),
        F.sum("cents").alias("total_cents"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


# --- pairwise correlation matrix --------------------------------------------

#: (name, exact integer quantization SQL) — the shared half-up rule; the
#: Spark side builds the identical Column expressions from the same list
_CORR_VARS = [
    ("quantity", "CAST(floor(l_quantity + 0.5) AS BIGINT)"),
    ("price_cents", "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"),
    ("discount_pct", "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"),
    ("tax_pct", "CAST(floor(l_tax * 100 + 0.5) AS BIGINT)"),
]


def _corr_oracle() -> str:
    names = [n for n, _ in _CORR_VARS]
    qcols = ",\n         ".join(
        f"{expr} AS {n}" for n, expr in _CORR_VARS
    )
    sums = ["CAST(count(*) AS HUGEINT) AS n"]
    for n in names:
        sums.append(f"CAST(sum({n}) AS HUGEINT) AS s_{n}")
    for i, a in enumerate(names):
        for b in names[i:]:
            sums.append(f"CAST(sum({a}*{b}) AS HUGEINT) AS s_{a}_{b}")
    pair_rows = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            pair_rows.append(
                f"""SELECT '{a}' AS var_x, '{b}' AS var_y,
       CAST(n AS BIGINT) AS n_rows,
       round(CAST(n*s_{a}_{b} - s_{a}*s_{b} AS DOUBLE)
             / (sqrt(CAST(n*s_{a}_{a} - s_{a}*s_{a} AS DOUBLE))
                * sqrt(CAST(n*s_{b}_{b} - s_{b}*s_{b} AS DOUBLE))), 6)
         + 0.0 AS corr
FROM sums"""
            )
    return (
        "WITH q AS (\n  SELECT " + qcols + "\n  FROM lineitem\n), sums AS (\n"
        "  SELECT " + ",\n         ".join(sums) + "\n  FROM q\n)\n"
        + "\nUNION ALL\n".join(pair_rows)
    )


@register(
    "lineitem_correlation_matrix",
    _corr_oracle(),
    doc="pairwise Pearson correlations over the lineitem numerics: one "
    "aggregate collects exact integer sufficient statistics for all 4 "
    "variables, 6 pair rows from decimal128 combinations — the feature-"
    "redundancy audit a training pipeline gates on",
)
def lineitem_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-redundancy audit: Pearson correlation for every pair of
    lineitem numerics (quantity, price, discount, tax), computed the
    closed-form way — ONE aggregation pass collects the exact sufficient
    statistics (n, Σxᵢ, Σxᵢxⱼ for all pairs), then each of the 6
    correlations is an arithmetic projection over that single row. Adding
    variables grows the statistics vector O(d²), never the scan count —
    the `lineitem_ols_price_model` discipline generalized to the full
    matrix.

    Exactness: each variable quantizes to integers once (the shared
    half-up rule), sums run in decimal128 (Σprice² wraps int64 past
    sf≈0.125), and the n·Σxy − ΣxΣy combinations stay exact decimal until
    ONE final double division — so the matrix is bit-identical across
    engines, runs, and partitionings.

    Scale shape: one scan, one single-row aggregate with map-side
    partials (pure algebraic statistics), and a 6-row projection. No
    joins, no window, nothing driver-side.

    Reference analog: none (extension surface — statistics family).
    """
    li = table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    names = [n for n, _ in _CORR_VARS]
    q = li.select(*[F.expr(expr).alias(n) for n, expr in _CORR_VARS])
    aggs = [F.count("*").alias("n")]
    for n in names:
        aggs.append(F.sum(F.col(n).cast(dec)).alias(f"s_{n}"))
    for i, a in enumerate(names):
        for b in names[i:]:
            aggs.append(
                F.sum(F.col(a).cast(dec) * F.col(b).cast(dec)).alias(
                    f"s_{a}_{b}"
                )
            )
    sums = q.agg(*aggs)
    nn = F.col("n").cast(dec)
    pairs = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            cov = (nn * F.col(f"s_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")).cast(
                "double"
            )
            va = (nn * F.col(f"s_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast(
                "double"
            )
            vb = (nn * F.col(f"s_{b}_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")).cast(
                "double"
            )
            pairs.append(
                F.struct(
                    F.lit(a).alias("var_x"),
                    F.lit(b).alias("var_y"),
                    (F.round(cov / (F.sqrt(va) * F.sqrt(vb)), 6) + F.lit(0.0)).alias(
                        "corr"
                    ),
                )
            )
    return sums.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.explode(F.array(*pairs)).alias("p"),
    ).select("p.var_x", "p.var_y", "n_rows", "p.corr")


@register(
    "orders_abc_analysis",
    f"""
WITH rev AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                         AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
), binned AS (
  SELECT o_custkey, cents, {suboctave_bin_sql("cents")} AS bin_id
  FROM rev
), bins AS (
  SELECT bin_id, CAST(count(*) AS BIGINT) AS n_cust,
         CAST(sum(cents) AS BIGINT) AS bin_cents
  FROM binned GROUP BY bin_id
), tot AS (
  SELECT CAST(sum(bin_cents) AS BIGINT) AS total_cents FROM bins
), ranked AS (
  SELECT bin_id, n_cust, bin_cents,
         CAST(coalesce(sum(bin_cents) OVER (
           ORDER BY bin_id DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM bins
), classed AS (
  SELECT bin_id,
         CASE WHEN cum_before * 5 < total_cents * 4 THEN 'A'
              WHEN cum_before * 20 < total_cents * 19 THEN 'B'
              ELSE 'C' END AS abc_class,
         n_cust, bin_cents, total_cents
  FROM ranked, tot
)
SELECT abc_class, CAST(sum(n_cust) AS BIGINT) AS n_customers,
       CAST(sum(bin_cents) AS BIGINT) AS revenue_cents,
       round(CAST(sum(bin_cents) AS DOUBLE) / any_value(total_cents), 6) + 0.0
         AS revenue_share
FROM classed GROUP BY abc_class
""",
    doc="ABC (Pareto) customer segmentation at power-of-two revenue-bin "
    "granularity — distributed ABC without a global sort; exact integer "
    "cents end to end",
)
def orders_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto segmentation of customers by lifetime revenue: class A
    covers (approximately) the top 80% of revenue, B the next 15%, C the
    tail. The classic formulation sorts ALL customers by revenue and takes
    a running share — a corpus-wide total-order window, the one shape a
    distributed engine must refuse. Instead revenues are bucketed into
    sub-octave bins — highest-set-bit × 8 plus the next three mantissa
    bits, ≤ 512 bins by construction (~9% boundary resolution) — the
    cumulative share is taken over the BIN table, and class boundaries
    snap to bin edges: every customer in a bin whose preceding cumulative
    share is < 80% is class A, < 95% B, else C. Boundary snapping is the
    documented tradeoff for losing the global sort, and every count/sum
    underneath is exact integer cents (share thresholds applied by
    cross-multiplication, never division; the bin key is pure integer
    shift/mask, so both engines bin identically — no float log2 edge
    cases).

    Scale shape: one per-customer aggregate (shuffle on custkey), one
    ≤512-row bin aggregate, a SCALE-GUARDed partition-less window over the
    bin table (domain-bounded: 64 bit positions × 8 mantissa sub-bins at
    any corpus size), and a 3-row final aggregate. The bin/class
    map never leaves broadcast size.

    Reference analog: none (extension surface — analytics family).
    """
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    rev = o.groupBy("o_custkey").agg(F.sum(cents).cast("bigint").alias("cents"))
    binned = rev.select("cents", suboctave_bin("cents").alias("bin_id"))
    bins = binned.groupBy("bin_id").agg(
        F.count("*").cast("bigint").alias("n_cust"),
        F.sum("cents").cast("bigint").alias("bin_cents"),
    )
    tot = bins.agg(F.sum("bin_cents").cast("bigint").alias("total_cents"))
    # SCALE GUARD: partition-less window over the BIN table only —
    # bin_id is (highest-set-bit × 8 + 3 mantissa bits) of a bigint, so
    # ≤ 512 rows regardless of corpus size.
    w = (
        Window.orderBy(F.desc("bin_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = bins.withColumn(
        "cum_before",
        F.coalesce(F.sum("bin_cents").over(w), F.lit(0)).cast("bigint"),
    )
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("cum_before") * 5 < F.col("total_cents") * 4, "A")
        .when(F.col("cum_before") * 20 < F.col("total_cents") * 19, "B")
        .otherwise("C")
        .alias("abc_class"),
        "n_cust",
        "bin_cents",
        "total_cents",
    )
    return classed.groupBy("abc_class").agg(
        F.sum("n_cust").cast("bigint").alias("n_customers"),
        F.sum("bin_cents").cast("bigint").alias("revenue_cents"),
        (
            F.round(
                F.sum("bin_cents").cast("double") / F.any_value("total_cents"),
                6,
            )
            + F.lit(0.0)
        ).alias("revenue_share"),
    )


@register(
    "orders_cohort_ltv",
    """
WITH fo AS (
  SELECT o_custkey,
         min(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
  FROM orders GROUP BY o_custkey
), om AS (
  SELECT o.o_custkey, f.cohort_m,
         year(o.o_orderdate) * 12 + month(o.o_orderdate) - f.cohort_m
           AS month_index,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN fo f ON o.o_custkey = f.o_custkey
), cell AS (
  SELECT cohort_m, month_index,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active,
         CAST(sum(cents) AS BIGINT) AS revenue_cents
  FROM om GROUP BY 1, 2
), sized AS (
  SELECT cohort_m, month_index, n_active, revenue_cents,
         CAST(sum(revenue_cents) OVER (
           PARTITION BY cohort_m ORDER BY month_index
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_revenue_cents,
         CAST(first(n_active) OVER (
           PARTITION BY cohort_m ORDER BY month_index
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cohort_size
  FROM cell
)
SELECT CAST((cohort_m - 1) // 12 AS INT) * 100
         + CAST((cohort_m - 1) % 12 + 1 AS INT) AS cohort_ym,
       CAST(month_index AS INT) AS month_index,
       n_active, cohort_size, revenue_cents, cum_revenue_cents,
       CAST(cum_revenue_cents // cohort_size AS BIGINT) AS ltv_cents_per_user
FROM sized
""",
    doc="cohort LTV triangle: first-order-month cohorts x months-since, "
    "active counts, cumulative revenue and per-user LTV in exact cents",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort lifetime-value triangle — the standard growth-analytics
    artifact: customers grouped by first-order month, each cohort tracked
    across months-since-acquisition with active counts, period revenue,
    cumulative revenue, and cumulative LTV per acquired customer.

    Months are compared as the integer ``year*12 + month`` (identical on
    both engines — no fractional ``months_between`` or month-boundary
    semantics to reconcile); money is exact integer cents with integer
    division for the per-user LTV; cohort size is the month-0 active
    count (every customer's first order lands in their cohort month by
    construction, read off the running window's ``first``).

    Scale shape: a per-customer min aggregate, one join back to orders on
    the high-cardinality custkey (AQE decides the strategy; the cohort
    frame is corpus-scaled so it is never hinted broadcast), the cell
    aggregate on (cohort, month_index) — and only THEN the windows, over
    the aggregated triangle whose partitions are domain-bounded (≤ the
    dataset's month span per cohort, ~80 rows here) regardless of corpus
    size. The distinct-count rides the same (cohort, month) shuffle.

    Reference analog: none (extension surface — analytics family sibling
    of ``events_retention_cohorts``, which tracks presence; this tracks
    money).
    """
    o = table(spark, sf_dir, "orders")
    ym = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    fo = o.groupBy("o_custkey").agg(F.min(ym).alias("cohort_m"))
    om = o.join(fo, "o_custkey").select(
        "o_custkey",
        "cohort_m",
        (ym - F.col("cohort_m")).alias("month_index"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cell = om.groupBy("cohort_m", "month_index").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )
    # SCALE GUARD: windows run over the aggregated (cohort, month) triangle
    # — partitions are bounded by the dataset's month span, never the
    # order count.
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("month_index")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = cell.select(
        "cohort_m",
        "month_index",
        "n_active",
        "revenue_cents",
        F.sum("revenue_cents").over(w).cast("bigint").alias(
            "cum_revenue_cents"
        ),
        F.first("n_active").over(w).cast("bigint").alias("cohort_size"),
    )
    return sized.select(
        (
            F.expr("CAST((cohort_m - 1) div 12 AS INT)") * 100
            + F.expr("CAST((cohort_m - 1) % 12 + 1 AS INT)")
        ).alias("cohort_ym"),
        F.col("month_index").cast("int").alias("month_index"),
        "n_active",
        "cohort_size",
        "revenue_cents",
        "cum_revenue_cents",
        F.expr("CAST(cum_revenue_cents div cohort_size AS BIGINT)").alias(
            "ltv_cents_per_user"
        ),
    )


@register(
    "orders_benford_digits",
    """
WITH c AS (
  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
), obs AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM c GROUP BY digit
), tot AS (
  SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs
)
SELECT digit, n_obs,
       round(CAST(n_obs AS DOUBLE) / n, 6) + 0.0 AS obs_share,
       round(log10(1.0 + 1.0 / digit), 6) + 0.0 AS benford_share,
       round(n * pow(CAST(n_obs AS DOUBLE) / n - log10(1.0 + 1.0 / digit), 2)
             / log10(1.0 + 1.0 / digit), 6) + 0.0 AS chi2_term
FROM obs, tot
""",
    doc="Benford's-law first-digit audit of order totals: observed vs "
    "expected digit shares and per-digit chi-square contributions",
)
def orders_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance audit over order totals — the classic
    forensic-accounting screen: the distribution of first significant
    digits against the log10(1 + 1/d) law, with each digit's chi-square
    contribution (their sum is the test statistic; large terms point at
    the digits driving the deviation).

    The first digit is taken from the DECIMAL STRING of the integer cents
    value — pure integer/string ops, identical on both engines (no float
    log-based digit extraction, which disagrees at power-of-ten
    boundaries). Only the final shares/chi-square are floats, each a
    fixed-shape expression over one integer count pair, rounded to 6dp.

    Scale shape: a narrow projection to one digit per row, a 9-row
    aggregate with map-side combine, one broadcast scalar total. Nothing
    else — the cheapest possible full-scan statistic.

    Reference analog: none (extension surface — data-quality/audit family
    alongside ``quality_constraint_audit``).
    """
    o = table(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
        1,
        1,
    ).cast("int")
    obs = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").cast("bigint").alias("n_obs")
    )
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("n"))
    share = F.col("n_obs").cast("double") / F.col("n")
    exp = F.log10(1.0 + 1.0 / F.col("digit"))
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        (F.round(share, 6) + F.lit(0.0)).alias("obs_share"),
        (F.round(exp, 6) + F.lit(0.0)).alias("benford_share"),
        (F.round(F.col("n") * F.pow(share - exp, 2) / exp, 6) + F.lit(0.0)).alias(
            "chi2_term"
        ),
    )


@register(
    "supplier_concentration_hhi",
    """
WITH sr AS (
  SELECT s.s_nationkey, l.l_suppkey,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
), agg AS (
  SELECT s_nationkey,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(cents) AS BIGINT) AS nation_cents,
         sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS sumsq,
         CAST(max(cents) AS BIGINT) AS top_cents
  FROM sr GROUP BY 1
)
SELECT n.n_name AS nation, n_suppliers,
       round(CAST(sumsq AS DOUBLE)
             / (CAST(nation_cents AS DOUBLE) * CAST(nation_cents AS DOUBLE)),
             6) + 0.0 AS hhi,
       round(CAST(top_cents AS DOUBLE) / CAST(nation_cents AS DOUBLE), 6)
         + 0.0 AS top_share
FROM agg JOIN nation n ON agg.s_nationkey = n.n_nationkey
""",
    doc="Herfindahl-Hirschman supplier-concentration index per nation from "
    "exact integer revenue cents (int128/decimal38 sum of squares)",
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration audit: the Herfindahl-Hirschman index of
    supplier revenue shares within each nation (Σ share² — 1/n for
    perfect competition, 1.0 for monopoly), plus the largest single
    supplier's share. HHI is computed as Σcents² / (Σcents)² so every
    reduction is over exact integers — the squares live in
    decimal(38,0) on the Spark side and HUGEINT in the oracle (a
    supplier's cents² overflows int64 from ~$100M revenue — the engine's
    decimal38 wide-integer discipline) — and
    floats appear only in the final two divisions, rounded to 6dp.

    Scale shape: one (nation, supplier) aggregate off the
    lineitem⋈supplier join (supplier side is corpus-scaled — AQE decides
    the strategy), one 25-row nation aggregate, and a broadcast join to
    the fixed-cardinality nation names. Map-side combine takes the
    per-supplier sums; nothing corpus-sized survives the first shuffle.

    Reference analog: none (extension surface — analytics/audit family).
    """
    li = table(spark, sf_dir, "lineitem")
    su = table(spark, sf_dir, "supplier")
    na = table(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    sr = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    c38 = F.col("cents").cast("decimal(38,0)")
    agg = sr.groupBy("s_nationkey").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.sum("cents").cast("bigint").alias("nation_cents"),
        F.sum(c38 * c38).alias("sumsq"),
        F.max("cents").cast("bigint").alias("top_cents"),
    )
    return agg.join(
        F.broadcast(na), agg.s_nationkey == na.n_nationkey
    ).select(
        F.col("n_name").alias("nation"),
        "n_suppliers",
        (
            F.round(
                F.col("sumsq").cast("double")
                / (
                    F.col("nation_cents").cast("double")
                    * F.col("nation_cents").cast("double")
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("hhi"),
        (
            F.round(
                F.col("top_cents").cast("double")
                / F.col("nation_cents").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("top_share"),
    )


@register(
    "orders_seasonality_index",
    """
WITH mon AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS ym,
         month(o_orderdate) AS m,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2
), moy AS (
  SELECT m, CAST(count(*) AS BIGINT) AS n_months,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM mon GROUP BY m
), tot AS (
  SELECT CAST(sum(cents) AS BIGINT) AS tc,
         CAST(sum(n_months) AS BIGINT) AS tm
  FROM moy
)
SELECT m AS month, n_months, cents AS revenue_cents,
       round(CAST(cents AS DOUBLE) * tm
             / (CAST(n_months AS DOUBLE) * tc), 6) + 0.0 AS seasonal_index
FROM moy, tot
""",
    doc="month-of-year seasonality index: mean monthly revenue per calendar "
    "month vs the overall monthly mean, from exact integer cents",
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality profile: for each calendar month, the
    ratio of its mean monthly revenue to the overall monthly mean (1.0 =
    no seasonality). Calendar months are weighted by how many times they
    actually occur in the dataset span (an 80-month span covers January
    seven times but September six — dividing by raw month counts would
    bias the index), which is why the per-(year, month) aggregate comes
    first.

    All sums are exact integer cents; the index is one fixed-shape double
    expression ``cents·tm / (n_months·tc)`` over four exact integers,
    rounded to 6dp — no float accumulation anywhere.

    Scale shape: one (year*12+month) aggregate with map-side combine
    (output bounded by the dataset's month span), a 12-row month-of-year
    aggregate, one broadcast scalar pair. Cheapest-possible profile.

    Reference analog: none (extension surface — analytics family).
    """
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    mon = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        F.month("o_orderdate").alias("m"),
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    moy = mon.groupBy("m").agg(
        F.count("*").cast("bigint").alias("n_months"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    tot = moy.agg(
        F.sum("cents").cast("bigint").alias("tc"),
        F.sum("n_months").cast("bigint").alias("tm"),
    )
    return moy.crossJoin(F.broadcast(tot)).select(
        F.col("m").alias("month"),
        "n_months",
        F.col("cents").alias("revenue_cents"),
        (
            F.round(
                F.col("cents").cast("double")
                * F.col("tm")
                / (F.col("n_months").cast("double") * F.col("tc")),
                6,
            )
            + F.lit(0.0)
        ).alias("seasonal_index"),
    )


@register(
    "parts_skyline_price_size",
    """
WITH p AS (
  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
         CAST(p_size AS BIGINT) AS size
  FROM part
)
SELECT a.p_partkey, a.cents, a.size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.cents <= a.cents AND b.size >= a.size
    AND (b.cents < a.cents OR b.size > a.size)
)
""",
    doc="skyline / Pareto frontier of parts (minimize price, maximize "
    "size) via bin-pruned sort-filter skyline; oracle is the quadratic "
    "NOT EXISTS dominance check",
)
def parts_skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skyline operator (Börzsönyi et al. 2001 — public): parts not
    dominated on (lower price, larger size). Spark has no skyline
    primitive and the textbook formulation is a quadratic self-anti-join;
    the scalable shape here is grid-pruned sort-filter skyline:

    1. price → sub-octave bin (monotone integer key, ≤ 512 bins);
    2. per-bin max size, running max over STRICTLY lower bins (a
       SCALE-GUARDed ≤512-row window) — any part whose size does not
       exceed every strictly-cheaper bin's max is dominated and dropped
       BEFORE any pairwise work; survivors are the bin-frontier
       candidates, expected skyline-sized for non-adversarial data;
    3. exact within-bin refinement on the survivors via two value-RANGE
       windows per bin (max size over strictly-cheaper rows; max size
       among equal-price rows), which resolves the tie semantics
       exactly: equal (price, size) points dominate neither way and both
       survive.

    Every comparison is on exact integer cents/size; the output is the
    frontier itself, so the result is deterministic and engine-identical.
    The oracle runs the quadratic NOT EXISTS dominance check — exactly
    the plan this operator exists to avoid.

    Scale shape: one narrow scan + ≤512-row bin aggregate + the pruned
    candidate windows; no corpus-wide sort, no self-join of the full
    table at any point.

    Reference analog: none (extension surface — analytics family).
    """
    pt = table(spark, sf_dir, "part")
    p = pt.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
        F.col("p_size").cast("bigint").alias("size"),
    ).withColumn("bin_id", suboctave_bin("cents"))
    bins = p.groupBy("bin_id").agg(F.max("size").alias("bin_max"))
    # SCALE GUARD: partition-less window over the ≤512-row bin table only
    wb = Window.orderBy("bin_id").rowsBetween(Window.unboundedPreceding, -1)
    bounds = bins.withColumn("lower_max", F.max("bin_max").over(wb)).select(
        "bin_id", "lower_max"
    )
    cand = p.join(F.broadcast(bounds), "bin_id").where(
        F.col("lower_max").isNull() | (F.col("size") > F.col("lower_max"))
    )
    # exact refinement among bin-frontier survivors: value-RANGE windows
    # per bin (survivor counts are frontier-sized after the prefilter)
    w_cheaper = (
        Window.partitionBy("bin_id")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_equal = (
        Window.partitionBy("bin_id").orderBy("cents").rangeBetween(0, 0)
    )
    refined = cand.select(
        "p_partkey",
        "cents",
        "size",
        F.max("size").over(w_cheaper).alias("max_cheaper"),
        F.max("size").over(w_equal).alias("max_equal"),
    )
    return refined.where(
        (F.col("max_cheaper").isNull() | (F.col("size") > F.col("max_cheaper")))
        & (F.col("size") >= F.col("max_equal"))
    ).select("p_partkey", "cents", "size")


#: refinement fan-out of the exact-selection second stage
QSEL_SUBBINS = 512


@register(
    "orders_exact_quartiles_select",
    """
WITH c AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS cnt FROM c
), t AS (
  SELECT CAST(v.q AS INT) AS quartile, CAST((n.cnt * v.q + 3) // 4 AS BIGINT) AS target_rank
  FROM n, (VALUES (1), (2), (3)) v(q)
), ranked AS (
  SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c
)
SELECT t.quartile, t.target_rank, r.cents AS value_cents
FROM t JOIN ranked r ON r.rn = t.target_rank
""",
    doc="EXACT quartiles of order value without a global sort: two rounds "
    "of histogram refinement (sub-octave then 512 linear sub-bins) narrow "
    "each target rank to a value-domain-bounded interval, where a tiny "
    "per-value count selects the order statistic — distributed quickselect "
    "as dataflow; the oracle is the naive ORDER BY selection",
)
def orders_exact_quartiles_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 order statistics of ``o_totalprice`` cents with NO
    corpus-wide sort — the distributed-selection pattern that replaces
    ``ORDER BY … OFFSET r`` (a single-reducer sort at 100 TB) and
    complements the engine's ``percentile_approx`` sketches when the
    answer must be exact:

    1. one scan builds a ≤512-row sub-octave histogram carrying per-bin
       count/min/max; an exclusive running sum over that bounded table
       locates, for each target rank, its bin and the rank mass before it;
    2. a second scan (broadcast-semi-joined to the ≤3 chosen bins) splits
       each bin into 512 LINEAR sub-bins by exact integer arithmetic on
       the bin's [min, max] — narrowing each target to ~0.02% of its
       value range;
    3. a third scan groups the surviving rows BY VALUE; the per-value
       count table is bounded by the sub-bin's value-domain width (never
       corpus size), and the rank falls on the first value whose
       cumulative count reaches it.

    Every count is exact int64, every cut is integer arithmetic, and ties
    across bin boundaries are immaterial because selection is by
    cumulative mass, so the result is the exact order statistic — equal to
    the oracle's naive sorted selection. Three narrow scans total; all
    windows run over bounded histogram frames (512 / 512 / value-domain
    interval).

    Reference analog: none — extension surface (the exact sibling of
    ``orders_approx_quantiles``).
    """
    o = table(spark, sf_dir, "orders")
    cents_col = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    c = o.select(cents_col.alias("cents"))
    n = c.groupBy().agg(F.count("*").cast("bigint").alias("cnt"))
    targets = (
        spark.range(1, 4)
        .select(F.col("id").cast("int").alias("quartile"))
        .crossJoin(F.broadcast(n))
        .select(
            "quartile",
            F.expr("CAST((cnt * quartile + 3) DIV 4 AS BIGINT)").alias(
                "target_rank"
            ),
        )
    )
    binned = c.select("cents", suboctave_bin("cents").alias("b1"))
    h1 = binned.groupBy("b1").agg(
        F.count("*").cast("bigint").alias("cnt1"),
        F.min("cents").alias("lo1"),
        F.max("cents").alias("hi1"),
    )
    # SCALE GUARD: partition-less windows below run over histogram frames
    # only (<=512 rows by construction), never corpus-sized inputs.
    w1 = (
        Window.orderBy("b1")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    h1c = h1.withColumn(
        "cb1", (F.sum("cnt1").over(w1) - F.col("cnt1")).cast("bigint")
    )
    chosen1 = F.broadcast(h1c).join(
        F.broadcast(targets),
        (F.col("cb1") < F.col("target_rank"))
        & (F.col("target_rank") <= F.col("cb1") + F.col("cnt1")),
    )
    sub = F.expr(
        f"((cents - lo1) * {QSEL_SUBBINS}) DIV (hi1 - lo1 + 1)"
    )
    r2 = binned.join(
        F.broadcast(
            chosen1.select("quartile", "target_rank", "b1", "lo1", "hi1", "cb1")
        ),
        "b1",
    ).select(
        "quartile",
        "target_rank",
        "b1",
        "lo1",
        "hi1",
        "cb1",
        "cents",
        sub.cast("long").alias("b2"),
    )
    h2 = r2.groupBy("quartile", "target_rank", "b1", "lo1", "hi1", "cb1", "b2").agg(
        F.count("*").cast("bigint").alias("cnt2")
    )
    w2 = (
        Window.partitionBy("quartile")
        .orderBy("b2")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    h2c = h2.withColumn(
        "cb12",
        (F.col("cb1") + F.sum("cnt2").over(w2) - F.col("cnt2")).cast("bigint"),
    )
    chosen2 = h2c.where(
        (F.col("cb12") < F.col("target_rank"))
        & (F.col("target_rank") <= F.col("cb12") + F.col("cnt2"))
    )
    r3 = r2.drop("target_rank", "cb1").join(
        F.broadcast(chosen2.select("quartile", "target_rank", "b2", "cb12")),
        ["quartile", "b2"],
    )
    g3 = r3.groupBy("quartile", "target_rank", "cb12", "cents").agg(
        F.count("*").cast("bigint").alias("cnt3")
    )
    w3 = (
        Window.partitionBy("quartile")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g3c = g3.withColumn(
        "cum", (F.col("cb12") + F.sum("cnt3").over(w3)).cast("bigint")
    )
    return (
        g3c.where(
            (F.col("cum") - F.col("cnt3") < F.col("target_rank"))
            & (F.col("target_rank") <= F.col("cum"))
        )
        .select(
            "quartile",
            "target_rank",
            F.col("cents").alias("value_cents"),
        )
    )


@register(
    "lineitem_leadtime_quartiles",
    """
WITH lt AS (
  SELECT o.o_orderpriority AS priority,
         CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
              AS BIGINT) AS lead_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), h AS (
  SELECT priority, lead_days, CAST(count(*) AS BIGINT) AS c FROM lt
  GROUP BY 1, 2
), cum AS (
  SELECT priority, lead_days, c,
         CAST(sum(c) OVER (PARTITION BY priority ORDER BY lead_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cm,
         CAST(sum(c) OVER (PARTITION BY priority) AS BIGINT) AS n
  FROM h
), t AS (
  SELECT priority, lead_days, cm, c, n, CAST(v.q AS INT) AS quartile,
         (n * v.q + 3) // 4 AS r
  FROM cum, (VALUES (1), (2), (3)) v(q)
)
SELECT priority, quartile, lead_days, CAST(n AS BIGINT) AS n_lines
FROM t WHERE cm - c < r AND r <= cm
""",
    doc="exact per-priority lead-time quartiles from a value-domain-bounded "
    "day histogram — grouped exact percentiles with no sort, counts are "
    "all int64",
)
def lineitem_leadtime_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 of order-to-ship lead time, per order priority —
    grouped exact percentiles WITHOUT any sort or selection pass: lead
    time in whole days is value-domain-bounded — by the ~122-day ship
    window in true TPC-H, by the calendar span (±~2.4k days; these
    fixtures draw ship dates independently of order dates) here — so the
    full distribution per group is a small day histogram;
    one cumulative window over it reads off every quartile exactly. This
    is the degenerate-and-fast case of the selection ladder —
    ``percentile_approx`` (sketch) → ``orders_exact_quartiles_select``
    (histogram refinement for unbounded domains) → this (direct histogram
    when the domain is bounded).

    Scale shape: the lineitem⋈orders equi-join shuffles on orderkey (the
    bucketed-layout twin removes even that — `layout_bucketed_orderkey_join`),
    then one shuffle to the (priority, day) histogram, bounded by
    5 × ~200 rows at any corpus size.

    Reference analog: none — extension surface.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    lt = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .cast("long")
        .alias("lead_days"),
    )
    h = lt.groupBy("priority", "lead_days").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_cum = (
        Window.partitionBy("priority")
        .orderBy("lead_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_n = Window.partitionBy("priority")
    cum = h.select(
        "priority",
        "lead_days",
        "c",
        F.sum("c").over(w_cum).cast("bigint").alias("cm"),
        F.sum("c").over(w_n).cast("bigint").alias("n"),
    )
    t = cum.crossJoin(
        F.broadcast(
            spark.range(1, 4).select(F.col("id").cast("int").alias("quartile"))
        )
    ).withColumn("r", F.expr("(n * quartile + 3) DIV 4"))
    return t.where(
        (F.col("cm") - F.col("c") < F.col("r")) & (F.col("r") <= F.col("cm"))
    ).select(
        "priority",
        "quartile",
        "lead_days",
        F.col("n").cast("bigint").alias("n_lines"),
    )


@register(
    "basket_part_triples",
    f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
), freq AS (
  SELECT part FROM items GROUP BY part
  HAVING count(*) >= {BASKET_MINSUP}
), fitems AS (
  SELECT i.okey, i.part FROM items i JOIN freq USING (part)
), fpairs AS (
  SELECT a.part AS pa, b.part AS pb
  FROM fitems a JOIN fitems b ON a.okey = b.okey AND a.part < b.part
  GROUP BY 1, 2 HAVING count(*) >= {BASKET_MINSUP}
), cand AS (
  SELECT x.pa AS part_a, x.pb AS part_b, y.pb AS part_c
  FROM fpairs x JOIN fpairs y ON x.pa = y.pa AND x.pb < y.pb
  WHERE EXISTS (SELECT 1 FROM fpairs z
                WHERE z.pa = x.pb AND z.pb = y.pb)
)
SELECT t.part_a, t.part_b, t.part_c,
       CAST(count(*) AS BIGINT) AS triple_sup
FROM (
  SELECT a.okey, a.part AS part_a, b.part AS part_b, c.part AS part_c
  FROM fitems a
  JOIN fitems b ON a.okey = b.okey AND a.part < b.part
  JOIN fitems c ON b.okey = c.okey AND b.part < c.part
) t
JOIN cand USING (part_a, part_b, part_c)
GROUP BY 1, 2, 3 HAVING count(*) >= {BASKET_MINSUP}
""",
    doc=f"a-priori level 3: frequent part triples — candidates generated "
    f"from frequent-pair joins (every 2-subset must be frequent), counted "
    f"by a candidate-restricted basket join, support >= {BASKET_MINSUP}",
)
def basket_part_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent triple mining — the third a-priori level above
    :func:`basket_part_pairs`. Candidates come from the level-2 result:
    (a,b,c) is a candidate iff (a,b), (a,c) AND (b,c) are all frequent
    pairs (the downward-closure property), generated by the classic
    prefix self-join of the pair set plus one subset semi-join. The
    within-basket triple enumeration (bounded by Σ basket_size³, baskets
    ≤ 7 here) is then semi-joined to the candidate set before counting,
    so the aggregate never sees a triple that cannot be frequent.

    Scale shape: the same pruned-items plan as the pair miner plus the
    candidate generation (a self-join of the FREQUENT-PAIR table — output
    of the support floor, orders of magnitude smaller than the item
    table) and one more within-basket join. The support floor is again
    the knob: candidate volume falls super-linearly as it rises.

    Reference analog: none — extension surface.
    """
    # spread on okey (guide §2.4/§2.5): parallelizes the 2-split
    # fixture scan and pre-satisfies the (okey, part) distinct AND the
    # within-basket okey self-join — one exchange instead of two.
    li = spread(
        table(spark, sf_dir, "lineitem"), "l_orderkey", src=(sf_dir, "lineitem")
    )
    items = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    # same items checkpoint + okey re-clustering as _basket_pair_stats
    # (r12): here the distinct feeds FIVE consumers (two pair-join sides,
    # three triple-join sides) plus the support aggregate
    items = spread(cut(items), "okey")
    freq = (
        items.groupBy("part")
        .agg(F.count("*").alias("sup"))
        .where(F.col("sup") >= BASKET_MINSUP)
        .select("part")
    )
    fitems = items.join(freq, "part", "left_semi")
    a, b, c = fitems.alias("a"), fitems.alias("b"), fitems.alias("c")
    fpairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.part") < F.col("b.part")),
        )
        .groupBy(F.col("a.part").alias("pa"), F.col("b.part").alias("pb"))
        .agg(F.count("*").alias("ps"))
        .where(F.col("ps") >= BASKET_MINSUP)
        .select("pa", "pb")
    )
    x, y = fpairs.alias("x"), fpairs.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.pa") == F.col("y.pa"))
            & (F.col("x.pb") < F.col("y.pb")),
        )
        .select(
            F.col("x.pa").alias("part_a"),
            F.col("x.pb").alias("part_b"),
            F.col("y.pb").alias("part_c"),
        )
        .join(
            fpairs.select(
                F.col("pa").alias("part_b"), F.col("pb").alias("part_c")
            ),
            ["part_b", "part_c"],
            "left_semi",
        )
    )
    triples = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.part") < F.col("b.part")),
        )
        .join(
            c,
            (F.col("b.okey") == F.col("c.okey"))
            & (F.col("b.part") < F.col("c.part")),
        )
        .select(
            F.col("a.part").alias("part_a"),
            F.col("b.part").alias("part_b"),
            F.col("c.part").alias("part_c"),
        )
        .join(cand, ["part_a", "part_b", "part_c"], "left_semi")
    )
    return (
        triples.groupBy("part_a", "part_b", "part_c")
        .agg(F.count("*").cast("bigint").alias("triple_sup"))
        .where(F.col("triple_sup") >= BASKET_MINSUP)
    )


@register(
    "customer_spend_gini",
    f"""
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), h AS (
  SELECT {suboctave_bin_sql('cents')} AS b,
         CAST(count(*) AS BIGINT) AS c,
         CAST(sum(cents) AS BIGINT) AS s
  FROM spend GROUP BY 1
), cum AS (
  SELECT c, s,
         CAST(sum(s) OVER (ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cs,
         CAST(sum(c) OVER () AS BIGINT) AS n,
         CAST(sum(s) OVER () AS BIGINT) AS tot
  FROM h
)
SELECT max(n) AS n_customers,
       round(1.0 - CAST(sum(CAST(c AS DECIMAL(38, 0)) * (2 * cs - s))
                        AS DOUBLE)
                   / (CAST(max(n) AS DOUBLE) * max(tot)), 6) + 0.0
         AS gini_binned
FROM cum
""",
    doc="Gini coefficient of customer spend from the sub-octave histogram "
    "(trapezoid Lorenz over <=512 bins, ~9% value resolution) — exact "
    "decimal(38,0) numerator, one final division; no customer-wide sort",
)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-inequality audit: the Gini coefficient of per-customer
    revenue, WITHOUT ranking every customer (the textbook formula needs a
    corpus-wide sort). The Lorenz curve is evaluated at the ≤512
    sub-octave bin edges — G = 1 − Σ_b c_b·(S_{b−1}+S_b) / (N·T) with
    c_b the bin count and S the cumulative bin spend — a trapezoid
    estimate whose resolution is the bins' ~9% value width (within-bin
    inequality is below that resolution by construction). The numerator
    accumulates exactly in decimal(38,0) (c·(2S−s) products), so the only
    float op is the final division.

    Scale shape: one custkey shuffle, one ≤512-row histogram aggregate,
    windows over the bin frame only — the `orders_abc_analysis`
    discipline applied to an inequality index; complements
    `supplier_concentration_hhi` (which needs no ordering at all).

    Reference analog: none — extension surface.
    """
    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("bigint")
        .alias("cents")
    )
    h = spend.groupBy(suboctave_bin("cents").alias("b")).agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    # SCALE GUARD: partition-less windows over the <=512-row bin frame only.
    w_cum = (
        Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    cum = h.select(
        "c",
        "s",
        F.sum("s").over(w_cum).cast("bigint").alias("cs"),
        F.sum("c").over(w_all).cast("bigint").alias("n"),
        F.sum("s").over(w_all).cast("bigint").alias("tot"),
    )
    num = F.sum(
        F.col("c").cast("decimal(38,0)") * (2 * F.col("cs") - F.col("s"))
    )
    return cum.groupBy().agg(
        F.max("n").alias("n_customers"),
        (
            F.round(
                F.lit(1.0)
                - num.cast("double")
                / (F.max("n").cast("double") * F.max("tot")),
                6,
            )
            + F.lit(0.0)
        ).alias("gini_binned"),
    )


@register(
    "lineitem_duplicate_billing_audit",
    """
SELECT l_orderkey, l_partkey,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS total_cents,
       min(CAST(l_quantity AS BIGINT)) = max(CAST(l_quantity AS BIGINT))
       AND min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
         = max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
         AS exact_double_entry
FROM lineitem
GROUP BY l_orderkey, l_partkey
HAVING count(*) > 1
""",
    doc="duplicate-billing audit: orders where the same part appears on "
    "more than one line — exact-double-entry flag when every duplicate "
    "line carries identical quantity and cents",
)
def lineitem_duplicate_billing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The accounts-payable double-billing sweep: within one order, the
    same part billed on more than one line is either a legitimate split
    shipment or a duplicate entry — the audit surfaces every such group
    with the evidence an investigator triages on: line count, how many
    DISTINCT suppliers the duplicate lines route through (1 supplier +
    identical amounts smells like double entry; several suppliers looks
    like sourcing), total quantity/cents at stake, and the
    ``exact_double_entry`` flag (min = max on both quantity and exact
    half-up cents across the group — no float comparison anywhere).

    Scale shape: ONE hash aggregation keyed (l_orderkey, l_partkey) —
    the natural lineitem clustering key prefix, so with the table
    bucketed by orderkey the exchange disappears entirely; map-side
    partials shrink the shuffle to the duplicate groups plus one row per
    distinct (order, part). No join, no window, no global order.

    Reference analog: none (extension surface — audit family; the
    deduplication sibling of `dedup_exact` for relational rows rather
    than documents).
    """
    li = table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("bigint")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    return (
        li.select(
            "l_orderkey", "l_partkey", "l_suppkey", qty.alias("q"), cents.alias("c")
        )
        .groupBy("l_orderkey", "l_partkey")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.countDistinct("l_suppkey").cast("bigint").alias("n_suppliers"),
            F.sum("q").cast("bigint").alias("total_qty"),
            F.sum("c").cast("bigint").alias("total_cents"),
            (
                (F.min("q") == F.max("q")) & (F.min("c") == F.max("c"))
            ).alias("exact_double_entry"),
        )
        .where(F.col("n_lines") > 1)
    )


@register(
    "parts_abc_xyz_matrix",
    f"""
WITH monthly AS (
  SELECT l_partkey, date_trunc('month', l_shipdate) AS mth,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS mq,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS mc
  FROM lineitem GROUP BY 1, 2
), pk AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(mq) AS HUGEINT) AS sq,
         CAST(sum(CAST(mq AS HUGEINT) * mq) AS HUGEINT) AS sqq,
         CAST(sum(mc) AS BIGINT) AS cents
  FROM monthly GROUP BY l_partkey
), binned AS (
  SELECT l_partkey, cents, {suboctave_bin_sql("cents")} AS bin_id,
         CASE WHEN n = 1 THEN 'Z'
              WHEN 4 * n * (n * sqq - sq * sq) <= (n - 1) * sq * sq THEN 'X'
              WHEN n * (n * sqq - sq * sq) <= (n - 1) * sq * sq THEN 'Y'
              ELSE 'Z' END AS xyz_class
  FROM pk
), bins AS (
  SELECT bin_id, CAST(sum(cents) AS BIGINT) AS bin_cents
  FROM binned GROUP BY bin_id
), tot AS (
  SELECT CAST(sum(bin_cents) AS BIGINT) AS total_cents FROM bins
), classes AS (
  SELECT bin_id,
         CASE WHEN coalesce(sum(bin_cents) OVER (
                ORDER BY bin_id DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 5
              < total_cents * 4 THEN 'A'
              WHEN coalesce(sum(bin_cents) OVER (
                ORDER BY bin_id DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 20
              < total_cents * 19 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM bins, tot
)
SELECT c.abc_class, b.xyz_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(b.cents) AS BIGINT) AS revenue_cents,
       round(CAST(sum(b.cents) AS DOUBLE)
             / (SELECT total_cents FROM tot), 6) + 0.0 AS revenue_share
FROM binned b JOIN classes c USING (bin_id)
GROUP BY 1, 2
""",
    doc="ABC-XYZ inventory matrix: Pareto revenue class (sub-octave-binned "
    "cumulative share, no global sort) x demand-variability class (monthly-"
    "quantity CoV by integer cross-multiplication) — the 9-cell planner view",
)
def parts_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inventory planner's ABC-XYZ matrix: every part is classed on
    two axes — A/B/C by share of total revenue (A ≈ top 80%, B next 15%,
    C tail) and X/Y/Z by demand regularity (coefficient of variation of
    its monthly shipped quantity: X ≤ 0.5, Y ≤ 1.0, Z above or a single
    active month) — and the matrix reports part count, revenue and
    revenue share per cell. AX cells are forecast-friendly steady
    earners; CZ cells are the long tail candidates for stock cuts.

    Both axes are decided in exact integer arithmetic. The CoV threshold
    test cross-multiplies the sample-variance moments — CoV² =
    n(nΣq²−(Σq)²)/((n−1)(Σq)²) compared as 4·n·(nΣq²−(Σq)²) ≤ (n−1)(Σq)²
    in decimal128/HUGEINT — so no engine ever divides or square-roots.
    The ABC axis reuses the :func:`suboctave_bin` device from
    ``orders_abc_analysis``: per-part revenue cents bin into ≤ 512
    integer sub-octave bins, the cumulative share runs over the BIN
    table, and class boundaries snap to bin edges — distributed Pareto
    without a corpus-wide sort.

    Scale shape: one (part, month) aggregate off the raw scan, one
    part-level re-aggregate of those partials, a ≤ 512-row bin table
    with a SCALE-GUARDed window, a broadcast bin→class join back onto
    the part frame, and a ≤ 9-row final aggregate. At 100 TB only the
    first aggregate sees data volume, and it is a mergeable partial
    rollup on the table's natural key.

    Reference analog: none (extension surface — analytics family).
    """
    li = table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("bigint")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    monthly = (
        li.select(
            "l_partkey",
            F.date_trunc("month", F.col("l_shipdate")).alias("mth"),
            qty.alias("q"),
            cents.alias("c"),
        )
        .groupBy("l_partkey", "mth")
        .agg(F.sum("q").alias("mq"), F.sum("c").alias("mc"))
    )
    dec = "decimal(38,0)"
    pk = cut(
        monthly.groupBy("l_partkey").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("mq").cast(dec).alias("sq"),
            F.sum(F.col("mq").cast(dec) * F.col("mq")).cast(dec).alias("sqq"),
            F.sum("mc").cast("bigint").alias("cents"),
        )
    )
    n, sq, sqq = (F.col(c) for c in ("n", "sq", "sqq"))
    spread = n * sqq - sq * sq
    binned = pk.select(
        "cents",
        suboctave_bin("cents").alias("bin_id"),
        F.when(n == 1, "Z")
        .when(F.lit(4) * n * spread <= (n - 1) * sq * sq, "X")
        .when(n * spread <= (n - 1) * sq * sq, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    bins = binned.groupBy("bin_id").agg(
        F.sum("cents").cast("bigint").alias("bin_cents")
    )
    tot = bins.agg(F.sum("bin_cents").cast("bigint").alias("total_cents"))
    # SCALE GUARD: partition-less window over the BIN table only — the
    # sub-octave key of a bigint admits ≤ 512 rows at any corpus size.
    w = Window.orderBy(F.desc("bin_id")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    classes = (
        bins.withColumn(
            "cum_before",
            F.coalesce(F.sum("bin_cents").over(w), F.lit(0)).cast("bigint"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "bin_id",
            F.when(F.col("cum_before") * 5 < F.col("total_cents") * 4, "A")
            .when(F.col("cum_before") * 20 < F.col("total_cents") * 19, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    return (
        binned.join(F.broadcast(classes), "bin_id")
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "abc_class",
            "xyz_class",
            "n_parts",
            "revenue_cents",
            (
                F.round(
                    F.col("revenue_cents").cast("double")
                    / F.col("total_cents"),
                    6,
                )
                + F.lit(0.0)
            ).alias("revenue_share"),
        )
    )


#: target-encoding smoothing pseudo-count (rows of global prior per category)
TE_SMOOTH_M = 20


@register(
    "features_target_encoding",
    f"""
WITH base AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), cat AS (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_c,
         CAST(sum(cents) AS HUGEINT) AS s_c
  FROM base GROUP BY o_orderpriority
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS HUGEINT) AS s
  FROM base
), g AS (
  SELECT n, (s * 1000000) // n AS g_micro FROM tot
)
SELECT b.o_orderkey, b.o_orderpriority,
       CAST(CAST(((c.s_c - b.cents) * 1000000 + {TE_SMOOTH_M} * g.g_micro)
                 // (c.n_c - 1 + {TE_SMOOTH_M}) AS BIGINT) AS DOUBLE)
         / 1e6 AS te_cents
FROM base b JOIN cat c USING (o_orderpriority), g
""",
    doc="leakage-safe smoothed target encoding: leave-one-out category mean "
    f"of the cents target, shrunk toward the global mean with m={TE_SMOOTH_M} "
    "pseudo-rows — every step exact integer micro-cents (one decimal128 "
    "floor division per row), no float summation or rounding anywhere",
)
def features_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target encoding, the categorical-feature workhorse, in its
    leakage-safe form: each row's category is encoded as the mean target
    of the OTHER rows in its category (leave-one-out — a row never sees
    its own label, the in-fold leakage that inflates offline metrics),
    shrunk toward the global mean with :data:`TE_SMOOTH_M` pseudo-rows so
    rare categories don't memorize noise:

        te_i = (S_c − y_i + m·ȳ) / (n_c − 1 + m)

    The spec is INTEGER-FIRST: the global mean is quantized once to
    micro-cents (``g_micro = S·10⁶ div N``) and each row's encoding is a
    single decimal128 floor division of exact integers — a float-formula
    draft of this query landed on 6th-decimal rounding ties between
    engines (ULP-level multiply-add drift straddling round boundaries);
    integer micro-units make the value identical by construction, and
    the final ``/1e6`` presentation divide is exact in both engines.

    Scale shape: one category aggregate (a handful of groups — broadcast
    back), one 1-row global aggregate (broadcast), then a narrow map over
    the fact scan. The fact table never shuffles: at 100 TB the encode is
    scan-speed, the model state is category-count-sized, and the same
    two broadcast frames ARE the fitted encoder a scoring pipeline would
    persist (the `memo_publish` pattern the IVF/PQ indexes demonstrate).

    Reference analog: none (extension surface — ML feature-engineering
    family, beside `features_quantile_binning`).
    """
    o = table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    base = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    cat = base.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_c"),
        F.sum("cents").cast(dec).alias("s_c"),
    )
    g = base.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast(dec).alias("s"),
    ).select("n", F.expr("CAST(s * 1000000 AS decimal(38,0)) div n").alias("g_micro"))
    te_micro = F.expr(
        f"CAST((s_c - cents) * 1000000 + {TE_SMOOTH_M} * g_micro AS decimal(38,0))"
        f" div (n_c - 1 + {TE_SMOOTH_M})"
    )
    return (
        base.join(F.broadcast(cat), "o_orderpriority")
        .crossJoin(F.broadcast(g))
        .select(
            "o_orderkey",
            "o_orderpriority",
            (te_micro.cast("double") / 1e6).alias("te_cents"),
        )
    )


#: bootstrap replica count
BOOT_B = 32
#: cumulative Poisson(1) CDF thresholds scaled to 1e6 (weights 0..5, else 6)
BOOT_POIS_CDF = (367879, 735759, 919699, 981012, 996340, 999406)


def _boot_weight_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(BOOT_POIS_CDF)
    )
    return f"(CASE {cases} ELSE 6 END)"


#: counter-based replica draw (random123/Philox idea: hash(seed, counter)):
#: one md5 per ROW yields a 48-bit seed; each replica's uniform comes from a
#: 3-round XOR-Feistel on the seed's 24-bit halves, keyed by md5-derived
#: per-replica round keys. All arithmetic stays below 2^49 (ANSI-safe) and
#: is identical in Spark SQL and DuckDB. Measured quality at N=1e5 rows:
#: worst cross-replica weight |corr| over all 496 pairs = 0.011 (the noise
#: floor), per-replica decile chi-square 1.9 (df 9), weight means 1.00.
BOOT_M24 = 1 << 24
BOOT_MIX = (14348907, 11390625, 9765625)  # odd multipliers 3^15, 15^6, 5^10


def _boot_round_keys() -> list[tuple[int, int, int]]:
    import hashlib

    def rk(i: int, b: int) -> int:
        return int(hashlib.md5(f"boot:{i}:{b}".encode()).hexdigest()[:6], 16)

    return [(rk(1, b), rk(2, b), rk(3, b)) for b in range(BOOT_B)]


BOOT_KEYS = _boot_round_keys()


def _boot_u_sql(l0: str, r0: str, xor: str = "xor({}, {})") -> str:
    """The replica uniform as SQL text over 24-bit halves ``l0``/``r0`` and
    round-key columns k1/k2/k3. The xor spelling differs per engine —
    DuckDB has ``xor(a, b)`` (its ``^`` is power), Spark SQL has ``a ^ b``
    — so the caller passes the format; every other op is shared."""
    c1, c2, c3 = BOOT_MIX
    l1 = xor.format(l0, f"(({r0} + k1) * {c1}) % {BOOT_M24}")
    r1 = xor.format(r0, f"(({l1} + k2) * {c2}) % {BOOT_M24}")
    l2 = xor.format(l1, f"(({r1} + k3) * {c3}) % {BOOT_M24}")
    return f"(({l2}) * {BOOT_M24} + ({r1})) % 1000000"


def _boot_keys_values_sql() -> str:
    rows = ", ".join(
        f"({b}, {k1}, {k2}, {k3})" for b, (k1, k2, k3) in enumerate(BOOT_KEYS)
    )
    return f"(VALUES {rows}) keys(b, k1, k2, k3)"


@register(
    "orders_bootstrap_ci",
    f"""
WITH base AS (
  SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), est AS (
  SELECT (CAST(sum(cents) AS HUGEINT) * 1000000) // count(*) AS est_micro
  FROM base
), seeded AS (
  SELECT cents,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))::BIGINT
           AS h
  FROM base
), rep AS (
  SELECT b,
         {_boot_weight_sql("(" + _boot_u_sql("(h // 16777216)", "(h % 16777216)") + ")")} AS w,
         cents
  FROM seeded, {_boot_keys_values_sql()}
), means AS (
  SELECT b, (CAST(sum(w * cents) AS HUGEINT) * 1000000)
            // CAST(sum(w) AS HUGEINT) AS m
  FROM rep GROUP BY b
), ranked AS (
  SELECT m, row_number() OVER (ORDER BY m, b) AS r FROM means
)
SELECT CAST({BOOT_B} AS BIGINT) AS n_replicas,
       (SELECT CAST(est_micro AS BIGINT) FROM est) AS est_micro,
       CAST(max(CASE WHEN r = 2 THEN m END) AS BIGINT) AS lo_micro,
       CAST(max(CASE WHEN r = {BOOT_B - 1} THEN m END) AS BIGINT) AS hi_micro
FROM ranked
""",
    doc=f"Poisson bootstrap CI for the mean order value: {BOOT_B} replicas "
    "with counter-based Poisson(1) weights (one md5 seed per row + a "
    "keyed XOR-Feistel per replica - deterministic, engine- and "
    "layout-independent), replica means in exact integer micro-cents, "
    "interval = 2nd/31st order statistics",
)
def orders_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean order value, in the only
    form that distributes: the POISSON bootstrap (Chamandy et al.) — each
    replica reweights every row independently with w ~ Poisson(1) instead
    of resampling n-of-n (which needs global coordination). The weights
    are CONTENT-ADDRESSED, not random(), and COUNTER-BASED, not
    per-replica-hashed (the random123/Philox construction: a keyed mixer
    over (seed, counter)): one md5 per ROW yields a 48-bit seed, and each
    replica's uniform is a 3-round XOR-Feistel over the seed's 24-bit
    halves with md5-derived per-replica round keys — the first version
    computed B md5s per row and spent 40 of its 80 s at sf1 inside md5
    (measured); the mixer is ~30× cheaper with measured draw quality at
    the sampling noise floor (worst cross-replica weight |corr| 0.011
    over all 496 pairs at N=1e5, decile chi² 1.9). Every engine, run and
    cluster layout draws the identical pseudo-sample, so the DuckDB
    oracle verifies the CI bit-for-bit. Replica means are exact integer
    micro-cents (decimal128 weighted sums, one floor division each), and
    the interval is the 2nd/:data:`BOOT_B`−1st order statistics of the
    :data:`BOOT_B` replica means (a ~93.75% interval at B=32) — order
    statistics of exact integers, so the CI is bit-stable.

    Scale shape: one scan computes one md5 per row, fans out
    ×:data:`BOOT_B` row-locally (explode + a broadcast join to the B-row
    round-key table — no shuffle), mixes two dozen integer ops per
    row-replica, then ONE hash aggregate to B partial rows per map task;
    the order-statistic window is SCALE-GUARDed by B.

    Reference analog: none (extension surface — experimentation family,
    beside `events_ab_test_ztest`; the z-test assumes normality, the
    bootstrap measures the sampling distribution instead).
    """
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    est = base.agg(
        F.expr(
            "CAST(CAST(sum(cents) AS decimal(38,0)) * 1000000 AS decimal(38,0))"
            " div count(*)"
        ).alias("est_micro")
    )
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 12), 16, 10
    ).cast("bigint")
    seeded = base.select(
        "cents",
        (h.bitwiseAND(F.lit(BOOT_M24 - 1))).alias("r0"),
        F.expr(f"CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 12),"
               f" 16, 10) AS BIGINT) div {BOOT_M24}").alias("l0"),
    )
    keys = local_frame(
        spark,
        [(b, k1, k2, k3) for b, (k1, k2, k3) in enumerate(BOOT_KEYS)],
        "b int, k1 bigint, k2 bigint, k3 bigint",
    )
    b_col = F.explode(F.array(*[F.lit(k) for k in range(BOOT_B)])).alias("b")
    rep = (
        seeded.select("cents", "l0", "r0", b_col)
        .join(F.broadcast(keys), "b")
        .select(
            "b",
            "cents",
            F.expr(_boot_u_sql("l0", "r0", xor="({} ^ {})")).alias("u"),
        )
    )
    w = F.lit(6)
    for k in range(len(BOOT_POIS_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < BOOT_POIS_CDF[k], k).otherwise(w)
    rep = rep.select("b", "cents", w.cast("bigint").alias("w"))
    means = rep.groupBy("b").agg(
        F.expr(
            "CAST(CAST(sum(w * cents) AS decimal(38,0)) * 1000000"
            " AS decimal(38,0)) div CAST(sum(w) AS decimal(38,0))"
        ).alias("m")
    )
    # SCALE GUARD: partition-less window over the B-row replica table only.
    ranked = means.withColumn(
        "r", F.row_number().over(Window.orderBy("m", "b"))
    )
    return (
        ranked.agg(
            F.max(F.when(F.col("r") == 2, F.col("m")))
            .cast("bigint")
            .alias("lo_micro"),
            F.max(F.when(F.col("r") == BOOT_B - 1, F.col("m")))
            .cast("bigint")
            .alias("hi_micro"),
        )
        .crossJoin(F.broadcast(est))
        .select(
            F.lit(BOOT_B).cast("bigint").alias("n_replicas"),
            F.col("est_micro").cast("bigint").alias("est_micro"),
            "lo_micro",
            "hi_micro",
        )
    )


#: Mann-Whitney price-bin width in cents ($1 000): the order-price domain is
#: bounded (~$850–$600k at every TPC-H SF), so the bin frame stays ≤ ~600
#: rows regardless of corpus size — the segmented-prefix-sum scale guard.
MWU_BIN_CENTS = 100_000


@register(
    "orders_mannwhitney_u",
    f"""
WITH base AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END
           AS is1
  FROM orders
), pv AS (
  SELECT cents, CAST(sum(is1) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS ct
  FROM base GROUP BY cents
), cum AS (
  SELECT cents, c1, ct,
         CAST(coalesce(sum(ct) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cbefore
  FROM pv
), agg AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(ct) AS BIGINT) AS n,
         CAST(sum(CAST(c1 AS HUGEINT) * (2 * cbefore + ct + 1)) AS HUGEINT)
           AS r1x2,
         CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS HUGEINT) AS tie_cubes
  FROM cum
)
SELECT n1, CAST(n - n1 AS BIGINT) AS n2,
       CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u1_twice,
       CAST(tie_cubes AS BIGINT) AS tie_cubes,
       round((CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
              - CAST(n1 AS DOUBLE) * (n - n1))
             / (2 * sqrt(CAST(n1 AS DOUBLE) * (n - n1) / 12.0
                * ((n + 1) - CAST(tie_cubes AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (n - 1))))), 6) + 0.0 AS z_score
FROM agg
""",
    doc="exact Mann-Whitney U rank-sum test (urgent-priority vs normal order "
    "value): tie-averaged ranks from per-value counts + a segmented prefix "
    "sum (price-bin offsets broadcast, intra-bin windows) — no global sort; "
    "U doubled to stay integer, tie-corrected normal z at the end",
)
def orders_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) test of whether urgent/high
    priority orders have a different value distribution than the rest —
    the nonparametric sibling of `events_ab_test_ztest` (no normality
    assumption; ranks only).

    The textbook statistic needs a global rank, which distributes badly.
    Instead ranks come from per-VALUE counts: for a distinct price v with
    c1 group-1 rows, ct total rows and cbefore rows strictly below it, the
    tie-averaged rank sum contribution is c1 * (cbefore + (ct+1)/2); the
    query carries 2× that to stay in exact integers (decimal128 on the
    Spark side, HUGEINT in the oracle). The cumulative-below count uses a
    SEGMENTED prefix sum — per-value counts shuffle once on cents, a
    ≤~600-row price-bin frame (:data:`MWU_BIN_CENTS` wide over the bounded
    TPC-H price domain) carries exclusive bin offsets through one
    broadcast, and the intra-bin exclusive running sum is a window
    PARTITIONED by bin — so no partition-less window ever sees a
    corpus-sized frame. U1 = R1 − n1(n1+1)/2, and the tie-corrected normal
    approximation z = (U1 − n1·n2/2) / σ is the single float step, rounded
    to 6 decimals from exactly-representable integer inputs (u1_twice
    < 2^53 through sf10 — the doc'd double cliff).

    Scale shape: one shuffle on cents, one bounded broadcast, one
    partitioned window, one scalar aggregate.

    Reference analog: none (extension surface — experimentation family).
    """
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("is1"),
    )
    pv = base.groupBy("cents").agg(
        F.sum("is1").cast("bigint").alias("c1"),
        F.count("*").cast("bigint").alias("ct"),
    )
    binned = pv.withColumn("bin", F.expr(f"cents div {MWU_BIN_CENTS}"))
    # SCALE GUARD: partition-less window over the price-bin frame only —
    # bounded by the price domain (~600 rows), not order count.
    w_bins = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bin_offsets = (
        binned.groupBy("bin")
        .agg(F.sum("ct").alias("bt"))
        .select(
            "bin",
            F.coalesce(F.sum("bt").over(w_bins), F.lit(0))
            .cast("bigint")
            .alias("bin_before"),
        )
    )
    w_intra = (
        Window.partitionBy("bin")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = binned.join(F.broadcast(bin_offsets), "bin").select(
        "c1",
        "ct",
        (
            F.col("bin_before")
            + F.coalesce(F.sum("ct").over(w_intra), F.lit(0))
        )
        .cast("bigint")
        .alias("cbefore"),
    )
    dec = "decimal(38,0)"
    agg = cum.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("ct").cast("bigint").alias("n"),
        F.sum(
            F.col("c1").cast(dec) * (2 * F.col("cbefore") + F.col("ct") + 1)
        ).alias("r1x2"),
        F.sum(
            F.col("ct").cast(dec) * F.col("ct") * F.col("ct") - F.col("ct")
        ).alias("tie_cubes"),
    )
    u1_twice = (F.col("r1x2") - F.col("n1").cast(dec) * (F.col("n1") + 1)).cast(
        "bigint"
    )
    n1d = F.col("n1").cast("double")
    nd = F.col("n").cast("double")
    n2d = (F.col("n") - F.col("n1")).cast("double")
    sigma = F.sqrt(
        n1d * n2d / 12.0
        * ((nd + 1) - F.col("tie_cubes").cast("double") / (nd * (nd - 1)))
    )
    return agg.select(
        "n1",
        (F.col("n") - F.col("n1")).cast("bigint").alias("n2"),
        u1_twice.alias("u1_twice"),
        F.col("tie_cubes").cast("bigint").alias("tie_cubes"),
        (
            F.round((u1_twice.cast("double") - n1d * n2d) / (2 * sigma), 6)
            + F.lit(0.0)
        ).alias("z_score"),
    )


@register(
    "parts_croston_intermittent",
    """
WITH monthly AS (
  SELECT l_partkey,
         (year(l_shipdate) * 12 + month(l_shipdate)) AS m_idx,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS mq
  FROM lineitem GROUP BY 1, 2
), pk AS (
  SELECT l_partkey,
         CAST(count(*) AS BIGINT) AS d_months,
         CAST(sum(mq) AS BIGINT) AS sum_qty,
         CAST(max(m_idx) - min(m_idx) AS BIGINT) AS span_months
  FROM monthly GROUP BY l_partkey
)
SELECT l_partkey, d_months, sum_qty, span_months,
       CASE WHEN d_months >= 2 AND span_months > 0
            THEN CAST((CAST(sum_qty AS HUGEINT) * (d_months - 1) * 1000000)
                      // (d_months * span_months) AS BIGINT)
       END AS croston_micro
FROM pk
""",
    doc="Croston intermittent-demand rate per part: mean nonzero monthly "
    "demand / mean inter-demand interval, exact integer micro-units via the "
    "telescoped interval sum (max-min month index) — no window needed",
)
def parts_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method, the standard forecast for INTERMITTENT demand
    (spare parts, long-tail SKUs) where most periods sell nothing and a
    plain moving average under-forecasts: demand rate = mean nonzero
    demand ÷ mean interval between demand months. The interval sum
    TELESCOPES — Σ successive gaps = last demand month − first — so the
    whole statistic needs no window or ordering, just min/max/sum/count
    per part, and the rate is one decimal128 floor division in exact
    integer micro-units: rate = Σq·(d−1)·10⁶ div (d·span). Parts with a
    single demand month report NULL (no interval evidence), the honest
    Croston posture.

    Scale shape: one (part, month) aggregate off the raw scan (mergeable
    partials on the natural key), one part-level rollup, a narrow map.
    No joins, no windows, nothing corpus-sized after the first
    aggregate. The XYZ matrix (`parts_abc_xyz_matrix`) classifies the
    same monthly frame by variability; this prices the demand rate.

    Reference analog: none (extension surface — forecasting family,
    beside `orders_forecast_naive_backtest`).
    """
    li = table(spark, sf_dir, "lineitem")
    monthly = (
        li.select(
            "l_partkey",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("m_idx"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("l_partkey", "m_idx")
        .agg(F.sum("q").alias("mq"))
    )
    pk = monthly.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("d_months"),
        F.sum("mq").cast("bigint").alias("sum_qty"),
        (F.max("m_idx") - F.min("m_idx")).cast("bigint").alias("span_months"),
    )
    croston = F.expr(
        "CAST(CAST(sum_qty AS decimal(38,0)) * (d_months - 1) * 1000000"
        " AS decimal(38,0)) div (d_months * span_months)"
    ).cast("bigint")
    return pk.select(
        "l_partkey",
        "d_months",
        "sum_qty",
        "span_months",
        F.when(
            (F.col("d_months") >= 2) & (F.col("span_months") > 0), croston
        ).alias("croston_micro"),
    )


#: peak test: day revenue must exceed 130% of the trailing-7-day mean
PEAK_PCT = 130
PEAK_TRAIL = 7


@register(
    "orders_peak_revenue_days",
    f"""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), ctx AS (
  SELECT day, cents,
         lag(cents) OVER w AS prev_cents,
         lead(cents) OVER w AS next_cents,
         sum(cents) OVER (w ROWS BETWEEN {PEAK_TRAIL} PRECEDING
                          AND 1 PRECEDING) AS trail_cents,
         count(*) OVER (w ROWS BETWEEN {PEAK_TRAIL} PRECEDING
                        AND 1 PRECEDING) AS trail_n
  FROM daily
  WINDOW w AS (ORDER BY day)
)
SELECT day, cents, CAST(trail_cents AS BIGINT) AS trail_cents
FROM ctx
WHERE prev_cents IS NOT NULL AND next_cents IS NOT NULL
  AND trail_n = {PEAK_TRAIL}
  AND cents > prev_cents AND cents > next_cents
  AND 100 * {PEAK_TRAIL} * cents > {PEAK_PCT} * trail_cents
""",
    doc=f"revenue peak detection: local maxima exceeding {PEAK_PCT}% of the "
    f"trailing-{PEAK_TRAIL}-day mean by integer cross-multiplication over "
    "the calendar-bounded day frame",
)
def orders_peak_revenue_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection, the alerting primitive: a day is a revenue peak
    when it is a strict local maximum (above both neighbors) AND exceeds
    :data:`PEAK_PCT`% of its trailing :data:`PEAK_TRAIL`-day mean — the
    neighbor test kills plateaus, the trailing test kills noise around a
    rising baseline. The mean comparison is cross-multiplied
    (``100·7·cents > 130·Σtrail``), so peaks are decided in exact
    integer cents; days without a full trailing window are ineligible
    (the honest cold-start rule).

    Scale shape: one day-grain aggregate off the raw scan, then lag/
    lead/trailing-sum share ONE partition-less window over the day
    frame — SCALE GUARD: calendar-bounded (≤ a few thousand rows for
    decades), never corpus-sized.

    Reference analog: none (extension surface — monitoring family;
    `events_cusum_drift` finds sustained level shifts, this finds
    single-day spikes).
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    # SCALE GUARD: partition-less window over the DAY frame only
    # (calendar-bounded at any corpus size).
    w = Window.orderBy("day")
    w_tr = w.rowsBetween(-PEAK_TRAIL, -1)
    ctx = daily.select(
        "day",
        "cents",
        F.lag("cents").over(w).alias("prev_cents"),
        F.lead("cents").over(w).alias("next_cents"),
        F.sum("cents").over(w_tr).alias("trail_cents"),
        F.count("*").over(w_tr).alias("trail_n"),
    )
    return ctx.where(
        F.col("prev_cents").isNotNull()
        & F.col("next_cents").isNotNull()
        & (F.col("trail_n") == PEAK_TRAIL)
        & (F.col("cents") > F.col("prev_cents"))
        & (F.col("cents") > F.col("next_cents"))
        & (
            F.lit(100 * PEAK_TRAIL) * F.col("cents")
            > F.lit(PEAK_PCT) * F.col("trail_cents")
        )
    ).select("day", "cents", F.col("trail_cents").cast("bigint").alias("trail_cents"))


@register(
    "parts_price_index",
    """
WITH pm AS (
  SELECT l_partkey,
         (year(l_shipdate) * 12 + month(l_shipdate)) AS m_idx,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem GROUP BY 1, 2
), priced AS (
  SELECT l_partkey, m_idx, qty,
         (CAST(cents AS HUGEINT) * 1000000) // qty AS p_micro
  FROM pm
), base AS (
  SELECT l_partkey, qty AS q0, p_micro AS p0
  FROM priced WHERE m_idx = (SELECT min(m_idx) FROM priced)
), matched AS (
  SELECT t.m_idx,
         CAST(sum(t.p_micro * b.q0) AS HUGEINT) AS lnum,
         CAST(sum(b.p0 * b.q0) AS HUGEINT) AS lden,
         CAST(sum(t.p_micro * t.qty) AS HUGEINT) AS pnum,
         CAST(sum(b.p0 * t.qty) AS HUGEINT) AS pden,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM priced t JOIN base b USING (l_partkey)
  GROUP BY t.m_idx
)
SELECT m_idx, n_parts,
       CAST((lnum * 1000000) // lden AS BIGINT) AS laspeyres_micro,
       CAST((pnum * 1000000) // pden AS BIGINT) AS paasche_micro
FROM matched
""",
    doc="matched-model price indices per month: Laspeyres (base-weighted) "
    "and Paasche (current-weighted) vs the first month — unit prices and "
    "indices in exact integer micro-units, decimal128 basket sums",
)
def parts_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The economist's price index pair over the part catalog, matched-model
    form: per month, Laspeyres Σp_t·q₀ / Σp₀·q₀ (what the BASE basket
    costs now) and Paasche Σp_t·q_t / Σp₀·q_t (what the CURRENT basket
    would have cost then), both over the parts priced in BOTH months —
    the matched-model restriction that makes indices well-defined without
    imputation. Unit prices are exact micro-cents (one floor division per
    part-month), basket sums are decimal128 products of integers, and
    each index is one final floor division to micro-units — no float
    anywhere, so the series is bit-stable.

    Scale shape: one (part, month) aggregate off the raw scan (the same
    mergeable rollup the XYZ/Croston family rides), a broadcast-sized
    base-month frame joined back on partkey, and a month-level rollup
    bounded by the calendar. Index computation never rescans raw data.

    Reference analog: none (extension surface — economic-index family,
    beside `orders_seasonality_index` and `orders_revenue_growth`).
    """
    li = table(spark, sf_dir, "lineitem")
    pm = (
        li.select(
            "l_partkey",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("m_idx"),
            F.col("l_quantity").cast("bigint").alias("q"),
            F.floor(F.col("l_extendedprice") * 100 + 0.5)
            .cast("bigint")
            .alias("c"),
        )
        .groupBy("l_partkey", "m_idx")
        .agg(F.sum("q").alias("qty"), F.sum("c").alias("cents"))
    )
    priced = pm.select(
        "l_partkey",
        "m_idx",
        "qty",
        F.expr("(CAST(cents AS decimal(38,0)) * 1000000) div qty").alias("p_micro"),
    )
    base_m = priced.agg(F.min("m_idx").alias("m0"))
    base = (
        priced.crossJoin(F.broadcast(base_m))
        .where(F.col("m_idx") == F.col("m0"))
        .select(
            "l_partkey", F.col("qty").alias("q0"), F.col("p_micro").alias("p0")
        )
    )
    dec = "decimal(38,0)"
    matched = (
        priced.join(base, "l_partkey")
        .groupBy("m_idx")
        .agg(
            F.sum(F.col("p_micro").cast(dec) * F.col("q0")).cast(dec).alias("lnum"),
            F.sum(F.col("p0").cast(dec) * F.col("q0")).cast(dec).alias("lden"),
            F.sum(F.col("p_micro").cast(dec) * F.col("qty")).cast(dec).alias("pnum"),
            F.sum(F.col("p0").cast(dec) * F.col("qty")).cast(dec).alias("pden"),
            F.count("*").cast("bigint").alias("n_parts"),
        )
    )
    return matched.select(
        "m_idx",
        "n_parts",
        F.expr("CAST((lnum * 1000000) div lden AS BIGINT)").alias(
            "laspeyres_micro"
        ),
        F.expr("CAST((pnum * 1000000) div pden AS BIGINT)").alias(
            "paasche_micro"
        ),
    )


#: ABC-migration period boundary: orders strictly before this date are
#: period 1, the rest period 2 (mid-point of the fixture calendar)
ABC_SPLIT_DATE = "1998-07-01"


def _abc_class_sql(period_pred: str) -> str:
    """Per-customer ABC class CTE text for one period (sub-octave-binned
    cumulative revenue share — the `orders_abc_analysis` device)."""
    return f"""(
  WITH rev AS (
    SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                           AS BIGINT) AS cents
    FROM orders WHERE {period_pred} GROUP BY o_custkey
  ), binned AS (
    SELECT o_custkey, cents, {suboctave_bin_sql("cents")} AS bin_id FROM rev
  ), bins AS (
    SELECT bin_id, CAST(sum(cents) AS BIGINT) AS bin_cents
    FROM binned GROUP BY bin_id
  ), tot AS (SELECT CAST(sum(bin_cents) AS BIGINT) AS total_cents FROM bins),
  classes AS (
    SELECT bin_id,
           CASE WHEN coalesce(sum(bin_cents) OVER (
                  ORDER BY bin_id DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 5
                < total_cents * 4 THEN 'A'
                WHEN coalesce(sum(bin_cents) OVER (
                  ORDER BY bin_id DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 20
                < total_cents * 19 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM bins, tot
  )
  SELECT b.o_custkey, c.abc_class
  FROM binned b JOIN classes c USING (bin_id)
)"""


@register(
    "customers_abc_migration",
    f"""
WITH p1 AS {_abc_class_sql(f"o_orderdate < TIMESTAMP '{ABC_SPLIT_DATE}'")},
p2 AS {_abc_class_sql(f"o_orderdate >= TIMESTAMP '{ABC_SPLIT_DATE}'")}
SELECT coalesce(p1.abc_class, 'N') AS class_p1,
       coalesce(p2.abc_class, 'N') AS class_p2,
       CAST(count(*) AS BIGINT) AS n_customers
FROM p1 FULL OUTER JOIN p2 USING (o_custkey)
GROUP BY 1, 2
""",
    doc="ABC segment migration matrix across the calendar midpoint: two "
    "independent sub-octave-binned Pareto classifications full-outer "
    "joined per customer — N marks absence; exact integer cents throughout",
)
def customers_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment DYNAMICS, the question the static ABC table can't answer:
    which customers moved between revenue classes across the calendar
    midpoint (:data:`ABC_SPLIT_DATE`)? Each period gets its own
    independent Pareto classification (the `orders_abc_analysis`
    sub-octave-bin device — no global sort, exact integer cents, class
    boundaries snapped to bin edges), the two per-customer class maps
    full-outer join, and absence in a period reads 'N' — so churned-out
    A-customers (A→N) and newly-acquired whales (N→A) land in their own
    matrix cells. The ≤16-cell output is the retention team's priority
    list.

    Scale shape: per period one custkey aggregate + the ≤512-row bin
    pipeline; the migration join is per-customer on the same custkey
    hashing both sides already carry, then a ≤16-row rollup.

    Reference analog: none (extension surface — segmentation family,
    the longitudinal sibling of `orders_abc_analysis`).
    """
    o = table(spark, sf_dir, "orders")

    def classify(period_df: DataFrame) -> DataFrame:
        cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
        rev = period_df.groupBy("o_custkey").agg(
            F.sum(cents).cast("bigint").alias("cents")
        )
        binned = rev.select(
            "o_custkey", "cents", suboctave_bin("cents").alias("bin_id")
        )
        bins = binned.groupBy("bin_id").agg(
            F.sum("cents").cast("bigint").alias("bin_cents")
        )
        tot = bins.agg(F.sum("bin_cents").cast("bigint").alias("total_cents"))
        # SCALE GUARD: partition-less window over the ≤512-row BIN table.
        w = Window.orderBy(F.desc("bin_id")).rowsBetween(
            Window.unboundedPreceding, -1
        )
        classes = (
            bins.withColumn(
                "cum_before",
                F.coalesce(F.sum("bin_cents").over(w), F.lit(0)).cast("bigint"),
            )
            .crossJoin(F.broadcast(tot))
            .select(
                "bin_id",
                F.when(F.col("cum_before") * 5 < F.col("total_cents") * 4, "A")
                .when(F.col("cum_before") * 20 < F.col("total_cents") * 19, "B")
                .otherwise("C")
                .alias("abc_class"),
            )
        )
        return binned.join(F.broadcast(classes), "bin_id").select(
            "o_custkey", "abc_class"
        )

    split = F.lit(ABC_SPLIT_DATE).cast("timestamp")
    p1 = classify(o.where(F.col("o_orderdate") < split)).withColumnRenamed(
        "abc_class", "c1"
    )
    p2 = classify(o.where(F.col("o_orderdate") >= split)).withColumnRenamed(
        "abc_class", "c2"
    )
    return (
        p1.join(p2, "o_custkey", "full_outer")
        .groupBy(
            F.coalesce(F.col("c1"), F.lit("N")).alias("class_p1"),
            F.coalesce(F.col("c2"), F.lit("N")).alias("class_p2"),
        )
        .agg(F.count("*").cast("bigint").alias("n_customers"))
    )


@register(
    "lineitem_price_elasticity",
    """
WITH obs AS (
  SELECT p.p_brand,
         CAST(round(ln(CAST(
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS HUGEINT)
           // CAST(sum(CAST(l.l_quantity AS BIGINT)) AS HUGEINT)
         AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x,
         CAST(round(ln(CAST(sum(CAST(l.l_quantity AS BIGINT)) AS DOUBLE))
                    * 1000000, 0) AS BIGINT) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand, l.l_partkey,
           extract(year FROM l.l_shipdate) * 12 + extract(month FROM l.l_shipdate)
), s AS (
  SELECT p_brand, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM obs GROUP BY p_brand
)
SELECT p_brand, CAST(n AS BIGINT) AS n_obs,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) + 0.0 AS elasticity,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             * CAST(n * sxy - sx * sy AS DOUBLE)
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0 AS r2
FROM s
WHERE n >= 3 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
""",
    doc="price elasticity of demand per brand: log-log OLS over (part, "
    "month) observations — unit price by exact integer division, both "
    "logs snapped to fixed-point micro-units, exact decimal128 sufficient "
    "statistics, slope/R² as single rounded divisions",
)
def lineitem_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The econometric workhorse on the sales data: elasticity = d ln(qty)
    / d ln(price), estimated per brand by OLS over (part, month) demand
    observations. Unit price is an exact integer floor division of cent
    and quantity sums; ln(price) and ln(qty) are snapped to fixed-point
    micro-units IMMEDIATELY (the Zipf-fit discipline — one libm ln per
    observation, rounded to 10^-6 where ~10^-13 of cross-engine slack
    lives), so the OLS sufficient statistics are exact decimal128
    integers and the slope/R² are single IEEE divisions rounded at the
    end. Degenerate brands (under 3 observations or zero variance in
    either axis) are excluded on both engines by the same exact integer
    predicates.

    Scale shape: one shuffle to the (brand, part, month) observation
    frame (map-side partials), one to the per-brand statistics; the part
    dimension joins in before the first aggregate (broadcastable at
    dimension scale, unhinted per the round-6 policy — AQE decides).

    Reference analog: none (extension surface — statistics/mining family,
    beside `lineitem_ols_price_model` [levels-on-levels within return
    flags] — elasticity is the log-log slope economists actually read).
    """
    # spread: the broadcast part-probe + the (brand, part, month)
    # partial aggregate run above a 2-split fixture scan; the repartition
    # on the aggregate's own part key parallelizes them (no-op at real
    # split counts; all sums exact integers/decimals).
    li = spread(
        table(spark, sf_dir, "lineitem"), "l_partkey", src=(sf_dir, "lineitem")
    )
    p = table(spark, sf_dir, "part")
    month = (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("m")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    qty = F.col("l_quantity").cast("bigint")
    dec = "decimal(38,0)"
    obs = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "l_partkey", month)
        .agg(
            F.expr(
                "CAST(round(ln(CAST("
                "CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))"
                " AS decimal(38,0))"
                " div CAST(sum(CAST(l_quantity AS BIGINT)) AS decimal(38,0))"
                " AS DOUBLE)) * 1000000, 0) AS BIGINT)"
            ).alias("x"),
            F.round(
                F.log(F.sum(qty).cast("double")) * 1000000, 0
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    s = obs.groupBy("p_brand").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        s.where((F.col("n") >= 3) & (varx_n > 0) & (vary_n > 0))
        .select(
            "p_brand",
            F.col("n").cast("bigint").alias("n_obs"),
            (
                F.round(cov_n.cast("double") / varx_n.cast("double"), 6)
                + F.lit(0.0)
            ).alias("elasticity"),
            (
                F.round(
                    cov_n.cast("double")
                    * cov_n.cast("double")
                    / (varx_n.cast("double") * vary_n.cast("double")),
                    6,
                )
                + F.lit(0.0)
            ).alias("r2"),
        )
    )


@register(
    "lineitem_anova_linenumber",
    """
WITH g AS (
  SELECT l_linenumber,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS HUGEINT) AS s,
         CAST(sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                       AS HUGEINT)
                  * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS HUGEINT) AS ss
  FROM lineitem GROUP BY l_linenumber
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS HUGEINT) AS nn,
         CAST(sum(s) AS HUGEINT) AS st,
         CAST(sum(ss) AS HUGEINT) AS sst,
         CAST(sum(CAST(s * s AS HUGEINT) * 1000000 // n) AS HUGEINT)
           AS between_num_micro
  FROM g
)
SELECT k AS n_groups, CAST(nn AS BIGINT) AS n_rows,
       round((CAST(between_num_micro AS DOUBLE) / 1e6
              - CAST(st AS DOUBLE) * st / CAST(nn AS DOUBLE))
             / (k - 1)
             / ((CAST(sst AS DOUBLE)
                 - CAST(between_num_micro AS DOUBLE) / 1e6)
                / (CAST(nn AS DOUBLE) - k)), 6) + 0.0 AS f_stat
FROM tot
""",
    doc="one-way ANOVA of line price across line numbers: per-group exact "
    "integer moments (decimal128 squares), between/within sums of squares "
    "combined in fixed double order, F as one rounded expression",
)
def lineitem_anova_linenumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA — the multi-group member of the experimentation
    family (t/z compare two arms; ANOVA asks whether ANY of the 7 line
    numbers differs in mean line price). Sufficient statistics are exact:
    per-group n, Σcents, Σcents² in decimal128, plus Σ(s²·10⁶ div n) —
    the between-groups raw term kept integer by a micro-scaled floor
    division per group (7 divisions total, each exact). The F statistic
    assembles those exact integers in ONE fixed double expression:
    F = [Σs²/n − (Σs)²/N] / (k−1) ÷ [Σx² − Σs²/n] / (N−k), rounded at
    the end — both engines evaluate the identical operation sequence on
    identical integers.

    Scale shape: ONE hash aggregate keyed by line number (map-side
    partials), then a 7-row reduction. Nothing else.

    Reference analog: none (extension surface — experimentation family,
    beside events_ab_test_ztest / orders_mannwhitney_u).
    """
    li = table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    dec = "decimal(38,0)"
    g = li.groupBy("l_linenumber").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(cents).cast(dec).alias("s"),
        F.sum(cents.cast(dec) * cents).alias("ss"),
    )
    tot = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast(dec).alias("nn"),
        F.sum("s").cast(dec).alias("st"),
        F.sum("ss").cast(dec).alias("sst"),
        # decimal floor-division, NOT `div`: Spark's div returns LONG and
        # s^2*1e6/n exceeds int64 at every SF (ANSI raises); operands are
        # positive so floor == the oracle's HUGEINT // truncation
        F.sum(
            F.expr(
                "CAST(floor(CAST(s * s AS decimal(38,0)) * 1000000 / n)"
                " AS decimal(38,0))"
            )
        ).alias("between_num_micro"),
    )
    bn = F.col("between_num_micro").cast("double") / 1e6
    nn = F.col("nn").cast("double")
    k = F.col("k")
    f_stat = F.round(
        (bn - F.col("st").cast("double") * F.col("st").cast("double") / nn)
        / (k - 1)
        / ((F.col("sst").cast("double") - bn) / (nn - k)),
        6,
    )
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("nn").cast("bigint").alias("n_rows"),
        (f_stat + F.lit(0.0)).alias("f_stat"),
    )


#: newsvendor economics: underage cost 3, overage cost 1 → critical
#: fractile cu/(cu+co) = 3/4; parts need this many observed demand months
NV_CU, NV_CO = 3, 1
NV_MIN_MONTHS = 8


@register(
    "parts_newsvendor_stock",
    f"""
WITH monthly AS (
  SELECT l_partkey,
         CAST(extract(year FROM l_shipdate) * 12
              + extract(month FROM l_shipdate) AS BIGINT) AS m_idx,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS mq
  FROM lineitem GROUP BY 1, 2
), ranked AS (
  SELECT l_partkey, mq,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY mq, m_idx) AS r,
         count(*) OVER (PARTITION BY l_partkey) AS n
  FROM monthly
)
SELECT l_partkey, CAST(n AS BIGINT) AS n_months,
       CAST(min(mq) AS BIGINT) AS stock_qty,
       CAST(min(r) * 1000000 // n AS BIGINT) AS service_micro
FROM ranked
WHERE n >= {NV_MIN_MONTHS} AND r * {NV_CU + NV_CO} >= n * {NV_CU}
GROUP BY l_partkey, n
""",
    doc=f"newsvendor stocking quantity per part: smallest monthly demand "
    f"whose empirical CDF clears the cu/(cu+co) = {NV_CU}/{NV_CU + NV_CO} "
    "critical fractile — integer cross-multiplied rank test, exact "
    "micro-unit achieved service level; per-part bounded windows",
)
def parts_newsvendor_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The newsvendor decision (Arrow/Harris, public): stock the demand
    quantile at the critical fractile cu/(cu+co) — with underage cost
    :data:`NV_CU` and overage cost :data:`NV_CO`, the 75th percentile of
    observed monthly demand. The quantile is the EMPIRICAL order
    statistic, located by an integer cross-multiplied rank test
    (r·(cu+co) ≥ n·cu — no float CDF, no percentile interpolation to
    disagree on), with (demand, month) total tie order. Parts with fewer
    than :data:`NV_MIN_MONTHS` observed months are excluded — a quantile
    from 3 points is noise, and the croston operator owns the
    intermittent tail. The achieved service level (the fractile actually
    reached, ≥ the target by at most one order statistic) rides along in
    exact micro-units.

    Scale shape: one shuffle to the (part, month) demand frame; the rank
    window is PARTITIONED by part (frames bounded by the calendar month
    span, ~80 rows); one more part-keyed aggregate picks the crossing
    order statistic. This is `lineitem_leadtime_quartiles`' histogram
    discipline upgraded to a per-group DECISION output.

    Reference analog: none (extension surface — inventory/operations
    family, beside parts_abc_xyz_matrix / parts_croston_intermittent).
    """
    li = table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        "l_partkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
        .cast("bigint")
        .alias("m_idx"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("mq"))
    w_rank = Window.partitionBy("l_partkey").orderBy("mq", "m_idx")
    w_all = Window.partitionBy("l_partkey")
    ranked = monthly.select(
        "l_partkey",
        "mq",
        F.row_number().over(w_rank).alias("r"),
        F.count("*").over(w_all).alias("n"),
    )
    crossing = ranked.where(
        (F.col("n") >= NV_MIN_MONTHS)
        & (F.col("r") * (NV_CU + NV_CO) >= F.col("n") * NV_CU)
    )
    return crossing.groupBy("l_partkey", "n").agg(
        F.min("mq").cast("bigint").alias("stock_qty"),
        F.expr("CAST(min(r) * 1000000 div n AS BIGINT)").alias(
            "service_micro"
        ),
    ).select(
        "l_partkey",
        F.col("n").cast("bigint").alias("n_months"),
        "stock_qty",
        "service_micro",
    )


@register(
    "lineitem_mutual_information",
    """
WITH cells AS (
  SELECT CAST(extract(month FROM l_shipdate) AS INT) AS ship_month,
         l_returnflag, CAST(count(*) AS BIGINT) AS o
  FROM lineitem GROUP BY 1, 2
), marg AS (
  SELECT ship_month, l_returnflag, o,
         CAST(sum(o) OVER (PARTITION BY ship_month) AS BIGINT) AS rx,
         CAST(sum(o) OVER (PARTITION BY l_returnflag) AS BIGINT) AS ry,
         CAST(sum(o) OVER () AS BIGINT) AS n
  FROM cells
), terms AS (
  SELECT n,
         CAST(round(
           (CAST(o AS DOUBLE) / n)
           * ln(CAST(o AS DOUBLE) * n / (CAST(rx AS DOUBLE) * ry)),
           12) AS DECIMAL(38, 12)) AS term
  FROM marg
), agg AS (
  SELECT max(n) AS n, CAST(count(*) AS BIGINT) AS n_cells,
         sum(term) AS mi_dec
  FROM terms
)
SELECT CAST(n AS BIGINT) AS n_rows, n_cells,
       round(CAST(mi_dec AS DOUBLE), 6) + 0.0 AS mi_nats
FROM agg
""",
    doc="mutual information I(ship_month; returnflag) from the exact integer "
    "contingency table: per-cell p*ln(p/(px*py)) terms rounded+cast to "
    "decimal(38,12) before the order-free sum (the chi2/JSD discipline)",
)
def lineitem_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between ship month and return flag — the
    feature-selection statistic (how many nats does knowing the shipping
    season tell you about returns?): I(X;Y) = Σ_xy p_xy·ln(p_xy/(p_x·p_y))
    over the exact integer contingency table. Complements
    `events_chi2_independence` (χ² answers "is there dependence?", MI
    measures HOW MUCH in information units — the ranking criterion
    feature-selection pipelines sort by). Per-cell float terms are
    rounded to 12dp and cast to decimal(38,12) BEFORE the sum, so the
    total is an order-free decimal addition and both engines round the
    same quantity at 6dp — the established chi2/JSD float discipline.

    Scale shape: ONE hash aggregate to the (ship_month, returnflag) cell
    table (map-side partials; 12×3 cells regardless of corpus size);
    margins and the final sum run over that bounded frame via
    partition-less windows. Nothing else touches the data.

    Reference analog: none (extension surface — experimentation/stats
    family, beside events_chi2_independence / text_pmi_cooccurrence).
    """
    li = table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.month("l_shipdate").cast("int").alias("ship_month"), "l_returnflag"
    ).agg(F.count("*").cast("bigint").alias("o"))
    # SCALE GUARD: windows over the 36-cell contingency frame only.
    w_r = Window.partitionBy("ship_month")
    w_c = Window.partitionBy("l_returnflag")
    w_all = Window.partitionBy()
    marg = cells.select(
        "o",
        F.sum("o").over(w_r).cast("bigint").alias("rx"),
        F.sum("o").over(w_c).cast("bigint").alias("ry"),
        F.sum("o").over(w_all).cast("bigint").alias("n"),
    )
    term = F.round(
        (F.col("o").cast("double") / F.col("n"))
        * F.log(
            F.col("o").cast("double")
            * F.col("n")
            / (F.col("rx").cast("double") * F.col("ry"))
        ),
        12,
    ).cast("decimal(38,12)")
    agg = marg.select(F.col("n"), term.alias("term")).groupBy().agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum("term").alias("mi_dec"),
    )
    return agg.select(
        "n_rows",
        "n_cells",
        (F.round(F.col("mi_dec").cast("double"), 6) + F.lit(0.0)).alias(
            "mi_nats"
        ),
    )


#: Fellegi-Sunter record linkage: fixed integer log-odds weights
#: (micro-units) per comparison field, and the match/possible thresholds.
#: The name comparator is THREE-level (exact / approximate = last-6-char
#: agreement / disagree) — the standard FS refinement that keeps a
#: single-typo true pair above the match threshold.
RL_W_NAME = (4_000_000, 2_000_000, -1_000_000)
RL_W_NATION = (2_000_000, -2_000_000)
RL_W_SEGMENT = (1_000_000, -3_000_000)
RL_W_ACCTBAL = (2_500_000, -500_000)
RL_MATCH_T = 5_000_000
RL_POSSIBLE_T = 0
#: self-bounding block fan-out (r8 verdict: the raw nation×suffix and
#: segment×dollar keys have a FIXED key space, so block membership grows
#: linearly with the corpus and within-block pairing quadratically).
#: Both blocking passes therefore append a hash bucket of the record's
#: STABLE identity token (the 9-digit name suffix — untouched by every
#: perturbation: the typo edits the word, truncation edits the balance,
#: the nation flip edits the nation), with the bucket count derived from
#: the corpus count: B(n) = max(1, ceil(n / RL_BLOCK_TARGET)). Key space
#: then grows WITH the corpus, expected block size stays constant, and a
#: true pair can never be split across buckets because its token is
#: identical on both sides. Oracle twin: the ``bknob`` scalar CTE.
RL_BLOCK_TARGET = 512


def _rl_buckets(n_customers: int) -> int:
    """max(1, ceil-div(n, RL_BLOCK_TARGET)) in exact integers."""
    return max(1, (n_customers + RL_BLOCK_TARGET - 1) // RL_BLOCK_TARGET)

#: shared Fellegi-Sunter scoring + confusion-census oracle tail — expects
#: ``cand(a_key, b_key)`` and the ``dirty`` CTE upstream; used by the
#: blocked and the sorted-neighborhood linkage oracles
_RL_SCORE_TAIL_SQL = f"""
, scored AS (
  SELECT cand.a_key, cand.b_key,
         (CASE WHEN c.c_name = d.d_name THEN {RL_W_NAME[0]}
               WHEN right(c.c_name, 6) = right(d.d_name, 6)
               THEN {RL_W_NAME[1]} ELSE {RL_W_NAME[2]} END
        + CASE WHEN c.c_nationkey = d.d_nationkey
               THEN {RL_W_NATION[0]} ELSE {RL_W_NATION[1]} END
        + CASE WHEN c.c_mktsegment = d.d_mktsegment
               THEN {RL_W_SEGMENT[0]} ELSE {RL_W_SEGMENT[1]} END
        + CASE WHEN abs(c.c_acctbal - d.d_acctbal) < 1.0
               THEN {RL_W_ACCTBAL[0]} ELSE {RL_W_ACCTBAL[1]} END)
           AS score_micro,
         (cand.b_key = cand.a_key + 10000000) AS is_true_pair
  FROM cand
  JOIN customer c ON c.c_custkey = cand.a_key
  JOIN dirty d ON d.d_key = cand.b_key
)
SELECT CASE WHEN score_micro >= {RL_MATCH_T} THEN 'match'
            WHEN score_micro > {RL_POSSIBLE_T} THEN 'possible'
            ELSE 'non_match' END AS decision,
       is_true_pair,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(score_micro) AS BIGINT) AS min_score_micro,
       CAST(max(score_micro) AS BIGINT) AS max_score_micro
FROM scored GROUP BY 1, 2
"""


_RL_DIRTY_CTE = """
WITH dirty AS (
  SELECT c_custkey + 10000000 AS d_key,
         CASE WHEN c_custkey % 10 = 0
              THEN replace(c_name, 'Customer', 'Custmer')
              ELSE c_name END AS d_name,
         CASE WHEN c_custkey % 20 = 0
              THEN CAST((c_nationkey + 1) % 25 AS INTEGER)
              ELSE c_nationkey END AS d_nationkey,
         CASE WHEN c_custkey % 15 = 0 THEN floor(c_acctbal)
              ELSE c_acctbal END AS d_acctbal,
         c_mktsegment AS d_mktsegment
  FROM customer WHERE c_custkey % 5 = 0
)
"""


def _rl_dirty(c: DataFrame) -> DataFrame:
    """The deterministically-perturbed duplicate registry shared by the
    blocked and sorted-neighborhood linkage tiers (1-in-10 a name typo,
    1-in-20 a wrong nation, 1-in-15 a truncated balance; ground truth
    d_key = c_custkey + 10^7). Twin of the ``dirty`` CTE in
    :data:`_RL_DIRTY_CTE`."""
    return c.where(F.col("c_custkey") % 5 == 0).select(
        (F.col("c_custkey") + 10_000_000).alias("d_key"),
        F.when(
            F.col("c_custkey") % 10 == 0,
            F.regexp_replace("c_name", "Customer", "Custmer"),
        )
        .otherwise(F.col("c_name"))
        .alias("d_name"),
        F.when(
            F.col("c_custkey") % 20 == 0,
            ((F.col("c_nationkey") + 1) % 25).cast("int"),
        )
        .otherwise(F.col("c_nationkey"))
        .alias("d_nationkey"),
        F.when(F.col("c_custkey") % 15 == 0, F.floor("c_acctbal").cast("double"))
        .otherwise(F.col("c_acctbal"))
        .alias("d_acctbal"),
        F.col("c_mktsegment").alias("d_mktsegment"),
    )


def _rl_score_census(cand: DataFrame, c: DataFrame, dirty: DataFrame) -> DataFrame:
    """Fellegi-Sunter field-agreement scoring (integer log-odds
    micro-units) + the decision × ground-truth confusion census — the
    shared back half of both linkage tiers; twin of
    :data:`_RL_SCORE_TAIL_SQL`."""
    w = {
        "name": RL_W_NAME,
        "nation": RL_W_NATION,
        "segment": RL_W_SEGMENT,
        "acctbal": RL_W_ACCTBAL,
    }
    scored = (
        cand.join(c, cand["a_key"] == c["c_custkey"])
        .join(dirty, cand["b_key"] == dirty["d_key"])
        .select(
            "a_key",
            "b_key",
            (
                F.when(F.col("c_name") == F.col("d_name"), w["name"][0])
                .when(
                    F.expr("right(c_name, 6)") == F.expr("right(d_name, 6)"),
                    w["name"][1],
                )
                .otherwise(w["name"][2])
                + F.when(
                    F.col("c_nationkey") == F.col("d_nationkey"), w["nation"][0]
                ).otherwise(w["nation"][1])
                + F.when(
                    F.col("c_mktsegment") == F.col("d_mktsegment"),
                    w["segment"][0],
                ).otherwise(w["segment"][1])
                + F.when(
                    F.abs(F.col("c_acctbal") - F.col("d_acctbal")) < 1.0,
                    w["acctbal"][0],
                ).otherwise(w["acctbal"][1])
            ).alias("score_micro"),
            (F.col("b_key") == F.col("a_key") + 10_000_000).alias("is_true_pair"),
        )
    )
    return (
        scored.select(
            F.when(F.col("score_micro") >= RL_MATCH_T, "match")
            .when(F.col("score_micro") > RL_POSSIBLE_T, "possible")
            .otherwise("non_match")
            .alias("decision"),
            "is_true_pair",
            "score_micro",
        )
        .groupBy("decision", "is_true_pair")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.min("score_micro").cast("bigint").alias("min_score_micro"),
            F.max("score_micro").cast("bigint").alias("max_score_micro"),
        )
    )


@register(
    "customers_record_linkage",
    _RL_DIRTY_CTE
    + f"""
, bknob AS (
  SELECT greatest(1, (count(*) + {RL_BLOCK_TARGET - 1}) // {RL_BLOCK_TARGET})
           AS b
  FROM customer
), cb AS (
  SELECT c.*, ('0x' || substr(md5(right(c_name, 9)), 1, 6))::BIGINT
              % (SELECT b FROM bknob) AS hb
  FROM customer c
), db AS (
  SELECT d.*, ('0x' || substr(md5(right(d_name, 9)), 1, 6))::BIGINT
              % (SELECT b FROM bknob) AS hb
  FROM dirty d
), p1 AS (
  SELECT c.c_custkey AS a_key, d.d_key AS b_key
  FROM cb c JOIN db d
    ON c.c_nationkey = d.d_nationkey
   AND right(c.c_name, 3) = right(d.d_name, 3)
   AND c.hb = d.hb
), p2 AS (
  SELECT c.c_custkey AS a_key, d.d_key AS b_key
  FROM cb c JOIN db d
    ON c.c_mktsegment = d.d_mktsegment
   AND floor(c.c_acctbal) = floor(d.d_acctbal)
   AND c.hb = d.hb
), cand AS (
  SELECT DISTINCT a_key, b_key FROM (
    SELECT * FROM p1 UNION ALL SELECT * FROM p2)
)"""
    + _RL_SCORE_TAIL_SQL,
    doc="Fellegi-Sunter record linkage: a deterministically-perturbed "
    "duplicate table (typos, wrong nation, truncated balances) is linked "
    "back via two blocking passes + integer log-odds field weights; "
    "output is the decision x ground-truth confusion with score ranges",
)
def customers_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (Fellegi & Sunter 1969), the
    entity-resolution sibling of the text near-dup tiers: a "dirty"
    registry is derived from ``customer`` with deterministic
    perturbations (1-in-10 a name typo, 1-in-20 a wrong nation, 1-in-15
    a truncated balance), then linked back with the production shape —
    BLOCKING first (two passes: nation+name-suffix, robust to balance
    noise; segment+dollar-floor, robust to nation noise — their union is
    the candidate set, so a record survives any single corrupted block
    key), field-level agreement weights in integer log-odds micro-units,
    and the three-way match/possible/non-match decision. Ground truth is
    known by construction (``b_key = a_key + 10^7``), so the output is
    the decision × truth confusion matrix with per-cell score ranges —
    a hash-stable audit of precision/recall, not just a pair dump.

    Scale shape: candidates come ONLY from block equi-joins (two
    shuffle-on-key joins whose per-key fan-out is the block size), never
    all-pairs; scoring joins the two dimension tables back by key; the
    confusion fold is a 6-row aggregate. The block keys are SELF-BOUNDING
    (r9): both passes append a hash bucket of the stable identity token
    with the bucket count derived from the corpus count
    (:func:`_rl_buckets` — key space grows with the corpus, expected
    block size constant, candidate volume linear at ANY scale factor;
    pinned by the flat-candidate-volume test in
    tests/test_scale.py). A true pair can never split across buckets:
    every perturbation leaves the 9-digit name suffix intact, and the
    oracle derives the identical bucket count in its ``bknob`` CTE.

    Reference analog: none (extension surface — data-quality family,
    beside ``quality_reconciliation`` and ``dedup_editdist_confirm``).
    """
    c = table(spark, sf_dir, "customer")
    dirty = _rl_dirty(c)
    from ufload_spark.sources.tables import corpus_count

    nb = _rl_buckets(corpus_count(spark, sf_dir, "customer"))

    def hb(name_col: str):
        return (
            F.conv(F.substring(F.md5(F.expr(f"right({name_col}, 9)")), 1, 6), 16, 10)
            .cast("bigint")
            % F.lit(nb)
        )

    cb = c.withColumn("hb", hb("c_name"))
    db = dirty.withColumn("hb", hb("d_name"))
    p1 = cb.join(
        db,
        (cb["c_nationkey"] == db["d_nationkey"])
        & (F.expr("right(c_name, 3)") == F.expr("right(d_name, 3)"))
        & (cb["hb"] == db["hb"]),
    ).select(F.col("c_custkey").alias("a_key"), F.col("d_key").alias("b_key"))
    p2 = cb.join(
        db,
        (cb["c_mktsegment"] == db["d_mktsegment"])
        & (F.floor(cb["c_acctbal"]) == F.floor(db["d_acctbal"]))
        & (cb["hb"] == db["hb"]),
    ).select(F.col("c_custkey").alias("a_key"), F.col("d_key").alias("b_key"))
    cand = p1.unionByName(p2).distinct()
    return _rl_score_census(cand, c, dirty)


#: sorted-neighborhood geometry: the union registry sorts on the stable
#: 9-digit name suffix, SN_BUCKET consecutive suffix values form a sorted
#: block (block population is ~SN_BUCKET*6/5 by construction — custkeys are
#: dense — so per-block work is constant at ANY corpus size), and records
#: within SN_W sorted positions pair up; block boundaries are healed by
#: pairing each block's tail sliver with the next block's head sliver.
SN_BUCKET = 32
SN_W = 2

_SN_ORACLE = (
    _RL_DIRTY_CTE
    + f"""
, u AS (
  SELECT CAST(right(c_name, 9) AS BIGINT) AS sfx, 0 AS side,
         CAST(c_custkey AS BIGINT) AS key FROM customer
  UNION ALL
  SELECT CAST(right(d_name, 9) AS BIGINT) AS sfx, 1 AS side,
         CAST(d_key AS BIGINT) AS key FROM dirty
), r AS (
  SELECT sfx, side, key, sfx // {SN_BUCKET} AS bucket,
         row_number() OVER (PARTITION BY sfx // {SN_BUCKET}
                            ORDER BY sfx, side, key) AS rnk,
         count(*) OVER (PARTITION BY sfx // {SN_BUCKET}) AS cnt
  FROM u
), within AS (
  SELECT a.key AS a_key, b.key AS b_key
  FROM r a JOIN r b ON a.bucket = b.bucket
   AND a.side = 0 AND b.side = 1 AND abs(a.rnk - b.rnk) <= {SN_W}
), bound AS (
  SELECT CASE WHEN t.side = 0 THEN t.key ELSE h.key END AS a_key,
         CASE WHEN t.side = 0 THEN h.key ELSE t.key END AS b_key
  FROM r t JOIN r h ON h.bucket = t.bucket + 1
   AND t.rnk > t.cnt - {SN_W} AND h.rnk <= {SN_W}
   AND (t.cnt - t.rnk) + h.rnk <= {SN_W}
   AND t.side <> h.side
), cand AS (
  SELECT DISTINCT a_key, b_key FROM (
    SELECT * FROM within UNION ALL SELECT * FROM bound)
)"""
    + _RL_SCORE_TAIL_SQL
)


@register(
    "customers_linkage_sorted_neighborhood",
    _SN_ORACLE,
    doc="sorted-neighborhood record linkage (Hernandez-Stolfo): clean + "
    f"dirty registries sort on the stable name suffix, records within "
    f"{SN_W} sorted positions pair (sorted blocks of {SN_BUCKET} suffix "
    "values + boundary-sliver healing), then the shared Fellegi-Sunter "
    "scoring and confusion census",
)
def customers_linkage_sorted_neighborhood(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The sorted-neighborhood method (Hernández & Stolfo 1995, the merge/
    purge paper) as the second candidate-generation tier of the linkage
    family: instead of hash blocks, sort BOTH registries on a stable key
    (the 9-digit name suffix — untouched by every perturbation) and pair
    records within :data:`SN_W` positions of the sorted order. SN finds
    matches blocking can miss when every block key is corrupted, and
    misses what blocking finds when the SORT key is corrupted — which is
    why production linkage runs both and unions candidates; here each
    tier is its own oracle-checked query sharing the scoring/census back
    half (:func:`_rl_score_census`).

    The global sort is realized SCALE-SAFELY: no corpus-wide window.
    ``sfx // SN_BUCKET`` forms sorted blocks whose population is constant
    by construction (custkeys are dense, so ~:data:`SN_BUCKET`·6/5 rows
    per block at any corpus size — the same self-bounding argument as
    `_rl_buckets`, without needing the corpus count); ranks are
    block-partitioned windows, within-block neighbors pair by rank
    distance, and block boundaries are healed by pairing each block's
    last-:data:`SN_W` sliver with the next block's first-:data:`SN_W`
    sliver under the cross-boundary distance bound — the standard
    distributed formulation of SN's sliding window.

    Scale shape: one union scan, block-partitioned windows (never
    partition-less), two bounded equi-joins on the block id (within +
    boundary), then the shared score/census joins. Candidate volume is
    ~2·SN_W per record — linear at any scale factor.

    Engine-external replay:
    tests/test_analytics_invariants.py::test_sorted_neighborhood_pure_replay.

    Reference analog: none (extension surface — data-quality family,
    the second Fellegi-Sunter candidate tier beside
    ``customers_record_linkage``).
    """
    c = table(spark, sf_dir, "customer")
    dirty = _rl_dirty(c)
    u = (
        c.select(
            F.expr("CAST(right(c_name, 9) AS BIGINT)").alias("sfx"),
            F.lit(0).alias("side"),
            F.col("c_custkey").cast("bigint").alias("key"),
        )
        .unionByName(
            dirty.select(
                F.expr("CAST(right(d_name, 9) AS BIGINT)").alias("sfx"),
                F.lit(1).alias("side"),
                F.col("d_key").cast("bigint").alias("key"),
            )
        )
        .withColumn("bucket", F.expr(f"sfx div {SN_BUCKET}"))
    )
    r = u.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("bucket").orderBy("sfx", "side", "key")
        ),
    ).withColumn("cnt", F.count("*").over(Window.partitionBy("bucket")))
    a, b = r.alias("a"), r.alias("b")
    within = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.side") == 0)
        & (F.col("b.side") == 1)
        & (F.abs(F.col("a.rnk") - F.col("b.rnk")) <= SN_W),
    ).select(F.col("a.key").alias("a_key"), F.col("b.key").alias("b_key"))
    t, h = r.alias("t"), r.alias("h")
    bound = t.join(
        h,
        (F.col("h.bucket") == F.col("t.bucket") + 1)
        & (F.col("t.rnk") > F.col("t.cnt") - SN_W)
        & (F.col("h.rnk") <= SN_W)
        & ((F.col("t.cnt") - F.col("t.rnk")) + F.col("h.rnk") <= SN_W)
        & (F.col("t.side") != F.col("h.side")),
    ).select(
        F.when(F.col("t.side") == 0, F.col("t.key"))
        .otherwise(F.col("h.key"))
        .alias("a_key"),
        F.when(F.col("t.side") == 0, F.col("h.key"))
        .otherwise(F.col("t.key"))
        .alias("b_key"),
    )
    cand = within.unionByName(bound).distinct()
    return _rl_score_census(cand, c, dirty)
