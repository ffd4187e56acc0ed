"""Graph analytics over the TPC-H purchase graph (extension surface).

PageRank is the canonical iterative join+agg algorithm — the scale shape a
100 TB engine must get right is per-iteration cost: one shuffle of the rank
vector on src, one aggregate shuffle on dst, edges persisted (at cluster
scale: bucketed by src once so iterations reuse the layout). The numeric
discipline is the same as `embedding_pca_power`'s Gramian: every rank is an
exact INTEGER count of probability micro-units (1e9 total), every update is
integer multiply/div — so the per-node inflow sum is order-free and the
ranks are bit-identical across engines, runs and cluster sizes, with no
float-summation rounding to paper over.

Reference analog: none — extension surface (the dedup family's connected
components builds undirected clusters; PageRank adds the directed
importance-propagation sibling).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ufload_spark.lifetime import cut, keep, scope
from ufload_spark.plans.registry import register
from ufload_spark.sources.tables import read_parquet, spread, table

#: total probability mass in micro-units, damping as an integer percentage
PR_MASS = 1_000_000_000
PR_DAMP_PCT = 85
PR_ITERS = 3

_EDGES_CTE = """
WITH pairs AS (
  SELECT o.o_custkey * 2 AS c_node, l.l_suppkey * 2 + 1 AS s_node,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
), edges AS (
  SELECT c_node AS src, s_node AS dst, w FROM pairs
  UNION ALL
  SELECT s_node AS src, c_node AS dst, w FROM pairs
), outw AS (
  SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM edges GROUP BY src
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM nodes
)
"""


def _pr_oracle() -> str:
    base = f"({PR_MASS} // n)"
    parts = [
        _EDGES_CTE,
        f""", r0 AS (
  SELECT node, {base} AS r FROM nodes, nn
)""",
    ]
    for k in range(1, PR_ITERS + 1):
        prev = f"r{k - 1}"
        parts.append(
            f""", inflow{k} AS (
  SELECT e.dst AS node, CAST(sum((r.r * e.w) // o.wout) AS BIGINT) AS fl
  FROM edges e
  JOIN {prev} r ON e.src = r.node
  JOIN outw o ON e.src = o.src
  GROUP BY e.dst
), r{k} AS (
  SELECT i.node,
         ({100 - PR_DAMP_PCT} * {base}) // 100 + ({PR_DAMP_PCT} * i.fl) // 100 AS r
  FROM inflow{k} i, nn
)"""
        )
    parts.append(
        f"""
SELECT node,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       CAST(node // 2 AS BIGINT) AS entity_key,
       CAST(r AS BIGINT) AS rank_micro
FROM r{PR_ITERS}"""
    )
    return "".join(parts)


def _cust_node(key: str):
    """Node id of customer ``key``: ``2c``. Purchase-graph node ids are
    parity-encoded (customers even, suppliers odd) so the two sides share
    one id space without collisions; this helper, :func:`_supp_node`,
    :func:`_is_cust`, :func:`_is_supp` and :func:`_entity_key` are the one
    place the encoding lives (the DuckDB oracles spell it in SQL)."""
    return F.col(key) * 2


def _supp_node(key: str):
    """Node id of supplier ``key``: ``2s+1``."""
    return F.col(key) * 2 + 1


def _is_cust(node: str):
    return F.col(node) % 2 == 0


def _is_supp(node: str):
    return F.col(node) % 2 == 1


def _entity_key(node: str):
    """The customer/supplier key a node id encodes."""
    return F.expr(f"{node} div 2")


def _weighted_pairs(spark: SparkSession, sf_dir: str, c: str, s: str) -> DataFrame:
    """``(c, s, w)``: customer node, supplier node and the number of line
    items they traded, one row per distinct pair."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(_cust_node("o_custkey").alias(c), _supp_node("l_suppkey").alias(s))
        .agg(F.count("*").alias("w"))
    )


def _build_pagerank_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weighted bidirectional purchase-graph edge list, published once
    per corpus and read back through :func:`_shared_edges`."""
    pairs = _weighted_pairs(spark, sf_dir, "c_node", "s_node")
    # Both edge directions come from ONE evaluation of pairs via
    # explode, not a self-union: a union would plan the lineitem⋈orders
    # join + aggregate twice (two concurrent orders broadcasts, double
    # the build work for identical output).
    both = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("c_node").alias("src"),
                    F.col("s_node").alias("dst"),
                    F.col("w"),
                ),
                F.struct(
                    F.col("s_node").alias("src"),
                    F.col("c_node").alias("dst"),
                    F.col("w"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")
    # wout (the src's total out-weight) is static per node, so it is
    # DENORMALIZED into the published edge row — each iteration's
    # contribution (r*w div wout) then needs only the rank join, not a
    # second outw join (one fewer join × PR_ITERS per run).
    wout = F.sum("w").over(Window.partitionBy("src"))
    return both.withColumn("wout", wout)


def _shared_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared ``(src, dst, w, wout)`` edge table every purchase-graph
    operator reads: a pure function of the corpus, published ONCE via the
    staged loader (``memo_publish("pagerank_edges_w", …)``) instead of
    re-running the lineitem⋈orders shuffle per query. At cluster scale the
    same table is bucketed by src (:func:`_bucketed_edges_table`)."""
    from ufload_spark.sources.loader import memo_read

    return memo_read(
        spark, "pagerank_edges_w", sf_dir, lambda: _build_pagerank_edges(spark, sf_dir)
    )


def _rank_out(ranks: DataFrame) -> DataFrame:
    """The PageRank family's output row off a ``(node, r)`` rank vector."""
    return ranks.select(
        "node",
        F.when(_is_cust("node"), F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        _entity_key("node").cast("bigint").alias("entity_key"),
        F.col("r").cast("bigint").alias("rank_micro"),
    )


#: bucket count for the bucketed edge-table fallback — fixture-sized;
#: production sizes it by edge volume (buckets ≈ edge bytes / target file
#: size), exactly like layout.py's N_BUCKETS.
N_GRAPH_BUCKETS = 8

#: (abs sf_dir) → catalog name of the bucketed edge table; per-process
#: memo like loader._MEMO_PUBLISHED (fixtures are immutable in-session)
_BUCKETED_EDGES: dict[str, str] = {}


def _bucketed_edges_table(spark: SparkSession, sf_dir: str) -> str:
    """The shared purchase-graph edge table written ONCE per corpus as a
    src-bucketed managed table — the cluster-scale fallback the r8 verdict
    asked to make real (it was docstring-only): when the rank/label vector
    outgrows the broadcast threshold, every iteration's ``src`` join reads
    the bucketed layout exchange-free on the EDGE side and only the
    node-sized vector shuffles. One bucket shuffle at write time, amortized
    over every iteration of every graph consumer."""
    import os

    key = os.path.abspath(sf_dir)
    name = _BUCKETED_EDGES.get(key)
    if name is not None and spark.catalog.tableExists(name):
        return name
    from ufload_spark.sources.layout import _unique_table
    from ufload_spark.sources.loader import sf_tag

    name = _unique_table(spark, f"pr_edges_b_{sf_tag(sf_dir)}")
    _shared_edges(spark, sf_dir).write.bucketBy(
        N_GRAPH_BUCKETS, "src"
    ).sortBy("src").mode("overwrite").saveAsTable(name)
    _BUCKETED_EDGES[key] = name
    return name


def _vector_side(
    vec: DataFrame, key: str, *, broadcast: bool, pin_build: bool = True
) -> DataFrame:
    """A node-sized vector (ranks, labels, frontier, keep list) as the
    join side against an edge- or pair-sized frame, in one of the two
    layouts every graph round function takes:

    - ``broadcast=True``: broadcast to every executor, so the big side
      never shuffles — the tier while the vector fits the threshold;
    - ``broadcast=False``: the bucketed fallback. The vector is
      repartitioned by ``key`` INTO the bucket count, which is what keeps
      the big side exchange-free whatever ``spark.sql.shuffle.partitions``
      is (r11: the vector's own aggregate lands it at the conf count, and
      whenever that differs from :data:`N_GRAPH_BUCKETS` — bench and
      production run 32, the buckets are 8 — EnsureRequirements would
      re-shuffle the big side to match). ``pin_build`` adds SHUFFLE_HASH
      so the planner can never pick the persisted big side as a
      broadcast build (with a persisted scan's size estimate it tried
      exactly that at sf1 and OOMed an 8g driver, r10); SHJ also needs
      no per-round sort."""
    if broadcast:
        return F.broadcast(vec)
    vec = vec.repartition(N_GRAPH_BUCKETS, F.col(key))
    return vec.hint("shuffle_hash") if pin_build else vec


def _cut(df: DataFrame, *, broadcast: bool) -> DataFrame:
    """A round's lineage barrier. Without one, round k's vector subtree
    re-executes the whole round-1..k-1 prefix (LPA measured 26 s -> 0.3 s
    at sf0.1). Broadcast layout: a lazy :func:`~ufload_spark.lifetime.cut`
    — nothing materializes until the final action. Bucketed layout: a
    :func:`~ufload_spark.lifetime.keep` (same compute-once effect, and
    InMemoryRelation keeps the outputPartitioning a checkpoint destroys)."""
    return cut(df) if broadcast else keep(df)


def _pr_rounds(edges: DataFrame, *, broadcast: bool) -> DataFrame:
    """The :data:`PR_ITERS` PageRank iterations over the shared
    ``(src, dst, w, wout)`` edge frame — shared by the broadcast tier
    (:func:`graph_pagerank_purchases`) and the bucketed tier
    (:func:`graph_pagerank_bucketed`). Same integer lattice either way;
    the layout only decides how the node-sized rank vector meets the
    edges (:func:`_vector_side`).

    Scale shape: each iteration is the canonical two-shuffle step — rank
    vector joined to edges on ``src`` and inflow aggregated on ``dst``
    with map-side partial sums. Lineage is linear in iterations (no
    argmax side-chains), so :data:`PR_ITERS` unrolled lazy steps need no
    checkpoint at this depth; real 30+-iteration runs checkpoint every
    few steps (the ``min_label_components`` discipline).

    Broadcast layout: the rank side is EXPLICITLY broadcast — without the
    hint the planner sizes the published edge parquet (40 MB at sf1, under
    the 64 MB threshold thanks to delta-encoded sorted src + wout) and
    broadcasts the 12M-row EDGE relation every iteration: three retained
    ~GB hashed relations that flakily OOM an 8 GB driver (the r6 bench
    crash). Bucketed layout: no hint at all (at fixture scale the planner
    may still broadcast the tiny rank side — results are identical; the
    plan pin runs with broadcast disabled)."""
    nodes = edges.select(F.col("src").alias("node")).distinct()
    nn = nodes.groupBy().agg(F.count("*").alias("n"))
    base = F.expr(f"{PR_MASS} div n")
    ranks = nodes.crossJoin(F.broadcast(nn)).select("node", base.alias("r"))
    for _ in range(PR_ITERS):
        side = _vector_side(ranks, "node", broadcast=broadcast, pin_build=False)
        inflow = (
            edges.join(side, edges.src == side.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("(r * w) div wout").alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("fl"))
        )
        ranks = inflow.crossJoin(F.broadcast(nn)).select(
            "node",
            (
                F.expr(f"({100 - PR_DAMP_PCT} * ({PR_MASS} div n)) div 100")
                + F.expr(f"({PR_DAMP_PCT} * fl) div 100")
            ).alias("r"),
        )
    return _rank_out(ranks)


@register(
    "graph_pagerank_purchases",
    _pr_oracle(),
    doc=f"PageRank over the customer<->supplier purchase graph, "
    f"{PR_ITERS} iterations in exact integer micro-units (order-free "
    "inflow sums, bit-identical across engines and cluster sizes)",
)
def graph_pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank on the bipartite purchase graph: nodes are customers
    (``custkey*2``) and suppliers (``suppkey*2+1``), edges both directions
    weighted by lineitem count, damping 0.85, :data:`PR_ITERS` iterations.

    Exactness: ranks are integer micro-units of probability mass
    (:data:`PR_MASS` total). Each edge contribution is
    ``(r_src * w) div w_out`` and damping is integer percent arithmetic,
    so the per-node inflow is a sum of exact integers — reduction-order
    free, hence bit-identical between Spark's parallel aggregation and
    DuckDB's single-threaded oracle, at any partitioning. (Floor division
    leaks < 1 micro-unit per edge per iteration of mass; PageRank only
    needs relative ranks, and the leak is deterministic.)

    Scale shape: the shared edge table (:func:`_shared_edges`) is
    persisted for the iterations and the rank vector broadcasts onto it —
    see :func:`_pr_rounds`. Past broadcastable rank vectors the fallback
    is :func:`graph_pagerank_bucketed`.
    """
    return _pr_rounds(keep(_shared_edges(spark, sf_dir)), broadcast=True)


@register(
    "graph_pagerank_bucketed",
    _pr_oracle(),
    doc=f"PageRank over the SRC-BUCKETED edge table — the cluster-scale "
    f"fallback join shape: per iteration the bucketed edge scan satisfies "
    f"the join distribution with NO exchange on the edge side, only the "
    f"node-sized rank vector shuffles; results bit-identical to "
    f"graph_pagerank_purchases ({PR_ITERS} iterations, integer micro-units)",
)
def graph_pagerank_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed-join tier of :func:`graph_pagerank_purchases` — same
    rounds (:func:`_pr_rounds` with ``broadcast=False``), same oracle. The
    broadcast tier wins while the rank vector fits the broadcast threshold
    (~4M nodes at 16 B/row under a 64 MB threshold); past that,
    broadcasting O(nodes) to every executor each iteration loses to
    shuffling O(nodes) once into the edge table's bucket layout.
    ``test_bucketed_pagerank_iteration_join_no_edge_exchange`` pins the
    plan: the edge side of the iteration join carries its bucket spec
    (SelectedBucketsCount) and NO exchange. SCALING.md records the
    crossover arithmetic.

    Reference analog: none (extension surface — the layout discipline of
    ``layout_bucketed_orderkey_join`` applied to the iterative family).
    """
    edges = spark.table(_bucketed_edges_table(spark, sf_dir))
    return _pr_rounds(edges, broadcast=False)


def _ppr_oracle() -> str:
    base = f"((100 - {PR_DAMP_PCT}) * ({PR_MASS} // ns)) // 100"
    parts = [
        _EDGES_CTE,
        f""", seeds AS (
  SELECT DISTINCT s_suppkey * 2 + 1 AS node
  FROM supplier WHERE s_nationkey = {PPR_SEED_NATION}
), nsk AS (
  SELECT CAST(count(*) AS BIGINT) AS ns FROM seeds
), p0 AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL THEN {PR_MASS} // ns ELSE 0 END AS r
  FROM nodes n LEFT JOIN seeds s ON n.node = s.node, nsk
)""",
    ]
    for k in range(1, PR_ITERS + 1):
        prev = f"p{k - 1}"
        parts.append(
            f""", pin{k} AS (
  SELECT e.dst AS node, CAST(sum((r.r * e.w) // o.wout) AS BIGINT) AS fl
  FROM edges e
  JOIN {prev} r ON e.src = r.node AND r.r > 0
  JOIN outw o ON e.src = o.src
  GROUP BY e.dst
), p{k} AS (
  SELECT n.node,
         (CASE WHEN s.node IS NOT NULL THEN {base} ELSE 0 END)
           + ({PR_DAMP_PCT} * coalesce(i.fl, 0)) // 100 AS r
  FROM nodes n
  LEFT JOIN seeds s ON n.node = s.node
  LEFT JOIN pin{k} i ON i.node = n.node, nsk
)"""
        )
    parts.append(
        f"""
SELECT node,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       CAST(node // 2 AS BIGINT) AS entity_key,
       CAST(r AS BIGINT) AS rank_micro
FROM p{PR_ITERS} WHERE r > 0"""
    )
    return "".join(parts)


#: personalized-PageRank teleport set: suppliers of this nation (the BFS
#: seed set — both audits walk outward from the same anchor community)
PPR_SEED_NATION = 3


@register(
    "graph_ppr_seeded",
    _ppr_oracle(),
    doc=f"personalized PageRank: teleport mass restarts at nation-"
    f"{PPR_SEED_NATION} suppliers only, {PR_ITERS} iterations in exact "
    "integer micro-units; emits the reachable nodes (r > 0) — proximity "
    "to the seed community, the random-walk-with-restart recommender",
)
def graph_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart): identical
    integer lattice to :func:`graph_pagerank_purchases`, but the
    (100−damp)% teleport mass restarts ONLY at the seed set (nation-
    :data:`PPR_SEED_NATION` suppliers) instead of uniformly — the
    standard proximity score for "more like these" recommendations and
    community seeding (Page et al. 1999 §6; Jeh & Widom 2003 make it the
    recommender primitive). Nodes the walk never reaches stay at exactly
    0 and are dropped, so the output is the seed community's neighborhood
    ranked by walk proximity.

    Exactness: seed mass is ``MASS div n_seeds`` integer micro-units;
    every update is the same integer multiply/div as PageRank, so ranks
    are bit-identical across engines and cluster sizes.

    Scale shape: same per-iteration plan as PageRank — the rank vector
    (here SPARSE: only reached nodes, ``r > 0`` pushed into the join)
    broadcasts onto the persisted shared edge table, one keyed aggregate
    per iteration; the zero-mass frontier never enters the shuffle, so
    early iterations touch only the seed neighborhood — the locality
    that makes PPR cheap at 100 TB when the seed set is small.

    Reference analog: none (extension surface — graph family; the seeded
    sibling of ``graph_pagerank_purchases``, sharing its published edge
    artifact and its oracle discipline).
    """
    edges = keep(_shared_edges(spark, sf_dir))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    seeds = (
        table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") == PPR_SEED_NATION)
        .select(_supp_node("s_suppkey").alias("node"))
        .distinct()
    )
    # seeds that trade (appear in the graph) — keeps both engines on the
    # same node universe; ns counts ALL seeds, exactly as the oracle does
    ns = seeds.groupBy().agg(F.count("*").alias("ns"))
    seed_marked = nodes.join(
        F.broadcast(seeds.withColumn("is_seed", F.lit(1))), "node", "left"
    ).select("node", F.coalesce("is_seed", F.lit(0)).alias("is_seed"))
    ranks = seed_marked.crossJoin(F.broadcast(ns)).select(
        "node",
        "is_seed",
        F.when(F.col("is_seed") == 1, F.expr(f"{PR_MASS} div ns"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("r"),
    )
    base = F.expr(f"((100 - {PR_DAMP_PCT}) * ({PR_MASS} div ns)) div 100")
    for _ in range(PR_ITERS):
        # only the reached frontier (r > 0) rides the broadcast — the
        # sparsity that keeps early iterations seed-local
        live = ranks.where(F.col("r") > 0).select("node", "r")
        inflow = (
            edges.join(F.broadcast(live), edges.src == live.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("(r * w) div wout").alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("fl"))
        )
        ranks = (
            seed_marked.join(inflow, "node", "left")
            .crossJoin(F.broadcast(ns))
            .select(
                "node",
                "is_seed",
                (
                    F.when(F.col("is_seed") == 1, base).otherwise(F.lit(0))
                    + F.expr(f"({PR_DAMP_PCT} * coalesce(fl, 0)) div 100")
                )
                .cast("bigint")
                .alias("r"),
            )
        )
        ranks = cut(ranks)
    return _rank_out(ranks.where(F.col("r") > 0))


#: Triangle-count thresholds: an edge is a part pair co-purchased in at
#: least this many distinct orders (keeps the graph sparse and meaningful).
TRI_EDGE_MINSUP = 2


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchased-parts graph shared by triangle counting and link
    prediction: undirected ``(u, v)`` part pairs, ``u < v``, bought together
    in at least :data:`TRI_EDGE_MINSUP` distinct orders."""
    # spread on the self-join key (guide §2.4/§2.5): one okey
    # exchange parallelizes the 2-split fixture scan AND satisfies the
    # (okey, part) distinct and the okey self-join behind it — the
    # distinct's own exchange disappears.
    li = spread(
        table(spark, sf_dir, "lineitem"), "l_orderkey", src=(sf_dir, "lineitem")
    )
    items = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.part") < F.col("b.part")),
        )
        .groupBy(F.col("a.part").alias("u"), F.col("b.part").alias("v"))
        .agg(F.count("*").alias("sup"))
        .where(F.col("sup") >= TRI_EDGE_MINSUP)
        .select("u", "v")
    )


def _degrees(edges: DataFrame, a: str, b: str) -> DataFrame:
    """``(node, d)`` degree table of an undirected edge list whose
    endpoints are columns ``a`` and ``b``."""
    return (
        edges.select(F.col(a).alias("node"))
        .unionAll(edges.select(F.col(b).alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )


@register(
    "graph_triangle_count",
    f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
), edges AS (
  SELECT a.part AS u, b.part AS v
  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
  GROUP BY 1, 2 HAVING count(*) >= {TRI_EDGE_MINSUP}
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY node
), o AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS ddst
  FROM edges e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM o o1
  JOIN o o2 ON o1.src = o2.src AND (o1.ddst, o1.dst) < (o2.ddst, o2.dst)
  JOIN o o3 ON o3.src = o1.dst AND o3.dst = o2.dst
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges,
         CAST(max(d) AS BIGINT) AS max_degree
  FROM deg
)
SELECT n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
       n_wedges, max_degree, n_triangles,
       round(3.0 * n_triangles / nullif(n_wedges, 0), 6) + 0.0
         AS global_clustering
FROM stats, tri
""",
    doc=f"triangle counting on the co-purchased-parts graph via "
    f"degree-ordered orientation (edge support >= {TRI_EDGE_MINSUP}); "
    "global clustering coefficient from exact integer counts",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient over the
    co-purchased-parts graph, via the degree-ordered orientation algorithm
    (Chiba–Nishizeki / Cohen's MapReduce formulation — public): orient every
    edge from its lower-(degree, id) endpoint to its higher one, build
    wedges from pairs of out-edges sharing a source, and close each wedge
    with one semi-probe into the oriented edge list. Each triangle is
    counted exactly once, from its lowest-ordered corner.

    Scale shape — why orientation is THE trick at 100 TB: out-degree under
    the (degree, id) total order is bounded by O(sqrt(m)) for any graph, so
    the wedge self-join is bounded by m^1.5 even on power-law graphs where
    the naive neighbor self-join explodes quadratically at hub nodes.
    Three shuffles total (degree agg, wedge join on src, closing join on
    (y, z)); degrees ride along with the edges so no global rank/window is
    ever materialized. The wedge count for the clustering denominator is
    sum(d*(d-1)/2) off the degree table — exact integers end to end, one
    rounded division in the final row.

    Reference analog: none (extension surface — graph family sibling of
    ``graph_pagerank_purchases``).
    """
    edges = _copurchase_edges(spark, sf_dir)
    # Lineage barrier: the co-purchase self-join above is the expensive
    # subtree and feeds FIVE consumers (deg, both wedge sides, the
    # closing probe, n_edges). ReuseExchange catches some duplicates,
    # but a lazy cut guarantees one execution regardless of how AQE
    # carves the downstream stages.
    edges = cut(edges)
    deg = _degrees(edges, "u", "v")
    e = (
        edges.join(deg.withColumnsRenamed({"node": "u", "d": "du"}), "u")
        .join(deg.withColumnsRenamed({"node": "v", "d": "dv"}), "v")
    )
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    o = e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
    )
    # the oriented edge list is read three times (two wedge sides + the
    # closing probe) — cut it once too
    o = cut(o)
    o1 = o.alias("o1")
    o2 = o.alias("o2")
    o3 = o.alias("o3")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (
            F.struct(F.col("o1.ddst"), F.col("o1.dst"))
            < F.struct(F.col("o2.ddst"), F.col("o2.dst"))
        ),
    ).select(F.col("o1.dst").alias("y"), F.col("o2.dst").alias("z"))
    tri = wedges.join(
        o3, (F.col("o3.src") == F.col("y")) & (F.col("o3.dst") == F.col("z"))
    ).agg(F.count("*").cast("bigint").alias("n_triangles"))
    stats = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges"),
        F.max("d").cast("bigint").alias("max_degree"),
    )
    n_edges = edges.agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "max_degree",
            "n_triangles",
            (
                F.round(
                    F.lit(3.0)
                    * F.col("n_triangles")
                    / F.nullif(F.col("n_wedges"), F.lit(0)).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("global_clustering"),
        )
    )


#: label propagation: synchronous iterations (self-loop weight damps the
#: bipartite oscillation mode)
LPA_ITERS = 4
LPA_SELF_W = 1


def _lpa_oracle() -> str:
    parts = [
        _EDGES_CTE,
        """, l0 AS (
  SELECT node, node AS label FROM nodes
)""",
    ]
    for k in range(1, LPA_ITERS + 1):
        prev = f"l{k - 1}"
        parts.append(
            f""", c{k} AS (
  SELECT node, label, CAST(sum(wsum) AS BIGINT) AS wsum FROM (
    SELECT e.dst AS node, l.label, CAST(sum(e.w) AS BIGINT) AS wsum
    FROM edges e JOIN {prev} l ON e.src = l.node GROUP BY 1, 2
    UNION ALL
    SELECT node, label, {LPA_SELF_W} FROM {prev}
  ) GROUP BY 1, 2
), l{k} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY wsum DESC, label) AS rn
    FROM c{k}
  ) WHERE rn = 1
)"""
        )
    parts.append(
        f"""
SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
FROM l{LPA_ITERS}
GROUP BY 1"""
    )
    return "".join(parts)


@register(
    "graph_label_propagation",
    _lpa_oracle(),
    doc=f"community detection by {LPA_ITERS} synchronous label-propagation "
    "rounds over the purchase graph: weighted neighbor-label mode with "
    "integer weights and (weight DESC, label) tie order — fully "
    "deterministic; emits community sizes",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation communities on the customer–supplier purchase
    graph (same weighted bipartite edge set as PageRank). Every node
    starts as its own label; each synchronous round reassigns it the
    neighbor label with the largest incident edge weight (plus a unit
    self-vote, which damps the oscillation mode synchronous LPA exhibits
    on bipartite graphs), ties broken by smallest label. All weights are
    integers and the argmax order is total, so the trajectory is
    bit-identical across engines — no float scores, no random tie flips.

    Scale shape: per round, the broadcast label vector joins the
    persisted edges on src shuffle-free, the raw vote stream is hashed
    by node ONCE, and both the (node, label) vote sum and the per-node
    max_by argmax ride that single exchange (r11 — previously the vote
    aggregate and the argmax each paid their own) — one exchange per
    round, same as PageRank, with the same cluster-scale note: bucket
    the edge table by src once and every round reuses the layout
    shuffle-free on the edge side. The self-vote unions into the raw contribution stream BEFORE
    the vote aggregate, so no third aggregate exists. The (node, label)
    aggregate is bounded by the distinct incident-label count per node,
    never the corpus.

    Reference analog: none — extension surface (the labeled sibling of
    ``dedup_connected_components``; components merge everything reachable,
    LPA keeps densely-connected regions distinct).
    """
    _, labels = _lpa_edges_and_labels(spark, sf_dir)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").cast("bigint").alias("n_members")
    )


def _lpa_edges_and_labels(
    spark: SparkSession, sf_dir: str, persist_edges: bool = True
) -> tuple[DataFrame, DataFrame]:
    """The shared LPA core: the persisted weighted directed edge frame
    and the converged (node, label) vector after :data:`LPA_ITERS`
    synchronous rounds — consumed by `graph_label_propagation` (sizes)
    and `graph_modularity` (partition quality).

    Edges come from the SAME published ``pagerank_edges_w`` table
    PageRank/BFS read (r8 — previously this rebuilt the lineitem⋈orders
    aggregate per run; the published table is the identical
    bidirectional weighted edge list, wout dropped): one parquet scan
    instead of a corpus join, and at cluster scale the bucketed layout
    is shared by every graph consumer."""
    edges = _shared_edges(spark, sf_dir).select("src", "dst", "w")
    # persist only for the multi-consumer iterative path; the one-shot
    # publish lambda (graph_modularity -> memo_publish('lpa_labels'))
    # materializes labels exactly once, so a cache would leak for the
    # process lifetime with no second reader (r8 advice)
    if persist_edges:
        edges = keep(edges)
    labels = _lpa_rounds(edges, broadcast=True)
    return edges, labels


def _lpa_rounds(edges: DataFrame, *, broadcast: bool) -> DataFrame:
    """The :data:`LPA_ITERS` synchronous vote rounds over an ``(src, dst,
    w)`` edge frame — shared by the broadcast tier
    (:func:`graph_label_propagation`, ``broadcast=True``) and the
    bucketed tier (:func:`graph_lpa_bucketed`, ``False``: the label vector
    shuffles node-sized into the edge table's bucket layout instead of
    broadcasting to every executor, :func:`_vector_side`). Vote weights,
    tie order and the per-round lineage cut (:func:`_cut`) are identical,
    so both tiers walk the same bit-exact trajectory."""
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LPA_ITERS):
        # The unit self-vote joins the RAW contribution stream BEFORE the
        # vote aggregate (node-sized rows unioned into an edge-sized
        # stream), so one hash aggregate sums neighbor and self votes
        # together — bit-identical to aggregating inflow first and
        # re-summing after a union, but one aggregate and one exchange
        # fewer per round (the r6 shape ran inflow agg -> union -> re-agg).
        # explicit equi-condition (not a rename+USING): the label side
        # keeps its `node` name, so in the bucketed tier every exchange
        # in the plan is verifiably keyed node/label, never the edge
        # table's src — the property the plan pin asserts.
        lab = _vector_side(labels, "node", broadcast=broadcast)
        contrib = edges.join(lab, edges.src == lab.node).select(
            F.col("dst").alias("node"), "label", "w"
        )
        # ONE exchange per round instead of two (r11, guide §2.4): hash
        # the raw vote stream by node BEFORE aggregating — then BOTH the
        # (node, label) vote sum and the (node) argmax ride that single
        # partitioning (HashPartitioning(node) satisfies the clustered
        # distribution of both aggregates, node being a subset of each
        # key set). The old shape paid a partial-agg exchange keyed
        # (node, label) AND a second exchange keyed (node); the raw
        # stream this ships instead is the same contribution rows the
        # partial agg barely compressed (a node's incident labels are
        # near-distinct per map task). Interleaved 5-pass A/B at sf1:
        # 10.9 s -> 8.3 s median (broadcast tier), bit-identical output.
        stream = spread(
            contrib.unionByName(
                labels.select(
                    "node",
                    "label",
                    F.lit(LPA_SELF_W).cast("bigint").alias("w"),
                )
            ),
            "node",
        )
        votes = stream.groupBy("node", "label").agg(
            F.sum("w").cast("bigint").alias("wsum")
        )
        # argmax by (wsum DESC, label ASC) as a partial-aggregatable
        # max_by instead of a rank window: exchange-free above the
        # stream's node partitioning, no sort.
        labels = votes.groupBy("node").agg(
            F.max_by(
                "label", F.struct(F.col("wsum"), (-F.col("label")).alias("nl"))
            ).alias("label")
        )
        labels = _cut(labels, broadcast=broadcast)
    return labels


@register(
    "graph_lpa_bucketed",
    _lpa_oracle(),
    doc=f"label propagation over the SRC-BUCKETED edge table — the "
    f"cluster-scale fallback for label vectors past the broadcast "
    f"threshold: per round the bucketed edge scan satisfies the vote join "
    f"with NO exchange on the edge side, only the node-sized label vector "
    f"shuffles; results bit-identical to graph_label_propagation "
    f"({LPA_ITERS} rounds, integer vote weights)",
)
def graph_lpa_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed-join tier of :func:`graph_label_propagation` — same
    integer votes, same tie order, same oracle, different physical
    strategy: the r9 `graph_pagerank_bucketed` playbook applied to the
    operator whose docstring still carried the fallback as prose
    (r9 VERDICT ask #1). The broadcast tier wins while the (node, label)
    vector fits the broadcast threshold (~4M nodes at 16 B/row under
    64 MB); past that, broadcasting O(nodes) to every executor each round
    loses to shuffling O(nodes) once per round into the edge table's
    bucket layout. ``test_bucketed_lpa_round_join_no_edge_exchange`` pins
    the plan: the edge side of the vote join carries its bucket spec
    (SelectedBucketsCount) and NO exchange; the only hash exchanges are
    the node-sized label vector and the vote stream's single node-keyed
    repartition (r11 — both vote aggregates ride it). SCALING.md
    records the crossover arithmetic (shared with PageRank — same edge
    table, same vector size).

    Reference analog: none (extension surface — the layout discipline of
    ``graph_pagerank_bucketed`` applied to the LPA family).
    """
    from ufload_spark.sources.loader import publish_scratch

    with scope():
        # persist the bucketed scan: InMemoryRelation PRESERVES the bucket
        # HashPartitioning (probed — the vote join stays exchange-free on the
        # edge side), and the 4 rounds read the cache instead of re-scanning
        # and re-sorting the table per round (measured sf1: 9.9 -> 8.8 s).
        edges = keep(
            spark.table(_bucketed_edges_table(spark, sf_dir)).select("src", "dst", "w")
        )
        labels = _lpa_rounds(edges, broadcast=False)
        result = labels.groupBy(F.col("label").alias("community")).agg(
            F.count("*").cast("bigint").alias("n_members")
        )
        target = publish_scratch(spark, result, "lpa_bucketed_out", sf_dir)
    return read_parquet(spark, target)


def _modularity_oracle() -> str:
    # the LPA oracle's CTE chain up to the converged label vector, then
    # the weighted-modularity table on top of it
    prefix = _lpa_oracle().rsplit("\nSELECT label AS community", 1)[0]
    return (
        prefix
        + f""", lab AS (
  SELECT node, label FROM l{LPA_ITERS}
), tot AS (
  SELECT CAST(sum(w) AS BIGINT) AS tw FROM edges
), sizes AS (
  SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
  FROM lab GROUP BY 1
), degc AS (
  SELECT la.label AS community, CAST(sum(e.w) AS BIGINT) AS deg_w
  FROM edges e JOIN lab la ON e.src = la.node GROUP BY 1
), win AS (
  SELECT la.label AS community, CAST(sum(e.w) AS BIGINT) AS w_in
  FROM edges e
  JOIN lab la ON e.src = la.node
  JOIN lab lb ON e.dst = lb.node
  WHERE la.label = lb.label GROUP BY 1
)
SELECT s.community, s.n_members, d.deg_w,
       coalesce(w.w_in, 0) AS w_in,
       CAST((CAST(tot.tw AS HUGEINT) * coalesce(w.w_in, 0)
             - CAST(d.deg_w AS HUGEINT) * d.deg_w) * 1000000
            // (CAST(tot.tw AS HUGEINT) * tot.tw) AS BIGINT)
         AS q_contrib_micro
FROM sizes s
JOIN degc d ON d.community = s.community
LEFT JOIN win w ON w.community = s.community
CROSS JOIN tot"""
    )


@register(
    "graph_modularity",
    _modularity_oracle(),
    doc="weighted Newman modularity of the LPA partition, per community: "
    "q_contrib_micro = (2m*w_in - deg_w^2)*1e6 // (2m)^2 in exact "
    "integers (sum over rows = Q*1e6, floored per community)",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-quality audit for the LPA communities: weighted Newman
    modularity Q = Σ_c [w_in_c/2m − (deg_c/2m)²] over the directed edge
    list (each undirected edge appears in both directions, so Σw = 2m
    and w_in counts both directions of intra-community edges — the
    standard formulation). Emitted PER COMMUNITY so the output pinpoints
    which communities are cohesive and which are modularity sinks;
    Σ q_contrib_micro ≈ Q·10⁶ (each term floored once, exact integers
    through decimal128/HUGEINT cross-multiplication — no float until
    nothing is left to compute).

    Scale shape: the LPA rounds as in `graph_label_propagation`, then
    the node-sized label vector broadcasts onto the persisted edges
    TWICE (src and dst side), one edge-scan aggregate each for w_in and
    deg_w, a node-sized size aggregate, and a community-keyed join of
    three community-sized frames with the 1-row total riding a broadcast
    cross join. No window, no global sort.

    Reference analog: none (extension surface — graph family; the
    evaluation metric for `graph_label_propagation`'s output, as
    `similarity_quantized_recall_eval` is for the ANN tier).

    The partition under audit is the PUBLISHED label table (r8:
    ``memo_publish("lpa_labels", …)`` — built once per corpus through
    the audited sink, exactly like the shared edge table): production
    audits the partition it shipped, it does not re-run the 4 LPA
    rounds inside the audit. The LPA trajectory is bit-identical across
    runs (total tie order), so fresh-vs-published labels are the same
    table — `graph_label_propagation` itself still computes the rounds
    live, so the bench keeps measuring the iterative cost there.
    """
    from ufload_spark.sources.loader import memo_read

    # ONE pass over the published edge table — no persist (the cache
    # would be materialized for a single consumer and then dropped)
    edges = _shared_edges(spark, sf_dir).select("src", "dst", "w")
    labels = memo_read(
        spark,
        "lpa_labels",
        sf_dir,
        lambda: _lpa_edges_and_labels(spark, sf_dir, persist_edges=False)[1],
    )
    lab_src = F.broadcast(
        labels.select(F.col("node").alias("src"), F.col("label").alias("la"))
    )
    lab_dst = F.broadcast(
        labels.select(F.col("node").alias("dst"), F.col("label").alias("lb"))
    )
    tot = edges.agg(F.sum("w").cast("bigint").alias("tw"))
    sizes = labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    # ONE edge pass for both statistics (r8 — previously deg_w and w_in
    # each re-scanned the edge table): both label vectors broadcast onto
    # a single scan; w_in is the conditional sum inside the same
    # aggregate. Every node is labeled, so the inner joins drop nothing.
    both_stats = (
        edges.join(lab_src, "src")
        .join(lab_dst, "dst")
        .groupBy(F.col("la").alias("community"))
        .agg(
            F.sum("w").cast("bigint").alias("deg_w"),
            F.sum(F.when(F.col("la") == F.col("lb"), F.col("w")).otherwise(0))
            .cast("bigint")
            .alias("w_in"),
        )
    )
    dec = "decimal(38,0)"
    joined = (
        sizes.join(both_stats, "community")
        .crossJoin(F.broadcast(tot))
        .select(
            "community",
            "n_members",
            "deg_w",
            F.coalesce("w_in", F.lit(0)).cast("bigint").alias("w_in"),
            F.col("tw").cast(dec).alias("twd"),
        )
    )
    return joined.select(
        "community",
        "n_members",
        "deg_w",
        "w_in",
        F.expr(
            "CAST(((twd * w_in - CAST(deg_w AS decimal(38,0)) * deg_w)"
            " * 1000000) div (twd * twd) AS BIGINT)"
        ).alias("q_contrib_micro"),
    )


#: BFS frontier-expansion rounds (graph diameter budget for the audit)
BFS_ROUNDS = 4
#: seed set: suppliers of this nation (3 has members at every fixture SF)
BFS_SEED_NATION = 3


def _bfs_oracle() -> str:
    parts = [
        _EDGES_CTE,
        f""", d0 AS (
  SELECT DISTINCT s_suppkey * 2 + 1 AS node, 0 AS d
  FROM supplier WHERE s_nationkey = {BFS_SEED_NATION}
)""",
    ]
    for k in range(1, BFS_ROUNDS + 1):
        prev = f"d{k - 1}"
        parts.append(
            f""", d{k} AS (
  SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
    SELECT node, d FROM {prev}
    UNION ALL
    SELECT e.dst AS node, {k} AS d
    FROM edges e JOIN {prev} p ON e.src = p.node AND p.d = {k - 1}
  ) GROUP BY node
)""",
        )
    parts.append(
        f"""
SELECT d AS distance, CAST(count(*) AS BIGINT) AS n_nodes
FROM d{BFS_ROUNDS} GROUP BY d
"""
    )
    return "".join(parts)


@register(
    "graph_bfs_distances",
    _bfs_oracle(),
    doc=f"multi-source BFS over the purchase graph: {BFS_ROUNDS} synchronous "
    f"frontier expansions from nation-{BFS_SEED_NATION} suppliers, min-"
    "distance merge per round; emits the hop-distance histogram",
)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source breadth-first search — the graph-traversal primitive
    under blast-radius analysis, supply-chain reachability and feature
    engineering ("hops from a flagged entity"). Every supplier of nation
    :data:`BFS_SEED_NATION` seeds at distance 0; each synchronous round
    joins the current frontier to the edge list and merges by MIN
    distance, so after :data:`BFS_ROUNDS` rounds every node holds its
    exact hop count from the nearest seed (nodes beyond the budget are
    absent — the honest semantics of bounded traversal). Distances are
    small integers: no scores, no floats, bit-identical everywhere.

    Scale shape: the iteration pattern proven by PageRank/LPA on the
    SAME published edge table (`memo_publish` — built once per corpus,
    persisted for the rounds). Per round: one broadcast of the
    node-sized frontier vector against the never-shuffling edges, one
    min-merge aggregate, and a lazy ``localCheckpoint`` lineage barrier
    (without it round k's broadcast subtree replans rounds 1..k-1; the
    LPA lesson, 26 s → 4 s at sf0.1). Only the FRONTIER joins the edges
    — settled nodes ride along in the union at zero join cost. Past
    broadcastable frontiers the fallback is REAL, not prose:
    `graph_bfs_bucketed` runs the same rounds against the src-bucketed
    shared edge table.

    Reference analog: none (extension surface — graph family; components
    answer "connected at all?", BFS answers "how far?").
    """
    edges = keep(_shared_edges(spark, sf_dir).select("src", "dst"))
    return _bfs_rounds(spark, sf_dir, edges, broadcast=True)


def _bfs_rounds(
    spark: SparkSession, sf_dir: str, edges: DataFrame, *, broadcast: bool
) -> DataFrame:
    """The :data:`BFS_ROUNDS` synchronous frontier expansions shared by
    the broadcast tier (:func:`graph_bfs_distances`) and the bucketed
    tier (:func:`graph_bfs_bucketed`): the layout only decides how the
    node-sized frontier meets the edges (:func:`_vector_side`). Same
    min-merge, same lineage cuts (:func:`_cut`): identical distances
    either way."""
    sup = table(spark, sf_dir, "supplier")
    dist = (
        sup.where(F.col("s_nationkey") == BFS_SEED_NATION)
        .select(_supp_node("s_suppkey").alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("bigint").alias("d"))
    )
    for k in range(1, BFS_ROUNDS + 1):
        frontier = dist.where(F.col("d") == k - 1)
        f = _vector_side(frontier, "node", broadcast=broadcast)
        nbr = edges.join(f, edges.src == f.node).select(
            F.col("dst").alias("node"), F.lit(k).cast("bigint").alias("d")
        )
        dist = (
            dist.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("d").cast("bigint").alias("d"))
        )
        dist = _cut(dist, broadcast=broadcast)
    return dist.groupBy(F.col("d").alias("distance")).agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )


@register(
    "graph_bfs_bucketed",
    _bfs_oracle(),
    doc=f"multi-source BFS over the SRC-BUCKETED edge table — the "
    "cluster-scale fallback for frontiers past the broadcast threshold: "
    "per round the bucketed edge scan satisfies the frontier join with "
    "NO exchange on the edge side; results bit-identical to "
    f"graph_bfs_distances ({BFS_ROUNDS} rounds, exact hop counts)",
)
def graph_bfs_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed tier of :func:`graph_bfs_distances` — the last graph
    iterative whose past-broadcast fallback was prose (r10; PageRank got
    its bucketed tier in r9, LPA and k-core earlier in r10). Same seeds,
    same min-merge rounds, same oracle; the frontier joins the
    src-bucketed shared edge table with the SHUFFLE_HASH hint pinned on
    the node-sized frontier (the build side — with the persisted scan's
    size estimate the planner would otherwise broadcast-build the EDGE
    side, the r10 sf1 OOM), so the edge side reads its bucket layout
    exchange-free and only the node-sized frontier shuffles per round;
    ``test_bucketed_bfs_round_no_edge_exchange`` pins the shape.
    Crossover arithmetic: identical to PageRank/LPA (same table, same
    node-sized vector; SCALING.md r9/r10 entries).

    Reference analog: none (extension surface — layout discipline of
    ``graph_pagerank_bucketed`` applied to bounded traversal).
    """
    from ufload_spark.sources.loader import publish_scratch

    with scope():
        # persist keeps the bucket partitioning AND saves the per-round
        # rescan+sort (the LPA-bucketed measurement; same table, same shape)
        edges = keep(
            spark.table(_bucketed_edges_table(spark, sf_dir)).select("src", "dst")
        )
        result = _bfs_rounds(spark, sf_dir, edges, broadcast=False)
        target = publish_scratch(spark, result, "bfs_bucketed_out", sf_dir)
    return read_parquet(spark, target)


#: link-prediction output size
LP_TOP_N = 20


@register(
    "graph_link_prediction",
    f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
), edges AS (
  SELECT a.part AS u, b.part AS v
  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
  GROUP BY 1, 2 HAVING count(*) >= {TRI_EDGE_MINSUP}
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY node
), und AS (
  SELECT u AS w, v AS n FROM edges UNION ALL SELECT v AS w, u AS n FROM edges
), wedges AS (
  SELECT a.n AS u, b.n AS v, CAST(count(*) AS BIGINT) AS common
  FROM und a JOIN und b ON a.w = b.w AND a.n < b.n
  GROUP BY 1, 2
), cand AS (
  SELECT w.u, w.v, w.common FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = w.u AND e.v = w.v)
), scored AS (
  SELECT c.u, c.v, c.common, du.d AS deg_u, dv.d AS deg_v,
         (c.common * 1000000) // (du.d + dv.d - c.common) AS jacc_micro
  FROM cand c
  JOIN deg du ON c.u = du.node
  JOIN deg dv ON c.v = dv.node
)
SELECT u, v, common, deg_u, deg_v, jacc_micro, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, row_number() OVER (ORDER BY jacc_micro DESC, u, v) AS rnk
  FROM scored
) WHERE rnk <= {LP_TOP_N}
""",
    doc=f"link prediction on the co-purchase graph: top-{LP_TOP_N} "
    "non-adjacent pairs by common-neighbor Jaccard — exact integer counts, "
    "score as one floor division to micro-units, anti-join vs existing edges",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood overlap — the classic
    common-neighbor/Jaccard baseline (Liben-Nowell & Kleinberg): for
    every NON-adjacent part pair reachable in two hops, score
    |Γ(u)∩Γ(v)| / |Γ(u)∪Γ(v)| and emit the global top
    :data:`LP_TOP_N` — the "these products will be bought together
    next" shortlist. Common counts come from one wedge aggregate,
    existing edges are removed by an anti-join, the union size is
    du+dv−common (exact integers), and the score snaps to micro-units
    with one floor division, so the ranking is a total integer order
    with (u, v) tie-break — bit-stable everywhere.

    Scale shape: the wedge self-join through shared neighbors is the
    honest Σd_w² cost of neighborhood methods; at 100 TB the standard
    mitigation — cap or sample super-hub intermediates (w with d_w over
    a threshold contributes ~nothing to Jaccard anyway since it inflates
    every union) — bolts on as one filter against the broadcast degree
    table. Final ranking is TakeOrdered (no global sort materializes).

    Reference analog: none (extension surface — graph family; the
    predictive sibling of `part_recommendations_topn`, which ranks
    pairs that DID co-occur).
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = _degrees(edges, "u", "v")
    und = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("w"), F.col("v").alias("n")),
                F.struct(F.col("v").alias("w"), F.col("u").alias("n")),
            )
        ).alias("e")
    ).select("e.w", "e.n")
    ua, ub = und.alias("ua"), und.alias("ub")
    wedges = (
        ua.join(
            ub,
            (F.col("ua.w") == F.col("ub.w")) & (F.col("ua.n") < F.col("ub.n")),
        )
        .groupBy(F.col("ua.n").alias("u"), F.col("ub.n").alias("v"))
        .agg(F.count("*").cast("bigint").alias("common"))
    )
    cand = wedges.join(edges, ["u", "v"], "left_anti")
    scored = (
        cand.join(
            F.broadcast(deg.withColumnsRenamed({"node": "u", "d": "deg_u"})), "u"
        )
        .join(
            F.broadcast(deg.withColumnsRenamed({"node": "v", "d": "deg_v"})), "v"
        )
        .select(
            "u",
            "v",
            "common",
            "deg_u",
            "deg_v",
            F.expr(
                "CAST(common * 1000000 AS decimal(38,0))"
                " div (deg_u + deg_v - common)"
            )
            .cast("bigint")
            .alias("jacc_micro"),
        )
    )
    # TakeOrderedAndProject: top-N, no full sort materializes
    top = scored.orderBy(
        F.desc("jacc_micro"), "u", "v"
    ).limit(LP_TOP_N)
    w = Window.orderBy(F.desc("jacc_micro"), "u", "v")
    # SCALE GUARD: partition-less window over the LP_TOP_N-row frame only.
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


#: k-core floor and peel-round budget for the degeneracy audit
KCORE_K = 8
KCORE_ROUNDS = 4


def _kcore_stats(deg_c: DataFrame, deg_s: DataFrame, rnd: int) -> DataFrame:
    """One k-core round's (round, n_nodes, n_edges) audit row straight off
    the NODE-sized degree frames the peel computes anyway: distinct-c =
    deg_c rows, edges = Σdegree — no countDistinct over the pair frame
    (which Catalyst plans as an Expand that doubles the widest stream, the
    same trap de-Expanded out of text_repetition_ratio)."""
    a = deg_c.agg(
        F.count("*").cast("bigint").alias("n_c"),
        F.sum("d").cast("bigint").alias("n_edges"),
    )
    b = deg_s.agg(F.count("*").cast("bigint").alias("n_s"))
    return a.crossJoin(b).select(
        F.lit(rnd).cast("bigint").alias("round"),
        (F.col("n_c") + F.col("n_s")).cast("bigint").alias("n_nodes"),
        "n_edges",
    )


def _kcore_oracle() -> str:
    parts = [
        """
WITH p0 AS (
  SELECT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
)"""
    ]
    for k in range(1, KCORE_ROUNDS + 1):
        prev = f"p{k - 1}"
        parts.append(
            f""", p{k} AS (
  SELECT c, s FROM {prev}
  WHERE c IN (SELECT c FROM {prev} GROUP BY c HAVING count(*) >= {KCORE_K})
    AND s IN (SELECT s FROM {prev} GROUP BY s HAVING count(*) >= {KCORE_K})
)"""
        )
    stats = [
        f"""SELECT CAST({k} AS BIGINT) AS round,
       CAST(count(DISTINCT c) + count(DISTINCT s) AS BIGINT) AS n_nodes,
       CAST(count(*) AS BIGINT) AS n_edges
FROM p{k}"""
        for k in range(KCORE_ROUNDS + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(stats))
    return "".join(parts)


def _kcore_curve(pairs: DataFrame, *, broadcast: bool) -> DataFrame:
    """The synchronous k-core peel over a ``(c, s)`` pair frame and its
    per-round ``(round, n_nodes, n_edges)`` curve — shared by the broadcast
    tier (:func:`graph_kcore_peel`) and the bucketed tier
    (:func:`graph_kcore_bucketed`). Both walk the identical curve.

    Per round: ONE exploded node-keyed degree aggregate over the pair
    frame (node ids are parity-disjoint, so exploding each pair into its
    endpoints and counting by node yields BOTH degree tables in one pass:
    one scan, one map-side partial, one node-sized exchange — r11 peel,
    lifted into the bucketed tier in r12, where the two per-side
    aggregates had cost ~four pair passes a round: sf1 8.14 -> 5.19 s).
    The node-sized result is lazily checkpointed so all four consumers
    (stats row + both keep lists) read one materialization — without the
    cut Catalyst pushes each consumer's parity filter below the aggregate
    and the exchange stops being shared. Then two LEFT SEMI joins restrict
    the pairs to surviving endpoints, and the round's pair frame gets a
    lineage barrier (:func:`_cut`): the next round reads it twice.

    Layout (:func:`_vector_side`):

    - broadcast: the node-sized keep lists broadcast, so the pair frame
      never shuffles; the only exchange per round is the degree partials.
    - bucketed: ``pairs`` arrives hash-partitioned by ``c`` from the
      bucket layout. The semi joins take the same-parity key first
      (exchange-free on the pair side), then the opposite key — the
      round's single pair-frame exchange, which leaves the frame
      partitioned for the NEXT round's first join, alternating. This is
      why the bucketed barrier is a persist: it keeps the
      outputPartitioning the alternation rides, while a checkpoint
      rewrites the frame as an opaque RDD scan (measured: every aggregate
      then re-exchanges). The degree frames stay checkpoints in both
      layouts (a persist of them measured ~4.5x slower at sf0.1)."""
    pairs = _cut(pairs, broadcast=broadcast)
    out = []
    for rnd in range(KCORE_ROUNDS + 1):
        deg = cut(
            pairs.select(
                F.explode(F.array(F.col("c"), F.col("s"))).alias("node")
            )
            .groupBy("node")
            .agg(F.count("*").cast("bigint").alias("d"))
        )
        deg_c = deg.where(_is_cust("node")).select(F.col("node").alias("c"), "d")
        deg_s = deg.where(_is_supp("node")).select(F.col("node").alias("s"), "d")
        out.append(_kcore_stats(deg_c, deg_s, rnd))
        if rnd == KCORE_ROUNDS:
            break
        survivors = {
            key: _vector_side(
                side.where(F.col("d") >= KCORE_K).select(key), key, broadcast=broadcast
            )
            for key, side in (("c", deg_c), ("s", deg_s))
        }
        for key in ("s", "c") if not broadcast and rnd % 2 else ("c", "s"):
            pairs = pairs.join(survivors[key], key, "left_semi")
        pairs = _cut(pairs, broadcast=broadcast)
    return reduce(DataFrame.unionByName, out)


def _customer_pairs(edges: DataFrame) -> DataFrame:
    """The distinct ``(c, s)`` purchase pairs: the customer-side rows of
    the shared edge table, which holds every pair in both directions."""
    return edges.where(_is_cust("src")).select(
        F.col("src").alias("c"), F.col("dst").alias("s")
    )


@register(
    "graph_kcore_peel",
    _kcore_oracle(),
    doc=f"k-core degeneracy peel (k={KCORE_K}, {KCORE_ROUNDS} synchronous "
    "rounds) on the bipartite purchase graph: each round drops nodes with "
    "fewer than k distinct partners and the edges they carried; emits the "
    "per-round (nodes, edges) shrinkage curve — exact integers throughout",
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by synchronous peeling (Seidman's cores;
    Batagelj–Zaversnik made sequential, here the Montresor et al.
    distributed formulation): every round deletes nodes whose degree in
    the CURRENT graph is below :data:`KCORE_K`, together with their
    edges, and the per-round (n_nodes, n_edges) curve is the audit
    output — where it flattens, the k-core has converged; the surviving
    subgraph is the densely-engaged customer/supplier backbone (the
    graph-world analog of the RFM "champions" cell).

    The graph is the bipartite purchase graph (distinct customer-supplier
    pairs, the PageRank/LPA edge set), so degree = distinct trading
    partners and the two sides peel against the same floor. Synchronous
    rounds make the trajectory deterministic: each round's degrees are
    computed from the previous round's edge set only (no within-round
    cascade order), so both engines walk the identical curve.

    Scale shape: :func:`_kcore_curve` with broadcast keep lists over the
    shared edge table's customer half (one pruned parquet scan instead of
    a corpus join, r9); the per-round stats rows are lazy 1-row
    aggregates unioned at the end (one job). Past broadcastable keep
    lists the fallback is :func:`graph_kcore_bucketed`.

    Reference analog: none (extension surface — graph family, beside
    ``graph_label_propagation`` / ``graph_triangle_count``).
    """
    return _kcore_curve(_customer_pairs(_shared_edges(spark, sf_dir)), broadcast=True)


@register(
    "graph_kcore_bucketed",
    _kcore_oracle(),
    doc=f"k-core peel (k={KCORE_K}, {KCORE_ROUNDS} rounds) over the "
    "C-BUCKETED pair layout — the cluster-scale fallback for keep lists "
    "past the broadcast threshold: per round ONE pair-frame exchange "
    "(the opposite-parity semi key; the same-parity semi rides the "
    "current layout) plus one exploded node-sized degree aggregate; "
    "results bit-identical to graph_kcore_peel",
)
def graph_kcore_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed tier of :func:`graph_kcore_peel` — same peel
    (:func:`_kcore_curve` with ``broadcast=False``), same oracle, for the
    regime where the per-round keep lists outgrow the broadcast threshold.
    The pair set is the customer half of the SRC-bucketed shared edge
    table, so round 0's pair frame arrives partitioned by ``c``; each
    round moves the pair frame once (the alternating semi key) and
    everything else that shuffles is node-sized. The round caches and
    degree checkpoints are released once the curve is published (rule 2
    of :mod:`ufload_spark.lifetime`).
    ``test_bucketed_kcore_round_no_pair_exchange_on_bucket_key`` pins
    round 0's shape.

    Reference analog: none (extension surface — layout discipline of
    ``graph_pagerank_bucketed`` applied to the peeling family).
    """
    from ufload_spark.sources.loader import publish_scratch

    edges = spark.table(_bucketed_edges_table(spark, sf_dir))
    with scope():
        res = _kcore_curve(_customer_pairs(edges), broadcast=False)
        target = publish_scratch(spark, res, "kcore_bucketed_out", sf_dir)
    return read_parquet(spark, target)


def _purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ``(c, s)`` customer-supplier node pairs of the purchase
    graph, for the structure audits (power-law fit, assortativity)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(_cust_node("o_custkey").alias("c"), _supp_node("l_suppkey").alias("s"))
        .distinct()
    )


@register(
    "graph_degree_powerlaw",
    """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT c AS node FROM pairs UNION ALL SELECT s FROM pairs)
  GROUP BY node
), hist AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY d
), pts AS (
  SELECT CAST(round(ln(CAST(d AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x,
         CAST(round(ln(CAST(n_nodes AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y
  FROM hist
), s AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
       (SELECT CAST(max(d) AS BIGINT) FROM deg) AS max_degree,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) + 0.0 AS alpha,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             * CAST(n * sxy - sx * sy AS DOUBLE)
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0 AS r2
FROM s
""",
    doc="degree-distribution power-law fit on the purchase graph: degree "
    "histogram → log-log OLS slope (alpha) + R² from fixed-point micro "
    "logs and exact decimal128 sufficient statistics",
)
def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The structural audit behind every graph-operator sizing decision in
    this module: is the degree distribution heavy-tailed, and how heavy?
    ln(#nodes with degree d) regressed on ln(d) — the classic power-law
    diagnostic (Barabási-Albert scale-free exponent, public; the honest
    caveat that binned log-log OLS is a diagnostic, not an MLE, is part
    of the docstring contract). A steep negative alpha with high R² says
    hub nodes exist, which is exactly when the triangle count's
    degree-ordered orientation and the skew-salting machinery earn their
    keep; a flat fit says the graph is degree-regular and simpler plans
    win.

    Float discipline: one libm ln per HISTOGRAM row (bounded by max
    degree, not node count), snapped to micro-units immediately; OLS
    sufficient statistics in exact decimal128; two rounded divisions at
    the end (the Zipf/elasticity pattern).

    Scale shape: one shuffle to distinct pairs, one to per-node degrees,
    one to the degree histogram — each with map-side partials; the
    regression runs on the ≤max-degree-row histogram frame.

    Reference analog: none (extension surface — graph family).
    """
    pairs = _purchase_pairs(spark, sf_dir)
    deg = _degrees(pairs, "c", "s")
    hist = deg.groupBy("d").agg(F.count("*").cast("bigint").alias("n_nodes"))
    pts = hist.select(
        F.round(F.log(F.col("d").cast("double")) * 1000000, 0)
        .cast("bigint")
        .alias("x"),
        F.round(F.log(F.col("n_nodes").cast("double")) * 1000000, 0)
        .cast("bigint")
        .alias("y"),
    )
    dec = "decimal(38,0)"
    s = pts.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    mx = deg.agg(F.max("d").cast("bigint").alias("max_degree"))
    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.crossJoin(F.broadcast(mx)).select(
        F.col("n").cast("bigint").alias("n_points"),
        "max_degree",
        (F.round(cov_n.cast("double") / varx_n.cast("double"), 6) + F.lit(0.0)).alias(
            "alpha"
        ),
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


@register(
    "graph_assortativity",
    """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT c AS node FROM pairs UNION ALL SELECT s FROM pairs)
  GROUP BY node
), ends AS (
  SELECT dc.d AS x, ds.d AS y
  FROM pairs p JOIN deg dc ON p.c = dc.node JOIN deg ds ON p.s = ds.node
), sym AS (
  SELECT x, y FROM ends UNION ALL SELECT y AS x, x AS y FROM ends
), m AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM sym
)
SELECT CAST(n // 2 AS BIGINT) AS n_edges,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0
         AS assortativity
FROM m
""",
    doc="degree assortativity of the purchase graph (Newman): Pearson "
    "correlation of endpoint degrees over the symmetrized edge list — "
    "exact decimal128 sufficient statistics, one rounded expression",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman's degree assortativity coefficient (public): do high-degree
    nodes attach to other high-degree nodes (r > 0, social-network-like)
    or to low-degree ones (r < 0, hub-and-spoke — the expected signature
    of a bipartite commerce graph)? It is the Pearson correlation of the
    two endpoint degrees over the edge list, SYMMETRIZED (each undirected
    edge contributes both orientations — the standard estimator; without
    it the customer/supplier sides would land on arbitrary axes). With
    `graph_degree_powerlaw` this completes the structure-audit pair: the
    power-law fit says whether hubs exist, assortativity says how they
    wire.

    Exactness: degrees are exact integers riding a two-join attach onto
    the pair list (the triangle-count device — no global rank), the
    correlation's sufficient statistics are decimal128 integer sums, and
    the single float expression (one sqrt, one division) is evaluated in
    the same fixed order on both engines and rounded once.

    Scale shape: one shuffle to distinct pairs, one to degrees, two
    degree-attach joins keyed by node, a row-local symmetrizing explode,
    ONE scalar aggregate. At cluster scale the degree table is
    node-sized — broadcastable long before the edge list is.

    Reference analog: none (extension surface — graph family).
    """
    pairs = _purchase_pairs(spark, sf_dir)
    deg = _degrees(pairs, "c", "s")
    ends = (
        pairs.join(deg.withColumnsRenamed({"node": "c", "d": "x"}), "c")
        .join(deg.withColumnsRenamed({"node": "s", "d": "y"}), "s")
        .select("x", "y")
    )
    # row-local symmetrize (the explode device, not a plan-doubling union)
    sym = ends.select(
        F.explode(
            F.array(
                F.struct(F.col("x"), F.col("y")),
                F.struct(F.col("y").alias("x"), F.col("x").alias("y")),
            )
        ).alias("e")
    ).select("e.x", "e.y")
    dec = "decimal(38,0)"
    m = sym.agg(
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
    return m.select(
        F.expr("CAST(n div 2 AS BIGINT)").alias("n_edges"),
        (
            F.round(
                cov_n.cast("double")
                / F.sqrt(varx_n.cast("double") * vary_n.cast("double")),
                6,
            )
            + F.lit(0.0)
        ).alias("assortativity"),
    )


#: strong-tie threshold: a (customer, supplier) pair qualifies when they
#: traded at least this many line items — the co-occurrence floor that
#: fragments the near-complete purchase graph into communities
STRONG_W = 3


@register(
    "graph_strong_components",
    f"""
WITH RECURSIVE spairs AS (
  SELECT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
), strong AS (
  SELECT u, v FROM spairs WHERE w >= {STRONG_W}
), sedges AS (
  SELECT u, v FROM strong UNION SELECT v, u FROM strong
), snodes AS (SELECT DISTINCT u AS n FROM sedges),
reach(n, m) AS (
  SELECT n, n FROM snodes
  UNION
  SELECT r.n, e.v FROM reach r JOIN sedges e ON r.m = e.u
), comp AS (
  SELECT n, min(m) AS cluster_id FROM reach GROUP BY n
)
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(CASE WHEN n % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_customers,
       CAST(sum(CASE WHEN n % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_suppliers
FROM comp GROUP BY cluster_id
""",
    doc=f"trading communities: connected components over STRONG purchase "
    f"ties (pairs with >= {STRONG_W} line items) — the support floor "
    "fragments the near-complete bipartite graph into real communities; "
    "same min-label fixpoint as the dedup cluster tier",
)
def graph_strong_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by STRONG ties — the graph-family member of
    the connected-components fixpoint the dedup tiers own
    (`min_label_components`, dedup.py): the raw bipartite purchase graph
    is near-complete (every customer touches many suppliers — one giant
    component, no structure), so the edge set is first floored at
    :data:`STRONG_W` co-traded line items, the a-priori support lesson
    applied to graph formation. Components over the surviving strong
    ties are actual trading communities; output is the per-component
    size census split by node side.

    Scale shape: the pair aggregate is one (cust, supp)-keyed shuffle
    with map-side partials; the support floor drops the edge volume
    ~30× (measured at sf0.1: 587k pairs → 182 strong); the component
    solve is the dedup tiers' measured two-tier strategy (single-task
    union-find under 2M edges, chunked min-label propagation with
    one-action convergence sync above). The oracle re-derives the same
    fixpoint as a recursive-CTE transitive closure.

    Reference analog: none (extension surface — graph family, beside
    graph_label_propagation [soft communities] and graph_kcore_peel
    [density cores]).
    """
    from ufload_spark.operators.dedup import min_label_components

    strong = (
        _weighted_pairs(spark, sf_dir, "u", "v")
        .where(F.col("w") >= STRONG_W)
        .select("u", "v")
    )
    comp = min_label_components(strong)
    return comp.groupBy(F.col("m").alias("cluster_id")).agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum(F.when(_is_cust("n"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_customers"),
        F.sum(F.when(_is_supp("n"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_suppliers"),
    )


#: HITS: score mass per vector in micro-units, mutual-reinforcement rounds
HITS_MASS = 1_000_000_000
HITS_ITERS = 2


def _hits_oracle() -> str:
    parts = [
        """
WITH de AS (
  SELECT o.o_custkey AS c, l.l_suppkey AS s, CAST(count(*) AS BIGINT) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
), custs AS (
  SELECT DISTINCT c FROM de
), nc AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM custs
)""",
        f""", h0 AS (
  SELECT c, ({HITS_MASS} // n) AS h FROM custs, nc
)""",
    ]
    for k in range(1, HITS_ITERS + 1):
        parts.append(
            f""", araw{k} AS (
  SELECT de.s, CAST(sum(h.h * de.w) AS BIGINT) AS a
  FROM de JOIN h{k - 1} h ON de.c = h.c GROUP BY de.s
), at{k} AS (SELECT CAST(sum(a) AS HUGEINT) AS t FROM araw{k}),
a{k} AS (
  SELECT s, CAST((CAST(a AS HUGEINT) * {HITS_MASS}) // t AS BIGINT) AS a
  FROM araw{k}, at{k}
), hraw{k} AS (
  SELECT de.c, CAST(sum(a.a * de.w) AS BIGINT) AS h
  FROM de JOIN a{k} a ON de.s = a.s GROUP BY de.c
), ht{k} AS (SELECT CAST(sum(h) AS HUGEINT) AS t FROM hraw{k}),
h{k} AS (
  SELECT c, CAST((CAST(h AS HUGEINT) * {HITS_MASS}) // t AS BIGINT) AS h
  FROM hraw{k}, ht{k}
)"""
        )
    parts.append(
        f"""
SELECT 'customer' AS node_type, c AS entity_key, h AS score_micro
FROM h{HITS_ITERS}
UNION ALL
SELECT 'supplier' AS node_type, s AS entity_key, a AS score_micro
FROM a{HITS_ITERS}"""
    )
    return "".join(parts)


@register(
    "graph_hits_scores",
    _hits_oracle(),
    doc=f"HITS hubs/authorities on the bipartite purchase graph, "
    f"{HITS_ITERS} mutual-reinforcement rounds in exact integer "
    "micro-units with per-vector mass renormalization",
)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg's HITS on the directed customer→supplier purchase graph:
    a customer is a good HUB if it buys from authoritative suppliers, a
    supplier a good AUTHORITY if authoritative hubs buy from it —
    ``a = Eᵀh``, ``h = E·a``, renormalized to :data:`HITS_MASS` integer
    micro-units after each half-step (the L1 analog of the classical L2
    normalization — scale-free like HITS itself, and exact in integers).
    PageRank's sibling: PageRank propagates one importance score through
    a stochastic matrix; HITS couples two scores through the raw
    adjacency, so spam-heavy high-degree nodes rank differently.

    Exactness: every half-step is integer multiply-sum (order-free) and
    the renormalization is ``(raw · MASS) div total`` with HUGEINT/
    decimal(38) intermediates — quotients ≤ MASS fit int64, so results
    are bit-identical across engines and partitionings.

    Scale shape: the directed edge list is the even-src half of the
    persisted ``pagerank_edges_w`` table (built once, shared with
    PageRank/LPA/BFS; bucketed by src at cluster scale); each half-step
    is one broadcast-rank join + one aggregate shuffle keyed on the
    receiving side, the identical two-shuffle iteration PageRank pins.
    The totals are 1-row aggregates broadcast back — never a global
    sort. Reference analog: none (extension surface, graph family).
    """
    edges = keep(
        _shared_edges(spark, sf_dir)
        .where(_is_cust("src"))  # directed half: customer -> supplier
        .select(_entity_key("src").alias("c"), _entity_key("dst").alias("s"), "w")
    )
    custs = edges.select("c").distinct()
    nc = custs.groupBy().agg(F.count("*").alias("n"))
    hub = custs.crossJoin(F.broadcast(nc)).select(
        "c", F.expr(f"{HITS_MASS} div n").alias("h")
    )

    def _normalize(raw: DataFrame, key: str, col: str) -> DataFrame:
        # Lineage cut per half-step (the LPA discipline): the normalized
        # vector feeds the next half-step's broadcast AND the total's
        # 1-row aggregate — without the cut each broadcast subtree
        # re-executes the whole prior chain (measured 38 s -> ~6 s sf1).
        raw = cut(raw)
        total = raw.groupBy().agg(F.sum(col).cast("decimal(38,0)").alias("t"))
        return raw.crossJoin(F.broadcast(total)).select(
            key,
            F.expr(f"CAST(CAST({col} AS decimal(38,0)) * {HITS_MASS} div t AS BIGINT)").alias(col),
        )

    auth = None
    for _ in range(HITS_ITERS):
        araw = (
            edges.join(F.broadcast(hub), "c")
            .select("s", (F.col("h") * F.col("w")).alias("contrib"))
            .groupBy("s")
            .agg(F.sum("contrib").cast("bigint").alias("a"))
        )
        auth = _normalize(araw, "s", "a")
        hraw = (
            edges.join(F.broadcast(auth), "s")
            .select("c", (F.col("a") * F.col("w")).alias("contrib"))
            .groupBy("c")
            .agg(F.sum("contrib").cast("bigint").alias("h"))
        )
        hub = _normalize(hraw, "c", "h")
    out = hub.select(
        F.lit("customer").alias("node_type"),
        F.col("c").alias("entity_key"),
        F.col("h").alias("score_micro"),
    ).unionByName(
        auth.select(
            F.lit("supplier").alias("node_type"),
            F.col("s").alias("entity_key"),
            F.col("a").alias("score_micro"),
        )
    )
    return out
