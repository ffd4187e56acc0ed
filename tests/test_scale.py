"""Scale-mechanics verification: the physical plans actually do what the
design claims — bucketed joins drop their exchanges, partitioned writes
prune partitions, predicates reach the parquet scan, salting stays
result-identical."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, SF_DIR_MID, persistent_rdds
from ufload_spark.sources.tables import table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Bucketing both sides of the orderkey join on the same key/count lets
    the join run exchange-free — the layout that removes the q18 double
    shuffle at 100 TB."""
    li = table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("li_bucketed")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("o_bucketed")
    try:
        joined = (
            spark.table("li_bucketed")
            .join(
                spark.table("o_bucketed"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("q"))
        )
        plan = _plan(joined)
        # co-located join: no exchange feeding the join (the only exchange
        # allowed is none — bucketed scan satisfies the distribution)
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_partitioned_write_prunes(spark, tmp_path):
    """Writing events partitioned by event_type, then filtering on it, must
    prune at the directory level (PartitionFilters), not scan-and-filter."""
    ev = table(spark, SF_DIR, "events")
    path = str(tmp_path / "events_by_type")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(path)
    one_type = ev.select("event_type").first()[0]
    q = spark.read.parquet(path).where(F.col("event_type") == one_type)
    plan = _plan(q)
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    assert q.count() == ev.where(F.col("event_type") == one_type).count()


def test_q6_predicates_reach_scan(spark):
    from ufload_spark.operators.analytics import tpch_q6_forecast_revenue

    plan = _plan(tpch_q6_forecast_revenue(spark, SF_DIR))
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    # column pruning: only the needed columns in ReadSchema
    schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_comment" not in schema and "l_orderkey" not in schema


def test_salted_agg_matches_direct(spark):
    from ufload_spark.operators.skew import salted_agg

    ev = table(spark, SF_DIR, "events")
    got = {
        r["event_type"]: (r["n_events"], r["total_value"])
        for r in salted_agg(ev, "event_type").collect()
    }
    want = {
        r["event_type"]: (r["n"], r["s"])
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert got == want


def test_contamination_benchmark_side_broadcasts(spark):
    """The eval-sized benchmark shingle set must broadcast into the corpus
    shingle stream — the corpus side shuffling on `shingle` would be the
    100 TB scale-killer for the contamination audit."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["corpus_contamination_overlap"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    # the shingle-keyed join itself must be broadcast, never sort-merge:
    # an SMJ here reshuffles every corpus shingle (the bench side's own
    # tiny distinct exchange is fine — it's eval-sized by construction)
    assert any("BroadcastHashJoin [shingle" in ln for ln in plan.splitlines())
    assert not any("SortMergeJoin [shingle" in ln for ln in plan.splitlines())


def test_repetition_ratio_single_doc_exchange(spark):
    """text_repetition_ratio rides the shingle pipeline's doc_id exchange:
    exactly one hash-partitioning exchange (on doc_id), the distinct-count
    two-phase agg adds none."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["text_repetition_ratio"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    hash_exchanges = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert len(hash_exchanges) == 1 and "doc_id" in hash_exchanges[0]


def test_aqe_splits_skewed_join(spark):
    """One key holding 80% of the left side: AQE's OptimizeSkewedJoin must
    split the oversized partition (SortMergeJoin(skew=true) over an
    AQEShuffleRead marked skewed) and the split plan must return exactly
    the un-split plan's result. Thresholds are scaled down to fixture
    size; the rule is the same one that breaks stragglers at 100 TB."""
    from ufload_spark.operators.skew import skewed_join_inputs, skewed_join_total

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left, right = skewed_join_inputs(spark)
        q = skewed_join_total(left, right)
        [row] = q.collect()  # AQE finalizes the plan during execution
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "OptimizeSkewedJoin did not fire"
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # result identical to the default (broadcast-allowed, no forced split) plan
    [direct] = skewed_join_total(*skewed_join_inputs(spark)).collect()
    assert row["s"] == direct["s"] and direct["s"] > 0


def test_broadcast_in_star_join(spark):
    from ufload_spark.operators.analytics import tpch_q5_local_supplier_volume

    plan = _plan(tpch_q5_local_supplier_volume(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_analyze_table_feeds_cbo(spark):
    """The reference runs ANALYZE after every restore (db.py:163-175,191);
    Spark's ANALYZE TABLE COMPUTE STATISTICS records the row count/size the
    cost-based optimizer and AQE read."""
    table(spark, SF_DIR, "orders").write.mode("overwrite").saveAsTable(
        "orders_published_stats"
    )
    try:
        spark.sql(
            "ANALYZE TABLE orders_published_stats COMPUTE STATISTICS"
        )
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(
                "DESCRIBE TABLE EXTENDED orders_published_stats"
            ).collect()
        }
        stats = desc.get("Statistics", "")
        assert "rows" in stats
        n = spark.table("orders_published_stats").count()
        assert f"{n} rows" in stats
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_published_stats")


def test_q19_derives_per_table_pushdown(spark):
    """The OR-of-ANDs predicate straddles lineitem and part, so the full
    disjunction can't push down — but Catalyst must derive each table's
    implied predicate (quantity bounds, brand/size disjunction) and push
    THOSE into the scans."""
    from ufload_spark.operators.tpch_full import tpch_q19_disjunctive_revenue

    df = tpch_q19_disjunctive_revenue(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    li_scan = [
        ln for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln
    ][0]
    p_scan = [ln for ln in plan.splitlines() if "FileScan" in ln and "part.parquet" in ln][0]
    assert "l_quantity" in li_scan.split("DataFilters", 1)[1]
    assert "p_brand" in p_scan.split("DataFilters", 1)[1]


def test_q21_double_correlation_joins(spark):
    """Q21's EXISTS and NOT EXISTS are decorrelated (r6) into per-order
    distinct-supplier counts. The NOT EXISTS side stays a countDistinct
    aggregate that partial-combines map-side (the distinct-pair collapse
    BEFORE the exchange is what replaced the 6M-row semi-join probe
    stream); the EXISTS side is a size(collect_set) WINDOW over ONE
    evaluation of the lateness join (r11 — the aggregate-then-rejoin form
    executed that join twice). No branch may fall back to a cartesian."""
    from ufload_spark.operators.tpch_full import tpch_q21_waiting_suppliers

    plan = _plan(tpch_q21_waiting_suppliers(spark, SF_DIR))
    assert plan.count("partial_count(distinct") >= 1
    assert "collect_set" in plan and "Window" in plan
    assert "CartesianProduct" not in plan


def test_q8_dimensions_all_broadcast(spark):
    """The 8-way star join must broadcast every dimension side — the fact
    tables shuffle only for lineitem⋈orders⋈customer."""
    from ufload_spark.operators.tpch_full import tpch_q8_market_share

    df = tpch_q8_market_share(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 5


def test_q18_semi_join_with_map_side_partials(spark):
    """Q18 (r6): the HAVING aggregate is the answer — lineitem must be
    scanned EXACTLY ONCE (no semi-join back, no re-aggregation), the one
    quantity aggregate must partial-combine map-side, and the top-100 must
    be TakeOrderedAndProject, never a global sort."""
    from ufload_spark.operators.analytics import tpch_q18_large_orders

    df = tpch_q18_large_orders(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    assert plan.count("lineitem.parquet") == 1  # single pass
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan  # map-side combine on the one agg
    assert "TakeOrderedAndProject" in plan


def test_flagship_max_by_single_exchange(spark):
    """latest_backup_per_instance is max_by over a tie-break struct: one
    row per (mapper, instance) crosses the wire. Pin the shape — a partial
    max_by below exactly one instance-keyed exchange. (The recency cutoff
    adds a SinglePartition exchange for its 1-row scalar max; that is not a
    data shuffle.)"""
    from ufload_spark.operators.listing import latest_backup_per_instance

    df = latest_backup_per_instance(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    assert "partial_max_by" in plan
    hash_exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1 and "instance" in hash_exchanges[0]


def test_banded_lsh_bounds_bucket_share(spark):
    """The banded hyperplane LSH must split every band into many small
    buckets — within-bucket candidate pairing is quadratic in bucket size,
    so a fat bucket is the scale failure mode the banding exists to
    prevent. Bound the largest (band, sig) bucket's share of the corpus."""
    from ufload_spark.operators.similarity import (
        N_BANDS,
        similarity_lsh_buckets,
    )

    rows = similarity_lsh_buckets(spark, SF_DIR).collect()
    per_band_total = sum(r["n_vecs"] for r in rows) / N_BANDS
    max_share = max(r["n_vecs"] for r in rows) / per_band_total
    assert max_share <= 0.05, f"largest LSH bucket holds {max_share:.1%}"


def test_curation_antijoin_not_hinted_broadcast(spark):
    """The near-dup dropped-id set scales with the corpus (10-50% of docs
    on real data), so the curation pipeline must NOT force a broadcast on
    its anti-join seam — AQE may still choose broadcast at runtime from
    observed sizes, which is fine; a static hint is not."""
    from ufload_spark.operators.pipeline import pipeline_curate_documents

    df = pipeline_curate_documents(spark, SF_DIR)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    for line in optimized.splitlines():
        if "LeftAnti" in line:
            assert "strategy=broadcast" not in line, line


def test_simhash_pair_join_reuses_one_exchange(spark):
    """The SimHash segment self-join mirrors the MinHash band join: hinted
    shuffle_hash on identical children, so the fingerprint pipeline runs
    once and the second side is a ReusedExchange — one documents scan."""
    from ufload_spark.operators.dedup import dedup_simhash_pairs

    df = dedup_simhash_pairs(spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    final = plan.split("+- == Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("FileScan") == 1


def test_lsh_self_join_reuses_one_exchange(spark):
    """The LSH band self-join must compute the signature pipeline ONCE:
    shuffle_hash on both sides → identical exchanges → AQE ReuseExchange.
    An unhinted broadcast join would build the shingle→hash pipeline twice
    (and could never broadcast 100 TB-scale signatures at all)."""
    from ufload_spark.operators.dedup import dedup_minhash_lsh_pairs

    df = dedup_minhash_lsh_pairs(spark, SF_DIR)
    df.collect()  # materialize so AQE finalizes every query stage
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    final = plan.split("+- == Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("FileScan") == 1


def test_minhash_candidates_subquadratic(spark):
    """The LSH design claim, measured: growing documents 10x (sf0.01 ->
    sf0.1) must grow band-bucket candidate pairs FAR slower than the 100x
    of an all-pairs (quadratic) scheme -- content-hashed band keys draw
    from a 2^64 space, so bucket collisions track true near-dup density,
    not corpus size. Measured in r4: 129 -> 3,616 (28x for 10x docs).
    The hyperplane-LSH embedding path is deliberately NOT pinned this way:
    its bucket capacity is fixed at 2^r per band, so its candidate volume
    is ~n^2/B by design and r must grow with the corpus (SCALING.md)."""
    from ufload_spark.operators.dedup import N_BANDS, _minhash_sigs

    def bucket_candidates(sf_dir: str) -> tuple[int, int]:
        sigs = _minhash_sigs(spark, sf_dir)
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.col(f"m{2*b}").alias("k1"),
                    F.col(f"m{2*b+1}").alias("k2"),
                )
                for b in range(N_BANDS)
            ]
        )
        n_docs = sigs.count()
        cand = (
            sigs.select("doc_id", F.explode(bands).alias("bk"))
            .groupBy("bk.band", "bk.k1", "bk.k2")
            .agg(F.count("*").alias("c"))
            .agg(F.sum(F.expr("c * (c - 1) / 2")).alias("pairs"))
            .first()["pairs"]
        )
        return n_docs, int(cand)

    n_small, cand_small = bucket_candidates(SF_DIR_MID)
    n_big, cand_big = bucket_candidates("/root/testdata/sf0.1")
    assert n_big >= 2 * n_small  # the fixtures really scale now
    growth = cand_big / max(cand_small, 1)
    quadratic = (n_big / n_small) ** 2
    # well under quadratic, with headroom against fixture refreshes
    assert growth <= 0.6 * quadratic, (
        f"candidate growth {growth:.1f}x vs quadratic {quadratic:.1f}x"
    )


def test_scaled_fixture_preserves_workload_character(spark, tmp_path):
    """The sf1 bench generator must scale row counts without changing what
    the queries measure: join integrity intact (no orphan fact rows),
    no cross-copy shingle collisions (near-dup density per doc stays the
    fixture's), and embedding sign-flip copies keep norms while
    decorrelating across copies."""
    import math

    from ufload_spark.sources.scaleup import STRIDE, ensure_scaled_fixture

    dest = str(tmp_path / "sf_scaled")
    ensure_scaled_fixture(spark, SF_DIR, dest, factor=3)

    li = spark.read.parquet(f"{dest}/lineitem.parquet")
    o = spark.read.parquet(f"{dest}/orders.parquet")
    src_li_n = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    assert li.count() == 3 * src_li_n
    assert li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").count() == 0

    d = spark.read.parquet(f"{dest}/documents.parquet")
    tok = d.select(
        F.explode(F.split("text", r"\s+")).alias("t"),
        (F.col("doc_id") / STRIDE).cast("int").alias("copy"),
    ).where(F.col("t") != "")
    cross = (
        tok.groupBy("t")
        .agg(F.count_distinct("copy").alias("nc"))
        .where(F.col("nc") > 1)
        .count()
    )
    assert cross == 0

    e = spark.read.parquet(f"{dest}/embeddings.parquet")
    rows = {
        r["vec_id"]: list(r["embedding"])
        for r in e.where(F.col("vec_id").isin(0, STRIDE)).collect()
    }
    v0, v1 = rows[0], rows[STRIDE]
    n0, n1 = sum(a * a for a in v0), sum(b * b for b in v1)
    assert abs(n0 - n1) < 1e-6  # diagonal +-1 is orthogonal: norms exact
    cos = sum(a * b for a, b in zip(v0, v1)) / math.sqrt(n0 * n1)
    assert abs(cos) < 0.9  # decorrelated, not a twin


def test_lsh_incremental_never_rehashes_corpus(spark):
    """similarity_lsh_incremental's scale claim, pinned in the plan: after
    the corpus signatures publish, the admission query computes signatures
    for the NEW BATCH only — exactly one Python signature map in the final
    plan; the corpus side is a plain parquet FileScan of the published
    table."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["similarity_lsh_incremental"].fn(spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    final = plan.split("+- == Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1
    assert "FileScan parquet" in final


def test_lsh_pair_and_topk_single_signature_eval(spark):
    """The r5 close of the r4 trade-off: the hyperplane-LSH pair and top-k
    queries evaluate the signature matmul ONCE (during the persisted-table
    publish) — the returned self-join plan carries zero Python evaluation
    and scans the persisted signature parquet instead."""
    from ufload_spark.plans.registry import load_all

    reg = load_all()
    for name in ("similarity_lsh_ann_pairs", "similarity_lsh_topk"):
        df = reg[name].fn(spark, SF_DIR)
        plan = _plan(df)
        assert "MapInPandas" not in plan, name
        assert "lsh_selfsigs" in plan, name


def test_ivf_incremental_plan_has_no_kmeans(spark):
    """similarity_ivf_incremental's lifecycle claim, pinned in the plan: the
    index (centroids + inverted lists) is built and published BEFORE the
    returned plan exists, so the query plan reads the persisted index parquet
    and contains zero Lloyd iterations — no posexplode (the k-means update
    step's signature shape), and both index tables appear as file scans."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["similarity_ivf_incremental"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "posexplode" not in plan
    assert "ivf_centroids" in plan
    assert "ivf_invlists" in plan


def test_lsh_r_derived_from_corpus_count(spark):
    """r is a scaling input, not a constant: the formula floors at R_MIN on
    fixture-sized corpora (so existing oracles are unchanged) and grows with
    log2(n) past 2^R_MIN vectors, and the Spark-side derivation agrees with
    the oracle's SQL formula on the real fixture."""
    import duckdb

    from ufload_spark.operators.similarity import R_MIN, _r_for_count, lsh_r

    assert _r_for_count(2_000) == R_MIN
    assert _r_for_count(1 << R_MIN) == R_MIN
    assert _r_for_count((1 << R_MIN) + 1) == R_MIN + 1
    assert _r_for_count(20_000) == 15
    assert _r_for_count(100_000_000) == 27  # ~100 TB of 1 KB docs

    spark_r = lsh_r(spark, SF_DIR)
    con = duckdb.connect()
    try:
        (duck_r,) = con.execute(
            f"SELECT greatest({R_MIN}, CAST(ceil(log2(count(*))) AS INT)) "
            f"FROM read_parquet('{SF_DIR}/embeddings.parquet')"
        ).fetchone()
    finally:
        con.close()
    assert spark_r == duck_r


def test_components_tiers_agree(spark):
    """The size-capped union-find tier and the distributed min-label
    fixpoint must produce identical (node, component-min) labelings.
    The fixtures always take the small tier (near-dup graphs are sparse
    by construction), so this forces threshold=0 to keep the distributed
    path exercised — including a multi-chunk convergence on a long chain
    whose diameter exceeds one CHUNK_ROUNDS chunk."""
    from ufload_spark.operators.dedup import min_label_components

    # a 12-node chain (diameter 11 > CHUNK_ROUNDS) plus two triangles
    chain = [(i, i + 1) for i in range(100, 111)]
    tris = [(1, 2), (2, 3), (3, 1), (7, 9), (9, 8)]
    pairs = spark.createDataFrame(chain + tris, "a long, b long")
    before = persistent_rdds(spark)
    small = {
        (r.n, r.m) for r in min_label_components(pairs).collect()
    }
    small_left = persistent_rdds(spark) - before
    dist = {
        (r.n, r.m)
        for r in min_label_components(pairs, small_graph_edges=0).collect()
    }
    dist_left = persistent_rdds(spark) - before - small_left
    assert small == dist
    # called bare, each tier leaves only the labeling it returns: the
    # pair/edge caches, chunk caches and superseded chunk checkpoints die
    # with the call's own scope
    assert len(dist_left) <= len(small_left), (dist_left, small_left)
    assert {m for _, m in small} == {100, 1, 7}  # component minima
    assert all(m == 100 for n, m in small if n >= 100)


def test_bloom_prefilter_plan(spark):
    """Under the scoped confs, Catalyst must inject its runtime Bloom
    filter into the fingerprint semi-join: bloom_filter_agg on the
    corpus side, might_contain pushed into the batch scan — and the
    confs must be restored afterwards (queries share the session)."""
    from ufload_spark.operators.dedup import (
        _BLOOM_CONFS,
        _bloom_dup_candidates,
        _scoped_confs,
    )

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    with _scoped_confs(spark, _BLOOM_CONFS):
        plan = (
            _bloom_dup_candidates(spark, SF_DIR)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before
    # outside the scope the tiny fixture side broadcasts and no bloom is
    # injected — the confs are what pin the at-scale shape
    plan2 = (
        _bloom_dup_candidates(spark, SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "might_contain" not in plan2


def test_scd2_single_exchange(spark):
    """Both SCD2 windows (change detection + interval close) must ride ONE
    user_id exchange — a second shuffle between consecutive same-key
    windows would double the op's cost at scale."""
    from ufload_spark.operators.temporal import events_scd2_user_state

    plan = (
        events_scd2_user_state(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_hier_rollup_cascade_reuses_finer_grains(spark):
    """The continuous-aggregate cascade claim, pinned: under the 3-grain
    union, the minute-level shuffle must materialize ONCE and the hour/day
    branches must hang off ReusedExchange stages — raw events are scanned
    and shuffled a single time no matter how many grains the rollup
    presents. Without stage reuse the plan would re-run the raw aggregation
    per grain, turning a 1440x read reduction into a 3x read blow-up."""
    from ufload_spark.operators.temporal import events_hier_rollup

    df = events_hier_rollup(spark, SF_DIR)
    df.collect()  # materialize so AQE finalizes every query stage
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    final = plan.split("+- == Initial Plan ==")[0]
    # hour branch reuses the minute exchange; day branch reuses hour's
    assert final.count("ReusedExchange") >= 2
    # exactly one events scan materializes across all three grains
    stage_scans = final.count("ShuffleQueryStage")
    reused = final.count("ReusedExchange")
    assert stage_scans - reused == 3  # minute, hour, day — each once


def test_containment_prefix_filter_prunes_candidates(spark):
    """The prefix+positional filter claim, measured on the SHIPPED pipeline
    (the test calls the operator's own _containment_candidates): candidate
    pairs must be a small fraction of the brute-force shared-shingle pair
    count, while the oracle comparison in test_correctness proves zero
    false negatives — the filters are pure pruning, not approximation."""
    from pyspark.sql import functions as F

    from ufload_spark.operators.dedup import _containment_candidates, shingles

    n_cand = _containment_candidates(spark, SF_DIR).count()
    sh = shingles(spark, SF_DIR)
    n_brute = (
        sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )
    assert n_cand <= n_brute / 4, (n_cand, n_brute)


def test_pq_incremental_plan_reads_codes_only(spark):
    """similarity_pq_incremental's lifecycle claim, pinned in the plan: the
    codebooks and corpus codes are built and published BEFORE the returned
    plan exists, so the query plan contains no Lloyd iterations (no
    posexplode) and reads both index artifacts from parquet. Stronger than
    IVF: the candidate side is the 8-byte code table — the float
    embeddings appear only on the broadcast QUERY side of the plan."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["similarity_pq_incremental"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "posexplode" not in plan
    assert "pq_codebooks" in plan
    assert "pq_codes" in plan


def test_quality_audit_scan_and_broadcast_shape(spark):
    """The constraint suite must not multiply scans per constraint: the six
    in-table metrics ride ONE aggregate over orders (plus one more orders
    scan for the referential anti-join — 2 orders scans total, constant in
    the number of constraints), and the dimension side of the referential
    check is broadcast."""
    from ufload_spark.operators.quality import quality_constraint_audit

    plan = _plan(quality_constraint_audit(spark, SF_DIR))
    assert plan.count("FileScan parquet") == 3  # orders x2 + customer x1
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_priority_sample_no_global_sort(spark):
    """Priority sampling takes the global top-(k+1) with
    TakeOrderedAndProject (per-partition heads merged on the driver), never
    a full global Sort+Exchange of the corpus; the windows that number the
    survivors run on the bounded (k+1)-row result only."""
    from ufload_spark.operators.corpus import corpus_priority_sample

    plan = _plan(corpus_priority_sample(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("FileScan parquet") == 1


def test_concurrency_sweep_partitions_by_day(spark):
    """The sweep-line running sum must be partitioned (by day) — a global
    single-partition window would serialize the whole boundary stream; and
    the boundary union must not rescan events (one FileScan, boundaries
    exploded from structs)."""
    from ufload_spark.operators.events import events_concurrency_peak

    plan = _plan(events_concurrency_peak(spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1
    assert "windowspecdefinition(day" in plan
    import re

    # no empty-partition window spec over the sweep (global window)
    assert not re.search(r"windowspecdefinition\(t#", plan)


def test_editdist_confirm_projects_prefix_before_join(spark):
    """The confirm stage must shuffle only (doc_id, 80-char prefix), never
    full document text: the substring projection happens below the join,
    so no join input carries the raw text column."""
    from ufload_spark.operators.dedup import dedup_editdist_confirm

    df = dedup_editdist_confirm(spark, SF_DIR)
    plan = _plan(df)
    assert "levenshtein" in plan
    # the raw text column never appears as a join output/input attribute;
    # only the derived prefix `p` does
    join_sections = [
        ln for ln in plan.splitlines() if "Join" in ln or "Exchange" in ln
    ]
    assert not any("text#" in ln for ln in join_sections)


def test_pit_features_strictness_no_leakage(spark):
    """Point-in-time correctness, semantically: no label row may receive a
    state whose validity began AT or AFTER the label timestamp — the
    leakage guard is the strict inequality."""
    from ufload_spark.operators.temporal import pipeline_pit_features

    pdf = pipeline_pit_features(spark, SF_DIR).toPandas()
    got = pdf[pdf.state_since.notna()]
    assert (got.state_since < got.label_ts).all()
    # and every purchase label appears exactly once (intervals partition
    # the timeline -> at most one match per label)
    assert pdf.label_id.is_unique


def test_substring_spans_plan(spark):
    """dedup_substring_spans must stay whole-stage JVM (no Python eval),
    compute the span frequency with ONE hash-key exchange (windowed
    min!=max doc_id — O(1) state, no collect_set, no groupBy-then-rejoin
    second corpus pass), and share a single doc_id exchange between the
    coverage window and the per-doc aggregate."""
    import re

    from ufload_spark.plans.registry import load_all

    df = load_all()["dedup_substring_spans"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "collect_set" not in plan  # span frequency must be O(1)-state
    keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert sum(1 for k in keys if k.startswith("h")) == 1, keys
    assert sum(1 for k in keys if k.startswith("doc_id")) <= 2, keys
    assert "CartesianProduct" not in plan


def test_pagerank_is_integer_exact_and_persists_edges(spark):
    """graph_pagerank_purchases: rank arithmetic must be integer-typed end
    to end (the order-free-sum guarantee), the edge table must be cached
    for iteration reuse, and total mass must stay within the documented
    floor-division leak of the 1e9 budget."""
    from ufload_spark.operators.graph import PR_MASS, graph_pagerank_purchases

    df = graph_pagerank_purchases(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan  # persisted edges
    # Broadcast discipline: every iteration join must pin the broadcast to
    # the RANK side. Without the hint the planner sizes the published edge
    # parquet (40 MB at sf1 < the 64 MB threshold) and broadcasts the
    # 12M-row EDGE relation each iteration — flaky driver OOM. Tiny-SF
    # physical plans can't show that, so pin the hint in the logical plan.
    from ufload_spark.operators.graph import PR_ITERS

    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("rightHint=(strategy=broadcast") >= PR_ITERS, opt[:2000]
    assert "leftHint=(strategy=broadcast" not in opt  # never the edge side
    total = df.groupBy().sum("rank_micro").collect()[0][0]
    n_nodes = df.count()
    # floor-div leak: < 1 micro-unit per edge contribution per iteration,
    # plus the damping floors — bounded far under 1% of mass
    assert PR_MASS * 0.99 <= total <= PR_MASS
    assert n_nodes > 0
    assert df.schema["rank_micro"].dataType.simpleString() == "bigint"


def test_pca_power_matches_numpy_eigendecomposition(spark):
    """The power iterate must land in the DOMINANT part of the spectrum of
    the same integer scatter matrix, cross-checked against a full numpy
    eigendecomposition. The fixture embeddings are nearly isotropic
    (λ2/λ1 ≈ 0.93), so pinning the exact top eigendirection would need
    ~50 iterations; what k=PCA_ITERS guarantees — and what this pins — is
    the Rayleigh quotient (≥ 0.9·λ1 measured 0.904), the projection onto
    the top-8 eigen-subspace (measured 0.96), and that the reported
    var_share IS the iterate's Rayleigh/trace (exact to rounding)."""
    import numpy as np
    import pyarrow.parquet as pq

    from ufload_spark.operators.similarity import (
        PCA_SCALE,
        embedding_pca_power,
    )

    res = (
        embedding_pca_power(spark, SF_DIR)
        .orderBy("component")
        .toPandas()
    )
    X = np.stack(
        pq.read_table(f"{SF_DIR}/embeddings.parquet")
        .to_pandas()["embedding"]
        .to_numpy()
    ).astype(np.float64)
    Xq = np.floor(X * PCA_SCALE + 0.5)
    n = len(Xq)
    N = n * (Xq.T @ Xq) - np.outer(Xq.sum(0), Xq.sum(0))
    evals, evecs = np.linalg.eigh(N)
    v = res["loading"].to_numpy()
    v = v / np.linalg.norm(v)
    ray = float(v @ N @ v)
    assert ray >= 0.88 * evals[-1], ray / evals[-1]
    proj8 = float(np.linalg.norm(evecs[:, -8:].T @ v))
    assert proj8 >= 0.9, proj8
    share = float(res["var_share"].iloc[0])
    assert abs(share - ray / np.trace(N)) < 1e-4


def test_image_neardup_is_banded_and_groupfirst(spark):
    """multimodal_image_neardup: the candidate join must be a banded
    EQUI-join (never a cartesian/NLJ pair product), pairing must happen at
    hash-GROUP level, and every emitted pair must be inside the pigeonhole
    radius (banding lossless at Hamming <= AH_NEARDUP_T < AH_BANDS)."""
    from ufload_spark.operators.multimodal import (
        AH_BANDS,
        AH_NEARDUP_T,
        multimodal_image_neardup,
    )

    df = multimodal_image_neardup(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert AH_NEARDUP_T < AH_BANDS  # the losslessness precondition
    rows = df.collect()
    assert rows, "fixture plants near-dup classes; pairs must exist"
    for r in rows:
        assert 1 <= r["hamming"] <= AH_NEARDUP_T
        assert r["ahash_a"] < r["ahash_b"]
        assert r["pair_count"] >= 1


def test_bm25_topk_avoids_global_sort(spark):
    """text_bm25_search: the top-k must be TakeOrderedAndProject (never a
    global Sort of all scored documents), scores must be monotonically
    ranked, and every returned doc must match at least one query term."""
    from ufload_spark.operators.textops import BM25_TOPK, text_bm25_search

    df = text_bm25_search(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = sorted(df.collect(), key=lambda r: r["rnk"])
    assert 0 < len(rows) <= BM25_TOPK
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(r["n_terms"] >= 1 for r in rows)


def test_cusum_single_exchange(spark):
    """events_cusum_drift: both windows (running sum, running min) and the
    final per-user aggregate must ride ONE user_id exchange — the closed
    form's entire point is that the changepoint scan costs one shuffle."""
    from ufload_spark.operators.events import events_cusum_drift

    plan = _plan(events_cusum_drift(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_triangle_count_joins_are_equi(spark):
    """graph_triangle_count: the wedge and closing joins must plan as hash
    equi-joins — a nested-loop/cartesian anywhere means the orientation
    trick failed and the plan is corpus-quadratic."""
    from ufload_spark.operators.graph import graph_triangle_count

    df = graph_triangle_count(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the only nested-loop joins allowed are the two 1-row scalar
    # crossJoins assembling the final stats row
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    equi = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    # the wedge join + the closing join (the degree attachments sit
    # behind the r7 lazy localCheckpoint cuts, which truncate the visible
    # plan — the checkpointed subtree is the same equi-join shape, pinned
    # before the cuts landed)
    assert equi >= 2
    row = df.collect()[0]
    # each triangle closes exactly one ORIENTED wedge but 3 degree-wedges
    assert row["n_wedges"] >= 3 * row["n_triangles"]
    assert row["n_edges"] >= row["max_degree"]


def test_suboctave_bins_domain_bounded(spark):
    """The ABC/RFM replacement for corpus-wide sorts only works if the
    histogram tables stay tiny: the sub-octave key must take ≤ 512
    distinct values over the real revenue distribution (and the window
    inputs in both queries are exactly these keys)."""
    from ufload_spark.functions.binning import SUBOCTAVE_MAX_BINS, suboctave_bin

    rev = (
        table(spark, SF_DIR_MID, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "cents"
            )
        )
    )
    nbins = rev.select(suboctave_bin("cents").alias("b")).distinct().count()
    assert 0 < nbins <= SUBOCTAVE_MAX_BINS


def test_rfm_scores_complete_and_monotone(spark):
    """events_rfm_segmentation: every score in 1..5, and the monetary
    dimension must actually discriminate (≥ 3 distinct M scores at the
    mid fixture) — a degenerate histogram would quietly collapse all
    users into one quintile."""
    from ufload_spark.operators.events import events_rfm_segmentation

    rows = events_rfm_segmentation(spark, SF_DIR_MID).collect()
    assert rows
    for r in rows:
        for c in ("r_score", "f_score", "m_score"):
            assert 1 <= r[c] <= 5
    assert len({r["m_score"] for r in rows}) >= 3


def test_cohort_ltv_window_is_span_bounded(spark):
    """orders_cohort_ltv: the running windows must consume the aggregated
    (cohort, month) triangle — per-cohort partition sizes are bounded by
    the dataset month span, and cumulative LTV must be non-decreasing."""
    from ufload_spark.operators.analytics import orders_cohort_ltv

    rows = orders_cohort_ltv(spark, SF_DIR).collect()
    by_cohort: dict[int, list] = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_ym"], []).append(r)
    span_months = 12 * 8  # fixtures span < 8 years
    for ym, rs in by_cohort.items():
        assert len(rs) <= span_months
        rs.sort(key=lambda r: r["month_index"])
        cum = [r["cum_revenue_cents"] for r in rs]
        assert cum == sorted(cum)
        assert all(r["cohort_size"] == rs[0]["n_active"] for r in rs)


def test_mannwhitney_windows_are_segmented(spark):
    """orders_mannwhitney_u must never run a corpus-sized partition-less
    window: the bounded bin-offset frame BROADCASTS back onto the per-value
    counts, and the only per-value window is PARTITIONED by bin."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["orders_mannwhitney_u"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    assert "BroadcastHashJoin [bin" in plan  # bin offsets ride a broadcast
    # every window over the per-value stream is keyed by bin (the two
    # windows on the tiny bin frame are partition-less by design and sit
    # above the bounded aggregate, behind a single-partition exchange)
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln and "cents" in ln]
    assert win_lines
    for ln in win_lines:
        flat = ln.replace(" ", "")
        # every cents-ORDERED window spec must be PARTITIONED by bin: in
        # the executed-plan string a spec reads
        # windowspecdefinition(<partition cols>, <order col> ASC...), so a
        # cents ordering whose spec does not LEAD with bin# is a
        # corpus-sized partition-less window — the regression this test
        # exists to catch (the old `or "bin" in ln` fallback passed for
        # any line that merely projected a bin column)
        for spec in flat.split("windowspecdefinition(")[1:]:
            if "cents#" in spec.split("specifiedwindowframe")[0]:
                assert spec.startswith("bin#"), (
                    f"partition-less cents window: {ln}"
                )


def test_fuzzy_search_verifies_distinct_strings_only(spark):
    """search_fuzzy_partnames' Levenshtein must run on DISTINCT
    (probe_text, name) pairs: the per-key version measured 134 s at sf1
    (quadratic on the small name domain). The champion fan-out joins keys
    back AFTER the verify."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["search_fuzzy_partnames"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    # dist is BORN in the (probe_text, match_name) distinct aggregate's
    # result projection — proof the verify runs once per distinct pair
    # (executedPlan.toString lists aggregate outputs by name, so the pin
    # anchors on where dist#N first appears, not the expression text)
    born = [
        ln
        for ln in plan.splitlines()
        if "HashAggregate(keys=[probe_text" in ln and "dist#" in ln
    ]
    assert born, "dist not produced by the distinct-pair aggregate"
    assert not any("probe_key" in ln or "match_key" in ln for ln in born)


def test_bootstrap_single_md5_per_row(spark):
    """orders_bootstrap_ci computes ONE md5 per row (the counter-based
    mixer derives all replicas): the per-(row, replica) version spent 40
    of its 80 s at sf1 inside md5."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["orders_bootstrap_ci"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    # md5 appears before the explode fan-out, never keyed by the replica b
    md5_lines = [ln for ln in plan.splitlines() if "md5(" in ln]
    assert md5_lines and not any(" b#" in ln or ", b" in ln for ln in md5_lines)
    # the round-key table rides a broadcast join on b
    assert "BroadcastHashJoin [b" in plan or "BroadcastHashJoin [cast(b" in plan


def test_jl_projection_has_no_exchange(spark):
    """embedding_jl_projection is a pure columnar fold: literal sign
    arrays, no joins, no shuffle — the executed plan must contain zero
    exchanges (the VALUES sign table exists only in the oracle)."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["embedding_jl_projection"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    assert "Exchange" not in plan


def test_image_histogram_has_no_exchange(spark):
    """multimodal_image_histogram reduces inside the Arrow decode batch —
    beyond the doc_ids parallelism repartition, no aggregate exchange may
    appear (the histogram is per-item bounded, never grouped corpus-wide)."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["multimodal_image_histogram"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    # exactly the doc_ids round-robin/hash repartition, nothing keyed by band
    assert len(exchanges) <= 1
    assert not any("band" in ln for ln in exchanges)


def test_modularity_label_joins_broadcast(spark):
    """graph_modularity's label vector must ride BROADCAST joins onto the
    persisted edges (src and dst side) — an edge-edge shuffle join here
    would re-shuffle the widest frame twice per metric evaluation."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["graph_modularity"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # both label-side joins and the 1-row total are broadcasts
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row tw cross join


def test_item_cf_popularity_broadcast_and_partitioned_rank(spark):
    """part_similarity_cosine: the part-popularity table broadcasts onto
    the scored pairs, and the top-N window is PARTITIONED by part_a —
    never a global rank over the pair stream."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["part_similarity_cosine"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # na and nb sides
    for ln in plan.splitlines():
        if "row_number()" in ln:
            flat = ln.replace(" ", "")
            # Spark 4 pushes the rank<=N filter into WindowGroupLimit
            # ([partition keys] leads the node) — either node form must
            # be keyed by part_a
            assert "windowspecdefinition(part_a" in flat or (
                "WindowGroupLimit[part_a" in flat
            )


def test_changepoint_top1_never_global_sorts(spark):
    """orders_changepoint_binseg's argmax is a TakeOrderedAndProject over
    the bounded day frame — no Sort node over data rows."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["orders_changepoint_binseg"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_negative_sampling_single_bucket_window(spark):
    """corpus_negative_sampling's as-of pick is ONE window partitioned by
    ring bucket over the interleaved stream — no per-probe candidate
    join (the shape that would go quadratic in bucket size)."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["corpus_negative_sampling"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines
    for ln in win_lines:
        flat = ln.replace(" ", "")
        if "first_value" in flat or "first(" in flat:
            assert "windowspecdefinition(b#" in flat
    # wrap-around fallback and top-2 guard ride broadcasts
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_nb_classifier_model_broadcasts_and_vocab_is_topn(spark):
    """text_nb_lang_classifier: the vocab cut is a TakeOrderedAndProject
    (per-partition top-N, no global token sort — pinned on the vocab
    subtree directly since the lazy checkpoint hides it from the outer
    plan) and the dense model broadcasts onto the doc-token stream."""
    from ufload_spark.operators.textops import NB_VOCAB
    from ufload_spark.plans.registry import load_all

    d = table(spark, SF_DIR, "documents")
    toks = d.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
    ).where(F.col("w") != "")
    vocab = (
        toks.groupBy("w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "w")
        .limit(NB_VOCAB)
        .select("w")
    )
    assert "TakeOrderedAndProject" in _plan(vocab)
    df = load_all()["text_nb_lang_classifier"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # no global sort anywhere in the scoring plan (a range exchange would
    # mean some stream is being totally ordered)
    assert "Exchange rangepartitioning" not in plan


def test_mutual_information_single_corpus_aggregate(spark):
    """lineitem_mutual_information touches the data exactly once: one
    hash aggregate to the 36-cell table; every window runs on that
    bounded frame behind a single-partition exchange."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["lineitem_mutual_information"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    # exactly one scan of lineitem feeds the plan
    assert plan.count("FileScan parquet") + plan.count("Scan parquet") >= 1
    scans = [ln for ln in plan.splitlines() if "lineitem" in ln and "Scan" in ln]
    assert len(scans) == 1


def test_vocab_cuts_avoid_partitionless_windows(spark):
    """text_pmi_cooccurrence and text_js_divergence_by_lang: the top-N
    vocabulary cut must plan as TakeOrderedAndProject (distributed
    per-partition top-k merge), never a partition-less rank window — a
    web-scale corpus has 10^8-10^9 distinct whitespace tokens and a
    `Window.orderBy(...)` with no partition spec sorts ALL of them on
    ONE partition (Spark fires `WindowExec: No Partition Defined`)."""
    from ufload_spark.operators.textops import (
        text_js_divergence_by_lang,
        text_pmi_cooccurrence,
    )

    for fn in (text_pmi_cooccurrence, text_js_divergence_by_lang):
        plan = _plan(fn(spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, fn.__name__
        # neither query has ANY window operator left: the only one was
        # the vocabulary rank
        assert "Window" not in plan, fn.__name__


def test_cf_incremental_probes_persisted_pairs(spark):
    """part_similarity_incremental: the persisted co-occurrence table must
    come back as a parquet FileScan of the BUCKETED table (the train
    pairing never re-runs in the probe plan's persisted branch, and the
    merge reads the buckets exchange-free — r11), the merge must appear
    exactly ONCE (both sym orientations come from a row-local explode,
    not a plan-duplicating self-union), popularity joins must broadcast,
    and the top-N window must be partitioned (never global)."""
    from ufload_spark.operators.analytics import part_similarity_incremental

    df = part_similarity_incremental(spark, SF_DIR)
    plan = _plan(df)
    # persisted pairs are a bucketed-table scan of the published pairs
    scans = [
        ln
        for ln in plan.splitlines()
        if "Scan parquet" in ln and "cf_co_pairs" in ln
    ]
    assert scans, "persisted co-occurrence table not read from parquet"
    assert "SelectedBucketsCount: 16 out of 16" in plan
    # the pair merge (the only pair-table-sized join) evaluates once
    assert plan.count("SortMergeJoin FullOuter") <= 3  # 1 pair merge + 2 npart
    assert len(scans) == 1, "bucketed pair table scanned more than once"
    assert "BroadcastHashJoin" in plan
    # rank window is partitioned by part_a — no partition-less window
    assert "Exchange rangepartitioning" not in plan or "Sort" in plan
    rows = df.collect()
    assert rows, "incremental tier produced no neighbor lists"
    by_a: dict = {}
    for r in rows:
        by_a.setdefault(r["part_a"], []).append(r)
    for _, lst in by_a.items():
        lst.sort(key=lambda r: r["rank"])
        scores = [r["cos2_micro"] for r in lst]
        assert scores == sorted(scores, reverse=True)


def test_winnowing_pairs_scale_shape(spark):
    """dedup_winnowing_pairs: fingerprint selection windows are PARTITIONED
    by doc_id (never partition-less), candidates come from a fingerprint
    equi-join (no cartesian), and the only exchanges are the doc_id /
    fingerprint hash repartitions — no global sort anywhere."""
    from ufload_spark.plans.registry import load_all

    df = load_all()["dedup_winnowing_pairs"].fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_new_r8_operators_scale_shapes(spark):
    """Second-pass r8 operators: HITS joins broadcast the node-sized
    vectors (edges never shuffle mid-iteration), the SPRT walk's windows
    are partitioned by day (never partition-less), and Viterbi's grouped
    kernel plan contains exactly one user_id exchange feeding
    MapInPandas — no global sort anywhere."""
    from ufload_spark.plans.registry import load_all

    reg = load_all()
    hits = reg["graph_hits_scores"].fn(spark, SF_DIR)
    hits.write.format("noop").mode("overwrite").save()
    p = _plan(hits)
    # the half-step lineage cuts leave only checkpointed branches in the
    # final plan, so the join pins live on the negatives: no cartesian,
    # no global sort anywhere in what remains
    assert "Exchange rangepartitioning" not in p
    assert "CartesianProduct" not in p

    sprt = reg["events_sprt_monitor"].fn(spark, SF_DIR)
    p = _plan(sprt)
    assert "Exchange rangepartitioning" not in p
    assert "Window" in p  # partitioned by day

    vit = reg["events_hmm_viterbi"].fn(spark, SF_DIR)
    p = _plan(vit)
    assert "MapInPandas" in p  # cross-user vectorized kernel
    assert "Exchange rangepartitioning" not in p
    # exactly one hash exchange (the window's user_id partitioning)
    assert p.count("Exchange hashpartitioning") == 1


def test_density_knobs_self_bound_across_sf(spark):
    """r9: the three density knobs the r8 verdict flagged as fixed
    constants are now corpus-count-derived (the lsh_r discipline), and
    their governed volumes stay ~FLAT when the corpus grows 10x
    (sf0.01 -> sf0.1):

    - quantile binning samples a constant SIZE (~QBIN_SAMPLE_TARGET
      rows), not a constant fraction;
    - record-linkage block keys gain a hash bucket whose count grows
      with the corpus, so candidate volume per dirty record is constant;
    - the winnowing df cap grows with log2(corpus) instead of freezing.
    """
    from ufload_spark.operators.analytics import (
        QBIN_SAMPLE_TARGET,
        _qbin_threshold,
        _rl_buckets,
    )
    from ufload_spark.operators.dedup import (
        WINNOW_DF_FLOOR,
        _winnow_maxdf,
    )
    from ufload_spark.sources.tables import corpus_count

    big = "/root/testdata/sf0.1"

    # --- quantile-bin sample: constant size, not constant fraction ---
    sizes = {}
    for d in (SF_DIR_MID, big):
        th = _qbin_threshold(corpus_count(spark, d, "orders"))
        bucket = F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 6), 16, 10
        ).cast("bigint")
        sizes[d] = table(spark, d, "orders").where(bucket < F.lit(th)).count()
    for d, n in sizes.items():
        assert QBIN_SAMPLE_TARGET / 2 <= n <= QBIN_SAMPLE_TARGET * 2, (d, n)
    # corpus grew 10x, sample did not
    assert sizes[big] < sizes[SF_DIR_MID] * 2

    # --- record linkage: candidate volume per dirty record stays flat ---
    def rl_cand_per_dirty(d: str) -> float:
        from ufload_spark.operators.analytics import customers_record_linkage

        n_dirty = (
            table(spark, d, "customer").where(F.col("c_custkey") % 5 == 0).count()
        )
        pairs = customers_record_linkage(spark, d).agg(F.sum("n_pairs")).first()[0]
        return pairs / n_dirty

    r_mid, r_big = rl_cand_per_dirty(SF_DIR_MID), rl_cand_per_dirty(big)
    # the corpus grew 10x; with the fixed r8 keys candidates/dirty grew
    # ~10x too — with the bucketed keys the ratio must stay ~flat
    assert r_big < r_mid * 3, (r_mid, r_big)
    # buckets actually engaged (not the degenerate B=1 case)
    assert _rl_buckets(corpus_count(spark, big, "customer")) >= 10 * _rl_buckets(
        corpus_count(spark, SF_DIR_MID, "customer")
    ) > 1

    # --- winnowing df cap: grows with log2(n), never below the floor ---
    n_mid = corpus_count(spark, SF_DIR_MID, "documents")
    n_big = corpus_count(spark, big, "documents")
    assert _winnow_maxdf(n_big) >= _winnow_maxdf(n_mid) >= WINNOW_DF_FLOOR
    assert _winnow_maxdf(1 << 30) == 4 * 30  # O(log n), not O(n)


def test_bucketed_pagerank_iteration_join_no_edge_exchange(spark):
    """r9: the bucketed cluster fallback for the shared graph edge table
    is real, not documented — one PageRank iteration join against the
    src-bucketed table, with broadcast disabled (the regime where the
    fallback matters: rank vector too big to broadcast), must read the
    edge side straight from its buckets (SelectedBucketsCount in the
    scan, NO exchange between scan and join); the only shuffles are the
    node-sized rank vector and the inflow aggregate. Runs at
    shuffle.partitions=32 (set here explicitly; also the session's
    RUNTIME_CONF value) — NOT N_GRAPH_BUCKETS — the regime where the r11
    defect lived: without the explicit repartition into the bucket count,
    EnsureRequirements re-shuffles the EDGE side to match the 32-partition
    rank vector every iteration."""
    from ufload_spark.operators.graph import N_GRAPH_BUCKETS, _bucketed_edges_table

    name = _bucketed_edges_table(spark, SF_DIR)
    edges = spark.table(name)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    oldp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        ranks = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("r", F.lit(1000))
            .repartition(N_GRAPH_BUCKETS, F.col("node"))
        )
        inflow = (
            edges.join(ranks, edges.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("(r * w) div wout").alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("fl"))
        )
        plan = _plan(inflow)
        assert "SelectedBucketsCount" in plan  # bucket spec reached the scan
        assert "BroadcastHashJoin" not in plan  # the fallback regime
        # the edge-side scan feeds the join with no exchange: every
        # hashpartitioning exchange in the plan is on the rank/aggregate
        # key 'node', never on the edge table's 'src'
        import re

        for m in re.finditer(r"Exchange hashpartitioning\(([^,]+),", plan):
            assert "node" in m.group(1), plan
        assert inflow.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.shuffle.partitions", oldp)


def test_bucketed_lpa_round_join_no_edge_exchange(spark):
    """r10: the LPA bucketed fallback is real, not documented — one vote
    round against the src-bucketed edge table, broadcast disabled (the
    regime where the fallback matters: label vector too big to
    broadcast), must read the edge side straight from its buckets
    (SelectedBucketsCount, NO exchange between scan and join); every
    hash exchange in the plan is keyed node/label (the node-sized label
    vector and the vote stream's single node-keyed repartition — r11:
    both vote aggregates ride it), never the edge table's src.
    Runs at shuffle.partitions=32 != N_GRAPH_BUCKETS with the round's
    repartition-into-buckets, the r11 conf-independence fix."""
    import re

    from ufload_spark.operators.graph import (
        LPA_SELF_W,
        N_GRAPH_BUCKETS,
        _bucketed_edges_table,
    )
    from ufload_spark.sources.tables import spread

    name = _bucketed_edges_table(spark, SF_DIR)
    edges = spark.table(name).select("src", "dst", "w")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    oldp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("label"))
        )
        lab = labels.repartition(N_GRAPH_BUCKETS, F.col("node")).hint(
            "shuffle_hash"
        )
        contrib = edges.join(lab, edges.src == lab.node).select(
            F.col("dst").alias("node"), "label", "w"
        )
        stream = spread(
            contrib.unionByName(
                labels.select(
                    "node", "label", F.lit(LPA_SELF_W).cast("bigint").alias("w")
                )
            ),
            "node",
        )
        votes = stream.groupBy("node", "label").agg(
            F.sum("w").cast("bigint").alias("wsum")
        )
        nxt = votes.groupBy("node").agg(
            F.max_by(
                "label", F.struct(F.col("wsum"), (-F.col("label")).alias("nl"))
            ).alias("label")
        )
        plan = _plan(nxt)
        assert "SelectedBucketsCount" in plan  # bucket spec reached the scan
        assert "BroadcastHashJoin" not in plan  # the fallback regime
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]+)\)", plan):
            keys = m.group(1)
            assert "node" in keys or "label" in keys, plan
            assert "src" not in keys, plan
        assert nxt.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.shuffle.partitions", oldp)


def test_bucketed_kcore_round_no_pair_exchange_on_bucket_key(spark):
    """r10, reshaped r12: the k-core bucketed fallback's round shape —
    degrees come from ONE exploded node-keyed aggregate (the r11 peel
    shape lifted into this tier) and the PAIR frame still never
    exchanges on the bucket key: its single per-round move is the
    opposite-parity semi key. Keep-list builds DO exchange on c/s, but
    those are node-sized frames above the degree aggregate — the pin
    distinguishes them structurally (any c-keyed exchange must sit above
    an aggregate, never directly over the bucketed pair scan). And the
    alternation premise holds: after persisting round 0's output
    (partitioned by s), an s-keyed aggregate over the cache plans with
    no exchange of its own. Runs at shuffle.partitions=32 !=
    N_GRAPH_BUCKETS (r11): the c-semi rides the 8-bucket layout
    regardless of conf because the keep build re-exchanges INTO that
    layout — unlike LPA/BFS/PageRank this tier needs no repartition fix,
    and this pin proves it."""
    import re

    from ufload_spark.operators.graph import KCORE_K, _bucketed_edges_table

    def _indent(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-*("))

    def _subtree(lines: list[str], i: int) -> list[str]:
        """Lines strictly below (more indented than) line ``i``."""
        base = _indent(lines[i])
        out = []
        for nxt_ln in lines[i + 1:]:
            if nxt_ln.strip() and _indent(nxt_ln) <= base:
                break
            out.append(nxt_ln)
        return out

    name = _bucketed_edges_table(spark, SF_DIR)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    oldp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        pairs = (
            spark.table(name)
            .where(F.col("src") % 2 == 0)
            .select(F.col("src").alias("c"), F.col("dst").alias("s"))
        )
        # the registered query's r12 round shape: one exploded degree
        # aggregate (no lazy checkpoint here — the pin wants the full
        # subtree visible, and the exchange keys are identical either way)
        deg = (
            pairs.select(
                F.explode(F.array(F.col("c"), F.col("s"))).alias("node")
            )
            .groupBy("node")
            .agg(F.count("*").cast("bigint").alias("d"))
        )
        deg_c = deg.where(F.col("node") % 2 == 0).select(
            F.col("node").alias("c"), "d"
        )
        deg_s = deg.where(F.col("node") % 2 == 1).select(
            F.col("node").alias("s"), "d"
        )
        # KCORE_K + 1, deliberately NOT the registered query's threshold:
        # graph_kcore_bucketed persists its round frames, and Spark's
        # cache manager substitutes any MATCHING plan fragment with the
        # InMemoryRelation — which would silently replace the parquet
        # scan this test pins (observed when the full suite runs the
        # registered query first). A different threshold guarantees a
        # cache miss without changing the plan shape under test.
        from ufload_spark.operators.graph import N_GRAPH_BUCKETS

        keep_c = (
            deg_c.where(F.col("d") >= KCORE_K + 1).select("c")
            .hint("shuffle_hash")
            .repartition(N_GRAPH_BUCKETS, F.col("c"))
        )
        keep_s = (
            deg_s.where(F.col("d") >= KCORE_K + 1).select("s")
            .hint("shuffle_hash")
            .repartition(N_GRAPH_BUCKETS, F.col("s"))
        )
        nxt = pairs.join(keep_c, "c", "left_semi").join(keep_s, "s", "left_semi")
        plan = _plan(nxt)
        assert "SelectedBucketsCount" in plan
        assert "BroadcastHashJoin" not in plan
        # Classify every hash exchange by what its subtree reaches FIRST:
        # an aggregate => a NODE-sized build (degree partials / keep
        # repartitions — legal on any key); a scan => a move of the PAIR
        # frame itself. Exactly ONE pair move is owed per round, keyed by
        # the opposite parity (the s/dst side here), and the same-parity
        # (bucket-key) semi must ride the layout exchange-free.
        pair_moves = []
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            m = re.search(r"Exchange hashpartitioning\(([^)]+)\)", ln)
            if not m:
                continue
            below = _subtree(lines, i)
            kind = None
            for bl in below:
                if "HashAggregate" in bl:
                    kind = "node"
                    break
                if ("FileScan" in bl or "InMemoryRelation" in bl
                        or "ExistingRDD" in bl):
                    kind = "pair"
                    break
            if kind == "pair":
                pair_moves.append(m.group(1))
        assert len(pair_moves) == 1, (pair_moves, plan)
        assert "dst#" in pair_moves[0] or "s#" in pair_moves[0], plan
        # alternation: the persisted round-0 output is partitioned by s,
        # so the next round's s-keyed work (the s-semi probe / exploded
        # degree partials) adds no pair-frame exchange of its own
        # (everything below the InMemoryRelation marker is the cached
        # round-0 subtree, already paid for)
        cached = nxt.persist()
        try:
            cached.count()
            p1 = _plan(cached.groupBy("s").agg(F.count("*").alias("d")))
            above = p1.split("InMemoryRelation", 1)[0]
            assert "Exchange hashpartitioning" not in above, above
        finally:
            cached.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.shuffle.partitions", oldp)


def test_bucketed_bfs_round_no_edge_exchange(spark):
    """r11 (r10 VERDICT ask #3): the BFS bucketed fallback's round shape,
    pinned like LPA's — one frontier expansion against the src-bucketed
    edge table, broadcast disabled, must read the edge side straight from
    its buckets (SelectedBucketsCount, no exchange between scan and
    join), plan the join as ShuffledHashJoin with the NODE-sized frontier
    as build side (the shuffle_hash pin that fixed the r10 sf1
    broadcast-build OOM), and key every hash exchange on node — never the
    edge table's src. Runs at shuffle.partitions=32 != N_GRAPH_BUCKETS:
    the frontier comes from an UNRELATED table (supplier), so without the
    repartition-into-buckets the edge side re-exchanges to match the
    32-partition frontier — the r11 defect this pin was written to
    catch."""
    import re

    from ufload_spark.operators.graph import (
        BFS_SEED_NATION,
        N_GRAPH_BUCKETS,
        _bucketed_edges_table,
    )

    name = _bucketed_edges_table(spark, SF_DIR)
    edges = spark.table(name).select("src", "dst")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    oldp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        sup = table(spark, SF_DIR, "supplier")
        # a seed nation that EXISTS but is deliberately NOT the registered
        # seed — a cached subtree from an earlier in-suite run of the
        # registered query must not substitute the scan this pin tests
        # (r10 trap), and the tiny fixture may lack BFS_SEED_NATION+1
        alt_seed = (
            sup.where(F.col("s_nationkey") != BFS_SEED_NATION)
            .select("s_nationkey")
            .first()[0]
        )
        dist = (
            sup.where(F.col("s_nationkey") == alt_seed)
            .select((F.col("s_suppkey") * 2 + 1).alias("node"))
            .distinct()
            .select("node", F.lit(0).cast("bigint").alias("d"))
        )
        frontier = (
            dist.where(F.col("d") == 0)
            .repartition(N_GRAPH_BUCKETS, F.col("node"))
            .hint("shuffle_hash")
        )
        nbr = edges.join(frontier, edges.src == frontier.node).select(
            F.col("dst").alias("node"), F.lit(1).cast("bigint").alias("d")
        )
        nxt = (
            dist.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("d").cast("bigint").alias("d"))
        )
        plan = _plan(nxt)
        assert "SelectedBucketsCount" in plan  # bucket spec reached the scan
        assert "BroadcastHashJoin" not in plan  # the fallback regime
        assert "ShuffledHashJoin" in plan and "BuildRight" in plan, plan
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]+)\)", plan):
            keys = m.group(1)
            assert "node" in keys, plan
            assert "src" not in keys, plan
        assert nxt.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.shuffle.partitions", oldp)


def test_bucketed_tiers_release_their_caches(spark):
    """r11 (r10 VERDICT ask #5): the bucketed graph tiers publish their
    audit-sized results through the staged loader and unpersist every
    cache their rounds accumulated, and the streaming gates release each
    micro-batch's segment checkpoint once it is published — called bare,
    a registered query in a long-lived session leaves NO new persistent
    RDDs behind once it returns."""
    from ufload_spark.plans.registry import load_all

    reg = load_all()
    for name in (
        "graph_pagerank_bucketed",
        "graph_lpa_bucketed",
        "graph_bfs_bucketed",
        "graph_kcore_bucketed",
        "streaming_ingest_gate",
        "streaming_neardup_gate",
    ):
        before = persistent_rdds(spark)
        df = reg[name].fn(spark, SF_DIR)
        leaked = persistent_rdds(spark) - before
        assert not leaked, (name, leaked)
        assert df.count() > 0, name


def test_hier_gather_ships_probed_shards_not_k(spark):
    """r10 (r9 VERDICT ask #2): the hier SemDeDup probed-shard path is
    EXECUTED, not simulated. (a) Per-group candidate-centroid rows —
    what each cogroup kernel is actually shipped — are bounded by the
    two probed shards (~2k/k2 = O(√k)), never the full k-row model.
    (b) The executed gather assignment is bit-identical to the masked
    full-matrix reference (the r9 formulation), replayed engine-external
    in numpy from the same trained centroids."""
    import numpy as np

    from ufload_spark.operators.similarity import (
        _R,
        SEM_PROBE2,
        _hier_assignment,
        _hier_pivots,
        _sem_k,
        kmeans_centroids,
        train_sample,
    )
    from ufload_spark.sources.tables import corpus_count, table

    big = "/root/testdata/sf0.1"  # k=32, k2=6 — the contrastful fixture
    k = _sem_k(corpus_count(spark, big, "embeddings"))
    asn, cand = _hier_assignment(spark, big)

    # (a) shard-bytes pin: no kernel group receives the full model
    sizes = [
        r["n"]
        for r in cand.groupBy("q1", "q2", "qsalt")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    k2 = max(4, int(np.ceil(np.sqrt(k))))
    assert max(sizes) < k, (max(sizes), k)
    assert sum(sizes) / len(sizes) <= 4 * k / k2, (sum(sizes) / len(sizes), k)

    # (b) executed gather == masked full-matrix numpy replay
    e = table(spark, big, "embeddings")
    rows = sorted(
        kmeans_centroids(train_sample(e), k=k, kernel=True).collect(),
        key=lambda r: r["cid"],
    )
    C = np.array([r["ce"] for r in rows], dtype=np.float64)
    cids = np.array([r["cid"] for r in rows], dtype=np.int32)
    piv = _hier_pivots(cids, k)
    P, pc = C[piv], cids[piv]
    DC = np.round(((C[:, None, :] - P[None, :, :]) ** 2).sum(axis=2), _R)
    f2c = pc[np.argsort(DC, axis=1, kind="stable")[:, 0]]
    emb = {r["vec_id"]: r["embedding"] for r in e.collect()}
    ids = sorted(emb)
    X = np.array([emb[i] for i in ids], dtype=np.float64)
    nx = (X * X).sum(axis=1)[:, None]
    DP = np.round(nx - 2.0 * (X @ P.T) + (P * P).sum(axis=1)[None, :], _R)
    probed = pc[np.argsort(DP, axis=1, kind="stable")[:, :SEM_PROBE2]]
    D = np.round(nx - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :], _R)
    M = f2c[None, :] == probed[:, 0:1]
    for q in range(1, SEM_PROBE2):
        M |= f2c[None, :] == probed[:, q : q + 1]
    Dm = np.where(M, D, np.inf)
    j = Dm.argmin(axis=1)
    want = {
        int(v): (int(cids[jj]), round(float(Dm[i, jj]), 6))
        for i, (v, jj) in enumerate(zip(ids, j))
    }
    got = {
        r["vec_id"]: (r["cell"], round(r["d"], 6)) for r in asn.collect()
    }
    assert got == want


def test_semantic_incremental_base_side_is_cell_scoped(spark):
    """r11 (r10 VERDICT ask #1): `dedup_semantic_incremental` must not
    ship the whole published base assignment through the cell-keyed
    kernel exchange — the base side reaches the shuffle only behind a
    LeftSemi broadcast join on the BATCH's distinct cells. (a) Plan pin:
    the registered query's executed plan carries a cell-keyed LeftSemi
    BroadcastHashJoin. (b) Quantitative: with a one-vector batch the
    scoped base side is exactly that cell's members (strictly fewer rows
    than the corpus), and (c) the scoped union's pair output is identical
    to the unscoped union's for the same batch — batch-free cells only
    ever produced empty kernels."""
    import re

    from ufload_spark.operators.similarity import (
        _cell_pairs_batch,
        _kernel_assign,
        _sem_k,
        kmeans_centroids,
        train_sample,
    )
    from ufload_spark.plans.registry import load_all
    from ufload_spark.sources.tables import corpus_count

    # (a) the registered query's base side sits behind the semi-join
    df = load_all()["dedup_semantic_incremental"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert re.search(
        r"BroadcastHashJoin \[cell#\d+\], \[cell#\d+\], LeftSemi", plan
    ), plan

    # (b)+(c) the scoping rule itself, with a batch small enough to leave
    # cells untouched: one vector
    e = table(spark, SF_DIR, "embeddings")
    k = _sem_k(corpus_count(spark, SF_DIR, "embeddings"))
    base = e.where(F.col("vec_id") % 4 != 0)
    cent = kmeans_centroids(train_sample(base), k=k, kernel=True)
    base_asn = _kernel_assign(base, cent)
    one_id = e.select(F.min("vec_id")).first()[0]
    tiny = _kernel_assign(e.where(F.col("vec_id") == one_id), cent)
    cells = tiny.select("cell").distinct()
    touched = base_asn.join(F.broadcast(cells), "cell", "left_semi")
    n_touched, n_full = touched.count(), base_asn.count()
    assert n_touched < n_full, (n_touched, n_full)

    cols = ["vec_id", "embedding", "cell", "d"]
    schema = "cell int, vec_a long, vec_b long, cosine double, drop_id long"

    def pairs(base_side):
        u = base_side.select(cols).unionByName(tiny.select(cols))
        return sorted(
            (r["vec_a"], r["vec_b"], r["drop_id"])
            for r in u.groupBy("cell").applyInPandas(
                _cell_pairs_batch, schema=schema
            ).collect()
        )

    assert pairs(touched) == pairs(base_asn)


#: r9 registry-wide partition-less-window allowlist (r8 verdict ask #4):
#: every registered query whose OPTIMIZED plan contains a window with no
#: partition spec must be listed here WITH the bound that makes the
#: single-reducer sort safe. A new corpus-sized offender cannot land
#: silently: it fails the scan below until someone states its bound here
#: — and a stale entry (query fixed or renamed) fails the reverse check.
PARTITIONLESS_WINDOW_BOUNDS = {
    "corpus_priority_sample": "PRIO_K+1-row limit result (rank + tau min)",
    "corpus_quota_apportion": "#sources-row quota frame",
    "customer_spend_gini": "<=512-row spend-bin table",
    "customers_abc_migration": "bounded bin-id tables (one per period)",
    "delive_create_users": "config-sized login list (reference -createusers)",
    "delive_hide_groups": "config-sized group-name list",
    "delive_ilike_groups": "config-sized group-name list",
    "delive_user_dept_join": "config-sized name list",
    "events_chi2_independence": "event_type x segment contingency cells",
    "events_churn_hazard": "calendar-bounded week frame",
    "events_cumulative_distinct_users": "calendar-bounded day frame",
    "events_emd_drift": "<=512-row value-bin frame",
    "events_ks_drift_binned": "<=512-row value-bin frame",
    "events_rfm_segmentation": "histogram-quantile bin frames",
    "events_survival_km": "calendar-bounded week frame",
    "features_quantile_binning": (
        "corpus-count-bounded ~QBIN_SAMPLE_TARGET-row sample (r9 knob)"
    ),
    "graph_link_prediction": "LP_TOP_N-row limit result",
    "lineitem_mutual_information": "36-cell contingency frame",
    "orders_abc_analysis": "<=512-row bin table",
    "orders_bootstrap_ci": "B-row bootstrap replica table",
    "orders_changepoint_binseg": "calendar-bounded day frame",
    "orders_exact_quartiles_select": "<=512-row bin cumsum frames",
    "orders_forecast_holt_backtest": "calendar-bounded day frame",
    "orders_forecast_hw_backtest": "calendar-bounded day frame",
    "orders_mannwhitney_u": "value-bin frame",
    "orders_peak_revenue_days": "calendar-bounded day frame",
    "orders_revenue_growth": "calendar-bounded month frame",
    "orders_seasonal_decompose": "calendar-bounded day frame",
    "orders_theilsen_trend": "calendar-bounded day-pair slope frame",
    "parts_abc_xyz_matrix": "bounded bin tables",
    "parts_skyline_price_size": "price-bin frame",
    # similarity_ivf_topk / similarity_pq_topk: their k-row hash-ordered
    # seed windows still execute (bounded by the train sample as before)
    # but live behind the Lloyd loop's per-iteration lazy localCheckpoint
    # (r11 change 5), so the registry-wide optimized-plan scan no longer
    # sees them — the bound is documented at kmeans_centroids/_pq_codebooks.
    "streaming_changepoint_monitor": "calendar-bounded day frame",
    "streaming_emd_monitor": "<=512-row bin frame",
    "text_bm25_search": "BM25_TOPK-row limit result",
    "text_quality_logreg_eval": (
        "<=1001-row score-bin frame (score_milli in (0, 1000))"
    ),
    "text_rake_keywords": "RAKE_TOP_N-row frame",
    "text_zipf_fit": "top-vocab frame (orderBy+limit cut feeds the rank)",
    "version_sort": (
        "reference version-listing semantics: control-plane file list,"
        " single-reducer sort by design"
    ),
}


def _bracket_groups(s: str) -> list:
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def _has_partitionless_window(plan: str) -> bool:
    import re

    for line in plan.splitlines():
        m = re.search(r"\bWindow (\[.*)$", line)
        if not m:
            continue
        gs = _bracket_groups(m.group(1))
        if len(gs) >= 3:
            continue  # [exprs], [partition], [order]
        if len(gs) == 2 and not re.search(r"\b(ASC|DESC|NULLS)\b", gs[1]):
            continue  # [exprs], [partition] (no order)
        return True
    return False


@pytest.mark.slow  # ~165 s: compiles the optimized plan of all 360 queries
def test_every_partitionless_window_is_allowlisted_with_a_bound(spark):
    """r9, registry-wide (r8 verdict: the guard covered only two named
    queries): scan EVERY registered query's optimized plan; a window with
    no partition spec is legal only for queries listed in
    :data:`PARTITIONLESS_WINDOW_BOUNDS` with an explicit input bound.
    Also fails on stale allowlist entries, so the list can only ever
    track reality."""
    from ufload_spark.plans.registry import load_all

    offenders = set()
    for name, q in sorted(load_all().items()):
        plan = q.fn(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
        if _has_partitionless_window(plan):
            offenders.add(name)
    unlisted = offenders - set(PARTITIONLESS_WINDOW_BOUNDS)
    stale = set(PARTITIONLESS_WINDOW_BOUNDS) - offenders
    assert not unlisted, (
        "partition-less window with NO stated bound — either partition the "
        f"window or add the bound to the allowlist: {sorted(unlisted)}"
    )
    assert not stale, f"allowlist entries no longer needed: {sorted(stale)}"


def test_semdedup_kernel_scale_shape(spark):
    """r9: the SemDeDup tier's physical plan is the kernel shape the
    112→4 s sf1 fix installed — assignment is a MapInPandas over ONE
    corpus scan (centroids ship via closure, no crossJoin row blow-up),
    the pair stage is a grouped kernel behind exactly ONE hash exchange
    on the cell key, and nothing is cartesian or range-partitioned."""
    from ufload_spark.plans.registry import load_all

    reg = load_all()
    p = _plan(reg["dedup_semantic_pairs"].fn(spark, SF_DIR))
    assert "MapInPandas" in p
    assert "FlatMapGroupsInPandas" in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in p and "Exchange rangepartitioning" not in p

    q = _plan(reg["similarity_semantic_cell_quality"].fn(spark, SF_DIR))
    assert "MapInPandas" in q
    assert q.count("Exchange hashpartitioning") == 1  # the cell aggregate
    assert "CartesianProduct" not in q and "Exchange rangepartitioning" not in q

    r = _plan(reg["graph_ppr_seeded"].fn(spark, SF_DIR))
    # checkpoint cuts + broadcast frontier: the final iteration plan has
    # no shuffle at all on the edge side
    assert "CartesianProduct" not in r and "Exchange rangepartitioning" not in r


def test_logreg_apply_warm_plan_is_aggregate_free(spark):
    """r11: `text_quality_logreg_apply`'s scoring plan must be a
    batch-sized scan of the published feature table plus a 1-row
    broadcast of the PUBLISHED model — no aggregate anywhere in the
    executed plan (an aggregate would mean the batch path retrains),
    and the model side is a FileScan of the published logreg_base_model
    parquet, not a recomputed frame."""
    from ufload_spark.plans.registry import load_all

    fn = load_all()["text_quality_logreg_apply"].fn
    fn(spark, SF_DIR)  # cold call: trains on the base slice + publishes
    plan = _plan(fn(spark, SF_DIR))  # warm: published model only
    assert "logreg_base_model" in plan, plan
    assert "Aggregate" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
