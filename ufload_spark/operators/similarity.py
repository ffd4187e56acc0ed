"""Similarity search over the ``embeddings`` table (extension surface).

- Brute-force cosine top-k: the correctness baseline. The query set is
  broadcast; candidates never shuffle. O(Q×N) — fine for small Q, the
  benchmark shape for "embed a batch, look up neighbors".
- Random-hyperplane LSH: the scale path, **banded**. Each vector gets
  N_BANDS signatures of r sign bits each from sign(v·h_j)
  against deterministic md5-derived hyperplanes; ANN candidates are pairs
  sharing ANY band's signature (union of per-band equi-joins, deduped —
  the same amplification shape as MinHash-LSH in dedup.py). Bucket
  cardinality per band is 2^r, so bucket population SHRINKS
  as planes are added: r scales with log2(corpus) — derived from a corpus
  count at plan-build time (:func:`lsh_r`), identically in the oracle —
  and recall is restored by adding bands. A single fixed-width
  signature (the r1 design) capped at 2^8 buckets — within-bucket work
  grew as (N/256)², a scale-killer this banding removes. An IVF variant
  (k-means centroids → probe nearest cells) drops in by replacing the
  bucket expression with a centroid id.

Vector math uses ``zip_with``/``aggregate`` (JVM-side fold, no UDF); floats
are cast to double before any arithmetic so Spark and DuckDB agree.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ufload_spark.lifetime import cut, keep
from ufload_spark.plans.registry import register
from ufload_spark.session import tune
from ufload_spark.sources.tables import (
    BATCH_MOD,
    corpus_count,
    in_batch,
    spread,
    table,
)

DIM = 64
# Banded LSH: N_BANDS independent signatures of r sign bits each. Bucket
# capacity per band is 2^r, so r is a SCALING INPUT, not a constant
# (SCALING.md): candidate volume within a band is ~n²/2^r, so r must grow
# with log2(corpus) to keep within-bucket pairing bounded. Since r5 the
# code matches the doc — r = max(R_MIN, ceil(log2(n_vectors))) is derived
# from a cheap corpus count at plan-build time (:func:`lsh_r`), with the
# oracle computing the identical formula in SQL so both engines stay in
# lockstep at ANY scale factor. 2^12 = 4096 buckets/band at the R_MIN floor
# keeps max bucket share <1% on the fixtures; recall is restored by adding
# bands — the knobs are independent, unlike a single wide signature.
N_BANDS = 6
R_MIN = 12
TOP_K = 5

def _r_for_count(n_vectors: int) -> int:
    import math

    return max(R_MIN, math.ceil(math.log2(max(n_vectors, 2))))


def lsh_r(spark: SparkSession, sf_dir: str) -> int:
    """The corpus-derived planes-per-band knob, from the embeddings table's
    memoized parquet-footer count."""
    return _r_for_count(corpus_count(spark, sf_dir, "embeddings"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two float arrays, in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sqnorm(a: Column) -> Column:
    return dot(a, a)


def cosine(a: Column, b: Column) -> Column:
    """Cosine of two float arrays in double — the one formula behind every
    exact rescoring step (the oracles' ``dp / (sqrt(na) * sqrt(nb))``)."""
    return dot(a, b) / (F.sqrt(sqnorm(a)) * F.sqrt(sqnorm(b)))


def _top_k(scored: DataFrame, k: int, *order) -> DataFrame:
    """The first ``k`` rows per ``qid`` under ``order``, ranked 1..k in
    ``rnk`` — the oracles' ``row_number() OVER (PARTITION BY qid ...)``."""
    w = Window.partitionBy("qid").orderBy(*order)
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


@register(
    "embedding_norms",
    """
SELECT vec_id,
       round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
FROM embeddings
""",
    doc="per-vector L2 norm via array fold (sanity + normalization input)",
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", F.round(F.sqrt(sqnorm(F.col("embedding"))), 6).alias("l2_norm")
    )


_TOPK_ORACLE_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 5),
expl AS (
  SELECT qid, cid,
         sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
         sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
         sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
  FROM q, c, (SELECT unnest(range(1, {DIM + 1})) AS i)
  GROUP BY qid, cid
), scored AS (
  SELECT qid, cid, round(dp / (sqrt(nq) * sqrt(nc)), 6) AS cosine FROM expl
)
SELECT qid, cid, cosine, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cosine DESC, cid) AS rnk
  FROM scored
) WHERE rnk <= {TOP_K}
"""


@register(
    "similarity_topk_cosine",
    _TOPK_ORACLE_SQL,
    doc="brute-force cosine top-k: broadcast query batch × candidate scan",
)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k nearest candidates per query vector by cosine. The 5-vector
    query set is broadcast against the candidate scan — the candidate table
    never shuffles; ranking shuffles only (qid, cosine) pairs."""
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    c = e.where(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "cid",
        F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("cosine"),
    )
    return _top_k(scored, TOP_K, F.desc("cosine"), "cid").select(
        "qid", "cid", "cosine", "rnk"
    )


# The oracle derives r with the same formula as :func:`lsh_r` — a scalar
# CTE over the corpus count — so Spark and DuckDB agree at any SF.
_PLANES_SQL = f"""
rknob AS (
  SELECT greatest({R_MIN}, CAST(ceil(log2(count(*))) AS INT)) AS r
  FROM embeddings
), planes AS (
  SELECT j, i,
         ((('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 2))::INT
           % 2) * 2 - 1) AS s
  FROM (SELECT unnest(range(0, (SELECT {N_BANDS} * r FROM rknob))) AS j),
       (SELECT unnest(range(1, {DIM + 1})) AS i)
), expl AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(range(1, {DIM + 1})) AS i)
), dots AS (
  SELECT e.vec_id, p.j, round(sum(e.x * p.s), 9) AS d
  FROM expl e JOIN planes p ON e.i = p.i GROUP BY 1, 2
), sigs AS (
  SELECT vec_id, CAST(j // (SELECT r FROM rknob) AS INT) AS band,
         CAST(sum(CASE WHEN d > 0 THEN 1 << (j % (SELECT r FROM rknob)) ELSE 0 END) AS BIGINT) AS sig
  FROM dots GROUP BY vec_id, j // (SELECT r FROM rknob)
), pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
)
"""


def _plane_matrix(n_planes: int):
    """The DIM×n_planes ±1 hyperplane matrix, derived from md5(``j_i``)
    parity — byte-identical to the oracle's ``planes`` CTE arithmetic."""
    import hashlib

    import numpy as np

    S = np.empty((DIM, n_planes), dtype=np.float64)
    for j in range(n_planes):
        for i in range(1, DIM + 1):
            parity = int(hashlib.md5(f"{j}_{i}".encode()).hexdigest()[:2], 16) % 2
            S[i - 1, j] = parity * 2 - 1
    return S


def _sig_batches_fn(r: int):
    """Arrow-batch signature generator for a given planes-per-band ``r``
    (closure so the derived knob serializes to executors as a plain int)."""

    def _sig_batches(batches):
        import numpy as np

        S = _plane_matrix(N_BANDS * r)
        bit_weights = 1 << np.arange(r, dtype=np.int64)
        for pdf in batches:
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # round before the sign test (matching the oracle's dots CTE):
            # a dot within FP noise of zero must not flip its bit between
            # engines just because BLAS and DuckDB sum in different orders
            bits = np.round(X @ S, 9) > 0  # n × n_planes sign bits, one matmul
            sigs = np.column_stack(
                [
                    bits[:, b * r : (b + 1) * r] @ bit_weights
                    for b in range(N_BANDS)
                ]
            )  # n × N_BANDS packed band signatures
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(N_BANDS),
                    "band": np.tile(np.arange(N_BANDS, dtype=np.int32), n),
                    "sig": sigs.reshape(-1),
                }
            )

    return _sig_batches


def _lsh_band_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded signatures per vector: one row per (vec_id, band), where bit
    (j % r) of ``sig`` is sign(v · h_j) for plane j in the band's range;
    h_j is a ±1 hyperplane from md5(``j_i``) parity (identical in the
    oracle's ``planes`` CTE).

    Arrow-batched matmul (r4): the signature math is a dense n×DIM @
    DIM×N_PLANES product — 92M multiply-adds at 20k vectors. The previous
    codegen form (posexplode → broadcast plane join → two hash-aggs) was
    JVM-pure but materialized every (element, plane) product as a row:
    ~10 s at the synthesized sf1 vs ~1 s for this narrow ``mapInPandas``
    map, where one Arrow batch of float32 vectors crosses to numpy and
    BLAS does the flops. No shuffle, no join; scales as a pure map. This
    is the documented exception to fight-for-codegen: O(corpus) paths
    whose per-row arithmetic is a matrix product belong on the BLAS tier
    (same call SCALING.md records for pair-cosine economics)."""
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    return e.select("vec_id", "embedding").mapInPandas(
        _sig_batches_fn(lsh_r(spark, sf_dir)), schema="vec_id long, band int, sig long"
    )


def _persisted_band_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band signatures evaluated ONCE and round-tripped through a scratch
    parquet publish; self-joining consumers scan the persisted table on both
    sides instead of re-running the Arrow matmul per join side.

    Why: Catalyst does not canonicalize Python-eval subtrees as equal, so a
    self-join over the raw ``_lsh_band_sigs`` frame executes the signature
    map twice (the accepted-and-documented r4 trade-off). Cheap at fixture
    scale, but at 100 TB that is 2× the corpus-scan flops — so the pair and
    top-k queries now materialize the signatures first (one narrow
    (vec_id, band, sig) table, a tiny fraction of the vector bytes) and
    self-join the parquet, whose identical FileScan exchanges Catalyst CAN
    reuse. This is also the production shape: the persisted signature table
    the incremental-admission queries maintain, built here on first use
    only because registered queries must be self-contained."""
    from ufload_spark.sources.loader import memo_read

    return memo_read(
        spark, "lsh_selfsigs", sf_dir, lambda: _lsh_band_sigs(spark, sf_dir)
    )


def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-bands candidate proposal: pairs sharing ANY band signature.
    Each band join is an equi-join on (band, sig) — the shuffle key carries
    the band so all bands run in ONE self-join; ``distinct`` dedups pairs
    proposed by several bands. No all-pairs work anywhere: within-bucket
    pairing is bounded by 2^r bucket cardinality. The self-join runs over
    the once-evaluated persisted signature table (single matmul pass)."""
    sigs = _persisted_band_sigs(spark, sf_dir)
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )


def _lsh_rescored(spark: SparkSession, sf_dir: str, t: float) -> DataFrame:
    """Exact rescoring of the LSH candidates: each pair joined to both
    vectors (``emb_a``, ``emb_b``) and kept where its cosine is ≥ ``t``."""
    pairs = _lsh_candidate_pairs(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings")
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    return (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .where(cosine(F.col("emb_a"), F.col("emb_b")) >= t)
    )


@register(
    "similarity_lsh_buckets",
    f"WITH {_PLANES_SQL} SELECT band, sig, count(*) AS n_vecs FROM sigs GROUP BY band, sig",
    doc=f"banded hyperplane-LSH bucket histogram ({N_BANDS} bands × "
    f"corpus-derived r ≥ {R_MIN} bits)",
)
def similarity_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = _lsh_band_sigs(spark, sf_dir)
    return sigs.groupBy("band", "sig").agg(F.count("*").alias("n_vecs"))


@register(
    "similarity_lsh_ann_pairs",
    "WITH "
    + _PLANES_SQL
    + f"""
, pexpl AS (
  SELECT p.vec_a, p.vec_b,
         sum(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS dp,
         sum(CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)) AS na,
         sum(CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS nb
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.vec_a
  JOIN embeddings eb ON eb.vec_id = p.vec_b,
  (SELECT unnest(range(1, {DIM + 1})) AS i)
  GROUP BY 1, 2
)
SELECT vec_a, vec_b, round(dp / (sqrt(na) * sqrt(nb)), 6) AS cosine
FROM pexpl
WHERE dp / (sqrt(na) * sqrt(nb)) >= 0.2
""",
    doc="ANN via banded LSH: union-of-band equi-joins → exact rescoring",
)
def similarity_lsh_ann_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage ANN pattern: cheap banded-signature equi-join proposes
    candidate pairs, exact cosine rescoring keeps the real neighbors.
    All-pairs work is confined to within-bucket, and bucket population is
    corpus-size / 2^r per band — both knobs (bands for recall, planes for
    bucket granularity) scale independently."""
    return _lsh_rescored(spark, sf_dir, 0.2).select(
        "vec_a",
        "vec_b",
        F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6).alias("cosine"),
    )


@register(
    "embedding_array_ops",
    """
SELECT vec_id,
       len(embedding) AS dim,
       round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
       round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
       round(list_sum(list_transform(embedding[1:8],
             x -> CAST(x AS DOUBLE))), 6) AS head_sum,
       list_contains(list_transform(embedding, x -> x > 0), true) AS any_positive
FROM embeddings WHERE vec_id < 50
""",
    doc="array-function pack over embeddings: size, index, max, slice-fold, "
    "exists — the nested-type surface",
)
def embedding_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array surface breadth (size/element_at/array_max/slice + aggregate/
    exists) — all JVM-side higher-order functions on the float vectors;
    1-based indexing matches DuckDB lists."""
    e = table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 50)
    head_sum = F.aggregate(
        F.slice("embedding", 1, 8),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
        F.round(head_sum, 6).alias("head_sum"),
        F.exists("embedding", lambda x: x > 0).alias("any_positive"),
    )


@register(
    "similarity_lsh_topk",
    "WITH "
    + _PLANES_SQL
    + f"""
, qsig AS (SELECT vec_id AS qid, band, sig FROM sigs WHERE vec_id < 5),
csig AS (SELECT vec_id AS cid, band, sig FROM sigs WHERE vec_id >= 5),
cand AS (
  SELECT DISTINCT q.qid, c.cid
  FROM qsig q JOIN csig c ON q.band = c.band AND q.sig = c.sig
), scored AS (
  SELECT cn.qid, cn.cid,
         round(sum(CAST(eq.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE))
               / (sqrt(sum(CAST(eq.embedding[i] AS DOUBLE) * CAST(eq.embedding[i] AS DOUBLE)))
                  * sqrt(sum(CAST(ec.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE)))), 6)
           AS cosine
  FROM cand cn
  JOIN embeddings eq ON eq.vec_id = cn.qid
  JOIN embeddings ec ON ec.vec_id = cn.cid,
  (SELECT unnest(range(1, {DIM + 1})) AS i)
  GROUP BY cn.qid, cn.cid
)
SELECT qid, cid, cosine, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cosine DESC, cid) AS rnk
  FROM scored
) WHERE rnk <= {TOP_K}
""",
    doc="query-style ANN: the query batch's band signatures probe the "
    "corpus signatures; exact top-k runs on collided candidates only",
)
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOOKUP shape of banded LSH (ann_pairs is the corpus-wide pair
    shape): a small query batch computes its band signatures and probes
    the corpus signature table — at scale, a PERSISTED table maintained by
    the loader, so queries never re-hash the corpus (see
    ``dedup_minhash_persist_roundtrip`` for that loop executed). Both
    sides derive from one signature frame with the query/corpus split in
    the JOIN CONDITION. Since r5 that frame is the once-evaluated persisted
    signature table (``_persisted_band_sigs``): the Arrow matmul runs a
    single pass during the publish and the self-join scans the parquet on
    both sides — zero Python evaluation in the returned plan (pinned by
    ``test_lsh_pair_and_topk_single_signature_eval``), closing the r4
    trade-off where Catalyst's refusal to canonicalize Python-eval subtrees
    made each join side re-run the map. Candidates (band collisions) are
    the only rows rescored exactly, and the final top-k windows by qid — an
    evenly-keyed small shuffle."""
    sigs = _persisted_band_sigs(spark, sf_dir).hint("shuffle_hash")
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < 5)
            & (F.col("b.vec_id") >= 5),
        )
        .select(F.col("a.vec_id").alias("qid"), F.col("b.vec_id").alias("cid"))
        .distinct()
    )
    e = table(spark, sf_dir, "embeddings")
    eq = e.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("emb_q"))
    ec = e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("emb_c"))
    cos = cosine(F.col("emb_q"), F.col("emb_c"))
    scored = (
        cand.join(F.broadcast(eq), "qid")
        .join(ec, "cid")
        .select("qid", "cid", F.round(cos, 6).alias("cosine"))
    )
    return _top_k(scored, TOP_K, F.desc("cosine"), "cid").select(
        "qid", "cid", "cosine", "rnk"
    )


# --- vectorized Pandas-UDF scoring (the Arrow path) -----------------------


def _cosine_pandas_udf():
    """Arrow-batched cosine: whole float32 matrices cross the Python
    boundary once per batch and numpy does the math in float64 (matching
    JVM double arithmetic; 6-dp rounding absorbs summation-order ulps).
    ~10-100× the throughput of a row-at-a-time UDF — the fallback when the
    scoring math outgrows Column expressions (learned metrics, etc.)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(qe: pd.Series, ce: pd.Series) -> pd.Series:
        a = np.stack(qe.to_numpy()).astype(np.float64)
        b = np.stack(ce.to_numpy()).astype(np.float64)
        num = (a * b).sum(axis=1)
        den = np.sqrt((a * a).sum(axis=1)) * np.sqrt((b * b).sum(axis=1))
        return pd.Series(num / den)

    return cos


@register(
    "similarity_topk_cosine_pandas",
    _TOPK_ORACLE_SQL,  # identical oracle to the Column-expression variant
    doc="brute-force cosine top-k scored by a vectorized Pandas UDF "
    "(Arrow batches + numpy) — same oracle as the Column-expression form",
)
def similarity_topk_cosine_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical query plan to ``similarity_topk_cosine`` except the
    scoring expression runs as an Arrow-batched pandas UDF. Both variants
    hash-match the same oracle, pinning down that the two execution paths
    agree bit-for-bit after rounding."""
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    c = e.where(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    cos = _cosine_pandas_udf()
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid", "cid", F.round(cos(F.col("qe"), F.col("ce")), 6).alias("cosine")
    )
    return _top_k(scored, TOP_K, F.desc("cosine"), "cid").select(
        "qid", "cid", "cosine", "rnk"
    )


# --- IVF (inverted-file) ANN: coarse cells → probe nearest cells ----------

N_CENTROIDS = 8
N_PROBE = 2
KMEANS_ITERS = 3
#: the quantizer trains on a 1/TRAIN_SAMPLE_MOD content-addressed sample
#: (md5 bucket of vec_id): k-means needs representativeness, not the
#: corpus — at 100 TB training over every vector is pure waste, and the
#: sample predicate is closed-form on both engines so the oracle stays
#: bit-exact. Assignment still covers the FULL corpus.
TRAIN_SAMPLE_MOD = 4
IVF_Q_LO, IVF_Q_HI = 8, 13  # query vectors: vec_id in [8, 13)
_R = 6  # shared rounding (decimals) that makes Spark and DuckDB float
#        reductions comparable: both engines round every centroid
#        coordinate and every distance before it feeds a comparison


def _cosine_sql(ae: str, be: str) -> str:
    return (
        f"sum(CAST({ae}[i] AS DOUBLE) * CAST({be}[i] AS DOUBLE)) / "
        f"(sqrt(sum(CAST({ae}[i] AS DOUBLE) * CAST({ae}[i] AS DOUBLE))) * "
        f"sqrt(sum(CAST({be}[i] AS DOUBLE) * CAST({be}[i] AS DOUBLE))))"
    )


def sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance of two double arrays, sequential fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def train_sample(emb: DataFrame, mod: int = TRAIN_SAMPLE_MOD) -> DataFrame:
    """Deterministic content-addressed training sample: keep vectors whose
    md5(vec_id) bucket ≡ 0 (mod ``mod``) — rerun-stable, engine-portable
    (the DuckDB twin is ``('0x'||substr(md5(...),1,4))::INT % mod``), and
    uncorrelated with id assignment order."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % mod
    )
    return emb.where(bucket == 0)


def _centroid_matrix(cent: DataFrame):
    """A model-sized centroid frame ``(cid, ce)`` on the driver as
    ``(C, cids)``: the float64 centroid matrix and its int32 cids, both
    cid-ascending. The one driver collect of a trained model — k×DIM
    doubles, never the corpus — shipped into the Arrow kernels via closure
    (the `_plane_matrix` discipline)."""
    import numpy as np

    rows = sorted(cent.collect(), key=lambda r: r["cid"])
    C = np.array([r["ce"] for r in rows], dtype=np.float64)
    return C, np.array([r["cid"] for r in rows], dtype=np.int32)


def _nearest(X, C, top2: bool = False):
    """The centroid-distance kernel: squared L2 of every row of ``X`` to
    every row of ``C`` as ONE matmul (``||x||² − 2·X@Cᵀ + ||c||²``),
    rounded to the shared ``_R`` decimals. Returns ``(j1, d1, j2, d2)``:
    the nearest centroid's row index and distance, then the second
    nearest's — ``None`` unless ``top2`` and ``C`` has at least two rows
    (no second-nearest exists, exactly the oracle's absent ``rn = 2``).

    Tie rule: ``C`` rows are cid-ascending and both ``argmin`` (top-1) and
    ``argsort(kind="stable")[:, 0]`` (top-2) pick the FIRST minimum, i.e.
    the smallest cid — the oracle's ``ORDER BY d, cid``.

    Numeric caveat (r9 ADVICE): the expansion form accumulates float error
    differently from the fold path's / the oracle's direct
    ``sum(pow(x−c,2))``, so the rounded distances agree only when no
    distance lands within ~1e-13 of a 0.5e-6 rounding boundary —
    overwhelmingly likely on real data, not guaranteed; a boundary hit
    would shift one rounded distance by 1e-6 and surface as a driver hash
    mismatch, which is the detector we keep pointed at it."""
    import numpy as np

    D = np.round(
        (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :],
        _R,
    )
    ii = np.arange(len(X))
    if not top2:
        j1 = D.argmin(axis=1)
        return j1, D[ii, j1], None, None
    order = np.argsort(D, axis=1, kind="stable")
    j1 = order[:, 0]
    if D.shape[1] < 2:
        return j1, D[ii, j1], None, None
    j2 = order[:, 1]
    return j1, D[ii, j1], j2, D[ii, j2]


def _kernel_assign(emb: DataFrame, cent: DataFrame, *, overlap: bool = False) -> DataFrame:
    """Arrow-vectorized cell assignment ``(vec_id, embedding, cell, d)``:
    every vector's nearest cell and its rounded distance ``d`` from
    :func:`_nearest`, one matmul per batch.
    The centroid table is MODEL-sized and ships via closure, so the big
    side is one scan — no crossJoin row blow-up, no per-(vector, centroid)
    Catalyst fold: at corpus-derived k the fold path evaluates O(n·k)
    64-step folds (measured 112 s at sf1 for n=20k, k=313); the matmul is
    ~400 MFLOP, sub-second.

    ``overlap`` is the epsilon-overlap pass: a vector ALSO emits its
    SECOND-nearest cell whenever the rounded margin satisfies
    ``d2 − d1 ≤`` :data:`SEM_EPS_FRAC```·d1`` — both memberships carry the
    distance to THAT cell's centroid, so the pair stage's typicality drop
    rule stays per-cell; the margin runs on the shared-rounded distances
    with the oracle's arithmetic, so membership is deterministic. A single
    trained centroid (a degenerate corpus whose train sample yields one
    seed) has no second-nearest: primary memberships only, the oracle's
    behavior (r10 ADVICE)."""
    import numpy as np
    import pandas as pd

    C, cids = _centroid_matrix(cent)

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["embedding"]), dtype=np.float64)
            j1, d1, j2, d2 = _nearest(X, C, top2=overlap)
            out = pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": cids[j1],
                    "d": d1,
                    "embedding": pdf["embedding"],
                }
            )
            if j2 is not None:
                sec = (d2 - d1) <= SEM_EPS_FRAC * d1
                ovf = out[sec].assign(cell=cids[j2[sec]], d=d2[sec])
                out = pd.concat([out, ovf], ignore_index=True)
            yield out

    return emb.select("vec_id", "embedding").mapInPandas(
        fn, schema="vec_id long, embedding array<float>, cell int, d double"
    )


def _lloyd_update(cent: DataFrame, asn: DataFrame, vec: str, *keys: str) -> DataFrame:
    """One Lloyd update step grouped by ``keys`` (``cid`` for k-means,
    ``m, cid`` for the PQ codebooks): posexplode the assigned vectors
    ``vec`` and average per coordinate, rounded to ``_R`` — map-side partial
    aggregation ships k×DIM partials per partition, never vectors — then
    rebuild each centroid array in coordinate order. Cells that lose all
    members keep their previous centroid."""
    means = (
        asn.select(*keys, F.posexplode(vec).alias("pos", "x"))
        .groupBy(*keys, (F.col("pos") + 1).alias("i"))
        .agg(F.round(F.avg("x"), _R).alias("mi"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mi"))),
                lambda s: s.getField("mi"),
            ).alias("me")
        )
    )
    return (
        cent.withColumnRenamed("ce", "pe")
        .join(means, list(keys), "left")
        .select(*keys, F.coalesce("me", "pe").alias("ce"))
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int = N_CENTROIDS,
    iters: int = KMEANS_ITERS,
    kernel: bool = False,
    n_rows: int | None = None,
) -> DataFrame:
    """Lloyd's k-means over an embeddings frame, as pure DataFrame ops —
    no MLlib, no RDDs, no Python rows. Returns ``(cid int, ce
    array<double>)``.

    - **init**: the ``k`` vectors with the smallest ``md5(vec_id)`` — a
      deterministic *hash-ordered* sample: rerun-stable and
      oracle-expressible like an id-prefix sample, but uncorrelated with
      insertion order (ids are usually assigned in time/source order, so
      the first k ids cluster in one region of the distribution; hash
      order is as good as uniform). Planned as TakeOrderedAndProject — a
      distributed top-k, no global sort, no single-partition window over
      the corpus.
    - **assign**: broadcast the k×DIM centroid table against the corpus
      scan; per-vector argmin of squared L2 (window over ``vec_id`` — one
      evenly-keyed shuffle). The fold runs JVM-side via zip_with/aggregate.
    - **update**: :func:`_lloyd_update` keyed by ``cid``.

    Every averaged coordinate and every distance is rounded to ``_R``
    decimals so the DuckDB oracle (same algorithm, unrolled CTEs) lands on
    bit-identical centroids — float reduction order differs between
    engines, rounding absorbs it.

    Callers pass the TRAINING SET — the registered IVF query hands in
    :func:`train_sample` (a content-addressed 1/4 sample), the 100 TB
    posture made real: k-means needs representativeness, not the corpus.
    ``iters`` chained plans deepen lineage, so checkpoint between
    iterations past ~10. The plan per iteration is broadcast-join →
    window argmin → explode+agg: no driver-side state.
    """
    # Parallelize per-iteration work above 1-split scans — fold path only
    # (r11, measured): the kernel path runs one collect JOB per iteration
    # and cross-job shuffle output is not reused, so a repartition here
    # would be re-paid by every collect (dedup_semantic_pairs regressed
    # 6.6 s → ~10 s with it); the fold path evaluates everything inside
    # one query where the exchange is planned once. ``n_rows`` (the
    # caller's training-set row bound) sizes the spread — see tables.spread.
    if not kernel:
        emb = spread(emb, "vec_id", n_rows=n_rows)
    seeds = (
        emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("ce"),
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(k)
    )
    # cid = hash-order rank of the seed; the window runs over k rows only
    cent = seeds.withColumn(
        "cid",
        (F.row_number().over(Window.orderBy("h", "vec_id")) - 1).cast("int"),
    ).select("cid", "ce")
    w = Window.partitionBy("vec_id").orderBy("d", "cid")
    for _ in range(iters):
        if kernel:
            # corpus-derived k (SemDeDup): the fold path's O(n·k) 64-step
            # folds dominate; the Arrow matmul kernel assigns per batch.
            # Same rounded distances and tie rule (up to the
            # expansion-form float caveat in _nearest), same means.
            asn = _kernel_assign(emb, cent).select(
                "vec_id",
                F.transform("embedding", lambda x: x.cast("double")).alias("xe"),
                F.col("cell").alias("cid"),
            )
        else:
            asn = (
                emb.select(
                    "vec_id",
                    F.transform("embedding", lambda x: x.cast("double")).alias("xe"),
                )
                .crossJoin(F.broadcast(cent))
                .select(
                    "vec_id",
                    "xe",
                    "cid",
                    F.round(sqdist(F.col("xe"), F.col("ce")), _R).alias("d"),
                )
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
            )
        cent = _lloyd_update(cent, asn, "xe", "cid")
        # Lineage cut per Lloyd iteration — FOLD PATH ONLY (r11, both
        # directions measured at sf1): the fold path broadcasts cent_t
        # in-plan, so each iteration's broadcast build re-executes
        # iterations 1..t without a cut (similarity_ivf_topk isolated
        # median 11.3 s → 7.6 s with the cut). The kernel path instead
        # collect()s cent per iteration and those replays already reuse
        # the prior iterations' shuffle outputs — adding the checkpoint
        # there only inserts block-materialization work between the
        # per-iteration jobs (dedup_semantic_pairs 6.6 s plain vs 10.0 s
        # checkpointed). The frame is model-sized (k rows) either way.
        if not kernel:
            cent = cut(cent)
    return cent


def _kmeans_ctes(
    k: int = N_CENTROIDS,
    iters: int = KMEANS_ITERS,
    limit_expr: str | None = None,
    train_pred: str = "",
) -> str:
    """The DuckDB twin of :func:`kmeans_centroids`: Lloyd iterations
    unrolled as chained CTEs over a long-form (cid, i, ci) centroid table.
    Ends by defining ``centf`` = the trained centroids. ``limit_expr``
    overrides the seed LIMIT with a SQL expression (e.g. a scalar-subquery
    knob CTE) — only the seed count depends on k, the iteration CTEs are
    k-free, so a corpus-derived k needs no structural change.
    ``train_pred`` appends an extra predicate to the training-set filter
    (the incremental tier trains on the base slice only)."""
    ctes = [
        f"idx AS (SELECT unnest(range(1, {DIM + 1})) AS i)",
        f"""train AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::INT
          % {TRAIN_SAMPLE_MOD} = 0{train_pred})""",
        f"""seeds AS (
  SELECT vec_id,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cid
  FROM train
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {limit_expr or k})""",
        """cent0 AS (
  SELECT CAST(s.cid AS INT) AS cid, x.i, CAST(e.embedding[x.i] AS DOUBLE) AS ci
  FROM seeds s JOIN train e USING (vec_id), idx x)""",
    ]
    for t in range(1, iters + 1):
        p = t - 1
        ctes.append(f"""d{t} AS (
  SELECT e.vec_id, c.cid,
         round(sum(pow(CAST(e.embedding[c.i] AS DOUBLE) - c.ci, 2)), {_R}) AS d
  FROM train e JOIN cent{p} c ON true GROUP BY e.vec_id, c.cid)""")
        ctes.append(f"""a{t} AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY d, cid) AS rn FROM d{t}
  ) WHERE rn = 1)""")
        ctes.append(f"""m{t} AS (
  SELECT a.cell AS cid, x.i, round(avg(CAST(e.embedding[x.i] AS DOUBLE)), {_R}) AS mi
  FROM a{t} a JOIN train e ON e.vec_id = a.vec_id, idx x GROUP BY 1, 2)""")
        ctes.append(f"""cent{t} AS (
  SELECT p.cid, p.i, coalesce(m.mi, p.ci) AS ci
  FROM cent{p} p LEFT JOIN m{t} m ON m.cid = p.cid AND m.i = p.i)""")
    ctes.append(f"centf AS (SELECT cid, i, ci FROM cent{iters})")
    return ",\n".join(ctes)


_IVF_ORACLE_SQL = (
    "WITH "
    + _kmeans_ctes()
    + f""",
cand AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {IVF_Q_HI}),
q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
      WHERE vec_id >= {IVF_Q_LO} AND vec_id < {IVF_Q_HI}),
ad AS (
  SELECT e.vec_id, c.cid,
         round(sum(pow(CAST(e.embedding[c.i] AS DOUBLE) - c.ci, 2)), {_R}) AS d
  FROM cand e JOIN centf c ON true GROUP BY e.vec_id, c.cid
), asn AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY d, cid) AS rn FROM ad
  ) WHERE rn = 1
), qd AS (
  SELECT p.qid, c.cid,
         round(sum(pow(CAST(p.qe[c.i] AS DOUBLE) - c.ci, 2)), {_R}) AS d
  FROM q p JOIN centf c ON true GROUP BY p.qid, c.cid
), probe AS (
  SELECT qid, cid AS cell FROM (
    SELECT qid, cid, row_number() OVER (PARTITION BY qid
                                        ORDER BY d, cid) AS rn FROM qd
  ) WHERE rn <= {N_PROBE}
), pairs AS (
  SELECT p.qid, a.vec_id AS cand_id FROM probe p JOIN asn a ON p.cell = a.cell
), scored AS (
  SELECT pr.qid, pr.cand_id,
         round({_cosine_sql('eq.embedding', 'ec.embedding')}, 6) AS cosine
  FROM pairs pr
  JOIN embeddings eq ON eq.vec_id = pr.qid
  JOIN embeddings ec ON ec.vec_id = pr.cand_id, idx
  GROUP BY pr.qid, pr.cand_id
)
SELECT qid, cand_id, cosine, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cosine DESC, cand_id) AS rnk
  FROM scored
) WHERE rnk <= {TOP_K}
"""
)


def _l2_to_centroid(a: str) -> Column:
    """Rounded squared L2 of the float array ``a`` to the centroid ``ce``
    (the oracles' ``round(sum(pow(x − c, 2)), _R)``)."""
    return F.round(
        sqdist(F.transform(a, lambda x: x.cast("double")), F.col("ce")), _R
    )


def _ivf_assign(e: DataFrame, cent: DataFrame, n_emb: int, *carry: str) -> DataFrame:
    """Every IVF candidate (``vec_id >= IVF_Q_HI``) in its nearest cell:
    the tiny centroid table broadcast against the candidate scan, then a
    per-vector argmin (window rank over vec_id, an evenly-keyed shuffle).
    Returns ``(vec_id, *carry, cell)``."""
    w_vec = Window.partitionBy("vec_id").orderBy("d", "cid")
    return (
        spread(e.where(F.col("vec_id") >= IVF_Q_HI), "vec_id", n_rows=n_emb)
        .crossJoin(F.broadcast(cent))
        .select("vec_id", *carry, "cid", _l2_to_centroid("embedding").alias("d"))
        .withColumn("rn", F.row_number().over(w_vec))
        .where(F.col("rn") == 1)
        .select("vec_id", *carry, F.col("cid").alias("cell"))
    )


def _ivf_probe(e: DataFrame, cent: DataFrame) -> DataFrame:
    """The IVF query batch (``vec_id`` in ``[IVF_Q_LO, IVF_Q_HI)``) with the
    :data:`N_PROBE` cells nearest each query: ``(qid, qe, cell)``, one row
    per probed cell (same metric and tie rule as the quantizer)."""
    q = e.where(
        (F.col("vec_id") >= IVF_Q_LO) & (F.col("vec_id") < IVF_Q_HI)
    ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    w_q = Window.partitionBy("qid").orderBy("d", "cid")
    return (
        q.crossJoin(F.broadcast(cent))
        .select("qid", "qe", "cid", _l2_to_centroid("qe").alias("d"))
        .withColumn("rn", F.row_number().over(w_q))
        .where(F.col("rn") <= N_PROBE)
        .select("qid", "qe", F.col("cid").alias("cell"))
    )


@register(
    "similarity_ivf_topk",
    _IVF_ORACLE_SQL,
    doc="IVF ANN with a TRAINED coarse quantizer: Lloyd's k-means as "
    "DataFrame ops, assign candidates to cells, probe the query's nearest "
    "cells, exact top-k inside probed cells only",
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-file ANN with a quantizer trained by :func:`kmeans_centroids`
    (Lloyd's iterations as DataFrame ops; the oracle runs the identical
    algorithm as unrolled CTEs, so centroids — and therefore cells, probes
    and results — are bit-equal cross-engine):

    1. every candidate is assigned to its nearest cell — a broadcast of the
       tiny trained-centroid table against the candidate scan, then a
       per-vector argmin (window rank over vec_id, an evenly-keyed shuffle);
    2. each query probes its N_PROBE nearest cells (same metric as the
       quantizer: squared L2);
    3. exact cosine + top-k runs only on candidates in probed cells —
       at scale this is the 1/(cells/probes) fraction of the corpus, the
       whole point of IVF.

    Probed queries (a handful of rows) broadcast into the assignment scan, so
    the big side never shuffles on the skewed cell key."""

    e = table(spark, sf_dir, "embeddings")
    n_emb = corpus_count(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(train_sample(e), n_rows=n_emb // TRAIN_SAMPLE_MOD)
    asn = _ivf_assign(e, cent, n_emb, "embedding")
    scored = (
        asn.join(F.broadcast(_ivf_probe(e, cent)), "cell")
        .select(
            "qid",
            F.col("vec_id").alias("cand_id"),
            F.round(cosine(F.col("qe"), F.col("embedding")), 6).alias("cosine"),
        )
    )
    return _top_k(scored, TOP_K, F.desc("cosine"), "cand_id").select(
        "qid", "cand_id", "cosine", "rnk"
    )


# --- embedding-cosine near-dedup ------------------------------------------

DEDUP_COS_THRESHOLD = 0.4


@register(
    "dedup_embedding_cosine",
    "WITH "
    + _PLANES_SQL
    + f"""
, pexpl AS (
  SELECT p.vec_a, p.vec_b,
         sum(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS dp,
         sum(CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)) AS na,
         sum(CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS nb
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.vec_a
  JOIN embeddings eb ON eb.vec_id = p.vec_b,
  (SELECT unnest(range(1, {DIM + 1})) AS i)
  GROUP BY 1, 2
)
SELECT DISTINCT vec_b AS dropped_vec_id
FROM pexpl
WHERE dp / (sqrt(na) * sqrt(nb)) >= {DEDUP_COS_THRESHOLD}
""",
    doc="embedding-cosine near-dedup: LSH candidates → exact cosine ≥ "
    f"{DEDUP_COS_THRESHOLD} → drop the higher id of each near-dup pair",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate removal over embeddings: LSH buckets bound the
    candidate set (no all-pairs), exact cosine confirms, and the KEEP rule
    is deterministic — the lower vec_id of each confirmed pair survives, so
    the result is the distinct set of dropped ids. This composes with
    ``documents`` joins for text-level corpus dedup at 100 TB: banded bucket
    join → rescore → anti-join the dropped ids against the corpus."""
    return (
        _lsh_rescored(spark, sf_dir, DEDUP_COS_THRESHOLD)
        .select(F.col("vec_b").alias("dropped_vec_id"))
        .distinct()
    )


# --- SemDeDup: k-means-cell-gated semantic near-dedup ----------------------

#: target expected cell population for the SemDeDup quantizer — the cell
#: count k is DERIVED from the corpus count (r9 knob discipline, lsh_r
#: style): k(n) = max(N_CENTROIDS, ceil(n / SEM_CELL_TARGET)), so the
#: within-cell pair join's per-key fan-out stays ~SEM_CELL_TARGET² at ANY
#: corpus size instead of degrading quadratically under a fixed k.
SEM_CELL_TARGET = 64
#: cosine threshold above which two same-cell vectors are semantic dups
SEM_COS_T = 0.4


def _sem_k(n_vectors: int) -> int:
    return max(N_CENTROIDS, (n_vectors + SEM_CELL_TARGET - 1) // SEM_CELL_TARGET)


_SEM_KNOB_SQL = f"""WITH sknob AS (
  SELECT greatest({N_CENTROIDS},
                  (count(*) + {SEM_CELL_TARGET - 1}) // {SEM_CELL_TARGET}) AS k
  FROM embeddings
),
"""

#: the pair + scoring tail shared by the flat and hierarchical SemDeDup
#: oracles: expects an ``asn(vec_id, cell, d)`` CTE upstream
_SEM_PAIRS_TAIL_SQL = f""", prs AS (
  SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
         a.d AS da, b.d AS db
  FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
), cosd AS (
  SELECT p.cell, p.vec_a, p.vec_b, p.da, p.db,
         round({_cosine_sql('ea.embedding', 'eb.embedding')}, 6) AS cosine
  FROM prs p
  JOIN embeddings ea ON ea.vec_id = p.vec_a
  JOIN embeddings eb ON eb.vec_id = p.vec_b, idx
  GROUP BY p.cell, p.vec_a, p.vec_b, p.da, p.db
)
SELECT CAST(cell AS INT) AS cell, vec_a, vec_b, cosine,
       CASE WHEN da < db THEN vec_a
            WHEN db < da THEN vec_b
            ELSE greatest(vec_a, vec_b) END AS drop_id
FROM cosd WHERE cosine >= {SEM_COS_T}
"""

_SEMDEDUP_ORACLE = (
    _SEM_KNOB_SQL
    + _kmeans_ctes(limit_expr="(SELECT k FROM sknob)")
    + f""",
ad AS (
  SELECT e.vec_id, c.cid,
         round(sum(pow(CAST(e.embedding[c.i] AS DOUBLE) - c.ci, 2)), {_R}) AS d
  FROM embeddings e JOIN centf c ON true GROUP BY e.vec_id, c.cid
), asn AS (
  SELECT vec_id, cid AS cell, d FROM (
    SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY d, cid) AS rn FROM ad
  ) WHERE rn = 1
)"""
    + _SEM_PAIRS_TAIL_SQL
)


@register(
    "dedup_semantic_pairs",
    _SEMDEDUP_ORACLE,
    doc="SemDeDup semantic near-dedup: k-means cells (k corpus-derived) "
    "gate the pair join, exact cosine inside cells only, drop the member "
    "closer to its centroid (the more typical one — diversity-preserving)",
)
def dedup_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): semantic near-duplicates
    are found by clustering embeddings with k-means and comparing pairs
    ONLY within a cell — the cluster plays the role LSH bands play for
    MinHash, but in embedding space, so paraphrases land in the same cell
    even when no token shingle is shared. Within a cell, pairs above
    :data:`SEM_COS_T` cosine are dups; the DROPPED member is the one
    CLOSER to the cell centroid (squared-L2 ``d`` from the assignment,
    rounded to the shared ``_R`` decimals; ties drop the higher vec_id) —
    the paper's diversity-preserving rule: keep the atypical example,
    shed the redundant typical one.

    Self-bounding (r9 knob discipline): the cell count is DERIVED from
    the corpus count — ``k(n) = max(N_CENTROIDS, ceil(n /``
    :data:`SEM_CELL_TARGET```))`` — in both engines (Spark:
    :func:`_sem_k` over the cached count; oracle: the ``sknob`` scalar
    CTE feeding the seed LIMIT), so expected cell population and
    therefore per-key pair fan-out stay ~constant at any scale factor.

    Scale shape: the quantizer trains on the content-addressed 1/4
    sample; assignment broadcasts the k×DIM centroid table against one
    corpus scan (at k beyond broadcast size — ~10^6 cells — the
    two-level coarse quantizer is REAL: `dedup_semantic_pairs_hier`
    executes the probed-shard gather); the pair join is a cell
    equi-join with bounded fan-out,
    never all-pairs; exact cosine runs on candidates only. One shuffle
    on the cell key, one on vec_id for the assignment argmin.

    Reference analog: none (extension surface — dedup family, the
    embedding-space sibling of ``dedup_minhash_lsh_pairs``; complements
    ``dedup_embedding_cosine``'s hyperplane-LSH retrieval with the
    cluster-gated formulation whose keep/drop rule is centroid-aware).
    """

    e = table(spark, sf_dir, "embeddings")
    k = _sem_k(corpus_count(spark, sf_dir, "embeddings"))
    # corpus-derived k makes the fold-based crossJoin assignment O(n·k)
    # Catalyst folds (112 s at sf1) — train and assign via the Arrow
    # matmul kernel instead (see _kernel_assign; same rounded distances
    # and tie rule up to the expansion-form float caveat in _nearest)
    cent = kmeans_centroids(train_sample(e), k=k, kernel=True)
    return _pairs_from_assignment(_kernel_assign(e, cent))


def _cell_pairs(pdf):
    """Per-cell all-pairs cosine + the centroid-typicality drop rule as
    one Gram matmul — the SemDeDup pair kernel, shared by the flat and
    hierarchical tiers. The cell-size knob bounds the group to
    ~SEM_CELL_TARGET members, so each group is ~0.3 MFLOP and cell²·8 B
    (the fold-based cell self-join this replaced measured 15 s at sf1;
    this form ~3 s)."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    n = len(pdf)
    if n < 2:
        return pd.DataFrame(
            {"cell": [], "vec_a": [], "vec_b": [], "cosine": [], "drop_id": []}
        ).astype(
            {"cell": "int32", "vec_a": "int64", "vec_b": "int64",
             "cosine": "float64", "drop_id": "int64"}
        )
    X = np.array(list(pdf["embedding"]), dtype=np.float64)
    nrm = np.sqrt((X * X).sum(axis=1))
    G = np.round((X @ X.T) / np.outer(nrm, nrm), 6)
    ii, jj = np.triu_indices(n, k=1)
    keep = G[ii, jj] >= SEM_COS_T
    ii, jj = ii[keep], jj[keep]
    ids = pdf["vec_id"].to_numpy()
    da, db = pdf["d"].to_numpy()[ii], pdf["d"].to_numpy()[jj]
    drop = np.where(
        da < db, ids[ii], np.where(db < da, ids[jj], np.maximum(ids[ii], ids[jj]))
    )
    return pd.DataFrame(
        {
            "cell": np.full(len(ii), pdf["cell"].iloc[0], dtype=np.int32),
            "vec_a": ids[ii],
            "vec_b": ids[jj],
            "cosine": G[ii, jj],
            "drop_id": drop,
        }
    )


def _pairs_from_assignment(asn: DataFrame) -> DataFrame:
    """groupBy(cell) → :func:`_cell_pairs`; one shuffle on the cell key."""
    return asn.groupBy("cell").applyInPandas(
        _cell_pairs,
        schema="cell int, vec_a long, vec_b long, cosine double, drop_id long",
    )


#: epsilon-overlap boundary band (relative): a vector whose 2nd-nearest
#: cell is within SEM_EPS_FRAC·d1 of its nearest ALSO joins that 2nd cell
#: for the pair stage — closing the quantizer's boundary blind spot (pairs
#: whose members straddle a cell border are invisible to the flat tier).
#: Relative, so it is norm-scale-free; 0.02 admits ~20-30% of vectors to a
#: second cell on the fixtures (pair fan-out grows ~1.5x, still bounded by
#: the cell-size knob).
SEM_EPS_FRAC = 0.02

_SEM_OVERLAP_ORACLE = (
    _SEM_KNOB_SQL
    + _kmeans_ctes(limit_expr="(SELECT k FROM sknob)")
    + f""",
ad AS (
  SELECT e.vec_id, c.cid,
         round(sum(pow(CAST(e.embedding[c.i] AS DOUBLE) - c.ci, 2)), {_R}) AS d
  FROM embeddings e JOIN centf c ON true GROUP BY e.vec_id, c.cid
), r2 AS (
  SELECT vec_id, cid, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
  FROM ad
), pv AS (
  SELECT vec_id, max(CASE WHEN rn = 1 THEN d END) AS d1
  FROM r2 WHERE rn = 1 GROUP BY vec_id
), asn AS (
  SELECT r.vec_id, r.cid AS cell, r.d
  FROM r2 r JOIN pv p ON p.vec_id = r.vec_id
  WHERE r.rn = 1
     OR (r.rn = 2 AND r.d - p.d1 <= {SEM_EPS_FRAC} * p.d1)
)"""
    + _SEM_PAIRS_TAIL_SQL
)


@register(
    "dedup_semantic_pairs_overlap",
    _SEM_OVERLAP_ORACLE,
    doc="SemDeDup epsilon-overlap boundary pass: vectors within a "
    f"{SEM_EPS_FRAC:g}-relative margin of their 2nd-nearest cell join "
    "both cells for the pair stage, recovering near-dup pairs that "
    "straddle a cell border (the quantizer blind spot the cell-quality "
    "audit measures)",
)
def dedup_semantic_pairs_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boundary-closing tier of :func:`dedup_semantic_pairs` (r9
    VERDICT ask #3): the flat tier compares pairs ONLY within a cell, so
    a near-dup pair whose members land in adjacent cells is invisible —
    the exact blind spot `similarity_semantic_cell_quality` measures as
    low ``mean_margin`` cells, and the reason borderline pairs fell to
    ~0.6 hier/flat agreement on the near-uniform fixtures. This pass
    gives every vector a SECOND membership in its 2nd-nearest cell when
    the rounded-distance margin is within :data:`SEM_EPS_FRAC` (relative
    — norm-scale-free), then runs the identical per-cell pair stage over
    the expanded membership: a straddling pair now co-occurs in at least
    one cell whenever either member sits in the epsilon band. Pairs that
    co-occur in BOTH cells emit one row per cell (cell is part of the
    output key; both engines agree). Planted boundary-dup recall —
    pairs planted astride trained-centroid midpoints, missed by the flat
    tier — is measured in
    ``tests/test_recall.py::test_overlap_recovers_planted_boundary_dups``.

    Scale shape: identical to the flat tier plus the overflow rows
    (~20-30% more assignment rows on the fixtures, bounded by 2× by
    construction): one kernel scan, one cell-keyed shuffle with the same
    ~SEM_CELL_TARGET-bounded fan-out, never all-pairs.

    Reference analog: none (extension surface — dedup family; the
    epsilon-overlap companion the SemDeDup paper's cluster-gating
    trades away, here as its own oracle-replayed tier).
    """

    e = table(spark, sf_dir, "embeddings")
    k = _sem_k(corpus_count(spark, sf_dir, "embeddings"))
    cent = kmeans_centroids(train_sample(e), k=k, kernel=True)
    return _pairs_from_assignment(_kernel_assign(e, cent, overlap=True))


_SEM_INCR_ORACLE = (
    _SEM_KNOB_SQL
    + _kmeans_ctes(
        limit_expr="(SELECT k FROM sknob)", train_pred=" AND vec_id % 4 <> 0"
    )
    + f""",
ad AS (
  SELECT e.vec_id, c.cid,
         round(sum(pow(CAST(e.embedding[c.i] AS DOUBLE) - c.ci, 2)), {_R}) AS d
  FROM embeddings e JOIN centf c ON true GROUP BY e.vec_id, c.cid
), asn AS (
  SELECT vec_id, cid AS cell, d FROM (
    SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY d, cid) AS rn FROM ad
  ) WHERE rn = 1
), prs AS (
  SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
         a.d AS da, b.d AS db
  FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE a.vec_id % 4 = 0 OR b.vec_id % 4 = 0
), cosd AS (
  SELECT p.cell, p.vec_a, p.vec_b, p.da, p.db,
         round({_cosine_sql('ea.embedding', 'eb.embedding')}, 6) AS cosine
  FROM prs p
  JOIN embeddings ea ON ea.vec_id = p.vec_a
  JOIN embeddings eb ON eb.vec_id = p.vec_b, idx
  GROUP BY p.cell, p.vec_a, p.vec_b, p.da, p.db
)
SELECT CAST(cell AS INT) AS cell, vec_a, vec_b, cosine,
       CASE WHEN da < db THEN vec_a
            WHEN db < da THEN vec_b
            ELSE greatest(vec_a, vec_b) END AS drop_id
FROM cosd WHERE cosine >= {SEM_COS_T}
"""
)


def _cell_pairs_batch(pdf):
    """Per-cell pair kernel for the INCREMENTAL SemDeDup tier: only pairs
    touching a batch member are scored, via a B×N Gram (batch rows ×
    all members) instead of the full N×N — per-cell work scales with the
    batch share, not the corpus. Batch-batch pairs appear twice in B×N;
    the id order dedupes them. Same cosine rounding, threshold and
    centroid-typicality drop rule as :func:`_cell_pairs`."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {"cell": [], "vec_a": [], "vec_b": [], "cosine": [], "drop_id": []}
    ).astype(
        {"cell": "int32", "vec_a": "int64", "vec_b": "int64",
         "cosine": "float64", "drop_id": "int64"}
    )
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    n = len(pdf)
    ids = pdf["vec_id"].to_numpy()
    isb = ids % BATCH_MOD == 0
    bpos = np.flatnonzero(isb)
    if n < 2 or len(bpos) == 0:
        return empty
    X = np.array(list(pdf["embedding"]), dtype=np.float64)
    nrm = np.sqrt((X * X).sum(axis=1))
    G = np.round((X[bpos] @ X.T) / np.outer(nrm[bpos], nrm), 6)
    bi = np.repeat(bpos, n)
    jj = np.tile(np.arange(n), len(bpos))
    keep = (
        (G.ravel() >= SEM_COS_T)
        & (bi != jj)
        # batch-batch pairs show up from both rows: keep the id_i < id_j copy
        & (~isb[jj] | (ids[bi] < ids[jj]))
    )
    bi, jj = bi[keep], jj[keep]
    if len(bi) == 0:
        return empty
    lo, hi = np.minimum(bi, jj), np.maximum(bi, jj)  # ids ascend with index
    da, db = pdf["d"].to_numpy()[lo], pdf["d"].to_numpy()[hi]
    drop = np.where(
        da < db, ids[lo], np.where(db < da, ids[hi], np.maximum(ids[lo], ids[hi]))
    )
    return pd.DataFrame(
        {
            "cell": np.full(len(lo), pdf["cell"].iloc[0], dtype=np.int32),
            "vec_a": ids[lo],
            "vec_b": ids[hi],
            "cosine": G[np.searchsorted(bpos, bi), jj],
            "drop_id": drop,
        }
    )


@register(
    "dedup_semantic_incremental",
    _SEM_INCR_ORACLE,
    doc="incremental SemDeDup: batch vectors assign against the PUBLISHED "
    "centroid model (trained on the base slice only, never retrained) and "
    "pair only within their cell against published base winners and each "
    "other — the admit gate the minhash/simhash/winnowing families "
    "already have, in embedding space",
)
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental tier of :func:`dedup_semantic_pairs` (r9 VERDICT
    ask #5), completing the incremental matrix the other dedup families
    already have (`dedup_exact_incremental`, `dedup_minhash_incremental`,
    `dedup_simhash_incremental`, `dedup_winnowing_incremental`): the
    quantizer is trained ONCE on the base corpus (``vec_id % 4 != 0``
    stands in) and PUBLISHED through stage→audit→atomic-publish together
    with the base assignment table; an incoming batch (``% 4 == 0``)
    assigns against the published k×DIM model — one Arrow kernel scan of
    the batch, no retraining, the corpus never re-assigned — and pairs
    only within its cells, against the published members and its own
    same-cell batchmates (the B×N kernel: per-cell work scales with the
    batch share, never the full cell²). Output schema and rules are the
    flat tier's; only pairs touching the batch are emitted, which is the
    incremental contract (base-base pairs were the train tier's output).

    The cell-count knob stays derived from the FULL corpus count (the
    footer count, same as the flat tier) so the two tiers share one
    density discipline; both engines compute it identically.

    Scale shape: published-model read (k rows) + batch kernel scan + one
    cell-keyed shuffle of (batch ∪ same-cell base members) with
    ~SEM_CELL_TARGET-bounded fan-out — "same-cell" enforced BEFORE the
    exchange by a broadcast semi-join of the published base assignment on
    the batch's distinct cells (r11), so a batch touching 3 cells ships 3
    cells' base members, never the corpus. Batch cost is strictly below the
    train tier: no k-means iterations, no corpus re-assignment, B×N
    pair work instead of N².

    Reference analog: none (extension surface — the incremental
    discipline of dedup.py:205 applied to the SemDeDup family).
    """
    from ufload_spark.sources.loader import memo_read

    e = table(spark, sf_dir, "embeddings")
    k = _sem_k(corpus_count(spark, sf_dir, "embeddings"))
    base = e.where(~in_batch("vec_id"))
    cent = memo_read(
        spark,
        "sem_centroids",
        sf_dir,
        lambda: kmeans_centroids(train_sample(base), k=k, kernel=True),
    )
    base_asn = memo_read(
        spark,
        "sem_base_asn",
        sf_dir,
        lambda: _kernel_assign(base, cent),
    )
    batch_asn = _kernel_assign(e.where(in_batch("vec_id")), cent)
    # Scope the base side to the BATCH's cells before the cell-keyed
    # shuffle (r10 VERDICT ask #1): base cells the batch never touches can
    # only feed kernels that return empty (every emitted pair involves a
    # batch row), so semi-joining the published assignment on the batch's
    # distinct cells drops their rows BEFORE the exchange — per-batch
    # shuffle bytes scale with the batch's cell footprint, not the corpus
    # (the key-scoped probe discipline of dedup_minhash_incremental,
    # dedup.py). The cell list is ≤ min(|batch|, k) rows, broadcast; the
    # batch kernel runs twice (once under the broadcast build, once in the
    # union) — both scans are batch-sized, strictly cheaper than shipping
    # every base cell through the shuffle.
    batch_cells = batch_asn.select("cell").distinct()
    base_touched = base_asn.join(F.broadcast(batch_cells), "cell", "left_semi")
    union = base_touched.select("vec_id", "embedding", "cell", "d").unionByName(
        batch_asn.select("vec_id", "embedding", "cell", "d")
    )
    return union.groupBy("cell").applyInPandas(
        _cell_pairs_batch,
        schema="cell int, vec_a long, vec_b long, cosine double, drop_id long",
    )


#: hierarchical tier: coarse pivots probed per vector before the fine
#: argmin — SEM_PROBE2 nearest pivots' fine-cell groups are the candidate
#: set. k2 = max(4, ceil(sqrt(k))) pivots keeps both levels ~sqrt(k)-sized.
SEM_PROBE2 = 2


def _sem_k2(k: int) -> int:
    import math

    return max(4, math.ceil(math.sqrt(k)))


def _hier_pivots(cids, k: int):
    """Pivot selection shared with the hier oracle's ``k2knob``/``pivots``
    CTEs: order the TRAINED (surviving) cids by ``(md5(cid), cid)``, take
    the first ``_sem_k2(k)`` — k2 derived from the corpus-knob k, exactly
    like the oracle's ``ceil(sqrt(k)) FROM sknob``, never from the
    survivor count — and return their positions in ascending-cid order.
    Since r11 this is the TEST-SIDE reference of the rule: production
    (`_hier_assignment`) runs the same ORDER BY md5(cid), cid LIMIT k2 as
    a Spark top-k over the published model and collects only the k2
    pivot rows; `test_hier_spark_pivot_selection_matches_rule` pins the
    two against each other, and the DuckDB-replica test pins this
    function in the survivor<k regime."""
    import hashlib

    import numpy as np

    k2 = _sem_k2(k)
    by_hash = sorted(
        range(len(cids)),
        key=lambda i: (hashlib.md5(str(cids[i]).encode()).hexdigest(), cids[i]),
    )
    return np.array(sorted(by_hash[:k2], key=lambda i: cids[i]))


_SEMDEDUP_HIER_ORACLE = (
    _SEM_KNOB_SQL
    + _kmeans_ctes(limit_expr="(SELECT k FROM sknob)")
    + f""",
k2knob AS (
  SELECT greatest(4, CAST(ceil(sqrt(k)) AS INT)) AS k2 FROM sknob
), fids AS (SELECT DISTINCT cid FROM centf),
pivots AS (
  SELECT cid AS pcid FROM fids
  ORDER BY md5(CAST(cid AS VARCHAR)), cid LIMIT (SELECT k2 FROM k2knob)
), cpd AS (
  SELECT a.cid AS fcid, p.pcid,
         round(sum(pow(a.ci - b.ci, 2)), {_R}) AS d
  FROM centf a
  JOIN pivots p ON true
  JOIN centf b ON b.cid = p.pcid AND b.i = a.i
  GROUP BY a.cid, p.pcid
), f2c AS (
  SELECT fcid, pcid FROM (
    SELECT fcid, pcid,
           row_number() OVER (PARTITION BY fcid ORDER BY d, pcid) AS rn
    FROM cpd) WHERE rn = 1
), vpd AS (
  SELECT e.vec_id, c.cid AS pcid,
         round(sum(pow(CAST(e.embedding[c.i] AS DOUBLE) - c.ci, 2)), {_R}) AS d
  FROM embeddings e
  JOIN centf c ON true
  SEMI JOIN pivots ON c.cid = pivots.pcid
  GROUP BY e.vec_id, c.cid
), probe AS (
  SELECT vec_id, pcid FROM (
    SELECT vec_id, pcid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, pcid) AS rn
    FROM vpd) WHERE rn <= {SEM_PROBE2}
), cand AS (
  SELECT pr.vec_id, f.fcid FROM probe pr JOIN f2c f ON f.pcid = pr.pcid
), vfd AS (
  SELECT e.vec_id, c.cid,
         round(sum(pow(CAST(e.embedding[c.i] AS DOUBLE) - c.ci, 2)), {_R}) AS d
  FROM embeddings e
  JOIN cand ca ON ca.vec_id = e.vec_id
  JOIN centf c ON c.cid = ca.fcid
  GROUP BY e.vec_id, c.cid
), asn AS (
  SELECT vec_id, cid AS cell, d FROM (
    SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY d, cid) AS rn FROM vfd
  ) WHERE rn = 1
)"""
    + _SEM_PAIRS_TAIL_SQL
)


@register(
    "dedup_semantic_pairs_hier",
    _SEMDEDUP_HIER_ORACLE,
    doc="hierarchical SemDeDup: two-level quantizer probe — nearest "
    f"{SEM_PROBE2} of ~sqrt(k) coarse pivots gate the fine argmin, so "
    "per-vector assignment work is O(sqrt(k)) distances at cluster scale "
    "instead of O(k); pair stage identical to the flat tier",
)
def dedup_semantic_pairs_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-level coarse-quantizer tier of :func:`dedup_semantic_pairs`
    — the IVF-in-IVF ladder the flat tier's docstring names for the
    regime where the corpus-derived k outgrows a shippable model (~10^6
    cells): ``k2 = max(4, ceil(sqrt k))`` coarse PIVOTS (hash-ordered
    fine centroids — sampled pivots, the standard trained-coarse-level
    substitute, deterministic and oracle-expressible), each fine cell
    assigned to its nearest pivot, and each vector probing its
    :data:`SEM_PROBE2` nearest pivots so the fine argmin runs over only
    the probed groups' cells (~2k/k2 = O(√k) candidates). Assignment is
    APPROXIMATE by construction — a boundary vector whose true-nearest
    fine cell hangs under an unprobed pivot lands in its best PROBED
    cell; both engines apply the identical rule, and the planted-dup
    recall test measures what the approximation costs: on the planted
    ~0.96-0.999-cosine TRUE dups the hier tier matches the flat tier
    exactly (0.96 recall both — near-identical vectors co-probe), while
    borderline ~threshold random pairs on the worst-case near-uniform
    fixtures drop to ~0.6 agreement (the quantized-topk fixture caveat;
    real clustered embeddings sit between).

    The probed-shard path is EXECUTED, not simulated (r10 — the r9
    kernel computed the full n×k distance matrix and masked
    non-candidates, which at 10^6 cells is exactly what is impossible):
    the probe pass ships only the k2×DIM pivot matrix via closure; the
    fine centroids travel as a k-row DATAFRAME sharded by pivot, joined
    to the distinct probe tuples and cogrouped with the vectors on
    (p1, p2, salt) — so each kernel group receives exactly its two
    probed shards' centroid rows (per-group centroid bytes =
    |shard(p1)|+|shard(p2)| ≈ 2k/k2 = O(√k) rows, never k; pinned by
    ``test_hier_gather_ships_probed_shards_not_k``). The ``salt`` key
    (:data:`SEM_SALT` sub-groups per tuple, centroid side replicated)
    bounds the vector group a skewed probe tuple could otherwise
    accumulate. Vectors whose probed shards are all empty (possible only
    under duplicate trained centroids) drop out of the assignment, which
    is the oracle's behavior too (its ``cand`` CTE is empty for them).

    Reference analog: none (extension surface — dedup family; the r9
    "make the stated fallback real" discipline applied to SemDeDup's
    own scaling caveat, as `graph_pagerank_bucketed` did for the graph
    family).
    """
    asn, _cand = _hier_assignment(spark, sf_dir)
    return _pairs_from_assignment(asn)


#: sub-groups per probe tuple in the hier gather: a skewed tuple's vectors
#: split across SEM_SALT cogroup keys (centroid side replicated per salt),
#: so no single applyInPandas group accumulates an unbounded vector set
SEM_SALT = 4


def _hier_assignment(spark: SparkSession, sf_dir: str):
    """The hier tier's two-level assignment as (asn, cand): ``asn`` is the
    (vec_id, embedding, cell, d) frame the pair stage consumes, ``cand``
    the per-probe-tuple candidate-centroid frame (exposed so the shard
    pin test can measure what each kernel group is shipped)."""
    import numpy as np
    import pandas as pd

    from ufload_spark.sources.loader import memo_read

    e = table(spark, sf_dir, "embeddings")
    k = _sem_k(corpus_count(spark, sf_dir, "embeddings"))
    # The trained model is PUBLISHED (stage→audit→publish, the incremental
    # tier's pattern) and stays a DataFrame end to end: this tier exists
    # for the ~10^6-cell regime where the k-row model must never pass
    # through the driver (r10 VERDICT ask #2 — the r9 kernel collected all
    # k rows and re-created them as a driver-side DataFrame).
    cent = memo_read(
        spark,
        "hier_centroids",
        sf_dir,
        lambda: kmeans_centroids(train_sample(e), k=k, kernel=True),
    )
    # k2 from the KNOB k, not the survivor count: the oracle's k2knob
    # computes ceil(sqrt(k)) from sknob, and whenever the trained table
    # carries fewer cids than k (train sample < k seeds) a
    # survivor-derived k2 could straddle a ceil(sqrt) boundary and pick a
    # different pivot set than the oracle (r9 ADVICE, medium).
    # tests/test_recall.py::test_hier_pivot_rule_parity_when_cells_die
    # pins the rule; test_hier_spark_pivot_selection_matches_rule pins
    # this Spark expression against it.
    k2 = _sem_k2(k)
    # pivot selection = the oracle's pivots CTE verbatim (ORDER BY
    # md5(cid), cid LIMIT k2), planned as a distributed top-k; ONLY the
    # k2 = O(√k) pivot rows are collected — the pivot matrix is the one
    # piece small enough to ship via closure at this tier's target scale
    P, pc = _centroid_matrix(
        cent.orderBy(F.md5(F.col("cid").cast("string")), "cid").limit(k2)
    )

    # the SEM_PROBE2 = 2 nearest pivots; a model with a single pivot has no
    # second-nearest, so p2 repeats p1 and the vector probes the one pivot
    # that exists — the oracle's probe CTE (no rn = 2 row)
    def probe_fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["embedding"]), dtype=np.float64)
            j1, _, j2, _ = _nearest(X, P, top2=True)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"],
                    "p1": pc[j1],
                    "p2": pc[j1 if j2 is None else j2],
                    "salt": (pdf["vec_id"].to_numpy() % SEM_SALT).astype(
                        "int32"
                    ),
                }
            )

    probes = e.select("vec_id", "embedding").mapInPandas(
        probe_fn,
        schema="vec_id long, embedding array<float>, p1 int, p2 int, salt int",
    )

    # fine cell → its pivot, computed DISTRIBUTED over the published
    # model (argmin of rounded pivot distance, tie → smallest pivot cid —
    # the pc columns are cid-ascending, stable argsort keeps the rule):
    # the shard table a cluster deployment partitions by pivot, derived
    # without ever materializing the k rows on the driver
    def shard_fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            Cb = np.array(list(pdf["ce"]), dtype=np.float64)
            DC = np.round(
                ((Cb[:, None, :] - P[None, :, :]) ** 2).sum(axis=2), _R
            )
            yield pd.DataFrame(
                {
                    "cid": pdf["cid"].to_numpy(),
                    "pivot": pc[np.argsort(DC, axis=1, kind="stable")[:, 0]],
                    "ce": pdf["ce"],
                }
            )

    shardf = cent.mapInPandas(
        shard_fn, schema="cid int, pivot int, ce array<double>"
    )
    # fresh key names on the candidate side: cand derives from probes, and
    # cogrouping a frame with its own derivative on same-named keys trips
    # Catalyst's ambiguous-attribute check
    tuples = probes.select(
        F.col("p1").alias("q1"),
        F.col("p2").alias("q2"),
        F.col("salt").alias("qsalt"),
    ).distinct()
    # tuples×shards as a SHUFFLE join (r10 VERDICT ask #2): both sides
    # hash on the pivot key — the shard side carries ~k/k2 = O(√k) rows
    # per key, the tuple side ≤ k2·SEM_SALT rows per key — so no side is
    # ever collected to the driver or replicated to every executor the
    # way F.broadcast(shardf) was. The shuffle_hash pin keeps the planner
    # from broadcast-building either side when size estimates say it
    # could (the r10 bucketed-tier lesson). Measured at sf1 the rewrite
    # is ~3× FASTER warm (6.1 → 2.0 s, SCALING.md r11) — the k×k2
    # cell→pivot mapping moved off the driver into shard_fn — so there is
    # no small-k broadcast branch to maintain: the shuffle form wins at
    # fixture k already and is the only shape that survives 10^6 cells.
    shardf = shardf.hint("shuffle_hash")
    cand = (
        tuples.join(shardf, tuples.q1 == shardf.pivot)
        .select("q1", "q2", "qsalt", "cid", "ce")
        .unionByName(
            tuples.join(shardf, tuples.q2 == shardf.pivot)
            .select("q1", "q2", "qsalt", "cid", "ce")
        )
    )

    def gather_fn(_key, vec_pdf, cent_pdf):
        if len(vec_pdf) == 0 or len(cent_pdf) == 0:
            # no probed shard carries a centroid → the oracle's cand CTE
            # is empty for these vectors: drop them from the assignment
            return pd.DataFrame(
                {"vec_id": [], "embedding": [], "cell": [], "d": []}
            ).astype({"vec_id": "int64", "cell": "int32", "d": "float64"})
        cent_pdf = cent_pdf.sort_values("cid")  # argmin tie → smallest cid
        Cc = np.array(list(cent_pdf["ce"]), dtype=np.float64)
        cc = cent_pdf["cid"].to_numpy()
        X = np.array(list(vec_pdf["embedding"]), dtype=np.float64)
        j, d, _, _ = _nearest(X, Cc)
        return pd.DataFrame(
            {
                "vec_id": vec_pdf["vec_id"].to_numpy(),
                "embedding": vec_pdf["embedding"],
                "cell": cc[j].astype("int32"),
                "d": d,
            }
        )

    asn = (
        probes.groupBy("p1", "p2", "salt")
        .cogroup(cand.groupBy("q1", "q2", "qsalt"))
        .applyInPandas(
            gather_fn,
            schema="vec_id long, embedding array<float>, cell int, d double",
        )
    )
    return asn, cand


_SEM_QUALITY_ORACLE = (
    f"""WITH sknob AS (
  SELECT greatest({N_CENTROIDS},
                  (count(*) + {SEM_CELL_TARGET - 1}) // {SEM_CELL_TARGET}) AS k
  FROM embeddings
),
"""
    + _kmeans_ctes(limit_expr="(SELECT k FROM sknob)")
    + f""",
ad AS (
  SELECT e.vec_id, c.cid,
         round(sum(pow(CAST(e.embedding[c.i] AS DOUBLE) - c.ci, 2)), {_R}) AS d
  FROM embeddings e JOIN centf c ON true GROUP BY e.vec_id, c.cid
), r2 AS (
  SELECT vec_id, cid, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
  FROM ad
), per_vec AS (
  SELECT vec_id,
         max(CASE WHEN rn = 1 THEN cid END) AS cell,
         max(CASE WHEN rn = 1 THEN d END) AS d1,
         max(CASE WHEN rn = 2 THEN d END) AS d2
  FROM r2 WHERE rn <= 2 GROUP BY vec_id
)
SELECT CAST(cell AS INT) AS cell,
       CAST(count(*) AS BIGINT) AS n_members,
       round(avg(d1), 6) + 0.0 AS mean_intra,
       round(avg(d2 - d1), 6) + 0.0 AS mean_margin
FROM per_vec GROUP BY cell
"""
)


@register(
    "similarity_semantic_cell_quality",
    _SEM_QUALITY_ORACLE,
    doc="SemDeDup quantizer audit: per cell, member count, mean distance "
    "to own centroid and mean margin to the 2nd-nearest centroid — the "
    "simplified-silhouette evaluation tier for dedup_semantic_pairs",
)
def similarity_semantic_cell_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation tier for the SemDeDup quantizer, the way
    `similarity_quantized_recall_eval` audits the ANN tiers: per cell,
    how many members it holds, how tight it is (mean squared-L2 to the
    own centroid) and how separated (mean margin to the second-nearest
    centroid — the simplified-silhouette numerator). Cells with small
    margin are the ones whose near-dup pairs straddle a boundary — the
    known SemDeDup blind spot — so this table tells a pipeline operator
    where to add an epsilon-overlap pass.

    Scale shape: one Arrow matmul kernel pass over the corpus (distances
    to all k centroids per batch, keeping only (d1, d2) — the centroid
    table ships model-sized via closure, same as `_kernel_assign`), then
    ONE hash aggregate keyed by cell. No join, no window over the corpus.

    Reference analog: none (extension surface — evaluation family).
    """
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings")
    k = _sem_k(corpus_count(spark, sf_dir, "embeddings"))
    cent = kmeans_centroids(train_sample(e), k=k, kernel=True)
    C, cids = _centroid_matrix(cent)

    # a single trained centroid has no second-nearest: d2 is NaN, which
    # Arrow ships as NULL — the oracle's absent rn = 2 (mean_margin NULL)
    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["embedding"]), dtype=np.float64)
            j1, d1, _, d2 = _nearest(X, C, top2=True)
            yield pd.DataFrame(
                {"cell": cids[j1], "d1": d1, "d2": np.nan if d2 is None else d2}
            )

    per_vec = e.select("vec_id", "embedding").mapInPandas(
        fn, schema="cell int, d1 double, d2 double"
    )
    return per_vec.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("n_members"),
        (F.round(F.avg("d1"), 6) + F.lit(0.0)).alias("mean_intra"),
        (F.round(F.avg(F.col("d2") - F.col("d1")), 6) + F.lit(0.0)).alias(
            "mean_margin"
        ),
    )


@register(
    "similarity_lsh_incremental",
    f"""
WITH {_PLANES_SQL}
, batch AS (SELECT DISTINCT vec_id FROM sigs WHERE vec_id % 4 = 0)
SELECT vec_id FROM batch v
WHERE NOT EXISTS (
  SELECT 1 FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
  WHERE a.vec_id = v.vec_id AND b.vec_id % 4 <> 0
)
""",
    doc="incremental embedding ANN: corpus band signatures persisted via "
    "the staged loader; a new batch's signatures semi-join them and only "
    "collision-free vectors emerge as novel",
)
def similarity_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-signature loop the lookup queries document as the
    100 TB shape, actually executed for embeddings (the text twin is
    ``dedup_minhash_incremental``): 3/4 of the corpus's band signatures
    are published through stage→audit→atomic-publish, read back from
    parquet, and the remaining 1/4 ("the new batch") computes only ITS
    signatures (the Arrow matmul map over the batch — the corpus is never
    re-hashed) and anti-joins the persisted table on (band, sig). The
    result is the batch vectors with no banded near-dup in the corpus —
    what an ingest pipeline would admit as novel. Oracle recomputes both
    sides declaratively; hash-matching proves the parquet round-trip of
    signature data is lossless."""
    from ufload_spark.sources.loader import publish_read

    sigs = _lsh_band_sigs(spark, sf_dir)
    persisted = publish_read(spark, sigs.where(~in_batch("vec_id")), "lsh_sigs", sf_dir)
    collided = (
        sigs.where(in_batch("vec_id"))
        .join(persisted, ["band", "sig"], "left_semi")
        .select("vec_id")
        .distinct()
    )
    # universe of batch ids from the plain embeddings scan, NOT from the
    # signature frame — the signature map evaluates exactly once (the
    # collided side); pinned by test_lsh_incremental_never_rehashes_corpus
    universe = (
        table(spark, sf_dir, "embeddings").where(in_batch("vec_id")).select("vec_id")
    )
    return universe.join(collided, "vec_id", "left_anti")


@register(
    "dedup_embedding_cluster_keep_best",
    "WITH RECURSIVE "
    + _PLANES_SQL
    + f"""
, pexpl AS (
  SELECT p.vec_a, p.vec_b,
         sum(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS dp,
         sum(CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)) AS na,
         sum(CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS nb
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.vec_a
  JOIN embeddings eb ON eb.vec_id = p.vec_b,
  (SELECT unnest(range(1, {DIM + 1})) AS i)
  GROUP BY 1, 2
), sim AS (
  SELECT vec_a, vec_b FROM pexpl
  WHERE dp / (sqrt(na) * sqrt(nb)) >= {DEDUP_COS_THRESHOLD}
), edges AS (
  SELECT vec_a AS u, vec_b AS v FROM sim
  UNION
  SELECT vec_b, vec_a FROM sim
), nodes AS (SELECT DISTINCT u AS n FROM edges),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
), comp AS (
  SELECT n AS vec_id, min(m) AS cluster_id FROM reach GROUP BY n
), nrm AS (
  SELECT vec_id,
         round(sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))), 6)
           AS vnorm
  FROM embeddings, (SELECT unnest(range(1, {DIM + 1})) AS i)
  GROUP BY vec_id
), members AS (
  SELECT c.vec_id, c.cluster_id, n.vnorm FROM comp c JOIN nrm n USING (vec_id)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
                               ORDER BY vnorm DESC, vec_id) AS rn
  FROM members
)
SELECT r.cluster_id, s.n_members, r.vec_id AS kept_vec_id, r.vnorm AS kept_norm
FROM ranked r
JOIN (SELECT cluster_id, count(*) AS n_members FROM members GROUP BY cluster_id) s
  USING (cluster_id)
WHERE r.rn = 1
""",
    doc="semantic cluster dedup: LSH candidates → exact-cosine edges → "
    "connected components → one survivor per cluster by vector norm "
    "(oracle extends the recursive-CTE fixpoint over the embedding graph)",
)
def dedup_embedding_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding twin of ``dedup_cluster_keep_best``, completing the
    semantic-dedup story: ``dedup_embedding_cosine`` drops the higher id of
    each confirmed PAIR, which can evict the best copy of a transitive
    cluster — this operator forms components over the exact-cosine-confirmed
    edge graph (``min_label_components``, the fixpoint shared with the
    MinHash path) and keeps the member with the largest L2 norm (ties →
    lowest vec_id; norm rounded to 6dp on both engines so the survivor
    choice is reduction-order-independent). Candidate edges are banded-LSH
    bounded — no all-pairs work — and the keep-best window partitions by
    cluster_id over micro-clusters, the same bounded-state shape as the
    text side."""
    from ufload_spark.operators.dedup import min_label_components
    from ufload_spark.sources.loader import memo_read

    # the confirmed edge graph is deterministic per fixture (seeded
    # planes, rounded sign decisions; the oracle hash-match pins the
    # cosine-confirm step), so it publishes once per (process, fixture)
    # like the MinHash pair graph
    sim = memo_read(
        spark,
        "embedding_cluster_pairs",
        sf_dir,
        lambda: _lsh_rescored(spark, sf_dir, DEDUP_COS_THRESHOLD).select(
            "vec_a", "vec_b"
        ),
    )
    e = table(spark, sf_dir, "embeddings")
    comp = min_label_components(sim).select(
        F.col("n").alias("vec_id"), F.col("m").alias("cluster_id")
    )
    nrm = e.select(
        "vec_id", F.round(F.sqrt(sqnorm(F.col("embedding"))), 6).alias("vnorm")
    )
    m = comp.join(nrm, "vec_id")
    # n_members rides the same cluster_id window partitioning as the
    # survivor rank — one exchange, one window stage (see the text twin)
    wp = Window.partitionBy("cluster_id")
    w = wp.orderBy(F.desc("vnorm"), "vec_id")
    return (
        m.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wp))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            "n_members",
            F.col("vec_id").alias("kept_vec_id"),
            F.col("vnorm").alias("kept_norm"),
        )
    )


@register(
    "similarity_ivf_incremental",
    _IVF_ORACLE_SQL,
    doc="IVF with a PERSISTED index: centroids + inverted lists trained and "
    "published once via the staged loader; the query plan only reads the "
    "index parquet and probes — no k-means iterations in the query path",
)
def similarity_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-build/query split that ``similarity_ivf_topk`` documents as
    the real 100 TB lifecycle, actually executed: k-means training and corpus
    cell assignment run ONCE here and publish through stage→audit→atomic-
    publish — a ``(cid, ce)`` centroid table plus ``(cell, vec_id)`` inverted
    lists, the classic IVF index shape (ids only; rescoring joins the corpus
    by vec_id so the index stays tiny relative to the vectors). The RETURNED
    plan reads the persisted index from parquet and contains no Lloyd
    iterations — pinned by ``test_ivf_incremental_plan_has_no_kmeans``. The
    oracle recomputes the whole pipeline declaratively, so hash-matching
    also proves the parquet round-trip of the trained index is lossless.
    Reference analog: the skip-if-unchanged download memo (ufload
    db.py:695-711) — expensive artifact built once, consulted by every later
    run instead of rebuilt."""
    from ufload_spark.sources.loader import memo_read

    e = table(spark, sf_dir, "embeddings")
    n_emb = corpus_count(spark, sf_dir, "embeddings")
    # ---- build phase: executes eagerly on FIRST use per (process, fixture);
    # the trained index is bit-deterministic (content-addressed sample,
    # hash-ordered init), so repeat invocations re-read the published index —
    # the built-once/queried-many lifecycle this query exists to model
    # (memo rationale at loader._MEMO_PUBLISHED). The centroids are bounded
    # by k (N_CENTROIDS rows) — one file, not one per shuffle partition; the
    # inverted lists are corpus-sized, so their layout stays with the
    # upstream partitioning. The lists are assignments to the PUBLISHED
    # centroid copy, so a rebuilt list can never disagree with the model it
    # ships with.
    pcent = memo_read(
        spark,
        "ivf_centroids",
        sf_dir,
        lambda: kmeans_centroids(
            train_sample(e), n_rows=n_emb // TRAIN_SAMPLE_MOD
        ).repartition(1),
    )
    pinv = memo_read(
        spark,
        "ivf_invlists",
        sf_dir,
        lambda: _ivf_assign(e, pcent, n_emb).select("cell", "vec_id"),
    )

    # ---- query phase: persisted index + corpus scan only ----
    scored = (
        pinv.join(F.broadcast(_ivf_probe(e, pcent)), "cell")
        .join(e.select("vec_id", F.col("embedding").alias("cand_emb")), "vec_id")
        .select(
            "qid",
            F.col("vec_id").alias("cand_id"),
            F.round(cosine(F.col("qe"), F.col("cand_emb")), 6).alias("cosine"),
        )
    )
    return _top_k(scored, TOP_K, F.desc("cosine"), "cand_id").select(
        "qid", "cand_id", "cosine", "rnk"
    )


# --- int8 scalar quantization ----------------------------------------------

#: quantization range for symmetric per-vector int8: values map to -127..127
Q_MAX = 127


def _quantized(emb: Column) -> Column:
    """Symmetric per-vector int8 quantization of a float array.

    ``scale = max|x| / 127``; each component becomes
    ``clamp(floor(x/scale + 0.5), -127, 127)`` as a long. ``floor(x + 0.5)``
    (round-half-up) is used instead of ``round`` so Spark and DuckDB make
    bit-identical decisions (their ``round`` halfway rules differ); an
    all-zero vector quantizes to all zeros via the NULL-scale guard.

    The scale is hoisted OUT of the per-element lambda via
    ``array_repeat`` + ``zip_with``: an expression referenced inside a
    higher-order-function lambda is re-evaluated per ELEMENT, so the
    original ``transform`` form recomputed ``array_max(transform(abs))``
    64× per row — O(d²) abs evaluations that made quantization 8× the
    cost of the dot products it feeds (measured: 6.1 s vs 0.8 s for the
    whole pair stage at sf1). As an argument of ``array_repeat`` the
    scale is evaluated once per row.
    """
    smax = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    scale = F.when(smax == 0.0, F.lit(None)).otherwise(smax / F.lit(float(Q_MAX)))
    return F.zip_with(
        emb,
        F.array_repeat(scale, DIM),
        lambda x, s: F.coalesce(
            F.greatest(
                F.lit(-Q_MAX).cast("long"),
                F.least(
                    F.lit(Q_MAX).cast("long"),
                    F.floor(x.cast("double") / s + F.lit(0.5)),
                ),
            ),
            F.lit(0).cast("long"),
        ),
    )


_QUANT_SQL = f"""
SELECT vec_id,
       list_transform(embedding, x -> CAST(greatest(-{Q_MAX}, least({Q_MAX},
         floor(CAST(x AS DOUBLE)
               / nullif(list_max(list_transform(embedding,
                        y -> abs(CAST(y AS DOUBLE)))) / {Q_MAX}, 0)
               + 0.5))) AS BIGINT)) AS qv
FROM embeddings
"""


@register(
    "similarity_quantized_topk",
    f"""
WITH qz AS (
  SELECT vec_id, list_transform(qv, x -> coalesce(x, 0)) AS qv
  FROM ({_QUANT_SQL})
),
q AS (SELECT vec_id AS qid, qv AS qa FROM qz WHERE vec_id < 5),
c AS (SELECT vec_id AS cid, qv AS qb FROM qz WHERE vec_id >= 5),
expl AS (
  SELECT qid, cid,
         sum(qa[i] * qb[i]) AS dp,
         sum(qa[i] * qa[i]) AS nq,
         sum(qb[i] * qb[i]) AS nc
  FROM q, c, (SELECT unnest(range(1, {DIM + 1})) AS i)
  GROUP BY qid, cid
), scored AS (
  SELECT qid, cid,
         round(dp / nullif(sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE)), 0),
               6) AS qcosine
  FROM expl
)
SELECT qid, cid, qcosine, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY qcosine DESC, cid) AS rnk
  FROM scored
) WHERE rnk <= {TOP_K}
""",
    doc="int8 scalar-quantized cosine top-k: per-vector symmetric "
    "quantization, integer dot products, scales cancel",
)
def similarity_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized brute-force top-k — the memory-side scale lever the
    float baselines don't have. Each vector is symmetrically quantized to
    int8 (:func:`_quantized`); because cosine normalizes by both norms, the
    per-vector scales CANCEL, so scoring is pure integer arithmetic
    (exact, reduction-order-independent — no FP-noise hash risk) with one
    sqrt/division at the end.

    100 TB posture: a 64-dim float32 corpus quantized to int8 is 4× smaller
    in memory and on the wire — the difference between a corpus scan that
    spills and one that fits executor memory; integer dot products also
    vectorize wider per SIMD lane. The plan is the same broadcast shape as
    ``similarity_topk_cosine`` (query side broadcast, candidates never
    shuffle), so the two queries measure exactly the quantization delta.
    Quantization itself is a narrow map that composes with the LSH/IVF
    candidate generators; rank disagreement vs the float baseline is
    measured and pinned by tests/test_recall.py::test_quantized_topk_fidelity
    (top-5 overlap 0.96, rank-1 agreement 1.0 on the fixtures).

    Reference analog: none (extension surface — ANN over embeddings).
    """
    e = table(spark, sf_dir, "embeddings")
    qz = e.select("vec_id", _quantized(F.col("embedding")).alias("qv"))
    q = qz.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qa")
    )
    c = qz.where(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("qb")
    )
    idot = lambda a, b: F.aggregate(  # noqa: E731 — integer fold, exact
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda s, x: s + x
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "cid",
        F.round(
            idot(F.col("qa"), F.col("qb"))
            / (
                F.sqrt(idot(F.col("qa"), F.col("qa")).cast("double"))
                * F.sqrt(idot(F.col("qb"), F.col("qb")).cast("double"))
            ),
            6,
        ).alias("qcosine"),
    )
    return _top_k(scored, TOP_K, F.desc("qcosine"), "cid").select(
        "qid", "cid", "qcosine", "rnk"
    )


# --- product quantization (PQ) ANN: subspace codebooks + ADC lookup -------

#: PQ geometry: DIM is split into PQ_M contiguous subspaces of PQ_SUB dims;
#: each subspace gets its own PQ_K-entry codebook, so a vector compresses to
#: PQ_M small codes (here 16 × 4 bits = 8 bytes vs 256 bytes of float32 —
#: the memory/wire tier BELOW int8 scalar quantization)
PQ_M = 16
PQ_SUB = DIM // PQ_M
PQ_K = 16
PQ_ITERS = 2
PQ_Q_LO, PQ_Q_HI = 8, 13  # query ids (shared with the IVF query window)


def _sqdist_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Squared L2 distance of two ``dim``-length arrays as UNROLLED column
    arithmetic. The generic :func:`sqdist` fold runs on Spark's interpreted
    higher-order-function path (boxing every element — the known HOF cost,
    see the shingles() note in dedup.py); for the PQ subspace width
    (PQ_SUB = 4) the unrolled form stays inside whole-stage codegen and
    measured ~3× faster end-to-end on the 128M-row sf1 encode."""
    terms = [
        (F.element_at(a, i + 1) - F.element_at(b, i + 1))
        * (F.element_at(a, i + 1) - F.element_at(b, i + 1))
        for i in range(dim)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means codebook per subspace, trained on the content-addressed
    1/4 sample — ``(m, cid, ce)`` with ``ce`` a PQ_SUB-dim centroid.

    All PQ_M codebooks train JOINTLY: the sample is exploded to
    ``(vec_id, m, sub)`` once and Lloyd's loop runs with ``(m, cid)`` as
    the grouping key, so one broadcast-join → argmin → re-average plan
    trains every subspace per iteration — not PQ_M sequential k-means
    passes (the sequential form was measured 10× slower at PQ_M=16, and
    at 100 TB it would scan the sample PQ_M times). The subproblems are
    independent, so the math is identical to per-subspace training and
    the per-subspace oracle CTEs still reproduce it bit-for-bit. Seeds
    are hash-ordered vec_ids — every subspace trains from the SAME seed
    vectors (sliced differently), mirrored exactly in the oracle."""

    e = table(spark, sf_dir, "embeddings")
    # sized by the sample's row bound
    tr = spread(
        train_sample(e),
        "vec_id",
        n_rows=corpus_count(spark, sf_dir, "embeddings") // TRAIN_SAMPLE_MOD,
    )
    subs = _pq_subvectors(tr, "vec_id")
    hw = Window.orderBy("h", "vec_id")
    seeds = (
        tr.select("vec_id", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(PQ_K)
        .withColumn("cid", (F.row_number().over(hw) - 1).cast("int"))
        .select("vec_id", "cid")
    )
    cent = subs.join(seeds, "vec_id").select(
        "m", "cid", F.col("sub").alias("ce")
    )
    for _ in range(PQ_ITERS):
        # argmin as a min_by hash AGGREGATE, not a window: the exploded
        # frame is |sample|×PQ_M×PQ_K rows and a window would sort it;
        # min_by keeps it a map-side-combinable agg. (d, cid) ordering
        # reproduces the oracle's row_number tie-break exactly; sub is
        # constant per (vec_id, m) group so any_value is deterministic.
        asn = (
            subs.join(F.broadcast(cent), "m")
            .select(
                "vec_id",
                "m",
                "sub",
                "cid",
                F.round(_sqdist_unrolled(F.col("sub"), F.col("ce"), PQ_SUB), _R).alias("d"),
            )
            .groupBy("vec_id", "m")
            .agg(
                F.min_by("cid", F.struct("d", "cid")).alias("cid"),
                F.any_value("sub").alias("sub"),
            )
        )
        cent = _lloyd_update(cent, asn, "sub", "m", "cid")
        # Lineage cut per Lloyd iteration (r11, same as kmeans_centroids):
        # the next iteration's broadcast and the three downstream codebook
        # consumers (corpus encode, query distance table, ADC) otherwise
        # each re-execute the whole training chain. PQ_M×PQ_K rows — tiny.
        cent = cut(cent)
    return cent


def _pq_subvectors(vecs: DataFrame, id_alias: str) -> DataFrame:
    """Explode ``(vec_id, embedding)`` to ``(id, m, sub)`` double
    subvectors — one row per subspace."""
    return vecs.select(
        F.col("vec_id").alias(id_alias),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.transform(
                            F.slice("embedding", m * PQ_SUB + 1, PQ_SUB),
                            lambda x: x.cast("double"),
                        ).alias("sub"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select(id_alias, "s.m", "s.sub")


def _micros(d: Column) -> Column:
    """A ``_R``-rounded distance as exact integer micro-units: summing
    per-subspace terms in integers makes the ADC total independent of
    reduction order on both engines."""
    return F.round(d * 1e6).cast("long")


_PQ_LOS = [m * PQ_SUB + 1 for m in range(PQ_M)]


def _pq_ctes() -> str:
    """DuckDB twin of the PQ build: shared hash-ordered seeds, then per
    subspace the same unrolled Lloyd iterations as :func:`_kmeans_ctes`,
    indexing ``embedding[lo + i - 1]`` instead of slicing."""
    ctes = [
        f"idx AS (SELECT unnest(range(1, {PQ_SUB + 1})) AS i)",
        f"""train AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::INT
          % {TRAIN_SAMPLE_MOD} = 0)""",
        f"""seeds AS (
  SELECT vec_id,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cid
  FROM train
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K})""",
    ]
    for m, lo in enumerate(_PQ_LOS):
        el = f"e.embedding[{lo} + %s.i - 1]"
        ctes.append(f"""s{m}cent0 AS (
  SELECT CAST(s.cid AS INT) AS cid, x.i,
         CAST(e.embedding[{lo} + x.i - 1] AS DOUBLE) AS ci
  FROM seeds s JOIN train e USING (vec_id), idx x)""")
        for t in range(1, PQ_ITERS + 1):
            p = t - 1
            ctes.append(f"""s{m}d{t} AS (
  SELECT e.vec_id, c.cid,
         round(sum(pow(CAST({el % 'c'} AS DOUBLE) - c.ci, 2)), {_R}) AS d
  FROM train e JOIN s{m}cent{p} c ON true GROUP BY e.vec_id, c.cid)""")
            ctes.append(f"""s{m}a{t} AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY d, cid) AS rn
    FROM s{m}d{t}
  ) WHERE rn = 1)""")
            ctes.append(f"""s{m}m{t} AS (
  SELECT a.cell AS cid, x.i,
         round(avg(CAST(e.embedding[{lo} + x.i - 1] AS DOUBLE)), {_R}) AS mi
  FROM s{m}a{t} a JOIN train e ON e.vec_id = a.vec_id, idx x GROUP BY 1, 2)""")
            ctes.append(f"""s{m}cent{t} AS (
  SELECT p.cid, p.i, coalesce(m.mi, p.ci) AS ci
  FROM s{m}cent{p} p LEFT JOIN s{m}m{t} m ON m.cid = p.cid AND m.i = p.i)""")
        ctes.append(
            f"s{m}centf AS (SELECT cid, i, ci FROM s{m}cent{PQ_ITERS})"
        )
    return ",\n".join(ctes)


def _pq_oracle_sql() -> str:
    per_m_codes = []
    per_m_dt = []
    for m, lo in enumerate(_PQ_LOS):
        per_m_codes.append(f"""s{m}cd AS (
  SELECT e.vec_id, c.cid,
         round(sum(pow(CAST(e.embedding[{lo} + c.i - 1] AS DOUBLE) - c.ci, 2)),
               {_R}) AS d
  FROM cand e JOIN s{m}centf c ON true GROUP BY e.vec_id, c.cid),
s{m}code AS (
  SELECT vec_id, cid AS code FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY d, cid) AS rn
    FROM s{m}cd
  ) WHERE rn = 1)""")
        per_m_dt.append(f"""s{m}qd AS (
  SELECT p.qid, c.cid,
         round(sum(pow(CAST(p.qe[{lo} + c.i - 1] AS DOUBLE) - c.ci, 2)),
               {_R}) AS d
  FROM q p JOIN s{m}centf c ON true GROUP BY p.qid, c.cid)""")
    lookups = "\nUNION ALL\n".join(
        f"""SELECT d.qid, c.vec_id AS cand_id,
       CAST(round(d.d * 1e6) AS BIGINT) AS dmicro
FROM s{m}code c JOIN s{m}qd d ON d.cid = c.code"""
        for m in range(PQ_M)
    )
    return (
        "WITH "
        + _pq_ctes()
        + f""",
cand AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {PQ_Q_HI}),
q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
      WHERE vec_id >= {PQ_Q_LO} AND vec_id < {PQ_Q_HI}),
{",".join(per_m_codes)},
{",".join(per_m_dt)},
lookups AS (
{lookups}
), scored AS (
  SELECT qid, cand_id, CAST(sum(dmicro) AS DOUBLE) / 1e6 AS approx_d
  FROM lookups GROUP BY qid, cand_id
)
SELECT qid, cand_id, approx_d, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY approx_d, cand_id) AS rnk
  FROM scored
) WHERE rnk <= {TOP_K}
"""
    )


@register(
    "similarity_pq_topk",
    _pq_oracle_sql(),
    doc="product-quantization ANN: per-subspace k-means codebooks, corpus "
    "encoded to PQ_M small codes, asymmetric-distance (ADC) top-k via "
    "query-side distance-table lookups — the compression tier below int8",
)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011, public): split each vector
    into PQ_M contiguous subspaces, k-means a PQ_K-entry codebook per
    subspace (on the content-addressed training sample), and ENCODE the
    corpus as PQ_M per-subspace code ids — 8 bytes per vector here vs
    64 int8s or 256 float bytes. Queries stay exact: ADC (asymmetric
    distance computation) builds a Q×PQ_M×PQ_K distance table of the
    query subvectors against the codebooks, and a candidate's
    approximate L2 distance is just PQ_M integer table lookups summed —
    no float math touches the corpus at query time.

    Scale shape: codebooks and distance tables are tiny and broadcast
    (PQ_M×PQ_K rows; Q×PQ_M×PQ_K entries); the corpus is scanned once to
    encode and once to score (in production the codes PERSIST like the
    IVF index — ``similarity_ivf_incremental``'s lifecycle — and scoring
    reads 2-byte codes instead of 256-byte vectors: a 100× scan-byte
    reduction at 100 TB). Per-subspace distances are ``_R``-rounded then
    summed as exact integer micro-units, so the ADC total is
    reduction-order-independent on both engines. The oracle runs the
    identical build — shared hash-ordered seeds, per-subspace unrolled
    Lloyd iterations — as generated CTEs.

    Reference analog: none (extension surface — similarity family).
    """

    e = table(spark, sf_dir, "embeddings")
    books = _pq_codebooks(spark, sf_dir)
    codes = _pq_encode(e, books, corpus_count(spark, sf_dir, "embeddings"))
    return _pq_adc_topk(e, books, codes)


def _pq_encode(
    e: DataFrame, books: DataFrame, n_rows: int | None = None
) -> DataFrame:
    """Encode the candidate corpus against a codebook frame:
    ``(cand_id, m, code)``. The argmin runs as a min_by hash aggregate
    (same rationale and tie-break as training): the corpus×PQ_M×PQ_K
    scored frame never hits a sort. ``n_rows`` sizes the scan spread —
    see :func:`~ufload_spark.sources.tables.spread`."""
    cand = _pq_subvectors(
        spread(e.where(F.col("vec_id") >= PQ_Q_HI), "vec_id", n_rows=n_rows),
        "cand_id",
    )
    return (
        cand.join(F.broadcast(books), "m")
        .select(
            "cand_id",
            "m",
            "cid",
            F.round(_sqdist_unrolled(F.col("sub"), F.col("ce"), PQ_SUB), _R).alias("d"),
        )
        .groupBy("cand_id", "m")
        .agg(F.min_by("cid", F.struct("d", "cid")).alias("code"))
    )


def _pq_adc_topk(e: DataFrame, books: DataFrame, codes: DataFrame) -> DataFrame:
    """ADC query phase over an encoded corpus: broadcast the query
    distance table, look up per-subspace integer distances, sum, top-k."""
    q = _pq_subvectors(
        e.where((F.col("vec_id") >= PQ_Q_LO) & (F.col("vec_id") < PQ_Q_HI)),
        "qid",
    )
    dt = q.join(F.broadcast(books), "m").select(
        "qid",
        "m",
        F.col("cid").alias("code"),
        _micros(
            F.round(_sqdist_unrolled(F.col("sub"), F.col("ce"), PQ_SUB), _R)
        ).alias("dmicro"),
    )
    scored = (
        codes.join(F.broadcast(dt), ["m", "code"])
        .groupBy("qid", "cand_id")
        .agg((F.sum("dmicro").cast("double") / 1e6).alias("approx_d"))
    )
    return _top_k(scored, TOP_K, "approx_d", "cand_id").select(
        "qid", "cand_id", "approx_d", "rnk"
    )


@register(
    "similarity_pq_incremental",
    _pq_oracle_sql(),
    doc="PQ with a PERSISTED index: codebooks trained and corpus codes "
    "encoded once, published via the staged loader; the query plan reads "
    "8-byte codes from parquet and does ADC lookups — no k-means, and the "
    "float corpus is never scanned at query time",
)
def similarity_pq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-build/query split for PQ, actually executed (the
    ``similarity_ivf_incremental`` lifecycle applied to codes): codebook
    training and corpus encoding run ONCE per (process, fixture) and
    publish through stage→audit→atomic-publish; repeat invocations read
    the published parquet. The returned plan contains no Lloyd iterations
    and — unlike IVF, whose rescoring joins the float vectors back in —
    never touches the float corpus at all: scoring is pure integer table
    lookups over the 8-byte code table, the full PQ memory story (at
    100 TB the query path reads ~3% of the bytes a float scan would).
    Codes are encoded FROM the published codebook parquet, so the two
    artifacts can never drift apart. Hash-matching the same oracle as
    ``similarity_pq_topk`` also proves the index round-trip is lossless.
    Reference analog: the skip-if-unchanged download memo (ufload
    db.py:695-711)."""
    from ufload_spark.sources.loader import memo_read

    e = table(spark, sf_dir, "embeddings")
    pbooks = memo_read(
        spark, "pq_codebooks", sf_dir, lambda: _pq_codebooks(spark, sf_dir)
    )
    pcodes = memo_read(
        spark,
        "pq_codes",
        sf_dir,
        lambda: _pq_encode(e, pbooks, corpus_count(spark, sf_dir, "embeddings")),
    )
    return _pq_adc_topk(e, pbooks, pcodes)


# --- distributed PCA: exact integer Gramian + unrolled power iteration ----

#: fixed-point quantization for the Gramian pass: floor(x*2^10 + 0.5) makes
#: every partial sum an exact int64, so the Gramian is reduction-order-free
#: (the float-sum nondeterminism that forces round-and-pray elsewhere
#: simply cannot occur). |entries| stay under 2^63 up to ~10^6 vectors;
#: beyond that the accumulator widens to decimal/two-word — documented,
#: not needed at bench SFs.
PCA_SCALE = 1024
#: power-iteration depth. Convergence is (λ2/λ1)^k and the fixture
#: embeddings are nearly isotropic (λ2/λ1 ≈ 0.93 at sf0.001), so k=8
#: buys Rayleigh ≥ 0.9·λ1 there; each extra step is a single-row stage,
#: so depth is a free knob at any corpus size.
PCA_ITERS = 8


def _gram_batches(batches):
    import numpy as np

    for pdf in batches:
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        # exact integers carried in float64 (|v| < 2^53): BLAS speed,
        # integer semantics
        Xq = np.floor(X * float(PCA_SCALE) + 0.5)
        G = Xq.T @ Xq
        S = Xq.sum(axis=0)
        vals = np.concatenate(([float(len(pdf))], S, G.reshape(-1)))
        yield pd.DataFrame(
            {
                "idx": np.arange(vals.size, dtype=np.int32),
                "val": vals.astype(np.int64),
            }
        )


def _pca_ctes() -> str:
    d2 = DIM * DIM
    fold = "(a, b) -> a + b"
    parts = [
        f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE)*{PCA_SCALE} + 0.5) AS BIGINT)) AS xq
  FROM embeddings
), ex AS (
  SELECT vec_id, CAST(i AS INT) AS i, xq[i+1] AS v
  FROM q, unnest(range({DIM})) AS t(i)
), gram AS (
  SELECT a.i AS i, b.i AS j, CAST(sum(a.v*b.v) AS BIGINT) AS g
  FROM ex a JOIN ex b USING (vec_id) GROUP BY 1, 2
), sums AS (
  SELECT i, CAST(sum(v) AS BIGINT) AS s FROM ex GROUP BY i
), mat AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM q) AS n,
         (SELECT list(s ORDER BY i) FROM sums) AS s,
         (SELECT list(g ORDER BY i, j) FROM gram) AS gf
), it0 AS (
  SELECT n,
         list_transform(range({d2}),
           k -> CAST(n*gf[k+1] - s[k//{DIM} + 1]*s[k%{DIM} + 1] AS DOUBLE)) AS c,
         list_transform(range({DIM}), i -> 0.125) AS v
  FROM mat
)"""
    ]
    for k in range(1, PCA_ITERS + 1):
        parts.append(
            f""", it{k} AS (
  SELECT n, c, list_transform(w, x -> round(x / nrm, 9) + 0.0) AS v
  FROM (
    SELECT n, c, w,
           round(sqrt(list_reduce(list_transform(w, x -> x*x), {fold})), 9) AS nrm
    FROM (
      SELECT n, c,
             list_transform(range({DIM}), i ->
               round(list_reduce(list_transform(range({DIM}),
                 j -> c[i*{DIM} + j + 1] * v[j+1]), {fold}), 9) + 0.0) AS w
      FROM it{k - 1}
    )
  )
)"""
        )
    return "".join(parts)


def _pca_oracle() -> str:
    fold = "(a, b) -> a + b"
    parts = [_pca_ctes()]
    parts.append(
        f""", fin AS (
  SELECT n, c, v,
         list_transform(range({DIM}), i ->
           round(list_reduce(list_transform(range({DIM}),
             j -> c[i*{DIM} + j + 1] * v[j+1]), {fold}), 9) + 0.0) AS w4
  FROM it{PCA_ITERS}
), stats AS (
  SELECT n, v,
         list_reduce(list_transform(range({DIM}), i -> v[i+1]*w4[i+1]), {fold}) AS lam,
         list_reduce(list_transform(range({DIM}), i -> c[i*{DIM} + i + 1]), {fold}) AS tr
  FROM fin
)
SELECT CAST(i AS INT) AS component,
       round(v[i+1], 6) + 0.0 AS loading,
       round(lam / (CAST(n AS DOUBLE)*n*{PCA_SCALE * PCA_SCALE}), 6) + 0.0 AS eigval_cov,
       round(lam / tr, 6) + 0.0 AS var_share
FROM stats, unnest(range({DIM})) AS t(i)"""
    )
    return "".join(parts)


@register(
    "embedding_pca_power",
    _pca_oracle(),
    doc=f"distributed PCA: exact fixed-point Gramian (one Arrow-BLAS map + "
    f"one tiny integer-sum shuffle), then {PCA_ITERS} unrolled power-"
    "iteration steps on the single-row matrix; loadings/eigenvalue/"
    "variance-share of the top principal component",
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus — covariance PCA by
    Gramian aggregation + power iteration, the spectral sibling of the
    k-means/IVF family. Two numeric disciplines make it cross-engine
    bit-stable where naive float PCA cannot be:

    1. **The corpus pass is exact integer arithmetic.** Embeddings are
       quantized ``floor(x*2^10 + 0.5)`` (identical half-up rule in both
       engines); each Arrow batch computes its Gramian/sum partials as
       exact integers carried in float64 BLAS (all values < 2^53), and
       Spark sums int64 partials — an order-free reduction, immune to the
       float-summation nondeterminism that plagues distributed PCA. The
       centered scatter matrix ``n·G − s·sᵀ`` is then EXACT integers on
       both engines, so the eigen-iteration starts from bit-identical
       input. (int64 bounds hold to ~10^6 vectors at this dim/scale; past
       that the accumulator widens — a documented knob, not a redesign.)
    2. **The iteration is rounded at every step** (9 dp after each
       mat-vec element, normalization, and update; left-fold order
       matches DuckDB's ``list_reduce`` exactly, and ``+ 0.0`` collapses
       ``-0.0``), so all :data:`PCA_ITERS` power steps stay in lockstep
       across engines.

    Scale shape: one ``mapInPandas`` map over the corpus (BLAS Gramian per
    Arrow batch — the `_sig_batches` tier), ONE shuffle of ~DIM² tiny
    integer partial rows, and all eigen-math on a single driver-free row.
    This is how PCA is actually run at 100 TB (tree-aggregated Gramian;
    Spark MLlib's computeSVD does the same dense-Gramian aggregation for
    small dim); more components = deflation or block iteration, same
    dataflow.

    Reference analog: none — extension surface (embedding-space analysis
    for the similarity family: PCA whitening/compression is the standard
    preprocessing ahead of the IVF/PQ indexes registered above).
    """
    row, fold, seq, matvec = _pca_fit(spark, sf_dir)
    row = cut(
        row.withColumn("w4", matvec(F.col("c"), F.col("v")))
    ).select(
        "n",
        "v",
        fold(
            F.transform(
                seq,
                lambda i: F.element_at("v", i + 1) * F.element_at("w4", i + 1),
            )
        ).alias("lam"),
        fold(
            F.transform(seq, lambda i: F.element_at("c", i * DIM + i + 1))
        ).alias("tr"),
    )
    return row.select(
        F.posexplode("v").alias("component", "_l"),
        F.col("lam"),
        F.col("tr"),
        F.col("n"),
    ).select(
        F.col("component").cast("int").alias("component"),
        (F.round("_l", 6) + F.lit(0.0)).alias("loading"),
        (
            F.round(
                F.col("lam")
                / (
                    F.col("n").cast("double")
                    * F.col("n")
                    * F.lit(float(PCA_SCALE * PCA_SCALE))
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("eigval_cov"),
        (F.round(F.col("lam") / F.col("tr"), 6) + F.lit(0.0)).alias(
            "var_share"
        ),
    )


def _pca_fit(spark: SparkSession, sf_dir: str):
    """Gramian pass + power iteration; returns (fitted single-row frame
    with columns n, c, v; the shared fold/seq/matvec builders). See
    :func:`embedding_pca_power` for the numeric contract."""
    tune(spark)
    e = table(spark, sf_dir, "embeddings")
    partials = e.select("embedding").mapInPandas(
        _gram_batches, schema="idx int, val long"
    )
    flat = (
        partials.groupBy("idx")
        .agg(F.sum("val").alias("v"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("idx", "v"))).alias("a"))
        .select(F.transform("a", lambda x: x["v"]).alias("f"))
    )
    n = F.element_at("f", 1)
    s = F.slice("f", 2, DIM)
    g = F.slice("f", DIM + 2, DIM * DIM)
    row = flat.select(
        n.alias("n"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM * DIM - 1)),
            lambda k: (
                n * F.element_at(g, k + 1)
                - F.element_at(s, (k / DIM).cast("int") + 1)
                * F.element_at(s, (k % DIM) + 1)
            ).cast("double"),
        ).alias("c"),
        F.array_repeat(F.lit(0.125), DIM).alias("v"),
    )
    # Single-row iterate, but the expression TREE is the hazard: projection
    # collapse would inline the 4096-node scatter-matrix expression into
    # every one of the 4096 mat-vec references (and each iteration into the
    # next), exploding the plan combinatorially before a single row is
    # computed — and Catalyst/AQE re-optimization across plain
    # repartition(1) barriers still went super-linear (measured: minutes
    # at DIM=64). A lazy localCheckpoint truncates the lineage outright:
    # each eigen step is optimized alone, and what crosses the barrier is
    # one materialized row, not an expression.
    row = cut(row)
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    seq = F.sequence(F.lit(0), F.lit(DIM - 1))

    def matvec(c, v):
        return F.transform(
            seq,
            lambda i: F.round(
                fold(
                    F.transform(
                        seq,
                        lambda j: F.element_at(c, i * DIM + j + 1)
                        * F.element_at(v, j + 1),
                    )
                ),
                9,
            )
            + F.lit(0.0),
        )

    for _ in range(PCA_ITERS):
        row = cut(row.withColumn("w", matvec(F.col("c"), F.col("v"))))
        row = cut(
            row.withColumn(
                "nrm",
                F.round(
                    F.sqrt(fold(F.transform("w", lambda x: x * x))), 9
                ),
            )
        )
        row = cut(
            row.withColumn(
                "v",
                F.transform(
                    "w",
                    lambda x: F.round(x / F.col("nrm"), 9) + F.lit(0.0),
                ),
            ).drop("w", "nrm")
        )
    return row, fold, seq, matvec


@register(
    "embedding_pca_project",
    _pca_ctes()
    + f"""
SELECT e.vec_id, e.label,
       round(list_reduce(list_transform(range({DIM}),
             i -> v[i + 1] * CAST(e.embedding[i + 1] AS DOUBLE)),
             (a, b) -> a + b), 6) + 0.0 AS proj
FROM embeddings e, it{PCA_ITERS}
""",
    doc="apply the fitted principal component: per-vector projection "
    "score via a broadcast of the single fitted row — the train→apply "
    "lifecycle for the spectral family",
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply half of the PCA lifecycle (as `text_bpe_encode` is to
    `text_bpe_learn`): score every embedding against the component
    `embedding_pca_power` fits. The fitted vector is ONE row — it
    broadcasts, and the projection is a per-row 64-term left fold
    (element-wise double multiplies, fold order matching DuckDB's
    ``list_reduce``, rounded once) — no cross-row float reduction exists
    anywhere, so the scores are deterministic at any parallelism.

    Scale shape: corpus scan × broadcast-one-row join, pure narrow map —
    the cheapest possible model-apply plan. Production would read the
    persisted loadings (the `similarity_ivf_incremental` lifecycle) and
    use the score for whitening, compression, or as an IVF residual
    axis; the in-query fit keeps the oracle self-contained.
    """
    row, fold, seq, _ = _pca_fit(spark, sf_dir)
    vrow = row.select("v")
    e = table(spark, sf_dir, "embeddings")
    proj = F.round(
        fold(
            F.transform(
                seq,
                lambda i: F.element_at("v", i + 1)
                * F.element_at("embedding", i + 1).cast("double"),
            )
        ),
        6,
    ) + F.lit(0.0)
    return e.crossJoin(F.broadcast(vrow)).select(
        "vec_id", "label", proj.alias("proj")
    )


# --- label propagation: kNN majority vote + nearest-class-mean ---------------

#: integer micro-units for exact class-centroid sums (the PCA/Gramian
#: discipline: quantize floats once, sum exactly, divide at the end)
NCM_SCALE = 1_000_000


@register(
    "similarity_knn_label_vote",
    f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS true_label
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS cid, embedding AS ce, label FROM embeddings
      WHERE vec_id >= 5),
expl AS (
  SELECT qid, cid, true_label, label,
         sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
         sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
         sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
  FROM q, c, (SELECT unnest(range(1, {DIM + 1})) AS i)
  GROUP BY qid, cid, true_label, label
), scored AS (
  SELECT qid, cid, true_label, label,
         round(dp / (sqrt(nq) * sqrt(nc)), 6) AS cosine FROM expl
), topk AS (
  SELECT qid, true_label, label FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY cosine DESC, cid) AS rnk
    FROM scored
  ) WHERE rnk <= {TOP_K}
), votes AS (
  SELECT qid, true_label, label, count(*) AS n_votes
  FROM topk GROUP BY 1, 2, 3
)
SELECT qid, CAST(true_label AS BIGINT) AS true_label,
       CAST(label AS BIGINT) AS predicted_label,
       CAST(n_votes AS BIGINT) AS n_votes
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY n_votes DESC, label) AS vr
  FROM votes
) WHERE vr = 1
""",
    doc=f"kNN auto-labeling: majority label of the cosine top-{TOP_K} "
    "neighbors per query vector (ties: most votes, then smallest label), "
    "with the true label alongside for audit",
)
def similarity_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-labeling by k-nearest-neighbor majority vote — the label-
    propagation step of a training-data pipeline (label a new batch from
    its embedded neighbors): score the broadcast query batch against the
    labeled candidate corpus, keep each query's cosine top-:data:`TOP_K`,
    and emit the plurality label (ties broken by vote count then smallest
    label — deterministic on both engines), with the query's own label
    for accuracy audit.

    Scale shape: identical to ``similarity_topk_cosine`` — the candidate
    corpus never shuffles (query batch broadcast, scores ride a
    (qid, cosine) exchange), and the vote is a per-query aggregate over
    ≤ :data:`TOP_K` rows. At index scale the scoring stage swaps for the
    persisted IVF/PQ probe; the vote is unchanged.

    Reference analog: none (extension surface — similarity family).
    """
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("true_label"),
    )
    c = e.where(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"), "label"
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "cid",
        "true_label",
        "label",
        F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("cosine"),
    )
    topk = _top_k(scored, TOP_K, F.desc("cosine"), "cid")
    votes = topk.groupBy("qid", "true_label", "label").agg(
        F.count("*").alias("n_votes")
    )
    # plurality with deterministic tie-break: most votes, then smallest
    # label — max_by over (n_votes, -label) mirrors the oracle's
    # row_number ORDER BY n_votes DESC, label
    return votes.groupBy("qid", "true_label").agg(
        F.max_by(
            "label", F.struct(F.col("n_votes"), (-F.col("label")).alias("nl"))
        ).alias("predicted_label"),
        F.max(F.struct(F.col("n_votes"), (-F.col("label")).alias("nl")))
        .getField("n_votes")
        .alias("n_votes"),
    ).select(
        "qid",
        F.col("true_label").cast("long").alias("true_label"),
        F.col("predicted_label").cast("long").alias("predicted_label"),
        F.col("n_votes").cast("long").alias("n_votes"),
    )


@register(
    "similarity_ncm_classify",
    f"""
WITH c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 5),
q AS (SELECT vec_id AS qid, embedding AS qe, label AS true_label
      FROM embeddings WHERE vec_id < 5),
cexpl AS (
  SELECT label, i,
         CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * {NCM_SCALE})
                  AS BIGINT)) AS BIGINT) AS sx,
         CAST(count(*) AS BIGINT) AS n
  FROM c, (SELECT unnest(range(1, {DIM + 1})) AS i)
  GROUP BY label, i
), cent AS (
  SELECT label, i, CAST(sx AS DOUBLE) / n / {NCM_SCALE} AS m FROM cexpl
), qexpl AS (
  SELECT qid, true_label, i, CAST(qe[i] AS DOUBLE) AS x
  FROM q, (SELECT unnest(range(1, {DIM + 1})) AS i)
), dists AS (
  SELECT qe.qid, qe.true_label, ce.label,
         round(sum((qe.x - ce.m) * (qe.x - ce.m)), 6) AS sqdist
  FROM qexpl qe JOIN cent ce ON qe.i = ce.i
  GROUP BY 1, 2, 3
)
SELECT qid, CAST(true_label AS BIGINT) AS true_label,
       CAST(label AS BIGINT) AS predicted_label, sqdist
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY sqdist, label) AS rnk
  FROM dists
) WHERE rnk = 1
""",
    doc="nearest-class-mean classifier: per-label centroids from exact "
    f"integer micro-unit sums (scale {NCM_SCALE}), argmin L2 per query "
    "(ties: smallest label) — the Rocchio/prototype auto-labeler",
)
def similarity_ncm_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-mean (Rocchio/prototype) classification — the other
    standard auto-labeler: average each label's candidate vectors into a
    class centroid, then assign every query vector to the nearest
    centroid by squared L2 (ties to the smallest label).

    Determinism: per-element centroid sums would be float-order-dependent
    at cluster parallelism, so each element is quantized ONCE to
    :data:`NCM_SCALE` micro-units and summed as exact int64 (the
    PCA-Gramian discipline); the single divide back to double happens
    after the reduction, so centroids are bit-identical across engines,
    runs and partitionings. The per-query distance is then a fixed-shape
    sequential fold over the broadcast 10-row centroid table.

    Scale shape: the centroid aggregate is one exchange of
    (label, element) partial sums — label-count × DIM rows, a MODEL-sized
    result that broadcasts to the query batch; the corpus itself never
    shuffles and is scanned exactly once.

    Reference analog: none (extension surface — similarity family).
    """
    e = table(spark, sf_dir, "embeddings")
    c = e.where(F.col("vec_id") >= 5)
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("true_label"),
    )
    cexpl = c.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        (F.col("pos") + 1).alias("i"),
        F.round(F.col("x").cast("double") * NCM_SCALE)
        .cast("long")
        .alias("xq"),
    )
    cent = (
        cexpl.groupBy("label", "i")
        .agg(F.sum("xq").alias("sx"), F.count("*").alias("n"))
        .select(
            "label",
            "i",
            (F.col("sx").cast("double") / F.col("n") / NCM_SCALE).alias("m"),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))),
                lambda s: s.getField("m"),
            ).alias("me")
        )
    )
    dists = q.crossJoin(F.broadcast(cent)).select(
        "qid",
        "true_label",
        "label",
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("qe"),
                    F.col("me"),
                    lambda x, m: (x.cast("double") - m)
                    * (x.cast("double") - m),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("sqdist"),
    )
    w = Window.partitionBy("qid").orderBy("sqdist", "label")
    return (
        dists.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select(
            "qid",
            F.col("true_label").cast("long").alias("true_label"),
            F.col("label").cast("long").alias("predicted_label"),
            "sqdist",
        )
    )


from ufload_spark.plans.registry import QUERIES as _REGISTRY  # noqa: E402

_RECALL_ORACLE = f"""
WITH exact AS (
  SELECT qid, cid FROM ({_REGISTRY["similarity_topk_cosine"].oracle}) ex
), approx AS (
  SELECT qid, cid FROM ({_REGISTRY["similarity_quantized_topk"].oracle}) an
)
SELECT e.qid, CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(a.cid) AS BIGINT) AS n_hit,
       round(CAST(count(a.cid) AS DOUBLE) / count(*), 6) + 0.0 AS recall_at_k
FROM exact e LEFT JOIN approx a ON e.qid = a.qid AND e.cid = a.cid
GROUP BY e.qid
"""


@register(
    "similarity_quantized_recall_eval",
    _RECALL_ORACLE,
    doc=f"retrieval-quality evaluation: recall@{TOP_K} of the int8 "
    "scalar-quantized search against the float brute-force ground truth",
)
def similarity_quantized_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Retrieval quality as a first-class query: recall@k of
    ``similarity_quantized_topk`` (the int8 scalar-quantized search — the
    representation a 100 TB corpus actually serves from, at 4x less
    memory bandwidth than float32) against ``similarity_topk_cosine``
    (the float ground truth), per query vector. This is the number an
    index owner watches when choosing a quantization level: it prices the
    lossy representation in ranking terms, on the live corpus, inside the
    CORRECTNESS sweep and bench trend. (Planted-fixture recall for the
    LSH/IVF probe paths lives in tests/test_recall.py — the stock corpus
    has no near-dup structure, so band-collision probes retrieve nothing
    there by construction and their quality is measured on planted
    fixtures instead.)

    Determinism: both sides break ranking ties by candidate id, so the
    top-k SETS are exactly reproducible across engines; the recall ratio
    is one rounded division of two exact counts. The oracle embeds both
    registered oracles as subqueries — one source of truth, no drift
    between the eval and the operators it evaluates.

    Scale shape: both inputs are query-batch-sized (k rows per query), so
    the join/aggregate is broadcast-trivial; total cost = the two
    underlying plans, whose corpus-scan shapes are already audited.

    Reference analog: none (extension surface — similarity family).
    """
    ex = similarity_topk_cosine(spark, sf_dir).select("qid", "cid")
    ap = similarity_quantized_topk(spark, sf_dir).select(
        F.col("qid").alias("a_qid"), F.col("cid").alias("a_cid")
    )
    j = ex.join(
        ap,
        (ex.qid == ap.a_qid) & (ex.cid == ap.a_cid),
        "left",
    )
    return j.groupBy("qid").agg(
        F.count("*").cast("bigint").alias("n_exact"),
        F.count("a_cid").cast("bigint").alias("n_hit"),
        (
            F.round(F.count("a_cid").cast("double") / F.count("*"), 6)
            + F.lit(0.0)
        ).alias("recall_at_k"),
    )


# --- MMR diversified rerank -------------------------------------------------

#: MMR geometry: relevance pool size, picks, and λ as an integer tenth
MMR_POOL = 10
MMR_PICKS = 3
MMR_LAMBDA_X10 = 7

_MMR_ORACLE_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 5),
expl AS (
  SELECT qid, cid,
         sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
         sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
         sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
  FROM q, c, (SELECT unnest(range(1, {DIM + 1})) AS i)
  GROUP BY qid, cid
), pool AS (
  SELECT qid, cid, rel FROM (
    SELECT qid, cid,
           CAST(round(dp / (sqrt(nq) * sqrt(nc)) * 1e6) AS BIGINT) AS rel,
           row_number() OVER (
             PARTITION BY qid
             ORDER BY CAST(round(dp / (sqrt(nq) * sqrt(nc)) * 1e6) AS BIGINT)
                      DESC, cid) AS rnk
    FROM expl
  ) WHERE rnk <= {MMR_POOL}
), sims AS (
  SELECT a.qid, a.cid AS ca, b.cid AS cb,
         CAST(round(sum(CAST(ea.embedding[i] AS DOUBLE)
                        * CAST(eb.embedding[i] AS DOUBLE))
                    / (sqrt(sum(CAST(ea.embedding[i] AS DOUBLE)
                                * CAST(ea.embedding[i] AS DOUBLE)))
                       * sqrt(sum(CAST(eb.embedding[i] AS DOUBLE)
                                  * CAST(eb.embedding[i] AS DOUBLE))))
                    * 1e6) AS BIGINT) AS sim
  FROM pool a
  JOIN pool b ON a.qid = b.qid AND a.cid <> b.cid
  JOIN embeddings ea ON ea.vec_id = a.cid
  JOIN embeddings eb ON eb.vec_id = b.cid,
       (SELECT unnest(range(1, {DIM + 1})) AS i)
  GROUP BY a.qid, a.cid, b.cid
), p1 AS (
  SELECT qid, cid, {MMR_LAMBDA_X10} * rel AS score FROM (
    SELECT qid, cid, rel,
           row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn
    FROM pool
  ) WHERE rn = 1
), r2 AS (
  SELECT p.qid, p.cid,
         {MMR_LAMBDA_X10} * p.rel
         - {10 - MMR_LAMBDA_X10} * s.sim AS score
  FROM pool p
  JOIN p1 ON p.qid = p1.qid AND p.cid <> p1.cid
  JOIN sims s ON s.qid = p.qid AND s.ca = p.cid AND s.cb = p1.cid
), p2 AS (
  SELECT qid, cid, score FROM (
    SELECT qid, cid, score,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
    FROM r2
  ) WHERE rn = 1
), r3 AS (
  SELECT p.qid, p.cid,
         {MMR_LAMBDA_X10} * p.rel
         - {10 - MMR_LAMBDA_X10} * greatest(s1.sim, s2.sim) AS score
  FROM pool p
  JOIN p1 ON p.qid = p1.qid AND p.cid <> p1.cid
  JOIN p2 ON p.qid = p2.qid AND p.cid <> p2.cid
  JOIN sims s1 ON s1.qid = p.qid AND s1.ca = p.cid AND s1.cb = p1.cid
  JOIN sims s2 ON s2.qid = p.qid AND s2.ca = p.cid AND s2.cb = p2.cid
), p3 AS (
  SELECT qid, cid, score FROM (
    SELECT qid, cid, score,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
    FROM r3
  ) WHERE rn = 1
)
SELECT qid, 1 AS pick, cid, CAST(score AS DOUBLE) / 1e7 AS mmr_score FROM p1
UNION ALL
SELECT qid, 2, cid, CAST(score AS DOUBLE) / 1e7 FROM p2
UNION ALL
SELECT qid, 3, cid, CAST(score AS DOUBLE) / 1e7 FROM p3
"""


@register(
    "similarity_mmr_rerank",
    _MMR_ORACLE_SQL,
    doc=f"MMR diversified rerank: λ={MMR_LAMBDA_X10}/10 relevance-vs-"
    f"redundancy over the cosine top-{MMR_POOL} pool, {MMR_PICKS} unrolled "
    "greedy picks in exact integer micro-units (argmax never compares floats)",
)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein) — the rerank a
    RAG retriever runs so its k passages aren't k paraphrases of one
    passage: greedily pick argmax λ·rel(d) − (1−λ)·max_{s∈picked}
    sim(d, s). The :data:`MMR_PICKS` greedy rounds are UNROLLED into the
    plan (the PCA/BPE discipline for data-independent iteration counts),
    and all scores are exact integer micro-units — relevance and
    pairwise cosines snap to ×10⁶ BIGINTs once, λ-blending is integer
    (×10), so every argmax is a total integer order with cid tie-break:
    no float comparison anywhere, bit-identical picks on any engine.

    Scale shape: the corpus-sized work is exactly the brute-force top-k
    scan that feeds the pool (swap in the IVF/PQ probe for the
    production path — the pool contract is the same); everything after
    is bounded by queries × :data:`MMR_POOL`: the pairwise-sim self-join
    is ≤ pool² rows per query, and each greedy round is a broadcast join
    of a picks-sized frame. Diversification cost never touches the
    corpus again.

    Reference analog: none (extension surface — retrieval family, the
    result-side sibling of `similarity_topk_cosine`).
    """
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    c = e.where(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )

    def cos_micro(a, b) -> F.col:
        return F.round(cosine(a, b) * 1e6).cast("bigint")

    scored = c.crossJoin(F.broadcast(q)).select(
        "qid", "cid", "ce", cos_micro(F.col("qe"), F.col("ce")).alias("rel")
    )
    pool = keep(
        _top_k(scored, MMR_POOL, F.desc("rel"), "cid").select("qid", "cid", "ce", "rel")
    )
    a = pool.select("qid", F.col("cid").alias("ca"), F.col("ce").alias("ea"))
    b = pool.select("qid", F.col("cid").alias("cb"), F.col("ce").alias("eb"))
    sims = keep(
        a.join(b, ["qid"])
        .where(F.col("ca") != F.col("cb"))
        .select(
            "qid",
            "ca",
            "cb",
            cos_micro(F.col("ea"), F.col("eb")).alias("sim"),
        )
    )
    lam, inv = MMR_LAMBDA_X10, 10 - MMR_LAMBDA_X10
    argmax = F.max_by(
        F.struct(F.col("cid"), F.col("score")),
        F.struct(F.col("score"), (-F.col("cid")).alias("nc")),
    ).alias("p")
    p1 = (
        pool.select("qid", "cid", (F.lit(lam) * F.col("rel")).alias("score"))
        .groupBy("qid")
        .agg(argmax)
        .select("qid", F.col("p.cid").alias("c1"), F.col("p.score").alias("s1"))
    )
    r2 = (
        pool.join(F.broadcast(p1), "qid")
        .where(F.col("cid") != F.col("c1"))
        .join(
            sims.withColumnRenamed("ca", "cid").withColumnRenamed("cb", "c1"),
            ["qid", "cid", "c1"],
        )
        .select(
            "qid",
            "cid",
            (F.lit(lam) * F.col("rel") - F.lit(inv) * F.col("sim")).alias("score"),
        )
    )
    p2 = (
        r2.groupBy("qid")
        .agg(argmax)
        .select("qid", F.col("p.cid").alias("c2"), F.col("p.score").alias("s2"))
    )
    s1j = sims.select(
        "qid", F.col("ca").alias("cid"), F.col("cb").alias("c1"), F.col("sim").alias("sim1")
    )
    s2j = sims.select(
        "qid", F.col("ca").alias("cid"), F.col("cb").alias("c2"), F.col("sim").alias("sim2")
    )
    r3 = (
        pool.join(F.broadcast(p1), "qid")
        .join(F.broadcast(p2), "qid")
        .where((F.col("cid") != F.col("c1")) & (F.col("cid") != F.col("c2")))
        .join(s1j, ["qid", "cid", "c1"])
        .join(s2j, ["qid", "cid", "c2"])
        .select(
            "qid",
            "cid",
            (
                F.lit(lam) * F.col("rel")
                - F.lit(inv) * F.greatest(F.col("sim1"), F.col("sim2"))
            ).alias("score"),
        )
    )
    p3 = (
        r3.groupBy("qid")
        .agg(argmax)
        .select("qid", F.col("p.cid").alias("c3"), F.col("p.score").alias("s3"))
    )

    def present(frame: DataFrame, pick: int, ccol: str, scol: str) -> DataFrame:
        return frame.select(
            "qid",
            F.lit(pick).cast("int").alias("pick"),
            F.col(ccol).alias("cid"),
            (F.col(scol).cast("double") / 1e7).alias("mmr_score"),
        )

    return (
        present(p1, 1, "c1", "s1")
        .unionByName(present(p2, 2, "c2", "s2"))
        .unionByName(present(p3, 3, "c3", "s3"))
    )


# --- Johnson-Lindenstrauss random projection --------------------------------

#: JL target dimensionality (64 -> 16): the data-INDEPENDENT dimension
#: reduction — no training pass, unlike PCA; the standard pre-LSH shrink.
JL_OUT = 16


def _jl_signs() -> list[list[int]]:
    """The ±1 projection matrix, content-addressed: s[d][j] = +1 iff the
    first md5 hex digit of ``jl:{j}:{d}`` is < 8 — deterministic across
    engines, runs and cluster layouts, and regenerable from the rule alone
    (no stored model). Achlioptas (2003, public) proved ±1 entries satisfy
    the JL lemma with the same guarantees as Gaussians."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"jl:{j}:{d}".encode()).hexdigest()[0], 16) < 8
            else -1
            for j in range(1, DIM + 1)
        ]
        for d in range(JL_OUT)
    ]


JL_SIGNS = _jl_signs()


def _jl_signs_values_sql() -> str:
    rows = ", ".join(
        f"({j + 1}, {d}, {JL_SIGNS[d][j]})"
        for d in range(JL_OUT)
        for j in range(DIM)
    )
    return f"(VALUES {rows}) signs(j, d, s)"


@register(
    "embedding_jl_projection",
    f"""
WITH expl AS (
  SELECT vec_id, i.i AS j,
         CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1000000, 0) AS BIGINT)
           AS q
  FROM embeddings, (SELECT unnest(range(1, {DIM + 1})) AS i) i
)
SELECT vec_id, CAST(d AS INT) AS out_dim,
       CAST(sum(s * q) AS BIGINT) AS y_micro
FROM expl JOIN {_jl_signs_values_sql()} USING (j)
GROUP BY vec_id, d
""",
    doc=f"Johnson-Lindenstrauss random projection {DIM}->{JL_OUT}: "
    "content-addressed ±1 matrix (Achlioptas), inputs quantized to exact "
    "integer micro-units so every projected coordinate is an exact "
    "integer sum — order-free, bit-identical across engines",
)
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-independent half of the dimension-reduction pair:
    ``embedding_pca_power`` learns directions from the data (a training
    pass + an apply pass); JL projects through a FIXED random ±1 matrix
    (Achlioptas' database-friendly variant of Johnson-Lindenstrauss,
    public) — no training, distances preserved within the JL distortion
    bound with high probability, which is exactly what a downstream LSH
    or ANN index needs from a cheap shrink. The matrix is
    content-addressed (md5 of ``jl:{{j}}:{{d}}``), so any engine on any
    layout regenerates it from the rule — the bootstrap/DP-noise
    hash-determinism discipline applied to a model artifact.

    Float discipline: each input coordinate is quantized ONCE to integer
    micro-units (round half-away-from-zero of x·10^6 — identical in both
    engines); every projected coordinate is then an exact ±1-weighted
    integer sum — no float reduction anywhere, so the output is
    bit-identical regardless of fold order or parallelism.

    Scale shape: pure columnar map — ``transform`` quantizes the array,
    :data:`JL_OUT` ``zip_with``/``aggregate`` folds against LITERAL sign
    arrays compute the coordinates JVM-side with zero joins and zero
    shuffles; the only row growth is the final explode to long format
    (×:data:`JL_OUT`, emitted after the folds). The oracle mirrors via a
    1024-row VALUES sign table; the Spark plan never materializes it.

    Reference analog: none (extension surface — similarity family,
    beside `embedding_pca_power`/`_project`).
    """
    e = table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000000, 0).cast("bigint"),
    )
    qd = e.select("vec_id", q.alias("q"))
    outs = []
    for d in range(JL_OUT):
        sign_arr = F.array(*[F.lit(s) for s in JL_SIGNS[d]])
        y = F.aggregate(
            F.zip_with(F.col("q"), sign_arr, lambda a, b: a * b.cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        outs.append(F.struct(F.lit(d).cast("int").alias("out_dim"), y.alias("y_micro")))
    return qd.select(
        "vec_id", F.explode(F.array(*outs)).alias("o")
    ).select("vec_id", "o.out_dim", "o.y_micro")


#: radius for range search: every corpus vector with cosine >= this is a
#: hit (FAISS range_search semantics — result count is data-driven, not k)
RANGE_COS_T = 0.25


@register(
    "similarity_range_search",
    f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS eq FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id AS cid, embedding AS ec FROM embeddings WHERE vec_id >= 5
), scored AS (
  SELECT q.qid, c.cid,
         round(sum(CAST(eq[i] AS DOUBLE) * CAST(ec[i] AS DOUBLE))
               / (sqrt(sum(CAST(eq[i] AS DOUBLE) * CAST(eq[i] AS DOUBLE)))
                  * sqrt(sum(CAST(ec[i] AS DOUBLE) * CAST(ec[i] AS DOUBLE)))), 6)
           AS cosine
  FROM q, c, (SELECT unnest(range(1, {DIM + 1})) AS i)
  GROUP BY q.qid, c.cid
)
SELECT qid, cid, cosine FROM scored WHERE cosine >= {RANGE_COS_T}
""",
    doc=f"range search (FAISS range_search semantics): every corpus vector "
    f"within cosine >= {RANGE_COS_T} of the query batch, by exact "
    "broadcast-scan — zero shuffle, recall 1.0 by construction; banding "
    "is documented as the HIGH-radius tier only",
)
def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RADIUS dual of the top-k probes: "EVERYTHING at least this
    similar, however many" — the FAISS ``range_search`` API, what
    find-all-near-copies retrieval and threshold-gated RAG recall want.

    Tier choice is a MEASURED decision, not a default: at a low radius
    like :data:`RANGE_COS_T` = 0.25, hyperplane banding is structurally
    useless — per-band collision probability for a 75° angle is
    ~(1−θ/π)^r ≈ 0.3% per 11-bit band (measured on the fixture: 1/55
    true hits surfaced — 2% recall), because LSH concentrates recall
    near cos → 1. So the low-radius tier is the EXACT broadcast scan:
    the query batch (bounded, here 5 vectors) broadcasts onto the
    corpus scan, the cosine is a JVM-side column reduction, and the
    radius filter is a row-local predicate — ZERO shuffle, perfectly
    parallel, output exact. At 100 TB this costs one full corpus scan
    per query batch — the same bill any index would largely pay at low
    radius, since low-similarity hits are spread across every cell/
    bucket. For HIGH radii (cos ≥ ~0.8, dedup-style), the banded
    candidate path is the right tier and already exists as
    ``dedup_embedding_cosine`` (threshold pairing) /
    ``similarity_lsh_topk`` (probe) with recall measured on planted
    dups in tests/test_recall.py.

    Reference analog: none (extension surface — similarity family).
    """
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("emb_q")
    )
    c = e.where(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("emb_c")
    )
    return (
        c.crossJoin(F.broadcast(q))
        .select(
            "qid",
            "cid",
            F.round(cosine(F.col("emb_q"), F.col("emb_c")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= RANGE_COS_T)
    )
