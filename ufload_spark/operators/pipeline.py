"""End-to-end training-corpus curation: the flagship extension composition.

A real pretraining data pipeline chains the extension operators this repo
provides individually: quality filtering → language ID → exact dedup →
near-duplicate removal → per-source token budgeting. This module composes
them into ONE DataFrame plan (each stage is the same expression the
standalone query uses, so the stitched DuckDB oracle is assembled from the
same SQL fragments) and registers it as a single query — proving the
operators compose, not just pass in isolation.

Plan shape at 100 TB: stages 1–3 are narrow maps + one window over the
fingerprint key; stage 4 reuses the MinHash-LSH candidate machinery (its
own shuffles are on band keys, bounded by collision rate); the final
anti-join on doc_id is left to AQE — real corpora drop 10–50% of documents
at the near-dup stage, so the dropped-id set is NOT broadcastable at scale
(billions of ids); AQE picks broadcast only when the runtime size allows;
stage 5 is a partial-aggregated groupBy on source.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ufload_spark.operators.dedup import (
    _minhash_sigs,
    band_melt,
    dedup_minhash_lsh_pairs,
    exact_index,
    minhash_collided,
    text_fingerprint,
)
from ufload_spark.operators.textops import _TOKENS_SQL, token_count
from ufload_spark.operators.textops import _TRIGRAM_RE
from ufload_spark.plans.registry import QUERIES, register
from ufload_spark.sources.tables import in_batch, spread, table

MIN_TOKENS = 10
MAX_PUNCT_RATIO = 0.30
MIN_TRIGRAM_DENSITY = 0.02
NEAR_DUP_SIM = 0.5  # ≥ 4 of 8 minhashes agree

_PUNCT_RATIO_SQL = (
    "(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))"
    " / nullif(CAST(length(text) AS DOUBLE), 0)"
)
_TRIGRAM_DENSITY_SQL = (
    f"len(regexp_extract_all(lower(text), '({_TRIGRAM_RE})'))"
    " / nullif(CAST(length(text) AS DOUBLE), 0)"
)


def _survivors_sql() -> str:
    """CTE chain ending in ``survivors(doc_id, source, n_tokens)`` — the
    curated document set both composed pipelines build on. The near-dup
    pair list IS the standalone LSH query's oracle, nested as a subquery
    so all pipelines share one definition."""
    lsh_sql = QUERIES["dedup_minhash_lsh_pairs"].oracle
    return f"""
WITH kept AS (
  SELECT doc_id, source, {_TOKENS_SQL} AS n_tokens,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
  WHERE {_TOKENS_SQL} >= {MIN_TOKENS}
    AND coalesce({_PUNCT_RATIO_SQL}, 1.0) < {MAX_PUNCT_RATIO}
    AND coalesce({_TRIGRAM_DENSITY_SQL}, 0.0) > {MIN_TRIGRAM_DENSITY}
), exact_deduped AS (
  SELECT doc_id, source, n_tokens FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
), near_dropped AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM ({lsh_sql}) WHERE est_sim >= {NEAR_DUP_SIM}
), survivors AS (
  SELECT doc_id, source, n_tokens FROM exact_deduped d
  WHERE NOT EXISTS (SELECT 1 FROM near_dropped x WHERE x.doc_id = d.doc_id)
)
"""


def _curate_oracle() -> str:
    return (
        _survivors_sql()
        + """
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM survivors GROUP BY source
"""
    )


@register(
    "pipeline_curate_documents",
    _curate_oracle(),
    doc="end-to-end corpus curation: quality filter → language ID → exact "
    "dedup → LSH near-dup drop → per-source token budget, one plan",
)
def pipeline_curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline. Stage expressions are identical to the
    standalone queries' (text_quality_score, text_ngram_lang_id,
    text_fingerprint, dedup_minhash_lsh_pairs), so this checks composition,
    ordering, and the anti-join seam — the places a pipeline actually
    breaks."""
    survivors = curated_documents(spark, sf_dir)
    return survivors.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


def _quality_terms() -> tuple[Column, Column, Column]:
    """Token count, punctuation ratio and trigram density of ``text``, as
    doubles — the inputs of the quality rules both batch pipelines apply."""
    toks = token_count(F.col("text")).cast("double")
    punct = (
        F.length("text") - F.length(F.regexp_replace("text", "[.,;:!?]", ""))
    ).cast("double")
    punct_ratio = punct / F.nullif(F.length("text").cast("double"), F.lit(0.0))
    tri_hits = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(f"({_TRIGRAM_RE})"), 0)
    ).cast("double")
    tri_density = tri_hits / F.nullif(F.length("text").cast("double"), F.lit(0.0))
    return toks, punct_ratio, tri_density


def curated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``survivors(doc_id, source, n_tokens)``: quality filter → exact
    dedup → LSH near-dup drop, as ONE plan (the Spark twin of
    :func:`_survivors_sql`)."""
    # spread: the quality filter's regex passes + fingerprint md5 are
    # the heavy per-row work and run ABOVE the 1-split fixture scan; the
    # repartition parallelizes them and is a no-op at real split counts.
    d = spread(
        table(spark, sf_dir, "documents"), "doc_id", src=(sf_dir, "documents")
    )

    toks, punct_ratio, tri_density = _quality_terms()

    kept = d.where(
        (toks >= MIN_TOKENS)
        & (F.coalesce(punct_ratio, F.lit(1.0)) < MAX_PUNCT_RATIO)
        & (F.coalesce(tri_density, F.lit(0.0)) > MIN_TRIGRAM_DENSITY)
    ).select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("n_tokens"),
        text_fingerprint().alias("fp"),
    )

    w = Window.partitionBy("fp").orderBy("doc_id")
    exact_deduped = (
        kept.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "source", "n_tokens")
    )

    near_dropped = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .where(F.col("est_sim") >= NEAR_DUP_SIM)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )

    # No broadcast hint: the dropped-id set scales with the corpus (10-50%
    # of documents on real data), so a forced BroadcastExchange is a
    # scale-killer; AQE converts to broadcast at runtime when it fits.
    return exact_deduped.join(near_dropped, "doc_id", "left_anti")


#: export parameters — mirror the corpus module's machinery
EXPORT_VAL_PCT = 10
EXPORT_PACK_BUDGET = 512

_EXPORT_BUCKET_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100"


@register(
    "pipeline_training_export",
    _survivors_sql()
    + f"""
, labeled AS (
  SELECT s.doc_id, s.source, s.n_tokens, d.lang,
         CASE WHEN {_EXPORT_BUCKET_SQL} < {EXPORT_VAL_PCT}
              THEN 'val' ELSE 'train' END AS split
  FROM survivors s JOIN documents d USING (doc_id)
)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(ceil(sum(n_tokens) / {EXPORT_PACK_BUDGET}.0) AS BIGINT) AS n_packs
FROM labeled GROUP BY split, lang
""",
    doc="end-to-end training export audit: curated survivors → "
    "content-addressed train/val split → per-(split, lang) doc/token/pack "
    "counts, one plan",
)
def pipeline_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest a training run consumes: the CURATED corpus (quality →
    exact dedup → near-dup drop, shared with ``pipeline_curate_documents``)
    joined back for language, split with the same content-addressed buckets
    as ``corpus_train_val_split``, and rolled up to per-(split, lang)
    document/token/sequence-pack counts (offset packing ⇒ packs =
    ⌈tokens/budget⌉, no window needed at this granularity). In production
    the write is ``survivors.write.partitionBy("split", "lang")`` through
    the staged loader — this query IS that job's audit aggregate, so the
    oracle validates the whole composition."""
    d = table(spark, sf_dir, "documents")
    survivors = curated_documents(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    labeled = survivors.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "n_tokens",
        "lang",
        F.when(bucket < EXPORT_VAL_PCT, "val").otherwise("train").alias("split"),
    )
    return labeled.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.ceil(F.sum("n_tokens") / float(EXPORT_PACK_BUDGET))
        .cast("bigint")
        .alias("n_packs"),
    )


@register(
    "pipeline_filter_attrition",
    f"""
WITH flags AS (
  SELECT doc_id,
         ({_TOKENS_SQL} >= {MIN_TOKENS}) AS f_tok,
         (coalesce({_PUNCT_RATIO_SQL}, 1.0) < {MAX_PUNCT_RATIO}) AS f_punct,
         (coalesce({_TRIGRAM_DENSITY_SQL}, 0.0) > {MIN_TRIGRAM_DENSITY})
           AS f_tri,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
), kept AS (
  SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM flags WHERE f_tok AND f_punct AND f_tri
), near_dropped AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM ({{lsh}}) WHERE est_sim >= {NEAR_DUP_SIM}
), agg AS (
  SELECT
    (SELECT count(*) FROM flags) AS n_input,
    (SELECT count(*) FROM flags WHERE f_tok) AS s1,
    (SELECT count(*) FROM flags WHERE f_tok AND f_punct) AS s2,
    (SELECT count(*) FROM flags WHERE f_tok AND f_punct AND f_tri) AS s3,
    (SELECT count(*) FROM kept WHERE rn = 1) AS s4,
    (SELECT count(*) FROM kept k WHERE rn = 1 AND NOT EXISTS
       (SELECT 1 FROM near_dropped x WHERE x.doc_id = k.doc_id)) AS s5
)
SELECT CAST(stage_no AS INT) AS stage_no, stage,
       CAST(survivors AS BIGINT) AS survivors,
       CAST(dropped AS BIGINT) AS dropped
FROM (
  SELECT 1 AS stage_no, 'input' AS stage, n_input AS survivors, 0 AS dropped
  FROM agg
  UNION ALL SELECT 2, 'min_tokens', s1, n_input - s1 FROM agg
  UNION ALL SELECT 3, 'punct_ratio', s2, s1 - s2 FROM agg
  UNION ALL SELECT 4, 'trigram_density', s3, s2 - s3 FROM agg
  UNION ALL SELECT 5, 'exact_dedup', s4, s3 - s4 FROM agg
  UNION ALL SELECT 6, 'near_dedup', s5, s4 - s5 FROM agg
)
""".replace("{lsh}", QUERIES["dedup_minhash_lsh_pairs"].oracle),
    doc="curation funnel audit: per-stage survivor/drop counts through the "
    "exact rule chain pipeline_curate_documents applies — the attrition "
    "report every data-pipeline review starts from",
)
def pipeline_filter_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where do documents GO? The curation pipeline's rules, re-applied as
    a cumulative funnel with one row per stage: survivors after the stage
    and how many that stage dropped. Rule expressions are character-
    identical to ``pipeline_curate_documents`` (same constants, same
    fragments), so the final stage's survivor count IS the pipeline's
    output cardinality — an attrition report that can't drift from the
    pipeline it audits.

    Plan shape: one scan computes all three quality flags per doc
    (conditional count_if partials — no per-rule scans); the exact-dup
    stage is the same fingerprint window; near-dup reuses the LSH pair
    machinery; the six stage rows unpivot from a single-row aggregate via
    ``stack``. At 100 TB this is strictly cheaper than the pipeline
    itself — the audit never materializes a survivor set.

    Reference analog: none (extension surface — pipeline family).
    """
    d = table(spark, sf_dir, "documents")
    toks, punct_ratio, tri_density = _quality_terms()

    flags = d.select(
        "doc_id",
        (toks >= MIN_TOKENS).alias("f_tok"),
        (F.coalesce(punct_ratio, F.lit(1.0)) < MAX_PUNCT_RATIO).alias("f_punct"),
        (F.coalesce(tri_density, F.lit(0.0)) > MIN_TRIGRAM_DENSITY).alias("f_tri"),
        text_fingerprint().alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = (
        flags.where(F.col("f_tok") & F.col("f_punct") & F.col("f_tri"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id")
    )
    near_dropped = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .where(F.col("est_sim") >= NEAR_DUP_SIM)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    base = flags.agg(
        F.count("*").alias("n_input"),
        F.count_if("f_tok").alias("s1"),
        F.count_if(F.col("f_tok") & F.col("f_punct")).alias("s2"),
        F.count_if(F.col("f_tok") & F.col("f_punct") & F.col("f_tri")).alias("s3"),
    )
    s4 = kept.agg(F.count("*").alias("s4"))
    s5 = kept.join(near_dropped, "doc_id", "left_anti").agg(
        F.count("*").alias("s5")
    )
    one = base.crossJoin(s4).crossJoin(s5)
    return one.select(
        F.expr(
            "stack(6,"
            " 1, 'input',           n_input, cast(0 as bigint),"
            " 2, 'min_tokens',      s1,      n_input - s1,"
            " 3, 'punct_ratio',     s2,      s1 - s2,"
            " 4, 'trigram_density', s3,      s2 - s3,"
            " 5, 'exact_dedup',     s4,      s3 - s4,"
            " 6, 'near_dedup',      s5,      s4 - s5"
            ") AS (stage_no, stage, survivors, dropped)"
        )
    )


def _ingest_quality_sql() -> str:
    return (
        f"{_TOKENS_SQL} >= {MIN_TOKENS}"
        f" AND coalesce({_PUNCT_RATIO_SQL}, 1.0) < {MAX_PUNCT_RATIO}"
        f" AND coalesce({_TRIGRAM_DENSITY_SQL}, 0.0) > {MIN_TRIGRAM_DENSITY}"
    )


def _ingest_oracle() -> str:
    from ufload_spark.operators.dedup import _MINHASH_SIGS_SQL, _band_keys_sql

    return (
        _MINHASH_SIGS_SQL
        + f"""
, meta AS (
  SELECT doc_id, source, {_TOKENS_SQL} AS n_tokens,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         CASE WHEN {_ingest_quality_sql()} THEN 1 ELSE 0 END AS ok
  FROM documents
), batchm AS (
  SELECT * FROM meta WHERE doc_id % 4 = 0
), corpus_fp AS (
  SELECT DISTINCT fp FROM meta WHERE doc_id % 4 <> 0
), exact_novel AS (
  SELECT doc_id, source, n_tokens FROM (
    SELECT q.*, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM (SELECT * FROM batchm WHERE ok = 1) q
    ANTI JOIN corpus_fp USING (fp)
  ) WHERE rn = 1
), batch_keys AS (
{_band_keys_sql('(SELECT s.* FROM sigs s SEMI JOIN exact_novel e USING (doc_id))')}
), existing_keys AS (
{_band_keys_sql('(SELECT * FROM sigs WHERE doc_id % 4 <> 0)')}
), collided AS (
  SELECT DISTINCT bk.doc_id
  FROM batch_keys bk JOIN existing_keys ek
    ON bk.band = ek.band AND bk.k1 = ek.k1 AND bk.k2 = ek.k2
), admitted AS (
  SELECT e.* FROM exact_novel e
  WHERE e.doc_id NOT IN (SELECT doc_id FROM collided)
)
SELECT b.source,
       CAST(count(*) AS BIGINT) AS n_submitted,
       CAST(sum(b.ok) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_novel,
       CAST(sum(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_admitted,
       CAST(coalesce(sum(CASE WHEN a.doc_id IS NOT NULL
                               THEN b.n_tokens END), 0) AS BIGINT)
         AS admitted_tokens
FROM batchm b
LEFT JOIN exact_novel e ON e.doc_id = b.doc_id
LEFT JOIN admitted a ON a.doc_id = b.doc_id
GROUP BY b.source
"""
    )


@register(
    "pipeline_incremental_ingest",
    _ingest_oracle(),
    doc="the ingest-batch funnel, composed from the INCREMENTAL tiers: "
    "quality gate → persisted exact-fingerprint gate (+ intra-batch "
    "dedup) → persisted MinHash band gate; per-source census of every "
    "stage — the nightly admission report of a growing corpus",
)
def pipeline_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pipeline_curate_documents` is the BATCH recompute of the whole
    corpus; this is what actually runs nightly on a growing one — the
    composed ingest gate for ONE batch, built from the incremental tiers
    the families already own: the batch's documents pass the quality
    predicates (same expressions as the curate pipeline), then the exact
    gate (`dedup_exact_incremental`'s persisted fingerprint set, shared
    via the same memo-published table, plus intra-batch keep-min-doc_id),
    then the near-dup gate (`dedup_minhash_incremental`'s band-key
    anti-join against the corpus signature table; only EXACT-NOVEL batch
    docs are probed — each stage shrinks the next stage's input). Output
    is the per-source funnel census: submitted → quality → exact-novel →
    admitted, with admitted token mass — the admission report a corpus
    owner reads every morning.

    Scale shape: every stage is batch-sized (the corpus contributes only
    persisted-table scans); the funnel flags are two left joins on
    doc_id; the census is one source-keyed aggregate. The corpus is
    never re-hashed, re-shingled, or re-scanned beyond its indexes.

    Reference analog: none (extension surface — composed pipeline
    family, the ingest dual of pipeline_curate_documents).
    """
    from ufload_spark.sources.loader import memo_read

    d = table(spark, sf_dir, "documents")
    punct_ratio = (
        F.length("text")
        - F.length(F.regexp_replace("text", "[.,;:!?]", ""))
    ) / F.nullif(F.length("text").cast("double"), F.lit(0.0))
    tri_density = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(f"({_TRIGRAM_RE})"), 0)
    ) / F.nullif(F.length("text").cast("double"), F.lit(0.0))
    ok = (
        (token_count(F.col("text")) >= MIN_TOKENS)
        & (F.coalesce(punct_ratio, F.lit(1.0)) < MAX_PUNCT_RATIO)
        & (F.coalesce(tri_density, F.lit(0.0)) > MIN_TRIGRAM_DENSITY)
    )
    meta = d.select(
        "doc_id",
        "source",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        text_fingerprint().alias("fp"),
        F.when(ok, 1).otherwise(0).alias("ok"),
    )
    batchm = meta.where(in_batch())

    # stage 2: the SAME persisted fingerprint set dedup_exact_incremental
    # and the streaming ingest gate read (one index, one builder)
    corpus_fp = exact_index(spark, sf_dir, "fp")
    w = Window.partitionBy("fp").orderBy("doc_id")
    exact_novel = (
        batchm.where(F.col("ok") == 1)
        .join(corpus_fp, "fp", "left_anti")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "source", "n_tokens")
    )

    # stage 3: the corpus band-key table (persisted once), probed by the
    # exact-novel survivors' own signatures only
    sigs = _minhash_sigs(spark, sf_dir)
    existing_keys = memo_read(
        spark,
        "minhash_corpus_band_keys",
        sf_dir,
        lambda: band_melt(sigs.where(~in_batch()))
        .select("band", "k1", "k2")
        .distinct(),
    )
    collided = minhash_collided(
        sigs.join(
            exact_novel.select("doc_id").hint("broadcast"), "doc_id", "left_semi"
        ),
        existing_keys,
    )
    admitted = exact_novel.join(collided, "doc_id", "left_anti")

    e_flag = exact_novel.select("doc_id", F.lit(1).alias("is_exact_novel"))
    a_flag = admitted.select("doc_id", F.lit(1).alias("is_admitted"))
    funnel = (
        batchm.join(e_flag, "doc_id", "left")
        .join(a_flag, "doc_id", "left")
    )
    return funnel.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_submitted"),
        F.sum("ok").cast("bigint").alias("n_quality"),
        F.sum(F.coalesce("is_exact_novel", F.lit(0)))
        .cast("bigint")
        .alias("n_exact_novel"),
        F.sum(F.coalesce("is_admitted", F.lit(0)))
        .cast("bigint")
        .alias("n_admitted"),
        F.coalesce(
            F.sum(
                F.when(F.col("is_admitted") == 1, F.col("n_tokens"))
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("admitted_tokens"),
    )
