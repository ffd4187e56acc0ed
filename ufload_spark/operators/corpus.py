"""Corpus-preparation operators a training-data pipeline runs after
filtering/dedup (extension surface): PII scrubbing, deterministic
train/validation splitting, stratified sampling, sequence packing, and
language rebalancing.

Everything here is shuffle-minimal and deterministic under parallelism:

- PII scrub is a narrow map (regexp machinery, JVM-side).
- Splits and samples are CONTENT-ADDRESSED (md5 of the id), not random():
  the assignment is reproducible across runs, cluster sizes, and engines —
  the property a 100 TB pipeline needs so reruns don't reshuffle the split.
- Sequence packing is one partitioned window (cumulative tokens per
  source) — no global sort.
- Rebalancing is an aggregate + broadcast join of per-language factors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ufload_spark.operators.textops import _TOKENS_SQL, token_count
from ufload_spark.plans.registry import register
from ufload_spark.sources.tables import spread, table

# --- PII scrubbing ---------------------------------------------------------

#: conservative patterns: emails, dotted-quad IPs, international-ish phones
_EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
_IP_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
_PHONE_RE = r"\+[0-9]{1,3}[ \-][0-9]{3,4}[ \-][0-9]{4,7}"

#: the fixture text is synthetic word soup with no PII, so each doc gets a
#: deterministic injected contact line — both engines inject identically,
#: which is what lets the oracle check the scrub exactly
_INJECT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-'"
    " || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' host 10.0.' "
    "|| CAST(doc_id % 256 AS VARCHAR) || '.7'"
)


def _injected(d: DataFrame) -> Column:
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit(" host 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )


@register(
    "corpus_pii_scrub",
    f"""
WITH raw AS (SELECT doc_id, {_INJECT_SQL} AS t FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_IP_RE}')) AS INT) AS n_ips,
       CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
             '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_IP_RE}', '<IP>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g')) AS clean_hash
FROM raw
""",
    doc="PII scrubbing: count + redact emails/IPs/phones; the redacted "
    "text's md5 pins the exact rewrite",
)
def corpus_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction pass every public-web corpus runs before training. Counts
    each PII class and replaces it with a typed placeholder; the md5 of the
    scrubbed text makes the oracle verify the REWRITE, not just the counts.
    Narrow map — linear at any scale; on a pathologically-small split
    count (the 1-row-group fixture) :func:`spread` hash-repartitions
    once so the four regex passes run on every core instead of one, and is
    a structural no-op when the corpus arrives in thousands of splits."""
    d = spread(
        table(spark, sf_dir, "documents"), "doc_id", src=(sf_dir, "documents")
    )
    t = _injected(d)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _IP_RE, "<IP>"
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(t, F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(t, F.lit(_IP_RE)).cast("int").alias("n_ips"),
        F.regexp_count(t, F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.md5(scrubbed).alias("clean_hash"),
    )


# --- deterministic train/val split ----------------------------------------

VAL_PCT = 10  # 10% validation

#: content-addressed bucket in [0, 100): first 4 md5 hex chars of the id
_BUCKET_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100"


def _bucket() -> Column:
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )


@register(
    "corpus_train_val_split",
    f"""
SELECT source,
       CASE WHEN {_BUCKET_SQL} < {VAL_PCT} THEN 'val' ELSE 'train' END AS split,
       count(*) AS n_docs,
       CAST(sum({_TOKENS_SQL}) AS BIGINT) AS n_tokens
FROM documents
GROUP BY 1, 2
""",
    doc=f"deterministic {100 - VAL_PCT}/{VAL_PCT} train/val split by "
    "md5(doc_id) bucket, counted per source",
)
def corpus_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucket splitting: the assignment depends only on the id, so it
    is stable across reruns, engines, and cluster layouts — unlike
    ``rand()``-based splits, which reshuffle every run and silently leak
    val docs into train on retries. One aggregate, no extra shuffle."""
    d = table(spark, sf_dir, "documents")
    split = F.when(_bucket() < VAL_PCT, "val").otherwise("train")
    return d.groupBy("source", split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
    )


# --- stratified sampling ---------------------------------------------------

SAMPLE_PCT = 20


@register(
    "corpus_stratified_sample",
    f"""
SELECT doc_id, source FROM documents
WHERE {_BUCKET_SQL} < {SAMPLE_PCT}
""",
    doc=f"deterministic {SAMPLE_PCT}% per-source sample by md5(doc_id) "
    "bucket (content-addressed, rerun-stable)",
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-eyeballing / eval subsets are drawn per source with the same
    content-addressed buckets as the split — a doc's sample membership
    never changes when the corpus grows. Pure filter: pushes to the scan,
    no shuffle at all."""
    d = table(spark, sf_dir, "documents")
    return d.where(_bucket() < SAMPLE_PCT).select("doc_id", "source")


# --- sequence packing ------------------------------------------------------

PACK_BUDGET = 512  # tokens per training sequence


@register(
    "corpus_pack_sequences",
    f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKENS_SQL} AS n_tokens FROM documents
), cum AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prior_tokens
  FROM toks
)
SELECT source,
       CAST(coalesce(prior_tokens, 0) // {PACK_BUDGET} AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
FROM cum
GROUP BY 1, 2
""",
    doc=f"sequence packing: offset-packed {PACK_BUDGET}-token training "
    "windows per source via one partitioned cumulative window",
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences: pack_id =
    floor(prior cumulative tokens / budget) within each source, docs in
    doc_id order. This is OFFSET packing — a doc straddling a boundary
    belongs to the pack where it starts (concat-and-chunk pipelines split
    the text at the boundary; greedy bin packing would need sequential
    state). One window partitioned by source — the cumsum shuffles each
    source's docs once, no global sort."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", token_count(F.col("text")).alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = toks.withColumn(
        "prior_tokens", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return cum.groupBy(
        "source",
        F.floor(F.col("prior_tokens") / PACK_BUDGET).cast("bigint").alias("pack_id"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
    )


# --- language rebalancing --------------------------------------------------

LANG_CAP_PCT = 40  # no language may exceed this share of kept tokens


@register(
    "corpus_language_rebalance",
    f"""
WITH per_lang AS (
  SELECT lang, CAST(sum({_TOKENS_SQL}) AS BIGINT) AS lang_tokens
  FROM documents GROUP BY lang
), tot AS (SELECT sum(lang_tokens) AS total_tokens FROM per_lang)
SELECT lang, lang_tokens,
       round(lang_tokens / CAST(total_tokens AS DOUBLE), 6) AS share,
       round(least(1.0, ({LANG_CAP_PCT} / 100.0) * total_tokens
                        / CAST(lang_tokens AS DOUBLE)), 6) AS keep_factor
FROM per_lang, tot
""",
    doc=f"language rebalancing: per-language token share and the keep "
    f"factor that caps any language at {LANG_CAP_PCT}% of the corpus",
)
def corpus_language_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual mixes cap dominant languages: compute each language's
    token share and the downsampling factor that brings it under the cap.
    The per-language table is tiny (one row per language) — the total joins
    back by broadcast; applying the factor downstream is a content-addressed
    sample with threshold keep_factor, same machinery as the split."""
    d = table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(
        F.sum(token_count(F.col("text"))).cast("bigint").alias("lang_tokens")
    )
    tot = per_lang.agg(F.sum("lang_tokens").alias("total_tokens"))
    keep = F.least(
        F.lit(1.0),
        (F.lit(LANG_CAP_PCT) / 100.0)
        * F.col("total_tokens")
        / F.col("lang_tokens").cast("double"),
    )
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "lang_tokens",
        F.round(F.col("lang_tokens") / F.col("total_tokens").cast("double"), 6).alias(
            "share"
        ),
        F.round(keep, 6).alias("keep_factor"),
    )


#: the held-out benchmark: one source's documents stand in for an eval set
_BENCH_SOURCE = "src0"


@register(
    "corpus_contamination_overlap",
    r"""
WITH tokens AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM tokens WHERE len(toks) >= 3
), bench AS (
  SELECT DISTINCT s.shingle FROM sh s
  JOIN documents d ON d.doc_id = s.doc_id WHERE d.source = 'src0'
), cand AS (
  SELECT s.doc_id, s.shingle FROM sh s
  JOIN documents d ON d.doc_id = s.doc_id WHERE d.source <> 'src0'
), tot AS (
  SELECT doc_id, count(*) AS n_total FROM cand GROUP BY doc_id
), hits AS (
  SELECT c.doc_id, count(*) AS n_overlap FROM cand c
  JOIN bench b ON c.shingle = b.shingle GROUP BY c.doc_id
)
SELECT t.doc_id, h.n_overlap, t.n_total,
       round(h.n_overlap * 1.0 / t.n_total, 6) AS contamination
FROM tot t JOIN hits h ON h.doc_id = t.doc_id
""",
    doc="train/eval contamination check: per-document fraction of distinct "
    "word-3-grams shared with a held-out benchmark source",
)
def corpus_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection — the pre-training audit that keeps
    eval sets out of the training corpus. The held-out set (here: every
    document from one source) is reduced to its distinct shingle set; each
    training candidate's distinct shingles join against it and the overlap
    fraction is reported for contaminated documents.

    Scale shape: the benchmark shingle set is BOUNDED BY CONSTRUCTION —
    an eval suite is a fixed artifact (thousands of documents → millions
    of shingles), it does not grow with the corpus — so it carries an
    explicit broadcast hint: without it, cardinality estimation through
    the distinct+join lineage overestimates and Catalyst picks a
    sort-merge join that reshuffles EVERY corpus shingle (the 100 TB
    scale-killer; plan pinned by tests/test_scale.py). This differs from
    the curation pipeline's dropped-id set, which scales with the corpus
    and must NOT be force-broadcast (the r1 lesson). The per-doc totals
    ride the doc_id exchange the shingle pipeline already made;
    threshold-and-drop composes as an anti-join downstream."""
    from ufload_spark.operators.dedup import shingles

    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    sh = shingles(spark, sf_dir, distinct=True).join(d, "doc_id")
    bench = (
        sh.where(F.col("source") == _BENCH_SOURCE).select("shingle").distinct()
    )
    cand = sh.where(F.col("source") != _BENCH_SOURCE).select("doc_id", "shingle")
    tot = cand.groupBy("doc_id").agg(F.count("*").alias("n_total"))
    hits = cand.join(F.broadcast(bench), "shingle").groupBy("doc_id").agg(
        F.count("*").alias("n_overlap")
    )
    return tot.join(hits, "doc_id").select(
        "doc_id",
        "n_overlap",
        "n_total",
        F.round(F.col("n_overlap") / F.col("n_total"), 6).alias("contamination"),
    )


#: shard count for the reproducible training shuffle — a layout knob like a
#: bucket count: scale with corpus so a shard stays one reader's unit of work
N_SHUFFLE_SHARDS = 16


@register(
    "corpus_shuffle_shards",
    f"""
WITH h AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents
)
SELECT doc_id,
       CAST(('0x' || substr(hh, 1, 4))::INT % {N_SHUFFLE_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (
              PARTITION BY ('0x' || substr(hh, 1, 4))::INT % {N_SHUFFLE_SHARDS}
              ORDER BY hh, doc_id) AS BIGINT) AS pos
FROM h
""",
    doc="reproducible training-order shuffle: content-addressed shard + "
    "within-shard hash order — no global sort, rerun- and engine-stable",
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last step before training export that the split/sample family
    implies but didn't have: a GLOBAL document shuffle that is (a)
    reproducible — order comes from md5(doc_id), so reruns, engines and
    cluster layouts agree (``rand()`` orderings silently reshuffle on
    retry), and (b) scalable — there is no global sort: the hash assigns
    each doc to one of N_SHUFFLE_SHARDS shards (first 16 bits, same
    '0x'||substr arithmetic the sampling family uses), and position is a
    row_number window PARTITIONED BY shard — an evenly-hashed shuffle whose
    per-partition sort is bounded by shard size, exactly the bucketed-sort
    shape `layout_bucketed_orderkey_join` proves exchange-free. A training
    reader consumes shard files in pos order and sees a source-interleaved,
    deterministic stream; re-shuffling between epochs is a salt on the
    hash, not a new global sort."""
    d = table(spark, sf_dir, "documents")
    hh = F.md5(F.col("doc_id").cast("string"))
    shard = (F.conv(F.substring(hh, 1, 4), 16, 10).cast("int") % N_SHUFFLE_SHARDS)
    w = Window.partitionBy("shard").orderBy("hh", "doc_id")
    return (
        d.select("doc_id", hh.alias("hh"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


# --- Paragraph-level boilerplate removal -----------------------------------

#: tokens per synthetic "paragraph" — the fixture text is single-line word
#: soup, so paragraph boundaries are synthesized as fixed 12-token chunks;
#: a real corpus splits on '\n\n' and the dataflow below is unchanged
PARA_TOKENS = 12
#: a paragraph present in at least this many distinct documents is
#: boilerplate (headers, footers, licence blocks in a real crawl)
PARA_DOC_FREQ = 2


@register(
    "corpus_paragraph_dedup",
    f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), paras AS (
  SELECT doc_id, g AS idx,
         array_to_string(list_slice(tk, g*{PARA_TOKENS}+1, (g+1)*{PARA_TOKENS}), ' ') AS para
  FROM (SELECT doc_id, tk,
               unnest(range(CAST(ceil(len(tk) / {PARA_TOKENS}.0) AS BIGINT))) AS g
        FROM toks)
), freq AS (
  SELECT md5(para) AS para_hash,
         count(DISTINCT doc_id) >= {PARA_DOC_FREQ} AS boiler
  FROM paras GROUP BY md5(para)
)
SELECT p.doc_id,
       CAST(count(*) AS INT) AS n_paras,
       CAST(sum(CASE WHEN f.boiler THEN 1 ELSE 0 END) AS INT) AS n_dropped,
       md5(coalesce(string_agg(CASE WHEN NOT f.boiler THEN p.para END,
                               ' ' ORDER BY p.idx), '')) AS clean_hash
FROM paras p JOIN freq f ON f.para_hash = md5(p.para)
GROUP BY p.doc_id
""",
    doc="paragraph-level boilerplate removal: drop paragraphs shared by >= "
    f"{PARA_DOC_FREQ} docs, md5 pins each rebuilt document",
)
def corpus_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup — the CCNet/RefinedWeb-style pass that removes
    repeated paragraphs (navigation chrome, licence boilerplate, quoted
    headers) while keeping the documents that carry them. Documents are
    chunked into fixed :data:`PARA_TOKENS`-token paragraphs (deterministic
    stand-in for blank-line splitting on the single-line fixtures), each
    paragraph is content-hashed, and a paragraph whose hash appears in
    ``>= PARA_DOC_FREQ`` distinct documents is dropped everywhere. The md5
    of each rebuilt document pins the exact rewrite, not just the counts.

    Scale shape: chunking is a narrow map (``transform`` over a token
    array, exploded); the document-frequency table is ONE shuffle on the
    paragraph hash; flagging is a hash-key equi-join back (the frequency
    side is corpus-derived, so like the curation pipeline's dropped-id set
    it is NOT hinted broadcast — AQE decides); the rebuild rides a single
    doc_id exchange with the order restored by ``array_sort`` over
    (idx, para) structs, never a global sort. Every step is linear in
    corpus bytes — the property paragraph dedup needs at 100 TB, where
    suffix-array approaches need cluster-global index builds.

    Reference analog: the reference has no sub-document operations; this is
    extension surface mandated by the training-data brief.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    tk = F.split(F.col("text"), " ")
    n_paras = F.ceil(F.size(tk) / F.lit(float(PARA_TOKENS))).cast("int")
    # zip_with against array_repeat(tk, ·) hoists the token split out of
    # the per-paragraph lambda: an expression referenced inside a
    # higher-order-function lambda re-evaluates per ELEMENT, which here
    # would re-split the whole document once per paragraph — O(len²)
    # (same hoist as similarity._quantized, where it was measured 8×)
    chunks = F.zip_with(
        F.sequence(F.lit(0), n_paras - 1),
        F.array_repeat(tk, n_paras),
        lambda g, t: F.array_join(F.slice(t, g * PARA_TOKENS + 1, PARA_TOKENS), " "),
    )
    paras = d.select("doc_id", F.posexplode(chunks).alias("idx", "para")).withColumn(
        "para_hash", F.md5("para")
    )
    freq = paras.groupBy("para_hash").agg(
        (F.count_distinct("doc_id") >= PARA_DOC_FREQ).alias("boiler")
    )
    flagged = paras.join(freq, "para_hash")
    kept = F.array_sort(
        F.collect_list(F.when(~F.col("boiler"), F.struct("idx", "para")))
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_paras"),
        F.sum(F.when(F.col("boiler"), 1).otherwise(0)).cast("int").alias("n_dropped"),
        F.md5(
            F.array_join(F.transform(kept, lambda s: s["para"]), " ")
        ).alias("clean_hash"),
    )


# --- dataset card ----------------------------------------------------------


@register(
    "corpus_dataset_card",
    f"""
WITH per_doc AS (
  SELECT CASE WHEN {_BUCKET_SQL} < {VAL_PCT} THEN 'val' ELSE 'train' END AS split,
         lang, source, {_TOKENS_SQL} AS n_toks
  FROM documents
), cells AS (
  SELECT split, lang,
         count(*) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         round(avg(n_toks), 4) AS avg_tokens,
         max(n_toks) AS max_tokens,
         count(DISTINCT source) AS n_sources
  FROM per_doc GROUP BY 1, 2
)
SELECT split, lang, n_docs, n_tokens, avg_tokens, max_tokens, n_sources,
       round(n_tokens / sum(n_tokens) OVER (), 6) AS token_share
FROM cells
""",
    doc="dataset card: per-(split, lang) doc/token stats + corpus token "
    "share — the manifest a training-data release publishes",
)
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release manifest every curated corpus ships with: per
    (split, lang) cell — document and token counts, token-length moments,
    source breadth, and each cell's share of total training tokens (the
    number data-mixture decisions key on). One hash aggregate over the
    content-addressed split assignment; the share denominator is a
    single-row total broadcast back (same shape as
    ``corpus_language_rebalance``) — output cardinality is
    splits × languages, so everything after the aggregate is trivially
    bounded at any corpus size."""
    d = table(spark, sf_dir, "documents")
    toks = token_count(F.col("text"))
    split = F.when(_bucket() < VAL_PCT, "val").otherwise("train")
    cells = d.groupBy(split.alias("split"), "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(toks).cast("bigint").alias("n_tokens"),
        F.round(F.avg(toks), 4).alias("avg_tokens"),
        F.max(toks).alias("max_tokens"),
        F.count_distinct("source").alias("n_sources"),
    )
    tot = cells.agg(F.sum("n_tokens").alias("tot_tokens"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "split",
        "lang",
        "n_docs",
        "n_tokens",
        "avg_tokens",
        "max_tokens",
        "n_sources",
        F.round(F.col("n_tokens") / F.col("tot_tokens"), 6).alias("token_share"),
    )


# --- per-group reservoir ----------------------------------------------------

RESERVOIR_K = 5


@register(
    "corpus_reservoir_per_lang",
    f"""
SELECT lang, doc_id, rnk FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
  FROM documents
) WHERE rnk <= {RESERVOIR_K}
""",
    doc=f"deterministic {RESERVOIR_K}-doc 'reservoir' per language: "
    "content-addressed rank, rerun-stable",
)
def corpus_reservoir_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sample — the eval/eyeball subset drawn per
    language. Classic reservoir sampling is sequential state; the
    distributed, rerun-stable equivalent ranks by a content-addressed key
    (md5 of the id) and keeps the top K — same sample whatever the
    partitioning, cluster size, or engine, and it composes with the
    split/sample machinery (one hash on the same id). Plan is a per-group
    top-K window: WindowGroupLimit pushes the K cut into the shuffle, so
    only K rows per group survive the exchange — never a per-group sort
    of the whole corpus."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("lang", "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= RESERVOIR_K)
    )


#: DSIR hashed-feature space: fixed bucket count — the model stays this size
#: no matter how large the corpus vocabulary grows (the point of hashing)
DSIR_BUCKETS = 256
#: target distribution: the language whose token statistics raw docs are
#: scored against (DSIR's canonical language/domain-targeted selection)
DSIR_TARGET_LANG = "en"

_DSIR_BUCKET_SQL = f"('0x' || substr(md5(tok), 1, 4))::INT % {DSIR_BUCKETS}"


@register(
    "corpus_importance_weights",
    rf"""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), feats AS (
  SELECT doc_id, {_DSIR_BUCKET_SQL} AS bucket,
         lang = '{DSIR_TARGET_LANG}' AS is_target
  FROM toks
), model AS (
  SELECT bucket, count(*) AS c_raw,
         count(*) FILTER (WHERE is_target) AS c_tgt
  FROM feats GROUP BY bucket
), totals AS (
  SELECT sum(c_raw) AS t_raw, sum(c_tgt) AS t_tgt FROM model
), scored AS (
  SELECT doc_id, count(*) AS n_tokens,
         round(avg(ln((c_tgt + 1) / (t_tgt + {DSIR_BUCKETS}.0))
                 - ln((c_raw + 1) / (t_raw + {DSIR_BUCKETS}.0))), 4) + 0.0
           AS avg_log_ratio
  FROM feats JOIN model USING (bucket) CROSS JOIN totals
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, avg_log_ratio, avg_log_ratio > 0.0 AS selected
FROM scored
""",
    doc="DSIR-style importance weights: hashed-unigram bag-of-words models "
    f"of the target ({DSIR_TARGET_LANG}) vs raw distribution, per-doc mean "
    "log-likelihood ratio + selection flag",
)
def corpus_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection via importance resampling (DSIR, Xie et al. 2023,
    public): score every raw document by how much more likely its tokens
    are under a TARGET distribution than under the raw-corpus
    distribution, using hashed n-gram bag-of-words models — here hashed
    unigrams into a fixed {256}-bucket space, target = the '{en}'-language
    slice. Per-bucket probabilities are add-one smoothed; a doc's weight
    is the mean per-token log-likelihood ratio, and ``selected`` marks
    docs that look more target-like than raw-like (the resampling keep
    set). The selection flag derives from the ROUNDED score so both
    engines compare identical values, and ``+ 0.0`` normalizes IEEE
    negative zero (DuckDB's round keeps the sign of a tiny negative mean,
    Spark's BigDecimal round does not).

    Scale shape: hashing caps the model at DSIR_BUCKETS rows no matter
    the vocabulary — unlike ``text_unigram_logprob``'s vocabulary-sized
    table, this is the variant that stays broadcastable at any corpus
    size (that is DSIR's design point). One shuffle aggregates both the
    raw and target bucket counts in a single pass (conditional count);
    the scoring join broadcasts the 256-row model + 1-row totals back
    onto the token stream, which then re-aggregates by doc_id only.
    Bucket assignment uses the engine-parity md5-prefix idiom, so Spark
    and DuckDB hash features identically.

    Reference analog: none (extension surface — corpus-prep family).
    """
    from ufload_spark.sources.loader import memo_read

    d = table(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id",
        (F.col("lang") == DSIR_TARGET_LANG).alias("is_target"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).select(
        "doc_id",
        "is_target",
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10)
            .cast("int") % DSIR_BUCKETS
        ).alias("bucket"),
    )

    # The 256-row bucket model is a pure function of the corpus — trained
    # once and published (r6; previously the model's corpus scan re-ran on
    # every invocation, doubling the per-run cost). DSIR's own lifecycle
    # is exactly this: fit the hashed models once, score any number of
    # candidate pools against them.
    def build_model() -> DataFrame:
        return feats.groupBy("bucket").agg(
            F.count("*").alias("c_raw"),
            F.count_if("is_target").alias("c_tgt"),
        )

    model = memo_read(spark, "dsir_model", sf_dir, build_model)
    totals = model.agg(
        F.sum("c_raw").alias("t_raw"), F.sum("c_tgt").alias("t_tgt")
    )
    b = float(DSIR_BUCKETS)
    scored = (
        feats.join(F.broadcast(model), "bucket")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(
                    F.log((F.col("c_tgt") + 1) / (F.col("t_tgt") + b))
                    - F.log((F.col("c_raw") + 1) / (F.col("t_raw") + b))
                ),
                4,
            ).alias("avg_log_ratio"),  # + 0.0 below kills IEEE -0.0
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        (F.col("avg_log_ratio") + 0.0).alias("avg_log_ratio"),
        (F.col("avg_log_ratio") > 0.0).alias("selected"),
    )


#: mixture schedule shards: the training order is materialized as 64
#: independently-sortable shards, never one global sequence
MIX_SHARDS = 64


@register(
    "corpus_mixture_schedule",
    f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS k,
         count(*) OVER (PARTITION BY source) AS n_s
  FROM documents
), keyed AS (
  SELECT doc_id, source,
         (k - 0.5) / n_s AS skey
  FROM ranked
)
SELECT doc_id, source,
       CAST(floor(skey * {MIX_SHARDS}) AS INT) AS shard,
       row_number() OVER (PARTITION BY CAST(floor(skey * {MIX_SHARDS}) AS INT)
                          ORDER BY skey, source, doc_id) AS pos_in_shard,
       round(skey, 6) AS schedule_key
FROM keyed
""",
    doc="deterministic proportional source interleave: each source's docs "
    "pace through (0,1) at stride 1/n_s, the merged order is the training "
    "mixture schedule, materialized as independently-sortable shards",
)
def corpus_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order mixture scheduling: every source s paces its docs
    through (0,1) at positions (k − ½)/n_s (k = content-addressed rank by
    md5(doc_id), rerun-stable like the split/sample family), and the
    merged ascending-key order interleaves sources PROPORTIONALLY in
    every prefix — the low-discrepancy stride schedule mixture-weighted
    training loaders use, rather than trusting a uniform shuffle to
    average out. The schedule key is exact integer arithmetic divided
    once, so both engines compute bit-identical doubles.

    Scale shape: no global sequence is ever materialized — the schedule
    lands in MIX_SHARDS shard files (shard = ⌊key·64⌋, an equal KEY-RANGE
    cut, so shards are consecutive schedule segments), each positioned by
    a per-shard window; readers consume shards in shard order like
    ``corpus_shuffle_shards``. Two exchanges: one on source for the
    pacing rank, one on shard for the final position.

    Reference analog: none (extension surface — corpus-prep family).
    """
    d = table(spark, sf_dir, "documents")
    w_src = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    keyed = d.select("doc_id", "source").select(
        "doc_id",
        "source",
        (
            (F.row_number().over(w_src) - 0.5)
            / F.count("*").over(Window.partitionBy("source"))
        ).alias("skey"),
    )
    shard = F.floor(F.col("skey") * MIX_SHARDS).cast("int")
    w_shard = Window.partitionBy(shard).orderBy("skey", "source", "doc_id")
    return keyed.select(
        "doc_id",
        "source",
        shard.alias("shard"),
        F.row_number().over(w_shard).alias("pos_in_shard"),
        F.round("skey", 6).alias("schedule_key"),
    )


# --- priority sampling (weighted, deterministic) ---------------------------

#: sample size for the priority sample
PRIO_K = 64
#: 2^52 — 13 md5 hex digits, exactly representable in a double
_PRIO_POW = 4503599627370496.0


@register(
    "corpus_priority_sample",
    f"""
WITH pri AS (
  SELECT doc_id,
         CAST({_TOKENS_SQL} AS BIGINT) AS tokens,
         CAST({_TOKENS_SQL} AS DOUBLE) /
           ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                  AS DOUBLE) + 1.0) / {_PRIO_POW!r}) AS priority
  FROM documents
), top AS (
  SELECT doc_id, tokens, priority,
         row_number() OVER (ORDER BY priority DESC, doc_id) AS rn,
         min(priority) OVER () AS tau
  FROM (SELECT * FROM pri ORDER BY priority DESC, doc_id LIMIT {PRIO_K + 1})
)
SELECT doc_id, tokens, round(priority, 6) AS priority,
       round(greatest(CAST(tokens AS DOUBLE), tau), 6) AS est_weight
FROM top WHERE rn <= {PRIO_K}
""",
    doc=f"Duffield-Lund-Thorup priority sampling: weight-proportional "
    f"{PRIO_K}-doc sample with unbiased subset-sum estimator weights "
    f"max(w, tau) — priorities w/u from md5-derived uniforms, so the sample "
    f"is deterministic and IEEE-exact on both engines (division only, no "
    f"transcendentals)",
)
def corpus_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement for corpus selection — the
    priority-sampling scheme (Duffield, Lund & Thorup, JACM 2007): each doc
    draws priority ``q = w / u`` with weight ``w`` = token count and ``u``
    uniform in (0,1]; the top-k priorities form the sample and ``tau`` (the
    (k+1)-th priority) yields the unbiased estimator weight ``max(w, tau)``
    — ``sum(est_weight)`` over the sample estimates the corpus token total.

    Determinism at 100 TB: ``u`` is content-addressed (13 md5 hex digits of
    the doc id → an exact 52-bit double), and ``q`` involves only IEEE
    divisions — bit-identical across engines, runs and cluster sizes; no
    ``rand()``, no transcendentals whose libm rounding could differ (the
    Efraimidis-Spirakis form needs ``u^(1/w)`` — same sample, but pow()
    would make cross-engine hashes fragile).

    Plan shape: one narrow map computes priorities, then
    ``TakeOrderedAndProject`` takes the global top k+1 (per-partition
    top-k + driver merge of k+1-row heads — no global sort, no full
    shuffle); the window that numbers the survivors and extracts tau runs
    on the (k+1)-row result only.
    """
    d = table(spark, sf_dir, "documents")
    w_tok = token_count(F.col("text"))
    u_int = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("double")
    q = w_tok.cast("double") / ((u_int + F.lit(1.0)) / F.lit(_PRIO_POW))
    top = (
        d.select(
            "doc_id",
            w_tok.cast("bigint").alias("tokens"),
            q.alias("priority"),
        )
        .orderBy(F.desc("priority"), "doc_id")
        .limit(PRIO_K + 1)
    )
    # the frame below is the (k+1)-row limit result — single-partition
    # windows over it are bounded regardless of corpus size; lit(1) spec
    # states that intent (and avoids the no-partition warning)
    w_all = Window.partitionBy(F.lit(1)).orderBy(F.desc("priority"), "doc_id")
    return (
        top.select(
            "doc_id",
            "tokens",
            "priority",
            F.row_number().over(w_all).alias("rn"),
            F.min("priority").over(
                Window.partitionBy(F.lit(1)).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("tau"),
        )
        .filter(F.col("rn") <= PRIO_K)
        .select(
            "doc_id",
            "tokens",
            F.round("priority", 6).alias("priority"),
            F.round(
                F.greatest(F.col("tokens").cast("double"), F.col("tau")), 6
            ).alias("est_weight"),
        )
    )


#: RAG chunking geometry: window size and stride in characters
CHUNK_CHARS = 200
CHUNK_STRIDE = 150


@register(
    "text_chunk_documents",
    f"""
WITH src AS (
  SELECT doc_id, text,
         unnest(range(0, (length(text) - 1) // {CHUNK_STRIDE} + 1)) AS i
  FROM documents WHERE length(text) > 0
), chunks AS (
  SELECT doc_id, CAST(i AS INT) AS chunk_id,
         substr(text, CAST(i * {CHUNK_STRIDE} + 1 AS BIGINT), {CHUNK_CHARS})
           AS chunk
  FROM src
)
SELECT doc_id, chunk_id,
       CAST(chunk_id * {CHUNK_STRIDE} AS BIGINT) AS chunk_start,
       CAST(length(chunk) AS BIGINT) AS chunk_chars,
       md5(chunk) AS chunk_md5
FROM chunks
""",
    doc=f"RAG chunking: {CHUNK_CHARS}-char sliding windows at stride "
    f"{CHUNK_STRIDE} ({CHUNK_CHARS - CHUNK_STRIDE}-char overlap) via "
    "sequence+explode; emits per-chunk geometry and content md5",
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the retrieval-corpus prep step
    that feeds embedding models: fixed windows of :data:`CHUNK_CHARS`
    characters every :data:`CHUNK_STRIDE` (so consecutive chunks share a
    50-char overlap and no character is orphaned; the final chunk may run
    short). Emits geometry plus the chunk md5 — the downstream join keys
    for embedding and dedup stages — rather than re-shipping the text.

    Scale shape: narrow projection + per-row ``sequence``/``explode``; the
    expansion factor is len/stride (bounded by the document-length cap a
    real corpus enforces), rows never shuffle. At 100 TB this is a pure
    map stage that pipelines into the parquet scan.

    Reference analog: none — extension surface (LLM-pipeline family).
    """
    d = table(spark, sf_dir, "documents").where(F.length("text") > 0)
    n_chunks_m1 = F.floor((F.length("text") - 1) / CHUNK_STRIDE).cast("int")
    chunks = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks_m1)).alias("chunk_id"),
        F.col("text"),
    ).select(
        "doc_id",
        "chunk_id",
        F.col("text")
        .substr(
            F.col("chunk_id") * CHUNK_STRIDE + 1, F.lit(CHUNK_CHARS)
        )
        .alias("chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * CHUNK_STRIDE).cast("bigint").alias("chunk_start"),
        F.length("chunk").cast("bigint").alias("chunk_chars"),
        F.md5(F.col("chunk")).alias("chunk_md5"),
    )


@register(
    "text_chunk_neardup",
    f"""
WITH src AS (
  SELECT doc_id, text,
         unnest(range(0, (length(text) - 1) // {CHUNK_STRIDE} + 1)) AS i
  FROM documents WHERE length(text) > 0
), chunks AS (
  SELECT doc_id, md5(substr(text, CAST(i * {CHUNK_STRIDE} + 1 AS BIGINT),
                            {CHUNK_CHARS})) AS chunk_md5
  FROM src
)
SELECT chunk_md5,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM chunks
GROUP BY chunk_md5
HAVING count(DISTINCT doc_id) >= 2
""",
    doc="cross-document duplicate chunks: the RAG chunker's md5 keys "
    "grouped corpus-wide; chunks appearing in >=2 docs are boilerplate "
    "candidates — one content-hash shuffle",
)
def text_chunk_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granular duplicate detection — the dedup composition of
    :func:`text_chunk_documents`: identical 200-char windows appearing in
    two or more documents flag shared boilerplate (headers, licenses,
    templated passages) at a granularity document-level dedup misses and
    paragraph-level dedup (``corpus_paragraph_dedup``) only catches when
    paragraph boundaries align. Retrieval pipelines drop or down-weight
    these chunks before embedding.

    Scale shape: the map-only chunker followed by ONE shuffle on the
    chunk md5 (content-addressed, uniformly distributed — no skew) with
    map-side partial counts; the ≥2-doc filter keeps the output to the
    duplicated tail.

    Reference analog: none — extension surface (LLM-pipeline family).
    """
    d = table(spark, sf_dir, "documents").where(F.length("text") > 0)
    n_chunks_m1 = F.floor((F.length("text") - 1) / CHUNK_STRIDE).cast("int")
    chunks = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks_m1)).alias("chunk_id"),
        F.col("text"),
    ).select(
        "doc_id",
        F.md5(
            F.col("text").substr(
                F.col("chunk_id") * CHUNK_STRIDE + 1, F.lit(CHUNK_CHARS)
            )
        ).alias("chunk_md5"),
    )
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .where(F.col("n_docs") >= 2)
    )


@register(
    "corpus_ngram_novelty",
    r"""
WITH tokens AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM tokens WHERE len(toks) >= 3
), first_seen AS (
  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST((CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                  AS HUGEINT) * 1000000) // count(*) AS BIGINT)
         AS novelty_micro
FROM sh s JOIN first_seen f USING (shingle)
GROUP BY s.doc_id
""",
    doc="corpus novelty curve: per document (in arrival order), the "
    "fraction of its distinct 3-gram shingles first seen IN that document "
    "— exact integer counts, one shingle-keyed shuffle, micro-unit ratio",
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much NEW text does each document contribute? Per document, the
    fraction of its distinct shingles whose first occurrence (minimum
    doc_id — the corpus arrival order) is that document. The per-doc
    novelty score is what curation pipelines threshold to stop ingesting
    a source that has gone repetitive (the diminishing-returns signal
    behind Heaps'-law curves), and near-zero novelty flags late
    duplicates the dedup family would confirm.

    Exactness: counts are integers, the ratio is one decimal128 floor
    division to micro-units — no floats.

    Scale shape: the shingle pipeline reuses the dedup family's single
    doc_id exchange; attribution adds ONE shuffle keyed by shingle
    (min-aggregate with map-side combine), and the join back to the
    per-doc rollup rides that same shingle partitioning before
    re-keying by doc. This is `corpus_paragraph_dedup`'s plan shape at
    shingle grain — the honest cost of global first-occurrence
    attribution at any corpus size.

    Reference analog: none (extension surface — corpus-prep family).
    """
    from ufload_spark.operators.dedup import shingles

    sh = shingles(spark, sf_dir, distinct=True)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("bigint")
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            novel.alias("n_novel"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)"
                " AS decimal(38,0)) * 1000000 AS decimal(38,0)) div count(*)"
            )
            .cast("bigint")
            .alias("novelty_micro"),
        )
    )


@register(
    "corpus_cross_source_overlap",
    r"""
WITH tokens AS (
  SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT source,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM tokens WHERE len(toks) >= 3
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b, p.shared,
       sa.n AS n_a, sb.n AS n_b,
       CAST((CAST(p.shared AS HUGEINT) * 1000000)
            // (sa.n + sb.n - p.shared) AS BIGINT) AS jaccard_micro
FROM pairs p
JOIN sizes sa ON sa.source = p.src_a
JOIN sizes sb ON sb.source = p.src_b
""",
    doc="cross-source contamination matrix: pairwise shared-shingle counts "
    "and Jaccard (micro-units, one floor division) between every source "
    "pair — which sources copy from which",
)
def corpus_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The source-provenance audit for a multi-source corpus: for every
    source pair, how many distinct 3-gram shingles they SHARE and the
    Jaccard overlap — mirrored content between crawls, syndication, or a
    source that is just a re-crawl of another shows up as an off-diagonal
    spike, and the pair list is what a curation pipeline uses to pick
    which source to keep. The single-benchmark version of this audit is
    `corpus_contamination_overlap`; this is its all-pairs matrix form.

    Exactness: counts are integers and the Jaccard snaps to micro-units
    with one floor division — no floats.

    Scale shape: one distinct (source, shingle) aggregate (the dedup
    family's shingle exchange), per-source sizes as a broadcast-sized
    frame, and a shingle self-join whose per-key fan-out is bounded by
    the SOURCE-domain² (sources are a bounded catalog — tens to
    thousands — never corpus-scale), aggregated straight down to
    ≤ sources² pair rows.

    Reference analog: none (extension surface — corpus-prep family).
    """
    from ufload_spark.operators.dedup import shingles

    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    sh = (
        shingles(spark, sf_dir, distinct=True)
        .join(d, "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    a = sh.withColumnRenamed("source", "src_a")
    b = sh.withColumnRenamed("source", "src_b")
    pairs = (
        a.join(b, ["shingle"])
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("shared"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.withColumnsRenamed({"source": "src_a", "n": "n_a"})),
            "src_a",
        )
        .join(
            F.broadcast(sizes.withColumnsRenamed({"source": "src_b", "n": "n_b"})),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "shared",
            "n_a",
            "n_b",
            F.expr(
                "CAST((CAST(shared AS decimal(38,0)) * 1000000)"
                " div (n_a + n_b - shared) AS BIGINT)"
            ).alias("jaccard_micro"),
        )
    )


#: apportionment budget: total training tokens to allocate across sources
QUOTA_BUDGET = 1_000_000


@register(
    "corpus_quota_apportion",
    f"""
WITH w AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(chars) AS BIGINT) AS total_chars FROM w
), base AS (
  SELECT source, chars,
         CAST(CAST({QUOTA_BUDGET} AS HUGEINT) * chars // total_chars AS BIGINT)
           AS base_quota,
         CAST(CAST({QUOTA_BUDGET} AS HUGEINT) * chars
              - (CAST({QUOTA_BUDGET} AS HUGEINT) * chars // total_chars)
                * total_chars AS BIGINT) AS rem_num
  FROM w, tot
), leftover AS (
  SELECT CAST({QUOTA_BUDGET} - sum(base_quota) AS BIGINT) AS l FROM base
), ranked AS (
  SELECT source, chars, base_quota, rem_num,
         row_number() OVER (ORDER BY rem_num DESC, source) AS rr
  FROM base
)
SELECT source, chars, base_quota,
       CASE WHEN rr <= l THEN 1 ELSE 0 END AS extra,
       CAST(base_quota + CASE WHEN rr <= l THEN 1 ELSE 0 END AS BIGINT)
         AS quota
FROM ranked, leftover
""",
    doc=f"training-mixture token apportionment (Hamilton largest-remainder): "
    f"a {QUOTA_BUDGET}-token budget split across sources proportional to "
    "char mass — floor quotas + the leftover distributed by exact integer "
    "remainder rank; quotas sum to the budget EXACTLY",
)
def corpus_quota_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The integer-allocation step every mixture schedule needs and float
    arithmetic gets wrong: split a token budget across sources
    proportional to their character mass such that the per-source quotas
    are integers AND sum to the budget exactly. Hamilton's
    largest-remainder method (public, the classic apportionment
    algorithm): each source takes floor(B·w/W), and the leftover
    L = B − Σ floors (< #sources) goes to the L sources with the largest
    remainders. The remainder is carried as the exact integer NUMERATOR
    B·w − floor·W (decimal128) — never a float fraction — and the rank
    order (remainder DESC, source) is total, so the allocation is
    bit-identical on both engines. `corpus_mixture_schedule` decides the
    target PROPORTIONS; this operator turns proportions into exact
    integer token counts a sampler can execute.

    Scale shape: one source-keyed aggregate (map-side partials), then
    every window/join runs over the #sources-sized frame (bounded by the
    catalog of sources, never corpus bytes) with 1-row broadcasts for the
    total and leftover.

    Reference analog: none (extension surface — corpus-prep family).
    """
    d = table(spark, sf_dir, "documents")
    w = d.groupBy("source").agg(F.sum("n_chars").cast("bigint").alias("chars"))
    tot = w.agg(F.sum("chars").cast("bigint").alias("total_chars"))
    dec = "decimal(38,0)"
    base = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "chars",
        F.expr(
            f"CAST(CAST({QUOTA_BUDGET} AS {dec}) * chars div total_chars"
            " AS BIGINT)"
        ).alias("base_quota"),
        F.expr(
            f"CAST(CAST({QUOTA_BUDGET} AS {dec}) * chars"
            f" - (CAST({QUOTA_BUDGET} AS {dec}) * chars div total_chars)"
            " * total_chars AS BIGINT)"
        ).alias("rem_num"),
    )
    leftover = base.agg(
        (F.lit(QUOTA_BUDGET) - F.sum("base_quota")).cast("bigint").alias("l")
    )
    # SCALE GUARD: partition-less window over the #sources frame only.
    rr = F.row_number().over(Window.orderBy(F.desc("rem_num"), "source"))
    ranked = base.withColumn("rr", rr)
    extra = F.when(F.col("rr") <= F.col("l"), 1).otherwise(0)
    return ranked.crossJoin(F.broadcast(leftover)).select(
        "source",
        "chars",
        "base_quota",
        extra.alias("extra"),
        (F.col("base_quota") + extra).cast("bigint").alias("quota"),
    )


#: URL canonicalization fixture: hosts differ only in case/www, params mix
#: one content param (id) with tracking debris, fragments vary per doc
_URL_RAW_SQL = """concat(
  'https://', CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM'
                   WHEN doc_id % 3 = 1 THEN 'www.example.com'
                   ELSE 'EXAMPLE.com' END,
  '/Product/', CAST(doc_id % 50 AS STRING),
  '?utm_source=feed', CASE WHEN doc_id % 2 = 0 THEN '&ref=partner' ELSE '' END,
  '&id=', CAST(doc_id % 50 AS STRING),
  '&utm_campaign=q', CAST(doc_id % 4 AS STRING),
  '#sec', CAST(doc_id % 4 AS STRING))"""


@register(
    "corpus_url_canonicalize",
    f"""
WITH raw AS (
  SELECT doc_id, {_URL_RAW_SQL} AS url FROM documents
), nofrag AS (
  SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM raw
), parts AS (
  SELECT doc_id,
         regexp_replace(lower(regexp_extract(u, '^https://([^/?]+)', 1)),
                        '^www\\.', '') AS host,
         regexp_extract(u, '^https://[^/?]+([^?]*)', 1) AS path,
         regexp_extract(u, '\\?(.*)$', 1) AS q
  FROM nofrag
), cleaned AS (
  SELECT doc_id, host, path,
         regexp_replace(regexp_replace(
           regexp_replace(q, '(utm_[a-z]+|ref|fbclid)=[^&]*', '', 'g'),
           '&&+', '&', 'g'), '^&|&$', '', 'g') AS qc
  FROM parts
), canon AS (
  SELECT doc_id,
         concat('https://', host, path,
                CASE WHEN qc = '' THEN '' ELSE concat('?', qc) END)
           AS canonical_url
  FROM cleaned
)
SELECT doc_id, canonical_url,
       CAST(count(*) OVER (PARTITION BY canonical_url) AS BIGINT) AS n_dupes
FROM canon
""",
    doc="web-pipeline URL canonicalization: drop fragment, lowercase host, "
    "strip www. and tracking params (utm_*/ref/fbclid), keep content "
    "params — canonical-URL duplicate groups out; pure row-local regex "
    "maps + ONE canonical-key exchange",
)
def corpus_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first stage of every web-crawl dedup pipeline: URLs that differ
    only in host case, a ``www.`` prefix, tracking parameters
    (``utm_*``, ``ref``, ``fbclid``) or a fragment are the SAME document,
    and canonicalizing before any fetch/dedup collapses the crawl
    frontier by the duplication factor. The fixture synthesizes the mess
    closed-form from doc_id (three host spellings × tracking debris ×
    fragments; the multimodal render-then-decode pattern applied to
    URLs), and the operator recovers the planted groups: docs sharing
    ``doc_id % 50`` canonicalize identically across all three host
    spellings.

    Engine parity: every step is a simple regex (no lookaround, no
    backrefs) with identical semantics in Java regex and RE2 — extract
    host/path/query, strip ``key=value`` debris, tidy separators. One
    recorded trap: Spark's regexp_replace replaces ALL matches, DuckDB's
    only the FIRST unless passed the ``'g'`` flag — the oracle carries
    the flag explicitly (sibling of the DuckDB-^-is-power xor trap).

    Scale shape: row-local maps end to end; the only exchange groups
    canonical URLs for the duplicate count (the ``dedup_exact`` posture —
    at crawl scale this is the shuffle that replaces refetching
    duplicates).

    Reference analog: none (extension surface — corpus-prep family,
    upstream sibling of `corpus_pii_scrub`).
    """
    d = table(spark, sf_dir, "documents")
    raw = d.select("doc_id", F.expr(_URL_RAW_SQL).alias("url"))
    u = F.regexp_replace("url", "#.*$", "")
    nofrag = raw.select("doc_id", u.alias("u"))
    host = F.regexp_replace(
        F.lower(F.regexp_extract("u", "^https://([^/?]+)", 1)), "^www\\.", ""
    )
    path = F.regexp_extract("u", "^https://[^/?]+([^?]*)", 1)
    q = F.regexp_extract("u", "\\?(.*)$", 1)
    parts = nofrag.select(
        "doc_id", host.alias("host"), path.alias("path"), q.alias("q")
    )
    qc = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("q", "(utm_[a-z]+|ref|fbclid)=[^&]*", ""),
            "&&+",
            "&",
        ),
        "^&|&$",
        "",
    )
    canon = parts.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("host"),
            F.col("path"),
            F.when(qc == "", F.lit("")).otherwise(F.concat(F.lit("?"), qc)),
        ).alias("canonical_url"),
    )
    w = Window.partitionBy("canonical_url")
    return canon.select(
        "doc_id",
        "canonical_url",
        F.count("*").over(w).cast("bigint").alias("n_dupes"),
    )


#: contrastive negative sampling: ring buckets, negatives per doc, and the
#: per-k bucket strides (coprime-ish with NEG_BUCKETS so the K target
#: buckets differ from each other and from the doc's own bucket)
NEG_BUCKETS = 64
NEG_K = 2
NEG_STRIDES = (1, 37)

_NEG_MBKT = f"('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % {NEG_BUCKETS}"


def _neg_oracle() -> str:
    probe_rows = " UNION ALL ".join(
        f"""
  SELECT ({_NEG_MBKT} + {NEG_STRIDES[k - 1]}) % {NEG_BUCKETS} AS b,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{k}'), 1, 15))::BIGINT AS h,
         CAST({k} AS INT) AS k, doc_id, NULL AS member_id
  FROM documents"""
        for k in range(1, NEG_K + 1)
    )
    return f"""
WITH members AS (
  SELECT {_NEG_MBKT} AS b,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
         CAST(0 AS INT) AS k, CAST(NULL AS BIGINT) AS doc_id,
         doc_id AS member_id
  FROM documents
), probes AS ({probe_rows}
), stream AS (
  SELECT * FROM members UNION ALL SELECT * FROM probes
), nxt AS (
  SELECT b, k, doc_id, h,
         first_value(member_id IGNORE NULLS) OVER (
           PARTITION BY b
           ORDER BY h, k, coalesce(doc_id, 0), coalesce(member_id, 0)
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt_id
  FROM stream
), firsts AS (
  SELECT b, member_id AS first_id FROM (
    SELECT b, member_id,
           row_number() OVER (PARTITION BY b ORDER BY h, member_id) AS rn
    FROM members
  ) WHERE rn = 1
), gfirst AS (
  SELECT min(CASE WHEN rn = 1 THEN member_id END) AS g1,
         min(CASE WHEN rn = 2 THEN member_id END) AS g2
  FROM (
    SELECT member_id, row_number() OVER (ORDER BY h, member_id) AS rn
    FROM members
  ) WHERE rn <= 2
)
SELECT doc_id, k,
       CASE WHEN cand = doc_id THEN g2 ELSE cand END AS neg_doc_id
FROM (
  SELECT n.doc_id, n.k, g.g2,
         coalesce(n.nxt_id, f.first_id, g.g1) AS cand
  FROM nxt n LEFT JOIN firsts f ON f.b = n.b CROSS JOIN gfirst g
  WHERE n.k > 0
)
"""


@register(
    "corpus_negative_sampling",
    _neg_oracle(),
    doc=f"deterministic contrastive negatives: {NEG_K} per doc via "
    f"stride-offset md5 ring buckets ({NEG_BUCKETS}) and a next-member-"
    "on-the-hash-ring as-of pick with wrap-around — content-addressed, "
    "rerun/engine/layout stable",
)
def corpus_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training negative pairs without randomness: every doc
    gets :data:`NEG_K` negatives chosen by consistent hashing — probe k
    targets ring bucket (bucket(doc)+stride_k) mod :data:`NEG_BUCKETS`
    and takes the member whose md5 position is the next one at-or-after
    md5(doc:k) on the ring (wrapping to the bucket's first member). The
    assignment depends only on ids, so retries, engines, and cluster
    layouts all emit the identical pair set (the content-addressed split
    discipline) — and the strides guarantee the negative comes from a
    DIFFERENT bucket than the doc, so no doc is its own negative.

    Scale shape: the as-of pick is the interleaved-stream trick — union
    the member and probe rows, ONE window per bucket ordered by (hash,
    tag, id) takes first_value(member IGNORE NULLS) over the following
    frame — so the cost is one bucket-keyed shuffle + sort of 1+K rows
    per doc, NEVER a per-probe candidate scan (the events_asof shape).
    The wrap-around fallback is a NEG_BUCKETS-row broadcast. Selectivity
    and fan-out are exactly K rows per document at any corpus size.

    Reference analog: none (extension surface — corpus-prep family,
    beside corpus_train_val_split / corpus_pack_sequences).
    """
    d = table(spark, sf_dir, "documents").select("doc_id")
    mbkt = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % NEG_BUCKETS
    )
    mh = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    members = d.select(
        mbkt.alias("b"),
        mh.alias("h"),
        F.lit(0).cast("int").alias("k"),
        F.lit(None).cast("bigint").alias("doc_id_p"),
        F.col("doc_id").alias("member_id"),
    )
    probes = None
    for k in range(1, NEG_K + 1):
        ph = F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{k}"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        p = d.select(
            ((mbkt + NEG_STRIDES[k - 1]) % NEG_BUCKETS).alias("b"),
            ph.alias("h"),
            F.lit(k).cast("int").alias("k"),
            F.col("doc_id").alias("doc_id_p"),
            F.lit(None).cast("bigint").alias("member_id"),
        )
        probes = p if probes is None else probes.unionByName(p)
    stream = members.unionByName(probes)
    # total sort order (h ties included): coalesced ids avoid the
    # engines' opposite NULLS FIRST/LAST defaults ever mattering
    w = (
        Window.partitionBy("b")
        .orderBy(
            "h",
            "k",
            F.coalesce("doc_id_p", F.lit(0)),
            F.coalesce("member_id", F.lit(0)),
        )
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nxt = stream.select(
        "b",
        "k",
        "doc_id_p",
        F.first("member_id", ignorenulls=True).over(w).alias("nxt_id"),
    ).where(F.col("k") > 0)
    firsts = members.groupBy("b").agg(
        F.min_by("member_id", F.struct("h", "member_id")).alias("first_id")
    )
    # a probe whose TARGET bucket happens to be empty falls back to the
    # globally ring-first member (1-row broadcast) — every (doc, k) pair
    # always emits exactly one negative. The in-bucket paths can never
    # pick the doc itself (strides force a different bucket), but the
    # global fallback could; the ring-SECOND member covers that sliver.
    # top-2 via orderBy+limit = TakeOrderedAndProject (per-partition
    # top-N + one reduce), never a global sort of the member stream
    top2 = members.select("h", "member_id").orderBy("h", "member_id").limit(2)
    gfirst = top2.agg(
        F.min_by("member_id", F.struct("h", "member_id")).alias("g1"),
        F.max_by("member_id", F.struct("h", "member_id")).alias("g2"),
    )
    cand = F.coalesce("nxt_id", "first_id", "g1")
    return (
        nxt.join(F.broadcast(firsts), "b", "left")
        .crossJoin(F.broadcast(gfirst))
        .select(
            F.col("doc_id_p").alias("doc_id"),
            "k",
            F.when(cand == F.col("doc_id_p"), F.col("g2"))
            .otherwise(cand)
            .alias("neg_doc_id"),
        )
    )
