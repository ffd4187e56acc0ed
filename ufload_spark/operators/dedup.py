"""Deduplication operators over ``documents`` (extension surface: exact,
MinHash+LSH, SimHash, n-gram Jaccard).

Design for 100 TB:
- Exact dedup is a hash-groupBy on an md5 fingerprint — one shuffle on the
  fingerprint, map-side partial agg.
- MinHash: per-doc signatures are a narrow map + one groupBy(doc); LSH
  banding turns the quadratic all-pairs problem into equi-joins on band
  keys, so candidate generation is shuffle-on-band-key — the only scalable
  shape for near-dedup at pretraining scale.
- SimHash: one aggregation pass producing a 32-bit locality-sensitive
  fingerprint per doc; ``dedup_simhash_pairs`` retrieves near-dup pairs
  within Hamming distance d by the pigeonhole segment-join (split the
  fingerprint into d+1 segments — a pair within distance d must agree
  exactly on ≥1 segment, so candidates come from d+1 equi-joins, never
  all-pairs).
- Raw pairwise Jaccard is O(n²) by nature and kept only as the small-subset
  ground-truth for the LSH estimates.

Cross-engine determinism: the shingle hash is ``int(md5(seed|shingle)[:12
hex])`` — bit-identical in Spark (``conv(substring(md5(..)))``) and DuckDB
(``('0x'||substr(md5(..)))::BIGINT``), so even the MinHash signatures have
exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ufload_spark.lifetime import cut, hand_up, keep, scope
from ufload_spark.plans.registry import QUERIES, register
from ufload_spark.sources.tables import in_batch, read_parquet, spread, table

K_HASHES = 8
N_BANDS = 4  # bands of 2 rows each
SIMHASH_BITS = 32  # 16 bits was noise-dominated: random pairs collide at d<=3
# with P~1%, drowning true near-dups; 32 bits drops that to ~1e-6

#: MinHash family h_i(x) = (A[i]·x + B[i]) mod P32 over a single 32-bit
#: md5-derived base hash — one md5 per shingle instead of K; the affine mix
#: keeps the K functions independent. A[i]·x < 2^37 so int64 never overflows.
P32 = 4294967291  # largest prime < 2^32
A = (3, 5, 7, 11, 13, 17, 19, 23)
B = (101, 211, 307, 401, 503, 601, 701, 809)


def base_hash32(col: Column) -> Column:
    """32-bit deterministic base hash shared with the DuckDB oracle."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def base_hash60(col: Column) -> Column:
    """60-bit deterministic base hash (15 md5 hex chars — fits signed
    int64) shared with the DuckDB oracle; used where the hash IS the key
    (containment index) so collisions must be negligible AND identical
    across engines."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


BASE_HASH32_SQL = "('0x' || substr(md5(shingle), 1, 8))::BIGINT"
BASE_HASH60_SQL = "('0x' || substr(md5(shingle), 1, 15))::BIGINT"


def minhash_expr(i: int) -> Column:
    return (A[i] * F.col("x") + B[i]) % P32


def _minhash_sql(i: int) -> str:
    return f"({A[i]} * x + {B[i]}) % {P32}"


#: Word-3-gram shingles, lowercased — shared shape with the DuckDB CTE below.
def shingles(spark: SparkSession, sf_dir: str, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) pairs: whitespace tokens, lowercased, 3-gram
    windows — ``distinct=True`` gives per-document set semantics.

    Built as posexplode → window ``lead(tok, 1..2)`` → concat instead of an
    array higher-order function: Spark evaluates HOF lambdas
    (``transform``/``array_distinct``) on the interpreted path, boxing every
    element (~2× slower end-to-end, measured). This form stays inside
    whole-stage codegen except the window's partition-local sort, and the
    up-front repartition on doc_id serves the window AND every downstream
    per-doc aggregate — one exchange for the whole dedup family.

    The repartition exists to parallelize a pathologically-small input (the
    fixture is one parquet split); at 100 TB the table arrives in thousands
    of splits and the same hash exchange is what the window would demand
    anyway.

    Distinctness is a codegen hash-aggregate on (doc_id, shingle), requested
    only by consumers whose math needs set semantics (SimHash's bit votes,
    Jaccard's set sizes) — min-hash aggregates are duplicate-insensitive and
    skip it."""
    return shingles_frame(table(spark, sf_dir, "documents"), distinct=distinct)


def shingles_frame(d: DataFrame, distinct: bool = True) -> DataFrame:
    """Frame-level core of :func:`shingles` — same shape, but over any
    frame carrying (doc_id, text): reused by the streaming near-dup gate,
    whose micro-batches are not a fixture table."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    t = spread(d, "doc_id").select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    t3 = F.lead("tok", 2).over(w)
    tri = (
        t.select(
            "doc_id",
            F.concat_ws(" ", "tok", F.lead("tok", 1).over(w), t3).alias("shingle"),
            t3.alias("t3"),
        )
        .where(F.col("t3").isNotNull())  # docs with < 3 tokens yield no rows
        .select("doc_id", "shingle")
    )
    return tri.distinct() if distinct else tri


def simhash_frame(d: DataFrame) -> DataFrame:
    """(doc_id, simhash) over any (doc_id, text) frame — the frame-level
    core of :func:`dedup_simhash`, bit-identical math (distinct shingles,
    per-bit majority vote). The streaming near-dup gate fingerprints its
    micro-batches through this."""
    sh = shingles_frame(d, distinct=True)
    h = base_hash32(F.col("shingle"))
    bitsums = sh.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    combined = sum(
        F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(SIMHASH_BITS)
    )
    return bitsums.select("doc_id", combined.cast("bigint").alias("simhash"))


SHINGLES_CTE = """
WITH tokens AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
), shingles AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM tokens WHERE len(toks) >= 3
)
"""


def _norm_text() -> Column:
    """Trimmed, lowercased, whitespace runs collapsed to one space — the
    oracle's ``regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')``."""
    return F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")


def text_fingerprint() -> Column:
    """md5 of the normalized text: the exact-dedup key every exact tier,
    the streaming ingest gate and the curation pipelines share."""
    return F.md5(_norm_text())


def exact_index(spark: SparkSession, sf_dir: str, key: str) -> DataFrame:
    """The published corpus fingerprint set, one column named ``key``:
    the distinct :func:`text_fingerprint` of the corpus side of the batch
    split, published once per process under ``exact_fingerprints``. The
    one builder behind `dedup_exact_incremental`, the streaming ingest
    gate and `pipeline_incremental_ingest`'s exact stage."""
    from ufload_spark.sources.loader import memo_read

    index = memo_read(
        spark,
        "exact_fingerprints",
        sf_dir,
        lambda: table(spark, sf_dir, "documents")
        .where(~in_batch())
        .select(text_fingerprint().alias("fingerprint"))
        .distinct(),
    )
    if key == "fingerprint":
        return index
    return index.withColumnRenamed("fingerprint", key)


@register(
    "dedup_exact",
    """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
""",
    doc="exact dedup: hash-groupBy on normalized-text fingerprint",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: md5 of normalized text → keep min(doc_id).
    One shuffle on the 128-bit fingerprint; at 100 TB this is the cheapest
    dedup pass and always runs first."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy(text_fingerprint().alias("fingerprint")).agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id")
    )


@register(
    "dedup_exact_incremental",
    """
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM documents
), existing AS (
  SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 4 <> 0
), batch AS (
  SELECT * FROM fp WHERE doc_id % 4 = 0
), novel AS (
  SELECT b.* FROM batch b ANTI JOIN existing e USING (fingerprint)
)
SELECT fingerprint,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM novel GROUP BY fingerprint
""",
    doc="incremental exact dedup: the corpus fingerprint set is persisted "
    "through the audited sink; a new batch hashes only ITS text, "
    "anti-joins the published set, and dedups within itself — the "
    "admit-or-drop gate every ingest runs before the near-dup tiers",
)
def dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the incremental tier matrix (minhash/simhash/substring
    already have theirs): exact dedup for a GROWING corpus. The corpus's
    distinct normalized-text fingerprints are published once through
    stage→audit→atomic-publish and read back from parquet (in production
    the set is maintained by appending each admitted batch's
    fingerprints); an incoming batch (doc_id % 4 == 0 stands in) hashes
    only its own text, LEFT ANTI-joins the persisted set — one shuffle
    on the 128-bit key, batch-sized — and finally groups within itself
    (min doc_id keeper) so intra-batch duplicates collapse too. The
    corpus is never re-hashed; pinned by the same never-rehash
    discipline as `dedup_minhash_incremental`.

    Scale shape: persisted-set scan + batch-keyed anti-join + one batch
    hash aggregate. At 100 TB the persisted fingerprint table would be
    BUCKETED by fingerprint so the anti-join co-locates.
    """
    d = table(spark, sf_dir, "documents")
    existing = exact_index(spark, sf_dir, "fingerprint")
    batch = d.where(in_batch()).select(
        "doc_id", text_fingerprint().alias("fingerprint")
    )
    novel = batch.join(existing, "fingerprint", "left_anti")
    return novel.groupBy("fingerprint").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").alias("keep_doc_id"),
    )


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signatures via explode + hash-aggregate: one md5 per distinct shingle
    (the K functions are affine mixes of that base hash), then K ``min``
    aggregates in a single whole-stage-codegen hash aggregate keyed on
    doc_id.

    A fully array-expression form (``array_min(transform(...))``) avoids the
    shuffle but runs in Spark's interpreted higher-order-function path —
    boxing every element — and GC-thrashes at scale; the explode+agg form
    stays unboxed in codegen and benchmarked 2-4× faster and far steadier.
    ``min`` is insensitive to duplicate shingles, so the distinct pass is
    skipped, and because the shingle stream is already hash-partitioned on
    doc_id the group-by needs no new exchange — partial agg only."""
    sh = shingles(spark, sf_dir, distinct=False).select(
        "doc_id", base_hash32(F.col("shingle")).alias("x")
    )
    return sh.groupBy("doc_id").agg(
        *[F.min(minhash_expr(i)).alias(f"m{i}") for i in range(K_HASHES)]
    )


def band_melt(sigs: DataFrame, *carry: str) -> DataFrame:
    """``(doc_id, *carry, band, k1, k2)``: one row per LSH band of a
    signature frame. Band keys are the two member hashes as numbers, no
    string building, so a band join hashes two longs and the band id.
    ``carry`` keeps more columns on every row (the pair query carries the
    whole signature so one self-join both proposes and scores)."""
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
    return sigs.select("doc_id", *carry, F.explode(bands).alias("bk")).select(
        "doc_id", *carry, "bk.band", "bk.k1", "bk.k2"
    )


def minhash_collided(batch: DataFrame, corpus_keys: DataFrame) -> DataFrame:
    """Distinct ``doc_id`` of the ``batch`` signatures that share any full
    band with ``corpus_keys`` (a frame carrying ``band, k1, k2``)."""
    return (
        band_melt(batch)
        .join(corpus_keys, ["band", "k1", "k2"], "left_semi")
        .select("doc_id")
        .distinct()
    )


_MINHASH_SIGS_SQL = SHINGLES_CTE + (
    f", hashed AS (\n  SELECT doc_id, {BASE_HASH32_SQL} AS x FROM shingles\n)"
    ", sigs AS (\n  SELECT doc_id, "
    + ", ".join(f"min({_minhash_sql(i)}) AS m{i}" for i in range(K_HASHES))
    + "\n  FROM hashed GROUP BY doc_id\n)"
)


@register(
    "dedup_minhash_signatures",
    _MINHASH_SIGS_SQL + "\nSELECT * FROM sigs",
    doc="MinHash signatures (k=8) per document, exact cross-engine hashes",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_sigs(spark, sf_dir)


_BAND_JOINS_SQL = "\n  UNION\n".join(
    f"  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sigs a JOIN sigs b"
    f" ON a.m{2*b} = b.m{2*b} AND a.m{2*b+1} = b.m{2*b+1} AND a.doc_id < b.doc_id"
    for b in range(N_BANDS)
)

_MATCHES_SQL = " + ".join(
    f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(K_HASHES)
)


@register(
    "dedup_minhash_lsh_pairs",
    _MINHASH_SIGS_SQL
    + f"""
, cand AS (
{_BAND_JOINS_SQL}
)
SELECT c.doc_a, c.doc_b, ({_MATCHES_SQL}) / {K_HASHES}.0 AS est_sim
FROM cand c JOIN sigs a ON c.doc_a = a.doc_id JOIN sigs b ON c.doc_b = b.doc_id
WHERE ({_MATCHES_SQL}) >= 2
""",
    doc="MinHash-LSH near-dup candidate pairs (4 bands × 2 rows)",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: docs agreeing on any full band become candidates; the
    signature-agreement fraction estimates Jaccard.

    Plan shape: signatures are melted to (band, band_key) rows that CARRY
    the full signature, so one self-equi-join on (band, band_key) both
    proposes candidates and scores them — the signature pipeline is
    evaluated exactly twice (the two join sides), versus 4 self-joins + 2
    rejoins in the naive form. Shuffle is on the band key; never all-pairs.

    The self-join carries a ``shuffle_hash`` hint: left to itself Catalyst
    broadcasts one side (the sig table is tiny at test SF), which BUILDS THE
    SIG PIPELINE TWICE — broadcast has no exchange for ReuseExchange to
    dedupe. Hinted, both sides shuffle on (band, k1, k2) over an identical
    child plan and AQE's exchange reuse serves the second side from the
    first's shuffle files (final plan: one FileScan of documents, one
    ``ReusedExchange``) — the shingle→hash pipeline physically runs once.
    At 100 TB the hint is also the only viable plan: signatures of a
    petabyte corpus don't broadcast. A production pipeline would still
    persist the signature table so later incremental batches skip
    recomputing it."""
    melted = band_melt(
        _minhash_sigs(spark, sf_dir), *[f"m{i}" for i in range(K_HASHES)]
    ).hint("shuffle_hash")  # see docstring: enables exchange reuse
    a, b = melted.alias("a"), melted.alias("b")
    matches = sum(
        F.when(F.col(f"a.m{i}") == F.col(f"b.m{i}"), 1).otherwise(0)
        for i in range(K_HASHES)
    )
    joined = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.k1") == F.col("b.k1"))
        & (F.col("a.k2") == F.col("b.k2"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        matches.alias("n_match"),
    )
    # a pair can collide in several bands → collapse; n_match is identical
    # across duplicates so max() is just dedup
    return (
        joined.groupBy("doc_a", "doc_b")
        .agg(F.max("n_match").alias("n_match"))
        .where(F.col("n_match") >= 2)
        .select("doc_a", "doc_b", (F.col("n_match") / K_HASHES).alias("est_sim"))
    )


def _band_keys_sql(src: str) -> str:
    return "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, m{2*b} AS k1, m{2*b+1} AS k2 FROM {src}"
        for b in range(N_BANDS)
    )


_MINHASH_INCR_SQL = (
    _MINHASH_SIGS_SQL
    + f"""
, batch AS (SELECT * FROM sigs WHERE doc_id % 4 = 0),
existing AS (SELECT * FROM sigs WHERE doc_id % 4 <> 0),
batch_keys AS (
{_band_keys_sql('batch')}
), existing_keys AS (
{_band_keys_sql('existing')}
), collided AS (
  SELECT DISTINCT bk.doc_id
  FROM batch_keys bk JOIN existing_keys ek
    ON bk.band = ek.band AND bk.k1 = ek.k1 AND bk.k2 = ek.k2
)
SELECT doc_id FROM batch
WHERE doc_id NOT IN (SELECT doc_id FROM collided)
"""
)


@register(
    "dedup_minhash_incremental",
    _MINHASH_INCR_SQL,
    doc="incremental MinHash dedup: new-batch band keys anti-joined against "
    "the persisted corpus signature table; survivors are appendable",
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production shape for a GROWING corpus: signatures of already-
    ingested documents are persisted (the loader's staging→publish tables —
    sources/loader.py — are exactly how that table would be maintained), so
    each incoming batch only hashes ITS OWN text, melts to band keys, and
    anti-joins against the persisted band-key table. Nothing quadratic,
    and the 100 TB corpus is never re-shingled.

    Here the fixture stands in for both sides (batch = doc_id % 4 == 0,
    corpus = the rest); in production ``existing`` is
    ``read_parquet(spark, sig_table)``. Survivors = batch docs whose bands
    all miss the corpus — the rows safe to append, after which their
    signatures are appended to the signature table too."""
    sigs = _minhash_sigs(spark, sf_dir)
    batch = sigs.where(in_batch())
    collided = minhash_collided(batch, band_melt(sigs.where(~in_batch())))
    return batch.select("doc_id").join(collided, "doc_id", "left_anti")


@register(
    "dedup_minhash_persist_roundtrip",
    # identical oracle to dedup_minhash_incremental: persisting the corpus
    # signatures through the loader must not change the answer
    _MINHASH_INCR_SQL,
    doc="incremental dedup against a PERSISTED signature table: corpus "
    "signatures go through stage→audit→publish, are read back from disk, "
    "and the batch anti-joins the published copy",
)
def dedup_minhash_persist_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production loop ``dedup_minhash_incremental`` describes, actually
    executed: corpus signatures are WRITTEN through the staged loader
    (stage → audit → atomic publish — the same path any table takes), read
    back from the published parquet, and the new batch's band keys
    anti-join the on-disk copy. Hash-matching the in-memory variant's
    oracle pins that the persistence round-trip (parquet encode/decode,
    partitioning) is lossless for signature data — the property the
    incremental design depends on."""
    from ufload_spark.sources.loader import publish_read

    sigs = _minhash_sigs(spark, sf_dir)
    persisted = publish_read(spark, sigs.where(~in_batch()), "minhash_sigs", sf_dir)
    batch = sigs.where(in_batch())
    collided = minhash_collided(batch, band_melt(persisted))
    return batch.select("doc_id").join(collided, "doc_id", "left_anti")


_SIMHASH_BITSUMS_SQL = ", ".join(
    f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
    for j in range(SIMHASH_BITS)
)
_SIMHASH_COMBINE_SQL = " + ".join(
    f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(SIMHASH_BITS)
)


@register(
    "dedup_simhash",
    SHINGLES_CTE
    + f"""
, hashed AS (
  SELECT doc_id, {BASE_HASH32_SQL} AS h FROM shingles
), bitsums AS (
  SELECT doc_id, {_SIMHASH_BITSUMS_SQL} FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({_SIMHASH_COMBINE_SQL} AS BIGINT) AS simhash FROM bitsums
""",
    doc="SimHash (32-bit) locality-sensitive fingerprint per document",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: per-bit majority vote over shingle hashes → near-identical
    docs land on nearby fingerprints. One explode + one groupBy(doc) —
    linear, shuffle only on doc_id."""
    return simhash_frame(table(spark, sf_dir, "documents"))


#: Hamming-distance retrieval: pairs within HAMMING_D of each other must
#: agree exactly on at least one of HAMMING_D + 1 fingerprint segments.
HAMMING_D = 3
N_SEGS = HAMMING_D + 1
SEG_BITS = SIMHASH_BITS // N_SEGS  # 32 bits → 4 segments × 8 bits


def segment_melt(sims: DataFrame) -> DataFrame:
    """``(doc_id, simhash, seg, segval)``: one row per pigeonhole segment
    of each fingerprint, carrying the whole fingerprint so the segment
    join can verify the exact Hamming distance."""
    segs = F.array(
        *[
            F.struct(
                F.lit(j).alias("seg"),
                F.shiftright(F.col("simhash"), SEG_BITS * j)
                .bitwiseAND(F.lit((1 << SEG_BITS) - 1))
                .alias("segval"),
            )
            for j in range(N_SEGS)
        ]
    )
    return sims.select("doc_id", "simhash", F.explode(segs).alias("sv")).select(
        "doc_id", "simhash", "sv.seg", "sv.segval"
    )


def simhash_collided(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """Distinct ``doc_id`` of the ``batch`` fingerprints with a ``corpus``
    fingerprint within :data:`HAMMING_D`: segment equi-join, then the
    exact distance. A caller that wants the batch side broadcast hints
    the frame it passes."""
    b, e = segment_melt(batch).alias("b"), segment_melt(corpus).alias("e")
    hamming = F.bit_count(F.col("b.simhash").bitwiseXOR(F.col("e.simhash")))
    return (
        b.join(
            e,
            (F.col("b.seg") == F.col("e.seg"))
            & (F.col("b.segval") == F.col("e.segval")),
        )
        .where(hamming <= HAMMING_D)
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )


_SIMHASH_CTE = (
    SHINGLES_CTE
    + f"""
, hashed AS (
  SELECT doc_id, {BASE_HASH32_SQL} AS h FROM shingles
), bitsums AS (
  SELECT doc_id, {_SIMHASH_BITSUMS_SQL} FROM hashed GROUP BY doc_id
), sims AS (
  SELECT doc_id, CAST({_SIMHASH_COMBINE_SQL} AS BIGINT) AS simhash FROM bitsums
)
"""
)


@register(
    "dedup_simhash_pairs",
    _SIMHASH_CTE
    + f"""
, segs AS (
  SELECT doc_id, simhash, j AS seg,
         (simhash >> ({SEG_BITS} * j)) & {(1 << SEG_BITS) - 1} AS segval
  FROM sims, (SELECT unnest(range(0, {N_SEGS})) AS j)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM segs a JOIN segs b
    ON a.seg = b.seg AND a.segval = b.segval AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= {HAMMING_D}
""",
    doc=f"SimHash near-dup pairs within Hamming distance {HAMMING_D} via "
    f"pigeonhole segment-bucket joins ({N_SEGS} segments × {SEG_BITS} bits)",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval step SimHash exists for: near-dup pairs within Hamming
    distance d, without all-pairs comparison.

    Pigeonhole guarantee: if two SIMHASH_BITS-bit fingerprints differ in ≤ d bits,
    then splitting into d+1 segments, at least one segment is bit-identical
    — so the union of d+1 segment equi-joins proposes every true pair.
    Like the MinHash banding above, segments are melted to (seg, segval)
    rows that CARRY the full fingerprint, so one self-join both proposes
    candidates and computes the exact Hamming distance (bit_count of xor);
    the distinct collapses pairs proposed by several segments. Shuffle is
    on (seg, segval); within-bucket pairing is bounded by 2^SEG_BITS
    buckets per segment — widen SEG_BITS with corpus size exactly like the
    hyperplane-LSH planes knob."""
    # both sides identical → AQE ReuseExchange
    melted = segment_melt(dedup_simhash(spark, sf_dir)).hint("shuffle_hash")
    a, b = melted.alias("a"), melted.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.segval") == F.col("b.segval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= HAMMING_D)
        .distinct()
    )


#: minimum band-agreement fraction for an edge in the cluster graph
CLUSTER_SIM = 0.25

_PAIRS_FOR_CLUSTERS_SQL = (
    _MINHASH_SIGS_SQL
    + f"""
, cand AS (
{_BAND_JOINS_SQL}
), pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN sigs a ON c.doc_a = a.doc_id JOIN sigs b ON c.doc_b = b.doc_id
  WHERE ({_MATCHES_SQL}) >= {int(CLUSTER_SIM * K_HASHES)}
)"""
)


@register(
    "dedup_connected_components",
    # the whole CTE chain must open WITH RECURSIVE for the reach() fixpoint
    _PAIRS_FOR_CLUSTERS_SQL.replace("WITH tokens", "WITH RECURSIVE tokens", 1)
    + """
, edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), nodes AS (SELECT DISTINCT u AS n FROM edges),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
)
SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
""",
    doc="near-dup cluster formation: connected components over the "
    "MinHash-LSH pair graph via iterative min-label propagation "
    "(oracle: recursive-CTE transitive closure)",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering — the step between pair detection and
    'keep one doc per cluster'. A and B similar, B and C similar ⇒ {A,B,C}
    dedup together even if A–C never collided.

    Pregel-style min-label propagation: every node starts labeled with its
    own id; each round, a node takes the min of its label and its
    neighbors' labels; converged when no label changes. Rounds = graph
    diameter — near-dup graphs are dense micro-clusters, so a handful.
    Each round is one join + one aggregate, both shuffling on node id (at
    production scale the edges frame would be persisted, and the
    alternating large-star/small-star formulation cuts rounds further on
    long chains). The convergence flag is computed row-locally inside the
    update join and summed — one scalar driver sync per round, the one
    driver-side value an iterative algorithm needs (r5: the previous
    labels-vs-labels compare join per round was pure overhead).

    DuckDB's oracle is the same fixpoint computed declaratively (recursive
    CTE reachability + min over the reachable set) — quadratic blowup on
    big graphs but exact on fixtures, and engine-independent."""
    from ufload_spark.sources.loader import memo_read

    # the thresholded pair graph is deterministic (seeded MinHash, md5
    # shingles), so it publishes once per (process, fixture) and every
    # repeat invocation — including the keep-best queries built on top —
    # reads the tiny (doc_a, doc_b) parquet instead of re-running the
    # whole shingle→signature→band pipeline
    pairs = memo_read(
        spark,
        "minhash_cluster_pairs",
        sf_dir,
        lambda: dedup_minhash_lsh_pairs(spark, sf_dir)
        .where(F.col("est_sim") >= CLUSTER_SIM)
        .select("doc_a", "doc_b"),
    )
    comp = min_label_components(pairs)
    return comp.select(F.col("n").alias("doc_id"), F.col("m").alias("cluster_id"))


#: propagation rounds chained LAZILY into one action per convergence sync.
#: Local-mode Spark charges ~2 s of fixed scheduling/AQE/broadcast latency
#: per action regardless of data size — the r4 shape paid it once PER ROUND
#: (measured: 2-4 s/round on a 3,888-edge graph whose actual join work is
#: milliseconds). Chaining trades at most CHUNK_ROUNDS-1 no-op rounds
#: (cheap: they reshuffle only the already-stable label frame) for a
#: CHUNK_ROUNDS× cut in driver syncs; near-dup micro-cluster graphs
#: (fixture diameter ≤ 3) converge AND confirm inside the first chunk.
#: At 100 TB each round is a real label shuffle, so the chunk size is the
#: overhead-vs-wasted-rounds knob: 4 suits shallow dedup graphs; a
#: deep-diameter graph would shrink it toward 2 as data cost overtakes
#: per-sync cost.
CHUNK_ROUNDS = 4
MAX_CHUNKS = 8  # 32 rounds total, comfortably above the old 20-round bound

#: pair graphs at or below this edge count solve in ONE executor task via
#: union-find instead of the distributed fixpoint. Near-dup graphs are
#: SPARSE BY CONSTRUCTION — LSH banding only proposes high-similarity
#: pairs, so edges ≪ corpus even at 100 TB (sf0.1: 1.9k pairs from 5k
#: docs; sf1: 20k from 50k). 2M edges ≈ 32 MB — trivial for one task; the
#: two-tier shape (size-capped local solve, distributed loop above it) is
#: the same threshold pattern as AQE's broadcast decision, and the
#: distributed path stays exercised by a forced-threshold test.
SMALL_GRAPH_EDGES = 2_000_000


def _unionfind_batches(batches):
    """Single-partition union-find over (u, v) pairs → (n, m=component
    min). Min-rooted union (larger root points at smaller) makes the root
    of every tree the component minimum — identical output to the
    min-label fixpoint."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for pdf in batches:
        for u, v in zip(pdf["u"].to_numpy(), pdf["v"].to_numpy()):
            u, v = int(u), int(v)
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
    nodes = sorted(parent)
    yield pd.DataFrame({"n": nodes, "m": [find(x) for x in nodes]})


def min_label_components(
    pairs: DataFrame, *, small_graph_edges: int = SMALL_GRAPH_EDGES
) -> DataFrame:
    """Connected components over an undirected pair graph: takes a
    two-column (a, b) pair frame (each pair once, either orientation),
    returns ``(n, m)`` — node and its component's minimum id. The reusable
    fixpoint behind both the MinHash (text) and hyperplane-LSH (embedding)
    cluster dedup operators; the scale posture and oracle mapping are
    documented at :func:`dedup_connected_components`.

    Two tiers, chosen by a measured edge count (the pair frame is cached,
    so the count materializes work the solver needs anyway):

    - ``≤ small_graph_edges``: one executor task runs union-find over the
      repartition(1) pair stream (:func:`_unionfind_batches`) — near-dup
      graphs are sparse by construction, and the distributed loop's
      per-sync fixed cost (~2 s of local-mode scheduling PER ACTION)
      dwarfs a 20k-edge solve measured in milliseconds.
    - above it: chunked min-label propagation. Each sync materializes
      CHUNK_ROUNDS chained rounds in ONE action; the convergence flag
      (sum of the final round's change bits) rides that same action as an
      ``Observation`` metric, so a sync costs exactly one job. A chunk
      whose final round changed nothing is a confirmed fixpoint (changes
      are monotone).
    """
    from pyspark.sql import Observation

    # the pair and edge caches, the chunk caches and every superseded
    # chunk checkpoint are read only by this call's eager syncs: they die
    # with its scope, and only the returned labeling is handed up
    with scope():
        pr = keep(pairs.toDF("u", "v"))
        n_edges = pr.count()  # materializes the cache; the tier decision input
        if n_edges <= small_graph_edges:
            out = hand_up(
                keep(
                    pr.repartition(1).mapInPandas(
                        _unionfind_batches, schema="n long, m long"
                    )
                )
            )
            out.count()  # materialize before the pair cache is dropped
            return out

        edges = pr.union(pr.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # cache: every iteration joins the same edge set (pr stays cached
        # beneath it only until edges materializes in the first sync)
        edges = keep(edges.distinct())
        labels = (
            edges.select(F.col("u").alias("n")).distinct().withColumn("m", F.col("n"))
        )
        for _ in range(MAX_CHUNKS):
            cur = labels
            for _ in range(CHUNK_ROUNDS):
                neighbor_min = (
                    edges.join(cur, edges.v == cur.n)
                    .groupBy("u")
                    .agg(F.min("m").alias("nm"))
                )
                nm = F.least(F.col("m"), F.coalesce(F.col("nm"), F.col("m")))
                cur = cur.join(
                    neighbor_min, cur.n == neighbor_min.u, "left"
                ).select(
                    "n",
                    nm.alias("m"),
                    (nm != F.col("m")).cast("long").alias("chg"),
                )
            obs = Observation()
            chunk = keep(cur.observe(obs, F.sum("chg").alias("chg")).select("n", "m"))
            chunk.count()  # materialize; the convergence metric rides this job
            # sum over an empty label set is NULL, and an empty graph is
            # already converged
            changed = obs.get["chg"] or 0
            # localCheckpoint TRUNCATES the logical plan at every sync:
            # each round references `cur` twice (update join + neighbor
            # min), so the chained tree doubles per round — persist alone
            # keeps the full logical history and the tree grows 2^rounds
            # across chunks (driver OOM in plan canonicalization on deep
            # graphs, found by the forced-threshold chain test). The
            # eager checkpoint reads the just-cached partitions, so it
            # costs one cheap local job; the metric must ride the SQL
            # count above — checkpoint materialization bypasses the
            # observation listener (measured: lazy-checkpoint metrics
            # silently read 0 and convergence fired 8 rounds early).
            labels = cut(chunk, eager=True)
            if changed == 0:
                return hand_up(labels)
        raise RuntimeError(
            f"label propagation did not converge in {CHUNK_ROUNDS * MAX_CHUNKS} rounds"
        )


@register(
    "dedup_ngram_jaccard",
    SHINGLES_CTE
    + """
, sub AS (SELECT doc_id, shingle FROM shingles WHERE doc_id % 20 = 0),
sizes AS (SELECT doc_id, count(*) AS sz FROM sub GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n
  FROM sub a JOIN sub b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(n AS DOUBLE) / (sa.sz + sb.sz - n), 4) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n AS DOUBLE) / (sa.sz + sb.sz - n) >= 0.05
""",
    doc="exact n-gram Jaccard on a 1/20 subset (ground truth for LSH)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise Jaccard over shingle sets, restricted to a 1/20 doc
    subset: the inherently-quadratic ground truth used to validate the LSH
    estimates. At scale this never runs on the full corpus — MinHash-LSH
    (above) is the production path."""
    sh = shingles(spark, sf_dir).where(F.col("doc_id") % 20 == 0)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n"))
    )
    sa = sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sza")
    sb = sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "szb")
    jac = F.col("n").cast("double") / (F.col("sza") + F.col("szb") - F.col("n"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= 0.05)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def _keep_best_oracle() -> str:
    from ufload_spark.operators.textops import _TOKENS_SQL

    return (
        _PAIRS_FOR_CLUSTERS_SQL.replace("WITH tokens", "WITH RECURSIVE tokens", 1)
        + f"""
, edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), nodes AS (SELECT DISTINCT u AS n FROM edges),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
), comp AS (
  SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
), tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS n_tokens FROM documents
), members AS (
  SELECT c.doc_id, c.cluster_id, t.n_tokens
  FROM comp c JOIN tok t USING (doc_id)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
                               ORDER BY n_tokens DESC, doc_id) AS rn
  FROM members
)
SELECT r.cluster_id, s.n_members, r.doc_id AS kept_doc_id,
       r.n_tokens AS kept_tokens
FROM ranked r
JOIN (SELECT cluster_id, count(*) AS n_members FROM members GROUP BY cluster_id) s
  USING (cluster_id)
WHERE r.rn = 1
"""
    )


@register(
    "dedup_cluster_keep_best",
    _keep_best_oracle(),
    doc="quality-aware cluster dedup: one survivor per near-dup cluster, "
    "picked by token count (ties → lowest id); oracle extends the "
    "recursive-CTE components fixpoint",
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision step clustering exists for: ONE survivor per near-dup
    cluster, chosen by quality (here: token count, ties to the lowest
    doc_id) — real curation keeps the best copy, not an arbitrary one
    (plain per-pair dedup keeps whichever side of each pair sorted first,
    which can drop the longest copy of a triplicate).

    Plan: components labels join token counts (one shuffle on doc_id), a
    row_number window per cluster_id picks the survivor, and a count
    aggregate rides the same cluster partitioning. Cluster cardinality is
    tiny (near-dup micro-clusters), so the window state is bounded."""
    from ufload_spark.operators.textops import token_count
    from ufload_spark.sources.tables import table as _table

    comp = dedup_connected_components(spark, sf_dir)
    toks = _table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    m = comp.join(toks, "doc_id")
    # n_members rides the SAME cluster_id window partitioning as the
    # survivor rank — one exchange, one window stage; the r4 shape computed
    # it as a separate groupBy and joined it back (second scan + join)
    wp = Window.partitionBy("cluster_id")
    w = wp.orderBy(F.desc("n_tokens"), "doc_id")
    return (
        m.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wp))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            "n_members",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_tokens").alias("kept_tokens"),
        )
    )


# --- Bloom-prefiltered incremental duplicate detection ----------------------

#: confs that make Catalyst inject its runtime Bloom filter on the batch
#: side of the fingerprint join at FIXTURE scale. At 100 TB they describe
#: reality (a corpus-wide fingerprint table is far beyond any broadcast
#: threshold, and the bloom thresholds default on); at fixture scale the
#: tiny fingerprint side would broadcast and the bloom would be skipped as
#: pointless, so the query pins the at-scale plan shape explicitly.
_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


class _scoped_confs:
    """Set SQL confs for a block and restore their previous values —
    registered queries share one session, so nothing may leak."""

    def __init__(self, spark: SparkSession, confs: dict):
        self.spark, self.confs = spark, confs

    def __enter__(self):
        self.saved = {
            k: self.spark.conf.get(k, None) for k in self.confs
        }
        for k, v in self.confs.items():
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


def _bloom_dup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch rows whose fingerprint already exists in the corpus — the
    LEFT SEMI join Catalyst decorates with a runtime Bloom filter under
    :data:`_BLOOM_CONFS` (plan-pinned by
    tests/test_scale.py::test_bloom_prefilter_plan)."""
    d = table(spark, sf_dir, "documents")
    existing = (
        d.where(F.col("doc_id") % 3 == 0).select(F.md5("text").alias("fp")).distinct()
    )
    batch = d.where(F.col("doc_id") % 2 == 0).select("doc_id", F.md5("text").alias("fp"))
    return batch.join(existing, "fp", "left_semi")


@register(
    "dedup_bloom_prefilter",
    """
SELECT b.doc_id, md5(b.text) AS fp
FROM documents b
WHERE b.doc_id % 2 = 0
  AND md5(b.text) IN (SELECT md5(text) FROM documents WHERE doc_id % 3 = 0)
""",
    doc="incremental duplicate detection with Catalyst's runtime Bloom "
    "filter: the batch scan drops non-members before the fingerprint "
    "shuffle; exact semi-join confirms",
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-prefiltered incremental dedup — the shape that matters when
    a NEW BATCH meets a corpus-scale fingerprint table neither side of
    which can broadcast. Catalyst's runtime Bloom filter
    (``bloom_filter_agg`` on the fingerprint side, ``might_contain``
    pushed into the batch scan) drops definite-non-duplicates BEFORE the
    shuffle, so the exchange carries only maybe-hits; the semi-join then
    confirms exactly — Bloom false positives cost a shuffled row, never a
    wrong answer. This is the engine-native form of the broadcast-a-
    summary trick (reference analog: the checksum probe before patch
    registration, db.py:658-672) and composes with the persisted
    fingerprint tables the incremental MinHash/LSH queries maintain.

    The confs that pin the at-scale plan shape are scoped to THIS
    query's execution and restored after (lazy plans re-optimize at
    execution time, so the result is published under the scoped confs
    via the staged loader and re-read — the same write-then-read pattern
    as the format round-trip queries)."""
    from ufload_spark.sources.loader import publish_scratch

    with _scoped_confs(spark, _BLOOM_CONFS):
        target = publish_scratch(
            spark, _bloom_dup_candidates(spark, sf_dir), "bloom_prefilter", sf_dir
        )
    return read_parquet(spark, target)


@register(
    "dedup_cluster_size_histogram",
    _PAIRS_FOR_CLUSTERS_SQL.replace("WITH tokens", "WITH RECURSIVE tokens", 1)
    + """
, edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), nodes AS (SELECT DISTINCT u AS n FROM edges),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
), comp AS (
  SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
)
SELECT n_members, count(*) AS n_clusters FROM (
  SELECT cluster_id, CAST(count(*) AS INT) AS n_members
  FROM comp GROUP BY cluster_id
) GROUP BY n_members
""",
    doc="dedup audit metric: distribution of near-dup cluster sizes "
    "(how much mass transitive clustering actually moves)",
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit readout a dedup run reports: how many clusters of each
    size the pair graph produced — the number that tells you whether
    near-dedup is removing isolated pairs or collapsing large families
    (and the denominator for 'docs removed by keep-best'). Rides the
    memoized component labels; two tiny aggregates above them."""
    comp = dedup_connected_components(spark, sf_dir)
    sizes = comp.groupBy("cluster_id").agg(
        F.count("*").cast("int").alias("n_members")
    )
    return sizes.groupBy("n_members").agg(F.count("*").alias("n_clusters"))


#: containment threshold: C(A,B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|
CONTAINMENT_T = 0.5


def _containment_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The containment join's index: every (doc_id, h) — h the 60-bit
    md5-derived shingle key, see :func:`base_hash60` — with the shingle's
    per-doc rank in GLOBAL rarest-first order (df asc, h asc) and the
    doc's set size — built once per (process, fixture) and
    published via :func:`~ufload_spark.sources.loader.memo_publish`. The
    raw form referenced the shingle pipeline SIX times across the plan
    (sizes, df, rank, probe, both verify sides) and recomputed the
    explode+window each time (~6.6 s of the 10.6 s sf0.1 wall); consumers
    now scan one parquet table, the `_persisted_band_sigs` pattern."""
    from ufload_spark.sources.loader import memo_read

    def build() -> DataFrame:
        # Shingles are keyed by a 60-bit md5-derived integer (r6) rather
        # than the raw trigram string: the index rows, the candidate join
        # key, and the verify arrays all shrink ~5× on the wire, and the
        # hash is the SAME expression the DuckDB oracle computes, so the
        # (vanishingly rare) collisions are identical on both engines —
        # the MinHash base-hash discipline. dropDuplicates post-hash keeps
        # set semantics exact under collision on both sides.
        sh = (
            shingles(spark, sf_dir)
            .select("doc_id", base_hash60(F.col("shingle")).alias("h"))
            .dropDuplicates(["doc_id", "h"])
        )
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
        dfreq = sh.groupBy("h").agg(F.count("*").alias("df"))
        return (
            sh.join(dfreq, "h")
            .join(sizes, "doc_id")
            .withColumn(
                "rnk",
                F.row_number().over(
                    Window.partitionBy("doc_id").orderBy("df", "h")
                ),
            )
            .select("doc_id", "h", "rnk", "sz")
        )

    return memo_read(spark, "containment_ranked", sf_dir, build)


def _containment_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verify stage's per-doc shingle ARRAYS (doc_id, arr, sz) — the
    second half of the containment index, also published once via
    :func:`~ufload_spark.sources.loader.memo_publish`. Before r6 the
    query re-aggregated ``collect_list(shingle)`` over the full ranked
    table on EVERY run (a corpus-wide doc_id shuffle); the arrays are a
    pure function of the corpus, so they belong in the persisted index
    alongside the ranked rows — per query run the verify side is now a
    parquet scan."""
    from ufload_spark.sources.loader import memo_read

    def build() -> DataFrame:
        return (
            _containment_ranked(spark, sf_dir)
            .groupBy("doc_id")
            .agg(F.collect_list("h").alias("arr"), F.count("*").alias("sz"))
        )

    return memo_read(spark, "containment_sets", sf_dir, build)


def _containment_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed candidate pairs (doc_a, doc_b) that can possibly satisfy
    C(A,B) >= t, by prefix + positional filtering (PPJoin family, public):

    - PREFIX: only doc_a's first ``sz - ceil(t*sz) + 1`` rarest shingles
      probe the index — skipping past them forfeits too many of A's
      shingles to reach t coverage.
    - POSITIONAL: a match at per-doc ranks (p_a, p_b) bounds the whole
      overlap by ``1 + min(sz_a - p_a, sz_b - p_b)`` (every other common
      shingle sorts after it in BOTH sets under the shared global order),
      so matches whose bound is below ``ceil(t*sz_a)`` are discarded
      before the pair ever reaches the dedup shuffle. Neither filter can
      drop a true pair; the brute-force oracle proves it.

    Shared by the registered query and the pruning test so the test
    measures the shipped pipeline, not a private copy."""
    ranked = _containment_ranked(spark, sf_dir)
    need = F.ceil(F.lit(CONTAINMENT_T) * F.col("sz_a"))
    prefix = ranked.where(
        F.col("rnk") <= F.col("sz") - F.ceil(F.lit(CONTAINMENT_T) * F.col("sz")) + 1
    ).select(
        F.col("doc_id").alias("doc_a"),
        "h",
        F.col("rnk").alias("p_a"),
        F.col("sz").alias("sz_a"),
    )
    index = ranked.select(
        F.col("doc_id").alias("doc_b"),
        "h",
        F.col("rnk").alias("p_b"),
        F.col("sz").alias("sz_b"),
    )
    return (
        prefix.join(index, "h")
        .where(F.col("doc_a") != F.col("doc_b"))
        .where(
            1 + F.least(F.col("sz_a") - F.col("p_a"), F.col("sz_b") - F.col("p_b"))
            >= need
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


@register(
    "dedup_containment",
    SHINGLES_CTE
    + f"""
, hs AS (
  SELECT DISTINCT doc_id, {BASE_HASH60_SQL} AS h FROM shingles
), sizes AS (SELECT doc_id, count(*) AS sz FROM hs GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n
  FROM hs a JOIN hs b
    ON a.h = b.h AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(CAST(n AS DOUBLE) / sa.sz, 4) AS containment
FROM inter JOIN sizes sa ON doc_a = sa.doc_id
WHERE CAST(n AS DOUBLE) / sa.sz >= {CONTAINMENT_T}
""",
    doc="asymmetric n-gram containment pairs (doc_a's shingles covered by "
    "doc_b) via rarest-first prefix + positional filtering — catches "
    "subset/quote duplication that symmetric Jaccard under-scores",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment join: emit directed pairs where at least
    ``CONTAINMENT_T`` of doc_a's shingle set appears in doc_b. Jaccard
    punishes size mismatch (a doc fully quoted inside a 10× larger one has
    J ≈ 0.1 but containment 1.0), so this is the operator that catches
    subset duplication — trained-on-quotes leakage, boilerplate wrappers,
    versioned supersets.

    Candidates come from :func:`_containment_candidates` (prefix +
    positional filtering, set-similarity-join literature: Chaudhuri et
    al. 2006, Xiao et al. PPJoin — public); the ranked shingle index is
    built once and persisted (:func:`_containment_ranked`), then
    candidates are verified with an exact intersection count restricted
    to candidate pairs. The oracle is the brute-force shared-shingle
    join — exactly the quadratic work the filters avoid at scale.

    Reference analog: none (extension surface — dedup family).
    """
    cand = _containment_candidates(spark, sf_dir)
    # verify via per-doc shingle ARRAYS + a JVM array_intersect per pair:
    # linear in candidates. (The earlier row-level verify re-joined the
    # shingle table per pair — its output was the same Σdf² blow-up the
    # prefix filter exists to avoid, and dominated the sf1 wall. r6: the
    # arrays come from the persisted index, not a per-run corpus shuffle.)
    sets = _containment_sets(spark, sf_dir)
    sa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a"),
        F.col("sz").alias("sz"),
    )
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b"))
    n = F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b")))
    c = n.cast("double") / F.col("sz")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(c >= CONTAINMENT_T)
        .select("doc_a", "doc_b", F.round(c, 4).alias("containment"))
    )


# --- edit-distance confirmation of LSH candidates --------------------------

#: normalized-prefix length compared by the edit-distance confirm stage
LEV_PREFIX = 80
#: maximum accepted prefix edit distance (the banded-DP early-exit bound)
LEV_MAX = 32


@register(
    "dedup_editdist_confirm",
    None,  # oracle assembled below (reuses the LSH pair oracle verbatim)
    doc=f"fuzzy-dedup confirm stage: MinHash-LSH candidate pairs verified "
    f"by bounded edit distance on the {LEV_PREFIX}-char normalized prefix — "
    f"Spark evaluates the threshold form (banded DP, early exit at "
    f"{LEV_MAX}), so per-pair cost is O(prefix·{LEV_MAX}) not O(prefix²)",
)
def dedup_editdist_confirm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage fuzzy-dedup shape with an EDIT-DISTANCE verifier:
    MinHash-LSH proposes candidate pairs (banded equi-joins, never
    all-pairs), then each candidate's normalized text prefix is compared
    with ``levenshtein(a, b, threshold)`` — Spark's bounded form runs the
    banded dynamic program and exits early once the distance provably
    exceeds the bound, returning -1. Character-level confirmation catches
    what signature agreement only estimates (LSH says "probably similar";
    the edit distance is a ground metric on the actual bytes).

    Plan shape: candidate generation is the existing LSH plan (one
    signature evaluation via exchange reuse); the confirm stage is two
    hash joins fetching the 80-char prefixes (projected BEFORE the join —
    only (doc_id, prefix) shuffles, never full text) and a JVM-side
    bounded levenshtein per candidate. Work is bounded by CANDIDATES ×
    O(prefix·k) — the same verify-bounded-by-candidates discipline the
    containment join learned (SCALING.md r5 notes).
    """
    cands = dedup_minhash_lsh_pairs(spark, sf_dir)
    prefs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(_norm_text(), 1, LEV_PREFIX).alias("p"),
    )
    a, b = prefs.alias("pa"), prefs.alias("pb")
    lev = F.levenshtein(F.col("pa.p"), F.col("pb.p"), LEV_MAX)
    return (
        cands.join(a, cands.doc_a == F.col("pa.doc_id"))
        .join(b, cands.doc_b == F.col("pb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "est_sim",
            lev.alias("prefix_editdist"),
        )
        .where(F.col("prefix_editdist") >= 0)
    )


# oracle: the LSH pair oracle verbatim + the same normalize/prefix/verify —
# DuckDB computes the full edit distance and filters, which is result-
# equivalent to Spark's early-exit threshold form on the kept rows
import dataclasses as _dc

QUERIES["dedup_editdist_confirm"] = _dc.replace(
    QUERIES["dedup_editdist_confirm"],
    oracle=f"""
WITH pairs AS (
{QUERIES["dedup_minhash_lsh_pairs"].oracle}
), prefs AS (
  SELECT doc_id,
         substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                1, {LEV_PREFIX}) AS p
  FROM documents
)
SELECT c.doc_a, c.doc_b, c.est_sim,
       CAST(levenshtein(a.p, b.p) AS INT) AS prefix_editdist
FROM pairs c
JOIN prefs a ON c.doc_a = a.doc_id
JOIN prefs b ON c.doc_b = b.doc_id
WHERE levenshtein(a.p, b.p) <= {LEV_MAX}
"""
)


# --- exact substring-span dedup (Lee et al. 2022, hash-grouped) -----------

#: span width in tokens. Lee et al. use 50 BPE tokens; 16 whitespace tokens
#: is the same order of magnitude on the fixture docs while still planting
#: hits at sf0.001.
SPAN_W = 16


def _span_hashes(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """``(doc_id, tk)`` token arrays and their ``(doc_id, pos, h)`` stride-1
    :data:`SPAN_W`-token span hashes."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    n = F.size("tk")
    positions = F.when(
        n >= SPAN_W, F.sequence(F.lit(0), n - SPAN_W)
    ).otherwise(F.array().cast("array<int>"))
    spans = d.select(
        "doc_id", "tk", F.posexplode(positions).alias("_i", "pos")
    ).select(
        "doc_id",
        "pos",
        F.md5(F.concat_ws(" ", F.slice("tk", F.col("pos") + 1, SPAN_W))).alias("h"),
    )
    return d, spans


def _span_coverage(spans: DataFrame) -> DataFrame:
    """Per doc: how many of ``spans`` (doc_id, pos) it has and how many
    token positions they cover — the interval union of equal-width sorted
    spans as a windowed ``least(W, next_start - start)`` sum."""
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    contrib = F.least(
        F.lit(SPAN_W),
        F.coalesce(F.lead("pos").over(w_doc) - F.col("pos"), F.lit(SPAN_W)),
    )
    return (
        spans.withColumn("c", contrib)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_dup_spans"),
            F.sum("c").cast("int").alias("dup_tokens"),
        )
    )


@register(
    "dedup_substring_spans",
    f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), spans AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         md5(array_to_string(list_slice(tk, i + 1, i + {SPAN_W}), ' ')) AS h
  FROM (SELECT doc_id, tk,
               unnest(range(greatest(len(tk) - {SPAN_W} + 1, 0))) AS i
        FROM toks)
), dup AS (
  SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2
), contrib AS (
  SELECT doc_id,
         least({SPAN_W},
               coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                        - pos, {SPAN_W})) AS c
  FROM spans s JOIN dup USING (h)
), cov AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_dup_spans,
         CAST(sum(c) AS INT) AS dup_tokens
  FROM contrib GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.tk) AS INT) AS n_tokens,
       CAST(greatest(len(t.tk) - {SPAN_W} + 1, 0) AS INT) AS n_spans,
       CAST(coalesce(c.n_dup_spans, 0) AS INT) AS n_dup_spans,
       CAST(coalesce(c.dup_tokens, 0) AS INT) AS dup_tokens,
       CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) / len(t.tk) AS dup_frac
FROM toks t LEFT JOIN cov c USING (doc_id)
""",
    doc=f"exact substring-span dedup: {SPAN_W}-token stride-1 spans shared "
    "across >= 2 docs; per-doc duplicated-token coverage via interval union",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring detection — the hash-grouped re-expression
    of Lee et al. 2022's suffix-array pass ("Deduplicating Training Data
    Makes Language Models Better"): every stride-1 window of
    :data:`SPAN_W` tokens is content-hashed, a span whose hash occurs in
    >= 2 DISTINCT documents is a cross-corpus duplicated substring, and
    each document reports how many of its token positions such spans cover
    (the paper's "fraction of duplicated tokens", exact via interval
    union — equal-width sorted intervals make the union a windowed
    ``least(W, next_start - start)`` sum, integer arithmetic on both
    engines).

    Scale shape: span generation is a narrow map (posexplode over a
    position sequence; the token array is split once per document below
    the Generate, and each emitted row slices ``SPAN_W`` tokens — O(n·W)
    work, never O(n²) memory). Cross-doc frequency is computed with ONE
    shuffle on the span hash via windowed ``min(doc_id) != max(doc_id)``
    (the O(1)-state equivalent of ``count(DISTINCT doc_id) >= 2`` — a
    boilerplate span shared by millions of docs never materializes a
    doc_id set) — no groupBy-then-rejoin second scan of the corpus. The coverage window
    and the per-doc aggregate share a single doc_id exchange, and the
    final left join back to documents rides the same doc_id partitioning.
    At 100 TB the paper's cluster-global suffix array is replaced by this
    shuffle-on-hash discipline; the documented knobs are stride sampling
    (stride s > 1 trades recall of spans shorter than W + s for s× fewer
    rows) and a 64-bit span hash instead of md5 text.

    Reference analog: none — extension surface mandated by the
    training-data brief (sub-document exact dedup complements
    `corpus_paragraph_dedup`, which only sees fixed non-overlapping
    chunks).
    """
    d, spans = _span_hashes(spark, sf_dir)
    n = F.size("tk")
    # One shuffle on h: the ">= 2 distinct docs" flag as a window, no
    # rejoin. min != max is the O(1)-state form of count(DISTINCT) >= 2 —
    # a boilerplate span shared by millions of documents costs two scalars
    # of aggregation buffer, not a materialized doc_id set.
    w_h = Window.partitionBy("h")
    multi = F.min("doc_id").over(w_h) != F.max("doc_id").over(w_h)
    dup = spans.withColumn("_multi", multi).where(F.col("_multi")).drop("_multi")
    return (
        d.join(_span_coverage(dup), "doc_id", "left")
        .select(
            "doc_id",
            n.cast("int").alias("n_tokens"),
            F.greatest(n - SPAN_W + 1, F.lit(0)).cast("int").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("int").alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("int").alias("dup_tokens"),
            (F.coalesce("dup_tokens", F.lit(0)).cast("double") / n).alias("dup_frac"),
        )
    )


@register(
    "dedup_substring_incremental",
    f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), spans AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         md5(array_to_string(list_slice(tk, i + 1, i + {SPAN_W}), ' ')) AS h
  FROM (SELECT doc_id, tk,
               unnest(range(greatest(len(tk) - {SPAN_W} + 1, 0))) AS i
        FROM toks)
), corpus AS (
  SELECT DISTINCT h FROM spans WHERE doc_id % 4 != 0
), hits AS (
  SELECT s.doc_id, s.pos FROM spans s JOIN corpus USING (h)
  WHERE s.doc_id % 4 = 0
), contrib AS (
  SELECT doc_id,
         least({SPAN_W},
               coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                        - pos, {SPAN_W})) AS c
  FROM hits
), cov AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_dup_spans,
         CAST(sum(c) AS INT) AS dup_tokens
  FROM contrib GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(greatest(len(t.tk) - {SPAN_W} + 1, 0) AS INT) AS n_spans,
       CAST(coalesce(c.n_dup_spans, 0) AS INT) AS n_dup_spans,
       CAST(coalesce(c.dup_tokens, 0) AS INT) AS dup_tokens
FROM toks t LEFT JOIN cov c USING (doc_id)
WHERE t.doc_id % 4 = 0
""",
    doc="incremental substring-span dedup: an incoming batch's spans are "
    "semi-joined against the persisted corpus span-hash set; only the "
    "batch is re-tokenized",
)
def dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growing-corpus lifecycle for exact substring dedup, completing
    the incremental family (exact/MinHash/hyperplane-LSH/IVF/PQ → spans):
    the corpus's span hashes are a persisted table maintained at ingest
    (the loader's staging→publish discipline); an incoming batch hashes
    ONLY its own spans and probes the corpus set with a hash semi-join,
    then reports per-document contaminated-token coverage (same exact
    interval union as `dedup_substring_spans`). The 100 TB corpus is
    never re-tokenized — per batch the cost is batch-spans × one
    semi-join against the span table (Bloom-filter prunable, the
    `dedup_bloom_prefilter` composition).

    Fixture stand-in: batch = ``doc_id % 4 == 0``, corpus = the rest —
    the `dedup_minhash_incremental` convention, so the two lifecycles
    stay comparable side by side.
    """
    d, spans = _span_hashes(spark, sf_dir)
    n = F.size("tk")
    corpus = spans.where(~in_batch()).select("h").distinct()
    hits = (
        spans.where(in_batch()).join(corpus, "h", "left_semi").select("doc_id", "pos")
    )
    return (
        d.where(in_batch())
        .join(_span_coverage(hits), "doc_id", "left")
        .select(
            "doc_id",
            F.greatest(n - SPAN_W + 1, F.lit(0)).cast("int").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("int").alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("int").alias("dup_tokens"),
        )
    )


_SIMHASH_SEGS_SQL = (
    f"SELECT doc_id, simhash, j AS seg,\n"
    f"         (simhash >> ({SEG_BITS} * j)) & {(1 << SEG_BITS) - 1} AS segval\n"
    f"  FROM %s, (SELECT unnest(range(0, {N_SEGS})) AS j)"
)
#: the oracle twin of :func:`simhash_collided` over a ``sims`` CTE: the
#: batch/corpus split, both segment melts and the ``collided`` batch ids
_SIMHASH_PROBE_SQL = f"""batch AS (SELECT * FROM sims WHERE doc_id % 4 = 0),
existing AS (SELECT * FROM sims WHERE doc_id % 4 <> 0),
bsegs AS (
  {_SIMHASH_SEGS_SQL % 'batch'}
), esegs AS (
  {_SIMHASH_SEGS_SQL % 'existing'}
), collided AS (
  SELECT DISTINCT b.doc_id
  FROM bsegs b JOIN esegs e ON b.seg = e.seg AND b.segval = e.segval
  WHERE bit_count(xor(b.simhash, e.simhash)) <= {HAMMING_D}
)"""


@register(
    "dedup_simhash_incremental",
    _SIMHASH_CTE
    + f"""
, {_SIMHASH_PROBE_SQL}
SELECT doc_id FROM batch
WHERE doc_id NOT IN (SELECT doc_id FROM collided)
""",
    doc="incremental SimHash dedup against a PERSISTED fingerprint table: "
    "the batch's segment keys probe the published corpus fingerprints; "
    "survivors (no corpus doc within the Hamming radius) are appendable",
)
def dedup_simhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growing-corpus lifecycle for SimHash, completing the incremental
    family (exact / MinHash / hyperplane-LSH / IVF / PQ / spans → SimHash):
    corpus fingerprints are PERSISTED through the staged loader
    (stage → audit → atomic publish, read back from parquet — the
    `dedup_minhash_persist_roundtrip` discipline), an incoming batch
    fingerprints only ITS OWN documents, melts to (seg, segval) pigeonhole
    keys, and probes the published table; a batch doc with any corpus
    fingerprint within Hamming distance :data:`HAMMING_D` is a near-dup,
    the rest are the appendable survivors.

    Scale shape: per batch the cost is batch-fingerprints × one segment
    equi-join against the fingerprint table (bucket cardinality
    2^SEG_BITS per segment bounds the per-bucket pairing exactly as in
    `dedup_simhash_pairs`); the 100 TB corpus is never re-shingled, and
    the published table grows by one append per ingested batch.

    Reference analog: none — extension surface (dedup family lifecycle).
    """
    from ufload_spark.sources.loader import publish_read

    sims = dedup_simhash(spark, sf_dir)
    persisted = publish_read(spark, sims.where(~in_batch()), "simhash_fps", sf_dir)
    batch = sims.where(in_batch())
    collided = simhash_collided(batch, persisted)
    return batch.select("doc_id").join(collided, "doc_id", "left_anti")


#: Winnowing (MOSS) fingerprint selection: window of consecutive k-gram
#: hashes; per window keep the minimum hash, rightmost on ties — the
#: guarantee is that any shared substring of >= W+k-1 tokens yields at
#: least one shared fingerprint, with expected density 2/(W+1).
WINNOW_W = 4
#: position packing modulus: key = hash*2^32 + (2^32-1-pos) makes one
#: BIGINT `min` implement (smallest hash, rightmost position) exactly in
#: both engines. The pack is 24 hash bits * 2^32 + 32 pos bits = 56 bits,
#: comfortably inside BIGINT; and the position side can never overflow
#: structurally — a doc's k-gram count is bounded by its text length, and
#: a single Spark/Parquet string cell caps at 2 GiB < 2^31 tokens, so
#: pos < 2^31 < 2^32 for ANY representable document (r8 advice: the old
#: 2^20 pack went silently negative past ~1M k-grams).
WINNOW_POSMOD = 1 << 32
#: stop-fingerprint guard: a fingerprint shared by more than the df cap
#: is boilerplate (license headers, navigation chrome) — dropping it
#: bounds the candidate join's per-key fan-out at corpus scale. The cap
#: is SELF-BOUNDING (r9, the lsh_r discipline): real duplicate clusters
#: grow with the corpus, so a fixed cap silently sheds recall at 100×;
#: maxdf(n) = max(32, 4*ceil(log2 n)) grows logarithmically — fan-out
#: stays O(log² n) per fingerprint (120² at a billion docs) while cluster
#: headroom tracks corpus growth. Oracle twin: the ``wknob`` scalar CTE.
WINNOW_DF_FLOOR = 32
WINNOW_DF_SLOPE = 4
WINNOW_MIN_SHARED = 2


def _winnow_maxdf(n_docs: int) -> int:
    import math

    return max(WINNOW_DF_FLOOR, WINNOW_DF_SLOPE * math.ceil(math.log2(max(n_docs, 2))))

_WINNOW_FPS_CTE = f"""
WITH tokens AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
), ps AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                i -> {{'pos': i,
                      'sh': toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]}}))
           AS s
  FROM tokens WHERE len(toks) >= 3
), keyed AS (
  SELECT doc_id, s.pos AS pos,
         ('0x' || substr(md5(s.sh), 1, 6))::BIGINT * {WINNOW_POSMOD}
           + ({WINNOW_POSMOD} - 1 - s.pos) AS key
  FROM ps
), winmin AS (
  SELECT doc_id,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                        AND {WINNOW_W - 1} FOLLOWING) AS wmin,
         lead(pos, {WINNOW_W - 1})
           OVER (PARTITION BY doc_id ORDER BY pos) AS tailpos
  FROM keyed
), fps AS (
  SELECT DISTINCT doc_id, wmin // {WINNOW_POSMOD} AS fp
  FROM winmin WHERE tailpos IS NOT NULL
)"""


def _winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp) — the distinct winnowing fingerprints of every doc."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    t = spread(d, "doc_id").select(
        "doc_id", F.posexplode(toks).alias("pos0", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos0")
    t3 = F.lead("tok", 2).over(w)
    sh = (
        t.select(
            "doc_id",
            (F.col("pos0") + 1).cast("long").alias("pos"),  # 1-based, oracle-aligned
            F.concat_ws(" ", "tok", F.lead("tok", 1).over(w), t3).alias("shingle"),
            t3.alias("t3"),
        )
        .where(F.col("t3").isNotNull())
        .select(
            "doc_id",
            "pos",
            (
                F.conv(F.substring(F.md5(F.col("shingle")), 1, 6), 16, 10).cast("long")
                * WINNOW_POSMOD
                + (F.lit(WINNOW_POSMOD - 1) - F.col("pos"))
            ).alias("key"),
        )
    )
    ww = Window.partitionBy("doc_id").orderBy("pos")
    frame = ww.rowsBetween(0, WINNOW_W - 1)
    return (
        sh.select(
            "doc_id",
            F.min("key").over(frame).alias("wmin"),
            F.lead("pos", WINNOW_W - 1).over(ww).alias("tailpos"),
        )
        .where(F.col("tailpos").isNotNull())
        .select("doc_id", F.expr(f"wmin div {WINNOW_POSMOD}").alias("fp"))
        .distinct()
    )


def _df_capped(fps: DataFrame, maxdf: int) -> DataFrame:
    """The ``(doc_id, fp)`` rows whose fingerprint occurs at most
    ``maxdf`` times — the stop-fingerprint guard."""
    live = fps.groupBy("fp").agg(F.count("*").alias("df")).where(
        F.col("df") <= F.lit(maxdf)
    ).select("fp")
    return fps.join(live, "fp", "left_semi")


@register(
    "dedup_winnowing_pairs",
    _WINNOW_FPS_CTE
    + f"""
, wknob AS (
  SELECT greatest({WINNOW_DF_FLOOR},
                  {WINNOW_DF_SLOPE} * CAST(ceil(log2(count(*))) AS INT))
           AS maxdf
  FROM documents
), live AS (
  SELECT fp FROM fps GROUP BY fp
  HAVING count(*) <= (SELECT maxdf FROM wknob)
), f AS (SELECT fps.* FROM fps SEMI JOIN live USING (fp)),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM f GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared_fp
  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
)
SELECT p.doc_a, p.doc_b, p.shared_fp, sa.sz AS sz_a, sb.sz AS sz_b,
       CAST(p.shared_fp * 1000000 // (sa.sz + sb.sz - p.shared_fp) AS BIGINT)
         AS overlap_micro
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
""",
    doc="winnowing (MOSS) fingerprint near-dup pairs: per-doc window-min "
    f"k-gram hash selection (W={WINNOW_W}, rightmost tie-break packed "
    "into one BIGINT min), stop-fingerprint df cap, candidate pairs from "
    "a fingerprint equi-join — never all-pairs",
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint dedup — the MOSS/local-fingerprinting tier
    between exact hashing and MinHash: Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting" (SIGMOD
    2003). Each doc's 3-gram hash stream is scanned with a width-
    :data:`WINNOW_W` window; each full window contributes its minimum
    hash (rightmost on ties — the robust-winnowing rule). The guarantee:
    two docs sharing any token run of >= W+k-1 tokens share >= 1
    fingerprint, so candidate retrieval is an equi-join on fingerprints
    — like LSH banding but with a POSITIONAL guarantee (detects shared
    passages, not just globally similar docs).

    Cross-engine exactness: (min hash, rightmost pos) is packed into one
    BIGINT ``key = h·2^32 + (2^32-1-pos)`` so a plain window ``min``
    implements the tie-break identically in Spark and DuckDB — no
    argmin/min_by semantics to reconcile.

    Scale shape: fingerprint selection is one window pass per doc behind
    the doc_id exchange the whole dedup family shares; the df cap drops
    boilerplate fingerprints BEFORE the pair join, bounding per-key
    fan-out to :func:`_winnow_maxdf`² (corpus-derived, O(log² n) — the
    knob formula lives in BOTH engines); pairs come from a fingerprint
    equi-join + pair-key aggregate — the banded-LSH shuffle shape, never
    all-pairs. Reference analog: none (extension surface, dedup family).
    """
    from ufload_spark.sources.tables import corpus_count

    maxdf = _winnow_maxdf(corpus_count(spark, sf_dir, "documents"))
    kept = _df_capped(_winnow_fingerprints(spark, sf_dir), maxdf)
    sizes = kept.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("sz"))
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("shared_fp"))
        .where(F.col("shared_fp") >= WINNOW_MIN_SHARED)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_fp",
            "sz_a",
            "sz_b",
            F.expr(
                "CAST(shared_fp * 1000000 div (sz_a + sz_b - shared_fp) AS BIGINT)"
            ).alias("overlap_micro"),
        )
    )


@register(
    "dedup_winnowing_incremental",
    _WINNOW_FPS_CTE
    + f"""
, wknob AS (
  SELECT greatest({WINNOW_DF_FLOOR},
                  {WINNOW_DF_SLOPE} * CAST(ceil(log2(count(*))) AS INT))
           AS maxdf
  FROM documents
), batch AS (SELECT * FROM fps WHERE doc_id % 4 = 0),
existing AS (SELECT * FROM fps WHERE doc_id % 4 <> 0),
live AS (
  SELECT fp FROM existing GROUP BY fp
  HAVING count(*) <= (SELECT maxdf FROM wknob)
), ex AS (SELECT existing.* FROM existing SEMI JOIN live USING (fp)),
hits AS (
  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS shared
  FROM batch b JOIN ex e ON b.fp = e.fp
  GROUP BY b.doc_id, e.doc_id
), collided AS (
  SELECT DISTINCT doc_id FROM hits WHERE shared >= {WINNOW_MIN_SHARED}
)
SELECT doc_id FROM batch WHERE doc_id NOT IN (SELECT doc_id FROM collided)
GROUP BY doc_id
""",
    doc="incremental winnowing dedup against a PERSISTED fingerprint "
    "table: the batch fingerprints only its own docs and probes the "
    "published df-capped corpus fingerprints; survivors (no corpus doc "
    f"sharing >= {WINNOW_MIN_SHARED} fingerprints) are appendable",
)
def dedup_winnowing_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growing-corpus lifecycle for winnowing, completing the
    incremental family (exact / MinHash / SimHash / hyperplane-LSH / IVF
    / PQ / spans / multimodal → winnowing): corpus fingerprints are
    PERSISTED through the staged loader (stage → audit → atomic publish,
    read back from parquet — the `dedup_minhash_persist_roundtrip`
    discipline), an incoming batch fingerprints only ITS OWN documents
    and probes the published table on the fp key; a batch doc sharing
    >= :data:`WINNOW_MIN_SHARED` fingerprints with any single corpus doc
    is a near-dup (same decision rule as `dedup_winnowing_pairs`), the
    rest are the appendable survivors.

    Scale shape: per batch the cost is batch-sized fingerprint selection
    (one partitioned window pass) plus one fp equi-join against the
    published table whose per-key fan-out the corpus-derived df cap
    (:func:`_winnow_maxdf`, oracle twin ``wknob``) bounds — the corpus
    is never re-tokenized, and the published table grows by one append
    per ingested batch.

    Reference analog: none — extension surface (dedup family lifecycle).
    """
    from ufload_spark.sources.loader import publish_read
    from ufload_spark.sources.tables import corpus_count

    maxdf = _winnow_maxdf(corpus_count(spark, sf_dir, "documents"))
    fps = _winnow_fingerprints(spark, sf_dir)
    persisted = publish_read(spark, fps.where(~in_batch()), "winnow_fps", sf_dir)
    ex = _df_capped(persisted, maxdf)
    batch = fps.where(in_batch())
    collided = (
        batch.alias("b")
        .join(ex.alias("e"), "fp")
        .groupBy(F.col("b.doc_id").alias("doc_id"), F.col("e.doc_id").alias("eid"))
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= WINNOW_MIN_SHARED)
        .select("doc_id")
        .distinct()
    )
    return (
        batch.select("doc_id").distinct().join(collided, "doc_id", "left_anti")
    )


_MINHASH_ERR_ORACLE = (
    _MINHASH_SIGS_SQL
    + f"""
, cand AS (
{_BAND_JOINS_SQL}
), scored AS (
  SELECT DISTINCT c.doc_a, c.doc_b, ({_MATCHES_SQL}) AS n_match
  FROM cand c
  JOIN sigs a ON c.doc_a = a.doc_id
  JOIN sigs b ON c.doc_b = b.doc_id
  WHERE ({_MATCHES_SQL}) >= 2
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM shingles GROUP BY doc_id
), inter AS (
  SELECT s.doc_a, s.doc_b, CAST(count(*) AS BIGINT) AS n
  FROM scored s
  JOIN shingles x ON x.doc_id = s.doc_a
  JOIN shingles y ON y.doc_id = s.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2
), px AS (
  SELECT s.n_match,
         (1000000 * coalesce(i.n, 0))
           // (sa.sz + sb.sz - coalesce(i.n, 0)) AS exact_micro
  FROM scored s
  LEFT JOIN inter i ON i.doc_a = s.doc_a AND i.doc_b = s.doc_b
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
)
SELECT CAST(n_match AS INT) AS n_match,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(exact_micro) // count(*) AS BIGINT) AS mean_exact_micro,
       CAST(sum(abs(n_match * {1_000_000 // K_HASHES} - exact_micro))
              // count(*) AS BIGINT) AS mean_abs_err_micro
FROM px GROUP BY n_match
"""
)


@register(
    "dedup_minhash_estimate_error_eval",
    _MINHASH_ERR_ORACLE,
    doc="MinHash estimator audit: for every LSH candidate pair, exact "
    "shingle-set Jaccard (integer micro-units, pure integer floor "
    "division) vs the signature-agreement estimate, folded per agreement "
    "level into pair counts, mean exact similarity and mean absolute "
    "estimator error",
)
def dedup_minhash_estimate_error_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Estimator-quality audit for the MinHash family, the dedup sibling
    of ``similarity_quantized_recall_eval``: every LSH candidate pair's
    EXACT shingle-set Jaccard is computed (candidate-bounded — the exact
    intersection joins only pair members' shingles, never all-pairs) and
    compared with the K-hash agreement estimate, per agreement level.
    This prices the K={K_HASHES} signature in ranking terms on the live
    corpus, inside the correctness sweep: an index owner reads
    ``mean_abs_err_micro`` by ``n_match`` to decide whether K needs to
    grow before trusting ``est_sim`` thresholds. All similarity values
    are integer micro-units via pure integer floor division
    (``1e6·|A∩B| // |A∪B|``), so the fold is order-free and bit-exact —
    no float path to drift between engines.

    Scale shape: the candidate set is the banded LSH join (bounded per
    band key); the exact-intersection join carries only candidate
    members' shingles (two shuffle-on-key joins); the final fold is a
    ≤K-row aggregate. Engine-external replay:
    ``tests/test_recall.py::test_minhash_error_eval_pure_replay``.

    Reference analog: none (extension surface — evaluation family).
    """
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        F.round(F.col("est_sim") * K_HASHES).cast("int").alias("n_match"),
    )
    sh = shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("sz"))
    x = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    y = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.select("doc_a", "doc_b")
        .join(x, "doc_a")
        .join(y, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    px = (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "n_match",
            F.expr(
                "(1000000 * coalesce(n, 0)) div (sza + szb - coalesce(n, 0))"
            ).alias("exact_micro"),
        )
    )
    est = F.col("n_match") * (1_000_000 // K_HASHES)
    return px.groupBy("n_match").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.expr("sum(exact_micro) div count(*)")
        .cast("bigint")
        .alias("mean_exact_micro"),
        F.sum(F.abs(est - F.col("exact_micro")))
        .cast("bigint")
        .alias("_s"),
    ).select(
        "n_match",
        "n_pairs",
        "mean_exact_micro",
        F.expr("_s div n_pairs").cast("bigint").alias("mean_abs_err_micro"),
    )
