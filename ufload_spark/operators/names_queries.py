"""Name-function conformance queries (SURVEY §2.8, mirrors §5's unit tests).

Each query applies one OP-FN expression to a literal frame of the exact
cases the reference's own unit tests exercise (FIXTURES.md §B2; reference
ufload/cli/test_main.py:7-12, ufload/test_db.py:11-21, ufload/test_cloud.py:3-7).
The DuckDB oracle is a golden VALUES table of the reference-expected outputs,
so these check our Column expressions against known-correct answers rather
than against an equivalent SQL re-implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ufload_spark.functions.names import (
    db_to_instance,
    decrypt_password,
    file_to_db,
    instance_to_dir,
    match_any_wildcard,
)
from ufload_spark.plans.registry import register
from ufload_spark.sources.tables import local_frame

_FILE_CASES = [
    "OCG_MM1_WA-20160831-220427-A-UF2.1-2p3.dump",
    "OCA_BD1-20200229-235959-A-UF17.0-1p1.zip",
    "wrong.dump",
    "noversion-x-y.zip",
]


@register(
    "fn_file_to_db",
    """
SELECT * FROM (VALUES
  ('OCG_MM1_WA-20160831-220427-A-UF2.1-2p3.dump', 'pfx_OCG_MM1_WA_20160831_2204'),
  ('OCA_BD1-20200229-235959-A-UF17.0-1p1.zip',    'pfx_OCA_BD1_20200229_2359'),
  ('wrong.dump',                                   'pfx_wrong'),
  ('noversion-x-y.zip',                            'pfx_noversion-x-')
) AS t(name, db_name)
""",
    doc="OP-FN-1 filename→db vs reference cli/test_main.py golden outputs "
    "plus the live fn[:-5] fallback branch (cli/main.py:77-78)",
)
def fn_file_to_db(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = local_frame(spark, [(n,) for n in _FILE_CASES], "name string")
    return df.select("name", file_to_db(F.col("name"), "pfx").alias("db_name"))


_DB_CASES = [
    "OCG_KG1_OSH_20161116_0102",
    "prod_OCBZW160_20161116_0102",
    "prod_BD_DHK_OCA_20161116_0102",
    "SYNC_SERVER_LOCAL",
]


@register(
    "fn_db_to_instance",
    """
SELECT * FROM (VALUES
  ('OCG_KG1_OSH_20161116_0102',    'OCG_KG1_OSH'),
  ('prod_OCBZW160_20161116_0102',  'OCBZW160'),
  ('prod_BD_DHK_OCA_20161116_0102','BD_DHK_OCA'),
  ('SYNC_SERVER_LOCAL',            'SYNC_SERVER_LOCAL')
) AS t(db, instance)
""",
    doc="OP-FN-2 db→instance vs reference test_db.py golden outputs",
)
def fn_db_to_instance(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = local_frame(spark, [(d,) for d in _DB_CASES], "db string")
    return df.select("db", db_to_instance(F.col("db"), "prod").alias("instance"))


_INST_CASES = [
    "BD_DHK_OCA",
    "OCBZW160",
    "OCP_HT1",
    "OCG_KG1_OSH",
    "OTHER_UNKNOWN",
]


@register(
    "fn_instance_to_dir",
    """
SELECT * FROM (VALUES
  ('BD_DHK_OCA',   '/UF_OCA/backups'),
  ('OCBZW160',     '/UF_OCB/backups'),
  ('OCP_HT1',      '/UF_OCP/backups'),
  ('OCG_KG1_OSH',  '/UF_OCG/backups'),
  ('OTHER_UNKNOWN', NULL)
) AS t(instance, dir)
""",
    doc="OP-FN-3 instance→cloud-dir dispatch chain (cloud.py:34-48)",
)
def fn_instance_to_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = local_frame(spark, [(i,) for i in _INST_CASES], "instance string")
    return df.select("instance", instance_to_dir(F.col("instance")).alias("dir"))


_WILDCARD_FILES = ["other", "OCG_SZ1_NHL-Wed.zip", "OCG_UG2_SUKA-Fri.zip"]


@register(
    "fn_wildcard_match",
    """
SELECT * FROM (VALUES
  ('other',                 false),
  ('OCG_SZ1_NHL-Wed.zip',   true),
  ('OCG_UG2_SUKA-Fri.zip',  true)
) AS t(name, matched)
""",
    doc="OP-FIL-4 any-of wildcard vs reference test_cloud.py golden outputs",
)
def fn_wildcard_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = local_frame(spark, [(n,) for n in _WILDCARD_FILES], "name string")
    return df.select(
        "name",
        match_any_wildcard(F.col("name"), ["SZ1_NHL", "OCG_UG"]).alias("matched"),
    )


@register(
    "fn_decrypt_password",
    """
SELECT * FROM (VALUES
  ('XXXXczNjcmV0LXB3', 's3cret-pw'),
  ('AAAAaHVudGVyMg==', 'hunter2')
) AS t(enc, pw)
""",
    doc="OP-FN-5 drop-4-then-base64-decode (cloud.py:22-31)",
)
def fn_decrypt_password(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = local_frame(
        spark, [("XXXXczNjcmV0LXB3",), ("AAAAaHVudGVyMg==",)], "enc string"
    )
    return df.select("enc", decrypt_password(F.col("enc")).alias("pw"))


@register(
    "fn_md5_checksum",
    """
SELECT doc_id, md5(coalesce(text, '')) AS checksum
FROM documents WHERE doc_id < 100
""",
    doc="OP-FN-6 content md5 checksum (db.py:843-851 _zipChecksum)",
)
def fn_md5_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patch-blob checksumming (reference db.py:843-851 hashes the file in
    8 KiB chunks; columnar form is one JVM-side md5 per value — narrow map,
    codegen, no Python)."""
    from ufload_spark.sources.tables import table

    d = table(spark, sf_dir, "documents")
    return d.where(F.col("doc_id") < 100).select(
        "doc_id", F.md5(F.encode(F.coalesce("text", F.lit("")), "UTF-8")).alias("checksum")
    )


@register(
    "fn_hwid_group_md5",
    """
SELECT source, md5(string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY CAST(doc_id AS VARCHAR))) AS hwid
FROM documents GROUP BY source
""",
    doc="OP-FN-6 hardware-id analog: md5 over the sorted member list per "
    "group (db.py:599-621 get_hwid = md5 of sorted MAC addresses)",
)
def fn_hwid_group_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference fingerprints a host as md5 of its sorted MAC list
    (db.py:599-621). Set-fingerprinting per group: collect, sort, join,
    md5 — sort_array makes the digest order-insensitive to shuffle
    nondeterminism."""
    from ufload_spark.sources.tables import table

    d = table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.md5(
            F.encode(
                F.concat_ws(
                    ",", F.sort_array(F.collect_list(F.col("doc_id").cast("string")))
                ),
                "UTF-8",
            )
        ).alias("hwid")
    )


@register(
    "fn_positional_password",
    """
SELECT n_nationkey AS id, n_name,
       greatest(ascii(substr(lower(n_name), CAST(n_nationkey % length(n_name) AS INT) + 1, 1)), 96)
         - 96 + CAST(n_nationkey % 5 AS INT) AS digit
FROM nation
""",
    doc="OP-FN-8 positional password derivation: digit from name char "
    "(db.py:459-473 template [pos+add])",
)
def fn_positional_password(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference derives per-instance password digits from db-name
    characters: ``max(ord(ch), 96) - 96 + add`` (db.py:459-473). Pure
    Column arithmetic — ascii/greatest/modulo, no UDF."""
    n = table_nation(spark, sf_dir)
    ch = F.expr(
        "substr(lower(n_name), CAST(n_nationkey % length(n_name) AS INT) + 1, 1)"
    )
    return n.select(
        F.col("n_nationkey").alias("id"),
        "n_name",
        (
            F.greatest(F.ascii(ch), F.lit(96)) - 96
            + (F.col("n_nationkey") % 5).cast("int")
        ).alias("digit"),
    )


def table_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ufload_spark.sources.tables import table

    return table(spark, sf_dir, "nation")


@register(
    "fn_string_pack",
    """
SELECT p_partkey,
       upper(p_brand) AS brand_u,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
       reverse(p_brand) AS brand_rev,
       replace(p_type, ' ', '_') AS type_snake,
       levenshtein(p_brand, p_type) AS brand_type_dist,
       strpos(p_type, 'ED') AS ed_pos,
       split_part(p_type, ' ', 1) AS type_head
FROM part WHERE p_partkey < 200
""",
    doc="string-function pack: case, pad, reverse, replace, levenshtein, "
    "position, split_part — shared semantics across engines",
)
def fn_string_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The general string surface beyond the name derivations — all
    JVM-side Column expressions with DuckDB-identical semantics (including
    1-based strpos and edit distance)."""
    from ufload_spark.sources.tables import table

    p = table(spark, sf_dir, "part").where(F.col("p_partkey") < 200)
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.reverse("p_brand").alias("brand_rev"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.levenshtein("p_brand", "p_type").alias("brand_type_dist"),
        F.instr("p_type", "ED").alias("ed_pos"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
    )


@register(
    "fn_try_ops",
    """
SELECT * FROM (VALUES
  ('7',                   CAST(7 AS BIGINT),    CAST(8 AS BIGINT),   50.0),
  ('x',                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)),
  ('9223372036854775807', 9223372036854775807,  CAST(NULL AS BIGINT), 100.0),
  ('42',                  CAST(42 AS BIGINT),   CAST(43 AS BIGINT),  CAST(NULL AS DOUBLE))
) AS t(s, as_long, plus_one, ratio)
""",
    doc="ANSI-safe arithmetic: try_cast / try_add (overflow→NULL) / "
    "try_divide (÷0→NULL) against golden outputs",
)
def fn_try_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 runs ANSI mode by default — bad casts and overflow RAISE
    instead of silently wrapping (the pre-4 behavior that corrupted
    pipelines quietly). The try_* family is the per-expression opt-out:
    NULL on failure, error swallowed locally, not globally. Golden rows
    pin the three failure classes: unparseable cast, bigint overflow
    (max+1), and division by zero."""
    rows = [("7", 2), ("x", 0), ("9223372036854775807", 1), ("42", 0)]
    df = local_frame(spark, rows, "s string, n int")
    as_long = F.expr("try_cast(s AS BIGINT)")
    return df.select(
        "s",
        as_long.alias("as_long"),
        F.try_add(as_long, F.lit(1)).alias("plus_one"),
        F.try_divide(F.lit(100), F.col("n")).alias("ratio"),
    )
