"""The "de-live" sanitization suite (SURVEY §2.11) as pure DataFrame rewrites.

The reference turns a production snapshot into a sandbox through an ordered
sequence of SQL UPDATE/DELETE/INSERT mutations (reference ufload/db.py:342-537).
In a columnar engine, in-place mutation is re-expressed as
transform-and-rewrite: each UPDATE becomes ``withColumn(when(pred, new)
.otherwise(old))``, each DELETE becomes a filter or anti-join, and
INSERT…RETURNING becomes deterministic id assignment via
``max(existing_id) + row_number()``.

Input frames are derived from the fixtures (FIXTURES.md §B3): ``users`` from
``customer``, ``groups``/``membership`` from market segments, ``cron`` from
``part`` — so the DuckDB oracle sees identical inputs.

Scale: every step is a narrow map over the table being rewritten except the
joins, whose build sides (groups, spec rows) are tiny → broadcast. One full
rewrite pass at 100 TB is a scan + map + write, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ufload_spark.plans.registry import register
from ufload_spark.sources.tables import local_frame, table

#: DuckDB CTEs for the derived de-live inputs (FIXTURES.md §B3).
DELIVE_CTE = """
WITH users AS (
  SELECT c_custkey AS id, lower(c_name) AS login, 'LIVE' AS password,
         true AS active, c_mktsegment AS dept
  FROM customer
), groups AS (
  SELECT dense_rank() OVER (ORDER BY name) AS gid, name,
         length(name) % 2 = 0 AS visible
  FROM (SELECT DISTINCT c_mktsegment AS name FROM customer)
), membership AS (
  SELECT u.id AS uid, g.gid AS gid FROM users u JOIN groups g ON u.dept = g.name
), cron AS (
  SELECT p_partkey AS id, p_type AS model, true AS active FROM part
)
"""


def users(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("id"),
        F.lower("c_name").alias("login"),
        F.lit("LIVE").alias("password"),
        F.lit(True).alias("active"),
        F.col("c_mktsegment").alias("dept"),
    )


def groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    distinct = c.select(F.col("c_mktsegment").alias("name")).distinct()
    # SCALE GUARD: partition-less window = a single-reducer sort. Safe here
    # ONLY because the domain is the distinct market segments (5 rows, and
    # bounded by the business domain, not the data volume). Do not copy
    # this pattern onto per-row tables — for dense ids over an unbounded
    # domain use a keyed window or hash-derived ids instead.
    w = Window.orderBy("name")
    return distinct.select(
        F.dense_rank().over(w).alias("gid"),
        "name",
        (F.length("name") % 2 == 0).alias("visible"),
    )


def membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = users(spark, sf_dir)
    g = groups(spark, sf_dir)
    # groups is a ≤5-row dim → broadcast; no shuffle of users
    return u.join(F.broadcast(g), u.dept == g.name).select(
        u.id.alias("uid"), g.gid.alias("gid")
    )


_KEEP_LOGINS = ("customer#000000002", "customer#000000003")


@register(
    "delive_password_stomp",
    DELIVE_CTE
    + f"""
SELECT id,
  CASE WHEN id = 1 THEN 'admin_sandbox' ELSE login END AS login,
  CASE WHEN id = 1 THEN 'ADMIN_PW'
       WHEN login IN {_KEEP_LOGINS} THEN 'PER_USER_PW'
       ELSE 'SANDBOX_PW' END AS password,
  (id = 1 OR login IN {_KEEP_LOGINS}) AS active
FROM users
""",
    doc="§2.11 password stomping / admin rename / deactivation (db.py:442-533)",
)
def delive_password_stomp(
    spark: SparkSession, sf_dir: str, keep_logins=_KEEP_LOGINS
) -> DataFrame:
    """All-users password stomp, per-user override list, admin reset+rename,
    deactivate everyone not allow-listed — the reference's UPDATE chain on
    res_users (db.py:442-451,522-525,532-533) as one conditional projection.
    ``keep_logins`` is the reference's ``-pwlist`` override list
    (cli/main.py:813, db.py:522-525); the registered oracle uses the
    default."""
    u = users(spark, sf_dir)
    keep = F.col("login").isin(*keep_logins)
    is_admin = F.col("id") == 1
    return u.select(
        "id",
        F.when(is_admin, F.lit("admin_sandbox")).otherwise(F.col("login")).alias("login"),
        F.when(is_admin, F.lit("ADMIN_PW"))
        .when(keep, F.lit("PER_USER_PW"))
        .otherwise(F.lit("SANDBOX_PW"))
        .alias("password"),
        (is_admin | keep).alias("active"),
    )


_DISABLED_MODELS = ("PROMO", "ECONOMY")


@register(
    "delive_disable_cron",
    DELIVE_CTE
    + f"""
SELECT id, model,
  (active AND model NOT IN {_DISABLED_MODELS}) AS active,
  CASE WHEN model = 'STANDARD'
       THEN TIMESTAMP '2026-01-01 00:00:00' + INTERVAL 1 HOUR
       ELSE NULL END AS nextcall
FROM cron
""",
    doc="§2.11 cron disable by model list + nextcall push (db.py:377-407)",
)
def delive_disable_cron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disable scheduled jobs whose model is in the kill list and push the
    next call time an hour out (reference db.py:377-391,398,407)."""
    p = table(spark, sf_dir, "part")
    cron = p.select(
        F.col("p_partkey").alias("id"),
        F.col("p_type").alias("model"),
        F.lit(True).alias("active"),
    )
    return cron.select(
        "id",
        "model",
        (F.col("active") & ~F.col("model").isin(*_DISABLED_MODELS)).alias("active"),
        F.when(
            F.col("model") == "STANDARD",
            F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.expr("INTERVAL 1 HOUR"),
        ).alias("nextcall"),
    )


@register(
    "delive_hide_groups",
    DELIVE_CTE
    + """
SELECT m.uid, m.gid FROM membership m
WHERE NOT EXISTS (SELECT 1 FROM groups g WHERE g.gid = m.gid AND NOT g.visible)
""",
    doc="OP-JOIN-2 semi-join DELETE: drop membership of hidden groups (db.py:423)",
)
def delive_hide_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DELETE FROM rel WHERE gid IN (SELECT … WHERE NOT visible)`` as a
    left-anti join keeping the complement (reference db.py:420-423)."""
    m = membership(spark, sf_dir)
    hidden = groups(spark, sf_dir).where(~F.col("visible")).select("gid")
    return m.join(F.broadcast(hidden), "gid", "left_anti").select("uid", "gid")


@register(
    "delive_user_dept_join",
    DELIVE_CTE
    + """
SELECT u.id, g.gid AS context_department_id
FROM users u LEFT JOIN groups g ON u.dept = g.name AND g.visible
""",
    doc="OP-JOIN-1 update-from-join: set department id from dim (db.py:503-506)",
)
def delive_user_dept_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``UPDATE users SET context_department_id = d.id FROM dept d WHERE …``
    as a broadcast left join + projection (reference db.py:503-506); rows with
    no visible department keep NULL."""
    u = users(spark, sf_dir)
    g = groups(spark, sf_dir).where(F.col("visible"))
    joined = u.join(F.broadcast(g), u.dept == g.name, "left")
    return joined.select(u.id.alias("id"), g.gid.alias("context_department_id"))


_NEW_USER_SPECS = [
    # login:dept — the createusers spec shape (reference db.py:475-494)
    ("sandbox_admin", "BUILDING"),
    ("sandbox_ops", "FURNITURE"),
    ("sandbox_qa", "MACHINERY"),
]


@register(
    "delive_create_users",
    DELIVE_CTE
    + """
, spec AS (
  SELECT * FROM (VALUES
    ('sandbox_admin', 'BUILDING'),
    ('sandbox_ops',   'FURNITURE'),
    ('sandbox_qa',    'MACHINERY')
  ) AS s(login, dept)
), new_users AS (
  SELECT (SELECT max(id) FROM users)
           + row_number() OVER (ORDER BY login) AS id,
         login, dept
  FROM spec
)
SELECT n.id, n.login, g.gid
FROM new_users n LEFT JOIN groups g ON n.dept = g.name
""",
    doc="§2.11 INSERT…RETURNING + insert-select membership (db.py:498-515)",
)
def delive_create_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User creation: serial id assignment (INSERT…RETURNING, db.py:498-500)
    becomes ``max(existing_id) + row_number() ORDER BY login`` — deterministic
    under parallelism; the group membership insert-select (db.py:513-515) is a
    broadcast lookup join."""
    u = users(spark, sf_dir)
    g = groups(spark, sf_dir)
    spec = local_frame(spark, _NEW_USER_SPECS, "login string, dept string")
    max_id = u.agg(F.max("id").alias("mx"))
    w = Window.orderBy("login")
    new_users = (
        spec.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(max_id))
        .select((F.col("mx") + F.col("rn")).alias("id"), "login", "dept")
    )
    return new_users.join(F.broadcast(g), new_users.dept == g.name, "left").select(
        "id", "login", "gid"
    )


@register(
    "delive_logo_banner",
    """
SELECT n_nationkey AS id,
       base64(encode('SANDBOX_LOGO_' || n_name)) AS logo,
       'THIS IS A SANDBOX COPY — ' || n_name AS banner,
       CASE WHEN n_regionkey % 2 = 0 THEN 'd:\\' ELSE '/tmp' END AS backup_path
FROM nation
""",
    doc="§2.11 logo/banner injection + platform-dependent backup config "
    "(db.py:426-439); OP-FN-7 base64 encode",
)
def delive_logo_banner(
    spark: SparkSession,
    sf_dir: str,
    logo_prefix: str = "SANDBOX_LOGO_",
    banner_text: str = "THIS IS A SANDBOX COPY — ",
) -> DataFrame:
    """Logo injection as a base64 literal column (reference db.py:426), the
    dollar-quoted sandbox banner (db.py:429), and the platform-dependent
    backup path reset (db.py:431-439) — one narrow projection per config
    row, no shuffle. ``logo_prefix``/``banner_text`` are the reference's
    ``-logo``/``-banner`` CLI inputs (cli/main.py:834-835); the registered
    oracle uses the defaults."""
    n = table(spark, sf_dir, "nation")
    return n.select(
        F.col("n_nationkey").alias("id"),
        F.base64(F.encode(F.concat(F.lit(logo_prefix), F.col("n_name")), "UTF-8"))
        .alias("logo"),
        F.concat(F.lit(banner_text), F.col("n_name")).alias("banner"),
        F.when(F.col("n_regionkey") % 2 == 0, F.lit("d:\\"))
        .otherwise(F.lit("/tmp"))
        .alias("backup_path"),
    )


@register(
    "delive_sequence_bump",
    """
SELECT o_orderpriority AS sequence_name,
       max(o_orderkey) + 1000 AS number_next,
       TIMESTAMP '2026-01-01 00:00:00' + INTERVAL 1 HOUR AS next_run
FROM orders GROUP BY o_orderpriority
""",
    doc="OP-FN-10 arithmetic: sequence bump number_next+1000 and "
    "timestamp + interval (cli/main.py:456, db.py:407)",
)
def delive_sequence_bump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sync-sequence bump (reference cli/main.py:456
    ``number_next=number_next+1000``) and interval push (db.py:407) over a
    sequences frame derived from orders — partial aggregation map-side, tiny
    final shuffle on the 5 priority keys."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderpriority").alias("sequence_name")).agg(
        (F.max("o_orderkey") + 1000).alias("number_next"),
        (
            F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.expr("INTERVAL 1 HOUR")
        ).alias("next_run"),
    )


@register(
    "delive_ilike_groups",
    DELIVE_CTE
    + """
SELECT gid, name, false AS visible FROM groups WHERE name ILIKE '%ur%'
""",
    doc="OP-FIL-9 ILIKE predicate: hide groups by case-insensitive pattern "
    "(db.py:422)",
)
def delive_ilike_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``UPDATE res_groups SET visible='f' WHERE name ILIKE '<pat>'``
    (reference db.py:422) — the matched rows with visibility stomped."""
    g = groups(spark, sf_dir)
    return g.where(F.col("name").ilike("%ur%")).select(
        "gid", "name", F.lit(False).alias("visible")
    )


# --- the four remaining §2.11 steps (VERDICT r5 "What's missing" #2) -------
#
# Derived input frames, mirroring the DELIVE_CTE discipline: the sandbox
# tables the reference mutates (sync connection, automated import/export
# settings, backup config, sync-server entities) are synthesized from the
# TPC-H dims so the DuckDB oracle sees identical inputs.

SYNC_CTE = """
WITH conn AS (
  SELECT n_nationkey AS id,
         n_regionkey % 2 = 0 AS automatic_patching,
         'netrpc' AS protocol,
         lower(n_name) AS login,
         'LIVE_' || n_name AS database,
         'prod-' || lower(n_name) AS host,
         CAST(8069 + n_regionkey AS BIGINT) AS port
  FROM nation
)
"""


@register(
    "delive_sync_connection_override",
    SYNC_CTE
    + """
SELECT id,
       automatic_patching AS ufload_automatic_patching_prod_value,
       false AS automatic_patching,
       'xmlrpc' AS protocol,
       'admin' AS login,
       'PFX_SYNC_SERVER_LOCAL' AS database,
       '127.0.0.1' AS host,
       CAST(8069 AS BIGINT) AS port
FROM conn
""",
    doc="§2.11 save+override sync connection (db.py:370-372): ALTER ADD "
    "COLUMN prod-value save, then stomp connection fields to the sandbox "
    "sync server",
)
def delive_sync_connection_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's save-then-override on sync_client_sync_server_connection
    (db.py:370-372): ADD COLUMN ufload_automatic_patching_prod_value, copy
    automatic_patching into it (so a later re-live can restore production
    behavior), then point the connection at the local sandbox sync server
    (automatic_patching off, xmlrpc, admin@127.0.0.1, prefixed DB name).
    Schema evolution + column copy + constant stomp is one projection here —
    a narrow map, no shuffle."""
    n = table(spark, sf_dir, "nation")
    conn = n.select(
        F.col("n_nationkey").alias("id"),
        (F.col("n_regionkey") % 2 == 0).alias("automatic_patching"),
    )
    return conn.select(
        "id",
        F.col("automatic_patching").alias("ufload_automatic_patching_prod_value"),
        F.lit(False).alias("automatic_patching"),
        F.lit("xmlrpc").alias("protocol"),
        F.lit("admin").alias("login"),
        F.lit("PFX_SYNC_SERVER_LOCAL").alias("database"),
        F.lit("127.0.0.1").alias("host"),
        F.lit(8069).cast("bigint").alias("port"),
    )


AUTOMATION_CTE = """
WITH automation AS (
  SELECT s_suppkey AS id,
         CASE WHEN s_nationkey % 2 = 0 THEN 'import' ELSE 'export' END AS kind,
         '/srv/reports/' || s_name AS report_path,
         'ftp://live.example/' || lower(s_name) AS ftp_url,
         '/srv/out/' || s_name AS dest_path,
         lower(s_name) AS ftp_login,
         'LIVE_FTP_PW' AS ftp_password,
         true AS ftp_ok
  FROM supplier
)
"""


@register(
    "delive_automation_blanking",
    AUTOMATION_CTE
    + """
SELECT id, kind,
       '' AS report_path, '' AS ftp_url, '' AS dest_path,
       '' AS ftp_login, '' AS ftp_password, false AS ftp_ok
FROM automation
""",
    doc="§2.11 automated import/export blanking (db.py:395,402): stomp every "
    "FTP/path setting so the sandbox can't reach production endpoints",
)
def delive_automation_blanking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference blanks every automated_import / automated_export
    connection setting (db.py:395,402 — paths, FTP URL/login/password,
    ftp_ok) so a restored sandbox cannot push to or pull from production
    systems. Both tables collapse to one frame with a ``kind``
    discriminator; the blanking is a constant projection — narrow map,
    no shuffle, trivially parallel at any scale."""
    s = table(spark, sf_dir, "supplier")
    automation = s.select(
        F.col("s_suppkey").alias("id"),
        F.when(F.col("s_nationkey") % 2 == 0, F.lit("import"))
        .otherwise(F.lit("export"))
        .alias("kind"),
    )
    blank = F.lit("")
    return automation.select(
        "id",
        "kind",
        blank.alias("report_path"),
        blank.alias("ftp_url"),
        blank.alias("dest_path"),
        blank.alias("ftp_login"),
        blank.alias("ftp_password"),
        F.lit(False).alias("ftp_ok"),
    )


@register(
    "delive_backup_config_reset",
    """
WITH backup_config AS (
  SELECT r_regionkey AS id,
         r_regionkey % 2 = 0 AS beforemanualsync,
         r_regionkey % 3 = 0 AS beforepatching,
         r_regionkey % 2 = 1 AS aftermanualsync,
         true AS beforeautomaticsync,
         true AS afterautomaticsync,
         true AS scheduledbackup,
         'E:\\\\backups\\\\' || r_name AS name,
         r_name LIKE 'A%' OR r_name = 'EUROPE' AS is_windows_host
  FROM region
)
SELECT id,
       false AS beforemanualsync, false AS beforepatching,
       false AS aftermanualsync, false AS beforeautomaticsync,
       false AS afterautomaticsync, false AS scheduledbackup,
       CASE WHEN is_windows_host THEN 'd:\\' ELSE '/tmp' END AS name
FROM backup_config
""",
    doc="§2.11 backup-config reset (db.py:431-439): every backup trigger "
    "off, backup directory re-pointed per platform",
)
def delive_backup_config_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference turns off every backup trigger flag on backup_config and
    re-points the backup directory platform-dependently ('d:\\\\' on Windows
    hosts, '/tmp' for local loads) — db.py:431-439. Constant stomp +
    conditional path: one narrow projection over the config frame."""
    r = table(spark, sf_dir, "region")
    cfg = r.select(
        F.col("r_regionkey").alias("id"),
        (F.col("r_name").like("A%") | (F.col("r_name") == "EUROPE")).alias(
            "is_windows_host"
        ),
    )
    off = F.lit(False)
    return cfg.select(
        "id",
        off.alias("beforemanualsync"),
        off.alias("beforepatching"),
        off.alias("aftermanualsync"),
        off.alias("beforeautomaticsync"),
        off.alias("afterautomaticsync"),
        off.alias("scheduledbackup"),
        F.when(F.col("is_windows_host"), F.lit("d:\\"))
        .otherwise(F.lit("/tmp"))
        .alias("name"),
    )


#: the sandbox sync user every entity is relinked to (db.py:717 connectionuser)
_SYNC_USER_LOGIN = "customer#000000002"


@register(
    "delive_sync_entity_relink",
    DELIVE_CTE
    + """
, entity AS (
  SELECT s_suppkey AS entity_id, 'entity_' || s_name AS entity_name,
         s_nationkey AS user_id
  FROM supplier
)
SELECT entity_id, entity_name,
       (SELECT id FROM users WHERE login = '"""
    + _SYNC_USER_LOGIN
    + """') AS user_id
FROM entity
""",
    doc="§2.11 sync-server entity relink (db.py:713-719): every sync entity "
    "re-owned by the sandbox sync user via scalar-subquery lookup",
)
def delive_sync_entity_relink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``UPDATE sync_server_entity SET user_id = (SELECT id FROM res_users
    WHERE login = '<connectionuser>')`` (reference db.py:717; the all-admin
    variant at db.py:714 is the same shape with a literal 1). The scalar
    subquery is a one-row aggregate broadcast into the entity scan —
    OP-JOIN-4's economics: the 100 TB side never moves."""
    s = table(spark, sf_dir, "supplier")
    entity = s.select(
        F.col("s_suppkey").alias("entity_id"),
        F.concat(F.lit("entity_"), F.col("s_name")).alias("entity_name"),
    )
    uid = (
        users(spark, sf_dir)
        .where(F.col("login") == _SYNC_USER_LOGIN)
        .agg(F.max("id").alias("user_id"))
    )
    return entity.join(F.broadcast(uid)).select("entity_id", "entity_name", "user_id")
