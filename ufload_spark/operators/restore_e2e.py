"""The composed end-to-end ``restore`` lifecycle (SURVEY §3.1) — the
reference's reason to exist, as ONE registered pipeline.

The reference's restore (ufload/cli/main.py:288-371) is, per instance:
walk the candidate backups newest-first; download; peek inside the ZIP
(exactly one dump member, cloud.py:215-264); derive the DB name; load
through the staging database (db.py:97-208); on the FIRST success run the
de-live sanitization suite (``clean``, db.py:342-537) and ``break``; then
drop every stale non-newest DB (db.py:636-677). Round-7 VERDICT flagged
that this repo had every PIECE green but never the CHAIN — this module is
the chain:

    backup_candidates_top3  (rank-ordered probe list, listing.py)
 →  restore_first_viable    (probe-next-on-failure, loader.py — each
                             attempt is a full stage→audit→publish; the
                             ZIP gate IS the audit: a corrupt archive
                             extracts to zero rows and a multi-member one
                             to ≠1 rows, so the audit rejects it and the
                             loop falls through, exactly the reference's
                             ``continue``)
 →  zip_extract             (binaryFile → mapInPandas, zipsource.py)
 →  the full de-live suite  (all 12 ``delive_*`` steps, delive.py —
                             folded to one-row audit facts that land in
                             the report, so the oracle re-derives each
                             step's effect)
 →  stage_and_publish       (the final report itself goes through the
                             audited sink and is read back from the
                             published copy)
 →  stale_dbs_to_drop       (post-restore catalog clean, analytics.py)

Determinism: the candidate ZIP fixtures are built once per fixture dir
from the candidate list itself — an archive is deliberately corrupted
(garbage bytes) when ``second(mtime) % 3 == 0`` and given two members when
``second(mtime) % 5 == 0``, so DuckDB can PREDICT which candidate wins
while Spark DISCOVERS it through real failed publishes. A hash-match
therefore proves the probe loop, the audit gate, and the publish path all
behaved, not just that some aggregate agrees.

Scale posture: the candidate walk is driver-side CONTROL PLANE — ≤ 3
rows per instance, the same client-side loop the reference runs
(main.py:288-371); everything that touches data volume (the extract, the
de-live rewrites, the publish, the stale scan) is a distributed plan. At
100 TB the per-instance dump extract is a binaryFile partition per
archive and the de-live suite is narrow maps + broadcast joins
(delive.py module docstring).
"""

from __future__ import annotations

import io
import os
import shutil
import uuid
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ufload_spark.plans.registry import register
from ufload_spark.sources.loader import (
    AuditError,
    _scratch_unique,
    publish_read,
    restore_first_viable,
    sf_tag,
)
from ufload_spark.sources.tables import local_frame, parallelism

#: instances the composed query restores — bounded so the probe loop stays
#: a handful of tiny Spark jobs at any fixture scale (the reference's ``-i``
#: include patterns play the same role)
RESTORE_INSTANCES = (
    "OCG_INST0",
    "OCG_INST1",
    "OCG_INST2",
    "OCG_INST3",
    "OCG_INST4",
)

#: the full de-live suite, in the reference's clean() order (db.py:342-537)
DELIVE_STEPS = (
    "password_stomp",
    "disable_cron",
    "hide_groups",
    "user_dept_join",
    "create_users",
    "logo_banner",
    "sequence_bump",
    "ilike_groups",
    "sync_connection_override",
    "automation_blanking",
    "backup_config_reset",
    "sync_entity_relink",
)

_FIXED_DATE = (2020, 1, 1, 0, 0, 0)


def _dump_text(instance: str, name: str) -> str:
    return f"SANDBOX DUMP {instance} {name}"


def _candidate_rows(
    spark: SparkSession, sf_dir: str, instances=RESTORE_INSTANCES
) -> list[dict]:
    """The per-instance probe lists: ``backup_candidates_top3`` restricted
    to ``instances``, collected to the driver. CONTROL PLANE —
    ≤ 3·|instances| rows, the exact table the reference's client loop
    walks (main.py:288-371); the dumps themselves never leave executors."""
    from ufload_spark.operators.listing import backup_candidates_top3

    rows = (
        backup_candidates_top3(spark, sf_dir)
        .where(F.col("instance").isin(*instances))
        .orderBy("instance", "rn")
        .collect()
    )
    return [r.asDict() for r in rows]


def _is_garbage(second: int) -> bool:
    return second % 3 == 0


def _is_multimember(second: int) -> bool:
    return second % 3 != 0 and second % 5 == 0


def ensure_candidate_zips(
    spark: SparkSession, sf_dir: str, instances=RESTORE_INSTANCES
) -> str:
    """Build the candidate backup archives for ``instances`` under the repo
    scratch dir; idempotent per (fixture dir, instance set) — atomic
    tmp→rename publish, the ``ensure_fixture_zips`` discipline.

    Archive health is a deterministic function of the candidate's mtime
    second — garbage bytes (``% 3 == 0``: BadZipFile, extracts to zero
    rows), two members (``% 5 == 0``: the reference's exactly-one-dump
    rule, cloud.py:221-228, violated), else a healthy single-member dump —
    so the DuckDB oracle predicts viability from the listing alone."""
    import hashlib

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    suffix = ""
    if tuple(instances) != RESTORE_INSTANCES:
        digest = hashlib.md5(
            ",".join(sorted(instances)).encode()
        ).hexdigest()[:8]
        suffix = f"_{digest}"
    out = os.path.join(
        repo_root,
        ".scratch",
        f"restore_zips_{sf_tag(sf_dir)}{suffix}",
    )
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = f"{out}.tmp.{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp, exist_ok=True)
    for cand in _candidate_rows(spark, sf_dir, instances):
        path = os.path.join(tmp, cand["name"])
        sec = cand["mtime"].second
        if _is_garbage(sec):
            with open(path, "wb") as f:
                f.write(b"THIS IS NOT A ZIP ARCHIVE\x00\xff" * 8)
            continue
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
            info = zipfile.ZipInfo(
                f"{cand['instance']}.dump", date_time=_FIXED_DATE
            )
            z.writestr(info, _dump_text(cand["instance"], cand["name"]))
            if _is_multimember(sec):
                extra = zipfile.ZipInfo("stray_second_member.txt", date_time=_FIXED_DATE)
                z.writestr(extra, "the reference requires exactly one member")
        with open(path, "wb") as f:
            f.write(buf.getvalue())
    with open(os.path.join(tmp, ".done"), "w") as f:
        f.write("ok")
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def restore_one_instance(
    spark: SparkSession,
    zips_dir: str,
    instance: str,
    candidates: list[dict],
    target: str,
) -> dict:
    """Probe-on-failure restore of ONE instance: each candidate's archive is
    extracted (binaryFile → mapInPandas) and pushed through the audited
    stage→publish; the first archive whose extract audits at exactly one
    dump row is published, the rest of the probe list is never touched
    (the reference's ``break`` at main.py:367). Returns the report row."""
    from ufload_spark.sources.zipsource import zip_extract

    def build(s: SparkSession, cand) -> DataFrame:
        return zip_extract(s, os.path.join(zips_dir, cand["name"]))

    try:
        res = restore_first_viable(
            spark, candidates, target, build, expected_rows=1
        )
    except AuditError:
        return {
            "instance": instance,
            "published": "",
            "rn_published": 0,
            "n_attempts": len(candidates),
            "ok": False,
            "dump_rows": 0,
        }
    n_attempts = len(res["attempts"])
    return {
        "instance": instance,
        "published": res["published"],
        "rn_published": int(candidates[n_attempts - 1]["rn"]),
        "n_attempts": n_attempts,
        "ok": True,
        "dump_rows": int(res["rows"]),
    }


def delive_audit_facts(
    spark: SparkSession,
    sf_dir: str,
    steps=DELIVE_STEPS,
    *,
    keep_logins=None,
    logo_prefix=None,
    banner_text=None,
) -> DataFrame:
    """Run the de-live suite and fold every step to a one-row audit fact —
    computed FROM THE STEP OUTPUTS (not the base tables), so a report
    hash-match proves each sanitization actually executed with the
    documented effect. All twelve frames are one-row aggregates; the fold
    is a chain of broadcast cross joins (no shuffle). ``keep_logins`` /
    ``logo_prefix`` / ``banner_text`` thread the reference's ``-pwlist`` /
    ``-logo`` / ``-banner`` CLI content into the respective steps."""
    from ufload_spark.operators import delive as dl

    big = "bigint"
    pw_kwargs = {"keep_logins": keep_logins} if keep_logins is not None else {}
    lb_kwargs = {}
    if logo_prefix is not None:
        lb_kwargs["logo_prefix"] = logo_prefix
    if banner_text is not None:
        lb_kwargs["banner_text"] = banner_text
    banner_probe = (
        banner_text if banner_text is not None else "THIS IS A SANDBOX COPY"
    )

    def count_if(df: DataFrame, cond, alias: str) -> DataFrame:
        return df.agg(
            F.sum(F.when(cond, 1).otherwise(0)).cast(big).alias(alias)
        )

    facts: dict[str, DataFrame] = {
        "password_stomp": count_if(
            dl.delive_password_stomp(spark, sf_dir, **pw_kwargs),
            F.col("active"),
            "active_users",
        ),
        "disable_cron": count_if(
            dl.delive_disable_cron(spark, sf_dir),
            F.col("active"),
            "active_cron_jobs",
        ),
        "hide_groups": dl.delive_hide_groups(spark, sf_dir).agg(
            F.count("*").cast(big).alias("visible_membership_rows")
        ),
        "user_dept_join": count_if(
            dl.delive_user_dept_join(spark, sf_dir),
            F.col("context_department_id").isNotNull(),
            "dept_linked_users",
        ),
        "create_users": dl.delive_create_users(spark, sf_dir).agg(
            F.count("*").cast(big).alias("created_users")
        ),
        "logo_banner": count_if(
            dl.delive_logo_banner(spark, sf_dir, **lb_kwargs),
            F.col("banner").startswith(banner_probe),
            "banner_rows",
        ),
        "sequence_bump": dl.delive_sequence_bump(spark, sf_dir).agg(
            F.count("*").cast(big).alias("sequence_rows")
        ),
        "ilike_groups": dl.delive_ilike_groups(spark, sf_dir).agg(
            F.count("*").cast(big).alias("hidden_groups")
        ),
        "sync_connection_override": count_if(
            dl.delive_sync_connection_override(spark, sf_dir),
            (F.col("protocol") == "xmlrpc") & ~F.col("automatic_patching"),
            "sync_overridden",
        ),
        "automation_blanking": count_if(
            dl.delive_automation_blanking(spark, sf_dir),
            ~F.col("ftp_ok") & (F.col("ftp_password") == ""),
            "automation_blanked",
        ),
        "backup_config_reset": count_if(
            dl.delive_backup_config_reset(spark, sf_dir),
            ~F.col("scheduledbackup") & ~F.col("beforemanualsync"),
            "backup_flags_off",
        ),
        "sync_entity_relink": count_if(
            dl.delive_sync_entity_relink(spark, sf_dir),
            F.col("user_id").isNotNull(),
            "relinked_entities",
        ),
    }
    out = None
    for step in DELIVE_STEPS:
        if step not in steps:
            continue
        frame = facts[step]
        out = frame if out is None else out.crossJoin(F.broadcast(frame))
    if out is None:
        raise ValueError("at least one de-live step must be enabled")
    return out


_REPORT_SCHEMA = (
    "instance string, published string, rn_published int, "
    "n_attempts int, ok boolean, dump_rows long"
)


def restore_instances(
    spark: SparkSession,
    sf_dir: str,
    instances=RESTORE_INSTANCES,
    *,
    delive_steps=DELIVE_STEPS,
    publish_report: bool = True,
    clean_stale: bool = True,
    delive_content: dict | None = None,
) -> DataFrame:
    """The full composed lifecycle behind ``cli.restore``; returns the
    published per-instance report joined with the de-live audit facts and
    the stale-catalog counts. ``delive_steps=()`` is the reference's
    ``-live`` (skip sanitization); ``clean_stale=False`` its ``-no-clean``
    (skip the stale-catalog pass). See the module docstring for the
    chain."""
    zips_dir = ensure_candidate_zips(spark, sf_dir, instances)
    cands = _candidate_rows(spark, sf_dir, instances)
    # Overlap the per-instance probe loops (guide §2.6, r11 — measured
    # 4.6 s sequential → ~1.5 s pooled at sf1): each instance's restore is
    # an independent chain of small driver-launched jobs against its OWN
    # unique target dir (per-target lease + staging, no shared mutable
    # state), so a small thread pool lets the next instance's jobs
    # back-fill the idle executors behind the current one's tail. Results
    # come back in instance order (pool.map preserves order), so the
    # report frame is unchanged.
    work = []
    for instance in instances:
        mine = sorted(
            (c for c in cands if c["instance"] == instance),
            key=lambda c: c["rn"],
        )
        if not mine:
            continue
        target = _scratch_unique(f"restore_{instance}_{sf_tag(sf_dir)}")
        work.append((instance, mine, target))
    from concurrent.futures import ThreadPoolExecutor

    # Pool width derives from instances AND cores (r12, the r11 VERDICT's
    # "constant 3" note): each in-flight restore is a chain of small jobs
    # whose tasks rarely fill more than a few cores, so ~1 worker per 8
    # cores (floor 2) keeps the back-fill effect without over-subscribing
    # the scheduler; with few instances the instance count caps it.
    n_workers = max(2, parallelism(spark) // 8)
    if len(work) > 1:
        with ThreadPoolExecutor(max_workers=min(n_workers, len(work))) as pool:
            report_rows = list(
                pool.map(
                    lambda w: restore_one_instance(
                        spark, zips_dir, w[0], w[1], w[2]
                    ),
                    work,
                )
            )
    else:
        report_rows = [
            restore_one_instance(spark, zips_dir, i, m, t)
            for i, m, t in work
        ]
    out = local_frame(spark, report_rows, _REPORT_SCHEMA)
    if clean_stale:
        # stale_dropped = per-instance backup count − 1 (r11): row_number
        # is gapless and exactly one row per non-empty instance has rn=1,
        # so count(rn > 1) ≡ n − 1 — the window-free aggregate gives the
        # IDENTICAL count without stale_dbs_to_drop's per-instance sort
        # (whose partition count is the instance count — 5 tasks sorting
        # the whole listing at sf1, the measured 11 s wall of this
        # composed query). Instances with one backup produce 0 here and
        # produced no row before; both coalesce to 0 after the left join.
        from ufload_spark.operators.listing import backups

        stale = (
            backups(spark, sf_dir)
            .where(F.col("instance").isin(*list(instances)))
            .groupBy("instance")
            .agg((F.count("*") - 1).cast("bigint").alias("stale_dropped"))
        )
        out = out.join(stale, "instance", "left").withColumn(
            "stale_dropped", F.coalesce("stale_dropped", F.lit(0).cast("bigint"))
        )
    if delive_steps:
        audits = delive_audit_facts(
            spark, sf_dir, steps=delive_steps, **(delive_content or {})
        )
        out = out.crossJoin(F.broadcast(audits))
    if not publish_report:
        return out
    # the report itself exits through the audited sink and is read back
    # from the published copy — the oracle checks the POST-publish bytes
    return publish_read(spark, out, "restore_report", sf_dir)


def _audit_fact_sql() -> str:
    """DuckDB twins of :func:`delive_audit_facts`'s twelve one-row facts,
    re-derived from the base tables through each step's registered CTE
    semantics (delive.py)."""
    return """
, fact_users AS (
  SELECT CAST(count(*) AS BIGINT) AS active_users FROM users
  WHERE id = 1 OR login IN ('customer#000000002', 'customer#000000003')
), fact_cron AS (
  SELECT CAST(count(*) AS BIGINT) AS active_cron_jobs FROM part
  WHERE p_type NOT IN ('PROMO', 'ECONOMY')
), fact_membership AS (
  SELECT CAST(count(*) AS BIGINT) AS visible_membership_rows FROM membership m
  WHERE NOT EXISTS (SELECT 1 FROM groups g WHERE g.gid = m.gid AND NOT g.visible)
), fact_dept AS (
  SELECT CAST(count(*) AS BIGINT) AS dept_linked_users
  FROM users u JOIN groups g ON u.dept = g.name AND g.visible
), fact_created AS (
  SELECT CAST(count(*) AS BIGINT) AS created_users FROM (VALUES
    ('sandbox_admin'), ('sandbox_ops'), ('sandbox_qa')) s(login)
), fact_banner AS (
  SELECT CAST(count(*) AS BIGINT) AS banner_rows FROM nation
), fact_seq AS (
  SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS sequence_rows
  FROM orders
), fact_hidden AS (
  SELECT CAST(count(*) AS BIGINT) AS hidden_groups FROM groups
  WHERE name ILIKE '%ur%'
), fact_sync AS (
  SELECT CAST(count(*) AS BIGINT) AS sync_overridden FROM nation
), fact_auto AS (
  SELECT CAST(count(*) AS BIGINT) AS automation_blanked FROM supplier
), fact_backup AS (
  SELECT CAST(count(*) AS BIGINT) AS backup_flags_off FROM region
), fact_relink AS (
  SELECT CASE WHEN EXISTS (SELECT 1 FROM users
                           WHERE login = 'customer#000000002')
              THEN (SELECT CAST(count(*) AS BIGINT) FROM supplier)
              ELSE CAST(0 AS BIGINT) END AS relinked_entities
)
"""


def _restore_oracle() -> str:
    from ufload_spark.operators.delive import DELIVE_CTE
    from ufload_spark.operators.listing import BACKUPS_CTE

    insts = ", ".join(f"'{i}'" for i in RESTORE_INSTANCES)
    # DELIVE_CTE starts with "WITH ..." — splice its body after BACKUPS_CTE
    delive_body = DELIVE_CTE.strip()
    assert delive_body.upper().startswith("WITH")
    delive_body = delive_body[4:]
    return (
        BACKUPS_CTE
        + ", "
        + delive_body
        + f"""
, cands AS (
  SELECT instance, name, mtime, rn FROM (
    SELECT instance, name, mtime,
           row_number() OVER (PARTITION BY instance
                              ORDER BY mtime DESC, name DESC) AS rn
    FROM backups WHERE instance IN ({insts})
  ) WHERE rn <= 3
), viab AS (
  SELECT *,
         (second(mtime) % 3 <> 0 AND second(mtime) % 5 <> 0) AS viable
  FROM cands
), winner AS (
  SELECT instance,
         min(rn) FILTER (WHERE viable) AS win_rn,
         CAST(count(*) AS INTEGER) AS n_cands
  FROM viab GROUP BY instance
), stale AS (
  SELECT instance, CAST(count(*) AS BIGINT) AS stale_dropped FROM (
    SELECT instance, row_number() OVER (PARTITION BY instance
             ORDER BY mtime DESC, name DESC) AS rn
    FROM backups WHERE instance IN ({insts})
  ) WHERE rn > 1 GROUP BY instance
)"""
        + _audit_fact_sql()
        + """
SELECT w.instance,
       coalesce(v.name, '') AS published,
       CAST(coalesce(w.win_rn, 0) AS INTEGER) AS rn_published,
       CAST(coalesce(w.win_rn, w.n_cands) AS INTEGER) AS n_attempts,
       w.win_rn IS NOT NULL AS ok,
       CAST(CASE WHEN w.win_rn IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS dump_rows,
       coalesce(s.stale_dropped, 0) AS stale_dropped,
       active_users, active_cron_jobs, visible_membership_rows,
       dept_linked_users, created_users, banner_rows, sequence_rows,
       hidden_groups, sync_overridden, automation_blanked,
       backup_flags_off, relinked_entities
FROM winner w
LEFT JOIN viab v ON v.instance = w.instance AND v.rn = w.win_rn
LEFT JOIN stale s ON s.instance = w.instance
CROSS JOIN fact_users CROSS JOIN fact_cron CROSS JOIN fact_membership
CROSS JOIN fact_dept CROSS JOIN fact_created CROSS JOIN fact_banner
CROSS JOIN fact_seq CROSS JOIN fact_hidden CROSS JOIN fact_sync
CROSS JOIN fact_auto CROSS JOIN fact_backup CROSS JOIN fact_relink
"""
    )


@register(
    "restore_end_to_end",
    _restore_oracle(),
    doc="SURVEY §3.1 flagship lifecycle, composed: candidate top-3 → "
    "probe-on-failure restore (audit-gated ZIP extract, corrupt/"
    "multi-member archives fall through) → full 12-step de-live suite → "
    "audited report publish → stale-catalog counts. The oracle predicts "
    "every probe outcome from the listing; Spark discovers it through "
    "real failed publishes.",
)
def restore_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference user's actual workflow (``ufload restore -i OCG_*``),
    end to end — see the module docstring for the chain and
    reference-file mapping (cli/main.py:288-371, db.py:97-208,342-537,
    636-677)."""
    return restore_instances(spark, sf_dir)
