"""Command facade: the reference's five subcommands on the Spark engine.

The reference's user-facing surface is ``ufload {ls, restore, archive,
upgrade, clean}`` (reference ufload/cli/main.py:776-886 argparse tree,
dispatch at 888-906). A user switching to this engine gets the same verbs,
each returning a DataFrame (reports) or performing the load lifecycle:

- :func:`ls`       — newest backup per instance, with include/exclude
  patterns (reference cli/main.py:481-509)
- :func:`restore`  — pick the newest candidate per instance, run the
  stage→audit→publish load, then the de-live sanitization
  (cli/main.py:210-397)
- :func:`archive`  — PK-deduplicating merge of operational events
  (cli/main.py:85-88, db.py:792-830)
- :func:`upgrade`  — patch discovery + natural version ordering + dup-check
  (cli/main.py:522-766); the post-install polling state machine (auth
  ladder, restart poll, module-update poll, main.py:599-699) lives in
  :mod:`ufload_spark.upgrade` over injectable probes
- :func:`clean`    — drop every non-newest DB per instance (cli/main.py:511-520,
  db.py:636-677)

Config precedence mirrors the reference (INI defaults, CLI wins —
cli/main.py:867-883): :func:`read_ini_defaults` reads the ``$HOME/.ufload``-
style config file's global + per-command sections, and :func:`make_config`
merges them under explicit keyword arguments. ``-n`` dry-run
(cli/main.py:796, db.py:13-14) makes :func:`restore` return the planned
actions without writing anything.
"""

from __future__ import annotations

import argparse
import configparser
import os
from collections.abc import Sequence
from dataclasses import dataclass, field, fields

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ufload_spark.functions.names import match_any_wildcard
from ufload_spark.operators.archive import archive_merge
from ufload_spark.operators.analytics import stale_dbs_to_drop
from ufload_spark.operators.listing import (
    latest_backup_per_instance,
    version_sort,
)
from ufload_spark.sources.tables import local_frame


@dataclass
class Config:
    """Engine config namespace (the reference's argparse ``Namespace``)."""

    sf_dir: str = "/root/testdata/sf0.001"
    instances: list[str] = field(default_factory=list)  # -i patterns
    exclude: list[str] = field(default_factory=list)  # -exclude patterns
    db_prefix: str = "pfx"
    dry_run: bool = False  # -n: no real work, only show what would happen
    # restore entry points (reference cli/main.py:174-208,809-810): a single
    # local archive / a directory of archives instead of the cloud listing
    file: str | None = None
    dir: str | None = None
    # de-live knobs (reference cli/main.py:811-835); each one gates steps of
    # the composed clean() chain — see restore_e2e.DELIVE_STEPS
    pwlist: str | None = None  # login:pw overrides for the password stomp
    createusers: str | None = None  # user:group specs → create_users step on
    logo: str | None = None  # new company logo path → logo_banner input
    banner: str | None = None  # banner text → logo_banner input
    hidegroups: bool = False  # -hidegroups: run the group-hiding steps
    nopwreset: bool = False  # -nopwreset: skip the password stomp
    live: bool = False  # -live: skip the whole de-live suite
    noclean: bool = False  # -no-clean: skip the stale-catalog pass


#: the reference merges these global sections plus the command's own section
#: (cli/main.py:867-881)
_GLOBAL_SECTIONS = ("onedrive", "postgres", "logs", "sync")


def read_ini_defaults(path: str, command: str | None = None) -> dict:
    """Read an INI config file the way the reference reads ``$HOME/.ufload``
    (cli/main.py:867-883): global sections apply everywhere, the section
    named after the subcommand layers on top; values become argparse-style
    DEFAULTS, so explicit CLI args still win. Unknown keys are kept (and
    filtered against Config's fields at merge time); list-valued settings
    are comma-separated strings in the file."""
    cp = configparser.ConfigParser()
    cp.read(path)
    merged: dict = {}
    for section in (*_GLOBAL_SECTIONS, *((command,) if command else ())):
        if cp.has_section(section):
            merged.update(dict(cp.items(section)))
    return merged


_LIST_FIELDS = ("instances", "exclude")
_BOOL_FIELDS = ("dry_run", "hidegroups", "nopwreset", "live", "noclean")


def make_config(defaults: dict | None = None, **overrides) -> Config:
    """INI-defaults-then-CLI-wins merge (reference cli/main.py:867-883).
    Keys Config doesn't know are dropped (the reference's set_defaults would
    carry them as inert Namespace attributes); INI string values are coerced
    to the field's shape (comma-split lists, boolean-ish strings)."""
    known = {f.name for f in fields(Config)}
    merged = {k: v for k, v in (defaults or {}).items() if k in known}
    merged.update({k: v for k, v in overrides.items() if v is not None})
    for k in _LIST_FIELDS:
        if isinstance(merged.get(k), str):
            merged[k] = [p.strip() for p in merged[k].split(",") if p.strip()]
    for k in _BOOL_FIELDS:
        if isinstance(merged.get(k), str):
            merged[k] = merged[k].strip().lower() in ("1", "true", "yes", "on")
    return Config(**merged)


def _apply_patterns(df: DataFrame, cfg: Config) -> DataFrame:
    """Include (OP-FIL-4, empty list = match all) then exclude (OP-FIL-5)."""
    if cfg.instances:
        df = df.where(match_any_wildcard(F.col("instance"), cfg.instances))
    if cfg.exclude:
        df = df.where(~match_any_wildcard(F.col("instance"), cfg.exclude))
    return df


def ls(spark: SparkSession, cfg: Config) -> DataFrame:
    """``ufload ls``: newest backup per matching instance."""
    return _apply_patterns(latest_backup_per_instance(spark, cfg.sf_dir), cfg)


def delive_steps_for(cfg: Config) -> tuple[str, ...]:
    """Map the reference's de-live knobs onto the composed clean() chain
    (reference cli/main.py:811-835 → db.clean, db.py:342-537): ``-live``
    skips the whole suite; ``-nopwreset`` drops the password stomp;
    the group-hiding steps run only under ``-hidegroups``; user creation
    only when ``-createusers`` supplies specs — the same conditionality
    the reference's clean() applies per flag."""
    from ufload_spark.operators.restore_e2e import DELIVE_STEPS

    if cfg.live:
        return ()
    steps = list(DELIVE_STEPS)
    if cfg.nopwreset:
        steps.remove("password_stomp")
    if not cfg.hidegroups:
        steps.remove("hide_groups")
        steps.remove("ilike_groups")
    if not cfg.createusers:
        steps.remove("create_users")
    return tuple(steps)


def matched_instances(spark: SparkSession, cfg: Config) -> list[str]:
    """Distinct listing instances after include/exclude patterns — the
    reference's 'Instances to be restored' set (cli/main.py:283-285).
    Control plane: ≤ |instances| rows (20 in the fixtures)."""
    from ufload_spark.operators.listing import backups

    rows = _apply_patterns(
        backups(spark, cfg.sf_dir).select("instance").distinct(), cfg
    ).collect()
    return sorted(r["instance"] for r in rows)


def restore_paths(
    spark: SparkSession, paths: list[str], target_root: str, db_prefix: str
) -> DataFrame:
    """``-file`` / ``-dir`` restore (reference _fileRestore/_dirRestore,
    cli/main.py:140-208): each local archive goes through the same
    audit-gated extract→stage→publish; a corrupt or multi-member archive
    is reported failed and the loop continues (the reference's posture —
    report, don't abort the batch). DB names derive from the file name
    via OP-FN-1."""
    from ufload_spark.functions.names import file_to_db
    from ufload_spark.sources.loader import AuditError, stage_and_publish
    from ufload_spark.sources.zipsource import zip_extract

    rows = []
    for p in paths:
        base = os.path.basename(p)
        target = os.path.join(target_root, base.removesuffix(".zip") + ".restored")
        try:
            n = stage_and_publish(
                spark, zip_extract(spark, p), target, expected_rows=1
            )
            rows.append((base, True, n, target))
        except AuditError as e:
            rows.append((base, False, 0, str(e)))
    rep = local_frame(
        spark,
        rows, "name string, ok boolean, dump_rows long, detail string"
    )
    return rep.select(
        "name",
        file_to_db(F.col("name"), db_prefix).alias("db_name"),
        "ok",
        "dump_rows",
        "detail",
    )


def restore(spark: SparkSession, cfg: Config, target_dir: str) -> DataFrame:
    """``ufload restore``: the composed end-to-end lifecycle (SURVEY §3.1)
    — per matching instance, probe the top-3 candidates newest-first, each
    through the audit-gated ZIP-extract → stage → publish (a corrupt
    archive falls through to the next candidate), then run the de-live
    suite selected by the knobs and the stale-catalog clean; the published
    report comes back. With ``-file``/``-dir`` the probe list is the local
    archive(s) instead of the cloud listing (reference
    cli/main.py:140-208,288-371).

    With ``cfg.dry_run`` (the reference's ``-n``, cli/main.py:796 /
    db.py:13-14) nothing is written: the planned probe list comes back as
    a DataFrame (instance, candidate name, rank, the target it WOULD
    publish to)."""
    from ufload_spark.operators.listing import backup_candidates_top3
    from ufload_spark.operators.restore_e2e import restore_instances

    if cfg.file or cfg.dir:
        if cfg.file:
            paths = [cfg.file]
        else:
            paths = sorted(
                os.path.join(cfg.dir, f)
                for f in os.listdir(cfg.dir)
                if f.endswith(".zip")
            )
        if cfg.dry_run:
            return local_frame(
                spark,
                [(os.path.basename(p), "extract+stage+publish", target_dir) for p in paths],
                "name string, planned_action string, target string",
            )
        return restore_paths(spark, paths, target_dir, cfg.db_prefix)

    instances = matched_instances(spark, cfg)
    if cfg.dry_run:
        return (
            backup_candidates_top3(spark, cfg.sf_dir)
            .where(F.col("instance").isin(*instances))
            .select(
                "instance",
                "name",
                "rn",
                F.lit("probe:extract+stage+publish").alias("planned_action"),
                F.lit(target_dir).alias("target"),
            )
        )
    content: dict = {}
    if cfg.pwlist:
        # 'login1:pw1,login2:pw2' — logins become the keep/override list
        content["keep_logins"] = [
            entry.split(":", 1)[0].strip()
            for entry in cfg.pwlist.split(",")
            if entry.strip()
        ]
    if cfg.logo:
        content["logo_prefix"] = os.path.basename(cfg.logo) + "_"
    if cfg.banner:
        content["banner_text"] = cfg.banner
    return restore_instances(
        spark,
        cfg.sf_dir,
        instances,
        delive_steps=delive_steps_for(cfg),
        clean_stale=not cfg.noclean,
        delive_content=content,
    )


def archive(spark: SparkSession, cfg: Config) -> DataFrame:
    """``ufload archive``: merge remote events into local, PK-dedup."""
    return archive_merge(spark, cfg.sf_dir)


def upgrade(spark: SparkSession, cfg: Config) -> DataFrame:
    """``ufload upgrade``: patch files in natural version order (the
    install loop applies them in this order after the checksum dup-check)."""
    return version_sort(spark, cfg.sf_dir)


def clean(spark: SparkSession, cfg: Config) -> DataFrame:
    """``ufload clean``: every non-newest DB per instance, to drop."""
    return stale_dbs_to_drop(spark, cfg.sf_dir)


COMMANDS = {
    "ls": ls,
    "archive": archive,
    "upgrade": upgrade,
    "clean": clean,
}


def default_config_path() -> str:
    """The reference reads ``$HOME/.ufload`` (``ufload.txt`` on win32,
    cli/main.py:868-872)."""
    return os.path.join(os.path.expanduser("~"), ".ufload")


def build_parser() -> argparse.ArgumentParser:
    """The reference's argparse tree, reduced to the engine's needs.
    ``-n`` and ``-config`` are top-level, like the reference's."""
    p = argparse.ArgumentParser(prog="ufload-spark")
    p.add_argument("-n", dest="dry_run", action="store_true", default=None)
    p.add_argument("-config", dest="config", default=None)
    sub = p.add_subparsers(dest="command", required=True)
    for name in ("ls", "restore", "archive", "upgrade", "clean"):
        s = sub.add_parser(name)
        s.add_argument("-i", dest="instances", action="append", default=None)
        s.add_argument("-exclude", dest="exclude", action="append", default=None)
        s.add_argument("-sf-dir", dest="sf_dir", default=None)
        if name == "restore":
            s.add_argument("-target", dest="target", required=True)
            # reference cli/main.py:809-810 — local restore entry points
            s.add_argument("-file", dest="file", default=None)
            s.add_argument("-dir", dest="dir", default=None)
            # reference cli/main.py:811-835 — de-live knobs
            s.add_argument("-pwlist", dest="pwlist", default=None)
            s.add_argument("-createusers", dest="createusers", default=None)
            s.add_argument("-logo", dest="logo", default=None)
            s.add_argument("-banner", dest="banner", default=None)
            s.add_argument(
                "-hidegroups", dest="hidegroups", action="store_true", default=None
            )
            s.add_argument(
                "-nopwreset", dest="nopwreset", action="store_true", default=None
            )
            s.add_argument("-live", dest="live", action="store_true", default=None)
            s.add_argument(
                "-no-clean", dest="noclean", action="store_true", default=None
            )
    return p


def main(argv: Sequence[str], spark: SparkSession) -> DataFrame:
    """Parse argv, merge INI defaults under CLI args, dispatch, return the
    command's report DataFrame."""
    ns = build_parser().parse_args(list(argv))
    ini = read_ini_defaults(ns.config or default_config_path(), ns.command)
    cfg = make_config(
        ini,
        sf_dir=ns.sf_dir,
        instances=ns.instances,
        exclude=ns.exclude,
        dry_run=ns.dry_run,
        **{
            k: getattr(ns, k)
            for k in (
                "file", "dir", "pwlist", "createusers", "logo", "banner",
                "hidegroups", "nopwreset", "live", "noclean",
            )
            if hasattr(ns, k)
        },
    )
    if ns.command == "restore":
        return restore(spark, cfg, ns.target)
    return COMMANDS[ns.command](spark, cfg)
