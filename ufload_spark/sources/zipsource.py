"""ZIP introspection & extraction source (OP-SRC-8/9, SURVEY §2.1).

The reference opens each backup ZIP, requires exactly one member, reads its
name and uncompressed size, and flags corruption (reference
ufload/cloud.py:215-264 ``peek_inside_local_file``/``openDumpInZip``), then
extracts the member for restore (reference ufload/db.py:128-136). Spark has
no native ZIP datasource, so the idiomatic scale path is:

    binaryFile scan (path, content) → mapInPandas (zipfile over an
    in-memory buffer) → typed rows

Each ZIP is one row and is processed wholly inside one task — distributed
across executors by the binaryFile source's file partitioning, memory
bounded by the largest single archive (the reference has the same bound: it
unzips one dump at a time). Corrupt archives become flagged rows, not task
failures — the reference's probe-next-on-failure loop needs the bad file
*reported*, not the job killed.

The test fixture: deterministic single-member ZIPs derived from the
``documents`` table (doc_id < N, fixed timestamp), so introspection and
extraction both have exact DuckDB oracles over ``documents``.
"""

from __future__ import annotations

import io
import os
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ufload_spark.plans.registry import register
from ufload_spark.session import tune
from ufload_spark.sources.loader import sf_tag

N_FIXTURE_ZIPS = 20
_FIXED_DATE = (2020, 1, 1, 0, 0, 0)  # deterministic member timestamp

INTROSPECT_SCHEMA = (
    "zip_name string, ok boolean, n_members int, member string, "
    "uncompressed_size long"
)
EXTRACT_SCHEMA = "zip_name string, member string, text string"


def _introspect_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            name = os.path.basename(path)
            try:
                with zipfile.ZipFile(io.BytesIO(content)) as z:
                    infos = z.infolist()
                    # the reference requires exactly one member
                    # (cloud.py:221-228); more or fewer is not-ok
                    if len(infos) == 1:
                        rows.append(
                            (name, True, 1, infos[0].filename, infos[0].file_size)
                        )
                    else:
                        rows.append((name, False, len(infos), None, None))
            except zipfile.BadZipFile:
                rows.append((name, False, 0, None, None))
        yield pd.DataFrame(
            rows,
            columns=["zip_name", "ok", "n_members", "member", "uncompressed_size"],
        )


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            name = os.path.basename(path)
            try:
                with zipfile.ZipFile(io.BytesIO(content)) as z:
                    for info in z.infolist():
                        rows.append(
                            (name, info.filename, z.read(info).decode("utf-8"))
                        )
            except zipfile.BadZipFile:
                pass  # corrupt files are surfaced by the introspect pass
        yield pd.DataFrame(rows, columns=["zip_name", "member", "text"])


def zip_listing(spark: SparkSession, path_glob: str) -> DataFrame:
    """Introspect every ZIP under ``path_glob``: one typed row per archive."""
    tune(spark)
    binary = spark.read.format("binaryFile").load(path_glob)
    return binary.select("path", "content").mapInPandas(
        _introspect_batches, schema=INTROSPECT_SCHEMA
    )


def zip_extract(spark: SparkSession, path_glob: str) -> DataFrame:
    """Extract every member of every ZIP as (zip_name, member, text)."""
    tune(spark)
    binary = spark.read.format("binaryFile").load(path_glob)
    return binary.select("path", "content").mapInPandas(
        _extract_batches, schema=EXTRACT_SCHEMA
    )


def ensure_fixture_zips(sf_dir: str) -> str:
    """Build deterministic single-member ZIPs from ``documents`` (doc_id <
    N_FIXTURE_ZIPS) under the repo scratch dir; idempotent per sf.

    Publish is build-into-tmp → atomic ``os.rename``: a concurrent or
    retried invocation either sees the complete published dir or builds its
    own tmp copy — never a half-written archive (the same no-observable-
    mid-write rule every registered query's scratch path follows)."""
    import shutil
    import uuid

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    out = os.path.join(repo_root, ".scratch", f"zips_{sf_tag(sf_dir)}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = f"{out}.tmp.{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp, exist_ok=True)
    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    docs = docs[docs["doc_id"] < N_FIXTURE_ZIPS].sort_values("doc_id")
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        zpath = os.path.join(tmp, f"doc_{doc_id}.zip")
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
            info = zipfile.ZipInfo(f"doc_{doc_id}.txt", date_time=_FIXED_DATE)
            z.writestr(info, (text or "").encode("utf-8"))
    with open(os.path.join(tmp, ".done"), "w") as f:
        f.write("ok")
    try:
        os.rename(tmp, out)
    except OSError:
        # another invocation published first — its copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@register(
    "zip_introspect",
    f"""
SELECT 'doc_' || doc_id || '.zip' AS zip_name,
       TRUE AS ok, 1 AS n_members,
       'doc_' || doc_id || '.txt' AS member,
       CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT)
         AS uncompressed_size
FROM documents WHERE doc_id < {N_FIXTURE_ZIPS}
""",
    doc="OP-SRC-8: ZIP introspection via binaryFile + mapInPandas",
)
def zip_introspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    zips = ensure_fixture_zips(sf_dir)
    return zip_listing(spark, f"{zips}/*.zip")


@register(
    "zip_extract_text",
    f"""
SELECT 'doc_' || doc_id || '.zip' AS zip_name,
       'doc_' || doc_id || '.txt' AS member,
       coalesce(text, '') AS text
FROM documents WHERE doc_id < {N_FIXTURE_ZIPS}
""",
    doc="OP-SRC-9: ZIP member extraction, round-trips document text exactly",
)
def zip_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    zips = ensure_fixture_zips(sf_dir)
    return zip_extract(spark, f"{zips}/*.zip")
