"""Python Data Source API (Spark 4) — backup-log line source.

The reference walks backup directories and reads per-instance log/manifest
files with ad-hoc Python loops (reference ufload/cloud.py:137-180 directory
listing, ufload/db.py:596-620 restore-log scanning). Spark 4's Python Data
Source API (`pyspark.sql.datasource`) lets that surface be a FIRST-CLASS
source instead of driver-side glue:

- **schema at plan time** — ``fname string, line_no long, line string``;
- **partition planning** — one :class:`InputPartition` per file, so a
  1000-executor cluster opens 1000 files concurrently and a file is the
  unit of retry;
- **filter pushdown** — ``pushFilters`` handles equality / IN / prefix
  predicates on ``fname`` so non-matching files are NEVER OPENED (the
  Python-source analog of parquet partition pruning; the reference's
  "only this instance's logs" loop, cloud.py:166-171);
- **Arrow emission** — ``read`` yields ``pyarrow.RecordBatch`` (columnar
  transfer into the JVM, not per-row pickled tuples).

Everything downstream of the scan (parsing, aggregation) stays JVM-side —
the Python boundary is exactly one columnar hop per file.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
    StringStartsWith,
)

from ufload_spark.plans.registry import register
from ufload_spark.session import tune
from ufload_spark.sources.loader import sf_tag

LOG_SCHEMA = "fname string, line_no long, line string"

#: rows per emitted Arrow batch — bounds executor memory per task at any
#: file size, the same chunking discipline the remote downloader uses
BATCH_ROWS = 4096


@dataclass
class _FilePartition(InputPartition):
    path: str


class BackupLogReader(DataSourceReader):
    """One partition per file; ``fname`` predicates prune before open."""

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("ufload_logs: 'path' option is required")
        self.dir = path
        # accepted pushed predicates, ANDed: each is (kind, value)
        self._pushed: list[tuple[str, object]] = []

    # -- planning ------------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept fname equality / IN / prefix filters; everything else is
        returned for Spark to evaluate post-scan. Accepted filters prune
        the partition list — files that can't match are never opened."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("fname",):
                self._pushed.append(("eq", f.value))
            elif isinstance(f, In) and f.attribute == ("fname",):
                self._pushed.append(("in", tuple(f.value)))
            elif isinstance(f, StringStartsWith) and f.attribute == ("fname",):
                self._pushed.append(("prefix", f.value))
            else:
                yield f  # unsupported → Spark evaluates it after the scan

    def _matches(self, fname: str) -> bool:
        for kind, v in self._pushed:
            if kind == "eq" and fname != v:
                return False
            if kind == "in" and fname not in v:
                return False
            if kind == "prefix" and not fname.startswith(str(v)):
                return False
        return True

    def partitions(self) -> Sequence[InputPartition]:
        files = sorted(
            f for f in os.listdir(self.dir) if f.endswith(".log")
        )
        return [
            _FilePartition(os.path.join(self.dir, f))
            for f in files
            if self._matches(f)
        ]

    # -- execution -----------------------------------------------------
    def read(self, partition: _FilePartition) -> Iterator[pa.RecordBatch]:
        yield from _read_log_file(partition.path)


def _read_log_file(path: str) -> Iterator[pa.RecordBatch]:
    """Arrow emission for one log file — shared by the batch and streaming
    readers (a file reads identically whichever engine asked)."""
    fname = os.path.basename(path)
    schema = pa.schema(
        [("fname", pa.string()), ("line_no", pa.int64()), ("line", pa.string())]
    )
    with open(path, encoding="utf-8") as fh:
        names: list[str] = []
        nos: list[int] = []
        lines: list[str] = []
        for i, raw in enumerate(fh):
            names.append(fname)
            nos.append(i)
            lines.append(raw.rstrip("\n"))
            if len(lines) >= BATCH_ROWS:
                yield pa.record_batch([names, nos, lines], schema=schema)
                names, nos, lines = [], [], []
        if lines:
            yield pa.record_batch([names, nos, lines], schema=schema)


class BackupLogStreamReader(DataSourceStreamReader):
    """Offset-managed streaming form of the same source: the offset is the
    count of (sorted) ``.log`` files already ingested, so each micro-batch
    is the newly-arrived file suffix — the reference's poll-the-backup-dir
    loop (cloud.py:137-180) as a Structured Streaming source. Offsets are
    JSON-serializable dicts checkpointed by the engine; ``partitions``
    plans one partition per new file (executor-side reads, unlike
    SimpleDataSourceStreamReader's driver-side path); replaying a
    checkpointed range re-reads the same files deterministically."""

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("ufload_logs: 'path' option is required")
        self.dir = path

    def _files(self) -> list[str]:
        return sorted(f for f in os.listdir(self.dir) if f.endswith(".log"))

    def initialOffset(self) -> dict:
        return {"files": 0}

    def latestOffset(self) -> dict:
        return {"files": len(self._files())}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        files = self._files()
        return [
            _FilePartition(os.path.join(self.dir, f))
            for f in files[start["files"] : end["files"]]
        ]

    def read(self, partition: _FilePartition) -> Iterator[pa.RecordBatch]:
        yield from _read_log_file(partition.path)

    def commit(self, end: dict) -> None:
        pass  # files are immutable; nothing to release

    def stop(self) -> None:
        pass


class BackupLogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "ufload_logs"

    def schema(self) -> str:
        return LOG_SCHEMA

    def reader(self, schema) -> BackupLogReader:
        return BackupLogReader(self.options)

    def streamReader(self, schema) -> BackupLogStreamReader:
        return BackupLogStreamReader(self.options)


def register_source(spark: SparkSession) -> None:
    """Idempotently register the Python data source with this session.

    ``spark.sql.python.filterPushdown.enabled`` gates ``pushFilters``
    (default false in 4.1); it is a runtime-settable SQL conf, and the
    driver imports us into a PLAIN session, so it is set here — same
    self-applying pattern as ``session.tune``."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BackupLogDataSource)


# --- fixture ---------------------------------------------------------------


def ensure_fixture_logs(sf_dir: str) -> str:
    """One ``<source>.log`` per documents.source under the repo scratch dir:
    tab-separated ``doc_id\\tlang\\tn_chars`` lines ordered by doc_id.
    Deterministic, idempotent, atomic-publish — same discipline as
    :func:`ufload_spark.sources.zipsource.ensure_fixture_zips`."""
    import shutil
    import uuid

    import pandas as pd

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    out = os.path.join(repo_root, ".scratch", f"logs_{sf_tag(sf_dir)}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = f"{out}.tmp.{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp, exist_ok=True)
    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "n_chars", "source"]
    ).sort_values("doc_id")
    for source, grp in docs.groupby("source"):
        with open(os.path.join(tmp, f"{source}.log"), "w", encoding="utf-8") as fh:
            for r in grp.itertuples():
                fh.write(f"{r.doc_id}\t{r.lang}\t{r.n_chars}\n")
    with open(os.path.join(tmp, ".done"), "w") as f:
        f.write("ok")
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --- registered queries ----------------------------------------------------


def _log_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    register_source(spark)
    logs = ensure_fixture_logs(sf_dir)
    return spark.read.format("ufload_logs").option("path", logs).load()


@register(
    "pysource_log_scan",
    """
SELECT source || '.log' AS fname,
       count(*) AS n_lines,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT lang) AS n_langs
FROM documents GROUP BY source
""",
    doc="Python Data Source API scan: per-file partitions, Arrow batches, "
    "JVM-side parse + aggregate",
)
def pysource_log_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan through the custom Python source: every ``.log`` file is
    one input partition (executor-distributed), lines arrive as Arrow
    batches, and the tab-parse + aggregate run JVM-side — the Python
    boundary is one columnar hop per file. The oracle recomputes the same
    totals straight from ``documents``, proving the source reproduced the
    data exactly (line counts, char sums, lang cardinalities)."""
    t = F.split(F.col("line"), "\t")
    return (
        _log_lines(spark, sf_dir)
        .select("fname", t.getItem(1).alias("lang"), t.getItem(2).cast("long").alias("n_chars"))
        .groupBy("fname")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("lang").alias("n_langs"),
        )
    )


@register(
    "pysource_log_pruned",
    """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE source = 'src0' GROUP BY lang
""",
    doc="Python Data Source filter pushdown: fname predicate prunes "
    "partitions before any file is opened",
)
def pysource_log_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pushdown path: ``WHERE fname = 'src0.log'`` reaches
    :meth:`BackupLogReader.pushFilters` at plan time, so only ONE file
    becomes an input partition and the other files are never opened — at
    100 TB (many instances × many log files) this is the difference between
    a full-fleet scan and a single-file read, exactly like partition
    pruning on a parquet table. Pruning behavior is unit-pinned in
    tests/test_sources.py (reader sees the filter, partition list shrinks,
    unsupported filters are handed back)."""
    t = F.split(F.col("line"), "\t")
    return (
        _log_lines(spark, sf_dir)
        .where(F.col("fname") == "src0.log")
        .select(t.getItem(1).alias("lang"), t.getItem(2).cast("long").alias("n_chars"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@register(
    "pysource_stream_log_scan",
    """
SELECT lang, count(*) AS n_lines, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
""",
    doc="Python streaming Data Source: offset-managed file backlog drained "
    "through Structured Streaming, per-file micro-batch partitions",
)
def pysource_stream_log_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of ``pysource_log_scan`` through the custom
    source's :class:`BackupLogStreamReader`: the engine checkpoints the
    file-count offset, plans one executor-side partition per newly-arrived
    file, and drains the whole backlog (AvailableNow). Complete-mode
    aggregate equals the batch oracle under any micro-batching — the same
    invariance contract every streaming twin in streaming/jobs.py pins."""
    from ufload_spark.streaming.jobs import run_to_memory

    tune(spark)
    register_source(spark)
    logs = ensure_fixture_logs(sf_dir)
    sdf = spark.readStream.format("ufload_logs").option("path", logs).load()
    t = F.split(F.col("line"), "\t")
    agg = (
        sdf.select(t.getItem(1).alias("lang"), t.getItem(2).cast("long").alias("n_chars"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_lines"), F.sum("n_chars").alias("total_chars"))
    )
    return run_to_memory(agg, output_mode="complete", prefix="pysrc")
