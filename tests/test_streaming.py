"""Streaming semantics beyond the oracle checks: watermark late-data
eviction in append mode, which the oracle-checked complete-mode jobs don't
exercise."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from ufload_spark.sources.tables import normalize_ts
from ufload_spark.streaming.jobs import events_readstream, run_to_memory


def test_append_mode_watermark_holds_back_open_windows(spark):
    """With append output + watermark, only windows whose end precedes the
    final watermark (max event time − delay) are emitted — the streaming
    form of the reference's ignore-files-newer-than-900 s guard
    (cloud.py:129-133). The open tail windows must NOT be in the sink."""
    sdf = events_readstream(spark, SF_DIR).withWatermark("ts", "15 minutes")
    agg = (
        sdf.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.end").alias("window_end"), "n")
    )
    sink = run_to_memory(agg, output_mode="append", prefix="late")

    batch = normalize_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    max_ts = batch.agg(F.max("ts")).first()[0]
    emitted = sink.agg(F.max("window_end")).first()[0]

    n_windows_total = batch.select(
        F.window("ts", "1 hour").alias("w")
    ).select("w.end").distinct().count()
    n_emitted = sink.count()

    # something was emitted, but the windows still open at end-of-stream
    # (those ending after the final watermark) were held back
    assert n_emitted > 0
    assert n_emitted < n_windows_total
    assert emitted is not None and max_ts is not None
    # every emitted window closed at or before the final event time
    assert emitted <= max_ts


def test_streaming_matches_batch_counts(spark):
    """End-to-end conservation: complete-mode streaming aggregation equals
    the batch aggregate over the same file."""
    sdf = events_readstream(spark, SF_DIR)
    agg = sdf.groupBy("event_type").agg(F.count("*").alias("n"))
    sink = run_to_memory(agg, output_mode="complete", prefix="cons")
    got = {r["event_type"]: r["n"] for r in sink.collect()}

    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want = {
        r["event_type"]: r["n"]
        for r in batch.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_interval_join_invariant_under_micro_batching(spark, tmp_path):
    """The one-file fixture gives AvailableNow a single micro-batch, which
    can mask batching bugs. Split events into 8 files and stream them 2 at
    a time (maxFilesPerTrigger) so the stream-stream interval join really
    runs across ~4 micro-batches with state carried between them — the
    matched pairs must equal the batch inequality join exactly."""
    batch = normalize_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    src_dir = str(tmp_path / "events_split")
    batch.repartition(8).write.parquet(src_dir)

    sdf = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 2
    ).parquet(src_dir)
    clicks = (
        sdf.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "31 days")  # files arrive in arbitrary ts order
    )
    purchases = (
        sdf.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "31 days")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 30 MINUTES"
        ),
    ).select("click_id", "purchase_id")
    sink = run_to_memory(joined, output_mode="append", prefix="mb_join")
    got = {(r["click_id"], r["purchase_id"]) for r in sink.collect()}

    c = batch.where(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("c_ts"), F.col("event_id").alias("click_id")
    )
    p = batch.where(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    want = {
        (r["click_id"], r["purchase_id"])
        for r in c.join(p, "user_id")
        .where(
            (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES"))
        )
        .collect()
    }
    assert got == want and len(want) > 0


def test_checkpoint_dir_is_isolated(spark):
    """Two runs of the same job must not collide on sink name or
    checkpoint dir (the driver may invoke a query repeatedly)."""
    sdf = events_readstream(spark, SF_DIR)
    agg = sdf.groupBy("event_type").agg(F.count("*").alias("n"))
    a = run_to_memory(agg, output_mode="complete", prefix="iso").count()
    b = run_to_memory(agg, output_mode="complete", prefix="iso").count()
    assert a == b > 0


def test_upsert_publish_invariant_under_micro_batching(spark, tmp_path):
    """The incremental MERGE-publish sink must converge to the same table
    whatever the batching: split events into 8 files, stream 2 per
    trigger (~4 micro-batches), merge-publish each batch, and compare the
    final published table to the full event set."""
    from ufload_spark.operators.archive import merge_upsert
    from ufload_spark.sources.loader import _fs, stage_and_publish
    from ufload_spark.streaming.notify import run_with_notify

    batch = normalize_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    src_dir = str(tmp_path / "events_split")
    batch.repartition(8).write.parquet(src_dir)
    target = str(tmp_path / "published")

    sdf = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
        .select("event_id", "event_type", "value")
    )

    batches = []

    def upsert(b, epoch_id):
        if b.isEmpty():
            return
        batches.append(epoch_id)
        s = b.sparkSession
        fs, jt, _ = _fs(s, target)
        existing = (
            s.read.parquet(target) if fs.exists(jt)
            else s.createDataFrame([], b.schema)
        )
        stage_and_publish(
            s, merge_upsert(existing, b, ["event_id"], on_duplicate="raise"), target
        )

    run_with_notify(sdf, upsert, checkpoint_dir=str(tmp_path / "ckpt"))
    assert len(batches) >= 3  # really ran across micro-batches
    got = spark.read.parquet(target)
    assert got.count() == batch.count()
    # value totals conserved through repeated merge+publish cycles
    g = got.agg(F.round(F.sum("value"), 2).alias("s")).first()["s"]
    w = batch.agg(F.round(F.sum("value"), 2).alias("s")).first()["s"]
    assert g == w


def test_upsert_publish_recovers_from_checkpoint(spark, tmp_path):
    """Kill the MERGE-publish stream mid-run and restart it from its
    checkpoint: the restarted query must resume at the failed epoch (not
    reprocess committed ones, not skip uncommitted ones) and the final
    published table must be EXACTLY the batch result — exactly-once sink
    contents.

    The injected crash targets the worst window: the callback publishes the
    batch and THEN dies, so the sink mutation landed but the checkpoint
    offset commit never happened. On restart Spark replays that epoch's
    data; the by-key MERGE makes the replay idempotent, which is precisely
    the sink-side contract ("idempotent by (epoch/key)") Structured
    Streaming requires from foreachBatch for exactly-once. This is the
    Spark mapping of the reference's restart-resilience posture — retried
    downloads (webdav.py:111-133) and resumable poll loops
    (cli/main.py:641-663) — applied to the engine's own recovery story."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from ufload_spark.operators.archive import merge_upsert
    from ufload_spark.sources.loader import _fs, stage_and_publish
    from ufload_spark.streaming.notify import run_with_notify

    batch = normalize_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    src_dir = str(tmp_path / "events_split")
    batch.repartition(8).write.parquet(src_dir)
    target = str(tmp_path / "published")
    ckpt = str(tmp_path / "ckpt")

    def stream():
        return (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src_dir)
            .select("event_id", "event_type", "value")
        )

    def make_upsert(seen: list, crash_at: int | None):
        def upsert(b, epoch_id):
            if b.isEmpty():
                return
            seen.append(epoch_id)
            s = b.sparkSession
            fs, jt, _ = _fs(s, target)
            existing = (
                s.read.parquet(target) if fs.exists(jt)
                else s.createDataFrame([], b.schema)
            )
            stage_and_publish(
                s,
                merge_upsert(existing, b, ["event_id"], on_duplicate="raise"),
                target,
            )
            # crash AFTER the publish, BEFORE the epoch offset commits —
            # the batch landed in the sink but the checkpoint doesn't know
            if crash_at is not None and epoch_id >= crash_at:
                raise RuntimeError("injected crash after publish")

        return upsert

    first_epochs: list[int] = []
    try:
        run_with_notify(stream(), make_upsert(first_epochs, crash_at=2), checkpoint_dir=ckpt)
        raise AssertionError("first run should have died on the injected crash")
    except StreamingQueryException:
        pass
    assert first_epochs == [0, 1, 2]  # epochs 0-1 committed; 2 published-but-uncommitted

    second_epochs: list[int] = []
    run_with_notify(stream(), make_upsert(second_epochs, crash_at=None), checkpoint_dir=ckpt)
    # resumed at the failed epoch: committed epochs were NOT reprocessed
    assert second_epochs and min(second_epochs) == 2

    got = spark.read.parquet(target)
    assert got.count() == batch.count()  # epoch-2 replay deduped by the MERGE
    assert got.select("event_id").distinct().count() == batch.count()
    g = got.agg(F.round(F.sum("value"), 2).alias("s")).first()["s"]
    w = batch.agg(F.round(F.sum("value"), 2).alias("s")).first()["s"]
    assert g == w


def test_ingest_gate_recovers_from_checkpoint(spark, tmp_path):
    """Kill the streaming admission gate mid-run (after a publish, before
    the epoch's offset commit — the worst window) and restart from the
    checkpoint: the final admitted table must be EXACTLY the batch answer
    (min doc_id per novel fingerprint), proving the min-wins merge is
    replay-idempotent and batching-independent."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F

    from ufload_spark.streaming.jobs import ingest_gate_batch

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    batch_docs = docs.where(F.col("doc_id") % 4 == 0)
    src_dir = str(tmp_path / "docs_split")
    batch_docs.repartition(6).write.parquet(src_dir)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    corpus_fp = (
        docs.where(F.col("doc_id") % 4 != 0)
        .select(F.md5(norm).alias("fp"))
        .distinct()
        .persist()
    )
    target = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")

    def stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src_dir)
        )

    calls: list[int] = []

    def make_admit(crash_at):
        def admit(b, epoch_id):
            if b.isEmpty():
                return
            calls.append(epoch_id)
            ingest_gate_batch(b, target, corpus_fp, epoch_id)
            if crash_at is not None and epoch_id >= crash_at:
                raise RuntimeError("injected crash after publish")

        return admit

    q = (
        stream().writeStream.foreachBatch(make_admit(crash_at=1))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    # restart from the same checkpoint, no crash this time
    q2 = (
        stream().writeStream.foreachBatch(make_admit(crash_at=None))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    # epoch 1 ran twice (publish landed, offset didn't) — replay happened
    assert calls.count(1) == 2, calls
    # and the final table is EXACTLY the batch answer despite the replay
    expected = (
        batch_docs.select("doc_id", F.md5(norm).alias("fp"))
        .join(corpus_fp, "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    from ufload_spark.streaming.jobs import read_ingest_admitted

    got = read_ingest_admitted(spark, target).select("fp", "doc_id")
    assert got.count() == expected.count()
    assert got.exceptAll(expected.select("fp", "doc_id")).count() == 0
    # append-only contract (r10): per-epoch segments hold per-batch
    # minima only; the global min-wins is resolved at read time
    import glob as _glob

    assert len(sorted(_glob.glob(f"{target}/e*"))) >= 2
    corpus_fp.unpersist()


def test_neardup_gate_recovers_from_checkpoint(spark, tmp_path):
    """r9: kill the streaming NEAR-dup gate mid-run (after a publish,
    before the epoch's offset commit) and restart from the checkpoint —
    the final admitted table must EXACTLY equal the batch answer
    (dedup_simhash_incremental's survivor set against the static corpus
    index), proving the doc_id-keyed merge is replay-idempotent and the
    static-index gate is batching-independent."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F

    from ufload_spark.operators.dedup import (
        HAMMING_D,
        N_SEGS,
        SEG_BITS,
        simhash_frame,
    )
    from ufload_spark.streaming.jobs import neardup_gate_batch

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    batch_docs = docs.where(F.col("doc_id") % 4 == 0)
    src_dir = str(tmp_path / "docs_split")
    batch_docs.repartition(6).write.parquet(src_dir)
    corpus_sims = (
        simhash_frame(docs.where(F.col("doc_id") % 4 != 0)).persist()
    )
    corpus_sims.count()
    target = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")

    def stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src_dir)
        )

    calls: list[int] = []

    def make_admit(crash_at):
        def admit(b, epoch_id):
            if b.isEmpty():
                return
            calls.append(epoch_id)
            neardup_gate_batch(b, target, corpus_sims, epoch_id)
            if crash_at is not None and epoch_id >= crash_at:
                raise RuntimeError("injected crash after publish")

        return admit

    q = (
        stream().writeStream.foreachBatch(make_admit(crash_at=1))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    q2 = (
        stream().writeStream.foreachBatch(make_admit(crash_at=None))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert calls.count(1) == 2, calls  # the crashed epoch replayed

    # batch answer: segment-pigeonhole probe of the SAME static index
    sims = simhash_frame(batch_docs.select("doc_id", "text"))

    def melt(df):
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
        return df.select(
            "doc_id", "simhash", F.explode(segs).alias("sv")
        ).select("doc_id", "simhash", "sv.seg", "sv.segval")

    b, e = melt(sims).alias("b"), melt(corpus_sims).alias("e")
    collided = (
        b.join(
            e,
            (F.col("b.seg") == F.col("e.seg"))
            & (F.col("b.segval") == F.col("e.segval")),
        )
        .where(
            F.bit_count(F.col("b.simhash").bitwiseXOR(F.col("e.simhash")))
            <= HAMMING_D
        )
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    expected = {
        r["doc_id"]
        for r in sims.join(collided, "doc_id", "left_anti")
        .select("doc_id")
        .collect()
    }
    from ufload_spark.streaming.jobs import read_admitted

    got = {r["doc_id"] for r in read_admitted(spark, target).collect()}
    assert got == expected
    # append-only contract (r10): the replayed epoch rewrote its OWN
    # segment; each epoch directory holds only its batch's survivors and
    # no segment was rewritten with another epoch's rows
    import glob as _glob

    segs = sorted(_glob.glob(f"{target}/e*"))
    assert len(segs) >= 2, segs
    per_seg = [spark.read.parquet(p).count() for p in segs]
    assert sum(per_seg) == len(expected), (per_seg, len(expected))
    corpus_sims.unpersist()


def test_gate_readers_skip_staging_debris(spark, tmp_path):
    """r10 ADVICE: a crashed epoch publish leaves ``eNNNNNN.staging.*`` /
    ``eNNNNNN.old.*`` siblings that are younger than the orphan-sweep age
    at replay time; the segment readers must list EXACT ``e<digits>``
    names and never include the unaudited debris rows — the
    stage→audit→atomic-publish contract enforced at read time, not
    rescued by the min-wins dedup happening to make debris idempotent."""
    from ufload_spark.sources.loader import stage_and_publish
    from ufload_spark.streaming.jobs import read_admitted, read_ingest_admitted

    target = str(tmp_path / "gate")
    good = spark.createDataFrame(
        [("fpA", 4, "s1"), ("fpB", 8, "s1")],
        "fp string, doc_id long, source string",
    )
    stage_and_publish(spark, good, f"{target}/e000000")
    # unaudited mid-publish debris: same schema, poisoned rows that a bare
    # {target}/e* glob would happily union in
    debris = spark.createDataFrame(
        [("fpC", 12, "s9")], "fp string, doc_id long, source string"
    )
    debris.write.parquet(f"{target}/e000001.staging.deadbeef")
    debris.write.parquet(f"{target}/e000002.old.cafe")

    assert {
        r["fp"] for r in read_ingest_admitted(spark, target).collect()
    } == {"fpA", "fpB"}
    assert {r["doc_id"] for r in read_admitted(spark, target).collect()} == {4, 8}


@pytest.mark.parametrize("gate", ["ingest", "neardup"])
def test_all_duplicate_batch_reads_back_empty(spark, tmp_path, gate):
    """A micro-batch whose every document is already in the corpus index
    publishes no segment; the admitted table must then read back empty,
    with the gate's segment columns (it used to raise PATH_NOT_FOUND)."""
    from ufload_spark.operators.dedup import simhash_frame
    from ufload_spark.streaming import jobs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    batch = docs.where((F.col("doc_id") % 4 == 0) & (F.col("doc_id") < 200))
    target = str(tmp_path / "admitted")
    if gate == "ingest":
        norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        index = batch.select(F.md5(norm).alias("fp")).distinct()
        jobs.ingest_gate_batch(batch, target, index, 0)
        got = jobs.read_ingest_admitted(spark, target)
        assert got.columns == ["fp", "doc_id", "source"]
    else:
        jobs.neardup_gate_batch(batch, target, simhash_frame(batch), 0)
        got = jobs.read_admitted(spark, target)
        assert got.columns == ["doc_id", "source", "simhash"]
    assert got.count() == 0
