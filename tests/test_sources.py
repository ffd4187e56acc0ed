"""Loader lifecycle, range reader, retrying download, ZIP corruption flags."""

from __future__ import annotations

import io
import os
import time
import zipfile

import pytest

from tests.conftest import SF_DIR
from ufload_spark.sources import remote
from ufload_spark.sources.loader import (
    AuditError,
    record_loaded,
    should_reload,
    stage_and_publish,
)
from ufload_spark.sources.tables import (
    SPREAD_ROWS_PER_TASK,
    TABLES,
    footers,
    local_frame,
    parallelism,
    read_parquet,
    spread,
    table,
)
from ufload_spark.sources.zipsource import zip_listing


def test_publish_then_atomic_replace(spark, tmp_path):
    target = str(tmp_path / "t")
    df = table(spark, SF_DIR, "region")
    n = stage_and_publish(spark, df, target)
    assert n == spark.read.parquet(target).count()
    # re-publish with fewer rows: old data replaced, no staging left behind
    n2 = stage_and_publish(spark, df.limit(2), target)
    assert n2 == 2 == spark.read.parquet(target).count()
    leftovers = [p for p in os.listdir(tmp_path) if "staging" in p or ".old" in p]
    assert leftovers == []


def test_publish_audit_failure_keeps_old(spark, tmp_path):
    target = str(tmp_path / "t")
    df = table(spark, SF_DIR, "region")
    stage_and_publish(spark, df, target)
    before = spark.read.parquet(target).count()
    with pytest.raises(AuditError):
        stage_and_publish(spark, df, target, expected_rows=before + 999)
    # old table untouched, staging cleaned up
    assert spark.read.parquet(target).count() == before
    assert [p for p in os.listdir(tmp_path) if "staging" in p] == []


def test_publish_sweeps_crashed_run_leftovers(spark, tmp_path):
    """Orphaned .staging/.old dirs from a crashed run must not break or
    pollute the next publish: stale staging is swept up front, old copies
    are swept only once the new publish has succeeded."""
    target = str(tmp_path / "t")
    df = table(spark, SF_DIR, "region")
    stage_and_publish(spark, df, target)  # target exists; .old is not recovery
    os.makedirs(f"{target}.staging.deadbeef.cafe")
    os.utime(f"{target}.staging.deadbeef.cafe", (0, 0))  # crash debris: old
    os.makedirs(f"{target}.old.deadbeef.cafe")
    n = stage_and_publish(spark, df, target)
    assert n == spark.read.parquet(target).count()
    leftovers = [p for p in os.listdir(tmp_path) if "staging" in p or ".old" in p]
    assert leftovers == []


def test_fresh_staging_of_concurrent_publisher_left_alone(spark, tmp_path):
    """A young .staging dir may belong to a LIVE concurrent publish — the
    sweep must not delete it mid-write (r2 ADVICE)."""
    target = str(tmp_path / "t")
    live = f"{target}.staging.someother.run"
    os.makedirs(live)
    df = table(spark, SF_DIR, "region")
    stage_and_publish(spark, df, target)
    assert os.path.isdir(live)  # untouched: too young to be debris


def test_crash_window_old_copy_is_recovered_not_swept(spark, tmp_path):
    """Crash between the two swap renames leaves target absent and the only
    surviving copy in <target>.old.*. The next publish must treat that copy
    as recovery data — restore it first — NOT sweep it (r2 ADVICE, medium):
    if the next publish then fails, the data must still be there."""
    target = str(tmp_path / "t")
    df = table(spark, SF_DIR, "region")
    stage_and_publish(spark, df, target)
    before = spark.read.parquet(target).count()
    # simulate the mid-swap crash state: target moved aside, never replaced
    os.rename(target, f"{target}.old.crashed.run")
    assert not os.path.exists(target)
    # next publish fails its audit — but recovery must already have happened
    with pytest.raises(AuditError):
        stage_and_publish(spark, df, target, expected_rows=before + 999)
    assert spark.read.parquet(target).count() == before  # data survived


def test_pointer_publish_reader_never_sees_missing(spark, tmp_path, monkeypatch):
    """publish_versioned commits via an atomic pointer-file swap: a reader
    resolves a complete version at every instant, even when a new publish
    crashes before its commit."""
    from ufload_spark.sources import loader

    target = str(tmp_path / "t")
    df = table(spark, SF_DIR, "region")
    n1 = loader.publish_versioned(spark, df, target)
    assert loader.read_current(spark, target).count() == n1

    # crash injected between the version write and the pointer commit
    real_commit = loader._commit_pointer

    def crashing_commit(s, fs, jvm, tgt, version_name):
        raise RuntimeError("simulated crash before pointer commit")

    monkeypatch.setattr(loader, "_commit_pointer", crashing_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        loader.publish_versioned(spark, df.limit(2), target)
    # reader still sees the previous committed version, intact
    assert loader.read_current(spark, target).count() == n1

    monkeypatch.setattr(loader, "_commit_pointer", real_commit)
    n2 = loader.publish_versioned(spark, df.limit(2), target)
    assert n2 == 2 == loader.read_current(spark, target).count()
    # superseded versions beyond keep_versions are swept; current survives
    versions = [p for p in os.listdir(tmp_path) if ".v." in p]
    assert len(versions) <= 2


def _corrupt_footers(monkeypatch):
    """Make the loader's footer read report one row more than the bytes
    hold — a staged copy that disagrees with what its write observed."""
    from ufload_spark.sources import loader

    real = loader.footers

    def lying(s, *paths):
        schema, rows = real(s, *paths)
        return schema, rows + 1

    monkeypatch.setattr(loader, "footers", lying)


def test_publish_audit_mismatch_keeps_target(spark, tmp_path, monkeypatch):
    """Footer rows ≠ observed rows: the directory-swap publish raises, the
    published target keeps its rows, and no staging or old copy is left."""
    target = str(tmp_path / "t")
    df = table(spark, SF_DIR, "region")
    n = stage_and_publish(spark, df, target)
    before = sorted(spark.read.parquet(target).collect())
    _corrupt_footers(monkeypatch)
    with pytest.raises(AuditError, match="staged copy is corrupt"):
        stage_and_publish(spark, df.limit(2), target)
    assert sorted(spark.read.parquet(target).collect()) == before
    assert len(before) == n
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_versioned_audit_mismatch_keeps_pointer(spark, tmp_path, monkeypatch):
    """Footer rows ≠ observed rows: the pointer publish raises before its
    commit, the pointer still names the previous version, and the rejected
    version dir and the lease are gone."""
    from ufload_spark.sources import loader

    target = str(tmp_path / "t")
    df = table(spark, SF_DIR, "region")
    n = loader.publish_versioned(spark, df, target)
    pointer = (tmp_path / "t.current").read_text()
    before = sorted(os.listdir(tmp_path))
    _corrupt_footers(monkeypatch)
    with pytest.raises(AuditError, match="write observed"):
        loader.publish_versioned(spark, df.limit(2), target)
    assert (tmp_path / "t.current").read_text() == pointer
    assert loader.read_current(spark, target).count() == n
    assert sorted(os.listdir(tmp_path)) == before
    assert [p for p in before if ".v." in p] == [pointer]


def _jobs_run(spark, fn):
    """``fn()``'s result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"probe-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_footers_match(spark, *paths):
    (schema, rows), jobs = _jobs_run(spark, lambda: footers(spark, *paths))
    assert jobs == 0
    inferred = spark.read.parquet(*paths)
    assert schema == inferred.schema
    assert rows == inferred.count()
    back, jobs = _jobs_run(spark, lambda: read_parquet(spark, *paths))
    assert jobs == 0
    assert back.schema == inferred.schema


def test_footers_match_inference_on_fixtures(spark):
    """`footers` gives the schema and row count schema inference and a
    `count()` give, for every fixture table (``events`` carries
    TIMESTAMP(NANOS), read as bigint under the session's ``nanosAsLong``)."""
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    for name in TABLES:
        _assert_footers_match(spark, f"{SF_DIR}/{name}.parquet")


def test_footers_match_inference_on_spark_output(spark, tmp_path):
    """A multi-file Spark output with a non-nullable column (made nullable,
    as a file relation makes it), a multi-path segment read, and a
    key=value partitioned directory; an empty directory raises as
    inference does."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    src = spark.range(0, 300, numPartitions=3).select(
        "id", (F.col("id") % 5).cast("string").alias("k")
    )
    assert not src.schema["id"].nullable
    src.write.parquet(str(tmp_path / "multi"))
    parts = [p for p in os.listdir(tmp_path / "multi") if p.endswith(".parquet")]
    assert len(parts) == 3
    _assert_footers_match(spark, str(tmp_path / "multi"))
    assert footers(spark, str(tmp_path / "multi"))[0]["id"].nullable

    segs = [str(tmp_path / "gate" / f"e{i:06d}") for i in range(3)]
    for i, seg in enumerate(segs):
        src.where(F.col("id") % 3 == i).write.parquet(seg)
    _assert_footers_match(spark, *segs)

    src.write.partitionBy("k").parquet(str(tmp_path / "by_k"))
    part = str(tmp_path / "by_k")
    assert read_parquet(spark, part).schema == spark.read.parquet(part).schema
    assert footers(spark, part)[1] == 300

    (tmp_path / "empty").mkdir()
    for read in (footers, read_parquet, lambda s, p: s.read.parquet(p)):
        with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
            read(spark, str(tmp_path / "empty"))


def test_local_frame_round_trip(spark):
    """`local_frame` keeps the exact schema (nullability included), NULLs,
    dict rows and zero rows, and plans a `LocalRelation` that runs no job."""
    import datetime
    import decimal

    from pyspark.sql.types import (
        BooleanType,
        DateType,
        DecimalType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("s", StringType()),
            StructField("n", LongType(), nullable=False),
            StructField("i", IntegerType()),
            StructField("b", BooleanType()),
            StructField("x", DoubleType()),
            StructField("d", DecimalType(12, 2)),
            StructField("day", DateType()),
        ]
    )
    rows = [
        ("a", 1, 7, True, 0.5, decimal.Decimal("1.25"), datetime.date(2020, 2, 29)),
        (None, 2, None, None, None, None, None),
    ]
    df = local_frame(spark, rows, schema)
    assert df.schema == schema
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    got, jobs = _jobs_run(spark, df.collect)
    assert jobs == 0
    assert [tuple(r) for r in got] == rows
    by_name = local_frame(spark, [{"n": 3, "s": "q"}], "s string, n long")
    assert [tuple(r) for r in by_name.collect()] == [("q", 3)]
    empty = local_frame(spark, [], schema)
    assert empty.schema == schema and empty.collect() == []


def test_empty_stage_rejected(spark, tmp_path):
    df = table(spark, SF_DIR, "region").limit(0)
    with pytest.raises(AuditError):
        stage_and_publish(spark, df, str(tmp_path / "t"))


def test_skip_if_unchanged_memo(spark, tmp_path):
    memo = str(tmp_path / "memo")
    assert should_reload(spark, memo, 123)  # no memo yet
    record_loaded(spark, memo, 123)
    assert not should_reload(spark, memo, 123)  # unchanged → skip
    assert should_reload(spark, memo, 124)  # size changed → reload


def test_range_reader(tmp_path):
    p = tmp_path / "blob.bin"
    payload = bytes(range(256)) * 40
    p.write_bytes(payload)
    r = remote.RangeReader(f"file://{p}")
    assert r.size() == len(payload)
    assert r.read(10) == payload[:10]
    r.seek(100)
    assert r.read(16) == payload[100:116]
    r.seek(-8, os.SEEK_END)
    assert r.read() == payload[-8:]
    assert r.read() == b""


def test_download_retries_then_succeeds(tmp_path):
    src = tmp_path / "src.bin"
    src.write_bytes(b"x" * 100_000)
    dest = tmp_path / "dest.bin"
    fails = {"n": 2}

    def flaky_opener(url: str, offset: int) -> io.IOBase:
        if fails["n"] > 0:
            fails["n"] -= 1
            raise OSError("transient")
        return remote.local_opener(url, offset)

    retries = []
    n = remote.download(
        str(src),
        str(dest),
        opener=flaky_opener,
        retry_sleep_s=0,
        on_retry=lambda a, e: retries.append(a),
    )
    assert n == 100_000 and dest.read_bytes() == src.read_bytes()
    assert retries == [0, 1]


def test_download_gives_up(tmp_path):
    def dead_opener(url: str, offset: int) -> io.IOBase:
        raise OSError("down")

    with pytest.raises(OSError, match="after 3 attempts"):
        remote.download(
            str(tmp_path / "s"),
            str(tmp_path / "d"),
            opener=dead_opener,
            max_retries=3,
            retry_sleep_s=0,
        )


def test_publish_rename_failure_rolls_old_back(spark, tmp_path, monkeypatch):
    """If the publish rename fails AFTER the old data was moved aside, the
    old dir must be renamed back — target ends up exactly as before."""
    from ufload_spark.sources import loader

    target = str(tmp_path / "t")
    df = table(spark, SF_DIR, "region")
    stage_and_publish(spark, df, target)
    before = sorted(r["r_regionkey"] for r in spark.read.parquet(target).collect())

    real_fs = loader._fs

    class FailingPublishFS:
        """Delegates to the real Hadoop FS but fails the staging→target
        rename, simulating a filesystem error mid-swap."""

        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            if ".staging." in str(src) and str(dst).rstrip("/").endswith("/t"):
                return False
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def failing_fs(s, path):
        fs, jpath, jvm = real_fs(s, path)
        return FailingPublishFS(fs), jpath, jvm

    monkeypatch.setattr(loader, "_fs", failing_fs)
    with pytest.raises(AuditError, match="could not publish"):
        stage_and_publish(spark, df.limit(1), target)
    monkeypatch.setattr(loader, "_fs", real_fs)

    # old data rolled back into place, no staging/old leftovers
    after = sorted(r["r_regionkey"] for r in spark.read.parquet(target).collect())
    assert after == before
    leftovers = [p for p in os.listdir(tmp_path) if "staging" in p or ".old" in p]
    assert leftovers == []


# --- ranged-HTTP transport, against a real local http.server thread ------


class _RangeHTTPHandler(__import__("http.server", fromlist=["BaseHTTPRequestHandler"]).BaseHTTPRequestHandler):
    """Minimal HTTP server speaking HEAD + Range GET (and optional
    fail-first-N for retry tests) over an in-memory payload."""

    payload = b""
    fail_next = {"n": 0}

    def _maybe_fail(self) -> bool:
        if self.fail_next["n"] > 0:
            self.fail_next["n"] -= 1
            self.send_error(503, "transient")
            return True
        return False

    def do_HEAD(self):  # noqa: N802 — http.server API
        if self._maybe_fail():
            return
        self.send_response(200)
        self.send_header("Content-Length", str(len(self.payload)))
        self.end_headers()

    def do_GET(self):  # noqa: N802 — http.server API
        if self._maybe_fail():
            return
        body = self.payload
        status = 200
        rng = self.headers.get("Range")
        if rng and rng.startswith("bytes="):
            start_s, _, end_s = rng[len("bytes=") :].partition("-")
            start = int(start_s)
            end = int(end_s) + 1 if end_s else len(body)
            body, status = body[start:end], 206
        self.send_response(status)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # silence per-request stderr noise
        pass


@pytest.fixture()
def http_url():
    import http.server
    import threading

    _RangeHTTPHandler.payload = bytes(range(256)) * 37
    _RangeHTTPHandler.fail_next = {"n": 0}
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _RangeHTTPHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}/blob.bin"
    finally:
        srv.shutdown()


def test_http_range_reader(http_url):
    opener, sizer = remote.make_http_opener()
    payload = _RangeHTTPHandler.payload
    r = remote.RangeReader(http_url, opener=opener, sizer=sizer, retry_sleep_s=0)
    assert r.size() == len(payload)  # HEAD content-length
    assert r.read(10) == payload[:10]
    r.seek(1000)
    assert r.read(16) == payload[1000:1016]  # served via Range: bytes=1000-
    r.seek(-8, os.SEEK_END)
    assert r.read() == payload[-8:]


def test_http_download_and_retry(http_url, tmp_path):
    opener, _ = remote.make_http_opener()
    dest = tmp_path / "dl.bin"
    _RangeHTTPHandler.fail_next["n"] = 2  # first two requests 503
    n = remote.download(http_url, str(dest), opener=opener, retry_sleep_s=0)
    assert n == len(_RangeHTTPHandler.payload)
    assert dest.read_bytes() == _RangeHTTPHandler.payload


def test_http_range_read_retries(http_url):
    opener, sizer = remote.make_http_opener()
    r = remote.RangeReader(http_url, opener=opener, sizer=sizer, retry_sleep_s=0)
    _RangeHTTPHandler.fail_next["n"] = 2  # reads must survive transient 503s
    assert r.read(10) == _RangeHTTPHandler.payload[:10]


def _auth_server(realm_payload: bytes):
    """An HTTP server demanding basic auth; records Authorization headers."""
    import http.server

    seen: list = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — http.server API
            auth = self.headers.get("Authorization")
            seen.append(auth)
            if auth is None:
                self.send_response(401)
                self.send_header("WWW-Authenticate", 'Basic realm="dumps"')
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(realm_payload)))
            self.end_headers()
            self.wfile.write(realm_payload)

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    import threading

    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}", seen


def test_http_auth_requires_scope():
    """Credentials without a base URL to scope them to are a config error —
    scheme-wide registration would replay them to arbitrary hosts."""
    with pytest.raises(ValueError, match="auth_base_url"):
        remote.make_http_opener(user="u", password="p")


def test_http_auth_scoped_to_dump_host_only():
    """Scoped creds answer the dump host's 401 but are NOT offered to a
    different host that also demands auth (r2 ADVICE: credential leak)."""
    import urllib.error

    srv1, base1, seen1 = _auth_server(b"dump-bytes")
    srv2, base2, seen2 = _auth_server(b"other-bytes")
    try:
        opener, _ = remote.make_http_opener(
            user="u", password="p", auth_base_url=base1
        )
        # dump host: 401 challenge answered, payload served
        with opener(f"{base1}/blob.bin", 0) as resp:
            assert resp.read() == b"dump-bytes"
        assert any(a and a.startswith("Basic ") for a in seen1)
        # other host: challenge NOT answered — no Authorization ever sent
        with pytest.raises(urllib.error.HTTPError):
            opener(f"{base2}/blob.bin", 0)
        assert all(a is None for a in seen2)
    finally:
        srv1.shutdown()
        srv2.shutdown()


def test_zip_corruption_flagged(spark, tmp_path):
    good = tmp_path / "good.zip"
    with zipfile.ZipFile(good, "w") as z:
        z.writestr("member.txt", "hello")
    multi = tmp_path / "multi.zip"
    with zipfile.ZipFile(multi, "w") as z:
        z.writestr("a.txt", "a")
        z.writestr("b.txt", "b")
    (tmp_path / "corrupt.zip").write_bytes(b"not a zip at all")

    rows = {r["zip_name"]: r for r in zip_listing(spark, f"{tmp_path}/*.zip").collect()}
    assert rows["good.zip"]["ok"] and rows["good.zip"]["member"] == "member.txt"
    # the reference requires exactly one member (cloud.py:221-228)
    assert not rows["multi.zip"]["ok"] and rows["multi.zip"]["n_members"] == 2
    assert not rows["corrupt.zip"]["ok"]


def test_normalize_ts_dtype_matrix(spark, tmp_path):
    """Every ts encoding a driver fixture refresh has ever shipped — bigint
    nanos, TIMESTAMP, TIMESTAMP_NTZ — must normalize to the same TIMESTAMP
    instants through the one shared helper (sources.tables.normalize_ts),
    so the next refresh can't silently break product or tests again."""
    from pyspark.sql import functions as F

    from ufload_spark.sources.tables import normalize_ts

    ns = [1_700_000_000_000_000_000, 1_700_000_123_456_789_000]
    base = spark.createDataFrame([(v,) for v in ns], "ts bigint")
    as_ts = base.select(F.timestamp_micros(F.expr("ts div 1000")).alias("ts"))
    as_ntz = as_ts.select(F.col("ts").cast("timestamp_ntz").alias("ts"))

    want = [r["ts"] for r in as_ts.orderBy("ts").collect()]
    for variant in (base, as_ts, as_ntz):
        out = normalize_ts(variant)
        assert dict(out.dtypes)["ts"] == "timestamp"
        assert [r["ts"] for r in out.orderBy("ts").collect()] == want
    # a frame without the column passes through untouched
    no_ts = spark.createDataFrame([(1,)], "x int")
    assert normalize_ts(no_ts) is no_ts


def test_spread_rules(spark):
    """`spread`'s width and its two skip rules (plans only, no job)."""
    one = spark.range(100, numPartitions=1)
    width = parallelism(spark)
    assert spread(one, "id").rdd.getNumPartitions() == width
    assert spread(one, "id", waves=4).rdd.getNumPartitions() == 4 * width
    rows = 3 * SPREAD_ROWS_PER_TASK
    assert spread(one, "id", n_rows=rows).rdd.getNumPartitions() == 3
    assert spread(one, "id", n_rows=SPREAD_ROWS_PER_TASK) is one
    many = spark.range(100, numPartitions=parallelism(spark, floor=1))
    assert spread(many, "id", src=("test", "many")) is many
    assert spread(one, "id", src=("test", "one")) is not one
    # the split count is read once per session and source
    assert spread(one, "id", src=("test", "many")) is one


def test_per_session_memos_do_not_pin_the_session(spark):
    """`table` and `spread` keep their memos on the session itself: after a
    session has read through both, no module-level container under
    `ufload_spark.sources` still reaches it (a dict keyed on the session
    would keep every stopped session and its frames alive)."""
    import importlib
    import pkgutil

    import ufload_spark.sources as sources
    from pyspark.sql import DataFrame

    s2 = spark.newSession()
    li = table(s2, SF_DIR, "lineitem")
    spread(li, "l_orderkey", src=(SF_DIR, "lineitem"))
    assert table(s2, SF_DIR, "lineitem") is li

    def reaches(obj, depth: int = 0) -> bool:
        if obj is s2 or (isinstance(obj, DataFrame) and obj.sparkSession is s2):
            return True
        if depth > 4:
            return False
        if isinstance(obj, dict):
            obj = [*obj.keys(), *obj.values()]
        if isinstance(obj, (list, tuple, set, frozenset)):
            return any(reaches(x, depth + 1) for x in obj)
        return False

    pinned = [
        f"{mod.name}.{k}"
        for mod in pkgutil.iter_modules(sources.__path__)
        for k, v in vars(importlib.import_module(f"{sources.__name__}.{mod.name}")).items()
        if reaches(v)
    ]
    assert pinned == []


def test_version_history_and_time_travel(spark, tmp_path):
    """Pointer-publish three versions with keep_versions=2: history lists
    current-first, read_version(n) walks back commit by commit, and the
    retention sweep bounds how far back travel can go."""
    from pyspark.sql import functions as F

    from ufload_spark.sources.loader import (
        publish_versioned,
        read_current,
        read_version,
        version_history,
    )

    region = table(spark, SF_DIR, "region")
    target = str(tmp_path / "r")
    for n in (5, 3, 2):
        publish_versioned(spark, region.limit(n), target, keep_versions=2)

    hist = version_history(spark, target)
    assert len(hist) == 3
    assert hist[0]["is_current"] and not any(h["is_current"] for h in hist[1:])
    assert read_current(spark, target).count() == 2
    assert read_version(spark, target, 0).count() == 2
    assert read_version(spark, target, 1).count() == 3
    assert read_version(spark, target, 2).count() == 5
    with pytest.raises(IndexError):
        read_version(spark, target, 3)

    # tighter retention on the next publish sweeps the deep history
    publish_versioned(spark, region.limit(4), target, keep_versions=1)
    hist = version_history(spark, target)
    assert len(hist) == 2
    assert read_version(spark, target, 0).count() == 4
    assert read_version(spark, target, 1).count() == 2


def test_version_history_orders_by_commit_log_not_mtime(spark, tmp_path):
    """ADVICE r4: directory mtime is write-completion time, not commit time.
    Adversarially bump an OLDER version's mtime above every other dir —
    history positions and read_version(n) must not move, because commit
    order is recorded durably in the <target>.commits log."""
    from ufload_spark.sources.loader import (
        publish_versioned,
        read_version,
        version_history,
    )

    region = table(spark, SF_DIR, "region")
    target = str(tmp_path / "r")
    for n in (5, 3, 2):
        publish_versioned(spark, region.limit(n), target, keep_versions=2)

    oldest = version_history(spark, target)[-1]["name"]
    future = time.time() + 3600
    os.utime(str(tmp_path / oldest), (future, future))

    hist = version_history(spark, target)
    assert hist[-1]["name"] == oldest  # still position 2, despite the mtime
    assert read_version(spark, target, 1).count() == 3
    assert read_version(spark, target, 2).count() == 5


class _HardCrash(BaseException):
    """Simulates a process kill: not an Exception, so publish_versioned's
    cleanup/rollback handlers do NOT run — exactly a crashed publisher."""


def test_pointer_publish_hard_crash_windows(spark, tmp_path, monkeypatch):
    """The two crash windows of publish_versioned, with KILL semantics (no
    except-block cleanup): (a) dies before the pointer rename → readers see
    exactly the OLD version and the dead publish's dir is uncommitted
    debris; (b) dies after the pointer rename but before the commit-log
    append and retention sweep → readers see exactly the NEW version, and
    the next commit's self-heal backfills the log so history positions stay
    'n commits back'. In both windows a reader never sees an absent or
    half-written table."""
    from ufload_spark.sources import loader

    region = table(spark, SF_DIR, "region")
    target = str(tmp_path / "t")
    loader.publish_versioned(spark, region.limit(5), target, keep_versions=3)
    assert loader.read_current(spark, target).count() == 5

    # --- window (a): killed between version write and pointer rename ---
    real_commit = loader._commit_pointer
    monkeypatch.setattr(
        loader,
        "_commit_pointer",
        lambda *a, **k: (_ for _ in ()).throw(_HardCrash()),
    )
    with pytest.raises(_HardCrash):
        loader.publish_versioned(spark, region.limit(2), target, keep_versions=3)
    monkeypatch.setattr(loader, "_commit_pointer", real_commit)
    # reader: exactly the old version; the dead dir is not in history
    assert loader.read_current(spark, target).count() == 5
    assert len(loader.version_history(spark, target)) == 1
    n_dirs = len([p for p in os.listdir(tmp_path) if ".v." in p])
    assert n_dirs == 2  # committed + uncommitted debris

    # --- window (b): killed after pointer rename, before log + sweep ---
    real_append = loader._append_commit_log
    monkeypatch.setattr(
        loader,
        "_append_commit_log",
        lambda *a, **k: (_ for _ in ()).throw(_HardCrash()),
    )
    with pytest.raises(_HardCrash):
        loader.publish_versioned(spark, region.limit(3), target, keep_versions=3)
    monkeypatch.setattr(loader, "_append_commit_log", real_append)
    # reader: exactly the new version, even though log+sweep never ran
    assert loader.read_current(spark, target).count() == 3

    # age window (a)'s uncommitted debris past the sweep's 5-minute grace
    # (fresh unlogged dirs are protected — they may be a live concurrent
    # publisher's not-yet-committed version)
    committed = {h["name"] for h in loader.version_history(spark, target)}
    old = time.time() - 600
    for p in os.listdir(tmp_path):
        if ".v." in p and p not in committed:
            os.utime(str(tmp_path / p), (old, old))

    # next publish heals: the unlogged-but-committed version is backfilled
    # into the log, so history walks back commit by commit with no gap
    loader.publish_versioned(spark, region.limit(1), target, keep_versions=3)
    hist = loader.version_history(spark, target)
    assert [h["is_current"] for h in hist] == [True, False, False]
    assert loader.read_version(spark, target, 0).count() == 1
    assert loader.read_version(spark, target, 1).count() == 3
    assert loader.read_version(spark, target, 2).count() == 5
    # the sweep (now that one ran) removed window (a)'s uncommitted debris
    names = {h["name"] for h in hist}
    dirs = {p for p in os.listdir(tmp_path) if ".v." in p and ".tmp." not in p}
    assert dirs == names


def test_schema_evolution_safe_under_interleaved_invocations(spark):
    """The r3 driver hash-fail mechanism, pinned: invocation A returns a
    LAZY frame over its scratch dir; invocation B then runs the same query.
    Under the old fixed shared path, B's overwrite deleted files A's frame
    still referenced; with per-invocation unique paths both frames must
    evaluate complete and oracle-exact in either order."""
    from tests.oracle import compare
    from ufload_spark.plans.registry import load_all

    q = load_all()["source_schema_evolution"]
    df_a = q.fn(spark, SF_DIR)  # writes dir A, returns lazy reader over A
    df_b = q.fn(spark, SF_DIR)  # writes dir B — must not disturb A
    compare(df_a, q.oracle, SF_DIR)
    compare(df_b, q.oracle, SF_DIR)


def test_scratch_unique_sweeps_only_stale(tmp_path, monkeypatch):
    """_scratch_unique must sweep same-name debris older than max_age_s
    (including pre-r4 fixed-name dirs) while never touching fresh dirs —
    age is the only signal separating crash debris from live concurrent
    invocations."""
    import os
    import time as _time

    from ufload_spark.sources import loader

    base = tmp_path / "scratch"
    base.mkdir()
    monkeypatch.setattr(
        loader, "_scratch", lambda name: str(base / name) if name else str(base)
    )

    old_fixed = base / "roundtrip"           # pre-r4 fixed-path debris
    old_suffixed = base / "roundtrip.aa.bb"  # crashed unique-path run
    fresh = base / "roundtrip.cc.dd"         # live concurrent invocation
    unrelated = base / "other.ee.ff"         # different query's dir
    for d in (old_fixed, old_suffixed, fresh, unrelated):
        d.mkdir()
    stale = _time.time() - 7200
    os.utime(old_fixed, (stale, stale))
    os.utime(old_suffixed, (stale, stale))
    os.utime(unrelated, (stale, stale))

    p = loader._scratch_unique("roundtrip", max_age_s=3600)
    assert os.path.basename(p).startswith("roundtrip.")
    assert not old_fixed.exists() and not old_suffixed.exists()
    assert fresh.exists()      # young: maybe a live run — untouched
    assert unrelated.exists()  # other query's path — never touched


# --- Python Data Source API (pysource) -------------------------------------


def _log_reader(tmp_path, names=("a.log", "b.log", "src0.log")):
    from ufload_spark.sources.pysource import BackupLogReader

    for n in names:
        (tmp_path / n).write_text("0\ten\t10\n1\tfr\t20\n")
    (tmp_path / "ignored.txt").write_text("not a log\n")
    return BackupLogReader({"path": str(tmp_path)})


def test_pysource_partitions_one_per_file(tmp_path):
    r = _log_reader(tmp_path)
    parts = r.partitions()
    assert [os.path.basename(p.path) for p in parts] == [
        "a.log", "b.log", "src0.log",
    ]  # sorted, .txt excluded


def test_pysource_pushdown_prunes_partitions(tmp_path):
    from pyspark.sql.datasource import EqualTo, GreaterThan, In, StringStartsWith

    r = _log_reader(tmp_path)
    leftover = list(r.pushFilters([EqualTo(("fname",), "src0.log")]))
    assert leftover == []  # fully absorbed
    assert [os.path.basename(p.path) for p in r.partitions()] == ["src0.log"]

    r = _log_reader(tmp_path)
    assert list(r.pushFilters([In(("fname",), ("a.log", "b.log"))])) == []
    assert [os.path.basename(p.path) for p in r.partitions()] == ["a.log", "b.log"]

    r = _log_reader(tmp_path)
    assert list(r.pushFilters([StringStartsWith(("fname",), "src")])) == []
    assert [os.path.basename(p.path) for p in r.partitions()] == ["src0.log"]

    # unsupported predicates are handed back for Spark to evaluate,
    # supported ones in the same batch still prune
    r = _log_reader(tmp_path)
    unsupported = GreaterThan(("line_no",), 5)
    leftover = list(r.pushFilters([unsupported, EqualTo(("fname",), "a.log")]))
    assert leftover == [unsupported]
    assert [os.path.basename(p.path) for p in r.partitions()] == ["a.log"]


def test_pysource_read_emits_arrow_batches(tmp_path):
    import pyarrow as pa

    r = _log_reader(tmp_path, names=("a.log",))
    (part,) = r.partitions()
    batches = list(r.read(part))
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    tbl = pa.Table.from_batches(batches)
    assert tbl.column("line_no").to_pylist() == [0, 1]
    assert tbl.column("fname").to_pylist() == ["a.log", "a.log"]
    assert tbl.column("line").to_pylist() == ["0\ten\t10", "1\tfr\t20"]


def test_pysource_stream_offsets_track_arriving_files(tmp_path):
    from ufload_spark.sources.pysource import BackupLogStreamReader

    (tmp_path / "a.log").write_text("0\ten\t10\n")
    (tmp_path / "b.log").write_text("1\tfr\t20\n")
    r = BackupLogStreamReader({"path": str(tmp_path)})
    assert r.initialOffset() == {"files": 0}
    assert r.latestOffset() == {"files": 2}
    # a new file arrives → next micro-batch covers exactly the suffix
    (tmp_path / "c.log").write_text("2\tde\t30\n")
    assert r.latestOffset() == {"files": 3}
    parts = r.partitions({"files": 2}, {"files": 3})
    assert [os.path.basename(p.path) for p in parts] == ["c.log"]
    # replaying a checkpointed range is deterministic
    import pyarrow as pa

    again = r.partitions({"files": 0, }, {"files": 2})
    assert [os.path.basename(p.path) for p in again] == ["a.log", "b.log"]
    tbl = pa.Table.from_batches(list(r.read(again[0])))
    assert tbl.column("line").to_pylist() == ["0\ten\t10"]


def test_memo_publish_builds_once_per_process(spark, tmp_path):
    from ufload_spark.sources import loader

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return table(spark, SF_DIR, "region").limit(3)

    p1 = loader.memo_publish(spark, "memotest", SF_DIR, build)
    p2 = loader.memo_publish(spark, "memotest", SF_DIR, build)
    assert p1 == p2 and calls["n"] == 1
    assert spark.read.parquet(p1).count() == 3
    # a vanished publish (swept scratch) forces a rebuild at a NEW path
    import shutil

    shutil.rmtree(p1)
    p3 = loader.memo_publish(spark, "memotest", SF_DIR, build)
    assert p3 != p1 and calls["n"] == 2
    # different fixture dir => separate artifact
    loader._MEMO_PUBLISHED.pop(("memotest", __import__("os").path.abspath(SF_DIR)))


def test_pysource_stream_resumes_from_checkpoint(spark, tmp_path):
    """The offset-managed Python streaming source must RESUME from its
    checkpointed file-count offset, not the initial one: after a restart
    with new files in the backlog, only the delta is read — the
    incremental contract the reference's poll-the-backup-dir loop needs
    (and exactly-once into the sink: no old file is re-emitted)."""
    from ufload_spark.sources.pysource import register_source

    register_source(spark)
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "a.log").write_text("0\ten\t10\n")
    (logs / "b.log").write_text("1\tfr\t20\n")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        sdf = (
            spark.readStream.format("ufload_logs")
            .option("path", str(logs))
            .load()
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    first = {r.line for r in spark.read.parquet(out).collect()}
    assert first == {"0\ten\t10", "1\tfr\t20"}
    # two new files arrive; restart from the same checkpoint
    (logs / "c.log").write_text("2\tde\t30\n")
    (logs / "d.log").write_text("3\tzh\t40\n")
    drain()
    rows = [r.line for r in spark.read.parquet(out).collect()]
    assert sorted(rows) == sorted(
        ["0\ten\t10", "1\tfr\t20", "2\tde\t30", "3\tzh\t40"]
    ), "restart must append exactly the new files, once each"


# --- OP-SRC-3: chunked upload sink -----------------------------------------


def test_upload_chunks_progress_and_atomic_finish(tmp_path):
    """The multipart lifecycle (reference webdav.py:137-192): 3.5 chunks →
    start + 4 writes + finish; progress fires per chunk with running percent;
    the published object only appears after finish and is byte-identical."""
    from ufload_spark.sources.remote import LocalChunkSink, upload

    payload = bytes(range(256)) * 14  # 3584 bytes
    src = tmp_path / "dump.bin"
    src.write_bytes(payload)
    root = tmp_path / "remote"
    events: list[tuple[int, int | None, int | None]] = []

    class SpySink(LocalChunkSink):
        def finish(self, remote_path, upload_id, offset):
            # staging only, nothing published yet
            assert not (root / "inst" / "dump.bin").exists()
            super().finish(remote_path, upload_id, offset)

    sent = upload(
        str(src), "inst/dump.bin", SpySink(str(root)),
        buffer_size=1024, progress=lambda *e: events.append(e),
    )
    assert sent == len(payload)
    assert (root / "inst" / "dump.bin").read_bytes() == payload
    assert [e[0] for e in events] == [1024, 2048, 3072, 3584]
    assert [e[2] for e in events] == [29, 57, 86, 100]
    assert all(e[1] == len(payload) for e in events)
    # no staging leftovers after the atomic rename
    assert list((root / "inst").glob(".*.part")) == []


def test_upload_exact_multiple_still_finishes(tmp_path):
    """A payload that is an exact multiple of the buffer must still be
    finalized (the reference's read-then-break leaves that session
    unfinished — webdav.py:188-190; we fixed it on purpose)."""
    from ufload_spark.sources.remote import LocalChunkSink, upload

    payload = b"x" * 4096
    src = tmp_path / "even.bin"
    src.write_bytes(payload)
    root = tmp_path / "remote"
    sent = upload(str(src), "even.bin", LocalChunkSink(str(root)), buffer_size=1024)
    assert sent == 4096
    assert (root / "even.bin").read_bytes() == payload


def test_upload_retries_transient_chunk_failure(tmp_path):
    """A chunk that fails transiently is re-sent at the SAME offset and the
    sink's offset check makes the retry idempotent — the final object has no
    duplicated or missing bytes."""
    from ufload_spark.sources.remote import LocalChunkSink, upload

    payload = bytes(range(256)) * 8  # 2048 = 2 chunks
    src = tmp_path / "flaky.bin"
    src.write_bytes(payload)
    root = tmp_path / "remote"
    fails = {"n": 2}

    class FlakySink(LocalChunkSink):
        def write(self, remote_path, upload_id, offset, data):
            super().write(remote_path, upload_id, offset, data)
            if offset == 1024 and fails["n"]:
                fails["n"] -= 1
                raise OSError("transient POST failure")

    sent = upload(
        str(src), "flaky.bin", FlakySink(str(root)),
        buffer_size=1024, retry_sleep_s=0.0,
    )
    assert sent == 2048
    assert (root / "flaky.bin").read_bytes() == payload


def test_upload_gives_up_after_bounded_retries(tmp_path):
    """A permanently failing chunk exhausts max_retries and raises; nothing
    is published."""
    import pytest

    from ufload_spark.sources.remote import LocalChunkSink, upload

    src = tmp_path / "bad.bin"
    src.write_bytes(b"y" * 100)
    root = tmp_path / "remote"
    calls = {"n": 0}

    class DeadSink(LocalChunkSink):
        def write(self, remote_path, upload_id, offset, data):
            calls["n"] += 1
            raise OSError("hard down")

    with pytest.raises(OSError, match="after 3 attempts"):
        upload(
            str(src), "bad.bin", DeadSink(str(root)),
            buffer_size=64, max_retries=3, retry_sleep_s=0.0,
        )
    assert calls["n"] == 3
    assert not (root / "bad.bin").exists()


def test_upload_stream_without_size_reports_no_percent(tmp_path):
    """A non-seekable stream (no fstat size) still uploads; progress carries
    byte counts with percent=None — the reference's size=None branch
    (webdav.py:145-148)."""
    import io as _io

    from ufload_spark.sources.remote import LocalChunkSink, upload

    root = tmp_path / "remote"
    events = []
    sent = upload(
        _io.BytesIO(b"z" * 1500), "stream.bin", LocalChunkSink(str(root)),
        buffer_size=1024, progress=lambda *e: events.append(e),
    )
    assert sent == 1500
    assert (root / "stream.bin").read_bytes() == b"z" * 1500
    assert [e[0] for e in events] == [1024, 1500]
    assert all(e[1] is None and e[2] is None for e in events)


# --- probe-next-on-failure restore (reference cli/main.py:288-371) ---------


def test_restore_falls_through_to_next_candidate(spark, tmp_path):
    """Candidate #1's staged audit fails (empty restore) → candidate #2
    publishes; the attempt log records the fall-through and the published
    data is candidate #2's."""
    from ufload_spark.sources.loader import restore_first_viable

    target = str(tmp_path / "restored")
    cands = [{"name": "backup_newest.zip"}, {"name": "backup_older.zip"},
             {"name": "backup_oldest.zip"}]

    def build(s, cand):
        if cand["name"] == "backup_newest.zip":
            return s.range(0).selectExpr("id", "'bad' AS src")  # empty → AuditError
        return s.range(5).selectExpr("id", f"'{cand['name']}' AS src")

    out = restore_first_viable(spark, cands, target, build)
    assert out["published"] == "backup_older.zip"
    assert out["rows"] == 5
    assert [a["ok"] for a in out["attempts"]] == [False, True]
    got = spark.read.parquet(target)
    assert got.count() == 5
    assert got.select("src").distinct().collect()[0][0] == "backup_older.zip"


def test_restore_all_candidates_fail_leaves_target_untouched(spark, tmp_path):
    """Every candidate fails its audit → AuditError naming each attempt, and
    a pre-existing published target is byte-identical to before."""
    import pytest

    from ufload_spark.sources.loader import (
        AuditError,
        restore_first_viable,
        stage_and_publish,
    )

    target = str(tmp_path / "restored")
    stage_and_publish(spark, spark.range(3).selectExpr("id", "'orig' AS src"), target)

    def build(s, cand):
        return s.range(0).selectExpr("id", "'x' AS src")

    with pytest.raises(AuditError, match="no viable candidate"):
        restore_first_viable(
            spark, [{"name": "a.zip"}, {"name": "b.zip"}], target, build
        )
    got = spark.read.parquet(target)
    assert got.count() == 3
    assert got.select("src").distinct().collect()[0][0] == "orig"
    # no staging debris
    import os as _os

    leftovers = [p for p in _os.listdir(tmp_path) if ".staging." in p or ".old." in p]
    assert leftovers == []


def test_restore_expected_rows_gate_skips_short_candidate(spark, tmp_path):
    """The expected_rows audit (reference: restored DB must match the
    expected size) skips a candidate that stages the wrong row count."""
    from ufload_spark.sources.loader import restore_first_viable

    target = str(tmp_path / "restored")

    def build(s, cand):
        n = 3 if cand["name"] == "short.zip" else 7
        return s.range(n).selectExpr("id", f"'{cand['name']}' AS src")

    out = restore_first_viable(
        spark, [{"name": "short.zip"}, {"name": "full.zip"}], target, build,
        expected_rows=7,
    )
    assert out["published"] == "full.zip"
    assert spark.read.parquet(target).count() == 7


def test_compact_published_reduces_files_preserves_rows(spark, tmp_path):
    """The compaction EXECUTOR: publish orders fragmented into 16 files,
    compact, and require (a) fewer files, (b) identical row content,
    (c) the fragmented version retained for time travel, (d) a no-op
    second pass stays correct."""
    from ufload_spark.sources.loader import (
        compact_published,
        publish_versioned,
        read_current,
        read_version,
        version_history,
    )

    orders = table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    target = str(tmp_path / "o")
    publish_versioned(spark, orders.repartition(16), target)

    stats = compact_published(spark, target, target_bytes=1 << 30)
    assert stats["files_before"] == 16
    assert stats["files_after"] == 1  # everything fits one 1 GiB bin
    assert stats["rows"] == orders.count()
    # content identical, not just counted: anti-join both ways is empty
    cur = read_current(spark, target)
    assert cur.exceptAll(orders).count() == 0
    assert orders.exceptAll(cur).count() == 0
    # the fragmented version is still one hop back
    hist = version_history(spark, target)
    assert len(hist) == 2 and hist[0]["is_current"]
    assert read_version(spark, target, 1).count() == stats["rows"]
    # compacting the compacted table is a clean no-op rewrite
    again = compact_published(spark, target, target_bytes=1 << 30)
    assert again["files_before"] == 1 and again["files_after"] == 1
    assert again["rows"] == stats["rows"]


def test_concurrent_pointer_publish_single_writer(spark, tmp_path):
    """r9 (r8 verdict ask #5): the pointer publish's single-writer
    contract is enforced by a lease, not assumed — a second concurrent
    publisher fails cleanly with ConcurrentPublishError BEFORE writing a
    version, instead of silently last-winning the pointer swap. The
    reference analog is connection fencing before DDL (reference
    ufload/db.py:573-597)."""
    import threading

    from ufload_spark.sources import loader
    from ufload_spark.sources.loader import ConcurrentPublishError

    target = str(tmp_path / "t")
    df = table(spark, SF_DIR, "region")
    n1 = loader.publish_versioned(spark, df, target)
    assert loader.read_current(spark, target).count() == n1

    # writer A mid-publish: its lease is live, so writer B must refuse
    fs, _, jvm = loader._fs(spark, target)
    token = loader._acquire_lease(fs, jvm, target, ttl_s=3600)
    versions_before = {p for p in os.listdir(tmp_path) if ".v." in p}
    with pytest.raises(ConcurrentPublishError):
        loader.publish_versioned(spark, df.limit(2), target)
    # the loser wrote NOTHING: no new version dir, pointer untouched
    assert {p for p in os.listdir(tmp_path) if ".v." in p} == versions_before
    assert loader.read_current(spark, target).count() == n1
    loader._release_lease(fs, jvm, target, token)

    # after release the next writer proceeds normally
    assert loader.publish_versioned(spark, df.limit(2), target) == 2

    # a real two-thread race: at least one publish commits; any loser
    # fails with ConcurrentPublishError (never a silent interleave); the
    # pointer resolves to a COMPLETE committed version either way
    barrier = threading.Barrier(2)
    results: dict = {}

    def racer(tag: str, n: int) -> None:
        barrier.wait()
        try:
            results[tag] = ("ok", loader.publish_versioned(spark, df.limit(n), target))
        except ConcurrentPublishError as ex:
            results[tag] = ("fenced", str(ex))
        except Exception as ex:  # pragma: no cover - would fail the assert
            results[tag] = ("error", repr(ex))

    t1 = threading.Thread(target=racer, args=("a", 3))
    t2 = threading.Thread(target=racer, args=("b", 4))
    t1.start(); t2.start(); t1.join(); t2.join()
    outcomes = {tag: r[0] for tag, r in results.items()}
    assert "error" not in outcomes.values(), results
    assert list(outcomes.values()).count("ok") >= 1, results
    winners = {r[1] for r in results.values() if r[0] == "ok"}
    assert loader.read_current(spark, target).count() in winners
    # no lease debris: the winner released, the loser never held
    assert not os.path.exists(loader._lease_path(target))


def test_stale_lease_broken_and_zombie_fenced(spark, tmp_path):
    """A crashed holder's lease is broken after the TTL; the zombie
    holder is then FENCED — its pre-swap token check fails instead of
    clobbering the breaker's commit."""
    from ufload_spark.sources import loader
    from ufload_spark.sources.loader import ConcurrentPublishError

    target = str(tmp_path / "t")
    df = table(spark, SF_DIR, "region")
    fs, _, jvm = loader._fs(spark, target)

    # writer A acquires, then "crashes" (never releases)
    zombie_token = loader._acquire_lease(fs, jvm, target, ttl_s=3600)
    # writer B: with the lease inside its TTL it must refuse ...
    with pytest.raises(ConcurrentPublishError):
        loader.publish_versioned(spark, df, target)
    # ... and with ttl=0 (lease deemed stale) it breaks the lease and wins
    assert loader.publish_versioned(spark, df, target, lease_ttl_s=0.0) == 5
    # the zombie comes back: its token is gone, the fence stops it
    with pytest.raises(ConcurrentPublishError):
        loader._check_lease(fs, jvm, target, zombie_token)


def test_lease_release_never_deletes_competitor_lease(spark, tmp_path):
    """r10 (r9 ADVICE): release is token-checked ATOMICALLY via rename
    capture. After a breaker fences a zombie and holds its own live
    lease, the zombie's release must leave the breaker's lease intact
    (the old exists/read/delete form could delete it between the read
    and the delete). And the capture primitive is single-winner: a
    second capture of the same lease returns None."""
    from ufload_spark.sources import loader

    target = str(tmp_path / "t")
    fs, _, jvm = loader._fs(spark, target)

    # zombie A acquires; breaker B breaks (ttl=0) and holds its own lease
    token_a = loader._acquire_lease(fs, jvm, target, ttl_s=3600)
    token_b = loader._acquire_lease(fs, jvm, target, ttl_s=0.0)
    assert token_a != token_b
    # A's release must not destroy B's live lease
    loader._release_lease(fs, jvm, target, token_a)
    jlease = jvm.org.apache.hadoop.fs.Path(loader._lease_path(target))
    assert fs.exists(jlease)
    assert loader._read_small(fs, jvm, jlease) == token_b
    # B's own release cleans up
    loader._release_lease(fs, jvm, target, token_b)
    assert not fs.exists(jlease)

    # capture is single-winner
    token_c = loader._acquire_lease(fs, jvm, target, ttl_s=3600)
    cap1 = loader._capture_lease(fs, jvm, target, "xxxxxxxx")
    cap2 = loader._capture_lease(fs, jvm, target, "yyyyyyyy")
    assert cap1 is not None and cap2 is None
    assert loader._read_small(fs, jvm, cap1) == token_c
    fs.delete(cap1, False)


def test_lease_breaker_gives_back_fresh_lease(spark, tmp_path, monkeypatch):
    """r11 (r10 ADVICE): the stale-break still had a stat→capture TOCTOU —
    between the age check and the capture, the measured holder can
    release and a LIVE writer can create a fresh lease, which the old
    code then captured and deleted (fencing a live, non-stale holder).
    Now the breaker compares the captured file's token against the one
    it measured and renames a mismatched (fresh) lease BACK. Simulated by
    making the age-check read return a phantom stale token while the real
    file carries a live competitor's."""
    import pytest

    from ufload_spark.sources import loader

    target = str(tmp_path / "t")
    fs, _, jvm = loader._fs(spark, target)
    live = "live-competitor-token"
    jlease = jvm.org.apache.hadoop.fs.Path(loader._lease_path(target))
    out = fs.create(jlease, False)
    out.write(bytearray(live.encode("utf-8")))
    out.close()

    real = loader._read_small
    calls = {"n": 0}

    def fake(fs_, jvm_, jpath):
        calls["n"] += 1
        if calls["n"] == 1:  # the age-check read: the phantom stale holder
            return "phantom-stale-token"
        return real(fs_, jvm_, jpath)

    monkeypatch.setattr(loader, "_read_small", fake)
    # ttl 0 makes the age check pass, so the breaker enters the capture
    # path believing it measured a stale holder
    with pytest.raises(loader.ConcurrentPublishError):
        loader._acquire_lease(fs, jvm, target, ttl_s=0.0)
    # the live lease survived the spurious break attempt, token intact
    assert fs.exists(jlease)
    assert real(fs, jvm, jlease) == live
    fs.delete(jlease, False)


def test_stale_capture_orphans_are_swept(spark, tmp_path):
    """r11 (r10 ADVICE): a breaker that crashes between capture and
    delete leaks a ``.lease.cap.*`` orphan the TTL sweep never touched;
    the next acquisition now sweeps age-expired captures (and leaves
    fresh ones, which may belong to a live breaker mid-break)."""
    from ufload_spark.sources import loader

    target = str(tmp_path / "t")
    fs, _, jvm = loader._fs(spark, target)
    orphan = jvm.org.apache.hadoop.fs.Path(
        loader._lease_path(target) + ".cap.deadbeef.cafe0123"
    )
    out = fs.create(orphan, False)
    out.write(bytearray(b"crashed-breaker"))
    out.close()
    # fresh: kept
    loader._sweep_stale_captures(fs, jvm, target)
    assert fs.exists(orphan)
    # age-expired: swept (min_age_s=0 stands in for an hour-old orphan)
    loader._sweep_stale_captures(fs, jvm, target, min_age_s=0.0)
    assert not fs.exists(orphan)
    # and a normal acquisition runs the sweep without disturbing itself
    token = loader._acquire_lease(fs, jvm, target, ttl_s=3600)
    loader._release_lease(fs, jvm, target, token)
