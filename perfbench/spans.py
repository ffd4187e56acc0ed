"""Spans around calls into the engine's layers, plus Spark's own counters.

:class:`Tracer` wraps public functions of the engine's modules. A wrapped
function is replaced under every module name it is bound to (a module that
did ``from ... import stage_and_publish`` holds its own reference), and
:meth:`Tracer.uninstall` puts the originals back. Spans stay in memory; each
records name, start, end, parent, run id and the error class if the call
raised. A span opened on a thread with no open span (the restore verb's own
worker pool) takes the current operation as its parent.

:class:`SparkWork` reads the driver's status store: every job submitted
between two marks, with its stages' task counts and executor metrics. The
loop is closed (one operation in flight), so a job-id range attributes jobs
to operations exactly, including jobs started from the engine's own threads,
which a thread-local job group would miss.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from dataclasses import dataclass, field

#: (module, function) pairs the traced run wraps; the span name is
#: ``<module tail>.<function>``
TARGETS = (
    ("ufload_spark.sources.loader", "stage_and_publish"),
    ("ufload_spark.sources.loader", "publish_versioned"),
    ("ufload_spark.sources.loader", "memo_publish"),
    ("ufload_spark.sources.zipsource", "zip_extract"),
    ("ufload_spark.operators.restore_e2e", "delive_audit_facts"),
    ("ufload_spark.streaming.jobs", "ingest_gate_batch"),
    ("ufload_spark.streaming.jobs", "neardup_gate_batch"),
)

PUBLISHERS = ("loader.stage_and_publish", "loader.publish_versioned")
GATE_BATCHES = ("jobs.ingest_gate_batch", "jobs.neardup_gate_batch")


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    run: int
    end: float = 0.0
    error: str | None = None
    published_bytes: int = 0
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        """Duration minus the part of it covered by any child span."""
        cover, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(
            (max(c.start, self.start), min(c.end, self.end)) for c in self.children
        ):
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    cover += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            cover += cur_e - cur_s
        return self.dur - cover


def dir_bytes(path: str) -> int:
    """Data bytes under ``path``: files not hidden by a ``.``/``_`` prefix."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


def _published_path(name: str, target: str) -> str:
    if name == "loader.publish_versioned":
        with open(f"{target}.current") as f:
            return os.path.join(os.path.dirname(target), f.read().strip())
    return target


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.run = 0
        self.op: Span | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self.op
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(),
                      parent.id if parent else None, self.run)
            self.spans.append(sp)
            if parent is not None:
                parent.children.append(sp)
        stack.append(sp)
        return sp

    def close(self, sp: Span, error: BaseException | None = None) -> None:
        sp.end = time.perf_counter()
        if error is not None:
            sp.error = ",".join(c.__name__ for c in type(error).__mro__)
        self._stack().pop()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sp = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
            except BaseException as e:
                tracer.close(sp, e)
                raise
            if name in PUBLISHERS:
                target = kwargs.get("target", args[2] if len(args) > 2 else None)
                sp.published_bytes = dir_bytes(_published_path(name, target))
            tracer.close(sp)
            return out

        return wrapper

    def install(self) -> None:
        """Wrap every target under every ``ufload_spark`` module binding it."""
        for mod_name, attr in TARGETS:
            orig = getattr(sys.modules[mod_name], attr)
            wrapped = self._wrap(orig, f"{mod_name.rsplit('.', 1)[1]}.{attr}")
            for name, mod in list(sys.modules.items()):
                if not name.startswith("ufload_spark") or mod is None:
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapped)
                        self._patched.append((mod, key, orig))

    def uninstall(self) -> None:
        for mod, key, orig in self._patched:
            setattr(mod, key, orig)
        self._patched.clear()


@dataclass
class Work:
    """Spark work attributed to one operation."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    output_bytes: int = 0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    job_ms: list = field(default_factory=list)  # (submitted, completed) epoch ms


_MB = 1024.0 * 1024.0


class SparkWork:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()

    def mark(self) -> int:
        """Id of the newest job the status store knows about, or -1."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def since(self, mark: int) -> Work:
        """Every job newer than ``mark``, with its non-skipped stages."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        w = Work()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= mark:
                break
            w.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                w.job_ms.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            for j in range(ids.size()):
                st = self._store.lastStageAttempt(ids.apply(j))
                if st.status().toString() == "SKIPPED":
                    continue
                w.stages += 1
                w.tasks += st.numTasks()
                w.run_s += st.executorRunTime() / 1e3
                w.cpu_s += st.executorCpuTime() / 1e9
                w.gc_s += st.jvmGcTime() / 1e3
                w.input_mb += st.inputBytes() / _MB
                w.output_bytes += st.outputBytes()
                w.shuffle_read_mb += st.shuffleReadBytes() / _MB
                w.shuffle_write_mb += st.shuffleWriteBytes() / _MB
                w.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
        return w


def uncovered_s(start_ms: float, end_ms: float, intervals: list) -> float:
    """Seconds of [start, end] during which no job was running."""
    covered, cur_e = 0.0, start_ms
    for s, e in sorted(intervals):
        s, e = max(s, cur_e), min(e, end_ms)
        if e > s:
            covered += e - s
            cur_e = e
    return max(0.0, (end_ms - start_ms) - covered) / 1e3
