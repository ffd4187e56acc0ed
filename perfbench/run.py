#!/usr/bin/env python3
"""Benchmark of the ufload_spark engine through its public entry points.

    python3 perfbench/run.py --workload restore --seed 1 --seconds 15 --trace 0

Run it from the repository root. One run:

1. writes the fixture tables for the workload's scale (once per checkout,
   into ``perfbench/_work/data``) and removes the engine's scratch debris
   (``.scratch``) left by earlier runs, all but the restore candidate
   archives, so every run starts from the same state;
2. builds the restore candidate archives for the workload's scale in a
   process of its own, if they are missing (once per checkout);
3. runs ``worker.py`` in a fresh process: its set-up, a cold pass, the
   warm passes, and the output check; the number of warm passes is fixed
   per workload and ``--seconds`` (see ``Workload.passes``);
4. prints a detail line (environment, per-operation times, failures) and,
   as the last line, the result: with ``--trace 0`` the end-to-end metrics,
   with ``--trace 1`` the per-layer metrics of a traced run.

``--smoke`` runs one warm pass on sf0.001 tables. Workloads, metrics and
the seed's meaning are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path.insert(0, HERE)

#: prctl option that makes orphaned descendants this process's children
PR_SET_CHILD_SUBREAPER = 36
#: hard limit on one worker process
WORKER_TIMEOUT_S = 150
#: The engine's default driver memory is 8g. With 8g the peak RSS is set by
#: how far G1 happens to grow the heap (2.2-3.5 GB for the same work), too
#: wide for peak_rss_mb to bound a regression. So the heap is fixed and
#: touched at start (initial size = maximum, pre-touched): the peak is the
#: heap plus the JVM's native memory plus the Python process, and only the
#: last two vary.
DRIVER_MEMORY = "2g"
#: seed of the fixture tables: one table set per scale for every --seed
FIXTURE_SEED = 0
#: names of the ``.scratch`` entries that are fixtures (restore candidate
#: archives) and survive from run to run, by fixture table dir
FIXTURE_SCRATCH = os.path.join(WORK, "scratch_fixtures.json")


def declared_units(section: str) -> dict:
    """Name → unit of the metrics BENCHMARK.json declares in ``section``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _session(sid: int) -> list[int]:
    """The processes of session ``sid``, zombies included. The worker
    starts the session; the JVM, and the Python worker daemon that moves
    into a process group of its own, stay in it."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                # fields after the parenthesised command name: state ppid pgrp session
                session = f.read().rsplit(")", 1)[1].split()[3]
        except OSError:
            continue
        if int(session) == sid:
            pids.append(int(pid))
    return pids


def _reap() -> None:
    """Collect every ended child, the orphans this process adopts included."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _end_session(sid: int) -> None:
    """Kill every process of session ``sid`` and wait until all have ended
    and been reaped."""
    deadline = time.time() + 30
    while True:
        _reap()
        pids = _session(sid)
        if not pids:
            return
        if time.time() > deadline:
            raise RuntimeError(f"processes {pids} of the worker outlived SIGKILL")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def run_worker(args: list[str], env: dict, log: str, out: str) -> dict:
    """Run worker.py in a session of its own; kill whatever of the session
    (JVM, Python workers) outlives it and wait until all of it is gone."""
    if os.path.exists(out):
        os.remove(out)
    with open(log, "a") as lf:
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), "--out", out, *args],
            cwd=os.path.join(WORK, "cwd"),
            env=env,
            stdout=lf,
            stderr=lf,
            start_new_session=True,
        )
        try:
            code = p.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _end_session(p.pid)
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"worker {args[:2]} exited with {code}; see {log}")
    with open(out) as f:
        return json.load(f)


def scratch_fixtures() -> dict:
    if not os.path.exists(FIXTURE_SCRATCH):
        return {}
    with open(FIXTURE_SCRATCH) as f:
        return json.load(f)


def record_scratch_fixtures(data: str, names: list[str]) -> None:
    fixtures = scratch_fixtures()
    if names and fixtures.get(os.path.basename(data)) != sorted(names):
        fixtures[os.path.basename(data)] = sorted(names)
        with open(FIXTURE_SCRATCH, "w") as f:
            json.dump(fixtures, f)


def clean_scratch() -> None:
    """Remove every ``.scratch`` entry but the recorded fixtures."""
    keep = {name for names in scratch_fixtures().values() for name in names}
    base = os.path.join(ROOT, ".scratch")
    for name in os.listdir(base) if os.path.isdir(base) else ():
        path = os.path.join(base, name)
        if name in keep:
            continue
        if os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.remove(path)


def git_commit() -> str:
    """HEAD of the checkout's own repository; ``unknown`` when the checkout
    is not one (git is not let look above it)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10,
            env=dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT)),
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _terminate(signum, _frame):
    # a SIGTERM ends the run through the ``finally`` that stops the worker
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    # the worker's JVM outlives the worker by a moment; as a subreaper this
    # process adopts it (and its Python workers) instead of init, so it can
    # reap them before it exits
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001, one warm pass")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "ufload_spark", "__init__.py")):
        print(f"no ufload_spark package under {ROOT}", file=sys.stderr)
        return 2
    import datagen
    from workloads import SMOKE_SF, WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    w = WORKLOADS[a.workload]
    sf = SMOKE_SF if a.smoke else w.sf
    passes = 1 if a.smoke else w.passes(a.seconds)

    t = time.perf_counter()
    data = datagen.generate(os.path.join(WORK, "data", f"sf{sf}"), sf, FIXTURE_SEED)
    fixture_s = time.perf_counter() - t
    clean_scratch()
    for d in (os.path.join(WORK, "tmp"), os.path.join(WORK, "cwd")):
        shutil.rmtree(d, ignore_errors=True)
    for d in ("tmp", "cwd", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(WORK, "tmp")
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=cpus,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch'"
            " pyspark-shell"
        ),
    )
    log = os.path.join(WORK, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    if os.path.exists(log):
        os.remove(log)
    out = os.path.join(WORK, "worker.json")

    wargs = [
        "--workload", a.workload, "--seed", str(a.seed), "--passes", str(passes),
        "--trace", str(a.trace), "--data", data, "--root", ROOT,
        "--target", os.path.join(WORK, "tmp", "restore-target"),
        "--config", os.path.join(WORK, "cwd", "ufload.ini"),
        "--driver-memory", DRIVER_MEMORY,
    ]
    t = time.perf_counter()
    if "restore" in w.verbs and os.path.basename(data) not in scratch_fixtures():
        # the candidate archives are built by Spark jobs; a process of its
        # own builds them, so that no run's cold pass finds the JVM warm
        record_scratch_fixtures(data, run_worker(["--prepare", *wargs], env, log, out)["zips"])
    prepare_s = time.perf_counter() - t
    t = time.perf_counter()
    res = run_worker(wargs, env, log, out)
    worker_s = time.perf_counter() - t
    record_scratch_fixtures(data, res["zips"])
    setup = res["setup"]
    failed = len(res["failures"])
    values = {
        "setup_s": setup["start_s"] + setup["load_s"],
        "cold_wall_s": res["cold_wall_s"],
        "wall_s": statistics.median(res["warm_walls"]),
        "peak_rss_mb": res["peak_rss_mb"],
        "ok_op_ratio": 1.0 - failed / res["attempted"],
    }
    units = declared_units("per_layer" if a.trace else "end_to_end")
    if a.trace:
        values = dict(res["layers"])
        values["session.start_s"] = setup["start_s"]
        values["registry.load_s"] = setup["load_s"]
    detail = {
        "workload": a.workload,
        "sf": sf,
        "seed": a.seed,
        "trace": a.trace,
        "env": {
            **res["env"],
            "nproc": int(cpus),
            "SPARK_GRAFT_CPUS": cpus,
            "commit": git_commit(),
        },
        "phases_s": {
            "fixtures": fixture_s,
            "candidate_archives": prepare_s,
            "worker": worker_s,
            "worker_prep": res["prep_s"],
            "worker_check": res["check_s"],
        },
        "setup": setup,
        "warm_passes": len(res["warm_walls"]),
        "warm_walls": res["warm_walls"],
        "traced_walls": res["traced_walls"],
        "op_s_per_pass": res["op_s"],
        "check_s_per_op": res["check_s_per_op"],
        "failures": res["failures"],
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
