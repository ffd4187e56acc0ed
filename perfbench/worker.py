"""One benchmark process: set up, run passes, check outputs, report.

``run.py`` starts this in a fresh process per run and reads the JSON it
writes to ``--out``. Phases:

1. set-up, timed: ``get_spark`` then ``load_all`` — what any user of the
   engine pays before the first operation;
2. fixture preparation, untimed: the restore candidate archives of every
   possible include set (built by a ``--prepare`` process before the
   first run in a checkout, found built by every run);
3. the cold pass: every operation once, in the fresh process;
4. ``--passes`` warm passes (with ``--trace 1``, that many traced ones
   and an untraced one between each two, to measure the tracing overhead);
5. the output check of each operation's last result, untimed.

Nothing between operations clears caches or collects garbage: persisted
frames and scratch debris accumulate the way they do for a user.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402


def setup(driver_memory: str):
    from ufload_spark.session import get_spark

    spark = get_spark(app_name="perfbench", driver_memory=driver_memory)
    t1 = time.perf_counter()
    from ufload_spark.plans.registry import load_all

    registry = load_all()
    t2 = time.perf_counter()
    return spark, registry, {"start_s": t1 - T0, "load_s": t2 - t1}


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus ru_maxrss of this Python process."""
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def scratch_stats(root: str) -> tuple[int, float]:
    base = os.path.join(root, ".scratch")
    if not os.path.isdir(base):
        return 0, 0.0
    total = 0
    for d, _dirs, files in os.walk(base):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return len(os.listdir(base)), total / (1024.0 * 1024.0)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, args, spark, registry):
        from spans import SparkWork, Tracer
        from workloads import WORKLOADS, ops_for

        self.args = args
        self.spark = spark
        self.registry = registry
        self.w = WORKLOADS[args.workload]
        self.ops = ops_for(self.w, args.seed, args.data, args.target, args.config)
        self.tracer = Tracer()
        self.work = SparkWork(spark) if args.trace else None
        self.results: dict = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.check_s: dict = {}

    def call(self, op):
        from ufload_spark import cli

        t0 = time.perf_counter()
        if op.verb:
            df = cli.main(list(op.argv), self.spark)
        else:
            df = self.registry[op.name].fn(self.spark, self.args.data)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return df, t1 - t0, time.perf_counter() - t1

    def one_pass(self, pass_no: int, traced: bool) -> dict:
        from spans import uncovered_s
        from workloads import pass_order

        rec = {"pass": pass_no, "traced": traced, "ops": {}}
        if traced:
            self.tracer.run = pass_no
            self.tracer.install()
        start = time.perf_counter()
        for op in pass_order(self.ops, self.args.seed, pass_no):
            self.attempted += 1
            o = rec["ops"][op.name] = {}
            if traced:
                mark = self.work.mark()
                e0 = time.time()
                self.tracer.op = self.tracer.open(f"op.{op.name}")
            err = None
            try:
                df, o["plan_s"], o["exec_s"] = self.call(op)
                self.results[op.name] = df
            except Exception as e:  # the run goes on; the op counts as failed
                err = e
                traceback.print_exc()
                self.failures.append(f"{op.name}: {type(e).__name__}: {e}"[:300])
            if traced:
                e1 = time.time()  # before the trace's own bookkeeping
                self.tracer.close(self.tracer.op, err)
                self.tracer.op = None
                wk = self.work.since(mark)
                o["work"] = wk
                o["gap_s"] = uncovered_s(e0 * 1e3, e1 * 1e3, wk.job_ms)
        rec["wall_s"] = time.perf_counter() - start
        if traced:
            self.tracer.uninstall()
            rec["persisted_rdds"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            rec["scratch"] = scratch_stats(self.args.root)
        return rec

    def check(self) -> None:
        import check

        for op in self.ops:
            df = self.results.get(op.name)
            if df is None:
                continue  # every call raised; already counted
            t = time.perf_counter()
            try:
                if op.verb == "restore":
                    from workloads import include_set

                    bad = check.restore_report(df, include_set(self.args.seed), self.args.data)
                else:
                    twin = check.VERB_TWINS.get(op.verb, op.name)
                    bad = check.against_oracle(df, self.registry[twin].oracle, self.args.data)
            except Exception as e:
                bad = f"{type(e).__name__}: {e}"
            self.check_s[op.name] = time.perf_counter() - t
            if bad:
                self.failures.append(f"{op.name}: output check: {bad}"[:300])


def layer_metrics(rec: dict, spans: list) -> dict:
    """Per-layer values of one traced pass."""
    from spans import GATE_BATCHES, PUBLISHERS

    ops = {k: v for k, v in rec["ops"].items() if "plan_s" in v}
    mine = [s for s in spans if s.run == rec["pass"]]
    works = [o["work"] for o in rec["ops"].values() if "work" in o]

    def tot(attr):
        return sum(getattr(w, attr) for w in works)

    def self_s(names):
        return sum(s.self_time() for s in mine if s.name in names)

    pubs = [s for s in mine if s.name in PUBLISHERS]
    failed = [s for s in pubs if s.error and "AuditError" in s.error.split(",")]
    published = sum(s.published_bytes for s in pubs if not s.error)
    memo = [s for s in mine if s.name == "loader.memo_publish"]
    builds = [s for s in memo if any(c.name in PUBLISHERS for c in s.children)]
    batches = [s for s in mine if s.name in GATE_BATCHES]
    machinery = 0.0
    for s in mine:
        if s.name.startswith("op.streaming_") and s.name.endswith("_gate"):
            inner = [c for c in s.children if c.name in GATE_BATCHES or c.name == "loader.memo_publish"]
            machinery += s.dur - sum(c.dur for c in inner)
    plan = sum(o["plan_s"] for o in ops.values())
    exe = sum(o["exec_s"] for o in ops.values())
    stages = tot("stages")
    out = {
        "operators.plan_s": plan,
        "operators.exec_s": exe,
        "operators.plan_share": plan / (plan + exe) if plan + exe else 0.0,
        "operators.jobs": tot("jobs"),
        "operators.stages": stages,
        "operators.tasks": tot("tasks"),
        "operators.tasks_per_stage": tot("tasks") / stages if stages else 0.0,
        "operators.driver_gap_s": sum(o.get("gap_s", 0.0) for o in rec["ops"].values()),
        "operators.executor_run_s": tot("run_s"),
        "operators.executor_cpu_s": tot("cpu_s"),
        "operators.gc_s": tot("gc_s"),
        "operators.shuffle_read_mb": tot("shuffle_read_mb"),
        "operators.shuffle_write_mb": tot("shuffle_write_mb"),
        "operators.spill_mb": tot("spill_mb"),
        "sources.input_mb": tot("input_mb"),
        "operators.persisted_rdds": rec["persisted_rdds"],
        "sources.loader.publish_calls": len(pubs),
        "sources.loader.publish_s": self_s(PUBLISHERS),
        "sources.loader.audit_failures": len(failed),
        "sources.loader.publish_yield": (len(pubs) - len([s for s in pubs if s.error])) / len(pubs) if pubs else 0.0,
        "sources.loader.bytes_written_per_published_byte": tot("output_bytes") / published if published else 0.0,
        "sources.zipsource.extract_s": self_s(("zipsource.zip_extract",)),
        "operators.delive.audit_facts_s": self_s(("restore_e2e.delive_audit_facts",)),
        "sources.loader.memo_calls": len(memo),
        "sources.loader.memo_builds": len(builds),
        "sources.loader.memo_build_s": sum(s.dur for s in builds),
        "sources.loader.scratch_entries": rec["scratch"][0],
        "sources.loader.scratch_mb": rec["scratch"][1],
        "streaming.batches": len(batches),
        "streaming.batch_s": self_s(GATE_BATCHES),
        "streaming.machinery_s": machinery,
    }
    for verb in ("restore", "ls", "clean", "archive", "upgrade"):
        o = ops.get(f"cli.{verb}")
        out[f"cli.{verb}_s"] = o["plan_s"] + o["exec_s"] if o else 0.0
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prepare", action="store_true", help="build the fixtures, then exit")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--passes", type=int, default=1, help="warm passes")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", help="fixture dir")
    ap.add_argument("--root", help="repository root")
    ap.add_argument("--target", help="restore -target dir")
    ap.add_argument("--config", help="ufload-spark -config file")
    ap.add_argument("--driver-memory", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    spark, registry, setup_rec = setup(args.driver_memory)
    out = {"setup": setup_rec}
    spark.sparkContext.setLogLevel("ERROR")
    from workloads import INCLUDE_POOL, WORKLOADS

    out["zips"] = []
    if "restore" in WORKLOADS[args.workload].verbs:
        # the candidate archives stand in for the cloud backups, which exist
        # before any restore call; they are fixtures, built once
        from ufload_spark.operators.restore_e2e import ensure_candidate_zips

        out["zips"] = [
            os.path.basename(ensure_candidate_zips(spark, args.data, [inst]))
            for inst in INCLUDE_POOL
        ]
    out["prep_s"] = time.perf_counter() - T0 - sum(setup_rec.values())
    if args.prepare:
        with open(args.out, "w") as f:
            json.dump(out, f)
        return 0
    import pyspark

    r = Runner(args, spark, registry)
    cold = r.one_pass(0, traced=bool(args.trace))
    # traced runs make --passes traced passes with an untraced one between
    # each two (traced, untraced, ..., traced), so a linear warm-up trend
    # across passes cancels out of the overhead
    n_passes = max(2 * args.passes - 1, 2) if args.trace else args.passes
    passes = [
        r.one_pass(n, traced=bool(args.trace) and n % 2 == 1)
        for n in range(1, n_passes + 1)
    ]
    out["peak_rss_mb"] = peak_rss_mb(spark)
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    out.update(
        cold_wall_s=cold["wall_s"],
        warm_walls=untraced,
        traced_walls=[p["wall_s"] for p in traced],
        op_s=[
            {k: v.get("plan_s", 0.0) + v.get("exec_s", 0.0) for k, v in p["ops"].items()}
            for p in [cold, *passes]
        ],
    )
    if args.trace:
        per_pass = [layer_metrics(p, r.tracer.spans) for p in [cold, *traced]]
        warm = per_pass[1:]
        layers = {k: median([m[k] for m in warm]) for k in warm[0]}
        # memo builds happen in the cold pass: report them over the whole run
        calls = sum(m["sources.loader.memo_calls"] for m in per_pass)
        builds = sum(m["sources.loader.memo_builds"] for m in per_pass)
        layers["sources.loader.memo_hit_ratio"] = (calls - builds) / calls if calls else 0.0
        layers["sources.loader.memo_build_s"] = sum(m["sources.loader.memo_build_s"] for m in per_pass)
        layers["operators.cold_plan_s"] = per_pass[0]["operators.plan_s"]
        layers["trace.overhead_s"] = median(out["traced_walls"]) - median(untraced)
        layers["trace.passes"] = len(traced)
        out["layers"] = layers
    t_check = time.perf_counter()
    r.check()
    out["check_s"] = time.perf_counter() - t_check
    out["check_s_per_op"] = r.check_s
    out.update(
        attempted=r.attempted,
        failures=r.failures,
        env={
            "master": spark.sparkContext.master,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "pyspark": pyspark.__version__,
            "java": spark._jvm.System.getProperty("java.version"),
        },
    )
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0  # run.py ends the JVM with the rest of the process group


if __name__ == "__main__":
    sys.exit(main())
