#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload, one warm pass at sf0.001,
untraced and traced. Fails unless every metric BENCHMARK.json names is
emitted with its unit and no operation failed or returned a wrong result.

    python3 perfbench/smoke.py          # from the repository root, ~4 min
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: bench["end_to_end"], 1: bench["per_layer"]}
    bad = []
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [
                *bench["command"], "--workload", w["name"], "--seed", "0",
                "--seconds", "0", "--trace", str(trace), "--smoke",
            ]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{w['name']} trace={trace}"
            if p.returncode != 0:
                bad.append(f"{tag}: exit {p.returncode}: {p.stderr[-500:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if res["failed"] or not res["correct"]:
                bad.append(f"{tag}: {res['failed']} failed operations")
            got = res["metrics"]
            for m in want[trace]:
                if m["name"] not in got:
                    bad.append(f"{tag}: {m['name']} missing")
                elif got[m["name"]]["unit"] != m["unit"]:
                    bad.append(f"{tag}: {m['name']} unit {got[m['name']]['unit']}")
            if not trace and got["ok_op_ratio"]["value"] != 1.0:
                bad.append(f"{tag}: ok_op_ratio {got['ok_op_ratio']['value']}")
            print(f"{tag}: ok" if not bad else f"{tag}: {bad}", flush=True)
    for line in bad:
        print(line, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
