#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny scale.

    python3 perfbench/selftest.py

Runs every workload for one short pass, untraced and traced, and checks
that each run is correct and prints every metric ``BENCHMARK.json`` names.
Then corrupts one output row (altered, then dropped) and checks that the
correctness check reports it. Exits 1 on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.05"


def run(workload: str, trace: int, mutate: str = "none") -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--scale", SCALE, "--mutate", mutate]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"FAIL {' '.join(cmd[1:])}: exit {p.returncode}\n"
                 + p.stderr[-3000:])
    return json.loads(lines[-1])


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"] for m in spec["end_to_end"]},
            1: {m["name"] for m in spec["per_layer"]}}
    from run import WORKLOADS
    for workload in WORKLOADS:
        for trace in (0, 1):
            out = run(workload, trace)
            tag = f"{workload} trace={trace}"
            expect(out["correct"] and out["failed"] == 0
                   and out["attempted"] > 0, f"{tag}: correct")
            expect(set(out["metrics"]) == want[trace],
                   f"{tag}: prints every metric")
    for workload, mutate in (("crawl_mix", "alter"), ("crawl_mix", "drop"),
                             ("binary_docs", "drop"),
                             ("curation_queries", "alter")):
        out = run(workload, 0, mutate)
        expect(not out["correct"] and out["failed"] > 0,
               f"{workload} --mutate {mutate}: fail_ratio "
               f"{out['failed'] / out['attempted']:.4f} > 0")


if __name__ == "__main__":
    main()
