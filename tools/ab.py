#!/usr/bin/env python3
"""Alternating A/B pairs of the repository benchmark between two revisions.

    python tools/ab.py <revA> <revB> --workload W --pairs N [--seed0 S]

Each revision's committed files are exported (``git archive``) into its
own directory of a new temporary directory, so each side runs exactly
what a commit holds; the directory is removed at the end. Each tree then
builds its input pool once, untimed (``perfbench/run.py --build-only``).
Pair ``i`` runs ``perfbench/run.py --workload W --seed S+i --seconds T
--trace 0`` unchanged, once per tree, with ``T`` the ``run_seconds`` of
``BENCHMARK.json``; even pairs run A first and odd pairs run B first.

The output is the table ``CHANGES.md`` records. It has one row per
end-to-end metric in ``BENCHMARK.json``, plus docs/s divided by each
run's CPU probe (``bench._cpu_probe``, the mean of the probes taken
before and after). Each row gives the median [q1, q3] of each side, B's
median change against the metric's bound, B's wins, and every pair's
values. Then come the gain verdict for each metric (B better on at least
9 in 10 pairs, and a median gap larger than A's interquartile range)
and any pair whose two CPU probes differ by more than 25%. A run that
fails a row check or exits non-zero stops the tool.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: a pair whose two CPU probes differ by more than this is flagged
PROBE_MOVE = 0.25


def export(rev: str, dest: str) -> str:
    """The committed files of ``rev`` in ``dest``; returns the full sha."""
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify",
                          f"{rev}^{{commit}}"], check=True,
                         capture_output=True, text=True).stdout.strip()
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout,
                   check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")
    return sha


def build_pool(tree: str, workload: str) -> None:
    """Build ``tree``'s input pool for ``workload``, untimed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "0", "--seconds", "0", "--build-only"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{tree}: {' '.join(cmd)} exited {p.returncode}")


def run(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in ``tree``: its metrics, checks and CPU probe."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{tree}: {' '.join(cmd)} exited {p.returncode}")
    record = json.loads(lines[-2])["record"]
    out = json.loads(lines[-1])
    if not out["correct"] or out["failed"]:
        raise SystemExit(f"{tree} seed {seed}: {out['failed']}/"
                         f"{out['attempted']} rows failed the oracle check")
    probe = record["cpu_probe_ops_s"]
    return {"metrics": {k: v["value"] for k, v in out["metrics"].items()},
            "probe": (probe["pre"] + probe["post"]) / 2}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(x: float) -> str:
    return f"{x:.0f}" if abs(x) >= 1000 else f"{x:.4g}"


def table(workload: str, seeds: list[int], pairs: list[tuple[dict, dict]],
          spec: list[dict]) -> list[str]:
    rows = ["| workload (pairs, seeds) | metric | A median [q1, q3] "
            "| B median [q1, q3] | B wins | every pair, seed: A→B |",
            "|---|---|---|---|---|---|"]
    verdicts = []
    label = f"{workload} ({len(pairs)} pairs, {seeds[0]}–{seeds[-1]})"
    metrics = [dict(m) for m in spec]
    metrics.append({"name": "docs_per_s / cpu probe", "better": "higher",
                    "bound": None})
    for i, m in enumerate(metrics):
        name = m["name"]
        if name.endswith("cpu probe"):
            a = [x["metrics"]["docs_per_s"] / x["probe"] for x, _ in pairs]
            b = [y["metrics"]["docs_per_s"] / y["probe"] for _, y in pairs]
        else:
            a = [x["metrics"][name] for x, _ in pairs]
            b = [y["metrics"][name] for _, y in pairs]
        higher = m["better"] == "higher"
        wins = sum((y > x) if higher else (y < x) for x, y in zip(a, b))
        qa, qb = quartiles(a), quartiles(b)
        change = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
        bound = ("" if m["bound"] is None
                 else f", bound {100 * m['bound']:.0f}%")
        every = "; ".join(f"{s}: {fmt(x)}→{fmt(y)}"
                          for s, x, y in zip(seeds, a, b))
        rows.append(
            f"| {label if i == 0 else workload} | {name} "
            f"| {fmt(qa[1])} [{fmt(qa[0])}, {fmt(qa[2])}] "
            f"| {fmt(qb[1])} [{fmt(qb[0])}, {fmt(qb[2])}] "
            f"({100 * change:+.1f}%{bound}) | {wins}/{len(pairs)} "
            f"| {every} |")
        worse = -change if higher else change
        gap = (qb[1] - qa[1]) if higher else (qa[1] - qb[1])
        verdicts.append(
            f"{name}: B better in {wins}/{len(pairs)} pairs, median gap "
            f"{fmt(gap)} against A's IQR {fmt(qa[2] - qa[0])}; gain "
            + ("met" if wins >= 0.9 * len(pairs) and gap > qa[2] - qa[0]
               else "not met")
            + ("" if m["bound"] is None else
               f"; within bound: {'yes' if worse <= m['bound'] else 'NO'}"))
    moved = [f"seed {s}: probe {x['probe']:.0f} vs {y['probe']:.0f}"
             for s, (x, y) in zip(seeds, pairs)
             if abs(x["probe"] - y["probe"]) > PROBE_MOVE * min(
                 x["probe"], y["probe"])]
    return rows + [""] + verdicts + (
        ["", f"CPU probe moved >{100 * PROBE_MOVE:.0f}% within a pair: "
         + "; ".join(moved)] if moved else [])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=1001)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec, seconds = bench["end_to_end"], bench["run_seconds"]
    work = tempfile.mkdtemp(prefix="ab-")
    try:
        trees = {}
        for side, rev in (("A", args.rev_a), ("B", args.rev_b)):
            tree = os.path.join(work, side)
            sha = export(rev, tree)
            print(f"{side} = {rev} ({sha[:12]}) in {tree}", file=sys.stderr)
            build_pool(tree, args.workload)
            trees[side] = tree
        pairs, seeds = [], []
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            res = {side: run(trees[side], args.workload, seed, seconds)
                   for side in order}
            pairs.append((res["A"], res["B"]))
            seeds.append(seed)
            print(f"pair {i + 1}/{args.pairs} seed {seed}: docs/s "
                  f"{res['A']['metrics']['docs_per_s']:.0f} → "
                  f"{res['B']['metrics']['docs_per_s']:.0f}",
                  file=sys.stderr, flush=True)
        print("\n".join(table(args.workload, seeds, pairs, spec)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
