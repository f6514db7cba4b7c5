#!/usr/bin/env python3
"""Run the benchmark over several seeds, twice, and report how much each
end-to-end metric spreads, next to the bound BENCHMARK.json sets.

    python3 perfbench/steadiness.py [--seeds 1-10]

Every workload of BENCHMARK.json runs once per seed with its
``run_seconds``, and the whole set of runs is made twice.  For every
workload, metric and set: the values' median, the quartiles
``statistics.quantiles(values, n=4)`` gives, the spread
(q3 - q1) / median, and the second set's median relative to the first's.
A spread above a third of the bound is marked ``(!)``, one above the
bound ``(!!)``; the exit code is 1 if any spread is marked.  Runs are
sequential; each is ``run.py`` in a subprocess from the repository root,
and its line gives the warm-up, iteration and median action times.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2


def seeds_arg(s: str) -> list[int]:
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["diag"] = json.loads(lines[-2])
    res["wall_s"] = wall
    return res


def spread(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10", type=seeds_arg)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    raw: dict = {}
    for s in range(SETS):
        for w in (w["name"] for w in bench["workloads"]):
            for seed in args.seeds:
                r = run_once(w, seed, bench["run_seconds"])
                raw.setdefault(w, []).append({"set": s, **r})
                d = r["diag"]
                print(f"set {s} {w} seed {seed}: wall {r['wall_s']:.1f}s "
                      f"steal {d['steal_share']:.1%} correct={r['correct']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                      + " warmup_s=" + ",".join(f"{t:.2f}" for t in d["warmup_s"])
                      + " iter_s=" + ",".join(f"{t:.2f}" for t in d["iter_s"])
                      + "".join(f" {a}_s={statistics.median(t):.3f}"
                                for a, t in d["action_s"].items()),
                      flush=True)

    lines = ["| workload | metric | set | median | q1 | q3 | spread | bound | "
             "median vs set 0 |", "|---|---|---|---|---|---|---|---|---|"]
    ok = True
    for w, runs in raw.items():
        for m, bound in bounds.items():
            base = None
            for s in range(SETS):
                st = spread([r["metrics"][m]["value"] for r in runs if r["set"] == s])
                shift = "" if base is None else f"{st['median'] / base - 1:+.1%}"
                base = st["median"] if base is None else base
                mark = ("" if st["spread"] <= bound / 3 else
                        " (!)" if st["spread"] <= bound else " (!!)")
                ok &= not mark
                lines.append(
                    f"| {w} | {m} | {s} | {st['median']:.4g} | {st['q1']:.4g} | "
                    f"{st['q3']:.4g} | {st['spread']:.1%}{mark} | {bound:.0%} | {shift} |")
        walls = [r["wall_s"] for r in runs]
        fails = sum(r["failed"] for r in runs)
        lines.append(f"| {w} | wall per run (s) | all | {statistics.median(walls):.1f} | "
                     f"{min(walls):.1f} | {max(walls):.1f} | failed ops: {fails} | | |")
    print("\n".join(lines))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
