"""Steadiness check: two sets of benchmark runs of the same commit.

    python3 perfbench/steady.py --runs 10 [--sets 2] [--trace-runs 3]

Runs ``BENCHMARK.json``'s command ``--runs`` times per workload and set
on every workload it lists, each run with its own seed (seeds
``SEED0``, ``SEED0 + 1``, ...; the same seeds in every set), alternating
workloads. For every end-to-end metric it prints each set's median and
quartiles, the spread (interquartile distance over the median) against
the metric's bound, and whether every later set's median differs from
the first's, in either direction, by at most the bound. With
``--trace-runs``, it adds traced runs and prints the per-layer medians
and the tracing overhead (traced minus untraced ``op_p50_s``). Exit code 1 when a check fails.
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
SEED0 = 100


def run_once(cmd: list[str], workload: str, seed: int, seconds: int,
             trace: int) -> dict:
    args = cmd + ["--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    out = subprocess.run(args, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    took = time.time() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = took
    print(f"  {workload} seed={seed} trace={trace} wall={took:.1f}s "
          f"correct={res['correct']} failed={res['failed']}/"
          f"{res['attempted']}", flush=True)
    return res


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--trace-runs", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    results: dict[str, list[list[dict]]] = {
        w: [[] for _ in range(args.sets)] for w in names}
    for s in range(args.sets):
        print(f"set {s + 1}/{args.sets}", flush=True)
        for r in range(args.runs):
            for w in names:
                results[w][s].append(run_once(bench["command"], w,
                                              SEED0 + r, seconds, 0))
    traced = {w: [run_once(bench["command"], w, SEED0 + r, seconds, 1)
                  for r in range(args.trace_runs)] for w in names}
    out = os.path.join(ROOT, ".perfbench_work", "steady.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"runs": results, "traced": traced}, f)

    ok = True
    for w in names:
        print(f"\n== {w}")
        bad = [r for runs in results[w] for r in runs
               if not r["correct"] or r["failed"]]
        if bad:
            ok = False
            print(f"  {len(bad)} runs with failed checks")
        for m, spec in bounds.items():
            meds = []
            cells = []
            for s in range(args.sets):
                xs = [r["metrics"][m]["value"] for r in results[w][s]]
                q1, q2, q3 = quartiles(xs)
                spread = (q3 - q1) / q2 if q2 else float("inf")
                meds.append(q2)
                within = spread <= spec["bound"]
                ok &= within
                cells.append(f"med={q2:.4g} q1={q1:.4g} q3={q3:.4g} "
                             f"spread={spread:.3f}{'' if within else '!'}")
            moved = [(b - meds[0]) / meds[0] for b in meds[1:]]
            agree = all(abs(x) <= spec["bound"] for x in moved)
            ok &= agree
            print(f"  {m:14s} [{spec['unit']}] bound={spec['bound']}  "
                  + " | ".join(cells)
                  + f"  moved={','.join(f'{x:+.3f}' for x in moved)}"
                  + ("" if agree else " DISAGREE"))
        if traced[w]:
            untraced = statistics.median(
                r["metrics"]["op_p50_s"]["value"] for r in results[w][0])
            print(f"  traced runs: {len(traced[w])}")
            for m in traced[w][0]["metrics"]:
                xs = [r["metrics"][m]["value"] for r in traced[w]]
                print(f"    {m:40s} {statistics.median(xs):.4g} "
                      f"{traced[w][0]['metrics'][m]['unit']}")
            overhead = statistics.median(
                r["metrics"]["trace.op_p50_s"]["value"]
                for r in traced[w]) - untraced
            print(f"    tracing overhead (traced - untraced op_p50_s): "
                  f"{overhead:+.4f} s")
    walls = [r["wall_s"] for w in names for runs in results[w] for r in runs]
    print(f"\nrun wall: median {statistics.median(walls):.1f}s, "
          f"max {max(walls):.1f}s")
    print("STEADY" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
