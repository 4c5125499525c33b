"""Fast self-test of the benchmark at sf0.001, one timed operation per
workload: the untraced cases share one session, and each traced case
runs the benchmark's command in its own process.

    python3 perfbench/selftest.py

Asserts that every end-to-end metric (untraced) and every per-layer
metric (traced) named in ``BENCHMARK.json`` prints with its unit as a
finite number, that clean runs pass their checks, and that a
deliberately corrupted result is counted as a failed operation.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import run

CASE_ARGS = ["--seed", "7", "--seconds", "1", "--sf", "0.001",
             "--max-ops", "1"]


def check_result(res: dict, specs: list[dict], label: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, label
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, label
    got = res["metrics"]
    want = {m["name"]: m["unit"] for m in specs}
    assert set(got) == set(want), (label, set(got) ^ set(want))
    for name, unit in want.items():
        v = got[name]
        assert v["unit"] == unit, (label, name, v)
        assert isinstance(v["value"], (int, float)), (label, name, v)
        assert math.isfinite(v["value"]), (label, name, v)


def run_case(spark, w: str, corrupt: bool, cores: int,
             get_spark_s: float, setup_s: float) -> dict:
    """An untraced case on the shared session."""
    args = run.parse_args(CASE_ARGS + ["--workload", w, "--trace", "0"]
                          + (["--corrupt"] if corrupt else []))
    res, _ = run.run_workload(spark, args, None, cores, get_spark_s)
    res["metrics"]["setup_s"] = {"value": setup_s, "unit": "s"}
    return res


def traced_case(w: str) -> dict:
    """A traced case through the benchmark's command, in its own
    process: the event log is read after that session stopped."""
    out = subprocess.run(
        [sys.executable, run.__file__, *CASE_ARGS, "--workload", w,
         "--trace", "1"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise AssertionError(f"{w} trace=1: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def verdict(res: dict, bench: dict, label: str, trace: int,
            corrupt: bool) -> None:
    check_result(res, bench["per_layer" if trace else "end_to_end"], label)
    if corrupt:
        assert not res["correct"] and res["failed"] >= 1, (label, res)
    else:
        assert res["correct"] and res["failed"] == 0, (label, res)
    print(f"ok: {label}", flush=True)


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    run.configure_env(run.WORK)
    cores = len(os.sched_getaffinity(0))
    spark, get_spark_s = run.start_session(run.WORK, None, cores)
    setup_s = run.since_process_start()
    try:
        for w in workloads:
            for corrupt in (False, True):
                res = run_case(spark, w, corrupt, cores, get_spark_s,
                               setup_s)
                verdict(res, bench, f"{w} trace=0 corrupt={corrupt}", 0,
                        corrupt)
    finally:
        run.stop_session(spark)
    for w in workloads:
        verdict(traced_case(w), bench, f"{w} trace=1 corrupt=False", 1,
                False)
    print("selftest passed")
    return 0

if __name__ == "__main__":
    sys.exit(main())
