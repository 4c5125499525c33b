"""Engine benchmark: one workload, one closed-loop client, on
``local[<cores>]``.

    python3 perfbench/run.py --workload mart_hourly --seed 1 --trace 0

Workloads (see ``workloads.py``): ``mart_hourly`` (hourly mart load
cycles: build, append, read-back, late corrections) and ``analyst_mix``
(certified registry queries in a seeded order). The run

1. starts the engine session and times it (``setup_s``);
2. generates the database on first use (``datagen.py``; reused after);
3. runs the cold first operation and the once-per-run oracle checks;
4. runs operations back to back for ``--seconds`` seconds and until
   every kind of operation has run, checking each result outside the
   timed region;
5. sets up ``SETUP_SAMPLES - 1`` more sessions in fresh processes, so
   ``setup_s`` is a median (untraced runs only);
6. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics from
   spans and Spark's event log (``--trace 1``).

Everything it writes goes under ``.perfbench_work/`` in the checkout.
Exit code 2 means the engine package is not there; 1 means the run
itself broke.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(1, ROOT)

SF = 0.01
# session set-ups per run: this process plus SETUP_SAMPLES - 1 fresh ones
SETUP_SAMPLES = 2

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s",
    "rows_per_s": "rows/s", "result_recall": "share",
}
PER_LAYER = {
    "session.get_spark_s": "s", "session.first_op_s": "s",
    "session.jvm_peak_rss_mb": "MB", "session.py_peak_rss_mb": "MB",
    "registry.build_s": "s", "registry.eager_jobs": "jobs/op",
    "plan.shuffle_exchanges": "count", "plan.broadcast_exchanges": "count",
    "plan.reused_exchanges": "count", "plan.scans_pushed": "count",
    "exec.action_s": "s/op", "exec.jobs": "jobs/op", "exec.tasks": "tasks/op",
    "exec.failed_tasks": "count", "exec.task_run_s": "s/op",
    "exec.core_util": "share", "exec.gc_s": "s/op",
    "exec.shuffle_write_mb": "MB/op", "exec.spill_mb": "MB/op",
    "sources.load_tables_s": "s", "mart.build_mart_s": "s",
    "mart.rows": "rows", "incremental.append_snapshot_s": "s",
    "incremental.read_latest_snapshot_s": "s",
    "incremental.merge_upsert_s": "s", "bi.aggregate_s": "s",
    "sink.files_per_append": "files", "sink.bytes_rewritten_per_update_byte":
        "ratio", "sink.stored_bytes_per_row": "B/row",
    "query.exec_s": "s", "dedup.exec_s": "s", "text.exec_s": "s",
    "similarity.exec_s": "s", "dedup.candidate_pairs": "pairs",
    "dedup.precision": "share", "dedup.recall": "share",
    "similarity.recall_at_5": "share",
    "trace.op_p50_s": "s", "trace.op_p90_s": "s", "bench.self_s": "s",
}
# span name -> per-layer metric holding its mean self time per call
SPAN_METRICS = {
    "registry.build": "registry.build_s",
    "sources.load_tables": "sources.load_tables_s",
    "mart.build_mart": "mart.build_mart_s",
    "incremental.append_snapshot": "incremental.append_snapshot_s",
    "incremental.read_latest_snapshot": "incremental.read_latest_snapshot_s",
    "incremental.merge_upsert": "incremental.merge_upsert_s",
    "bi.aggregate": "bi.aggregate_s",
    "query.exec": "query.exec_s", "dedup.exec": "dedup.exec_s",
    "text.exec": "text.exec_s", "similarity.exec": "similarity.exec_s",
    "op": "bench.self_s",
}
EXEC_PER_OP = ("action_s", "jobs", "tasks", "task_run_s", "gc_s",
               "shuffle_write_mb", "spill_mb")


@dataclass
class Context:
    spark: object
    sf_dir: str
    run_dir: str
    seed: int
    manifest: dict
    tracer: spans.Tracer
    corrupt: bool = False

    @staticmethod
    def plan_profile(df) -> dict[str, float]:
        from yougile_etl_pipeline_spark.operators.diagnostics import (
            plan_profile)

        p = plan_profile(df)
        return {"plan.shuffle_exchanges": p["shuffle_exchanges"],
                "plan.broadcast_exchanges": p["broadcast_exchanges"],
                "plan.reused_exchanges": p["reused_exchanges"],
                "plan.scans_pushed": p["scans_with_pushed_filters"]}


def since_process_start() -> float:
    """Seconds since this process was created (kernel start time)."""
    with open("/proc/self/stat") as f:
        stat = f.read().rsplit(")", 1)[1].split()
    start = int(stat[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) - start


def configure_env(work: str) -> None:
    """Keep every file the engine, the JVM and the Python workers write
    inside the checkout, and let the workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                            .split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # no JVM writes hsperfdata under /tmp: neither spark-submit's launcher
    # JVM nor the engine's own
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{jvm_opts}" pyspark-shell')


def start_session(work: str, event_dir: str | None, cores: int):
    """Engine session through the package's own factory, then one
    trivial job; returns (spark, get_spark seconds)."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t0 = time.perf_counter()
    from yougile_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, get_spark_s


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the JVM")


def setup_sample() -> float:
    """One session set-up in a fresh process: seconds from its start
    until the session has run its first job."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-probe"],
        cwd=ROOT, capture_output=True, text=True, timeout=150, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["setup_s"]


def log(msg: str) -> None:
    print(f"perfbench: [{since_process_start():6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def schedule_stats(samples: list[tuple[str, float, int]],
                   weights: dict[str, float]) -> dict[str, float]:
    """Latency percentiles and rates of the workload's schedule.

    Each operation kind (a query, or a load cycle with or without a
    correction) counts with its share of the schedule, whatever number of
    its operations happened to fit into the run; each sample of a kind
    carries that share divided by the kind's sample count. This keeps
    the figures from jumping with the mix of a short run."""
    by_kind: dict[str, list[tuple[float, int]]] = {}
    for kind, took, rows in samples:
        by_kind.setdefault(kind, []).append((took, rows))
    total = sum(weights[k] for k in by_kind)
    w = {k: weights[k] / total for k in by_kind}
    points = sorted((t, w[k] / len(v)) for k, v in by_kind.items()
                    for t, _ in v)
    # each sample sits at the middle of its weight interval; quantiles
    # interpolate between neighbours (unweighted: the Hazen rule, whose
    # median is the usual one)
    mids, cum = [], 0.0
    for t, wt in points:
        mids.append(cum + wt / 2)
        cum += wt

    def quantile(q: float) -> float:
        if q <= mids[0]:
            return points[0][0]
        for j in range(1, len(points)):
            if q <= mids[j]:
                f = (q - mids[j - 1]) / (mids[j] - mids[j - 1])
                return points[j - 1][0] + f * (points[j][0]
                                               - points[j - 1][0])
        return points[-1][0]

    mean_s = sum(w[k] * statistics.fmean(t for t, _ in v)
                 for k, v in by_kind.items())
    mean_rows = sum(w[k] * statistics.fmean(r for _, r in v)
                    for k, v in by_kind.items())
    return {"op_p50_s": quantile(0.5), "op_p90_s": quantile(0.9),
            "ops_per_s": 1 / mean_s, "rows_per_s": mean_rows / mean_s}


def measure(wl, tracer: spans.Tracer, seconds: float, max_ops: int):
    """The closed loop: one operation at a time until ``seconds`` have
    passed and every kind of operation has its ``min_samples`` (bounded
    by 3 x ``seconds``). The warm-up was operation 0."""
    samples, attempted, failed, problems = [], 0, 0, []
    need = dict(wl.min_samples)
    start = time.perf_counter()
    i = 1
    while attempted < max_ops:
        elapsed = time.perf_counter() - start
        if elapsed >= 3 * seconds or (elapsed >= seconds
                                      and max(need.values()) <= 0):
            break
        attempted += 1
        try:
            wl.before_op(i)
            t0 = time.perf_counter()
            with tracer.span("op", i):
                kind, rows = wl.op(i)
            took = time.perf_counter() - t0
            issues = wl.check_op(i)
        except Exception:   # a failed operation; the loop goes on
            traceback.print_exc()
            issues = [f"operation {i} raised"]
        if issues:
            failed += 1
            problems += issues
        else:
            samples.append((kind, took, rows))
            need[kind] -= 1
        i += 1
    return samples, attempted, failed, problems


def run_workload(spark, args, event_dir: str | None, cores: int,
                 get_spark_s: float) -> tuple[dict, tuple | None]:
    """Inputs, warm-up, timed loop and metrics of one workload on a
    running session; returns the result object without ``setup_s``
    and, for a traced run, what ``finish_trace`` needs."""
    import datagen
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise ValueError(f"unknown workload {args.workload!r}; one of "
                         f"{sorted(workloads.WORKLOADS)}")
    run_dir = os.path.join(WORK, args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tracer = spans.Tracer(bool(args.trace))
    sf_dir = os.path.join(WORK, "data", f"sf{args.sf}")
    manifest = datagen.ensure_database(sf_dir, args.sf)
    ctx = Context(spark, sf_dir, run_dir, args.seed, manifest, tracer,
                  corrupt=args.corrupt)
    wl = workloads.WORKLOADS[args.workload](ctx)
    wl.prepare()
    log("inputs ready")
    cold = wl.warm_up()
    log("warm-up done; cold operations (s): "
        + " ".join(f"{t:.2f}" for t in wl.cold_times))
    wall0 = time.time()
    samples, attempted, failed, problems = measure(
        wl, tracer, args.seconds, args.max_ops)
    wall1 = time.time()
    log(f"timed loop done: {len(samples)} operations")
    attempted += len(cold)
    failed += sum(1 for c in cold if c)
    problems += [p for c in cold for p in c]
    for p in problems:
        print(f"perfbench: FAILED CHECK: {p}", file=sys.stderr)
    if not samples:
        raise RuntimeError("no operation succeeded")
    with open(os.path.join(run_dir, "samples.json"), "w") as f:
        json.dump(samples, f)
    stats = schedule_stats(samples, wl.kind_weights)
    print(f"perfbench: {args.workload}: {len(samples)} timed operations "
          f"of {len({k for k, _, _ in samples})} kinds", file=sys.stderr)
    pending = None
    if not args.trace:
        metrics = {**stats, "result_recall": wl.recall}
        units = END_TO_END
    else:
        tracer.write(os.path.join(run_dir, "spans.json"))
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(wl.plan_counts)
        metrics.update(wl.layer_metrics())
        # mean self time per call, over the timed loop's spans only
        selfs, calls = tracer.self_times(min_op=1)
        for name, metric in SPAN_METRICS.items():
            if calls.get(name):
                metrics[metric] = selfs[name] / calls[name]
        # the event log is read once the session has stopped and
        # flushed it; see finish_trace
        pending = ((wall0, wall1), tracer.windows("registry.build"),
                   len(samples))
        metrics["session.get_spark_s"] = get_spark_s
        metrics["session.first_op_s"] = (statistics.median(wl.cold_times)
                                         - stats["op_p50_s"])
        metrics["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        metrics["session.py_peak_rss_mb"] = resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024.0
        metrics["trace.op_p50_s"] = stats["op_p50_s"]
        metrics["trace.op_p90_s"] = stats["op_p90_s"]
        units = PER_LAYER
    result = {"correct": not problems, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": units[k]}
                          for k in units if k in metrics}}
    return result, pending


def finish_trace(result: dict, event_dir: str, pending: tuple,
                 cores: int) -> None:
    """Add the event-log counters of the timed loop to a traced run's
    result. Call only after ``stop_session``: Spark's listener bus is
    asynchronous and the log is complete and closed only then."""
    import spans

    window, build_windows, ops = pending
    ex = spans.event_log_counters(event_dir, window, build_windows, cores)
    values = {f"exec.{k}": ex.get(k, 0.0) / ops for k in EXEC_PER_OP}
    values["exec.failed_tasks"] = ex.get("failed_tasks", 0.0)
    values["exec.core_util"] = ex.get("core_util", 0.0)
    values["registry.eager_jobs"] = ex.get("eager_jobs", 0.0) / ops
    for k, v in values.items():
        result["metrics"][k]["value"] = v


def run(args) -> dict:
    cores = len(os.sched_getaffinity(0))
    event_dir = os.path.join(WORK, "eventlog") if args.trace else None
    if event_dir:
        shutil.rmtree(event_dir, ignore_errors=True)
    spark, get_spark_s = start_session(WORK, event_dir, cores)
    setups = [since_process_start()]
    log("session ready")
    try:
        result, pending = run_workload(spark, args, event_dir, cores,
                                       get_spark_s)
    finally:
        stop_session(spark)
    log("session stopped")
    if pending:
        finish_trace(result, event_dir, pending, cores)
    if not args.trace:
        setups += [setup_sample() for _ in range(SETUP_SAMPLES - 1)]
        log(f"{len(setups)} set-ups done")
        result["metrics"]["setup_s"] = {"value": statistics.median(setups),
                                        "unit": END_TO_END["setup_s"]}
    return result


def run_seconds() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", help="mart_hourly or analyst_mix")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=run_seconds(),
                    help="timed seconds (default: BENCHMARK.json's "
                         "run_seconds, %(default)s)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF,
                    help="database scale factor (default %(default)s)")
    ap.add_argument("--max-ops", type=int, default=10**9,
                    help="stop the timed loop after this many operations")
    ap.add_argument("--corrupt", action="store_true",
                    help="tamper with one checked result (self-test)")
    ap.add_argument("--setup-probe", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.setup_probe and not args.workload:
        ap.error("--workload is required")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec("yougile_etl_pipeline_spark") is None:
        print(f"perfbench: engine package yougile_etl_pipeline_spark not "
              f"found under {ROOT}", file=sys.stderr)
        return 2
    configure_env(WORK)
    if args.setup_probe:
        spark, _ = start_session(os.path.join(WORK, "probe"), None,
                                 len(os.sched_getaffinity(0)))
        setup_s = since_process_start()
        stop_session(spark)
        print(json.dumps({"setup_s": setup_s}))
        return 0
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
