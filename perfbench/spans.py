"""Spans recorded by the benchmark around its calls into each layer, and
counters read from Spark's event log.

A span is (name, start, end, parent, op_id). Spans live in memory and
are written out once, when the run ends. With tracing off, ``span``
returns a shared no-op context manager, so the measured run records
nothing.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

_NOOP = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, op_id: int):
        if not self.enabled:
            return _NOOP
        return self._span(name, op_id)

    @contextlib.contextmanager
    def _span(self, name: str, op_id: int):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "op_id": op_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self, min_op: int) -> tuple[dict[str, float],
                                                dict[str, int]]:
        """Per span name, over spans of operations ``>= min_op``: total
        self time (duration minus the part its children cover) and the
        number of spans."""
        child_cover: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] += s["end"] - s["start"]
        total: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for i, s in enumerate(self.spans):
            if s["op_id"] >= min_op:
                total[s["name"]] += (s["end"] - s["start"]) - child_cover[i]
                calls[s["name"]] += 1
        return dict(total), dict(calls)

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans
                if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _inside(t: float, windows: list[tuple[float, float]]) -> bool:
    return any(s <= t <= e for s, e in windows)


def event_log_counters(log_dir: str, window: tuple[float, float],
                       build_windows: list[tuple[float, float]],
                       cores: int) -> dict[str, float]:
    """Job, task, GC, shuffle and spill totals from the Spark event log,
    restricted to jobs submitted inside ``window`` (epoch seconds).
    ``eager_jobs`` counts jobs submitted inside ``build_windows`` — the
    jobs a query runs while its plan is being built."""
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    job_start, job_end, job_stages = {}, {}, {}
    stage_job = {}
    tasks = []
    with open(paths[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_start[jid] = ev["Submission Time"] / 1000.0
                job_stages[jid] = ev["Stage IDs"]
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                job_end[ev["Job ID"]] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    lo, hi = window
    jobs = {j for j, t in job_start.items() if lo <= t <= hi}
    out = defaultdict(float)
    out["jobs"] = len(jobs)
    out["eager_jobs"] = sum(1 for j in jobs
                            if _inside(job_start[j], build_windows))
    out["action_s"] = _union_seconds(
        [(job_start[j], job_end.get(j, hi)) for j in jobs])
    for ev in tasks:
        if stage_job.get(ev["Stage ID"]) not in jobs:
            continue
        out["tasks"] += 1
        if ev.get("Task End Reason", {}).get("Reason") != "Success":
            out["failed_tasks"] += 1
        m = ev.get("Task Metrics") or {}
        out["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        sw = m.get("Shuffle Write Metrics") or {}
        out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
        out["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0)) / 1e6
    wall = out["action_s"]
    out["core_util"] = out["task_run_s"] / (wall * cores) if wall else 0.0
    return dict(out)
