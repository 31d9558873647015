"""Spans recorded around calls into the engine's layers, plus Spark's own
event log, folded into per-layer self times.

A span is ``(layer, start, end, depth)``: wall-clock seconds from
``time.time()`` so that they line up with the millisecond timestamps of
the Spark event log. Spans are kept in memory and only folded when the
run ends. Spark jobs from the event log are the innermost layer
(``spark.job_wall_s``): every instant of a measured pass is charged to
exactly one layer, the deepest span open at that instant, or to a job
if one is running; instants covered by neither are ``driver.other_s``.
So the self times of one pass sum to its wall time.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager

# Layers whose self times partition a pass (see ``self_times``).
SPARK_JOB = "spark.job_wall_s"
OTHER = "driver.other_s"


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int]] = []
        self._depth = 0

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        self._depth += 1
        t0 = time.time()
        try:
            yield
        finally:
            self._depth -= 1
            self.spans.append((layer, t0, time.time(), self._depth + 1))

    def wrap(self, layer: str, fn):
        """``fn`` with every call recorded as a ``layer`` span."""

        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced


def self_times(spans, jobs, windows) -> dict[str, float]:
    """Charge every instant of ``windows`` (list of ``(t0, t1)``) to one
    layer: a running Spark job, else the deepest open span, else
    ``driver.other_s``. Returns seconds per layer."""
    out: dict[str, float] = {}
    for w0, w1 in windows:
        events: list[tuple[float, int, int, str]] = []
        for layer, s0, s1, depth in spans:
            if s1 > w0 and s0 < w1:
                events.append((max(s0, w0), 1, depth, layer))
                events.append((min(s1, w1), -1, depth, layer))
        for j0, j1 in jobs:
            if j1 > w0 and j0 < w1:
                events.append((max(j0, w0), 1, 1 << 30, SPARK_JOB))
                events.append((min(j1, w1), -1, 1 << 30, SPARK_JOB))
        events.sort(key=lambda e: (e[0], e[1]))
        open_: dict[tuple[int, str], int] = {}
        t_prev = w0
        for t, kind, depth, layer in events:
            if t > t_prev:
                if open_:
                    top = max(open_)[1]
                else:
                    top = OTHER
                out[top] = out.get(top, 0.0) + (t - t_prev)
                t_prev = t
            key = (depth, layer)
            open_[key] = open_.get(key, 0) + kind
            if open_[key] <= 0:
                del open_[key]
        if w1 > t_prev:
            top = max(open_)[1] if open_ else OTHER
            out[top] = out.get(top, 0.0) + (w1 - t_prev)
    return out


def covered(intervals, windows) -> float:
    """Seconds of ``windows`` covered by the union of ``intervals``."""
    total = 0.0
    for w0, w1 in windows:
        clipped = sorted((max(a, w0), min(b, w1)) for a, b in intervals if b > w0 and a < w1)
        end = w0
        for a, b in clipped:
            if b > end:
                total += b - max(a, end)
                end = b
    return total


def _perf_probe():
    """``tools/perf_probe.py`` of the checkout under test."""
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import perf_probe

    return perf_probe


def parse_eventlog(path: str, windows) -> dict:
    """Job intervals and task totals of the jobs submitted inside
    ``windows``. Extends ``perf_probe.parse_eventlog`` (whole-file job
    and task totals, used as a cross-check) with per-job time windows,
    stages, CPU time and shuffle/input bytes. (Spark 4.1 publishes no
    Python-worker timing in the event log, so none is reported.)"""
    whole_file = _perf_probe().parse_eventlog(path)
    jobs: dict[int, dict] = {}
    tasks_by_stage: dict[int, list[dict]] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"t0": ev.get("Submission Time", 0) / 1000.0, "t1": None, "stages": ev.get("Stage IDs", [])}
            elif et == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev.get("Completion Time", 0) / 1000.0
            elif et == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                rec = {
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "sw": sw.get("Shuffle Bytes Written", 0),
                    "in": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                }
                tasks_by_stage.setdefault(ev.get("Stage ID", -1), []).append(rec)
    in_window = {
        jid: j
        for jid, j in jobs.items()
        if j["t1"] is not None and any(w0 <= j["t0"] < w1 for w0, w1 in windows)
    }
    out = {
        "jobs": len(in_window),
        "stages": 0,
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "input_bytes": 0,
        "intervals": [(j["t0"], j["t1"]) for j in in_window.values()],
        "job_max_tasks": {},
    }
    for jid, j in in_window.items():
        widest = 0
        for sid in j["stages"]:
            recs = tasks_by_stage.get(sid, [])
            if not recs:
                continue  # skipped stage (shuffle output reused)
            out["stages"] += 1
            out["tasks"] += len(recs)
            widest = max(widest, len(recs))
            for r in recs:
                out["executor_run_s"] += r["run_ms"] / 1000.0
                out["executor_cpu_s"] += r["cpu_ns"] / 1e9
                out["gc_s"] += r["gc_ms"] / 1000.0
                out["shuffle_read_bytes"] += r["sr"]
                out["shuffle_write_bytes"] += r["sw"]
                out["input_bytes"] += r["in"]
        out["job_max_tasks"][(j["t0"], j["t1"])] = widest
    if out["jobs"] > whole_file["n_jobs"] or out["tasks"] > whole_file["n_tasks"]:
        raise ValueError(f"event log parse disagrees with perf_probe: {out['jobs']} jobs, {whole_file}")
    return out
