"""Tracing for the benchmark's traced mode, from outside the program.

Three independent sources, none of which edits the program:

- ``Tracer`` records spans (name, start, end, parent) around calls into
  the program's layers by rebinding the module-level names those
  layers call through; ``Tracer.restore`` puts the originals back.
- ``read_event_log`` reads Spark's own event log (jobs, stages, task
  metrics) for the traced operations' wall-clock windows.
- ``make_stream_listener`` builds a ``StreamingQueryListener`` that keeps
  every micro-batch progress report.

Spans and progress reports stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._patches: list[tuple[object, str, object]] = []
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        with self._lock:
            sid = self._next
            self._next += 1
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            stack.pop()
            self.spans.append(
                {"id": sid, "name": name, "start": start,
                 "end": time.perf_counter(), "parent": parent}
            )

    def count(self, name: str, n: float) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, module, attr: str, name: str, after=None) -> None:
        """Rebind ``module.attr`` to a wrapper that records a span named
        ``name``; ``after(args, kwargs, result)`` may record counts."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(args, kwargs, result)
            return result

        self.patch(module, attr, wrapper)

    def patch(self, module, attr: str, replacement) -> None:
        """Rebind ``module.attr`` until ``restore``."""
        self._patches.append((module, attr, getattr(module, attr)))
        setattr(module, attr, replacement)

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


def read_event_log(log_dir: str, windows_ms: list[tuple[float, float]], group: str) -> dict:
    """Totals over the jobs submitted inside the wall-clock windows
    ``windows_ms`` (epoch milliseconds), read from the event log files
    under ``log_dir``. ``group_jobs`` counts every job of job group
    ``group``, for comparison with ``SparkContext.statusTracker``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"], "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": ev.get("Stage IDs", []),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    in_window = {
        j for j, v in jobs.items() if any(a <= v["start"] <= b for a, b in windows_ms)
    }
    out = {
        "jobs": len(in_window),
        "group_jobs": sum(1 for v in jobs.values() if v["group"] == group),
        "stages": len({s for j in in_window for s in jobs[j]["stages"]}),
        "tasks": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "spill_bytes": 0, "executor_run_s": 0.0, "jvm_gc_s": 0.0,
    }
    for ev in tasks:
        if stage_job.get(ev.get("Stage ID")) not in in_window:
            continue
        m = ev.get("Task Metrics") or {}
        out["tasks"] += 1
        out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
        out["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1000
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        out["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    # Wall time in the windows with no job of any kind running.
    out["driver_only_s"] = (
        sum(b - a for a, b in windows_ms)
        - _covered(_clip([(v["start"], v["end"] or v["start"]) for v in jobs.values()], windows_ms))
    ) / 1000
    return out


def _clip(intervals, windows):
    return [
        (max(s, a), min(e, b)) for s, e in intervals for a, b in windows
        if s < b and e > a
    ]


def _covered(intervals) -> float:
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


def make_stream_listener():
    """A ``StreamingQueryListener`` that keeps every progress report as
    parsed JSON. Built inside a function so that importing this module
    does not import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self._lock:
                self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamProgress()


def stage_of(progress: dict) -> str:
    """The replay loop's queries carry no name; the txn stage is the one
    that writes through ``foreachBatch``."""
    sink = (progress.get("sink") or {}).get("description", "")
    return "txn_stage" if "ForeachBatch" in sink else "key_stage"


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000


def summarize_stream(progress: list[dict], windows_ms: list[tuple[float, float]]) -> dict:
    """Per-query totals of the progress reports whose trigger started in
    one of ``windows_ms``, plus ``idle_s``: time inside those windows in
    which neither query ran a trigger (0 when no query ran)."""
    out: dict[str, float] = {}
    busy = []
    for q in ("key_stage", "txn_stage"):
        for k in ("batches", "empty_batches", "trigger_s", "add_batch_s",
                  "commit_s", "state_commit_s", "state_rows",
                  "state_memory_bytes", "input_rows"):
            out[f"{k}.{q}"] = 0.0
    for p in progress:
        start = _iso_ms(p["timestamp"])
        if not any(a <= start <= b for a, b in windows_ms):
            continue
        q = stage_of(p)
        d = p.get("durationMs") or {}
        ops = p.get("stateOperators") or []
        out[f"batches.{q}"] += 1
        out[f"empty_batches.{q}"] += p.get("numInputRows", 0) == 0
        out[f"trigger_s.{q}"] += d.get("triggerExecution", 0) / 1000
        out[f"add_batch_s.{q}"] += d.get("addBatch", 0) / 1000
        out[f"commit_s.{q}"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000
        out[f"state_commit_s.{q}"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1000
        out[f"state_rows.{q}"] = max(out[f"state_rows.{q}"], sum(o.get("numRowsTotal", 0) for o in ops))
        out[f"state_memory_bytes.{q}"] = max(
            out[f"state_memory_bytes.{q}"], sum(o.get("memoryUsedBytes", 0) for o in ops))
        out[f"input_rows.{q}"] += p.get("numInputRows", 0)
        busy.append((start, start + d.get("triggerExecution", 0)))
    window_total = sum(b - a for a, b in windows_ms) if busy else 0.0
    out["idle_s"] = (window_total - _covered(_clip(busy, windows_ms))) / 1000
    return out
