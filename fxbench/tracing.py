"""Spans recorded around calls into each layer, and a Spark event-log
reader that attributes task metrics to the layer's job group."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from stats import median


class Tracer:
    """In-memory spans (name, start, end, parent, run id); each span sets
    the Spark job group of the calling thread to its name, so the event
    log can be split by layer. ``enabled=False`` records nothing and
    touches no job group."""

    def __init__(self, sc, run_id: str, enabled: bool) -> None:
        self.sc, self.run_id, self.enabled = sc, run_id, enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(name)
        self.sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            self.sc.setJobGroup(parent or "bench", parent or "bench")
            with self._lock:
                self.spans.append({"run_id": self.run_id, "name": name,
                                   "parent": parent, "start": start,
                                   "end": end})

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def empty_group() -> dict:
    return {"tasks": 0, "failed_tasks": 0, "busy_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "rows_read": 0, "bytes_read": 0, "job_submit_ms": []}


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job submission times, task counts (failed and
    retried tasks included), executor run/CPU/GC seconds, shuffle-write
    and spill bytes, input rows and bytes. Jobs without a group fall
    under ``"(none)"``."""
    def order(path: str):
        # rolled logs are events_<n>_<app>; sort their parts numerically
        parts = os.path.basename(path).split("_")
        n = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0
        return os.path.dirname(path), n, path

    files = sorted((os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                    for f in fs if not f.startswith((".", "appstatus"))),
                   key=order)
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "(none)"
                    g = out.setdefault(group, empty_group())
                    g["job_submit_ms"].append(ev.get("Submission Time", 0))
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "(none)")
                    g = out.setdefault(group, empty_group())
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    if info.get("Failed") or info.get("Killed"):
                        g["failed_tasks"] += 1
                    g["busy_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                                 or {}).get(
                        "Shuffle Bytes Written", 0)
                    g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    inp = m.get("Input Metrics") or {}
                    g["rows_read"] += inp.get("Records Read", 0)
                    g["bytes_read"] += inp.get("Bytes Read", 0)
    return out


def jvm_gc_seconds(spark) -> float:
    """Cumulative GC time of the driver JVM (executors share it in local
    mode)."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def finish(run) -> dict:
    """Stop the session, which flushes the event log, and read the log."""
    run.spark.stop()
    run.spark = None
    return read_event_log(os.path.join(run.work, "eventlog"))


def layer_costs(ev: dict, run_windows: list[tuple[float, float]]) -> dict:
    """Task metrics per layer: the batch stages by job group, and the
    streaming runs by job submission time (minus the reader's and
    compaction's jobs, which their spans put in groups of their own)."""
    def g(name):
        return ev.get(name) or empty_group()

    out = {
        "sources.rows_read": g("sources.scan")["rows_read"],
        "sources.bytes_read": g("sources.scan")["bytes_read"],
        "spark.tasks_failed": sum(v["failed_tasks"] for v in ev.values()),
    }
    for layer, keys in (
            ("candles", ("busy_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                         "spill_bytes", "tasks")),
            ("returns", ("busy_s",)),
            ("correlation", ("busy_s", "cpu_s", "shuffle_write_bytes",
                             "spill_bytes"))):
        for k in keys:
            out[f"{layer}.{k}"] = g(layer)[k]
    jobs = [0] * len(run_windows)
    for group, v in ev.items():
        if group in ("store.read", "store.compact"):
            continue
        for ts in v["job_submit_ms"]:
            for i, (a, b) in enumerate(run_windows):
                if a * 1000 <= ts <= b * 1000:
                    jobs[i] += 1
    out["stream.jobs_per_run"] = median(jobs)
    return out
