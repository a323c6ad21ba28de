"""Spans around the benchmark's calls into each layer, and the Spark
event log folded into per-layer counts.

Spans stay in memory and are written out when the run ends. Jobs a
traced call submits carry the local property ``perfbench.layer`` so the
event log can attribute them; jobs without it come from the streaming
projection or the corpus pipeline.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time

LAYER_PROP = "perfbench.layer"


class Tracer:
    """In-memory spans: ``(id, parent, name, start, end)`` in seconds of
    ``time.perf_counter``. The parent is the enclosing span of the same
    thread."""

    def __init__(self):
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        span_id = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(span_id)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((span_id, parent, name, start, end))

    def durations_ms(self, name: str, since: float = 0.0, until: float = float("inf")):
        with self._lock:
            return [
                (e - s) * 1000
                for _, _, n, s, e in self.spans
                if n == name and since <= s and e <= until
            ]

    def dump(self, path: str) -> None:
        with self._lock, open(path, "w") as fh:
            json.dump(
                [dict(zip(("id", "parent", "name", "start", "end"), s)) for s in self.spans],
                fh,
            )


class TracedCommands:
    """``SignalCommands`` with a ``command.append`` span on every write."""

    def __init__(self, inner, tracer: Tracer):
        self.inner, self.tracer = inner, tracer

    def create(self, *args, **kwargs):
        with self.tracer.span("command.append"):
            return self.inner.create(*args, **kwargs)

    def update(self, *args, **kwargs):
        with self.tracer.span("command.append"):
            return self.inner.update(*args, **kwargs)

    def delete(self, *args, **kwargs):
        with self.tracer.span("command.append"):
            return self.inner.delete(*args, **kwargs)

    def get(self, id_):
        return self.inner.get(id_)


class TracedService:
    """``SignalService`` with ``serving.list`` / ``serving.filter`` /
    ``serving.get`` spans; the jobs each call submits are tagged
    ``serving``."""

    def __init__(self, inner, tracer: Tracer):
        self.inner, self.tracer = inner, tracer

    def _call(self, name, fn, *args, **kwargs):
        sc = self.inner.spark.sparkContext
        sc.setLocalProperty(LAYER_PROP, "serving")
        try:
            with self.tracer.span(name):
                return fn(*args, **kwargs)
        finally:
            sc.setLocalProperty(LAYER_PROP, None)

    def list(self, priority=None):
        name = "serving.list" if priority is None else "serving.filter"
        return self._call(name, self.inner.list, priority=priority)

    def get(self, id_):
        return self._call("serving.get", self.inner.get, id_)

    def health(self):
        return self.inner.health()


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def fold_event_log(spark, log_dir: str, t0: float, t1: float) -> dict:
    """Jobs submitted in ``[t0, t1]`` (epoch seconds) and their tasks.

    Returns counts of all jobs, of jobs tagged ``serving``, tasks,
    executor run and CPU time, and shuffle bytes written. Waits for the
    listener bus to deliver every event first; the log flushes at each
    stage and job end.
    """
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs, stage_job, tagged = {}, {}, set()
    tasks = []
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sub = ev["Submission Time"] / 1000
                    if t0 <= sub <= t1:
                        jobs[ev["Job ID"]] = sub
                        for sid in ev["Stage IDs"]:
                            stage_job[sid] = ev["Job ID"]
                        if (ev.get("Properties") or {}).get(LAYER_PROP) == "serving":
                            tagged.add(ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    out = {"jobs": len(jobs), "serving_jobs": len(tagged), "tasks": 0,
           "run_ms": 0.0, "cpu_ms": 0.0, "shuffle_write_bytes": 0}
    for sid, m in tasks:
        if sid not in stage_job:
            continue
        out["tasks"] += 1
        out["run_ms"] += m.get("Executor Run Time", 0)
        out["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
    return out


def spark_layers(ev: dict, seconds: float) -> dict:
    """Event-log counts as rates over a window of ``seconds``."""
    return {
        "spark.jobs": ev["jobs"] / seconds,
        "spark.tasks": ev["tasks"] / seconds,
        "spark.executor_run_ms": ev["run_ms"] / seconds,
        "spark.executor_cpu_ms": ev["cpu_ms"] / seconds,
        "spark.cpu_frac": ev["cpu_ms"] / ev["run_ms"] if ev["run_ms"] else 0.0,
        "spark.shuffle_write_mb": ev["shuffle_write_bytes"] / 2**20 / seconds,
    }


def jvm_heap_live_mb(spark) -> float:
    """Heap in use after a forced full collection."""
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20
