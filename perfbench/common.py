"""Pieces the workloads share: the Spark session, the view-pointer
poller, the streaming checkpoint's file log, and the result record."""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Outcome:
    """What one measured window produced."""

    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)  # metric → sample count
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    notes: list = field(default_factory=list)


def start_spark(work: str, cores: int, extra: dict | None = None):
    """A fresh SparkContext (the JVM is launched once per process) whose
    scratch files stay under ``work``."""
    from nexus_event_stream_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1-only JIT: the default tiered C2 needs 15-30 s of load before
        # epoch and read times stop falling, longer than a run can warm up;
        # C1 levels off within seconds (METRICS.md, "JIT")
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    conf.update(extra or {})
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]", extra_conf=conf
    )


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM that pyspark launched for this process and wait for it
    (it exits when its stdin pipe closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=timeout)
    SparkContext._gateway = SparkContext._jvm = None


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def cpu_s() -> tuple[float, float]:
    """CPU seconds the program has used so far, as ``(total, jvm)``:
    this process (driver and HTTP server) plus the driver JVM and every
    process under it (its Python workers).

    A worker that exited and was waited for stays counted in its
    parent's ``cutime``/``cstime``. Time the processes waited for a core
    (taken by other processes or, on a VM, by the hypervisor) is not
    counted; on a shared host that waiting is much of what makes
    wall-clock time spread between runs of the same code (METRICS.md).
    """
    from pyspark import SparkContext

    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            fields = _stat(name)
        except OSError:  # exited meanwhile
            continue
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    me = stats.get(os.getpid()) or _stat(os.getpid())
    total, jvm = sum(int(x) for x in me[11:13]), 0  # utime + stime
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc.pid in stats:
        jvm = sum(int(x) for x in stats[gateway.proc.pid][11:13])
        stack = [gateway.proc.pid]
        while stack:
            pid = stack.pop()
            total += sum(int(x) for x in stats[pid][11:15])  # utime stime cutime cstime
            stack.extend(c for c in children.get(pid, ()) if c in stats)
    return total / _TICK, jvm / _TICK


class PointerPoller:
    """Polls a view store's commit pointer and records when each epoch
    first became visible (``time.perf_counter`` seconds). ``cpu`` is
    the CPU time its thread has used, so it can be left out of the
    program's."""

    def __init__(self, store, period: float = 0.005):
        self.store, self.period = store, period
        self.seen: dict[int, float] = {}
        self.cpu = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            try:
                cur = self.store.current()
            except (OSError, ValueError):  # pointer mid-replace
                cur = None
            now = time.perf_counter()
            if cur is not None and cur.get("epoch") is not None:
                self.seen.setdefault(cur["epoch"], now)
            self.cpu = time.thread_time()
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def visible_at(self, batch: int) -> float | None:
        """When the first snapshot holding ``batch`` became visible."""
        times = [t for e, t in self.seen.items() if e >= batch]
        return min(times) if times else None


def source_batches(checkpoint: str) -> dict[str, int]:
    """File path → micro-batch id, from the file source's log in the
    streaming checkpoint."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    entry = json.loads(line)
                    out[entry["path"].removeprefix("file://")] = entry["batchId"]
    return out


def event_key(ev: dict) -> tuple:
    """Identity of a command envelope: deletes carry only the id."""
    return (ev["action"], ev["id"], ev.get("updated_at"))


def batches_by_event(checkpoint: str) -> dict[tuple, int]:
    """Command-envelope key → the micro-batch that read it."""
    out = {}
    for path, batch in source_batches(checkpoint).items():
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    out[event_key(json.loads(line))] = batch
    return out


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


def read_view(spark, store) -> dict[str, tuple]:
    """The served view as ``{id: (title, content, priority, author,
    created_us, updated_us)}``."""
    from pyspark.sql import functions as F

    view = store.read_live(spark)
    if view is None:
        return {}
    rows = view.select(
        "id", "title", "content", "priority", "author",
        F.unix_micros("created_at"), F.unix_micros("updated_at"),
    ).collect()
    return {r[0]: tuple(r[1:]) for r in rows}


def view_mismatches(got: dict, want: dict) -> int:
    """Ids whose served row differs from the reference (missing, extra
    or with other fields)."""
    return sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
