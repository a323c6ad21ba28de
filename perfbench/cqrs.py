"""The CQRS workloads: ``cqrs_live`` (writes and reads over HTTP while the
projection folds) and ``cqrs_replay`` (a restarted projection catching up
on a backlog).

Both run the system as shipped: ``SignalCommands`` appends one file per
command to the event log, ``start_projection`` folds
``file_event_stream`` → ``parse_events`` into a ``ParquetViewStore``,
and ``SignalService`` reads it, behind ``serving_http.serve`` for
``cqrs_live``.
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field

from nexus_event_stream_spark.command import SignalCommands
from nexus_event_stream_spark.serving import SignalService
from nexus_event_stream_spark.serving_http import serve
from nexus_event_stream_spark.sources.streams import file_event_stream, parse_events
from nexus_event_stream_spark.streaming.projection import (
    ParquetViewStore,
    start_projection,
)

import gen
from common import (
    Outcome,
    PointerPoller,
    batches_by_event,
    cpu_s,
    dir_mb,
    event_key,
    read_view,
    source_batches,
    view_mismatches,
)
from stats import median, percentile
from tracing import TracedCommands, TracedService, fold_event_log, spark_layers

SEED_FILE = "cmd-00000000.json"  # sorts before every command file


@dataclass
class LiveScale:
    n_seed: int = 3000
    # a write every 2 s leaves each its own epoch, so the work a run
    # does is the same however fast the host is (METRICS.md)
    write_rate: float = 0.5  # writes per second, open loop
    readers: int = 2  # reader connections
    read_rate: float = 3.0  # reads per second per reader, open loop
    warm_s: float = 10.0
    drain_s: float = 60.0


@dataclass
class ReplayScale:
    n_seed: int = 20_000
    n_backlog: int = 1500


def _progress(query, wall0: float, wall1: float) -> list[dict]:
    """Progress of the micro-batches that read data and started in the
    window ``[wall0, wall1]`` (epoch seconds)."""
    out = []
    for p in query.recentProgress:
        ts = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        if p["numInputRows"] > 0 and "addBatch" in p["durationMs"] and wall0 <= ts <= wall1:
            out.append(p)
    return out


def _stream_layers(progress: list[dict], checkpoint: str) -> dict:
    files = {}
    for b in source_batches(checkpoint).values():
        files[b] = files.get(b, 0) + 1
    n = len(progress)
    if n == 0:
        raise RuntimeError("no micro-batch ran in the window")
    trig = [p["durationMs"]["triggerExecution"] for p in progress]
    add = [p["durationMs"]["addBatch"] for p in progress]
    return {
        "streaming.epochs": n,
        "sources.streams.files_per_epoch": sum(files.get(p["batchId"], 0) for p in progress) / n,
        "sources.streams.rows_per_epoch": sum(p["numInputRows"] for p in progress) / n,
        "streaming.trigger_ms_p50": median(trig),
        "streaming.overhead_ms_p50": median([t - a for t, a in zip(trig, add)]),
        "streaming.projection.apply_ms_p50": median(add),
    }


def _backlog_files(log_dir: str, checkpoint: str) -> int:
    read = {os.path.basename(p) for p in source_batches(checkpoint)}
    return sum(
        1 for f in os.listdir(log_dir)
        if f.startswith("cmd-") and f.endswith(".json") and f not in read
    )


def _http(port: int, method: str, path: str, body=None, timeout: float = 30.0):
    """One request on its own connection → ``(status, parsed body)``;
    status 0 when the request did not complete."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        data = None if body is None else json.dumps(body).encode()
        headers = {} if data is None else {"Content-Type": "application/json"}
        conn.request(method, path, body=data, headers=headers)
        resp = conn.getresponse()
        payload = resp.read()
        return resp.status, (json.loads(payload) if payload else None)
    except (OSError, http.client.HTTPException, ValueError):
        return 0, None
    finally:
        conn.close()


@dataclass
class Inputs:
    """What a seed fixes: the seeded view's events and the load's size."""

    seed: int
    events: list
    scale: object
    ops: list = field(default_factory=list)  # a backlog's commands


class _Cqrs:
    """Event log, projection and view store under one work directory."""

    Scale = None

    def __init__(self, spark, work: str, inputs: Inputs, tracer=None):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.seed, self.scale = inputs.seed, inputs.scale
        self.seed_events, self.ops = inputs.events, inputs.ops
        self.log = os.path.join(work, "log")
        self.ckpt = os.path.join(work, "ckpt")
        self.store = ParquetViewStore(os.path.join(work, "view"))
        self.query = None

    @classmethod
    def inputs(cls, seed: int, scale=None) -> Inputs:
        scale = scale or cls.Scale()
        return Inputs(seed, gen.seed_signals(seed, scale.n_seed), scale)

    def _start_query(self):
        events = parse_events(file_event_stream(self.spark, self.log))
        self.query = start_projection(self.spark, events, self.store.path, self.ckpt)

    def _seed(self) -> list[dict]:
        os.makedirs(self.log, exist_ok=True)
        gen.write_event_file(os.path.join(self.log, SEED_FILE), self.seed_events)
        self._start_query()
        self.query.processAllAvailable()
        return list(self.seed_events)

    def _check(self, out: Outcome, events: list[dict]) -> None:
        bad = view_mismatches(read_view(self.spark, self.store), gen.lww_fold(events))
        out.attempted += 1
        if bad:
            out.correct = False
            out.failed += 1
            out.notes.append(f"{bad} ids differ from the reference fold")

    def teardown(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
        shutil.rmtree(self.work, ignore_errors=True)


class Live(_Cqrs):
    """One open-loop writer connection and closed-loop readers over HTTP."""

    Scale = LiveScale

    def __init__(self, spark, work, inputs, tracer=None):
        super().__init__(spark, work, inputs, tracer)
        self.writes: list[dict] = []
        self.created: list[str] = []

    def setup(self) -> None:
        self.events = self._seed()
        self.seed_ids = [e["id"] for e in self.events]
        self.mix = gen.CommandMix(self.seed, self.seed_ids)
        commands = SignalCommands(self.log)
        service = SignalService(self.spark, self.store)
        if self.tracer is not None:
            commands = TracedCommands(commands, self.tracer)
            service = TracedService(service, self.tracer)
        self.server = serve(service, commands=commands)
        self.port = self.server.server_address[1]
        if _http(self.port, "GET", "/health")[0] != 200:
            raise RuntimeError("server not healthy after seeding")
        self.poller = PointerPoller(self.store).__enter__()

    def teardown(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.poller.__exit__()
        super().teardown()

    # -- load ------------------------------------------------------------

    def _write(self, kind, target, fields):
        """Send one command; returns ``(status, event sent or None)``."""
        if kind == "create":
            status, body = _http(self.port, "POST", "/signals", fields)
            if status == 201:
                self.created.append(body["id"])
                return status, {"action": "created", **body}
        elif kind == "update":
            status, body = _http(self.port, "PUT", f"/signals/{target}", fields)
            if status == 200:
                return status, {"action": "updated", **body}
        else:
            id_ = self.created[target]
            status, _ = _http(self.port, "DELETE", f"/signals/{id_}")
            if status == 204:
                return status, {"action": "deleted", "id": id_}
        return status, None

    def _load(self, seconds: float, timed: bool, reads: list) -> float:
        """Writer and readers, each on its own fixed schedule, for
        ``seconds``; returns the CPU seconds their threads used."""
        t0 = time.perf_counter()
        scale = self.scale
        cpu = []

        def writer():
            c = time.thread_time()
            k = 0
            while (due := t0 + k / scale.write_rate) < t0 + seconds:
                time.sleep(max(0.0, due - time.perf_counter()))
                sent = time.perf_counter()
                status, ev = self._write(*self.mix.next_op(len(self.created)))
                self.writes.append(
                    {"due": due, "sent": sent, "ack": time.perf_counter(),
                     "status": status, "ev": ev, "timed": timed}
                )
                k += 1
            cpu.append(time.thread_time() - c)

        def reader(i: int):
            c = time.thread_time()
            hot = gen.Zipf(self.seed_ids, random.Random(self.seed * 31 + i))
            period = 1 / scale.read_rate
            k = 0
            while (due := t0 + (k + i / scale.readers) * period) < t0 + seconds:
                time.sleep(max(0.0, due - time.perf_counter()))
                # the three queries in turn, so every run reads the same mix
                n = k + i
                path = {
                    "list": "/signals",
                    "filter": f"/signals?priority={gen.PRIORITIES[n // 3 % 3]}",
                    "get": f"/signals/{hot.draw()}",
                }[kind := ("list", "filter", "get")[n % 3]]
                start = time.perf_counter()
                status, _ = _http(self.port, "GET", path)
                reads.append((kind, due, start, time.perf_counter(), status))
                k += 1
            cpu.append(time.thread_time() - c)

        threads = [threading.Thread(target=reader, args=(i,)) for i in range(scale.readers)]
        for t in threads:
            t.start()
        writer()
        for t in threads:
            t.join(timeout=60)
        return sum(cpu)

    def measure(self, seconds: float, event_log: str | None = None) -> Outcome:
        self._load(self.scale.warm_s, timed=False, reads=[])
        reads: list = []
        (cpu0, jvm0), poll0 = cpu_s(), self.poller.cpu
        t0, wall0 = time.perf_counter(), time.time()
        client = self._load(seconds, timed=True, reads=reads)
        t1, wall1 = t0 + seconds, wall0 + seconds
        (cpu1, jvm1), poll1 = cpu_s(), self.poller.cpu
        backlog = _backlog_files(self.log, self.ckpt)

        drained = threading.Thread(target=self.query.processAllAvailable, daemon=True)
        drained.start()
        drained.join(timeout=self.scale.drain_s)

        out = Outcome()
        batch_of = batches_by_event(self.ckpt)
        fresh, late = [], []
        for w in self.writes:
            out.attempted += 1
            ev = w["ev"]
            batch = None if ev is None else batch_of.get(event_key(ev))
            seen = None if batch is None else self.poller.visible_at(batch)
            if seen is None:
                out.failed += 1  # refused, or not visible by the drain deadline
            elif w["timed"]:
                fresh.append((seen - w["due"]) * 1000)
                late.append((w["sent"] - w["due"]) * 1000)
        ok = [r for r in reads if 200 <= r[4] < 300]
        out.attempted += len(reads)
        out.failed += len(reads) - len(ok)
        read_ms = [(r[3] - r[1]) * 1000 for r in ok]  # from the due time
        late += [(r[2] - r[1]) * 1000 for r in reads]

        # the program's CPU: the process tree less the client's threads
        ops = len(ok) + sum(1 for w in self.writes if w["timed"] and w["ev"])
        program = cpu1 - cpu0 - client - (poll1 - poll0)
        jvm = jvm1 - jvm0
        out.e2e = {"cpu_ms_per_op": program * 1000 / ops}
        out.samples = {"cpu_ms_per_op": ops}
        out.layers = {
            "cpu.jvm_ms_per_op": jvm * 1000 / ops,
            "cpu.python_ms_per_op": (program - jvm) * 1000 / ops,
            "e2e.fresh_p50_ms": median(fresh),
            "e2e.read_p50_ms": median(read_ms),
            "serving_http.write_ack_ms": median(
                [(w["ack"] - w["sent"]) * 1000 for w in self.writes if w["timed"]]
            ),
            "streaming.projection.backlog_files": backlog,
            "streaming.projection.view_mb": dir_mb(
                os.path.join(self.store.path, f"v={self.store.current()['version']}")
            ),
        }
        out.samples.update({"e2e.fresh_p50_ms": len(fresh), "e2e.read_p50_ms": len(read_ms)})
        for name, values in (("e2e.read_p90_ms", read_ms), ("bench.gen_late_p90_ms", late)):
            out.layers[name] = percentile(values, 90)
            out.samples[name] = len(values)
        if self.tracer is not None:
            self._traced_layers(out, ok, t0, t1, wall0, wall1, event_log)
        self._check(out, self.events + [w["ev"] for w in self.writes if w["ev"]])
        return out

    def _traced_layers(self, out, reads, t0, t1, wall0, wall1, event_log):
        tr = self.tracer
        calls = {k: tr.durations_ms(f"serving.{k}", t0, t1) for k in ("list", "filter", "get")}
        service_ms = calls["list"] + calls["filter"] + calls["get"]
        out.layers.update(
            {
                "command.append_ms": median(tr.durations_ms("command.append", t0, t1)),
                "serving.list_ms": median(calls["list"]),
                "serving.filter_ms": median(calls["filter"]),
                "serving.get_ms": median(calls["get"]),
                "serving_http.overhead_ms": median([(r[3] - r[2]) * 1000 for r in reads])
                - median(service_ms),
            }
        )
        out.layers.update(_stream_layers(_progress(self.query, wall0, wall1), self.ckpt))
        ev = fold_event_log(self.spark, event_log, wall0, wall1)
        epochs = out.layers["streaming.epochs"]
        out.layers["serving.jobs_per_read"] = ev["serving_jobs"] / len(service_ms)
        out.layers["streaming.projection.jobs_per_epoch"] = (ev["jobs"] - ev["serving_jobs"]) / epochs
        out.layers.update(spark_layers(ev, wall1 - wall0))


class Replay(_Cqrs):
    """A projection restarted over a large view and a command backlog."""

    Scale = ReplayScale

    @classmethod
    def inputs(cls, seed: int, scale=None) -> Inputs:
        inputs = super().inputs(seed, scale)
        mix = gen.CommandMix(seed, [e["id"] for e in inputs.events])
        n_created = 0
        for _ in range(inputs.scale.n_backlog):
            op = mix.next_op(n_created)
            n_created += op[0] == "create"
            inputs.ops.append(op)
        return inputs

    def setup(self) -> None:
        self.events = self._seed()
        self.query.stop()
        self.query = None
        commands = SignalCommands(self.log)
        created: list[str] = []
        for kind, target, fields in self.ops:
            if kind == "create":
                id_ = commands.create(fields["title"], fields["content"], priority=fields["priority"])
                created.append(id_)
                ev = {"action": "created", **commands.get(id_)}
            elif kind == "update":
                commands.update(target, **fields)
                ev = {"action": "updated", **commands.get(target)}
            else:
                commands.delete(created[target])
                ev = {"action": "deleted", "id": created[target]}
            self.events.append(ev)

    def measure(self, seconds: float) -> Outcome:
        with PointerPoller(self.store) as poller:
            cpu0, poll0 = cpu_s()[0], poller.cpu
            t0 = time.perf_counter()
            self._start_query()
            time.sleep(max(0.0, t0 + seconds - time.perf_counter()))
            t1 = time.perf_counter()
            cpu1, poll1 = cpu_s()[0], poller.cpu
            self.query.stop()
            self.query = None
        files = {}
        for b in source_batches(self.ckpt).values():
            files[b] = files.get(b, 0) + 1
        done = sorted(
            (t, b) for b, t in poller.seen.items() if b >= 1 and t <= t1
        )
        if len(done) < 2:
            raise RuntimeError("fewer than two epochs committed in the window")
        steady = sum(files[b] for _, b in done[1:])
        out = Outcome()
        out.attempted = sum(files[b] for _, b in done)
        out.layers = {
            "replay_per_s": steady / (done[-1][0] - done[0][0]),
            "cpu_ms_per_cmd": (cpu1 - cpu0 - (poll1 - poll0)) * 1000 / out.attempted,
        }
        out.samples = {"replay_per_s": steady, "cpu_ms_per_cmd": out.attempted}

        batch_of = batches_by_event(self.ckpt)
        epoch = self.store.current()["epoch"]
        folded = [e for e in self.events if batch_of.get(event_key(e), epoch + 1) <= epoch]
        self._check(out, folded)
        return out
