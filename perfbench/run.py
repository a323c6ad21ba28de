"""Benchmark of the engine's CQRS loop and corpus pipeline.

    python3 perfbench/run.py --workload cqrs_live --seed 1 --seconds 20 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` first repeats that untraced
window, then measures the same workload again with spans and the Spark
event log on and reports the per-layer metrics, including the tracing
overhead between the two windows. Every metric is printed with its unit,
and the last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The metric names and units come from ``BENCHMARK.json``; METRICS.md says
what each measures and which end-to-end metric each layer should move.
A run whose outputs differ from the reference answers exits with 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

#: set-ups per timed run; ``setup_s`` is their median
SETUPS = 3

#: seconds of each backlog catch-up in the ``cqrs_live`` traced run
REPLAY_SECONDS = 6

#: per-layer metrics each workload leaves idle (reported as 0)
IDLE = {
    "cqrs_live": ("pipeline.", "e2e.job", "e2e.docs"),
    "corpus_prep": (
        "command.", "serving", "sources.", "streaming", "e2e.fresh", "e2e.read",
        "bench.gen_late", "spark.serial_replay_per_s", "cpu.replay",
    ),
}


def _workload(name: str):
    import corpus
    import cqrs

    return {"cqrs_live": cqrs.Live, "corpus_prep": corpus.Corpus}[name]


def timed(cls, seed: int, seconds: float, cores: int, work: str, setups: int = SETUPS):
    """End-to-end metrics: ``setups`` set-ups (the last is measured)."""
    from common import start_spark
    from stats import median

    inputs = cls.inputs(seed)
    times = []
    for i in range(setups):
        t = time.perf_counter()
        spark = start_spark(work, cores)
        w = cls(spark, os.path.join(work, f"run{i}"), inputs)
        w.setup()
        times.append(time.perf_counter() - t)
        if i < setups - 1:
            w.teardown()
            spark.stop()
    try:
        out = w.measure(seconds)
    finally:
        w.teardown()
        spark.stop()
    out.e2e["setup_s"] = median(times)
    out.samples["setup_s"] = setups
    return out


def traced(cls, name: str, seed: int, seconds: float, cores: int, work: str):
    """Per-layer metrics from a traced window, after an untraced run
    made as ``timed`` makes it, with one set-up. For ``cqrs_live`` the
    projection also catches up on a backlog (``cqrs.Replay``) at
    ``local[cores]`` and at ``local[1]``."""
    from common import start_spark
    from tracing import Tracer, event_log_conf, jvm_heap_live_mb

    base = timed(cls, seed, seconds, cores, work, setups=1)

    def window(kind, tag, secs=seconds, tracer=None, event_log=None, n_cores=cores):
        conf = None if event_log is None else event_log_conf(event_log)
        spark = start_spark(work, n_cores, conf)
        w = kind(spark, os.path.join(work, tag), kind.inputs(seed), tracer)
        try:
            w.setup()
            out = w.measure(secs) if tracer is None else w.measure(secs, event_log)
            if tracer is not None:
                out.layers["spark.jvm_heap_live_mb"] = jvm_heap_live_mb(spark)
            return out
        finally:
            w.teardown()
            spark.stop()

    tracer = Tracer()
    out = window(cls, "traced", tracer=tracer, event_log=os.path.join(work, "eventlog"))
    out.layers["bench.trace_overhead_pct"] = (
        out.e2e["cpu_ms_per_op"] / base.e2e["cpu_ms_per_op"] - 1
    ) * 100
    runs = [base, out]
    if name == "cqrs_live":
        import cqrs

        replay = window(cqrs.Replay, "replay", REPLAY_SECONDS)
        serial = window(cqrs.Replay, "serial", REPLAY_SECONDS, n_cores=1)
        out.layers["streaming.replay_per_s"] = replay.layers["replay_per_s"]
        out.layers["cpu.replay_ms_per_cmd"] = replay.layers["cpu_ms_per_cmd"]
        out.layers["spark.serial_replay_per_s"] = serial.layers["replay_per_s"]
        runs += [replay, serial]
    os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"), exist_ok=True)
    tracer.dump(os.path.join(ROOT, ".perfbench_work", "traces", f"{name}-seed{seed}.json"))
    out.attempted = sum(r.attempted for r in runs)
    out.failed = sum(r.failed for r in runs)
    out.correct = all(r.correct for r in runs)
    out.notes = [n for r in runs for n in r.notes]
    out.samples.update({f"untraced {k}": v for k, v in base.samples.items()})
    out.untraced = base.e2e
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(IDLE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4, help="Spark local[N]")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    import nexus_event_stream_spark as program  # fails fast without the program

    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        raise RuntimeError(f"the program found is not the one under {ROOT}")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    cls = _workload(args.workload)
    try:
        if args.trace:
            out = traced(cls, args.workload, args.seed, args.seconds, args.cores, work)
        else:
            out = timed(cls, args.seed, args.seconds, args.cores, work)
    finally:
        from common import stop_jvm

        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        if m["name"] in out.e2e or m["name"] in out.layers:
            value = out.e2e.get(m["name"], out.layers.get(m["name"]))
        elif m["name"].startswith(IDLE[args.workload]):
            value = 0
        else:
            raise RuntimeError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}

    def show(label, value, unit, n):
        print(f"  {label} = {value:.6g} {unit}" + (f"  (n={n})" if n else ""))

    print(f"{args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    if args.trace:
        for m in spec["end_to_end"]:
            if m["name"] == "setup_s":  # one set-up, JVM launch included
                continue
            label = f"untraced {m['name']}"
            show(label, out.untraced[m["name"]], m["unit"], out.samples.get(label))
    for k, m in metrics.items():
        show(k, m["value"], m["unit"], out.samples.get(k))
    if not args.trace:  # what the untraced window measured on the way
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for k in sorted(out.layers):
            show(f"({k})", out.layers[k], units.get(k, ""), out.samples.get(k))
    for note in out.notes:
        print(f"  check: {note}")
    print(json.dumps({
        "correct": out.correct,
        "attempted": max(out.attempted, 1),
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0 if out.correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # report and fail without a result line
        traceback.print_exc()
        sys.exit(1)
