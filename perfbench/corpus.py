"""The ``corpus_prep`` workload: ``pipeline.prepare_training_corpus`` with
the default ``CorpusRecipe`` over a seeded documents table, job after
job."""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass

from nexus_event_stream_spark.pipeline import CorpusRecipe, prepare_training_corpus
from nexus_event_stream_spark.schemas import TABLE_SCHEMAS

import gen
from common import Outcome, cpu_s
from stats import median
from tracing import fold_event_log, spark_layers

STAGES = ("quality", "pii", "exact_dedup", "near_dedup")


@dataclass
class CorpusScale:
    n_docs: int = 2000
    # job time and CPU keep falling over the first jobs of a JVM
    warm_jobs: int = 4
    min_jobs: int = 5


def check_corpus(got: dict[int, str], input_ids: set, expected: dict[int, str]) -> list[str]:
    """Problems with one job's output (empty when it is right)."""
    problems = []
    if not set(got) <= input_ids:
        problems.append("output ids outside the input")
    digests = [hashlib.md5(t.encode()).hexdigest() for t in got.values()]
    if len(set(digests)) != len(digests):
        problems.append("two outputs share an exact-dedup hash")
    if len(got) != len(expected):
        problems.append(f"{len(got)} rows, expected {len(expected)}")
    if gen.content_hash(got.items()) != gen.content_hash(expected.items()):
        problems.append("content hash differs from the expected corpus")
    return problems


@dataclass
class Inputs:
    rows: list
    expected: dict
    scale: CorpusScale


class Corpus:
    def __init__(self, spark, work: str, inputs: Inputs, tracer=None):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.rows, self.expected, self.scale = inputs.rows, inputs.expected, inputs.scale
        self.input_ids = {r[0] for r in self.rows}

    @staticmethod
    def inputs(seed: int, scale: CorpusScale | None = None) -> Inputs:
        scale = scale or CorpusScale()
        return Inputs(*gen.corpus(seed, scale.n_docs), scale)

    def setup(self) -> None:
        path = os.path.join(self.work, "documents")
        schema = TABLE_SCHEMAS["documents"]
        self.spark.createDataFrame(self.rows, schema).write.mode("overwrite").parquet(path)
        self.docs = self.spark.read.schema(schema).parquet(path)

    def _release(self) -> None:
        """Drop what a job persisted (its dedup stages pin data)."""
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def _job(self, out: Outcome) -> tuple[float, float, float]:
        """One preparation, checked: its wall seconds and the CPU
        seconds it used in all and in the JVM."""
        (cpu, jvm), t = cpu_s(), time.perf_counter()
        corpus, _ = prepare_training_corpus(self.docs, CorpusRecipe())
        got = {r[0]: r[1] for r in corpus.select("doc_id", "text").collect()}
        dt = time.perf_counter() - t
        cost = [c1 - c0 for c0, c1 in zip((cpu, jvm), cpu_s())]
        self._release()
        problems = check_corpus(got, self.input_ids, self.expected)
        out.attempted += 1
        if problems:
            out.correct = False
            out.failed += 1
            out.notes.extend(problems)
        return dt, *cost

    def measure(self, seconds: float, event_log: str | None = None) -> Outcome:
        out = Outcome()
        for _ in range(self.scale.warm_jobs):
            self._job(out)
        jobs = []
        t0, wall0 = time.perf_counter(), time.time()
        while time.perf_counter() - t0 < seconds or len(jobs) < self.scale.min_jobs:
            jobs.append(self._job(out))
        wall1 = time.time()
        wall, cpu, jvm, py = (
            median(x) * 1000 for x in zip(*[(d, c, j, c - j) for d, c, j in jobs])
        )
        out.e2e = {"cpu_ms_per_op": cpu}
        out.layers = {
            "cpu.jvm_ms_per_op": jvm,
            "cpu.python_ms_per_op": py,
            "e2e.job_p50_ms": wall,
            "e2e.docs_per_s": self.scale.n_docs / wall * 1000,
        }
        out.samples = {k: len(jobs) for k in ("cpu_ms_per_op", *out.layers)}
        if self.tracer is not None:
            ev = fold_event_log(self.spark, event_log, wall0, wall1)
            out.layers.update(spark_layers(ev, wall1 - wall0))
            out.layers.update(self._stage_layers())
        return out

    def _stage_layers(self) -> dict:
        """Materialise each returned stage in order: its time and the
        share of its input rows it kept."""
        _, stages = prepare_training_corpus(self.docs, CorpusRecipe())
        layers, rows_in = {}, self.scale.n_docs
        for name in STAGES:
            with self.tracer.span(f"pipeline.{name}"):
                t = time.perf_counter()
                n = stages[name].count()
                layers[f"pipeline.{name}_s"] = time.perf_counter() - t
            layers[f"pipeline.{name}_rows"] = n / rows_in
            rows_in = n
        self._release()
        return layers

    def teardown(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
