"""The benchmark's own checks: its percentile rule, its reference
answers, a tiny run of each workload, and its refusal to run without the
program.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

import pytest

import gen
from stats import NotEnoughSamples, median, percentile

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


# -- percentiles ---------------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    assert percentile(range(1, 201), 95) == 190
    with pytest.raises(NotEnoughSamples):
        percentile(range(1, 200), 95)
    assert percentile(range(1, 101), 90) == 90
    with pytest.raises(NotEnoughSamples):
        percentile(range(1, 100), 90)


def test_median_needs_one_sample():
    assert median([3.0]) == 3.0
    assert median([1, 2, 3, 10]) == 2.5
    with pytest.raises(NotEnoughSamples):
        median([])


# -- reference last-write-wins fold ----------------------------------------------


def _ev(action, id_, ts=None, title="t", created="2024-01-01T00:00:00+00:00"):
    if action == "deleted":
        return {"action": action, "id": id_}
    return {"action": action, "id": id_, "title": title, "content": "c",
            "priority": "Low", "author": "a", "created_at": created,
            "updated_at": ts}


def test_lww_fold_newest_wins_in_any_order():
    old = _ev("created", "a", "2024-01-01T00:00:01+00:00", title="old")
    new = _ev("updated", "a", "2024-01-01T00:00:02.5+00:00", title="new")
    for events in ([old, new], [new, old]):
        assert gen.lww_fold(events)["a"][0] == "new"


def test_lww_fold_ties_break_on_title():
    a = _ev("updated", "a", "2024-01-01T00:00:01+00:00", title="alpha")
    b = _ev("updated", "a", "2024-01-01T00:00:01+00:00", title="beta")
    assert gen.lww_fold([b, a])["a"][0] == "beta"


def test_lww_fold_delete_evicts_for_good():
    events = [
        _ev("created", "a", "2024-01-01T00:00:01+00:00"),
        _ev("created", "b", "2024-01-01T00:00:01+00:00"),
        _ev("deleted", "a"),
        _ev("updated", "a", "2024-01-01T00:00:09+00:00"),  # redelivered late
    ]
    assert set(gen.lww_fold(events)) == {"b"}


def test_lww_fold_keeps_microseconds():
    row = gen.lww_fold([_ev("created", "a", "1970-01-01T00:00:01.000007+00:00")])["a"]
    assert row[5] == 1_000_007


# -- seeded inputs ---------------------------------------------------------------


def test_inputs_are_fixed_by_the_seed():
    assert gen.seed_signals(1, 50) == gen.seed_signals(1, 50)
    assert gen.seed_signals(1, 50) != gen.seed_signals(2, 50)
    assert gen.corpus(3, 100) == gen.corpus(3, 100)


def test_corpus_expectation_is_pinned():
    rows, expected = gen.corpus(1, 300)
    assert len(rows) == 300 and len(expected) == 258
    assert gen.content_hash(expected.items()) == (
        "ea85e2d29182b4e875a3b57f61ca5ab3146cc6f8c73ec00a774548824d729343"
    )


def test_command_mix_never_deletes_seeded_ids():
    seeded = [f"s{i}" for i in range(20)]
    mix = gen.CommandMix(1, seeded)
    created = 0
    for _ in range(500):
        kind, target, _ = mix.next_op(created)
        if kind == "create":
            created += 1
        elif kind == "delete":
            assert isinstance(target, int) and target < created
        else:
            assert target in seeded


# -- tiny runs of each workload ----------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from common import start_spark

    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, BENCH])
    s = start_spark(str(tmp_path_factory.mktemp("spark")), 2)
    yield s
    s.stop()


def test_live_smoke(spark, tmp_path):
    import cqrs

    scale = cqrs.LiveScale(n_seed=60, write_rate=25.0, read_rate=15.0, warm_s=0.5)
    w = cqrs.Live(spark, str(tmp_path / "live"), cqrs.Live.inputs(5, scale))
    w.setup()
    try:
        out = w.measure(4.0)
    finally:
        w.teardown()
    assert out.correct and out.failed == 0, out.notes
    assert out.samples["e2e.fresh_p50_ms"] == 100 and out.samples["e2e.read_p50_ms"] == 120
    assert out.samples["cpu_ms_per_op"] == 220
    assert out.e2e["cpu_ms_per_op"] > 0 and out.layers["e2e.read_p90_ms"] > 0


def test_replay_smoke(spark, tmp_path):
    import cqrs

    scale = cqrs.ReplayScale(n_seed=300, n_backlog=200)
    w = cqrs.Replay(spark, str(tmp_path / "replay"), cqrs.Replay.inputs(5, scale))
    w.setup()
    try:
        out = w.measure(4.0)
    finally:
        w.teardown()
    assert out.correct and out.failed == 0, out.notes
    assert out.layers["replay_per_s"] > 0 and out.layers["cpu_ms_per_cmd"] > 0


def test_corpus_smoke(spark, tmp_path):
    import corpus

    scale = corpus.CorpusScale(n_docs=300, warm_jobs=0, min_jobs=1)
    w = corpus.Corpus(spark, str(tmp_path / "corpus"), corpus.Corpus.inputs(5, scale))
    w.setup()
    try:
        out = w.measure(0.0)
    finally:
        w.teardown()
    assert out.correct and out.failed == 0, out.notes
    assert out.e2e["cpu_ms_per_op"] > 0 and out.layers["e2e.docs_per_s"] > 0


def test_corpus_check_flags_a_wrong_output():
    import corpus

    rows, expected = gen.corpus(5, 200)
    ids = {r[0] for r in rows}
    assert corpus.check_corpus(dict(expected), ids, expected) == []
    dup = dict(expected)
    k1, k2 = sorted(dup)[:2]
    dup[k2] = dup[k1]
    assert corpus.check_corpus(dup, ids, expected)
    assert corpus.check_corpus({**expected, 10**9: "x"}, ids, expected)


# -- CPU time of the program ----------------------------------------------------------


def test_cpu_counts_python_workers(spark):
    from common import cpu_s

    def burn(rows):  # nested, so it is pickled by value
        t = time.process_time()
        while time.process_time() - t < 0.5:
            pass
        return rows

    (total0, jvm0) = cpu_s()
    spark.sparkContext.parallelize([1], 1).mapPartitions(burn).collect()
    total1, jvm1 = cpu_s()
    assert (total1 - jvm1) - (total0 - jvm0) >= 0.45  # the worker, not the JVM


def test_cpu_leaves_out_other_children():
    from common import cpu_s

    before = cpu_s()[0]
    proc = subprocess.run(
        [sys.executable, "-c",
         "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"],
        timeout=60,
    )
    assert proc.returncode == 0
    assert cpu_s()[0] - before < 0.2


# -- the command fails without the program -------------------------------------------


def test_run_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cqrs_live",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_spans_record_their_parent():
    from tracing import Tracer

    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert inner[2] == "inner" and outer[2] == "outer"
    assert inner[1] == outer[0] and outer[1] is None
    assert len(tr.durations_ms("inner")) == 1
