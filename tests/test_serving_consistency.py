"""Read-consistency pins for the read services (/signals, /search,
/similar) under concurrent republish — VERDICT r10 item 8.

The contract: each request reads the store pointer ONCE and every
pointer-derived input (bucket paths, corpus counters, tombstones, epoch
dirs) resolves under that snapshot. A commit landing mid-request serves
the OLD index or the NEW one — never new postings normalized by old
counters, never a missing-file error mid-compact (one-generation dir
grace). Both pointer-commit backends.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nexus_event_stream_spark.serving import (
    SearchService,
    SignalService,
    SimilarService,
)
from nexus_event_stream_spark.streaming.commit import (
    ConditionalPutBackend,
    PosixRenameBackend,
)

#: r15 two-tier suite (VERDICT r14 #6): this module is a multi-second
#: store/protocol INTEGRATION suite — the dominant cost of the ~93-min
#: full run that outgrew the driver's verification window. Skipped by
#: default (SPARK_GRAFT_FULL_TESTS=1 runs it); the operators it
#: exercises keep fast-tier unit coverage in the sibling suites.
pytestmark = pytest.mark.slow


@pytest.fixture(params=["rename", "cas"])
def backend(request):
    return (
        PosixRenameBackend() if request.param == "rename"
        else ConditionalPutBackend()
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(result):
    return [(r.doc_id, round(r.score, 9), r.rank) for r in result]


def test_search_pins_one_snapshot_across_a_racing_commit(
    spark, tmp_path, backend, monkeypatch
):
    from nexus_event_stream_spark.streaming.search_index import BM25IndexStore

    store = BM25IndexStore(
        str(tmp_path / "idx"), n_buckets=8, backend=backend
    )
    batch0 = _docs(
        spark,
        [
            (1, "alpha river crossing and the old stone bridge"),
            (2, "alpha mountain pass closed for the winter season"),
            (3, "market prices for grain and salted fish"),
        ],
    )
    store.apply_batch(spark, batch0, 0)
    svc = SearchService(spark, store, max_df_frac=0.98)
    r0 = _rows(svc.search("alpha river"))
    assert r0  # baseline answer under the epoch-0 snapshot
    cur0 = store.current()

    # epoch 1 republish: new docs shift n_docs/df AND add a novel term
    store.apply_batch(
        spark,
        _docs(
            spark,
            [
                (4, "alpha alpha alpha river river zeta"),
                (5, "zeta protocols for the northern survey"),
            ],
        ),
        1,
    )
    fresh = _rows(svc.search("alpha river"))
    assert fresh != r0  # the republish is visible to NEW requests

    # a request whose pointer read happened BEFORE the commit: pinning
    # cur0 must reproduce the epoch-0 answer exactly — counters,
    # postings, and ranks all from one snapshot
    pinned = store.query(
        spark, [(0, "alpha river")], k=50, max_df_frac=0.98, cur=cur0
    )
    assert [
        (r.doc_id, round(r.score, 9), r.rank)
        for r in sorted(pinned.collect(), key=lambda r: r.rank)
    ] == r0
    # the novel term does not exist under the pinned snapshot
    zeta = store.query(spark, [(0, "zeta")], k=5, cur=cur0)
    assert zeta is None or zeta.count() == 0

    # race simulation through the SERVICE: current() flips to the new
    # pointer right after the first read — a second internal pointer
    # read would mix snapshots; the service must answer purely from cur0
    calls = {"n": 0}
    real_current = store.current

    def racing_current():
        calls["n"] += 1
        return cur0 if calls["n"] == 1 else real_current()

    monkeypatch.setattr(store, "current", racing_current)
    assert _rows(svc.search("alpha river")) == r0
    assert calls["n"] == 1  # exactly one pointer read per request


def test_similar_pins_one_snapshot_across_append_and_compact(
    spark, tmp_path, backend, monkeypatch
):
    from nexus_event_stream_spark.operators.similarity import (
        ivf_train_centroids,
        pq_train_codebooks,
    )
    from nexus_event_stream_spark.streaming.ann_index import PQIndexStore

    rng = np.random.RandomState(7)
    vecs = rng.normal(size=(60, 16)).astype(float)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    cents = ivf_train_centroids(emb, n_centroids=4, iters=3)
    books = pq_train_codebooks(emb, m=4, ksub=16, iters=3)
    store = PQIndexStore(
        str(tmp_path / "ann"), cents, books, backend=backend
    )
    first = emb.filter(F.col("vec_id") < 30)
    store.append(first, 0, "run")
    svc = SimilarService(spark, store, emb)
    r0 = [(r.vec_id, r.rank) for r in svc.similar(3, k=5, nprobe=4)]
    assert r0
    cur0 = store.current()

    # epoch-1 append: the rest of the corpus (closer neighbors appear)
    store.append(emb.filter(F.col("vec_id") >= 30), 1, "run")
    cur1 = store.current()
    # pinned pre-append snapshot: neighbors come ONLY from the first 30
    pinned = store.search(emb, [(3, [float(x) for x in vecs[3]])], k=5, cur=cur0)
    got0 = [(r.vec_id, r.rank) for r in sorted(pinned.collect(), key=lambda r: r.rank)]
    assert got0 == r0
    assert all(v < 30 for v, _ in got0)

    # compact collapses the dirs; a request pinned to the PRE-compact
    # pointer must still read intact files (one-generation grace)
    import os

    assert store.compact(spark) == 2
    for d in cur1["dirs"]:
        assert os.path.exists(d)  # grace: not vacuumed at the swing
    pinned1 = store.search(emb, [(3, [float(x) for x in vecs[3]])], k=5, cur=cur1)
    fresh = [(r.vec_id, r.rank) for r in svc.similar(3, k=5, nprobe=4)]
    assert [
        (r.vec_id, r.rank)
        for r in sorted(pinned1.collect(), key=lambda r: r.rank)
    ] == fresh  # compact is row-identical — same answer either side

    # race simulation through the SERVICE: one pointer read per request.
    # cur0's epoch dir rides the compact's grace set (prev_dirs), so a
    # request that read the pointer just before the compact still scans
    # intact files and answers from ITS snapshot — first-30 only.
    calls = {"n": 0}
    real_current = store.current

    def racing_current():
        calls["n"] += 1
        return cur0 if calls["n"] == 1 else real_current()

    monkeypatch.setattr(store, "current", racing_current)
    got = [(r.vec_id, r.rank) for r in svc.similar(3, k=5, nprobe=4)]
    assert got == r0 and calls["n"] == 1
    monkeypatch.setattr(store, "current", real_current)

    # prev_dirs must survive intermediate appends (pointer-dict rule:
    # every commit site carries every key) so the NEXT compact — and
    # only it — vacuums the grace set
    store.append(emb.filter(F.col("vec_id") < 10), 2, "run")
    assert store.current().get("prev_dirs") == cur1["dirs"]
    for d in cur1["dirs"]:
        assert os.path.exists(d)  # still in grace through the append
    assert store.compact(spark) == 2  # compact dir + epoch-2 dir
    for d in cur1["dirs"]:
        assert not os.path.exists(d)  # previous grace set vacuumed now

    # a pointer held across TWO compacts is beyond the grace window —
    # its dirs are gone, and the read must fail with the named expiry
    # error (retry-with-fresh-pointer signal), never a raw path error
    from nexus_event_stream_spark.streaming.ann_index import (
        SnapshotExpiredError,
    )

    calls["n"] = 0
    monkeypatch.setattr(store, "current", racing_current)
    with pytest.raises(SnapshotExpiredError, match="vacuumed"):
        svc.similar(3, k=5, nprobe=4)
    monkeypatch.setattr(store, "current", real_current)
    # fresh pointer serves fine — expiry is per-request, not sticky
    assert [
        (r.vec_id, r.rank) for r in svc.similar(3, k=5, nprobe=4)
    ]


def test_signal_reads_serve_one_snapshot_across_a_racing_commit(
    spark, tmp_path, backend, monkeypatch
):
    """Concurrent readers (as ThreadingHTTPServer runs them, more threads
    than cores) racing a commit: every answer is exactly one snapshot's
    rows, each reader sees the old snapshot and then only the new one,
    the replaced pin is released, and every request reads the pointer
    once."""
    import datetime as dt
    import sys
    import threading
    import time

    from pyspark import StorageLevel

    from nexus_event_stream_spark.schemas import STATE_SCHEMA
    from nexus_event_stream_spark.streaming.projection import (
        ParquetViewStore,
    )

    ts = dt.datetime(2026, 2, 23, 18, 0, tzinfo=dt.timezone.utc)

    def snapshot(prefix, n):
        rows = [
            ("created", f"{prefix}{i}", "t", "c", "High", "otavio", ts, ts)
            for i in range(n)
        ]
        return spark.createDataFrame(rows, STATE_SCHEMA)

    store = ParquetViewStore(str(tmp_path / "view"), backend=backend)
    store.write(snapshot("a", 6), epoch=0)
    svc = SignalService(spark, store)
    old = frozenset(f"a{i}" for i in range(6))
    new = frozenset(f"b{i}" for i in range(9))
    by_rows = {6: old, 9: new}
    calls = {
        "list": lambda: frozenset(r["id"] for r in svc.list()),
        "filter": lambda: frozenset(
            r["id"] for r in svc.list(priority="High")
        ),
        "health": lambda: by_rows.get(svc.health()["rows"]),
    }
    readers = [name for name in calls for _ in range(2)]
    seen = [[] for _ in readers]
    errors = []
    stop = threading.Event()

    def reader(k):
        try:
            while not stop.is_set():
                seen[k].append(calls[readers[k]]())
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    threads = [
        threading.Thread(target=reader, args=(k,)) for k in range(len(readers))
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    deadline = time.monotonic() + 120
    try:
        for t in threads:
            t.start()
        while not all(seen) and time.monotonic() < deadline:
            time.sleep(0.05)
        old_pin = svc._pin
        store.write(snapshot("b", 9), epoch=1)
        while time.monotonic() < deadline and not all(
            new in answers for answers in seen
        ):
            time.sleep(0.05)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    for name, answers in zip(readers, seen):
        assert set(answers) <= {old, new}, name
        assert answers[0] == old and answers[-1] == new, name
        # pins only move forward: no old answer after the first new one
        assert old not in answers[answers.index(new):], name
    assert svc._pin.pointer == store.current()
    assert old_pin.view.storageLevel == StorageLevel.NONE
    assert svc._pin.view.storageLevel != StorageLevel.NONE

    n_reads = {"n": 0}
    real_current = store.current

    def counting_current():
        n_reads["n"] += 1
        return real_current()

    monkeypatch.setattr(store, "current", counting_current)
    for call in (*calls.values(), lambda: svc.get("b0")):
        n_reads["n"] = 0
        call()
        assert n_reads["n"] == 1
