"""Serving API contracts — mirrors handler/signal_test.go + client_test.go
behavioral cases (empty list, seeded order, priority filter + no-match,
404 analogue, health).
"""

from __future__ import annotations

import datetime as dt

import pytest

from nexus_event_stream_spark.schemas import STATE_SCHEMA
from nexus_event_stream_spark.serving import (
    DirectoryService,
    NotFoundError,
    SignalService,
)
from nexus_event_stream_spark.streaming.projection import ParquetViewStore

UTC = dt.timezone.utc


def seed_store(spark, tmp_path, rows):
    store = ParquetViewStore(str(tmp_path / "view"))
    if rows is not None:
        df = spark.createDataFrame(rows, STATE_SCHEMA)
        store.write(df, epoch=0)
    return store


def vrow(id_, priority="High", day=23):
    ts = dt.datetime(2026, 2, day, 18, 0, tzinfo=UTC)
    return ("created", id_, "title-" + id_, "c", priority, "otavio", ts, ts)


def test_empty_view_lists_empty(spark, tmp_path):
    svc = SignalService(spark, seed_store(spark, tmp_path, None))
    assert svc.list() == []
    assert svc.health()["view_exists"] is False


def test_list_newest_first_capped_50(spark, tmp_path):
    rows = [vrow(f"s{i:03d}", day=(i % 27) + 1) for i in range(60)]
    svc = SignalService(spark, seed_store(spark, tmp_path, rows))
    out = svc.list()
    assert len(out) == 50  # handler/signal.go:45 hard cap
    created = [r["created_at"] for r in out]
    assert created == sorted(created, reverse=True)


def test_priority_filter_and_unknown_empty(spark, tmp_path):
    rows = [vrow("s1", "High"), vrow("s2", "Low")]
    svc = SignalService(spark, seed_store(spark, tmp_path, rows))
    assert [r["id"] for r in svc.list(priority="High")] == ["s1"]
    # unknown priority → empty list, not an error (signal.go:21-25,84-96)
    assert svc.list(priority="Bogus") == []


def test_priority_filter_is_uncapped(spark, tmp_path):
    # ListByPriority (projection/signal.go:84-96) is ByScore with no 0-49
    # range: ALL matches come back, ascending member order; only the
    # unfiltered list carries the 50-row cap (handler/signal.go:45).
    rows = [vrow(f"s{i:03d}", "High", day=(i % 27) + 1) for i in range(60)]
    svc = SignalService(spark, seed_store(spark, tmp_path, rows))
    out = svc.list(priority="High")
    assert len(out) == 60
    ids = [r["id"] for r in out]
    assert ids == sorted(ids)  # member-lex ascending, ZSet semantics
    assert len(svc.list()) == 50


def test_users_groups_listings(spark):
    # views.py:7-15: users newest-joined-first, groups by name desc.
    users = spark.createDataFrame(
        [
            ("alice", dt.datetime(2026, 1, 2)),
            ("bob", dt.datetime(2026, 1, 3)),
            ("carol", dt.datetime(2026, 1, 1)),
        ],
        "username string, date_joined timestamp",
    )
    groups = spark.createDataFrame(
        [("dev",), ("sec",), ("ops",)], "name string"
    )
    d = DirectoryService(users, groups)
    assert [r["username"] for r in d.users()] == ["bob", "alice", "carol"]
    assert [r["name"] for r in d.groups()] == ["sec", "ops", "dev"]


def test_point_lookup_and_404(spark, tmp_path):
    svc = SignalService(spark, seed_store(spark, tmp_path, [vrow("s1")]))
    assert svc.get("s1")["title"] == "title-s1"
    with pytest.raises(NotFoundError):
        svc.get("ghost")


def test_health_counts(spark, tmp_path):
    svc = SignalService(spark, seed_store(spark, tmp_path, [vrow("s1"), vrow("s2")]))
    h = svc.health()
    assert h["status"] == "ok" and h["rows"] == 2


def test_pin_follows_each_committed_snapshot(spark, tmp_path):
    """One cached relation per committed snapshot: a new write is served
    on the next request, and the previous pin's cache is released."""
    from pyspark import StorageLevel

    store = seed_store(spark, tmp_path, [vrow("s1", "High"), vrow("s2", "Low")])
    svc = SignalService(spark, store)
    assert [r["id"] for r in svc.list(priority="High")] == ["s1"]
    assert svc.health()["rows"] == 2
    old = svc._pin.view
    assert old.storageLevel != StorageLevel.NONE

    store.write(
        spark.createDataFrame([vrow("s3", "High")], STATE_SCHEMA), epoch=1
    )
    assert [r["id"] for r in svc.list()] == ["s3"]
    assert [r["id"] for r in svc.list(priority="High")] == ["s3"]
    assert svc.get("s3")["title"] == "title-s3"
    with pytest.raises(NotFoundError):
        svc.get("s1")
    assert svc.health()["rows"] == 1
    assert old.storageLevel == StorageLevel.NONE
    assert svc._pin.view.storageLevel != StorageLevel.NONE


def test_priority_filter_orders_like_spark_for_non_ascii_ids(spark, tmp_path):
    # the filter sorts on the driver; Python's code-point order must equal
    # Spark's UTF-8 byte order, including a supplementary-plane id that
    # UTF-16 order would put before U+E000
    ids = ["b", "B", "ab", "a~", "\u00e9", "\u00df", "\u4e2d", "\ue000",
           "\U0001f600", "a"]
    store = seed_store(spark, tmp_path, [vrow(i) for i in ids])
    svc = SignalService(spark, store)
    got = [r["id"] for r in svc.list(priority="High")]
    assert got == sorted(ids, key=lambda s: s.encode("utf-8"))
    spark_order = store.read_live(spark).orderBy("id").collect()
    assert got == [r["id"] for r in spark_order]


def test_pin_not_reused_by_a_store_recreated_at_version_0(spark, tmp_path):
    """The pin is keyed on the whole pointer, so a store recreated at the
    same path (its version restarts at 0) is not served from the old
    snapshot's cache. The new store is written elsewhere and copied in,
    as another process would write it: a write through this session
    would also make Spark refresh the cache of that path."""
    import shutil

    store = seed_store(spark, tmp_path, [vrow("s1")])
    svc = SignalService(spark, store)
    assert [r["id"] for r in svc.list()] == ["s1"]
    other = ParquetViewStore(str(tmp_path / "other"))
    other.write(spark.createDataFrame([vrow("s2")], STATE_SCHEMA), epoch=7)
    shutil.rmtree(store.path)
    shutil.copytree(other.path, store.path)
    assert store.current()["version"] == 0
    assert [r["id"] for r in svc.list()] == ["s2"]
