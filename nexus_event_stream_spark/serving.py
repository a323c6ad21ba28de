"""Serving API parity — the data plane's read endpoints as a library.

Reference contracts (data-plane/internal/handler/signal.go:24-60,
projection/signal.go:70-108; CLI client.go:68-77):

- ``list()``                → top-50 newest-first;
- ``list(priority=P)``      → equality filter, ALL matches (the 0-49 range
                              applies only to the unfiltered list —
                              ListByPriority is ByScore with no range);
                              *unknown* priority → empty list, not an
                              error (score-0 quirk);
- ``get(id)``               → single record or ``NotFoundError`` (the Go
                              ``ErrNotFound`` / HTTP 404 analogue);
- ``health()``              → view reachability + row count.

The reference updates its Redis indexes once per commit and answers
every request from them (projection/signal.go:38-108). ``SignalService``
likewise pays the per-version cost once: each request reads the store
pointer once, and the first request under a new pointer pins that
snapshot's live view as one cached relation (snapshots are immutable, so
the cache never goes stale) and unpersists the previous pin. Endpoints
are then small queries over the pinned relation; ``health`` counts its
rows once per pin. The priority filter returns every match to the
driver anyway, so it sorts them by id there instead of running a Spark
global sort — Python's code-point order is Spark's UTF-8 byte order.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from nexus_event_stream_spark.operators.topk import newest_first
from nexus_event_stream_spark.schemas import PRIORITY_SCORES
from nexus_event_stream_spark.streaming.projection import ParquetViewStore

LIST_LIMIT = 50  # handler/signal.go:45 — hardcoded ZRANGE 0 49


class NotFoundError(LookupError):
    """Entity absent from the view (handler 404 / client ErrNotFound)."""


@dataclass
class _Pin:
    """One committed snapshot's cached live view, keyed on its pointer."""

    pointer: dict
    view: DataFrame
    rows: int | None = None  # counted on the first health() probe


@dataclass
class SignalService:
    spark: SparkSession
    store: ParquetViewStore
    _pin: _Pin | None = field(default=None, init=False, repr=False)
    # ThreadingHTTPServer runs readers concurrently; pointer read and
    # swap happen under one lock so pins only move forward in time
    _lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False
    )

    def _pinned(self) -> _Pin | None:
        """The pin for the current pointer — ONE pointer read per request.

        Keyed on the whole pointer dict, not the version alone: a store
        recreated at the same path restarts at version 0. The swap
        unpersists the previous pin without blocking; a reader still
        holding it re-reads that snapshot's files at worst, which the
        store's vacuum keeps (current + previous)."""
        with self._lock:
            cur = self.store.current()
            if cur is None:
                return None
            pin = self._pin
            if pin is None or pin.pointer != cur:
                if pin is not None:
                    pin.view.unpersist(blocking=False)
                view = self.store.read_live(self.spark, cur=cur)
                pin = self._pin = _Pin(cur, view.cache())
            return pin

    def list(self, priority: str | None = None) -> list[Row]:
        pin = self._pinned()
        if pin is None:
            return []
        if priority is not None:
            # Unknown display string maps to score 0 → matches nothing
            # (projection/signal.go:21-25,84-96). Equality on the stored
            # display string reproduces that: bogus values hit no rows.
            # ListByPriority has NO 0-49 range (ZRangeArgs ByScore, exact
            # score): it returns ALL matches, ascending member order —
            # the 50-row cap applies only to the unfiltered list. NULL
            # ids sort first, as in Spark's ascending order.
            rows = pin.view.filter(
                F.col("priority") == F.lit(priority)
            ).collect()
            return sorted(
                rows, key=lambda r: (r["id"] is not None, r["id"] or "")
            )
        return newest_first(
            pin.view, ts_col="created_at", tiebreak=["id"], limit=LIST_LIMIT
        ).collect()

    def get(self, id_: str) -> Row:
        pin = self._pinned()
        rows = (
            pin.view.filter(F.col("id") == F.lit(id_)).limit(1).collect()
            if pin is not None
            else []
        )
        if not rows:
            raise NotFoundError(id_)
        return rows[0]

    def health(self) -> dict:
        pin = self._pinned()
        if pin is not None and pin.rows is None:
            pin.rows = pin.view.count()
        return {
            "status": "ok",
            "view_exists": pin is not None,
            "rows": pin.rows if pin is not None else 0,
        }

    @staticmethod
    def known_priorities() -> dict[str, int]:
        return dict(PRIORITY_SCORES)


def users_newest_first(users: DataFrame) -> list[Row]:
    """User listing parity: ``User.objects.order_by('-date_joined')``
    (control-plane/nexus/core/views.py:7-10). Ties broken by username desc —
    Django leaves tie order to the database; here it must be total.
    """
    return users.orderBy(
        F.col("date_joined").desc(), F.col("username").desc()
    ).collect()


def groups_by_name(groups: DataFrame) -> list[Row]:
    """Group listing parity: ``Group.objects.order_by('-name')``
    (control-plane/nexus/core/views.py:12-15; group name is unique in
    Django's auth model, so the ordering is already total)."""
    return groups.orderBy(F.col("name").desc()).collect()


@dataclass
class RollupService:
    """Read endpoint over a continuously-maintained rollup
    (streaming/rollup.py RollupStore) — the analytics twin of
    ``SignalService``, same envelope discipline as the reference's read
    API (data-plane/internal/handler/signal.go:24-60): top-k list,
    equality dim filters, NotFound when there is nothing to serve.

    Every call is one DataFrame query over the store's finalized view;
    the store's bucket layout (key = bucket_ts) keeps a filtered read
    from rewriting anything — this is a pure read tier.
    """

    spark: SparkSession
    store: object  # RollupStore (duck-typed: .finalized(spark) / .dims)

    def list(
        self, top: int = LIST_LIMIT, dims: dict[str, str] | None = None
    ) -> list[Row]:
        """Newest-first finalized buckets, capped at ``top``; ``dims``
        are equality filters on the store's dimension columns.

        Raises ``NotFoundError`` when the store has never committed an
        epoch (no snapshot to serve — the 404 analogue; an EMPTY filter
        result on a live store is a 200 empty list, matching the
        unknown-priority quirk). Unknown dim names raise ``ValueError``
        (caller error → 400, not a silent full scan)."""
        df = self.store.finalized(self.spark)
        if df is None:
            raise NotFoundError("rollup")
        known = set(self.store.dims)
        for name, value in (dims or {}).items():
            if name not in known:
                raise ValueError(
                    f"unknown dimension {name!r} (have {sorted(known)})"
                )
            df = df.filter(F.col(name) == F.lit(value))
        order = [F.col("bucket_ts").desc()] + [
            F.col(d).asc() for d in self.store.dims
        ]
        return df.orderBy(*order).limit(int(top)).collect()

    def health(self) -> dict:
        cur = self.store.current()
        return {
            "status": "ok",
            "view_exists": cur is not None,
            "epoch": None if cur is None else cur.get("epoch"),
        }


@dataclass
class SearchService:
    """Read endpoint over the streaming BM25 index
    (streaming/search_index.py BM25IndexStore) — full-text retrieval
    behind the reference's read-API envelope discipline
    (data-plane/internal/handler/signal.go:24-60): ``NotFoundError``
    before the first committed epoch (404), ``ValueError`` on a missing/
    blank query (caller error → 400), an all-unknown-terms query returns
    an EMPTY list (200 — the unknown-priority quirk: unmatchable input
    is not an error). Every call is one bucket-pruned DataFrame query."""

    spark: SparkSession
    store: object  # BM25IndexStore (duck-typed: .query / .current)
    #: live stop-term cap forwarded to every query (deployment knob —
    #: small/specialized corpora want it near 1.0)
    max_df_frac: float = 0.5

    def search(self, q: str, k: int = LIST_LIMIT) -> list[Row]:
        if not q or not q.strip():
            raise ValueError("q must be a non-empty query string")
        cur = self.store.current()
        if cur is None or not cur.get("n_docs"):
            raise NotFoundError("search index")
        # ONE pointer read per request: the same snapshot that answered
        # the 404 check resolves the bucket paths, counters, and
        # tombstones — a republish landing mid-request serves the old
        # index or the new one, never a mix (pinned in
        # tests/test_serving_consistency.py, both commit backends)
        df = self.store.query(
            self.spark,
            [(0, q)],
            k=int(k),
            max_df_frac=self.max_df_frac,
            cur=cur,
        )
        if df is None:  # tokenized to nothing / no recognizable terms
            return []
        out = []
        for r in sorted(df.collect(), key=lambda r: r.rank):
            d = r.asDict()
            d.pop("query_id", None)  # internal plumbing, not API surface
            out.append(Row(**d))
        return out

    def health(self) -> dict:
        cur = self.store.current()
        return {
            "status": "ok",
            "view_exists": cur is not None,
            "n_docs": 0 if cur is None else cur.get("n_docs", 0),
        }


@dataclass
class SimilarService:
    """Read endpoint over the streaming ANN index
    (streaming/ann_index.py PQIndexStore / ``active_index``) — "more
    like this" by id, same envelope discipline: unknown id or an index
    with nothing committed → ``NotFoundError`` (404). The query vector
    is looked up from the corpus relation by id, searched through the
    committed IVF-PQ index, and the document itself is excluded from
    its own neighbor list (ranks re-densified 1..k)."""

    spark: SparkSession
    store: object  # PQIndexStore (duck-typed: .search/.current/.id_col/.vec_col)
    embeddings: DataFrame  # corpus relation with the true float vectors

    def similar(self, vec_id: int, k: int = 10, nprobe: int = 4) -> list[Row]:
        cur = self.store.current()
        if cur is None or not cur.get("dirs"):
            raise NotFoundError("similarity index")
        id_col = self.store.id_col
        vec_rows = (
            self.embeddings.filter(F.col(id_col) == F.lit(int(vec_id)))
            .limit(1)
            .collect()
        )
        if not vec_rows:
            raise NotFoundError(str(vec_id))
        vec = [float(x) for x in vec_rows[0][self.store.vec_col]]
        # query_id = the doc's OWN id: ivf_pq_topk's built-in
        # self-exclusion (query_id != vec_id) then drops the doc from
        # its neighbor list with ranks already dense — and, critically,
        # never collides with a real corpus id the way a sentinel like
        # 0 would (a corpus whose ids start at 0 must still be able to
        # return vector 0 as someone's neighbor)
        # same one-pointer-read discipline as /search: the snapshot that
        # answered the 404 check resolves the epoch dirs
        res = self.store.search(
            self.embeddings,
            [(int(vec_id), vec)],
            k=int(k),
            nprobe=int(nprobe),
            cur=cur,
        )
        out = []
        for r in sorted(res.collect(), key=lambda r: r.rank):
            d = r.asDict()
            d.pop("query_id", None)
            out.append(Row(**d))
        return out

    def health(self) -> dict:
        cur = self.store.current()
        return {
            "status": "ok",
            "view_exists": cur is not None,
            "n_vectors": getattr(self.store, "n_indexed", 0),
        }


@dataclass
class DirectoryService:
    """Control-plane auth read endpoints — the users/groups listings the
    reference serves next to signals (views.py:7-15, urls.py router)."""

    users_df: DataFrame
    groups_df: DataFrame

    def users(self) -> list[Row]:
        return users_newest_first(self.users_df)

    def groups(self) -> list[Row]:
        return groups_by_name(self.groups_df)
