"""The streaming projection — the reference's data plane, Spark-first.

Reference behavior being reproduced (SURVEY.md §3.2): consume the event
stream, fold each event into a keyed last-write-wins view (upsert on
created/updated, evict on deleted), commit the offset only after the write
succeeds, tolerate at-least-once replay via idempotent application
(data-plane/internal/consumer/consumer.go:32-67,
internal/projection/signal.go:38-67).

Spark realization: Structured Streaming ``foreachBatch`` + an ACID-ish
parquet view store. Delta's MERGE INTO is the natural sink but the delta
package isn't available here, so ``ParquetViewStore`` provides the same
guarantees with versioned snapshots:

- each epoch writes a NEW snapshot directory ``v=N`` (never in-place);
- a pointer file is atomically renamed over to commit {version, epoch};
- readers resolve the pointer first — they never see a partial write;
- the recorded epoch id makes re-delivered micro-batches no-ops, which
  together with checkpointing upgrades at-least-once to exactly-once
  (the reference needs idempotent Redis upserts for the same reason; here
  idempotency is structural).

At scale the store maps directly onto Delta/Iceberg (swap write() for
MERGE INTO); the LWW merge itself (operators/lww.py) is one shuffle on the
entity key over |view|+|batch| rows, and the view can additionally be
partitioned by a stable hash of the key to keep per-file sizes bounded.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys

from pyspark.sql import DataFrame, SparkSession

from nexus_event_stream_spark.operators.lww import (
    latest_state,
    live_view,
    lww_merge_batch,
)
from nexus_event_stream_spark.schemas import STATE_SCHEMA
from nexus_event_stream_spark.streaming.commit import PosixRenameBackend
from nexus_event_stream_spark.streaming.replay import ReplayGuard

POINTER = "_CURRENT"

#: Tiebreak making the per-key order total when updated_at collides.
_TIEBREAK = ("created_at", "title")


class ParquetViewStore:
    """Versioned parquet snapshots with an atomically-updated pointer.

    ``partition_by`` physically partitions each snapshot (e.g. by
    ``priority``: 3 values → serving-side equality filters prune to one
    directory, the Spark analogue of the reference's priority ZSet index).
    Only low-cardinality columns belong here.

    ``backend`` is the pointer-commit strategy (streaming/commit.py):
    default POSIX rename; inject ConditionalPutBackend for object-store
    deployments where rename is not atomic.

    ``schema`` pins what ``read`` decodes — STATE_SCHEMA for the LWW view
    (the default); other snapshot relations (e.g. the near-dup cluster
    labeling) reuse the store's versioning/commit/vacuum discipline with
    their own schema.
    """

    def __init__(
        self,
        path: str,
        partition_by: str | None = None,
        backend=None,
        schema=None,
        guard_mode: str = "idempotent",
    ):
        self.path = path
        self.partition_by = partition_by
        self.backend = backend or PosixRenameBackend()
        self.schema = schema or STATE_SCHEMA
        #: replay discipline, declared at construction (streaming/replay.py):
        #: the LWW snapshot is idempotent under re-application, so the
        #: default guard suppresses only positively-identified same-run
        #: replays and lets cross-run re-applies through harmlessly.
        self.guard = ReplayGuard(guard_mode)
        os.makedirs(path, exist_ok=True)

    # -- pointer ------------------------------------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.path, POINTER)

    def current(self) -> dict | None:
        return self.backend.read(self._pointer_path())

    def _commit(
        self,
        version: int,
        epoch: int | None,
        run_token: str | None,
        expected: dict | None = None,
    ) -> None:
        self.backend.commit(
            self._pointer_path(),
            {"version": version, "epoch": epoch, "run_token": run_token},
            expected,
        )

    # -- read/write ---------------------------------------------------------

    def read(self, spark: SparkSession, cur=None) -> DataFrame | None:
        """Full state table (latest event per key, tombstones included).
        ``cur`` pins a pointer the caller already read, as in
        ``BucketedViewStore.read``."""
        if cur is None:
            cur = self.current()
        if cur is None:
            return None
        return spark.read.schema(self.schema).parquet(
            os.path.join(self.path, f"v={cur['version']}")
        )

    def read_live(self, spark: SparkSession, cur=None) -> DataFrame | None:
        """Serving view: tombstones filtered, action column dropped."""
        state = self.read(spark, cur=cur)
        return None if state is None else live_view(state)

    def write(
        self, df: DataFrame, epoch: int | None = None, run_token: str | None = None
    ) -> int:
        cur = self.current()
        version = (cur["version"] + 1) if cur else 0
        out = os.path.join(self.path, f"v={version}")
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(self.partition_by)
        writer.parquet(out)
        # `expected=cur`: under a CAS backend a concurrent commit since
        # our read surfaces as CommitConflictError, not a lost update
        self._commit(version, epoch, run_token, expected=cur)
        self._vacuum(keep=(version, version - 1))
        return version

    def _vacuum(self, keep: tuple[int, ...]) -> None:
        # Keep current + previous snapshot (in-flight readers), drop older.
        keep_names = {f"v={v}" for v in keep}
        for name in os.listdir(self.path):
            if name.startswith("v=") and name not in keep_names:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)


def apply_batch(
    spark: SparkSession,
    store: ParquetViewStore,
    batch: DataFrame,
    epoch: int,
    run_token: str | None = None,
) -> None:
    """One foreachBatch application: idempotent LWW merge + commit.

    Re-delivered epochs (failure between write and Spark's own commit) are
    detected via the recorded (run_token, epoch) pair and skipped — the
    Redis-upsert idempotency of the reference, made structural. Epoch ids
    are only monotonic *per streaming run*: a fresh checkpoint restarts
    them at 0, so the guard compares epochs only within the same run token
    (a restarted run re-applies instead of silently skipping new data —
    harmless, because the LWW merge is idempotent).
    """
    cur = store.current()
    if store.guard.is_replay(cur, epoch, run_token):
        return  # already applied within this run
    state = store.read(spark)
    if state is None:
        merged = latest_state(
            batch, key=["id"], ts_col="updated_at", tiebreak=list(_TIEBREAK)
        )
    else:
        merged = lww_merge_batch(
            state,
            batch,
            key=["id"],
            ts_col="updated_at",
            tiebreak=list(_TIEBREAK),
        )
    # Materialize via the store (new snapshot dir) — never in-place.
    store.write(
        merged.select(*[f.name for f in STATE_SCHEMA.fields]), epoch, run_token
    )


def compact_tombstones(
    spark: SparkSession,
    store: ParquetViewStore,
    horizon: dt.datetime,
    ts_col: str = "updated_at",
) -> int | None:
    """Drop delete tombstones older than the out-of-order horizon.

    A tombstone only needs to outlive the window in which an out-of-order
    event for its key could still arrive (the streaming watermark). Running
    this periodically bounds state size at |live keys| + |recent deletes|.
    Tombstones with NULL timestamps (2-key envelopes) are retained — they
    carry no event time, so no horizon can prove them stale; production
    flows that need them collected should stamp deletes with a broker
    timestamp at ingest.

    Concurrency contract: compaction is a read-modify-write of the whole
    snapshot, so it must run from the projection's single writer (between
    micro-batches, or while the stream is stopped). As a backstop against
    accidental overlap, the write is skipped if the snapshot version moved
    while compacting — losing a concurrent epoch's merge would otherwise be
    silent.

    Returns the new snapshot version; None if there is no state yet, if
    nothing is collectable (no rewrite — a no-op must not burn a retention
    slot), or if a concurrent write was detected.
    """
    from pyspark.sql import functions as F

    cur = store.current()
    state = store.read(spark)
    if state is None:
        return None
    stale = (
        (F.col("action") == F.lit("deleted"))
        & F.col(ts_col).isNotNull()
        & (F.col(ts_col) < F.lit(horizon))
    )
    if state.filter(stale).limit(1).count() == 0:
        return None
    # NULL action rows are live (tolerant reader: event with id but no
    # action) — three-valued logic would silently drop them from a plain
    # `action != 'deleted'` keep-filter.
    keep = state.filter(F.col("action").isNull() | ~stale)
    if store.current() != cur:
        return None  # a writer committed meanwhile; retry next period
    return store.write(keep, cur.get("epoch"), cur.get("run_token"))


def _manifest_versions(manifest: dict) -> set[int]:
    """Every version referenced by a manifest — values are a single
    owning version (merge stores) or a segment-version list (append
    stores)."""
    out: set[int] = set()
    for v in manifest.values():
        if isinstance(v, list):
            out.update(v)
        else:
            out.add(v)
    return out


def _bucket_expr(n_buckets: int, key_col: str = "id"):
    """Stable key → bucket: pmod(xxhash64(key), B); NULL keys land in 0."""
    from pyspark.sql import functions as F

    return F.coalesce(
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)), F.lit(0)
    ).cast("int")


class BucketedViewStore:
    """Manifest-tracked view store: the snapshot is split into ``n_buckets``
    key-hash buckets, and an epoch rewrites ONLY the buckets its batch
    touches — per-epoch write cost is O(|batch| + |touched buckets|), not
    O(|view|). This is the scale shape of the projection (the same idea as
    Delta MERGE file skipping / Iceberg partition-level rewrite): at 100 TB
    a micro-batch touching 1% of keys rewrites ~1% of the view.

    Layout: ``v={version}/__bucket={k}/*.parquet``; the pointer file maps
    every bucket to the version that owns its current data, so a bucket
    untouched for many epochs keeps living in an old version directory.
    Commit is still a single atomic pointer rename; vacuum keeps every
    version referenced by the current or the immediately previous pointer
    (in-flight readers), so partial writes and crashes never corrupt a
    committed snapshot.
    """

    def __init__(
        self,
        path: str,
        n_buckets: int = 64,
        backend=None,
        schema=None,
        key_col: str = "id",
        guard_mode: str = "idempotent",
    ):
        self.path = path
        self.n_buckets = n_buckets
        self.backend = backend or PosixRenameBackend()
        #: schema/key_col generalize the store beyond the LWW state —
        #: e.g. the near-dup label relation buckets by ``comp`` so a
        #: relabel rewrite touches only affected components' buckets.
        self.schema = schema or STATE_SCHEMA
        self.key_col = key_col
        #: replay discipline, declared at construction (streaming/replay.py).
        #: Idempotent for LWW/label snapshots; ADDITIVE substrates (rollup
        #: partials, BM25 postings — where a re-applied epoch double-counts)
        #: must construct with guard_mode="additive" so a fresh-checkpoint
        #: query can never be silently swallowed.
        self.guard = ReplayGuard(guard_mode)
        os.makedirs(path, exist_ok=True)

    # -- pointer ------------------------------------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.path, POINTER)

    def current(self) -> dict | None:
        return self.backend.read(self._pointer_path())

    def _commit(self, pointer: dict, expected: dict | None = None) -> None:
        self.backend.commit(self._pointer_path(), pointer, expected)

    # -- read ---------------------------------------------------------------

    def _bucket_paths(self, manifest: dict, buckets=None) -> list[str]:
        items = manifest.items()
        if buckets is not None:
            want = {str(b) for b in buckets}
            items = [(b, v) for b, v in manifest.items() if b in want]
        # a manifest value is either one owning version (merge stores) or
        # a LIST of segment versions (append stores) — reads union them
        return [
            os.path.join(self.path, f"v={ver}", f"__bucket={b}")
            for b, vers in items
            for ver in (vers if isinstance(vers, list) else [vers])
        ]

    def read(self, spark: SparkSession, buckets=None, cur=None) -> DataFrame | None:
        """State table; ``buckets`` restricts the read to those buckets'
        paths — the merge path never scans untouched buckets. ``cur``
        pins a pointer snapshot the CALLER already read: a serving
        request must resolve every path under ONE pointer (re-reading
        here could interleave with a concurrent commit and mix two
        snapshots' buckets); the one-generation ``prev_refs`` vacuum
        grace keeps the pinned snapshot's files alive through a racing
        commit."""
        if cur is None:
            cur = self.current()
        if cur is None or not cur["manifest"]:
            return None
        paths = self._bucket_paths(cur["manifest"], buckets)
        if not paths:
            return None
        return spark.read.schema(self.schema).parquet(*paths)

    def read_live(self, spark: SparkSession) -> DataFrame | None:
        state = self.read(spark)
        return None if state is None else live_view(state)

    # -- write --------------------------------------------------------------

    def _write_partitioned(
        self, df: DataFrame, out: str, n_parts: int
    ) -> None:
        """Bucket-tag ``df`` and write it dynamic-partitioned by bucket,
        ALIGNED so ~one task owns each bucket. Without the repartition a
        dense epoch (every input partition holding rows of most buckets)
        writes up to tasks × buckets small files — the measured 17×
        replay800k dense-bucketed-vs-full gap was almost entirely this
        file fan-out, not merge work. One small hash shuffle buys
        one-file-per-bucket output, which is also what a 100 TB reader
        wants (a bucket scan = one file listing, no small-file storm)."""
        tagged = df.withColumn(
            "__bucket", _bucket_expr(self.n_buckets, self.key_col)
        )
        (
            tagged.repartition(n_parts, "__bucket")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(out)
        )

    def write_buckets(
        self,
        df: DataFrame,
        touched: list[int],
        epoch: int | None = None,
        run_token: str | None = None,
        extra: dict | None = None,
    ) -> int:
        """Write ``df`` (rows of the touched buckets only) as the new
        version of those buckets and commit the stitched manifest.
        ``extra`` rides the SAME atomic pointer commit — store-level
        scalars (e.g. the search index's exact corpus counters) must
        never land in a second commit, or a crash between the two leaves
        data committed with its bookkeeping lost."""
        cur = self.current()
        version = (cur["version"] + 1) if cur else 0
        out = os.path.join(self.path, f"v={version}")
        self._write_partitioned(
            df, out, min(self.n_buckets, max(1, len(touched)))
        )
        manifest = dict(cur["manifest"]) if cur else {}
        written = {
            name.split("=", 1)[1]
            for name in os.listdir(out)
            if name.startswith("__bucket=")
        }
        for b in touched:
            if str(b) in written:
                manifest[str(b)] = version
            else:
                # every key in the bucket was deleted upstream (compaction):
                # the bucket's data is gone — drop it from the manifest
                manifest.pop(str(b), None)
        prev_refs = sorted(_manifest_versions(cur["manifest"]) | {cur["version"]}) if cur else []
        self._commit(
            {
                **(extra or {}),
                "version": version,
                "epoch": epoch,
                "run_token": run_token,
                "manifest": manifest,
                "prev_refs": prev_refs,
            },
            expected=cur,
        )
        self._vacuum(manifest, prev_refs, version)
        return version

    def append_buckets(
        self,
        df: DataFrame,
        touched: list[int],
        epoch: int | None = None,
        run_token: str | None = None,
        extra: dict | None = None,
    ) -> int:
        """APPEND ``df``'s rows as a new SEGMENT of the touched buckets —
        nothing already stored is read or rewritten; the manifest keeps a
        segment-version LIST per bucket and reads union the segments.

        The additive-store write path (BM25 postings and any
        append-only substrate): per-epoch write cost is O(|batch|)
        regardless of how many buckets the batch touches — a merge-store
        ``write_buckets`` would re-read and re-write every touched
        bucket's history, which for natural-language postings (every
        batch touches nearly every term bucket) degenerates to rewriting
        the whole index per epoch. Segment lists grow with epochs;
        ``write_buckets`` (e.g. from a compaction read-union-rewrite)
        collapses a bucket's list back to one owning version. Same
        pointer-last atomic commit, same vacuum safety (every listed
        segment version stays referenced)."""
        cur = self.current()
        version = (cur["version"] + 1) if cur else 0
        out = os.path.join(self.path, f"v={version}")
        self._write_partitioned(
            df, out, min(self.n_buckets, max(1, len(touched)))
        )
        manifest = dict(cur["manifest"]) if cur else {}
        written = {
            name.split("=", 1)[1]
            for name in os.listdir(out)
            if name.startswith("__bucket=")
        }
        for b in touched:
            if str(b) not in written:
                continue  # nothing landed in this bucket — no segment
            prev = manifest.get(str(b))
            if prev is None:
                manifest[str(b)] = [version]
            elif isinstance(prev, list):
                manifest[str(b)] = prev + [version]
            else:
                manifest[str(b)] = [prev, version]
        prev_refs = sorted(_manifest_versions(cur["manifest"]) | {cur["version"]}) if cur else []
        self._commit(
            {
                **(extra or {}),
                "version": version,
                "epoch": epoch,
                "run_token": run_token,
                "manifest": manifest,
                "prev_refs": prev_refs,
            },
            expected=cur,
        )
        self._vacuum(manifest, prev_refs, version)
        return version

    def _vacuum(self, manifest: dict, prev_refs: list[int], version: int) -> None:
        keep = {f"v={v}" for v in _manifest_versions(manifest)}
        keep |= {f"v={v}" for v in prev_refs}
        keep.add(f"v={version}")
        for name in os.listdir(self.path):
            if name.startswith("v=") and name not in keep:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)


def apply_batch_bucketed(
    spark: SparkSession,
    store: BucketedViewStore,
    batch: DataFrame,
    epoch: int,
    run_token: str | None = None,
    mode: str = "auto",
    rewrite_frac: float = 0.6,
) -> None:
    """foreachBatch body against the bucketed store: idempotent-epoch guard,
    then LWW-merge the batch against the state it touches.

    Same delivery contract as ``apply_batch`` (epoch replay is a no-op
    within a run; cross-run replay is harmless because the merge is
    idempotent) with per-epoch cost bounded by the touched buckets.

    ``mode`` picks the rewrite strategy per epoch — the two sides of the
    measured ``replay800k_*`` crossover (SCALE.md: sparse epochs win
    ~2.7× bucketed, an all-buckets epoch wins ~4× full — partial rewrite
    degenerates to a full rewrite plus per-bucket file overhead when the
    batch touches most buckets):

    - ``"bucketed"``: always merge/rewrite only the touched buckets.
    - ``"full"``: always merge against the whole view and rewrite every
      bucket (also collapses the manifest to one version — the
      compaction-style rewrite).
    - ``"auto"`` (default): bucketed while the batch touches fewer than
      ``rewrite_frac`` of the buckets, full at or above it. The
      touched-bucket fraction is the signal the bracket actually
      measured (batch keys spread over buckets vs view extent); the
      probe that computes it is one bounded collect the bucketed path
      pays anyway.
    """
    if mode not in ("auto", "bucketed", "full"):
        raise ValueError(f"mode must be auto|bucketed|full, got {mode!r}")
    cur = store.current()
    if store.guard.is_replay(cur, epoch, run_token):
        return
    from pyspark.sql import functions as F

    # Reduce the batch once; its latest-per-key result is reused for the
    # touched-bucket probe and the merge (tiny relation — persist not worth
    # it, but the bucket list collect is bounded by n_buckets).
    batch_latest = latest_state(
        batch, key=["id"], ts_col="updated_at", tiebreak=list(_TIEBREAK)
    )
    touched = [
        r[0]
        for r in batch_latest.select(
            _bucket_expr(store.n_buckets, store.key_col).alias("b")
        )
        .distinct()
        .collect()
    ]
    if not touched:
        return
    if mode == "full" or (
        mode == "auto" and len(touched) >= rewrite_frac * store.n_buckets
    ):
        # dense epoch: partial rewrite would touch ~everything anyway —
        # take the full-rewrite side of the crossover (and collapse the
        # manifest to one version while at it)
        touched = list(range(store.n_buckets))
    full_rewrite = len(touched) == store.n_buckets
    state_slice = (
        store.read(spark, buckets=None if full_rewrite else touched)
        if cur
        else None
    )
    if state_slice is None:
        merged = batch_latest
    else:
        merged = lww_merge_batch(
            state_slice,
            batch_latest,
            key=["id"],
            ts_col="updated_at",
            tiebreak=list(_TIEBREAK),
        )
    store.write_buckets(
        merged.select(*[f.name for f in STATE_SCHEMA.fields]),
        touched,
        epoch,
        run_token,
    )


def compact_tombstones_bucketed(
    spark: SparkSession,
    store: BucketedViewStore,
    horizon: dt.datetime,
    ts_col: str = "updated_at",
) -> int | None:
    """Bucket-scoped tombstone GC: rewrite ONLY buckets holding a stale
    tombstone — compaction cost tracks garbage, not view size.

    Same contract as ``compact_tombstones`` (single-writer, version-moved
    guard, NULL-ts tombstones retained, no-op burns no retention slot);
    a bucket whose every key was a stale tombstone disappears from the
    manifest entirely (write_buckets drops buckets with no surviving rows).
    """
    from pyspark.sql import functions as F

    cur = store.current()
    state = store.read(spark)
    if state is None:
        return None
    stale = (
        (F.col("action") == F.lit("deleted"))
        & F.col(ts_col).isNotNull()
        & (F.col(ts_col) < F.lit(horizon))
    )
    dirty = [
        r[0]
        for r in state.filter(stale)
        .select(_bucket_expr(store.n_buckets, store.key_col).alias("b"))
        .distinct()
        .collect()
    ]
    if not dirty:
        return None
    slice_ = store.read(spark, buckets=dirty)
    keep = slice_.filter(F.col("action").isNull() | ~stale)
    if store.current() != cur:
        return None  # a writer committed meanwhile; retry next period
    return store.write_buckets(keep, dirty, cur.get("epoch"), cur.get("run_token"))


def start_projection(
    spark: SparkSession,
    events: DataFrame,
    view_path: str,
    checkpoint_path: str,
    trigger_seconds: int | None = None,
    bucketed: bool = False,
    n_buckets: int = 64,
    serving_path: str | None = None,
    publish_every: int = 8,
    rewrite_mode: str = "auto",
):
    """Wire a parsed event stream into the LWW view and start it.

    ``bucketed=True`` uses the manifest-tracked BucketedViewStore (per-epoch
    cost bounded by touched buckets — the at-scale configuration); the
    default full-snapshot store keeps the simplest possible layout for
    small views. Returns the StreamingQuery; callers use
    ``processAllAvailable()`` in tests or let it run continuously.

    ``serving_path`` (bucketed mode) schedules the read-optimized layout:
    every ``publish_every`` epochs the live view is re-clustered into the
    Z-ordered serving snapshot (streaming/serving_layout.py) — the same
    inline-scheduled-maintenance shape as streaming/dedup.py's compaction.
    Publish failures are logged-and-continued: the serving layout is a
    read optimization with its own staleness contract; it must never take
    down ingest.

    ``rewrite_mode`` (bucketed mode) forwards to ``apply_batch_bucketed``:
    ``"auto"`` picks bucketed-merge vs full-rewrite per epoch from the
    touched-bucket fraction (the measured ``replay800k_*`` crossover);
    ``"bucketed"``/``"full"`` pin either side.
    """
    import uuid

    run_token = uuid.uuid4().hex  # epoch ids are only monotonic per run

    if serving_path is not None and not bucketed:
        raise ValueError("serving_path requires bucketed=True")

    if bucketed:
        bstore = BucketedViewStore(view_path, n_buckets=n_buckets)

        def _apply(batch: DataFrame, epoch: int) -> None:
            apply_batch_bucketed(
                spark, bstore, batch, epoch, run_token, mode=rewrite_mode
            )
            if serving_path is not None and epoch % publish_every == (
                publish_every - 1
            ):
                from nexus_event_stream_spark.streaming.serving_layout import (
                    publish_serving_snapshot,
                )

                try:
                    publish_serving_snapshot(spark, bstore, serving_path)
                except Exception as exc:  # noqa: BLE001 — ingest must survive
                    print(
                        f"serving-layout publish failed (epoch {epoch}): {exc}",
                        file=sys.stderr,
                    )

    else:
        store = ParquetViewStore(view_path)

        def _apply(batch: DataFrame, epoch: int) -> None:
            apply_batch(spark, store, batch, epoch, run_token)

    writer = (
        events.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_apply)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
