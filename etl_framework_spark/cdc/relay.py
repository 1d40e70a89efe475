"""Incremental table→table relay over the CDC-out change feed.

Tails a :class:`~etl_framework_spark.lakehouse.protocol.KeyedTable`'s
commit history and replicates it into another ``KeyedTable`` — the
downstream-sync half of a CDC pipeline (source lake table → serving
copy, cross-region replica, or a DIFFERENT table format: the relay is
format-agnostic on both sides by the protocol, so a ``LakeTable`` can
feed a ``DirTable`` and vice versa).

Design (all set-based, no driver-side row loops):

- The unit of replication is the **key-level state diff**
  (``changes_between(v_from, v_to)``): one I/U/D row per key whose
  state changed, already bucket-pruned on the source side. Because the
  feed is a *state* diff — not an event log — applying it needs no LWW
  ordering: the target resolver simply REPLACES each fed key
  (delete the old row, insert the new image unless the change is a D).
  That sidesteps the null-order-column hazard a naive
  ``apply_changes`` replay of D rows would hit, and makes a relay step
  idempotent by construction.
- **Exactly-once** rides the target's epoch ledger: each sync commits
  with ``epoch=(stream_id, v_to)`` in the same atomic snapshot as the
  data, so a crash between write and commit re-applies cleanly and a
  re-run of an already-committed sync is a no-op. The ledger entry IS
  the replication watermark — ``last_epoch(stream_id)`` is the last
  source version fully applied, so resume needs no side files. The
  default ``stream_id`` embeds the source's path, so several sources
  relaying into one target keep independent watermarks (and several
  targets tailing one source already do, each in its own ledger).
- **Concurrent runners are safe**: the commit-retry loop re-checks the
  watermark against the refreshed target before every attempt, so a
  runner holding a stale feed no-ops instead of re-applying old images
  over a faster runner's newer sync (same re-entry rule as
  ``apply_changes``).
- **Schema evolution propagates**: the feed carries the source's
  (possibly evolved) columns; the target's ``merge`` folds them in via
  ``merge_schemas`` (add + widen), same as direct ingest.
- Maintenance commits on the source (compaction, snapshot expiry)
  produce an EMPTY diff — the sync still commits the epoch marker so
  the watermark advances past them and later syncs don't re-diff.
- **Retention windows**: if the source has expired the watermark
  version (``expire_snapshots``), the diff is unrecoverable. A FRESH
  (empty, never-synced) target falls back to a full-state bootstrap —
  the current source rows applied as I rows through the same merge —
  and proceeds incrementally from there; a target that is lagging
  mid-history raises :class:`RelayGapError` instead of guessing at
  deletes it can no longer see.

Scale shape: one bucket-pruned diff on the source (the feed) plus one
merge on the target. A merge-on-read ("replace") target reads the feed
once, so the sync is one lazy plan from the source diff to the delta
write. A copy-on-write target touches only the buckets the fed keys
hash to; its feed is persisted, because the touched-bucket probe and
the resolver both read it. Either way a steady-state sync costs
O(touched-bucket data), not O(table); bucket count sets the touched
fraction. Measured by the retired ``scripts/bench_relay.py`` (git
46b9966, ``BENCH/relay.json``): growing the table 14.6× grows the
bootstrap sync 2-4× but the fixed-size delta sync only 1.46× (flat
across the last 4× step). ``cdcbench``'s ``relay_read`` workload now
runs a merge-on-read replica sync over the fast path and the full diff.
Reference parity: the reference has no table-to-table sync; this
mirrors Delta/Iceberg CDF-consumer patterns (``table_changes`` →
``MERGE INTO``) as one operator.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_framework_spark.lakehouse.table import (
    VersionExpiredError,
    commit_with_retry,
)

__all__ = [
    "RelayDaemon",
    "RelayGapError",
    "start_relay",
    "sync_once",
    "sync_table",
]

log = logging.getLogger(__name__)

#: ``sync_table`` gives up after this many ``sync_once`` rounds, so a
#: source that commits faster than the relay applies surfaces as an
#: error instead of an unbounded loop
MAX_SYNC_ROUNDS = 100


class RelayGapError(RuntimeError):
    """The source expired the snapshot the replica's watermark points
    at, and the replica is not fresh — the missed deletes are
    unrecoverable from the feed. Re-bootstrap into a new target (or
    raise the source's ``expire_snapshots`` retention above the relay
    interval)."""


def _default_stream_id(src) -> str:
    """Watermark namespace: embeds the source identity so two sources
    relaying into one target cannot silently share (and corrupt) one
    watermark."""
    path = getattr(src, "path", None)
    return f"relay:{os.path.abspath(path)}" if path else "relay"


def _resolve_replace(keys: list[str]):
    """Key-replace resolver (copy-on-write targets): drop every target
    row for a fed key, then insert the fed after-images (I/U rows).
    D rows contribute only the key removal. Deterministic — no
    order-column comparison needed, because the feed already holds
    exactly one final-state row per key."""

    def resolve(target_subset: DataFrame, feed: DataFrame) -> DataFrame:
        upserts = feed.where(F.col("_change_type") != "D").drop("_change_type")
        fed_keys = feed.select(*keys).distinct()
        kept = target_subset.join(fed_keys, on=list(keys), how="left_anti")
        return kept.unionByName(upserts, allowMissingColumns=True)

    return resolve


def _resolve_replace_mor():
    """Key-replace resolver for MERGE-ON-READ targets (tables created
    with ``merge_policy="replace"``): the merge never reads the target,
    so a delete must be a self-contained TOMBSTONE row the read-time
    fold can apply (newest commit wins per key), not a physical drop.
    I/U rows become live delta rows (``_deleted=false``); D rows keep
    only the key (their payload/order columns are already NULL in the
    feed) with ``_deleted=true``."""

    def resolve(_empty_target: DataFrame, feed: DataFrame) -> DataFrame:
        return feed.withColumn(
            "_deleted", F.col("_change_type") == F.lit("D")
        ).drop("_change_type")

    return resolve


def _merges_on_read(t) -> bool:
    """Whether the relay applies into ``t`` merge-on-read: a "replace"
    target (newest commit wins) does, a policy-less target replicates
    copy-on-write — the same choice ``t.merge`` makes from the policy.

    Any other policy raises ``ValueError``. The feed is a STATE diff, so
    an event-time ("lww") fold would mis-order it — D rows after a
    source-side GC carry NULL order columns, and a delete_where at the
    source can legitimately move a key's state to an OLDER (ts, lsn)."""
    policy = getattr(t, "merge_policy", None)
    if policy not in (None, "replace"):
        raise ValueError(
            f"relay target {getattr(t, 'path', t)!r} has merge_policy="
            f"{policy!r}; a replica must be created with "
            'merge_policy="replace" or none'
        )
    return policy == "replace"


def _apply_feed(t, feed: DataFrame, v_from: int, v_to: int, stream_id: str):
    """One read-modify-commit attempt (the ``commit_with_retry`` op).

    Re-checks the watermark against the REFRESHED target first: a
    concurrent runner for the same stream may have committed a newer
    sync while this one held its (now stale) feed — re-applying the
    stale images would regress the replica while the watermark stays
    advanced, permanently losing the difference. Same per-attempt
    re-entry rule as ``apply_changes``."""
    if t.last_epoch(stream_id) >= v_to:
        return None
    mor = _merges_on_read(t)
    stored_fields = [f for f in feed.schema.fields if f.name != "_change_type"]
    if mor:
        stored_fields.append(T.StructField("_deleted", T.BooleanType(), True))
    stored = T.StructType(stored_fields)
    return t.merge(
        feed,
        _resolve_replace_mor() if mor else _resolve_replace(list(t.key_columns)),
        evolve_schema=stored,
        summary={
            "operation": "relay",
            "src_v_from": v_from,
            "src_v_to": v_to,
        },
        epoch=(stream_id, v_to),
    )


def _bootstrap_feed(src) -> DataFrame:
    """Full-state feed for a fresh replica: every live source row as an
    I row (no deletes can exist for an empty target)."""
    cur = src.current()
    if "_deleted" in cur.columns:
        cur = cur.drop("_deleted")
    return cur.withColumn("_change_type", F.lit("I"))


def sync_once(src, dst, stream_id: str | None = None) -> int | None:
    """Replicate every source commit since the last sync into ``dst``.

    Returns the target's new version, or ``None`` if the target is
    already caught up (idempotent — safe to call in a loop or after a
    crash). ``stream_id`` namespaces the watermark; the default embeds
    the source path so distinct sources never share one. Raises
    ``ValueError``, before reading either table, for a target whose
    ``merge_policy`` is neither ``"replace"`` nor ``None``.
    """
    mor = _merges_on_read(dst)
    stream_id = stream_id or _default_stream_id(src)
    src = src.refresh()
    v_to = src.version
    last = dst.refresh().last_epoch(stream_id)
    v_from = last if last >= 0 else 0
    if v_to <= v_from:
        return None

    try:
        feed = src.changes_between(v_from, v_to)
    except VersionExpiredError as exc:
        # The source's retention window no longer covers v_from. ONLY
        # the dedicated expiry signal routes here — a corrupted or
        # newer-format snapshot raises plain ValueError and propagates,
        # instead of silently re-bootstrapping a replica over it
        # (round-4 ADVICE).
        if last < 0 and not dst.current().take(1):
            feed = _bootstrap_feed(src)  # fresh replica: full-state load
        else:
            raise RelayGapError(
                f"source expired version {v_from} (watermark of stream "
                f"{stream_id!r}); replica at {dst.path!r} is mid-history "
                "and the missed deletes are unrecoverable — re-bootstrap "
                "a fresh target or raise the source retention"
            ) from exc

    def apply(t):
        return _apply_feed(t, feed, v_from, v_to, stream_id)

    if mor:
        # the delta write reads the feed once: no cache, no count job. A
        # commit retry recomputes it — the same rows, since the feed
        # diffs two immutable source versions (the bootstrap feed reads
        # the files of v_to)
        return commit_with_retry(dst, apply)
    feed = feed.persist()
    try:
        # copy-on-write reads the feed twice (the touched-bucket probe
        # and the resolver): materialize it once
        feed.count()
        return commit_with_retry(dst, apply)
    finally:
        feed.unpersist()


def sync_table(src, dst, stream_id: str | None = None) -> int | None:
    """Drive ``sync_once`` until the target is caught up with the
    source (the source may keep committing while a sync runs). Returns
    the last committed target version, or ``None`` if already caught
    up. Bounded by ``MAX_SYNC_ROUNDS``."""
    result = None
    for _ in range(MAX_SYNC_ROUNDS):
        v = sync_once(src, dst, stream_id=stream_id)
        if v is None:
            return result
        result = v
    raise RuntimeError(
        f"relay not caught up after {MAX_SYNC_ROUNDS} rounds — source is "
        "committing faster than the relay applies"
    )


class RelayDaemon:
    """Handle for a continuous relay started by :func:`start_relay`.

    The daemon thread drives ``sync_once`` on a processing-time cadence
    (the relay analog of ``start_ingest``'s processingTime trigger) and
    optionally compacts the target when its per-bucket file count
    crosses a threshold — the stats-driven trigger merge-on-read
    replicas need, since each sync appends one delta commit.

    Exactly-once and crash-resume need NO daemon state: the watermark
    lives in the target's epoch ledger, so killing a daemon and starting
    a new one resumes exactly where the last committed sync ended.
    """

    def __init__(self, thread, stop_event, state: dict):
        self._thread = thread
        self._stop = stop_event
        self._state = state

    @property
    def error(self) -> BaseException | None:
        return self._state.get("error")

    @property
    def last_target_version(self) -> int | None:
        """Target version of the newest committed sync (None = none yet)."""
        return self._state.get("last_version")

    @property
    def synced_rounds(self) -> int:
        return self._state.get("rounds", 0)

    def running(self) -> bool:
        return self._thread.is_alive()

    def wait_caught_up(self, src, dst, timeout_s: float = 60.0) -> None:
        """Block until the replica's watermark reaches the source's
        CURRENT version (re-read each poll, so a source that keeps
        committing just extends the target). Raises the daemon's error
        if it died, or TimeoutError.

        Polls through PRIVATE handles (re-opened from the given ones) —
        table objects are not thread-safe, and the daemon thread
        refreshes its own copies concurrently."""
        import time

        src = type(src)(src.spark, src.path)
        dst = type(dst)(dst.spark, dst.path)
        stream_id = self._state["stream_id"]
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if self.error is not None:
                raise self.error
            if dst.refresh().last_epoch(stream_id) >= src.refresh().version:
                return
            time.sleep(0.05)
        raise TimeoutError(f"relay not caught up within {timeout_s}s")

    def stop(self, timeout_s: float = 30.0) -> None:
        """Signal the loop to exit and join the thread. The in-flight
        sync (if any) finishes its atomic commit or not at all."""
        self._stop.set()
        self._thread.join(timeout=timeout_s)
        if self._thread.is_alive():  # pragma: no cover - hung spark job
            raise TimeoutError("relay daemon did not stop in time")


def start_relay(
    src,
    dst,
    stream_id: str | None = None,
    poll_interval_s: float = 0.5,
    maintenance_max_files: int = 0,
    on_sync=None,
) -> RelayDaemon:
    """Continuously tail ``src`` into ``dst`` until stopped.

    Each round is one ``sync_once`` (idempotent, watermarked); an idle
    round (source unchanged) sleeps ``poll_interval_s``. With
    ``maintenance_max_files=M`` the loop consults ``dst.file_stats()``
    after each committed sync and compacts exactly the buckets holding
    >= M files (``keep_fresh`` conflict policy — safe next to the
    relay's own next commit and any other writer). ``on_sync(version)``
    is a test hook called after each committed sync.

    The daemon works through PRIVATE handles re-opened from the ones
    passed in (table objects are not thread-safe; the FORMATS are, via
    optimistic commits) — the caller's handles are never touched, so
    they stay safe to use on the calling thread. A target
    ``sync_once`` would reject raises ``ValueError`` here, before the
    thread starts.
    """
    import threading

    _merges_on_read(dst)
    stream_id = stream_id or _default_stream_id(src)
    stop = threading.Event()
    state: dict = {"rounds": 0, "stream_id": stream_id}
    # private handles: the daemon thread refreshes/commits through its
    # own objects, never the caller's
    src = type(src)(src.spark, src.path)
    dst = type(dst)(dst.spark, dst.path)

    def loop():
        try:
            while not stop.is_set():
                v = sync_once(src, dst, stream_id=stream_id)
                if v is None:
                    # caught up — idle until the next poll tick
                    stop.wait(poll_interval_s)
                    continue
                state["last_version"] = v
                state["rounds"] += 1
                if maintenance_max_files > 0:
                    # best-effort, like the ingest daemon's maintenance:
                    # a lost compaction (commit contention next to other
                    # writers, transient IO) must not kill REPLICATION —
                    # the next sync retriggers it
                    try:
                        st = dst.refresh().file_stats()
                        if st["max_files_per_bucket"] >= maintenance_max_files:
                            dst.compact(min_files=maintenance_max_files)
                    except Exception as e:
                        log.warning("relay maintenance skipped: %r", e, exc_info=True)
                if on_sync is not None:
                    on_sync(v)
        except BaseException as e:  # surfaced via .error / wait_caught_up
            state["error"] = e

    t = threading.Thread(target=loop, name=f"relay-{stream_id}", daemon=True)
    t.start()
    return RelayDaemon(t, stop, state)
