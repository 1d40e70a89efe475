"""The table-format seam: what the engine requires of its keyed sink.

``KeyedTable`` is the protocol every component in this repo programs
against (``cdc.apply_changes``, ``streaming.start_ingest``, the load
strategies, the pipeline loaders). The two in-repo formats, ``LakeTable``
(snapshot manifests) and ``DirTable`` (a commit log), share one data
plane, ``table.BucketTable``, and differ only in their metadata log.
``IcebergTable`` implements the protocol on a real Iceberg catalog —
see ``docs/ICEBERG_ADAPTER.md`` for the per-method mapping and the
exactly-once/epoch translation. Swapping formats is a constructor
change, not an engine change.

``delete_where`` and ``compact_tombstones`` are not part of the
protocol: both in-repo formats have them through the shared data plane,
but the Iceberg adapter does not.
"""

from __future__ import annotations

from typing import Any, Protocol, runtime_checkable

from pyspark.sql import DataFrame
from pyspark.sql import types as T


@runtime_checkable
class KeyedTable(Protocol):
    """Snapshot-versioned, key-bucketed table (the Iceberg-shaped
    contract the CDC engine needs — nothing more)."""

    #: columns forming the merge key; key_columns[0] drives bucketing
    key_columns: list[str]
    n_buckets: int
    #: merge-on-read policy (None = copy-on-write only; "lww" folds
    #: deltas by order_columns; "replace" folds by commit sequence)
    merge_policy: str | None
    order_columns: list[str]

    # -------------------------------------------------------------- meta
    @property
    def version(self) -> int:
        """Current snapshot id (monotone per table)."""
        ...

    @property
    def schema(self) -> T.StructType:
        """Current table schema (schemas are versioned; old data files
        upcast on read)."""
        ...

    def refresh(self) -> "KeyedTable":
        """Re-read the catalog pointer; returns self."""
        ...

    def last_epoch(self, stream_id: str) -> int:
        """Max committed epoch for a stream (-1 if none) — the
        idempotent-sink check for exactly-once."""
        ...

    def history(self) -> list[dict[str, Any]]:
        """Commit log: version + summary (lineage, metrics, offsets)."""
        ...

    # ------------------------------------------------------------- reads
    def read(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        ranges: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Snapshot scan, optionally bucket-pruned and/or time-travel.
        ``ranges`` ``{col: (lo, hi)}`` skips files whose recorded
        min/max stats cannot match (pruning only — the caller still
        applies its row filter)."""
        ...

    def current(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        ranges: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Live rows (delete tombstones filtered)."""
        ...

    def touched_buckets(self, source: DataFrame) -> list[int]:
        """Bucket ids a source batch lands in (for delta-proportional
        merge IO)."""
        ...

    def changes_between(self, v_from: int, v_to: int) -> DataFrame:
        """CDC-out: one row per key whose state changed between two
        committed versions, tagged ``_change_type`` I/U/D. The join is
        the shared ``lakehouse.feed.diff_versions``; each format
        supplies bucket pruning from its own metadata."""
        ...

    # ------------------------------------------------------------ writes
    def append(self, df: DataFrame, summary: dict | None = None, epoch: tuple[str, int] | None = None) -> int: ...

    def overwrite(self, df: DataFrame, summary: dict | None = None, epoch: tuple[str, int] | None = None) -> int: ...

    def merge(
        self,
        source: DataFrame,
        resolve,
        evolve_schema: T.StructType | None = None,
        summary: dict | None = None,
        epoch: tuple[str, int] | None = None,
        mode: str | None = None,
    ) -> int | None:
        """Keyed merge; ``resolve(target_subset, source)`` owns row
        semantics, the table owns IO minimization + atomic publication +
        optimistic-concurrency preconditions. ``mode`` picks the
        physical strategy: ``"cow"`` rewrites touched buckets;
        ``"mor"`` appends resolved delta files folded at read
        (``resolve`` then receives an EMPTY target and must emit
        tombstones for deletes). Default follows ``merge_policy``.
        MoR merges return ``None`` when ``epoch`` was already applied.
        A CoW merge that finds a touched bucket rewritten concurrently
        raises ``CommitConflict`` (re-run via ``commit_with_retry``)."""
        ...

    # ------------------------------------------------------- maintenance
    def compact(self, min_files: int = 2) -> int: ...

    def expire_snapshots(self, keep_last: int = 10, grace_seconds: int = 3600) -> dict[str, int]: ...

    def file_stats(self) -> dict[str, Any]:
        """Files/deltas-per-bucket distribution (metadata only) — the
        stats-driven maintenance trigger signal."""
        ...

    def rebucket(self, n_buckets: int) -> int:
        """Offline whole-table re-key to a new bucket count
        (version-preconditioned; epochs carry forward)."""
        ...
