"""LakeTable — bucket-partitioned parquet table with snapshot isolation.

Iceberg-semantics storage for the CDC engine, built for the copy-on-write
MERGE pattern. The data plane below (layout, MERGE, merge-on-read,
stats, the optimistic commit loop) is :class:`BucketTable`, which
``DirTable`` shares; ``LakeTable`` adds only its metadata log —
snapshots, manifest shards and the ``LATEST`` hint:

- **Data layout**: ``data/<commit-uuid>/_bucket=N/part-*.parquet``. Every
  row is assigned ``bucket = pmod(xxhash64(key0), n_buckets)`` — the same
  function every writer uses, so a merge can compute which buckets a
  source batch touches and read/rewrite ONLY those buckets. Untouched
  buckets are carried forward by reference in the next snapshot (this is
  what keeps MERGE cost proportional to the delta, not the table, at
  100 TB scale).
- **Snapshots**: ``_meta/v%012d.json`` manifests list
  ``bucket -> [(file, schema_id)]``. Commit = write temp file + ``os.link``
  to the final name — ``os.link`` fails if the version already exists,
  giving optimistic-concurrency commits on POSIX (a real deployment swaps
  this for an Iceberg/HMS catalog swap; the rest of the engine is
  unchanged).
- **Sharded manifests** (Iceberg's manifest-list/manifest split): above
  ``MANIFEST_INLINE_MAX`` buckets, the bucket map is stored as immutable
  SHARD files (``_meta/shards/``), each covering a contiguous bucket
  range, and the snapshot holds only ``shard_idx -> file``. A commit
  rewrites ONLY the shards containing touched buckets and carries every
  other shard by file reference, and readers load only the shards
  covering the buckets they scan — so commit and metadata-read cost are
  O(touched), not O(table), at 10^5+ buckets. Small tables keep the
  inline map (one file, zero indirection).
- **Schema evolution**: schemas are versioned; data files keep the
  schema_id they were written with, and reads upcast old files to the
  current schema (missing columns -> NULL, widened types -> cast). Add
  column + int->long / float->double widening supported, mirroring
  Iceberg's promotion rules and replacing the reference's degrade-to-TEXT
  ALTER TABLE (reference:src/etl_framework/plugins/loaders/sql_loader.py:115-167).
- **Exactly-once**: each snapshot may record an ``epoch`` marker
  ``(stream_id, epoch_id)``; ``last_epoch(stream_id)`` lets a foreachBatch
  sink skip re-delivered epochs (epoch ids are monotone per stream, so a
  single max per stream is a complete idempotence check).
- **Lineage**: each commit stores per-bucket lineage (row counts, LSN
  ranges, source offsets) in the snapshot summary — the distributed analog
  of the reference's audit trail
  (reference:src/etl_framework/security/audit_logger.py:100-146).
- **Merge-on-read** (``merge_policy`` at create): a MERGE may commit its
  resolved batch as per-epoch DELTA files (insert rows + key tombstones,
  manifest entries tagged ``kind="delta"`` with the commit version as
  ``seq``) appended to the touched buckets instead of rewriting them —
  write cost becomes O(batch), decoupled from bucket size (at 100 TB a
  400-row delta no longer rewrites 7 multi-GB buckets). Reads FOLD the
  deltas: one winner per key ordered by the table's ``order_columns``
  (event-time LWW, e.g. ``("ts","_lsn")``) or, with no order columns,
  by commit sequence (key-replace, the relay-replica policy), ``_seq``
  breaking exact ties. ``compact`` collapses deltas back to base files
  (copy-on-write stays the compaction path), bounding fold cost.
- **File-level column stats**: every manifest entry records per-file
  min/max ranges for the key/order columns (Iceberg's manifest metrics);
  range-bounded reads skip files whose ranges cannot match.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

META_DIR = "_meta"
DATA_DIR = "data"
SHARD_DIR = "shards"

#: tables with more buckets than this get sharded manifests
MANIFEST_INLINE_MAX = 256
#: target shard count for sharded tables
MANIFEST_TARGET_SHARDS = 64

#: Iceberg-compatible primitive type promotions (old -> new).
_WIDENINGS = {
    ("integer", "long"): True,
    ("float", "double"): True,
}


class SchemaEvolutionError(ValueError):
    """Incoming batch schema cannot be merged into the table schema."""


class VersionExpiredError(ValueError):
    """The requested version's metadata was garbage-collected
    (``expire_snapshots`` shrank the time-travel window past it).

    Distinct from a corrupted/newer-format snapshot (plain
    ``ValueError``) so consumers like the CDC relay can fall back to a
    bootstrap ONLY on genuine retention expiry instead of silently
    re-bootstrapping over a corruption (round-4 ADVICE)."""


class CommitConflict(RuntimeError):
    """A concurrent writer rewrote a bucket this commit also rewrote.

    Raised instead of silently publishing a stale view: the caller can
    re-read and retry the whole operation against the new snapshot."""


def commit_with_retry(
    table: "LakeTable",
    op,
    max_retries: int = 5,
    base_backoff_s: float = 0.05,
):
    """The standard bounded optimistic-commit loop.

    ``op(table)`` must perform the WHOLE read-modify-commit operation
    against the table's current snapshot (e.g. ``lambda t: t.merge(...)``
    or ``lambda t: t.delete_where(...)``) — a conflicted attempt
    committed nothing, so re-running it against the refreshed snapshot
    is safe and re-reads the concurrent writer's files. Retries use
    jittered exponential backoff so two contending writers de-sync;
    after ``max_retries`` conflicts the last ``CommitConflict``
    propagates.
    """
    import random
    import time

    for attempt in range(max_retries):
        try:
            return op(table.refresh())
        except CommitConflict:
            if attempt == max_retries - 1:
                raise
            time.sleep(base_backoff_s * (2**attempt) * (0.5 + random.random()))


#: merge policies a table may be created with. ``None`` = copy-on-write
#: only (every MERGE rewrites its touched buckets — the pre-r5 behavior).
#: "lww"     = merge-on-read, deltas folded by event-time order columns
#:             (default ``("ts", "_lsn")``) — the CDC apply_changes shape.
#: "replace" = merge-on-read, deltas folded by commit sequence (newest
#:             commit wins per key) — the relay-replica shape, where each
#:             delta is a state diff, not an event, and D rows may carry
#:             NULL order columns (post-GC deletes).
MERGE_POLICIES = (None, "lww", "replace")


def fold_order(merge_policy: str | None) -> list[str]:
    """Validate a create-time ``merge_policy``; returns the table's
    ``order_columns``: the CDC stored shape's ``["ts", "_lsn"]`` for
    "lww", none otherwise."""
    if merge_policy not in MERGE_POLICIES:
        raise ValueError(
            f"merge_policy must be one of {MERGE_POLICIES}, got {merge_policy!r}"
        )
    return ["ts", "_lsn"] if merge_policy == "lww" else []


def _encode_stat(v):
    """JSON-encode a column min/max value. Timestamps normalize to
    NAIVE UTC (the session timezone is pinned to UTC, so bounds arrive
    naive); everything non-scalar is dropped (no stats)."""
    import datetime

    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return {"__ts__": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"__ts__": v.isoformat()}
    if isinstance(v, (int, float, str, bool)) or v is None:
        return v
    return None


def _decode_stat(v):
    import datetime

    if isinstance(v, dict) and "__ts__" in v:
        return datetime.datetime.fromisoformat(v["__ts__"])
    return v


def file_footer_meta(fp: str, cols: list[str]) -> dict[str, Any]:
    """A data file's manifest metadata from its parquet footer (no data
    read — the same metadata Iceberg records in its manifests): row
    count ``rows``, file size ``bytes`` and per-column min/max ``stats``
    for ``cols``. Best effort: an unreadable footer yields only
    ``bytes``; a column with missing/unusable stats is omitted."""
    import pyarrow.parquet as pq

    out: dict[str, Any] = {"bytes": os.path.getsize(fp)}
    try:
        md = pq.ParquetFile(fp).metadata
    except Exception:
        return out
    out["rows"] = md.num_rows
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    ranges: dict[str, list] = {}
    for c in cols:
        i = names.get(c)
        if i is None:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if ok and lo is not None:
            elo, ehi = _encode_stat(lo), _encode_stat(hi)
            if elo is not None and ehi is not None:
                ranges[c] = [elo, ehi]
    if ranges:
        out["stats"] = ranges
    return out


def collect_file_ranges(
    paths: list[str], cols: list[str], max_workers: int = 16
) -> dict[str, dict[str, Any]]:
    """Parallel :func:`file_footer_meta` over many files (footer reads
    are IO-bound; the GIL releases inside pyarrow)."""
    if not paths:
        return {}
    if len(paths) == 1:
        return {paths[0]: file_footer_meta(paths[0], cols)}
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(max_workers, len(paths))) as ex:
        results = ex.map(lambda p: (p, file_footer_meta(p, cols)), paths)
        return dict(results)


def stats_columns_for(
    schema: T.StructType, key_columns: list[str], order_columns: list[str]
) -> list[str]:
    """Columns whose per-file min/max ranges ride in the manifest: the
    bucket key plus the event-order columns (what time-travel / feed /
    GC reads bound on). Shared by every format so both record the same
    skipping metadata."""
    want = [key_columns[0], *order_columns, "ts", "_lsn"]
    have = {f.name for f in schema.fields}
    out: list[str] = []
    for c in want:
        if c in have and c not in out:
            out.append(c)
    return out


def merge_salt_groups(df: DataFrame, key_columns: list[str]) -> DataFrame:
    """Merge a resolver's salt groups before a merge-on-read delta
    write: the salt parallelizes the resolve WINDOW, but written as-is
    it multiplies delta files per bucket (files = salt groups),
    inflating read-side fold cost and compaction frequency. One
    O(batch) exchange of the already-deduped winners caps deltas at one
    file per bucket per epoch, key-sorted so their manifest stats bound
    tight. SHARED by both formats (same rationale as ``fold_deltas``):
    the delta layout is part of the read-cost contract."""
    if "_bucket" not in df.columns:
        return df
    return df.repartition("_bucket").sortWithinPartitions(*key_columns)


def delta_rank(
    df: DataFrame, key_columns: list[str], order_columns: list[str]
) -> DataFrame:
    """Rank base + delta rows per key under THE fold order (input must
    carry ``_seq``, the per-file commit sequence): the table's
    event-time ``order_columns`` first (LWW — a later delta commit
    carrying an OLDER event loses to the base row, matching the
    copy-on-write resolver exactly), then ``_seq`` (the whole order for
    ``"replace"`` tables, where deltas are state diffs and the newest
    commit wins). ``_rn == 1`` is the fold winner. One shuffle on the
    key.

    Order columns missing from the current schema are skipped: a column
    no row ever carried cannot order anything, and the default "lww"
    order includes ``_lsn`` which a table created on a bare event
    schema only gains via later evolution (at which point it joins the
    order — until then the fold must not fail the whole read)."""
    from pyspark.sql import Window

    present = set(df.columns)
    order = [
        F.col(c).desc_nulls_last() for c in order_columns if c in present
    ]
    order.append(F.col("_seq").desc())
    w = Window.partitionBy(*key_columns).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w))


def fold_deltas(
    df: DataFrame, key_columns: list[str], order_columns: list[str]
) -> DataFrame:
    """Merge-on-read fold: one winner per key across base + delta rows
    — ``delta_rank``'s top row. ``compact`` collapses deltas so
    steady-state reads skip the fold entirely.

    SHARED by every table format (as is :func:`delta_rank`, which the
    change feed's fast path also ranks with) — the fold order is the
    read-time correctness contract, and two drifting copies would let
    the same deltas fold to different states per format."""
    return (
        delta_rank(df, key_columns, order_columns)
        .where(F.col("_rn") == 1)
        .drop("_rn", "_seq")
    )


def split_fold_entries(
    bucket_map: dict, ranges: dict[str, tuple] | None = None
) -> tuple[list[dict], list[dict]]:
    """Partition a bucket→entries map for the merge-on-read read path:
    returns ``(clean, folded)`` entry lists. A bucket pays the fold iff
    it holds unfolded delta entries OR base entries from more than one
    fold sequence — on a merge-policy table every entry carries its
    commit version as ``seq``, and cross-commit duplicates of a key can
    only exist across distinct sequences (a blind ``append()`` after a
    compact must still outrank older rows at read time, even when no
    delta file remains to trigger the fold). Single-sequence, delta-free
    buckets are served base-only — and keep ``ranges`` file-skipping,
    which must stay disabled inside fold buckets (dropping a file there
    could promote a superseded row version to fold winner). Sound
    because a key's rows never cross buckets within one snapshot
    (``bucket_expr`` is a pure function of the key under that snapshot's
    layout width), so the per-bucket folds are independent and a clean
    bucket's fold is the identity.

    This is the read-side mirror of the O(batch) delta write: at 100 TB
    a small epoch touches a handful of buckets, and only THOSE buckets'
    rows may enter the fold window — not the whole table.

    SHARED by every format, like :func:`fold_deltas`: two drifting
    copies of the fold-scope rule would let the same snapshot read
    differently per format."""
    clean: list[dict] = []
    folded: list[dict] = []
    for files in bucket_map.values():
        if any(e.get("kind") == "delta" for e in files) or (
            len({int(e.get("seq", 0)) for e in files}) > 1
        ):
            folded.extend(files)
        elif ranges:
            clean.extend(e for e in files if entry_matches_ranges(e, ranges))
        else:
            clean.extend(files)
    return clean, folded


def scoped_fold_read(
    bucket_map: dict,
    ranges: dict[str, tuple] | None,
    read_files,
    fold,
) -> "DataFrame | None":
    """The shared read-combine step over :func:`split_fold_entries`:
    base-only scan of clean buckets unioned with the fold of delta
    buckets. ``read_files(entries, with_seq)`` and ``fold(df)`` are the
    format's own readers; returns None when the selection is empty.
    Shared for the same reason as the split itself — a drifting copy of
    the union/None handling would let the same snapshot read
    differently per format."""
    clean, folded = split_fold_entries(bucket_map, ranges)
    base = read_files(clean, False)
    delta = read_files(folded, True)
    if delta is not None:
        delta = fold(delta)
    if base is None:
        return delta
    if delta is None:
        return base
    return base.unionByName(delta)


def entry_matches_ranges(entry: dict, ranges: dict[str, tuple]) -> bool:
    """True unless the entry's recorded stats PROVE no row can satisfy
    every ``col: (lo, hi)`` bound (either side may be None = unbounded).
    Entries without stats for a bounded column always match (sound)."""
    stats = entry.get("stats") or {}
    for c, (lo, hi) in ranges.items():
        if c not in stats:
            continue
        fmin, fmax = _decode_stat(stats[c][0]), _decode_stat(stats[c][1])
        try:
            if lo is not None and fmax < lo:
                return False
            if hi is not None and fmin > hi:
                return False
        except TypeError:  # incomparable bound vs stored stat type
            continue
    return True


def bucket_expr(key, n_buckets: int):
    """The canonical row->bucket function. Pure, so any reader can
    recompute bucket membership without consulting file paths.

    ``key`` may be a column name or a Column. Spark's ``xxhash64`` is
    TYPE-sensitive (int and long hash differently), so callers hashing a
    source batch must cast the key to the table's key type first — see
    ``BucketTable.touched_buckets``."""
    col = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def merge_schemas(current: T.StructType, incoming: T.StructType) -> tuple[T.StructType, bool]:
    """Merge an incoming batch schema into the table schema.

    Returns (merged_schema, changed). New columns append as nullable;
    overlapping columns may widen per ``_WIDENINGS``; anything else raises.
    Incoming *narrower* types (e.g. int batch into long table) are fine —
    the batch is upcast at write time.
    """
    cur = {f.name: f for f in current.fields}
    fields = list(current.fields)
    changed = False
    for f in incoming.fields:
        if f.name not in cur:
            fields.append(T.StructField(f.name, f.dataType, True))
            changed = True
            continue
        old = cur[f.name]
        if old.dataType == f.dataType:
            continue
        o, n = old.dataType.typeName(), f.dataType.typeName()
        if _WIDENINGS.get((o, n)):
            idx = [x.name for x in fields].index(f.name)
            fields[idx] = T.StructField(f.name, f.dataType, old.nullable)
            changed = True
        elif _WIDENINGS.get((n, o)):
            continue  # batch is narrower; upcast on write
        else:
            raise SchemaEvolutionError(
                f"column {f.name!r}: cannot evolve {old.dataType.simpleString()} "
                f"-> {f.dataType.simpleString()}"
            )
    return T.StructType(fields), changed


def align_to_schema(
    df: DataFrame, schema: T.StructType, keep: list[str] | None = None
) -> DataFrame:
    """Project ``df`` onto ``schema``: missing columns become NULL, common
    columns whose type differs are cast; ``keep`` names pass-through
    system columns (e.g. ``_bucket``) preserved verbatim. A frame that
    already has exactly that shape (names, order, types) is returned
    as-is — each projected column costs driver round trips, and the
    feed and merge paths align mostly frames that already match. The
    Spark analog of the reference's ``_ensure_columns_exist`` +
    per-column ALTER
    (reference:src/etl_framework/plugins/loaders/sql_loader.py:115-167)."""
    shape = [(f.name, f.dataType) for f in df.schema.fields]
    have = dict(shape)
    kept = [c for c in (keep or []) if c in have]
    if shape == [(f.name, f.dataType) for f in schema.fields] + [(c, have[c]) for c in kept]:
        return df

    def column(f: T.StructField):
        if have.get(f.name) == f.dataType:
            return F.col(f.name)
        src = F.col(f.name) if f.name in have else F.lit(None)
        return src.cast(f.dataType).alias(f.name)

    return df.select(*[column(f) for f in schema.fields], *[F.col(c) for c in kept])


def delete_unreferenced(
    root: str, pattern: str, live: set[str], grace_seconds: int
) -> int:
    """Delete the files under ``root`` matching the recursive glob
    ``pattern`` that no surviving version references (``live`` holds
    paths relative to ``root``) and that are older than
    ``grace_seconds`` — the guard against removing files a concurrent
    writer has written but not yet committed. Returns the count."""
    import time

    cutoff = time.time() - grace_seconds
    n = 0
    for fp in glob.glob(os.path.join(root, pattern), recursive=True):
        if os.path.relpath(fp, root) in live:
            continue
        try:
            if os.path.getmtime(fp) < cutoff:
                os.unlink(fp)
                n += 1
        except OSError:
            continue
    return n


def _paths(entries: list[dict[str, Any]]) -> list[str]:
    return [e["path"] for e in entries]


def _read_view(view, buckets: list[int]) -> dict[str, list[dict[str, Any]]]:
    """The file lists a rewrite of ``buckets`` reads — the commit's
    per-bucket ``expected`` precondition (empty list = absent)."""
    fresh = view.buckets_for(buckets)
    return {str(b): list(fresh.get(str(b), [])) for b in buckets}


class Snapshot:
    """A committed table version.

    The bucket map (``bucket -> [{"path", "schema_id"}]``) is either
    inline in the snapshot file (small tables) or split across immutable
    shard files loaded LAZILY per bucket range — ``buckets_for`` reads
    only the shards covering the requested buckets, so point reads and
    delta commits never pay O(table) metadata IO."""

    def __init__(
        self,
        version: int,
        schema_id: int,
        summary: dict[str, Any],
        epochs: dict[str, int],
        inline_buckets: dict[str, list[dict[str, Any]]] | None = None,
        shards: dict[str, str] | None = None,  # shard_idx(str) -> relpath
        base_path: str | None = None,
        shard_size: int = 0,
        n_buckets: int | None = None,
        schemas: dict[int, T.StructType] | None = None,
    ):
        self.version = version
        self.schema_id = schema_id
        self.summary = summary
        self.epochs = epochs
        self._inline = inline_buckets
        self.shards = shards or {}
        self._base = base_path
        self.shard_size = shard_size
        #: bucket count this snapshot's layout was written with; None =
        #: the table.json create-time value (pre-rebucket snapshots)
        self.n_buckets = n_buckets
        #: the table's schema registry (ids are table-wide)
        self._schemas = schemas if schemas is not None else {}
        self._cache: dict[str, dict[str, list[dict[str, Any]]]] = {}

    @property
    def schema(self) -> T.StructType:
        """This version's own schema (time travel reads under it)."""
        return self._schemas[self.schema_id]

    def schema_of(self, ref) -> T.StructType:
        return self._schemas[int(ref)]

    @property
    def sharded(self) -> bool:
        return self._inline is None

    def shard_of(self, bucket: int) -> str:
        return str(int(bucket) // max(self.shard_size, 1))

    def _load_shard(self, idx: str) -> dict[str, list[dict[str, Any]]]:
        if idx in self._cache:
            return self._cache[idx]
        rel = self.shards.get(idx)
        if rel is None:
            content: dict[str, list[dict[str, Any]]] = {}
        else:
            with open(os.path.join(self._base, rel)) as f:
                content = json.load(f)["buckets"]
        self._cache[idx] = content
        return content

    def buckets_for(self, bucket_ids) -> dict[str, list[dict[str, Any]]]:
        """Bucket map restricted to ``bucket_ids`` — loads only the
        covering shards."""
        sel = {str(int(b)) for b in bucket_ids}
        if not self.sharded:
            return {b: fs for b, fs in self._inline.items() if b in sel}
        out: dict[str, list[dict[str, Any]]] = {}
        for idx in {self.shard_of(int(b)) for b in sel}:
            for b, fs in self._load_shard(idx).items():
                if b in sel:
                    out[b] = fs
        return out

    @property
    def buckets(self) -> dict[str, list[dict[str, Any]]]:
        """Full bucket map (loads every shard — full-scan callers only)."""
        if not self.sharded:
            return self._inline
        out: dict[str, list[dict[str, Any]]] = {}
        for idx in self.shards:
            out.update(self._load_shard(idx))
        return out

    def diff_maps(self, other: "Snapshot") -> tuple[dict, dict]:
        """``(mine, other's)`` bucket maps covering every bucket that may
        differ between the two versions. Shard files are immutable: an
        identical shard reference means identical content for every
        bucket it covers, so only shards whose reference moved load."""
        if not (self.sharded and other.sharded):
            return self.buckets, other.buckets
        mine: dict[str, list[dict[str, Any]]] = {}
        theirs: dict[str, list[dict[str, Any]]] = {}
        for idx in set(self.shards) | set(other.shards):
            if self.shards.get(idx) != other.shards.get(idx):
                mine.update(self._load_shard(idx))
                theirs.update(other._load_shard(idx))
        return mine, theirs


@dataclass
class BucketDelta:
    """A commit expressed as per-bucket changes — the unit the sharded
    manifest can apply with O(touched-shards) IO.

    mode:
      - ``append``    extend the listed buckets' file lists
      - ``replace``   replace listed buckets; ``dropped`` buckets are
                      removed; with ``expected`` set, a bucket whose
                      fresh file paths moved since the writer's read is a
                      CONFLICT — resolved per ``on_conflict``
                      (``keep_fresh``: skip that bucket; ``raise``:
                      abort the commit loudly)
      - ``overwrite`` the map becomes exactly ``entries``

    ``id`` is the commit's identity across retries (a format may record
    it to recognise its own landed commit)."""

    mode: str
    entries: dict[str, list[dict[str, Any]]]
    dropped: set[str] = None  # type: ignore[assignment]
    expected: dict[str, list[dict[str, Any]]] | None = None
    on_conflict: str = "keep_fresh"
    id: str = field(default_factory=lambda: uuid.uuid4().hex)

    def __post_init__(self):
        if self.dropped is None:
            self.dropped = set()

    @property
    def touched(self) -> set[str]:
        return set(self.entries) | set(self.dropped)

    def against(self, view) -> "BucketDelta | None":
        """This delta rebased onto ``view`` (a fresh state view): the
        ``expected`` preconditions are checked by file paths; stale
        buckets raise ``CommitConflict`` or, under ``keep_fresh``, are
        left to the concurrent writer. None when every bucket went
        stale — there is nothing left to publish."""
        if self.expected is None:
            return self
        fresh = view.buckets_for(self.expected)
        stale = {
            b
            for b, fs in self.expected.items()
            if _paths(fresh.get(b, [])) != _paths(fs)
        }
        if not stale:
            return self
        if self.on_conflict == "raise":
            raise CommitConflict(
                f"buckets {sorted(stale)} rewritten concurrently during commit"
            )
        entries = {b: fs for b, fs in self.entries.items() if b not in stale}
        dropped = self.dropped - stale
        if not entries and not dropped:
            return None
        return BucketDelta(self.mode, entries, dropped, id=self.id)

    def apply(
        self,
        current: dict[str, list[dict[str, Any]]],
        restrict: set[str] | None = None,
    ) -> dict[str, list[dict[str, Any]]]:
        """New bucket map from ``current`` (optionally only buckets in
        ``restrict`` — used to apply shard-by-shard)."""
        sel = (lambda b: True) if restrict is None else (lambda b: b in restrict)
        if self.mode == "overwrite":
            return {b: list(fs) for b, fs in self.entries.items() if sel(b)}
        out = {b: list(fs) for b, fs in current.items()}
        if self.mode == "append":
            for b, fs in self.entries.items():
                if sel(b):
                    out.setdefault(b, []).extend(fs)
            return out
        assert self.mode == "replace"
        for b in self.touched:
            if not sel(b):
                continue
            if b in self.entries:
                out[b] = list(self.entries[b])
            else:
                out.pop(b, None)
        return out


class BucketTable:
    """The data plane every in-repo table format shares: bucketed
    parquet writes, scoped merge-on-read reads, copy-on-write and
    merge-on-read MERGE, maintenance, the change feed and ONE optimistic
    commit loop — written once, so the formats cannot drift.

    A format subclass supplies only its metadata log:

    - ``_view(version=None)`` — the state at a version (head when None):
      ``version``, ``schema`` (that version's own), ``schema_of(ref)``,
      ``epochs``, ``n_buckets``, ``buckets``, ``buckets_for(ids)`` and
      ``diff_maps(other)``.
    - ``_register_schema(schema)`` — the schema reference manifest
      entries store under ``SCHEMA_KEY``.
    - ``_publish(view, delta, schema_ref, summary, epoch, n_buckets)`` —
      write one commit on top of ``view``; the new version, or None when
      another writer took that version (the loop retries).
    - ``refresh()`` — reload the head.
    """

    #: manifest-entry field holding the file's write-schema reference
    SCHEMA_KEY = "schema_id"

    spark: SparkSession
    path: str
    key_columns: list[str]
    n_buckets: int
    merge_policy: str | None
    order_columns: list[str]

    # --------------------------------------------------------------- meta
    @property
    def version(self) -> int:
        return self._view().version

    @property
    def schema(self) -> T.StructType:
        return self._view().schema

    def last_epoch(self, stream_id: str) -> int:
        """Max applied epoch for a stream (-1 if none). Epochs are monotone
        per stream, so this is a complete already-applied check."""
        return int(self._view().epochs.get(stream_id, -1))

    # -------------------------------------------------------------- reads
    def _read_files(
        self, entries: list[dict[str, Any]], view, with_seq: bool = False
    ) -> DataFrame | None:
        """Read manifest file entries, upcasting each schema group to
        ``view``'s schema. ``with_seq`` attaches each file's fold
        sequence as ``_seq`` (delta entries carry their commit version;
        base entries fold below every delta appended after them)."""
        if not entries:
            return None
        groups: dict[tuple[Any, int], list[str]] = {}
        for e in entries:
            seq = int(e.get("seq", 0)) if with_seq else 0
            groups.setdefault((e[self.SCHEMA_KEY], seq), []).append(
                os.path.join(self.path, e["path"])
            )
        target = view.schema
        parts = []
        for (ref, seq), files in groups.items():
            df = self.spark.read.schema(view.schema_of(ref)).parquet(*files)
            df = align_to_schema(df, target)
            if with_seq:
                df = df.withColumn("_seq", F.lit(seq))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        ranges: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Snapshot as a DataFrame; optionally only some buckets and/or a
        historical ``version`` (time travel — old data files are never
        mutated, only dereferenced, so any committed version stays
        readable until GC, under that version's own schema).

        ``ranges`` — ``{col: (lo, hi)}`` scan bounds (either side may be
        None): files whose recorded min/max stats prove no row matches
        are skipped entirely (Iceberg metrics-based file skipping). The
        bounds only PRUNE — the caller still applies its row filter.
        Pruning is disabled per-bucket while that bucket needs the
        merge-on-read fold (unfolded deltas, or base entries from
        multiple commits): dropping a file there could promote a
        superseded row version to fold winner, changing results, not
        just cost. Likewise the fold itself is scoped to those buckets
        (:func:`split_fold_entries`) — a small delta must not drag
        every clean bucket through the union+window."""
        view = self._view(version)
        # bucket selection loads only the covering manifest shards
        bmap = view.buckets if buckets is None else view.buckets_for(buckets)
        df = scoped_fold_read(
            bmap,
            ranges,
            lambda entries, with_seq: self._read_files(entries, view, with_seq),
            lambda df: fold_deltas(df, self.key_columns, self.order_columns),
        )
        if df is None:
            return self.spark.createDataFrame([], view.schema)
        return df

    def current(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        ranges: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Live rows: ``read()`` minus delete tombstones (if the table
        carries the ``_deleted`` system column)."""
        df = self.read(buckets=buckets, version=version, ranges=ranges)
        if "_deleted" in df.columns:
            df = df.where(~F.coalesce(F.col("_deleted"), F.lit(False)))
        return df

    def changes_between(self, v_from: int, v_to: int) -> DataFrame:
        """Row-level change feed between two committed versions (CDC-out):
        one row per key whose state changed, with ``_change_type`` I/U/D.

        Bucket-pruned: only buckets whose file paths differ between the
        versions are read (copy-on-write rewrites whole buckets, so an
        identical file list ⇒ identical content). The diff itself is
        :func:`~etl_framework_spark.lakehouse.feed.diff_versions`.
        Versions outside the time-travel window raise
        :class:`VersionExpiredError`."""
        old, new = self._view(v_from), self._view(v_to)
        ob, nb = old.diff_maps(new)
        changed = [
            b
            for b in set(ob) | set(nb)
            if _paths(ob.get(b, [])) != _paths(nb.get(b, []))
        ]
        from etl_framework_spark.lakehouse.feed import (
            delta_fast_path,
            diff_versions,
        )

        # Delta-only interval ⇒ key-scoped feed: only keys in the
        # appended delta files can have changed; the diff folds those
        # keys' old winners with the delta rows instead of scanning and
        # windowing two full bucket states.
        delta_rows, added = delta_fast_path(
            {b: ob.get(b, []) for b in changed},
            {b: nb.get(b, []) for b in changed},
            lambda entries: self._read_files(entries, new, with_seq=True),
        )
        return diff_versions(
            self, v_from, v_to, sorted(int(b) for b in changed),
            delta_rows=delta_rows, delta_entries=added,
        )

    def touched_buckets(self, source: DataFrame) -> list[int]:
        """Buckets a source batch lands in (small: <= n_buckets rows).

        The source key is CAST to the table's key type before hashing:
        xxhash64 is type-sensitive, so an int batch merged into a
        long-keyed table (which ``merge_schemas`` permits) would
        otherwise compute a wrong touched set and leave stale row
        versions alive in the real bucket."""
        key = self.key_columns[0]
        ktype = self.schema[key].dataType
        rows = (
            source.select(
                bucket_expr(F.col(key).cast(ktype), self.n_buckets).alias("b")
            )
            .distinct()
            .collect()
        )
        return sorted(r["b"] for r in rows)

    def file_stats(self) -> dict[str, Any]:
        """Files-per-bucket distribution (the maintenance trigger
        signal): total/max files per bucket, plus the merge-on-read
        delta share — metadata-only, no data IO."""
        counts: dict[str, int] = {}
        delta_counts: dict[str, int] = {}
        for b, fs in self._view().buckets.items():
            counts[b] = len(fs)
            delta_counts[b] = sum(1 for e in fs if e.get("kind") == "delta")
        return {
            "n_buckets_with_data": len(counts),
            "total_files": sum(counts.values()),
            "max_files_per_bucket": max(counts.values(), default=0),
            "delta_files": sum(delta_counts.values()),
            "max_delta_files_per_bucket": max(delta_counts.values(), default=0),
            "delta_buckets": sum(1 for v in delta_counts.values() if v > 0),
        }

    # ------------------------------------------------------------- writes
    def _ensure_schema(self, incoming: T.StructType) -> tuple[Any, T.StructType]:
        """Evolve the table schema to accept ``incoming``; returns the
        write schema's reference and the schema itself."""
        current = self.schema
        merged, changed = merge_schemas(current, incoming)
        # The BUCKET key column (key_columns[0], the only hash input) may
        # never change type: xxhash64 is type-sensitive, so widening it
        # would silently split each key's rows across two buckets (old
        # writes hashed narrow, new writes hashed wide). Other key
        # columns may widen freely (they only join sorts/windows, which
        # cast), and narrower *batches* are fine — upcast before
        # hashing/writing.
        k = self.key_columns[0] if self.key_columns else None
        if changed and k is not None:
            cur = {f.name: f.dataType for f in current.fields}
            new = {f.name: f.dataType for f in merged.fields}
            if k in cur and new.get(k) != cur[k]:
                raise SchemaEvolutionError(
                    f"key column {k!r} cannot change type "
                    f"({cur[k].simpleString()} -> {new[k].simpleString()}): "
                    "bucket hashing is type-sensitive"
                )
        return self._register_schema(merged), merged

    def _write_data(
        self,
        df: DataFrame,
        schema_ref,
        kind: str | None = None,
        n_buckets: int | None = None,
    ) -> dict[str, list[dict[str, Any]]]:
        """Write df (already aligned to ``schema_ref``'s schema) bucket-
        partitioned; returns bucket -> manifest entries.

        If ``df`` already carries a ``_bucket`` column (the single-shuffle
        resolver emits data repartitioned by bucket and key-sorted), it is
        written as-is — no extra exchange or sort.

        ``kind="delta"`` tags the entries as merge-on-read deltas (the
        commit stamps their fold sequence); ``n_buckets`` overrides the
        layout width (``rebucket``)."""
        commit_id = uuid.uuid4().hex[:16]
        out_dir = os.path.join(self.path, DATA_DIR, commit_id)
        if "_bucket" in df.columns:
            keyed = df
        else:
            # One shuffle, partitioned by bucket so each output dir is
            # written by the tasks owning that bucket; file count per
            # bucket stays low.
            keyed = (
                df.withColumn(
                    "_bucket",
                    bucket_expr(self.key_columns[0], n_buckets or self.n_buckets),
                )
                .repartition("_bucket")
                .sortWithinPartitions(*self.key_columns)
            )
        keyed.write.partitionBy("_bucket").parquet(out_dir, mode="overwrite")
        stats_cols = stats_columns_for(
            df.schema, self.key_columns, self.order_columns
        )
        files: list[tuple[str, str]] = []
        for bdir in glob.glob(os.path.join(out_dir, "_bucket=*")):
            b = bdir.rsplit("=", 1)[1]
            for fp in glob.glob(os.path.join(bdir, "*.parquet")):
                files.append((b, fp))
        # Footer-only metadata reads (Iceberg manifest metrics analog) —
        # let bounded reads skip files. Parallel: a commit can produce
        # hundreds of files (buckets x salt groups) and a sequential
        # footer loop measurably taxes the apply hot path; a real
        # deployment computes these executor-side inside the write tasks.
        meta = collect_file_ranges([fp for _, fp in files], stats_cols)
        buckets: dict[str, list[dict[str, Any]]] = {}
        for b, fp in files:
            rel = os.path.relpath(fp, self.path)
            entry: dict[str, Any] = {"path": rel, self.SCHEMA_KEY: schema_ref}
            if kind == "delta":
                entry["kind"] = "delta"
            entry.update(meta[fp])
            buckets.setdefault(b, []).append(entry)
        return buckets

    def _commit(
        self,
        delta: BucketDelta,
        schema_ref,
        summary: dict[str, Any],
        epoch: tuple[str, int] | None = None,
        max_retries: int = 10,
        epoch_skip: bool = False,
        expect_version: int | None = None,
        n_buckets: int | None = None,
    ) -> int | None:
        """Atomically publish ``delta`` as the next version.

        Optimistic concurrency: publication fails if another writer took
        the version; the delta is then re-applied against the freshly
        loaded head and retried — so a concurrent writer's commits to
        buckets this delta did not touch are preserved (disjoint writers
        compose; overlapping buckets follow the delta's mode/conflict
        policy, and ``expected`` preconditions surface true conflicts
        instead of silently losing files)."""
        # summary values may be zero-arg callables (e.g. a lineage job
        # running concurrently with the data write) — resolve them now,
        # at the last moment before the commit is serialized.
        summary = {k: (v() if callable(v) else v) for k, v in summary.items()}
        for _ in range(max_retries):
            view = self.refresh()._view()
            if expect_version is not None and view.version != expect_version:
                # whole-table precondition (rebucket): ANY concurrent
                # commit invalidates the rewrite — re-read and retry via
                # commit_with_retry, never silently clobber.
                raise CommitConflict(
                    f"table moved to v{view.version} (expected "
                    f"v{expect_version}) during a whole-table rewrite"
                )
            if (
                epoch_skip
                and epoch is not None
                and epoch[1] <= int(view.epochs.get(epoch[0], -1))
            ):
                # Append-mode (merge-on-read) commits carry no bucket
                # preconditions, so the CoW path's conflict-then-recheck
                # never fires — this in-loop ledger check is what makes
                # two concurrent appliers of the SAME epoch exactly-once
                # (the loser sees the winner's marker and no-ops).
                return None
            # Merge-on-read tables fold by commit sequence — stamp EVERY
            # entry with the version this attempt will publish
            # (re-stamped on retry; the dicts are shared with ``delta``).
            # Base entries need the stamp too: a blind append() landing
            # AFTER a delta commit must outrank it in a "replace" fold,
            # and an unstamped base entry would fold at seq 0 and lose
            # to any older delta (round-5 review finding).
            if self.merge_policy:
                for fs in delta.entries.values():
                    for e in fs:
                        e["seq"] = view.version + 1
            rebased = delta.against(view)
            if rebased is None:
                # every bucket of a keep_fresh rewrite lost to a
                # concurrent writer: publish nothing
                return view.version
            v = self._publish(view, rebased, schema_ref, summary, epoch, n_buckets)
            if v is not None:
                self.refresh()
                return v
        raise RuntimeError(f"commit contention: gave up after {max_retries} retries")

    def append(
        self,
        df: DataFrame,
        summary: dict[str, Any] | None = None,
        epoch: tuple[str, int] | None = None,
    ) -> int:
        """Blind append (no key resolution) with schema evolution."""
        ref, schema = self._ensure_schema(df.schema)
        new_buckets = self._write_data(align_to_schema(df, schema), ref)
        return self._commit(
            BucketDelta("append", new_buckets),
            ref,
            {"operation": "append", **(summary or {})},
            epoch=epoch,
        )

    def overwrite(
        self,
        df: DataFrame,
        summary: dict[str, Any] | None = None,
        epoch: tuple[str, int] | None = None,
    ) -> int:
        """Replace the whole table contents (REPLACE strategy,
        reference:src/etl_framework/plugins/loaders/sql_loader.py:191-203)."""
        ref, schema = self._ensure_schema(df.schema)
        new_buckets = self._write_data(align_to_schema(df, schema), ref)
        return self._commit(
            BucketDelta("overwrite", new_buckets),
            ref,
            {"operation": "overwrite", **(summary or {})},
            epoch=epoch,
        )

    def merge(
        self,
        source: DataFrame,
        resolve,
        evolve_schema: T.StructType | None = None,
        summary: dict[str, Any] | None = None,
        epoch: tuple[str, int] | None = None,
        mode: str | None = None,
    ) -> int | None:
        """Keyed MERGE. Two physical strategies behind one semantic:

        - ``mode="cow"`` (copy-on-write, the default for tables created
          without a ``merge_policy``): read only the buckets ``source``
          touches, apply ``resolve(target_subset, source)``, rewrite
          those buckets, carry every other bucket forward by reference.
        - ``mode="mor"`` (merge-on-read, the default when the table has
          a ``merge_policy``): ``resolve`` runs against an EMPTY target
          (it must emit self-contained rows — per-key winners with
          delete TOMBSTONES, never physical drops) and the result is
          committed as per-epoch DELTA files appended to the touched
          buckets. No target read, no bucket rewrite: write cost is
          O(batch) regardless of bucket size. Reads fold the deltas per
          the table's policy; ``compact`` collapses them back to base.
          Returns ``None`` when ``epoch`` was already applied (the
          in-commit ledger check — appends have no bucket preconditions
          to conflict on).

        ``resolve`` owns the row semantics (LWW upsert, delete handling);
        this method owns IO minimization + atomic publication. Iceberg
        equivalent: ``MERGE INTO t USING s ON keys WHEN MATCHED ... WHEN
        NOT MATCHED ...``.

        ``evolve_schema``: the *stored-shape* schema the source implies
        (source itself may be CDC-enveloped and wider than the table);
        defaults to ``source.schema``.

        Concurrency: the per-bucket file lists this merge READ are passed
        to the commit as ``expected`` preconditions, so a concurrent
        writer that rewrote or appended to an overlapping bucket between
        our read and our commit surfaces as ``CommitConflict`` (re-run
        the merge via ``commit_with_retry``) instead of silently losing
        its files. Disjoint-bucket writers still compose without
        conflict.
        """
        ref, schema = self._ensure_schema(evolve_schema or source.schema)
        if mode is None:
            mode = "mor" if self.merge_policy else "cow"
        if mode == "mor":
            empty = align_to_schema(self.spark.createDataFrame([], schema), schema)
            resolved = resolve(empty, source)
            aligned = merge_salt_groups(
                align_to_schema(resolved, schema, keep=["_bucket"]),
                self.key_columns,
            )
            new_buckets = self._write_data(aligned, ref, kind="delta")
            return self._commit(
                BucketDelta("append", new_buckets),
                ref,
                {
                    "operation": "merge",
                    "mor": True,
                    "touched_buckets": sorted(int(b) for b in new_buckets),
                    **(summary or {}),
                },
                epoch=epoch,
                epoch_skip=True,
            )

        touched = self.touched_buckets(source)
        # the file lists we are about to read — the commit's optimistic
        # precondition
        expected = _read_view(self._view(), touched)
        target_subset = align_to_schema(self.read(buckets=touched), schema)
        resolved = resolve(target_subset, source)
        aligned = align_to_schema(resolved, schema, keep=["_bucket"])
        new_buckets = self._write_data(aligned, ref)
        return self._commit(
            BucketDelta(
                "replace",
                new_buckets,
                dropped=set(expected) - set(new_buckets),
                expected=expected,
                on_conflict="raise",
            ),
            ref,
            {"operation": "merge", "touched_buckets": touched, **(summary or {})},
            epoch=epoch,
        )

    # -------------------------------------------------------- maintenance
    def compact(self, min_files: int = 2) -> int:
        """Rewrite fragmented buckets into one sorted file set each.

        APPEND-heavy usage accumulates files per bucket (every append
        extends the bucket's file list); at scale many small files slow
        every subsequent scan and merge. Compaction reads only buckets
        with >= ``min_files`` files, rewrites them key-sorted, and
        carries every other bucket forward by reference — same
        copy-on-write shape as merge, so it can run between ingest
        epochs without blocking readers (old snapshots stay readable).
        A compaction that lost every bucket to concurrent writers
        publishes nothing and returns the current version.
        """
        view = self._view()
        frag = sorted(int(b) for b, fs in view.buckets.items() if len(fs) >= min_files)
        if not frag:
            return view.version
        ref, schema = self._ensure_schema(view.schema)
        expected = _read_view(view, frag)
        data = align_to_schema(self.read(buckets=frag), schema)
        new_buckets = self._write_data(data, ref)
        # ``expected`` precondition: a concurrent merge may have
        # REWRITTEN (or a delete REMOVED) a fragged bucket after we read
        # it — publishing compacted pre-change data would resurrect
        # stale rows. keep_fresh drops our compaction for exactly those
        # buckets; the concurrent writer's view wins.
        return self._commit(
            BucketDelta(
                "replace",
                new_buckets,
                dropped=set(expected) - set(new_buckets),
                expected=expected,
                on_conflict="keep_fresh",
            ),
            ref,
            {"operation": "compact", "buckets": frag},
        )

    def rebucket(self, n_buckets: int) -> int:
        """Offline maintenance: rewrite the WHOLE table under a new
        bucket count (a table sized for 1 TB keeps its create-time
        width forever otherwise — at 100 TB each bucket becomes a
        multi-TB merge unit). Copy-on-write and conflict-safe: the
        commit carries a whole-table version precondition, so ANY
        concurrent commit raises ``CommitConflict`` (re-run via
        ``commit_with_retry``) instead of being clobbered. Epoch
        ledgers (relay watermarks, stream markers) carry forward;
        old snapshots stay readable under their own layout width."""
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        pre = self.version
        ref, schema = self._ensure_schema(self.schema)
        data = align_to_schema(self.read(), schema)
        new_buckets = self._write_data(data, ref, n_buckets=n_buckets)
        v = self._commit(
            BucketDelta("overwrite", new_buckets),
            ref,
            {"operation": "rebucket", "from_buckets": self.n_buckets},
            expect_version=pre,
            n_buckets=n_buckets,
        )
        # the commit's final refresh already adopted the new width
        assert self.n_buckets == n_buckets
        return v

    def delete_where(
        self,
        condition,
        summary: dict[str, Any] | None = None,
        ranges: dict[str, tuple] | None = None,
    ) -> int:
        """Delete rows matching ``condition``, rewriting ONLY the buckets
        that contain matching rows. ``ranges`` (optional) is a
        conservative ``{col: (lo, hi)}`` bound IMPLIED by the condition
        (every matching row falls inside it) — the hit scan then skips
        files whose stats cannot intersect it.

        Two passes, both delta-proportional at scale:

        1. a column-pruned scan (key + condition columns only) finds the
           bucket ids with matches — GC'ing a handful of tombstones in a
           100 TB table reads two columns and rewrites a few buckets, not
           the table;
        2. those buckets are re-read in full, filtered, and rewritten;
           every other bucket is carried forward by reference at commit.

        Concurrency: the rebase carries forward a concurrent writer's
        commits to untouched buckets; if a TOUCHED bucket's file list
        moved between our read and the commit, ``CommitConflict`` is
        raised (failing loudly beats publishing a pre-read view that
        would drop the other writer's files)."""
        view = self._view()
        key = self.key_columns[0]
        kcol = F.col(key).cast(view.schema[key].dataType)
        hit = (
            self.read(ranges=ranges)
            .where(condition)
            .select(bucket_expr(kcol, self.n_buckets).alias("b"))
            .distinct()
            .collect()
        )
        touched = sorted(r["b"] for r in hit)
        if not touched:
            return view.version
        ref, _ = self._ensure_schema(view.schema)
        expected = _read_view(view, touched)
        # SQL DELETE semantics: remove rows where the condition is TRUE;
        # rows where it evaluates NULL are KEPT. A bare ~condition would
        # silently drop them — delete tombstones carry NULL payload
        # columns, so e.g. delete_where(role == 'x') must not GC every
        # tombstone that shares a bucket with a match (losing the stored
        # (ts, _lsn) that no-ops late out-of-order events for that key).
        kept = self.read(buckets=touched).where(
            ~F.coalesce(condition, F.lit(False))
        )
        new_buckets = self._write_data(kept, ref)
        return self._commit(
            BucketDelta(
                "replace",
                new_buckets,
                dropped=set(expected) - set(new_buckets),
                expected=expected,
                on_conflict="raise",
            ),
            ref,
            {"operation": "delete", "touched_buckets": touched, **(summary or {})},
        )

    def compact_tombstones(self, older_than) -> int:
        """Garbage-collect tombstones whose ``ts`` predates the log's
        out-of-orderness bound (events older than this can no longer
        arrive, so the tombstone has finished its job). The hit scan is
        file-skipped via manifest stats: only files whose ``ts`` range
        reaches below the bound are opened."""
        return self.delete_where(
            F.coalesce(F.col("_deleted"), F.lit(False)) & (F.col("ts") < F.lit(older_than)),
            summary={"operation": "compact_tombstones"},
            ranges={"ts": (None, older_than)},
        )


class LakeTable(BucketTable):
    """A bucket-partitioned snapshot-versioned parquet table: the shared
    data plane over an Iceberg-style snapshot-manifest log."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._snap: Snapshot | None = None
        self._schemas: dict[int, T.StructType] = {}
        self.n_buckets: int = 0
        self.key_columns: list[str] = []
        self.manifest_shard_size: int = 0
        self.merge_policy: str | None = None
        self.order_columns: list[str] = []
        self._load_meta()

    # ------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_columns: list[str],
        n_buckets: int = 32,
        manifest_shard_size: int | None = None,
        merge_policy: str | None = None,
    ) -> "LakeTable":
        """Create an empty table; raises ``FileExistsError`` if one
        already exists at ``path``.

        ``manifest_shard_size``: buckets per manifest shard; 0 = inline
        bucket map. Default: inline up to ``MANIFEST_INLINE_MAX``
        buckets, else ~``MANIFEST_TARGET_SHARDS`` shards.

        ``merge_policy`` (see ``MERGE_POLICIES``): ``None`` keeps every
        MERGE copy-on-write; ``"lww"``/``"replace"`` let MERGE commit
        delta files folded at read (merge-on-read)."""
        meta = os.path.join(os.path.abspath(path), META_DIR)
        if os.path.exists(os.path.join(meta, "table.json")):
            raise FileExistsError(f"LakeTable already exists at {path}")
        if manifest_shard_size is None:
            manifest_shard_size = (
                0
                if n_buckets <= MANIFEST_INLINE_MAX
                else -(-n_buckets // MANIFEST_TARGET_SHARDS)
            )
        order_columns = fold_order(merge_policy)
        os.makedirs(meta, exist_ok=True)
        os.makedirs(os.path.join(meta, SHARD_DIR), exist_ok=True)
        os.makedirs(os.path.join(os.path.abspath(path), DATA_DIR), exist_ok=True)
        table_meta = {
            "format_version": 2,
            "key_columns": key_columns,
            "n_buckets": n_buckets,
            "manifest_shard_size": manifest_shard_size,
            "merge_policy": merge_policy,
            "order_columns": order_columns,
            "schemas": {"0": json.loads(schema.json())},
        }
        with open(os.path.join(meta, "table.json"), "w") as f:
            json.dump(table_meta, f)
        snap: dict[str, Any] = {
            "version": 0,
            "schema_id": 0,
            "summary": {"operation": "create"},
            "epochs": {},
        }
        if manifest_shard_size > 0:
            snap["shards"] = {}
        else:
            snap["buckets"] = {}
        with open(os.path.join(meta, "v%012d.json" % 0), "w") as f:
            json.dump(snap, f)
        return cls(spark, path)

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(os.path.abspath(path), META_DIR, "table.json"))

    # --------------------------------------------------------------- meta
    def _snapshot_from_json(self, s: dict[str, Any]) -> Snapshot:
        if "shards" not in s and "buckets" not in s:
            # A snapshot written by a NEWER format this reader does not
            # understand must fail loudly, not read as an empty table.
            raise ValueError(
                f"snapshot v{s.get('version')} at {self.path} has neither "
                "'buckets' nor 'shards' — written by an unsupported "
                "(newer?) format version"
            )
        return Snapshot(
            version=s["version"],
            schema_id=s["schema_id"],
            summary=s.get("summary", {}),
            epochs=s.get("epochs", {}),
            inline_buckets=None if "shards" in s else s.get("buckets", {}),
            shards=s.get("shards"),
            base_path=self.path,
            shard_size=self.manifest_shard_size,
            n_buckets=s.get("n_buckets"),
            schemas=self._schemas,
        )

    def _latest_version(self, meta: str) -> int:
        """Newest committed version WITHOUT an O(versions) directory
        glob: start from the best-effort ``LATEST`` hint written after
        each commit and probe forward file-by-file (the hint may lag a
        concurrent writer by a few commits but never leads). Falls back
        to the glob only when no hint exists (pre-hint tables). At a
        sustained one-epoch-per-second ingest the version directory
        grows unboundedly — the hint keeps refresh cost O(lag), and
        ``expire_snapshots`` bounds the directory itself."""
        hint = -1
        try:
            with open(os.path.join(meta, "LATEST")) as f:
                hint = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            pass
        if hint < 0 or not os.path.exists(os.path.join(meta, "v%012d.json" % hint)):
            versions = [
                int(os.path.basename(p)[1:-5])
                for p in glob.glob(os.path.join(meta, "v*.json"))
            ]
            hint = max(versions)
        while os.path.exists(os.path.join(meta, "v%012d.json" % (hint + 1))):
            hint += 1
        return hint

    def _write_latest_hint(self, version: int) -> None:
        meta = os.path.join(self.path, META_DIR)
        tmp = os.path.join(meta, f".latest-{uuid.uuid4().hex}")
        try:
            with open(tmp, "w") as f:
                f.write(str(version))
            os.replace(tmp, os.path.join(meta, "LATEST"))
        except OSError:  # hint is best-effort; probing corrects a stale one
            pass

    #: table.json format versions this reader understands. v1 = inline
    #: bucket maps only; v2 adds sharded manifests. Anything else raises
    #: on open — silently reading a future format as empty loses data.
    SUPPORTED_FORMAT_VERSIONS = (1, 2)

    def _load_meta(self) -> None:
        meta = os.path.join(self.path, META_DIR)
        with open(os.path.join(meta, "table.json")) as f:
            tm = json.load(f)
        fv = int(tm.get("format_version", 1))
        if fv not in self.SUPPORTED_FORMAT_VERSIONS:
            raise ValueError(
                f"LakeTable at {self.path} has format_version={fv}; this "
                f"reader supports {self.SUPPORTED_FORMAT_VERSIONS} — "
                "upgrade the engine to read this table"
            )
        self.key_columns = tm["key_columns"]
        self.n_buckets = tm["n_buckets"]
        self.manifest_shard_size = int(tm.get("manifest_shard_size", 0))
        self.merge_policy = tm.get("merge_policy")
        self.order_columns = list(tm.get("order_columns") or [])
        self._schemas = {
            int(k): T.StructType.fromJson(v) for k, v in tm["schemas"].items()
        }
        with open(os.path.join(meta, "v%012d.json" % self._latest_version(meta))) as f:
            s = json.load(f)
        self._snap = self._snapshot_from_json(s)
        # ``rebucket`` re-keys the layout: the snapshot's bucket count
        # (carried forward by every commit) overrides table.json's
        # create-time value.
        if self._snap.n_buckets:
            self.n_buckets = int(self._snap.n_buckets)

    def refresh(self) -> "LakeTable":
        self._load_meta()
        return self

    @property
    def snapshot(self) -> Snapshot:
        assert self._snap is not None
        return self._snap

    def history(self) -> list[dict[str, Any]]:
        meta = os.path.join(self.path, META_DIR)
        out = []
        for p in sorted(glob.glob(os.path.join(meta, "v*.json"))):
            with open(p) as f:
                s = json.load(f)
            out.append({"version": s["version"], "summary": s.get("summary", {})})
        return out

    def snapshot_at(self, version: int) -> Snapshot:
        """Load a historical snapshot (time travel). Shard files are
        immutable, so old versions' shard references stay readable.
        Raises :class:`VersionExpiredError` when the version predates
        the retention window (``expire_snapshots`` removed its file);
        a version beyond the current head raises plain ``ValueError``."""
        p = os.path.join(self.path, META_DIR, "v%012d.json" % version)
        try:
            with open(p) as f:
                s = json.load(f)
        except FileNotFoundError:
            if version <= self._latest_version(os.path.join(self.path, META_DIR)):
                raise VersionExpiredError(
                    f"version {version} of {self.path} was expired from "
                    "the time-travel window (expire_snapshots)"
                ) from None
            raise ValueError(f"unknown version {version} at {self.path}") from None
        return self._snapshot_from_json(s)

    def _view(self, version: int | None = None) -> Snapshot:
        return self.snapshot if version is None else self.snapshot_at(version)

    def _register_schema(self, schema: T.StructType) -> int:
        """Integer schema ids, appended to ``table.json`` on evolution
        (ids are monotone; a commit never regresses its snapshot's)."""
        if schema == self.schema:
            return self.snapshot.schema_id
        new_id = max(self._schemas) + 1
        self._schemas[new_id] = schema
        meta = os.path.join(self.path, META_DIR)
        with open(os.path.join(meta, "table.json")) as f:
            tm = json.load(f)
        tm["schemas"][str(new_id)] = json.loads(schema.json())
        tmp = os.path.join(meta, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(tm, f)
        os.replace(tmp, os.path.join(meta, "table.json"))
        return new_id

    # ------------------------------------------------------------ commits
    def _write_shard(self, content: dict[str, list[dict[str, Any]]]) -> str:
        """Persist one immutable manifest shard; returns its relpath."""
        rel = os.path.join(META_DIR, SHARD_DIR, f"s-{uuid.uuid4().hex}.json")
        with open(os.path.join(self.path, rel), "w") as f:
            json.dump({"buckets": content}, f)
        return rel

    def _sharded_map(self, delta: BucketDelta, fresh: Snapshot) -> dict[str, str]:
        """Apply ``delta`` shard-by-shard against ``fresh``; returns the
        new shard reference map. Only shards containing touched buckets
        are loaded and rewritten — every other shard is carried by FILE
        reference, so commit IO is O(touched), not O(table)."""
        size = max(self.manifest_shard_size, 1)
        if delta.mode == "overwrite":
            by_shard: dict[str, dict[str, list[dict[str, Any]]]] = {}
            for b, fs in delta.entries.items():
                by_shard.setdefault(str(int(b) // size), {})[b] = fs
            return {idx: self._write_shard(c) for idx, c in by_shard.items()}
        new_shards = dict(fresh.shards)
        for idx in sorted({str(int(b) // size) for b in delta.touched}):
            in_shard = {b for b in delta.touched if str(int(b) // size) == idx}
            content = delta.apply(dict(fresh._load_shard(idx)), restrict=in_shard)
            if content:
                new_shards[idx] = self._write_shard(content)
            else:
                new_shards.pop(idx, None)
        return new_shards

    def _publish(
        self,
        view: Snapshot,
        delta: BucketDelta,
        schema_ref: int,
        summary: dict[str, Any],
        epoch: tuple[str, int] | None,
        n_buckets: int | None,
    ) -> int | None:
        """Write the next snapshot (inline map or rewritten shards) and
        hard-link it into place; None when the version was taken."""
        meta = os.path.join(self.path, META_DIR)
        epochs = dict(view.epochs)
        if epoch is not None:
            epochs[epoch[0]] = max(int(epochs.get(epoch[0], -1)), epoch[1])
        new: dict[str, Any] = {
            "version": view.version + 1,
            # Schema ids are monotone (evolution only appends); a
            # maintenance commit (compact/delete) planned against a
            # PRE-evolution snapshot must not regress the table to
            # its stale schema_id — readers would silently drop the
            # evolved columns until the next evolving write. Found
            # by the chaos soak: compact raced a mid-stream schema
            # widening and un-evolved the table for a window.
            "schema_id": max(schema_ref, view.schema_id),
            "summary": summary,
            "epochs": epochs,
        }
        eff_buckets = n_buckets or view.n_buckets
        if eff_buckets:
            # layout width travels with every snapshot once a
            # rebucket changed it (table.json keeps the create value)
            new["n_buckets"] = int(eff_buckets)
        if view.sharded:
            new["shards"] = self._sharded_map(delta, view)
        else:
            new["buckets"] = delta.apply(view.buckets)
        tmp = os.path.join(meta, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(new, f)
        try:
            os.link(tmp, os.path.join(meta, "v%012d.json" % new["version"]))
        except FileExistsError:
            return None
        finally:
            os.unlink(tmp)
        self._write_latest_hint(new["version"])
        return new["version"]

    # -------------------------------------------------------- maintenance
    def expire_snapshots(
        self, keep_last: int = 10, grace_seconds: int = 3600
    ) -> dict[str, int]:
        """Expire old snapshots and garbage-collect unreferenced files
        (Iceberg's ``expireSnapshots`` + orphan-file removal).

        Keeps the newest ``keep_last`` versions; older snapshot files
        are deleted (shrinking the time-travel window — that is the
        point: a sustained one-epoch-per-second ingest otherwise grows
        the version directory without bound). Data and manifest-shard
        files referenced by NO surviving snapshot are deleted only if
        older than ``grace_seconds`` — the standard guard against
        removing files a concurrent writer has written but not yet
        committed.
        """
        meta = os.path.join(self.path, META_DIR)
        latest = self._latest_version(meta)
        cutoff = latest - keep_last + 1
        live_data: set[str] = set()
        live_shards: set[str] = set()
        expired: list[int] = []
        for p in glob.glob(os.path.join(meta, "v*.json")):
            v = int(os.path.basename(p)[1:-5])
            if v < cutoff:
                expired.append(v)
                continue
            snap = self.snapshot_at(v)
            if snap.sharded:
                live_shards.update(snap.shards.values())
            for files in snap.buckets.values():
                live_data.update(e["path"] for e in files)
        n_data = delete_unreferenced(
            self.path, os.path.join(DATA_DIR, "**", "*.parquet"), live_data, grace_seconds
        )
        data_root = os.path.join(self.path, DATA_DIR)
        # drop now-empty commit directories
        for d in sorted(glob.glob(os.path.join(data_root, "*", "*")), reverse=True) + sorted(
            glob.glob(os.path.join(data_root, "*")), reverse=True
        ):
            if os.path.isdir(d) and not os.listdir(d):
                os.rmdir(d)
        n_shards = delete_unreferenced(
            self.path, os.path.join(META_DIR, SHARD_DIR, "*.json"), live_shards, grace_seconds
        )
        for v in expired:
            os.unlink(os.path.join(meta, "v%012d.json" % v))
        self._load_meta()
        return {
            "expired_snapshots": len(expired),
            "deleted_data_files": n_data,
            "deleted_shard_files": n_shards,
            "kept_from_version": max(cutoff, 0),
        }
