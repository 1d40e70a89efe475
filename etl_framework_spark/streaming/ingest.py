"""Streaming CDC ingestion: binlog-directory tail -> LakeTable upserts.

The reference emulates incremental ingest by re-running a batch pipeline
against the same table (reference:demo/04_database_operations.py:183-318).
Here it is a real stream: ``readStream`` over the append-only change-log
directory, ``foreachBatch`` applying each micro-batch through
``cdc.apply_changes`` (LWW dedupe + bucket-pruned merge).

Exactly-once is a two-layer contract:

1. **Structured Streaming checkpoint** (``checkpointLocation``) tracks
   source offsets; on restart the stream resumes at the first
   un-checkpointed batch (at-least-once delivery into foreachBatch).
2. **Epoch markers in the table snapshot** (``cdc.apply_changes``):
   a re-delivered ``epoch_id`` is skipped because the marker committed
   atomically with the data. at-least-once + idempotent apply =
   exactly-once table state.

Watermarks are unnecessary for correctness: LWW keys on the total order
``(ts, lsn)`` against the *stored* row, so late events apply-or-no-op
deterministically (SURVEY.md §2.10).
"""

from __future__ import annotations

import logging
from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from etl_framework_spark.cdc.apply import apply_changes
from etl_framework_spark.lakehouse.table import LakeTable

log = logging.getLogger(__name__)

#: epoch-cadence maintenance (``maintenance_every``): compact buckets
#: holding at least this many files, then expire all but the newest
#: ``EXPIRE_KEEP_LAST`` snapshots, deleting unreferenced files only
#: once they are older than ``EXPIRE_GRACE_SECONDS``
COMPACT_MIN_FILES = 4
EXPIRE_KEEP_LAST = 50
EXPIRE_GRACE_SECONDS = 3600


def start_ingest(
    spark: SparkSession,
    table_path: str,
    change_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    stream_id: str = "cdc",
    max_files_per_trigger: int = 2,
    available_now: bool = True,
    processing_time: str = "5 seconds",
    on_batch: Callable[[int], None] | None = None,
    maintenance_every: int = 0,
    table_factory: Callable[[SparkSession, str], "LakeTable"] | None = None,
    maintenance_max_files: int = 0,
) -> StreamingQuery:
    """Tail ``change_dir`` (recursive parquet file source) into the
    LakeTable at ``table_path``.

    ``available_now=True`` drains the current backlog then stops — the
    deterministic mode used by tests and bench; ``False`` runs a
    continuous ``processing_time`` trigger. ``on_batch`` is a test hook
    called after each successful apply (e.g. to simulate a crash).

    Maintenance (best-effort between batches; failures are logged as
    warnings and never fail the stream — the chaos soak covers the
    concurrent case):

    - ``maintenance_every=N`` (0 = off): every N applied epochs run
      ``compact(min_files=COMPACT_MIN_FILES)`` (copy-on-write,
      ``keep_fresh`` conflict policy — safe next to any writer) and
      ``expire_snapshots(keep_last=EXPIRE_KEEP_LAST,
      grace_seconds=EXPIRE_GRACE_SECONDS)`` (bounds the version
      directory, which otherwise grows one file per epoch forever).
    - ``maintenance_max_files=M`` (0 = off): STATS-DRIVEN compaction —
      every epoch consults ``table.file_stats()`` (metadata only) and
      compacts ONLY when some bucket holds >= M files, passing
      ``min_files=M`` so exactly the
      hot buckets rewrite and cold buckets aren't churned. This is the
      right trigger for merge-on-read tables, where delta files
      accumulate at the per-bucket rate the keys actually hash to, not
      uniformly per epoch. When set, it replaces the epoch-cadence
      compaction (``maintenance_every`` keeps driving snapshot expiry).
    """
    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(change_dir)
    )

    make_table = table_factory or LakeTable

    def apply_batch(batch_df, epoch_id: int) -> None:
        # refresh: another stream/writer may have advanced the snapshot.
        # table_factory is the KeyedTable seam — any protocol
        # implementation (LakeTable, DirTable, an Iceberg adapter)
        # drops in here; conformance gated in test_table_conformance.py.
        table = make_table(spark, table_path)
        apply_changes(
            table,
            batch_df,
            stream_id=stream_id,
            epoch_id=int(epoch_id),
            source_offsets={"epoch": int(epoch_id)},
        )
        stats_mode = maintenance_max_files > 0
        if stats_mode:
            try:
                st = table.refresh().file_stats()
                if st["max_files_per_bucket"] >= maintenance_max_files:
                    # min_files = the threshold itself: exactly the hot
                    # buckets rewrite; cold buckets carry by reference
                    table.compact(min_files=maintenance_max_files)
            except Exception as e:  # best-effort; the stream must not die
                log.warning("stats maintenance skipped: %r", e, exc_info=True)
        if maintenance_every > 0 and int(epoch_id) > 0 and int(epoch_id) % maintenance_every == 0:
            try:
                if not stats_mode:
                    table.refresh().compact(min_files=COMPACT_MIN_FILES)
                table.refresh().expire_snapshots(
                    keep_last=EXPIRE_KEEP_LAST, grace_seconds=EXPIRE_GRACE_SECONDS
                )
            except Exception as e:  # best-effort; the stream must not die
                log.warning("maintenance skipped: %r", e, exc_info=True)
        if on_batch is not None:
            on_batch(int(epoch_id))

    writer = (
        reader.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"ingest-{stream_id}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_to_completion(
    spark: SparkSession,
    table_path: str,
    change_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    **kw,
) -> None:
    """Drain the whole backlog synchronously (availableNow + await)."""
    q = start_ingest(
        spark, table_path, change_dir, checkpoint_dir, schema, available_now=True, **kw
    )
    q.awaitTermination()
