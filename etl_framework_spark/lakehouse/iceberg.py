"""``IcebergTable`` — the :class:`~etl_framework_spark.lakehouse.protocol.KeyedTable`
adapter over a REAL Apache Iceberg catalog (``docs/ICEBERG_ADAPTER.md``
turned into code).

This module is import-safe offline; every catalog-touching call happens
inside methods, and :func:`iceberg_available` is the runtime gate
(mirrors the JDBC sink's jar-gated integration marker). With
``iceberg-spark-runtime`` on the classpath and a catalog configured::

    spark = (SparkSession.builder
        .config("spark.jars.packages",
                "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>")
        .config("spark.sql.catalog.lake",
                "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.lake.type", "hadoop")
        .config("spark.sql.catalog.lake.warehouse", "/path/wh")
        .getOrCreate())
    t = IcebergTable.create(spark, "lake.db.events", schema,
                            key_columns=["conv_id", "turn_idx"],
                            n_buckets=64)
    apply_changes(t, batch, stream_id="cdc", epoch_id=7)   # unchanged

Design notes (per-method mapping in ``docs/ICEBERG_ADAPTER.md``):

- **Versions** are DENSE indexes into the table's snapshot history
  (ordered by ``committed_at, snapshot_id``), not raw snapshot ids —
  the protocol promises monotone ints; the adapter translates at the
  boundary. Expired history raises ``VersionExpiredError`` like the
  in-repo formats.
- **Exactly-once** epochs ride Iceberg snapshot summary properties
  (``etl.epoch.<stream_id>``) written via write options
  (``snapshot-property.*``) in the SAME commit as the data;
  ``last_epoch`` folds the max over the retained history, so epoch
  retention follows snapshot retention — size ``expire_snapshots``
  accordingly (documented Iceberg idempotent-sink pattern).
- **merge** keeps the engine's resolver + copy-on-write shape:
  resolve against the touched buckets, then ``overwritePartitions``
  (dynamic partition overwrite of exactly the bucket partitions the
  resolver emitted). Iceberg's optimistic commit surfaces concurrent
  overlapping writers as ``CommitFailedException``/``ValidationException``
  — re-raised as :class:`CommitConflict` so ``commit_with_retry``
  works unchanged. ``merge_policy`` tables are NOT supported here:
  Iceberg's own row-level operations (``MERGE INTO`` with
  merge-on-read v2 deletes) are the native analog; asking for
  ``mode="mor"`` raises rather than emulating it badly.
- **changes_between** diffs the two versions' live file lists from the
  ``<t>.files`` metadata table per bucket partition (the same
  identical-files ⇒ identical-content pruning the in-repo formats use)
  and feeds the shared ``lakehouse.feed.diff_versions`` join.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_framework_spark.lakehouse.table import (
    CommitConflict,
    SchemaEvolutionError,
    VersionExpiredError,
    align_to_schema,
    merge_schemas,
)

#: table properties carrying the engine's metadata on the catalog table
PROP_KEYS = "etl.key_columns"
PROP_BUCKETS = "etl.n_buckets"
EPOCH_PREFIX = "etl.epoch."

_CONFLICT_CLASSES = ("CommitFailedException",)


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.catalog.Catalog"
        )
        return True
    except Exception:
        return False


def _is_commit_conflict(exc: Exception) -> bool:
    """Retryable optimistic-commit loss, NOT any validation failure: a
    deterministic schema/spec ValidationException re-labeled as a
    conflict would burn the whole commit_with_retry budget re-resolving
    a batch that can never succeed (the same broad-substring trap the
    JDBC sink's failure classification was hardened against)."""
    text = str(exc)
    if any(c in text for c in _CONFLICT_CLASSES):
        return True
    return "ValidationException" in text and "onflict" in text


def _ddl(schema: T.StructType) -> str:
    cols = []
    for f in schema.fields:
        null = "" if f.nullable else " NOT NULL"
        cols.append(f"`{f.name}` {f.dataType.simpleString()}{null}")
    return ", ".join(cols)


def lineage_order(snaps: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Re-order ``.snapshots`` rows (pre-sorted by ``committed_at,
    snapshot_id``) along the parent-id chain when it is complete and
    linear. Two commits can land in the same millisecond and snapshot
    ids are random, so the timestamp sort alone can place a child
    BEFORE its parent — inverting dense-version mapping and change
    feeds. Timestamp order stays the fallback for gapped (expired
    parents are normal: the oldest retained snapshot's parent is gone)
    or branched histories where no single complete chain exists."""
    by_id = {int(s["snapshot_id"]): s for s in snaps}
    child_of: dict[int | None, list[dict[str, Any]]] = {}
    for s in snaps:
        p = s.get("parent_id")
        p = int(p) if p is not None and int(p) in by_id else None
        child_of.setdefault(p, []).append(s)
    chain: list[dict[str, Any]] = []
    cur = child_of.get(None, [])
    while len(cur) == 1:
        chain.append(cur[0])
        cur = child_of.get(int(cur[0]["snapshot_id"]), [])
    if len(chain) == len(snaps) and not cur:
        return chain
    return snaps


def dense_total(snaps: list[dict[str, Any]]) -> int:
    """Dense version of the newest snapshot: the newest retained
    ``etl.version`` summary property plus the count of FOREIGN
    snapshots after it (``rewrite_data_files`` etc. commit without
    adapter properties). Anchoring on the retained count alone would
    renumber the lineage after snapshot expiry + a foreign commit."""
    for i in range(len(snaps) - 1, -1, -1):
        summ = snaps[i]["summary"] or {}
        if "etl.version" in summ:
            return int(summ["etl.version"]) + (len(snaps) - 1 - i)
    # no adapter commit retained (all-foreign or empty history): the
    # retained count is the only anchor left
    return len(snaps)


class IcebergTable:
    """``KeyedTable`` over ``catalog.namespace.table``. Requires the
    Iceberg Spark runtime (see module docstring); gate call sites with
    :func:`iceberg_available`."""

    #: adapter is copy-on-write only; Iceberg MERGE INTO is the MoR path
    merge_policy: str | None = None
    order_columns: list[str] = []

    def __init__(self, spark: SparkSession, identifier: str):
        self.spark = spark
        self.identifier = identifier
        #: path-compat alias so relay stream ids / logs stay meaningful
        self.path = identifier
        props = {
            r["key"]: r["value"]
            for r in spark.sql(
                f"SELECT key, value FROM {identifier}.properties"
            ).collect()
        }
        if PROP_KEYS not in props:
            raise ValueError(
                f"{identifier} was not created by IcebergTable.create "
                f"(missing {PROP_KEYS!r} table property)"
            )
        self.key_columns = props[PROP_KEYS].split(",")
        self.n_buckets = int(props[PROP_BUCKETS])
        #: memoized .snapshots rows; refresh() invalidates. One relay
        #: sync otherwise re-collects the snapshot metadata ~6 times
        #: (version/_snapshot_id_at/last_epoch all walk the same rows).
        self._snaps_cache: list[dict[str, Any]] | None = None

    # ------------------------------------------------------------ create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        identifier: str,
        schema: T.StructType,
        key_columns: list[str],
        n_buckets: int = 32,
        merge_policy: str | None = None,
    ) -> "IcebergTable":
        if merge_policy is not None:
            raise ValueError(
                "IcebergTable is copy-on-write only; use Iceberg's native "
                "row-level MERGE (v2 merge-on-read deletes) instead of the "
                "in-repo delta-fold emulation"
            )
        key0 = key_columns[0]
        spark.sql(
            f"CREATE TABLE {identifier} ({_ddl(schema)}) USING iceberg "
            f"PARTITIONED BY (bucket({int(n_buckets)}, `{key0}`)) "
            f"TBLPROPERTIES ("
            f"'{PROP_KEYS}'='{','.join(key_columns)}', "
            f"'{PROP_BUCKETS}'='{int(n_buckets)}', "
            # v2 format + snapshot summaries retained in metadata
            f"'format-version'='2')"
        )
        return cls(spark, identifier)

    @classmethod
    def exists(cls, spark: SparkSession, identifier: str) -> bool:
        try:
            spark.sql(f"DESCRIBE TABLE {identifier}").collect()
            return True
        except Exception:
            return False

    # -------------------------------------------------------------- meta
    def refresh(self) -> "IcebergTable":
        self.spark.catalog.refreshTable(self.identifier)
        self._snaps_cache = None
        return self

    def _snapshots(self) -> list[dict[str, Any]]:
        """Snapshot history ordered oldest-first — the dense-version
        translation table. One metadata read, no data IO; memoized
        until ``refresh()`` (same explicit-refresh visibility contract
        as the in-repo formats).

        Ordering: the parent-id chain when it is complete and linear
        (two commits can land in the same millisecond, and snapshot ids
        are random — ``committed_at, snapshot_id`` can then order a
        child BEFORE its parent, inverting change feeds); timestamp
        order is only the fallback for gapped/branched histories."""
        if self._snaps_cache is not None:
            return self._snaps_cache
        rows = self.spark.sql(
            f"SELECT snapshot_id, parent_id, committed_at, summary FROM "
            f"{self.identifier}.snapshots ORDER BY committed_at, snapshot_id"
        ).collect()
        self._snaps_cache = lineage_order([r.asDict() for r in rows])
        return self._snaps_cache

    def _snapshot_id_at(self, version: int) -> int | None:
        """Dense version -> snapshot id. ``0`` (the creation state,
        always readable as an empty table) returns None; expired
        versions raise :class:`VersionExpiredError`; beyond-head raises
        plain ``ValueError`` — the same contract as the in-repo
        formats."""
        if version == 0:
            return None
        snaps = self._snapshots()
        total = self._total_versions()
        if version > total:
            raise ValueError(f"unknown version {version} at {self.identifier}")
        # Snapshot expiry drops the OLDEST entries: detect by comparing
        # the requested dense version with the retained window.
        idx = version - (total - len(snaps)) - 1
        if idx < 0:
            raise VersionExpiredError(
                f"version {version} of {self.identifier} was expired from "
                "the time-travel window (expire_snapshots)"
            )
        return int(snaps[idx]["snapshot_id"])

    def _total_versions(self) -> int:
        """Dense version of the CURRENT snapshot = total commits ever,
        via the summary property the adapter writes on every commit.
        FOREIGN snapshots (e.g. ``rewrite_data_files`` from ``compact``)
        carry no ``etl.version``, so scan back to the newest adapter
        commit and count the foreign tail on top — anchoring on the
        retained count alone would renumber the lineage after any
        snapshot expiry followed by a foreign commit (reusing dense
        versions that named other snapshots, silently stalling relay
        watermarks)."""
        return dense_total(self._snapshots())

    @property
    def version(self) -> int:
        return self._total_versions()

    @property
    def schema(self) -> T.StructType:
        return self.spark.table(self.identifier).schema

    def last_epoch(self, stream_id: str) -> int:
        key = EPOCH_PREFIX + stream_id
        best = -1
        for s in self._snapshots():
            v = (s["summary"] or {}).get(key)
            if v is not None:
                best = max(best, int(v))
        return best

    def history(self) -> list[dict[str, Any]]:
        """Retained commits under their DENSE version numbers — after
        snapshot expiry the labels keep agreeing with ``version`` /
        ``read(version=...)`` (numbering from the retained count alone
        would silently renumber history)."""
        snaps = self._snapshots()
        offset = self._total_versions() - len(snaps)
        return [
            {"version": offset + i + 1, "summary": dict(s["summary"] or {})}
            for i, s in enumerate(snaps)
        ]

    # ------------------------------------------------------------- reads
    def _bucket_col(self):
        # Iceberg's partition transform, so reader and writer agree
        return F.expr(
            f"system.bucket({self.n_buckets}, `{self.key_columns[0]}`)"
        )

    def read(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        ranges: dict[str, tuple] | None = None,
    ) -> DataFrame:
        reader = self.spark.read
        if version is not None:
            sid = self._snapshot_id_at(version)
            if sid is None:  # version 0 = creation state: empty table
                return self.spark.createDataFrame([], self.schema)
            reader = reader.option("snapshot-id", sid)
        df = reader.table(self.identifier)
        if buckets is not None:
            # becomes partition pruning against bucket(N, key0)
            df = df.where(self._bucket_col().isin([int(b) for b in buckets]))
        if ranges:
            # Iceberg prunes files from ITS manifest metrics when the
            # bound is a plain predicate — no adapter-side stats needed.
            # NULLs must PASS: the protocol contract is pruning only
            # (the caller still applies its row filter), and the in-repo
            # formats keep rows whose bounded column is NULL (a file
            # without matching stats always survives the prune) — e.g.
            # relay delete tombstones carry NULL order columns. Iceberg
            # still file-prunes via its null-count metrics.
            for c, (lo, hi) in ranges.items():
                bounds = None
                if lo is not None:
                    bounds = F.col(c) >= F.lit(lo)
                if hi is not None:
                    upper = F.col(c) <= F.lit(hi)
                    bounds = upper if bounds is None else (bounds & upper)
                if bounds is not None:
                    df = df.where(F.col(c).isNull() | bounds)
        return df

    def current(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        ranges: dict[str, tuple] | None = None,
    ) -> DataFrame:
        df = self.read(buckets=buckets, version=version, ranges=ranges)
        if "_deleted" in df.columns:
            df = df.where(~F.coalesce(F.col("_deleted"), F.lit(False)))
        return df

    def touched_buckets(self, source: DataFrame) -> list[int]:
        key = self.key_columns[0]
        ktype = self.schema[key].dataType
        rows = (
            source.select(
                F.expr(
                    f"system.bucket({self.n_buckets}, cast(`{key}` as "
                    f"{ktype.simpleString()}))"
                ).alias("b")
            )
            .distinct()
            .collect()
        )
        return sorted(r["b"] for r in rows)

    def changes_between(self, v_from: int, v_to: int) -> DataFrame:
        """Identical-file-list bucket pruning from the ``.files``
        metadata table, then the shared feed join. Falls back to the
        FULL current-width bucket set whenever a file's partition value
        is ambiguous (NULL field after a partition-spec evolution /
        ``rebucket``, or a multi-field spec) — conservative is correct;
        guessing bucket ids against the wrong spec would silently drop
        changed keys from the feed."""
        sid_from = self._snapshot_id_at(v_from)
        sid_to = self._snapshot_id_at(v_to)
        all_buckets = list(range(self.n_buckets))
        from etl_framework_spark.lakehouse.feed import diff_versions

        def files_at(sid) -> dict[int, set] | None:
            """bucket -> file paths, or None when unprunable."""
            if sid is None:
                return {}
            rows = self.spark.sql(
                f"SELECT partition, file_path FROM {self.identifier}.files "
                f"VERSION AS OF {sid}"
            ).collect()
            out: dict[int, set] = {}
            for r in rows:
                part = r["partition"].asDict() if r["partition"] else {}
                vals = [v for v in part.values() if v is not None]
                if len(part) != 1 or len(vals) != 1:
                    return None  # evolved/foreign spec: cannot prune
                out.setdefault(int(vals[0]), set()).add(r["file_path"])
            return out

        fa, fb = files_at(sid_from), files_at(sid_to)
        if fa is None or fb is None:
            return diff_versions(self, v_from, v_to, all_buckets)
        changed = sorted(
            b for b in set(fa) | set(fb) if fa.get(b) != fb.get(b)
        )
        return diff_versions(self, v_from, v_to, changed)

    # ------------------------------------------------------------ writes
    def _writer(self, df: DataFrame, summary: dict | None, epoch):
        w = df.writeTo(self.identifier)
        w = w.option("snapshot-property.etl.version", str(self.version + 1))
        if epoch is not None:
            w = w.option(
                f"snapshot-property.{EPOCH_PREFIX}{epoch[0]}", str(int(epoch[1]))
            )
        for k, v in (summary or {}).items():
            v = v() if callable(v) else v
            import json

            w = w.option(
                f"snapshot-property.etl.{k}",
                v if isinstance(v, str) else json.dumps(v, default=str),
            )
        return w

    def _ensure_schema(self, incoming: T.StructType) -> T.StructType:
        current = self.schema
        merged, changed = merge_schemas(current, incoming)
        if not changed:
            return current
        cur = {f.name: f for f in current.fields}
        for f in merged.fields:
            if f.name not in cur:
                self.spark.sql(
                    f"ALTER TABLE {self.identifier} ADD COLUMN "
                    f"`{f.name}` {f.dataType.simpleString()}"
                )
            elif cur[f.name].dataType != f.dataType:
                # Iceberg's bucket transform hashes the LOGICAL value, so
                # key widening is safe here (documented divergence from
                # LakeTable's guard) — but reject non-widening changes.
                self.spark.sql(
                    f"ALTER TABLE {self.identifier} ALTER COLUMN "
                    f"`{f.name}` TYPE {f.dataType.simpleString()}"
                )
        self.refresh()
        return self.schema

    def append(self, df: DataFrame, summary=None, epoch=None) -> int:
        """Exactly-once caveat (vs the in-repo formats): the epoch
        guard is a PRE-CHECK — Iceberg appends never conflict with each
        other, so two appliers racing the SAME epoch can both land.
        The deployment shape that needs epochs (Structured Streaming
        ``foreachBatch``) is single-writer per stream by construction;
        concurrent-applier topologies must route through ``merge``
        (whose overwrite validation serializes overlapping commits)."""
        self.refresh()  # epoch pre-check + etl.version stamp need HEAD
        if epoch is not None and epoch[1] <= self.last_epoch(epoch[0]):
            return self.version
        schema = self._ensure_schema(df.schema)
        self._writer(align_to_schema(df, schema), summary, epoch).append()
        self.refresh()
        return self.version

    def overwrite(self, df: DataFrame, summary=None, epoch=None) -> int:
        self.refresh()  # fresh head for the etl.version stamp
        schema = self._ensure_schema(df.schema)
        w = self._writer(align_to_schema(df, schema), summary, epoch)
        try:
            # explicit whole-table condition: overwritePartitions would
            # keep any partition ABSENT from df (an empty overwrite must
            # still truncate)
            w.overwrite(F.lit(True))
        except Exception as e:
            if _is_commit_conflict(e):
                raise CommitConflict(str(e)) from e
            raise
        self.refresh()
        return self.version

    def merge(
        self,
        source: DataFrame,
        resolve,
        evolve_schema: T.StructType | None = None,
        summary: dict | None = None,
        epoch: tuple[str, int] | None = None,
        mode: str | None = None,
    ) -> int | None:
        """Copy-on-write merge: resolve against the touched buckets,
        dynamic-partition-overwrite exactly those bucket partitions.
        Concurrent overlapping commits surface as ``CommitConflict``
        (Iceberg validation), honoring ``commit_with_retry``."""
        if mode == "mor":
            raise ValueError(
                "IcebergTable does not emulate merge-on-read; use Iceberg's "
                "native MERGE INTO (v2 deletes) for that path"
            )
        self.refresh()  # epoch pre-check + etl.version stamp need HEAD
        if epoch is not None and epoch[1] <= self.last_epoch(epoch[0]):
            return None
        schema = self._ensure_schema(evolve_schema or source.schema)
        touched = self.touched_buckets(source)
        target_subset = align_to_schema(self.read(buckets=touched), schema)
        resolved = resolve(target_subset, source)
        aligned = align_to_schema(resolved.drop("_bucket"), schema)
        w = self._writer(
            aligned,
            {"operation": "merge", "touched_buckets": touched, **(summary or {})},
            epoch,
        )
        try:
            # overwrite by EXPLICIT bucket condition, not
            # overwritePartitions: a touched bucket whose resolved
            # output is empty (e.g. a relay feed that deletes every key
            # in it) must still be replaced — dynamic partition
            # overwrite would leave its old rows live
            key0 = self.key_columns[0]
            ids = ", ".join(str(int(b)) for b in touched)
            w.overwrite(
                F.expr(f"system.bucket({self.n_buckets}, `{key0}`) IN ({ids})")
                if touched
                else F.lit(False)
            )
        except Exception as e:
            if _is_commit_conflict(e):
                raise CommitConflict(str(e)) from e
            raise
        self.refresh()
        return self.version

    # ------------------------------------------------------- maintenance
    def _catalog(self) -> str:
        return self.identifier.split(".", 1)[0]

    def compact(self, min_files: int = 2) -> int:
        self.spark.sql(
            f"CALL {self._catalog()}.system.rewrite_data_files("
            f"table => '{self.identifier}'"
            f", options => map('min-input-files', '{int(min_files)}'))"
        )
        self.refresh()
        return self.version

    def expire_snapshots(
        self, keep_last: int = 10, grace_seconds: int = 3600
    ) -> dict[str, int]:
        row = self.spark.sql(
            f"CALL {self._catalog()}.system.expire_snapshots("
            f"table => '{self.identifier}', retain_last => {int(keep_last)})"
        ).collect()
        import datetime

        cutoff = (
            datetime.datetime.now(datetime.timezone.utc)
            - datetime.timedelta(seconds=int(grace_seconds))
        ).strftime("%Y-%m-%d %H:%M:%S")
        self.spark.sql(
            f"CALL {self._catalog()}.system.remove_orphan_files("
            f"table => '{self.identifier}', "
            f"older_than => TIMESTAMP '{cutoff}')"
        )
        self.refresh()
        deleted = int(row[0][0]) if row else 0
        return {"expired_snapshots": deleted, "deleted_data_files": deleted}

    def file_stats(self) -> dict[str, Any]:
        rows = self.spark.sql(
            f"SELECT partition, count(*) AS n FROM {self.identifier}.files "
            f"GROUP BY partition"
        ).collect()
        counts = [int(r["n"]) for r in rows]
        return {
            "n_buckets_with_data": len(counts),
            "total_files": sum(counts),
            "max_files_per_bucket": max(counts, default=0),
            "delta_files": 0,
            "max_delta_files_per_bucket": 0,
            "delta_buckets": 0,
        }

    def rebucket(self, n_buckets: int) -> int:
        """Iceberg evolves the partition SPEC in metadata only — new
        writes use the new width, old files keep theirs (no rewrite
        needed; run ``compact`` to converge the layout)."""
        key0 = self.key_columns[0]
        self.spark.sql(
            f"ALTER TABLE {self.identifier} REPLACE PARTITION FIELD "
            f"bucket({self.n_buckets}, `{key0}`) "
            f"WITH bucket({int(n_buckets)}, `{key0}`)"
        )
        self.spark.sql(
            f"ALTER TABLE {self.identifier} SET TBLPROPERTIES "
            f"('{PROP_BUCKETS}'='{int(n_buckets)}')"
        )
        self.n_buckets = int(n_buckets)
        self.refresh()
        return self.version
