"""``DirTable`` — a second, log-structured ``KeyedTable`` format.

Why it exists: ``docs/ICEBERG_ADAPTER.md`` promises that swapping table
formats is a constructor change because every engine component programs
against ``lakehouse.protocol.KeyedTable``. DirTable is the executable
proof: a physically DIFFERENT metadata log — a Delta-style
dense-versioned commit log (one atomic JSON action file per commit;
table state is the fold of add/replace actions) instead of
``LakeTable``'s Iceberg-style snapshot manifests — run through the same
conformance, CDC, and streaming tests (``tests/test_table_conformance.py``).

The data plane (bucketed writes, scoped merge-on-read reads, MERGE,
maintenance, the change feed and the optimistic commit loop) is
``table.BucketTable``, shared with ``LakeTable``. This module supplies
only the metadata log behind its hooks:

- **State at a version** (``_State``): replay of the commit log from
  the newest checkpoint. The head schema is the ``merge_schemas`` fold
  of every registered schema in commit order — monotone by
  construction, so a stale maintenance commit can never regress an
  evolution.
- **Content-hash schema registry.** Data files reference their write
  schema by sha256 of the canonical schema JSON (order-independent and
  idempotent under concurrent registration, where integer ids would
  collide); a new schema is registered inside the commit that first
  uses it.
- **Publication.** The next version is ``current + 1`` and a commit is
  an exclusive hard-link of its action record; a taken version makes
  the shared loop reload the log and retry. A TOCTOU guard keeps a
  commit from landing below a concurrently written checkpoint.
- **Checkpoints bound replay.** ``expire_snapshots`` writes a folded
  checkpoint and deletes older commit files plus unreferenced data
  files (with an mtime grace), so a sustained one-epoch-per-second
  ingest replays O(keep_last), not O(all history).

Format on disk::

    _log/_table.json        static: key columns, bucket count, format tag
    _log/<v 12-digit>.json  one commit: mode, per-bucket file adds,
                            replaced buckets, schema registrations,
                            epoch marker, summary
    _log/_ckpt-<v>.json     folded state checkpoint; commits <= v may be
                            garbage-collected after it exists
    data/<commit>/_bucket=K/*.parquet

This mirrors the real Delta-vs-Iceberg trade: log replay vs manifest
trees; both end in the same parquet scan.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import uuid
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import types as T

# ``collect_file_ranges`` is re-exported, not called here (the shared
# ``BucketTable._write_data`` calls it in ``table``): the benchmark's
# traced run wraps ``lakehouse.dirtable.collect_file_ranges`` by name.
from etl_framework_spark.lakehouse.table import (  # noqa: F401
    DATA_DIR,
    BucketDelta,
    BucketTable,
    VersionExpiredError,
    collect_file_ranges,
    delete_unreferenced,
    fold_order,
    merge_schemas,
)

LOG_DIR = "_log"
FORMAT_TAG = "dir-log/1"


def _schema_hash(schema: T.StructType) -> str:
    return hashlib.sha256(schema.json().encode()).hexdigest()[:16]


class _State:
    """Folded view of the commit log at one version — the state view
    ``BucketTable`` reads and commits against."""

    def __init__(self) -> None:
        self.version = -1
        self.live: dict[str, list[dict[str, Any]]] = {}
        self.schemas: dict[str, T.StructType] = {}
        self.schema_order: list[str] = []
        self.epochs: dict[str, int] = {}
        self.history: list[dict[str, Any]] = []
        #: layout width; None until a rebucket commit overrides create's
        self.n_buckets: int | None = None

    def fold(self, commit: dict[str, Any]) -> None:
        for h, sj in commit.get("schemas", {}).items():
            if h not in self.schemas:
                self.schemas[h] = T.StructType.fromJson(
                    sj if isinstance(sj, dict) else json.loads(sj)
                )
                self.schema_order.append(h)
        mode = commit["mode"]
        adds = commit.get("adds", {})
        if mode == "overwrite":
            self.live = {b: list(fs) for b, fs in adds.items()}
        elif mode == "append":
            for b, fs in adds.items():
                self.live.setdefault(b, []).extend(fs)
        elif mode == "replace":
            for b in commit.get("replaced", list(adds)):
                self.live[str(b)] = list(adds.get(str(b), []))
            self.live = {b: fs for b, fs in self.live.items() if fs}
        else:  # pragma: no cover - format guard
            raise ValueError(f"unknown commit mode {mode!r}")
        ep = commit.get("epoch")
        if ep:
            s, e = ep[0], int(ep[1])
            self.epochs[s] = max(self.epochs.get(s, -1), e)
        if commit.get("n_buckets"):
            self.n_buckets = int(commit["n_buckets"])
        self.version = int(commit["version"])
        self.history.append(
            {
                "version": self.version,
                "summary": commit.get("summary", {}),
                # unique commit identity — lets a writer racing an
                # expire distinguish "my commit was folded into the
                # checkpoint" from "my version number was expired and
                # reused" (see the _publish TOCTOU guard)
                "id": commit.get("id"),
            }
        )

    @property
    def schema(self) -> T.StructType:
        """The monotone fold of every registered schema, in commit
        order — a late narrow registration can only add/widen, never
        drop a concurrently-evolved column."""
        out: T.StructType | None = None
        for h in self.schema_order:
            out = (
                self.schemas[h]
                if out is None
                else merge_schemas(out, self.schemas[h])[0]
            )
        if out is None:  # pragma: no cover - create() always registers one
            raise RuntimeError("empty schema registry")
        return out

    def schema_of(self, ref: str) -> T.StructType:
        return self.schemas[ref]

    @property
    def buckets(self) -> dict[str, list[dict[str, Any]]]:
        return self.live

    def buckets_for(self, bucket_ids) -> dict[str, list[dict[str, Any]]]:
        sel = [str(int(b)) for b in bucket_ids]
        return {b: self.live[b] for b in sel if b in self.live}

    def diff_maps(self, other: "_State") -> tuple[dict, dict]:
        return self.live, other.live

    def copy(self) -> "_State":
        s = _State()
        s.version = self.version
        s.live = {b: list(fs) for b, fs in self.live.items()}
        s.schemas = dict(self.schemas)
        s.schema_order = list(self.schema_order)
        s.epochs = dict(self.epochs)
        s.history = list(self.history)
        s.n_buckets = self.n_buckets
        return s


class DirTable(BucketTable):
    """Log-structured keyed table; see module docstring.

    Satisfies ``lakehouse.protocol.KeyedTable`` (gated by the
    conformance suite) — construct one and hand it to ``apply_changes``
    / ``start_ingest(table_factory=DirTable)`` unchanged.
    """

    SCHEMA_KEY = "schema"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        meta = os.path.join(path, LOG_DIR, "_table.json")
        if not os.path.isfile(meta):
            raise FileNotFoundError(f"not a DirTable: {path}")
        with open(meta) as f:
            tm = json.load(f)
        if tm.get("format") != FORMAT_TAG:
            raise ValueError(f"unsupported format {tm.get('format')!r}")
        self.key_columns: list[str] = list(tm["key_columns"])
        self.n_buckets: int = int(tm["n_buckets"])
        self._create_buckets: int = int(tm["n_buckets"])
        self.merge_policy: str | None = tm.get("merge_policy")
        self.order_columns: list[str] = list(tm.get("order_columns") or [])
        self._commits: list[dict[str, Any]] = []  # parsed, after checkpoint
        self._ckpt: _State | None = None
        self._state = _State()
        #: schemas handed out by ``_register_schema``, registered in the
        #: log by the first commit that references them
        self._pending_schemas: dict[str, T.StructType] = {}
        self.refresh()

    # ----------------------------------------------------------- lifecycle
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_columns: list[str],
        n_buckets: int = 16,
        merge_policy: str | None = None,
    ) -> "DirTable":
        log = os.path.join(path, LOG_DIR)
        if os.path.exists(os.path.join(log, "_table.json")):
            raise FileExistsError(f"table already exists: {path}")
        order_columns = fold_order(merge_policy)
        os.makedirs(log, exist_ok=True)
        os.makedirs(os.path.join(path, DATA_DIR), exist_ok=True)
        with open(os.path.join(log, "_table.json"), "w") as f:
            json.dump(
                {
                    "format": FORMAT_TAG,
                    "key_columns": list(key_columns),
                    "n_buckets": int(n_buckets),
                    "merge_policy": merge_policy,
                    "order_columns": order_columns,
                },
                f,
            )
        h = _schema_hash(schema)
        commit0 = {
            "version": 0,
            "mode": "overwrite",
            "adds": {},
            "schemas": {h: json.loads(schema.json())},
            "summary": {"operation": "create"},
        }
        with open(os.path.join(log, "v%012d.json" % 0), "w") as f:
            json.dump(commit0, f)
        return cls(spark, path)

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.isfile(os.path.join(path, LOG_DIR, "_table.json"))

    # -------------------------------------------------------------- replay
    def _log_path(self, version: int) -> str:
        return os.path.join(self.path, LOG_DIR, "v%012d.json" % version)

    def _load_checkpoint(self) -> _State | None:
        cks = sorted(glob.glob(os.path.join(self.path, LOG_DIR, "_ckpt-*.json")))
        if not cks:
            return None
        with open(cks[-1]) as f:
            d = json.load(f)
        s = _State()
        s.version = int(d["version"])
        s.live = d["live"]
        s.schema_order = d["schema_order"]
        s.schemas = {
            h: T.StructType.fromJson(sj) for h, sj in d["schemas"].items()
        }
        s.epochs = {k: int(v) for k, v in d["epochs"].items()}
        s.history = d["history"]
        s.n_buckets = d.get("n_buckets") or None
        return s

    def refresh(self) -> "DirTable":
        """Fold any commits published since the last load. Re-seeds from
        the newest checkpoint when the cached base predates it (e.g.
        another process expired the log)."""
        if self._ckpt is None:
            self._ckpt = self._load_checkpoint()
        if self._ckpt is not None:
            # drop cached commits the checkpoint has already absorbed
            # (e.g. this handle cached v0..v10, then another process
            # expired the log and published _ckpt-8: keep only v9, v10)
            base_v = self._ckpt.version
            self._commits = [
                c for c in self._commits if int(c["version"]) > base_v
            ]
        base = self._ckpt.version if self._ckpt is not None else -1
        nxt = base + len(self._commits) + 1
        while True:
            p = self._log_path(nxt)
            if not os.path.isfile(p):
                break
            with open(p) as f:
                self._commits.append(json.load(f))
            nxt += 1
        state = self._ckpt.copy() if self._ckpt is not None else _State()
        for c in self._commits:
            state.fold(c)
        # If a checkpoint NEWER than our fold exists, the log between our
        # cached chain and now was expired under us: folding would stop at
        # the stale gap and — worse — a subsequent commit could os.link a
        # version number whose log file was deleted, silently forking
        # history. Re-seed from that checkpoint (strictly increasing
        # version ⇒ the recursion terminates).
        ck = self._load_checkpoint()
        if ck is not None and ck.version > state.version:
            self._ckpt, self._commits = ck, []
            return self.refresh()
        if state.version < 0:
            # base checkpoint vanished mid-race or log empty: rescan
            ck = self._load_checkpoint()
            if ck is not None and (
                self._ckpt is None or ck.version > self._ckpt.version
            ):
                self._ckpt, self._commits = ck, []
                return self.refresh()
            raise FileNotFoundError(f"no commits found under {self.path}")
        self._state = state
        # a rebucket commit re-keys the layout; its width overrides the
        # create-time value until the next rebucket
        self.n_buckets = state.n_buckets or self._create_buckets
        return self

    def _state_at(self, version: int) -> _State:
        base = self._ckpt
        if base is not None and version < base.version:
            raise VersionExpiredError(
                f"version {version} predates the oldest checkpoint "
                f"({base.version}); expired from the time-travel window"
            )
        s = base.copy() if base is not None else _State()
        for c in self._commits:
            if int(c["version"]) > version:
                break
            s.fold(c)
        if s.version != version:
            raise ValueError(f"unknown version {version}")
        return s

    def _view(self, version: int | None = None) -> _State:
        return self._state if version is None else self._state_at(version)

    def history(self) -> list[dict[str, Any]]:
        return list(self._state.history)

    # ------------------------------------------------------------ commits
    def _register_schema(self, schema: T.StructType) -> str:
        """Content hash of ``schema``; the schema itself is registered
        inside the next commit that references it (idempotent by hash)."""
        h = _schema_hash(schema)
        self._pending_schemas[h] = schema
        return h

    def _publish(
        self,
        view: _State,
        delta: BucketDelta,
        schema_ref: str,
        summary: dict[str, Any],
        epoch: tuple[str, int] | None,
        n_buckets: int | None,
    ) -> int | None:
        """Hard-link one action record as version ``view.version + 1``;
        None when the version was taken or expired under us."""
        version = view.version + 1
        commit: dict[str, Any] = {
            "version": version,
            "mode": delta.mode,
            "adds": delta.entries,
            "summary": summary,
            "id": delta.id,
        }
        if n_buckets:
            commit["n_buckets"] = int(n_buckets)
        if delta.mode == "replace":
            commit["replaced"] = sorted(delta.touched)
        if schema_ref not in view.schemas:
            schema = self._pending_schemas[schema_ref]
            commit["schemas"] = {schema_ref: json.loads(schema.json())}
        if epoch is not None:
            commit["epoch"] = [epoch[0], int(epoch[1])]
        tmp = os.path.join(self.path, LOG_DIR, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(commit, f)
        final = self._log_path(version)
        try:
            os.link(tmp, final)
        except FileExistsError:
            return None
        finally:
            os.unlink(tmp)
        # TOCTOU guard: between our refresh() and the
        # link, a concurrent process may have committed past this
        # version AND expired the log (deleting this version's file
        # and publishing a newer checkpoint) — the link then succeeds
        # on an already-expired version NUMBER, publishing a commit
        # below the checkpoint that no reader ever folds (readers
        # re-seed from the newest checkpoint). expire_snapshots
        # writes its checkpoint BEFORE deleting logs, so if our link
        # only succeeded because the file was expired, that newer
        # checkpoint is already on disk. A checkpoint at/above our
        # version is AMBIGUOUS, though: it may instead have folded
        # our just-linked commit (link landed, then an expirer with a
        # small keep_last checkpointed it before this read). The
        # checkpoint's history carries each folded commit's id, so
        # check which case this is — blindly retrying the folded
        # case would re-apply the same adds (double-commit).
        newest_ck = self._load_checkpoint()
        if newest_ck is None or newest_ck.version < version:
            return version
        self._ckpt, self._commits = None, []
        folded = next(
            (h for h in newest_ck.history if int(h.get("version", -1)) == version),
            None,
        )
        if folded is not None and folded.get("id") == delta.id:
            # our commit IS in the checkpoint lineage: durable. (the
            # redundant log file <= checkpoint is ignored by readers
            # and GC'd by the next expire)
            return version
        try:
            os.unlink(final)
        except FileNotFoundError:
            pass
        return None

    # --------------------------------------------------------- maintenance
    def expire_snapshots(
        self, keep_last: int = 10, grace_seconds: int = 3600
    ) -> dict[str, int]:
        """Checkpoint the fold at (newest - keep_last + 1) and GC commit
        files at or below it plus data files referenced by NO surviving
        version (mtime-grace-guarded, same contract as LakeTable)."""
        self.refresh()
        newest = self._state.version
        cut = newest - keep_last + 1
        removed_log = 0
        base = self._ckpt.version if self._ckpt is not None else -1
        if cut > base:
            state = self._state_at(cut)
            ck = {
                "version": state.version,
                "live": state.live,
                "schemas": {
                    h: json.loads(s.json()) for h, s in state.schemas.items()
                },
                "schema_order": state.schema_order,
                "epochs": state.epochs,
                "history": state.history,
                "n_buckets": state.n_buckets,
            }
            log = os.path.join(self.path, LOG_DIR)
            tmp = os.path.join(log, f".tmp-{uuid.uuid4().hex}.json")
            with open(tmp, "w") as f:
                json.dump(ck, f)
            os.replace(tmp, os.path.join(log, "_ckpt-%012d.json" % cut))
            for v in range(base if base >= 0 else 0, cut + 1):
                p = self._log_path(v)
                if os.path.isfile(p):
                    os.unlink(p)
                    removed_log += 1
            for old in glob.glob(os.path.join(log, "_ckpt-*.json")):
                # Only remove OLDER checkpoints. A concurrent maintainer
                # may have published a newer one whose absorbed commit
                # logs are already gone — deleting it would regress the
                # table to this (older) cut and orphan those versions.
                try:
                    old_v = int(os.path.basename(old)[len("_ckpt-"):-len(".json")])
                except ValueError:
                    continue
                if old_v < cut:
                    os.unlink(old)
            self._ckpt, self._commits = None, []
            self.refresh()

        # GC data files referenced by no surviving version
        referenced: set[str] = set()
        survive_from = self._ckpt.version if self._ckpt is not None else 0
        for v in range(survive_from, self._state.version + 1):
            try:
                s = self._state_at(v)
            except ValueError:
                continue
            for fs in s.live.values():
                referenced.update(e["path"] for e in fs)
        removed_data = delete_unreferenced(
            self.path, os.path.join(DATA_DIR, "*", "*", "*.parquet"), referenced, grace_seconds
        )
        # same result keys as LakeTable so callers treat formats alike
        return {
            "expired_snapshots": removed_log,
            "deleted_data_files": removed_data,
        }
