"""The three CDC workloads and the measurements they report.

Every workload is a closed loop with one writer: epoch k+1 starts only
after epoch k has committed. The change log is generated by
``datagen.gen_changes`` from the run's seed and written to parquet, one
file per epoch, before anything is timed; the engine only ever reads
those files.

- ``ingest_cow``: ``streaming.ingest`` tails the log into a copy-on-write
  LakeTable. Keys cover every bucket; datagen's default three-way hot
  split stays below the skew probe's threshold, so salting never fires.
- ``ingest_mor_skew``: the same stream into a merge-on-read ``lww``
  LakeTable with the ingest daemon's stats-driven compaction. One
  conversation carries most events, so ``detect_skew`` salts it on every
  epoch.
- ``relay_read``: a merge-on-read source is seeded and bootstrapped into a
  DirTable ``replace`` replica; each tick applies a small source epoch,
  runs ``sync_once``, scans the whole replica and applies the daemons'
  compaction rule to both tables; the compaction rule bounds fold debt,
  so the ticks repeat one compaction cycle (see ``relay_workload``).

Every workload times a fixed number of epochs or ticks, whatever
``--seconds`` says (it only sets a deadline for a stalled stream): a JVM
still warming up makes later epochs faster, so an epoch count that grew
with the engine's speed would move the medians along that curve.

``ingest_mor_skew`` compacts a bucket when it holds ``compact_files``
files. Every epoch touches every bucket, so compaction comes every
``compact_files - 1`` epochs; its timed section starts and ends on such a
cycle boundary, so the medians do not depend on where in a cycle the
clock stopped.
"""

from __future__ import annotations

import contextlib
import glob
import os
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_framework_spark.cdc import apply as cdc_apply
from etl_framework_spark.cdc import relay as cdc_relay
from etl_framework_spark.datagen import gen_changes
from etl_framework_spark.lakehouse import DirTable, LakeTable
from etl_framework_spark.schemas import CHANGE_SCHEMA, KEY_COLUMNS, TRANSCRIPT_SCHEMA
from etl_framework_spark.streaming import ingest

import oracle
import procstat

STORED = T.StructType(
    TRANSCRIPT_SCHEMA.fields
    + [
        T.StructField("_lsn", T.LongType(), True),
        T.StructField("_deleted", T.BooleanType(), True),
    ]
)
STREAM_ID = "bench"

#: ``ingest_mor_skew``'s epochs: one hot conversation. The skew probe salts
#: a conversation once its share of a batch exceeds
#: 4 x base_key_salt / shuffle_partitions = 4 x 4 / 32 = 50% at the
#: session's 32 shuffle partitions, so 70% fires with a wide margin on
#: the probe's 0.5% sample.
MOR_SKEW = {"n_hot": 1, "hot_frac": 0.7}


@dataclass(frozen=True)
class Size:
    n_buckets: int
    #: events per ingest epoch, and in the first (seed) epoch of the stream
    epoch_events: int
    seed_events: int
    relay_epoch_events: int
    #: a merge-on-read bucket compacts when it holds this many files:
    #: ``ingest_mor_skew``'s table, and both tables of ``relay_read``
    compact_files: int
    relay_compact_files: int
    #: back-to-back full scans in one timed scan operation: after the
    #: stream (ingest), and in each relay tick
    scan_repeats: int
    tick_scans: int
    #: set-up repetitions: creating the table (ingest), or creating and
    #: bootstrapping the replica (relay)
    setup_reps: int
    relay_setup_reps: int
    #: timed ingest epochs; ``ingest_mor_skew`` runs on to the end of
    #: its compaction cycle
    timed_epochs: int
    #: untimed stream batches (the first is the seed epoch) before the
    #: timed section may start
    lead_in_epochs: int
    #: the stream stops when the generated log runs out
    max_epochs: int
    #: timed relay ticks: a whole number of compaction cycles
    #: (``relay_compact_files - 1`` ticks each)
    relay_ticks: int


SIZES = {
    "full": Size(
        n_buckets=8,
        epoch_events=20_000,
        seed_events=60_000,
        relay_epoch_events=10_000,
        compact_files=4,
        relay_compact_files=3,
        scan_repeats=4,
        tick_scans=1,
        setup_reps=3,
        relay_setup_reps=2,
        timed_epochs=4,
        lead_in_epochs=3,
        max_epochs=10,
        relay_ticks=4,
    ),
    "smoke": Size(
        # 8 buckets and 20k-event epochs are the smallest at which the
        # skew probe can fire (its sample floor and per-bucket salt)
        n_buckets=8,
        epoch_events=20_000,
        seed_events=20_000,
        relay_epoch_events=2_000,
        compact_files=3,
        relay_compact_files=3,
        scan_repeats=1,
        tick_scans=1,
        setup_reps=2,
        relay_setup_reps=2,
        timed_epochs=1,
        lead_in_epochs=2,
        max_epochs=6,
        relay_ticks=2,
    ),
}


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    #: facts for the traced run's attribution and the run record
    notes: dict = field(default_factory=dict)


class Bench:
    """State of one workload run: session, scratch dir, sizes, counters."""

    def __init__(self, spark, work: str, size: Size, seed: int, seconds: float, tracer=None):
        self.spark = spark
        self.work = work
        self.size = size
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.result = Result()
        self.setup_times: list[float] = []
        #: perf_counter / wall bounds of the timed section
        self.timed = [0.0, 0.0]
        self.timed_wall = [0.0, 0.0]
        #: process-tree CPU seconds at those bounds (traced runs only)
        self.cpu = [0.0, 0.0]
        #: wall seconds since the workload began, per finished phase
        self.phases: dict[str, float] = {}
        self._t0 = time.perf_counter()

    def phase(self, name: str) -> None:
        self.phases[name] = time.perf_counter() - self._t0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    @contextlib.contextmanager
    def attempt(self, name: str, timings: list | None = None):
        """One timed operation: counted as attempted; one that raises is
        counted as failed, its traceback goes to stderr and the run goes
        on. The wall time of a successful one is appended to
        ``timings``."""
        self.result.attempted += 1
        start = time.perf_counter()
        try:
            with self.span(name):
                yield
        except Exception:
            self.result.failed += 1
            print(f"[cdcbench] {name} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return
        if timings is not None:
            timings.append(time.perf_counter() - start)

    def op(self, name: str, fn) -> float | None:
        """Run ``fn`` as one timed operation; its wall seconds, or None if
        it failed."""
        times: list[float] = []
        with self.attempt(name, times):
            fn()
        return times[0] if times else None

    def setup(self, build, reps: int):
        """Run ``build(rep)`` ``reps`` times, timing each; returns the
        last one's result. The setup metric is the median."""
        out = None
        for rep in range(reps):
            start = time.perf_counter()
            out = build(rep)
            self.setup_times.append(time.perf_counter() - start)
        return out

    def start_timed(self, at: float | None = None) -> None:
        now = time.perf_counter()
        at = now if at is None else at
        self.timed[0] = at
        self.timed_wall[0] = time.time() - (now - at)
        if self.tracer:
            self.cpu[0] = procstat.tree_cpu_seconds()

    def stop_timed(self, at: float | None = None) -> None:
        now = time.perf_counter()
        at = now if at is None else at
        self.timed[1] = at
        self.timed_wall[1] = time.time() - (now - at)
        if self.tracer:
            self.cpu[1] = procstat.tree_cpu_seconds()


# ------------------------------------------------------------ change log
def materialize_log(
    bench: Bench, first_events: int, epoch_events: int, epochs: int, epoch_kw: dict | None = None
) -> list[str]:
    """Generate the change log and write it as one parquet file per epoch:
    a first (seed) epoch of ``first_events``, then ``epochs`` epochs of
    ``epoch_events``. ``epoch_kw``: ``gen_changes`` arguments for the
    epochs after the first, which then come from a second generator call;
    LSNs and event times run on across the two, so the log reads as one
    tailed binlog. One Spark job writes all files."""
    spark = bench.spark
    total = first_events + epoch_events * epochs
    if epoch_kw:
        seed_part = gen_changes(spark, first_events, seed=bench.seed)
        rest = gen_changes(
            spark, total - first_events, seed=bench.seed + 1,
            lsn_start=first_events + 1, **epoch_kw,
        )
        # datagen's event time starts at a fixed base; move the second
        # part after the first
        rest = rest.withColumn(
            "ts", F.timestamp_seconds(F.unix_seconds("ts") + F.lit(first_events))
        )
        log = seed_part.unionByName(rest)
    else:
        log = gen_changes(spark, total, seed=bench.seed)
    lsn = F.col("lsn")
    epoch = F.when(lsn <= first_events, F.lit(0)).otherwise(
        F.floor((lsn - F.lit(first_events + 1)) / F.lit(epoch_events)) + 1
    )
    stage = bench.path("log-stage")
    log.withColumn("_epoch", epoch.cast("int")).repartition("_epoch").write.partitionBy(
        "_epoch"
    ).parquet(stage)
    files = []
    for k in range(epochs + 1):
        (f,) = glob.glob(os.path.join(stage, f"_epoch={k}", "*.parquet"))
        files.append(f)
    return files


def parquet_rows(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def read_epoch(spark, path: str):
    return spark.read.schema(CHANGE_SCHEMA).parquet(path)


def bytes_written_since(root: str, since_wall: float, until_wall: float) -> int:
    """Bytes of files under ``root`` last modified inside the window."""
    total = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            if since_wall <= st.st_mtime <= until_wall:
                total += st.st_size
    return total


def referenced_bytes(df) -> int:
    """Bytes of the files a table read scans (its snapshot's files)."""
    total = 0
    for uri in df.inputFiles():
        total += os.path.getsize(uri[len("file:") :] if uri.startswith("file:") else uri)
    return total


def scan(table, version=None) -> None:
    """Force a full ``current()`` read with a sink that writes nothing."""
    table.current(version=version).write.format("noop").mode("overwrite").save()


def scan_op(bench: Bench, table, repeats: int, version=None) -> float | None:
    """One timed scan operation: ``repeats`` back-to-back full scans.
    Returns the seconds per scan, or None if it failed."""

    def scans():
        for _ in range(repeats):
            scan(table, version)

    t = bench.op("bench.scan", scans)
    return None if t is None else t / repeats


# ---------------------------------------------------------------- ingest
class ClosedLoopStream:
    """Drives ``streaming.ingest.start_ingest`` one epoch file at a time.

    The next file is moved into the tailed directory from ``on_batch``,
    after the previous epoch and its maintenance committed, so the
    stream never sees more than one pending epoch. The first epochs are
    a lead-in that fills the table and warms the JVM; the timed section
    starts at the first cycle boundary after them and ends at the first
    cycle boundary at least ``timed_epochs`` epochs later.
    """

    def __init__(self, bench: Bench, table_path: str, files: list[str], compact_files: int):
        self.bench = bench
        self.table_path = table_path
        self.files = files
        self.compact_files = compact_files
        self.log_dir = bench.path("log")
        self.ckpt = bench.path("checkpoint")
        os.makedirs(self.log_dir)
        #: files moved into the tailed directory, in order; batch k reads
        #: ``arrived[k]``
        self.arrived: list[str] = []
        self.done = threading.Event()
        #: per finished batch: (epoch_id, perf_counter, version, compacted)
        self.marks: list[tuple[int, float, int, bool]] = []
        self.timed_from: int | None = None
        self.error: BaseException | None = None

    def _feed(self) -> bool:
        k = len(self.arrived)
        if k >= len(self.files):
            return False
        dest = os.path.join(self.log_dir, f"e{k:05d}.parquet")
        os.rename(self.files[k], dest)
        self.arrived.append(dest)
        return True

    def _on_batch(self, epoch_id: int) -> None:
        now = time.perf_counter()
        try:
            snap = LakeTable(self.bench.spark, self.table_path).snapshot
            compacted = snap.summary.get("operation") == "compact"
            self.marks.append((epoch_id, now, snap.version, compacted))
            boundary = compacted or not self.compact_files
            b = self.bench
            if self.timed_from is None:
                if boundary and len(self.marks) >= b.size.lead_in_epochs:
                    self.timed_from = len(self.marks) - 1
                    b.start_timed(now)
            elif boundary and len(self.marks) - 1 - self.timed_from >= b.size.timed_epochs:
                b.stop_timed(now)
                self.done.set()
                return
            if not self._feed():
                b.stop_timed(now)
                self.done.set()
        except BaseException as e:  # the stream thread must not hang the run
            self.error = e
            self.done.set()
            raise

    def run(self, deadline_s: float) -> None:
        b = self.bench
        self._feed()
        restarts = 0
        query = self._start()
        deadline = time.monotonic() + deadline_s
        while not self.done.is_set():
            if time.monotonic() > deadline:
                b.result.attempted += 1
                b.result.failed += 1
                print("[cdcbench] stream missed its deadline", file=sys.stderr)
                break
            query.awaitTermination(0.2)
            if not query.isActive and not self.done.is_set():
                # an epoch raised: count it, resume from the checkpoint,
                # which retries the same file
                b.result.attempted += 1
                b.result.failed += 1
                print(f"[cdcbench] stream epoch failed: {query.exception()}", file=sys.stderr)
                restarts += 1
                if restarts > 2:
                    break
                query = self._start()
        query.stop()
        if self.error is not None:
            raise self.error
        if b.timed[1] == 0.0:
            b.stop_timed()

    def _start(self):
        return ingest.start_ingest(
            self.bench.spark,
            self.table_path,
            self.log_dir,
            self.ckpt,
            CHANGE_SCHEMA,
            stream_id=STREAM_ID,
            max_files_per_trigger=1,
            available_now=False,
            processing_time="0 seconds",
            on_batch=self._on_batch,
            maintenance_max_files=self.compact_files,
        )

    def timed_marks(self) -> list[tuple[int, float, int, bool]]:
        """Marks of the timed epochs (the batch that opened the timed
        section excluded), as ``(epoch_id, end, version, compacted)``."""
        if self.timed_from is None:
            return []
        end = self.bench.timed[1]
        return [m for m in self.marks[self.timed_from + 1 :] if m[1] <= end]


def ingest_workload(bench: Bench, mor: bool) -> None:
    size, spark = bench.size, bench.spark
    compact_files = size.compact_files if mor else 0
    files = materialize_log(
        bench, size.seed_events, size.epoch_events, size.max_epochs, MOR_SKEW if mor else None
    )
    bench.phase("generate")

    def build(rep: int) -> str:
        path = bench.path(f"table-{rep}")
        LakeTable.create(
            spark, path, STORED, KEY_COLUMNS,
            n_buckets=size.n_buckets, merge_policy="lww" if mor else None,
        )
        return path

    path = bench.setup(build, size.setup_reps)
    bench.phase("setup")
    stream = ClosedLoopStream(bench, path, files, compact_files)
    stream.run(deadline_s=bench.seconds + 120)
    bench.phase("stream")

    marks = stream.timed_marks()
    bench.result.attempted += len(marks)
    prev = stream.marks[stream.timed_from][1] if marks else 0.0
    epoch_times = []
    for _, end, _, _ in marks:
        epoch_times.append(end - prev)
        prev = end
    table = LakeTable(spark, path)
    # epochs the table committed (a failed run may stop mid-epoch)
    applied = stream.arrived[: table.last_epoch(STREAM_ID) + 1]
    timed_files = [stream.arrived[m[0]] for m in marks]
    events = parquet_rows(timed_files)
    wall = sum(epoch_times)

    # design check: the skew salt fires on every timed epoch of the
    # skewed stream, and on none of the copy-on-write stream's
    skew = skew_summaries(table, {m[0] for m in marks})
    hot = {e: v["hot_conversations"] for e, v in skew.items()}
    design_ok = bool(hot) and all((h >= 1) if mor else (h == 0) for h in hot.values())
    if not design_ok:
        print(f"[cdcbench] skew design check failed: {hot}", file=sys.stderr)

    # read cost over the last cycle: one scan per published version
    cycle = max(compact_files - 1, 1) if mor else 3
    versions = [m[2] for m in marks[-cycle:]] or [table.version]
    with bench.span("bench.scan_warmup"):
        for _ in range(size.scan_repeats):
            scan(table, versions[0])
    scan_times = [scan_op(bench, table, size.scan_repeats, v) for v in versions]
    scan_times = [t for t in scan_times if t is not None]
    bench.phase("scan")

    m = bench.result.metrics
    m["epoch_s"] = median(epoch_times, "epoch")
    m["events_per_s"] = events / wall
    # the table replicates the change log: in the closed loop an epoch
    # file lands when the previous epoch commits, so the lag from its
    # landing to its own commit is the epoch cycle
    m["replica_lag_s"] = m["epoch_s"]
    m["scan_s"] = median(scan_times, "scan")
    m["write_bytes_per_event"] = (
        bytes_written_since(os.path.join(path, "data"), *bench.timed_wall) / events
    )
    m["table_bytes"] = float(referenced_bytes(table.refresh().current()))
    bench.result.notes.update(
        epochs=len(marks),
        epoch_times=epoch_times,
        scan_times=scan_times,
        events=events,
        apply_skew=skew,
        max_files_per_bucket=max(
            (max_files(table, m[2] - 1 if m[3] else m[2]) for m in marks), default=0
        ),
        compactions=sum(1 for mk in marks if mk[3]),
        timed_epoch_ids=[mk[0] for mk in marks],
        stream_marks=stream.marks,
        timed_from=stream.timed_from,
    )
    check_tables(bench, applied, [("table", table)], extra_ok=design_ok)


def skew_summaries(table, epochs: set[int]) -> dict[int, dict]:
    """Epoch id -> the skew probe's findings from its commit summary."""
    out = {}
    for h in table.history():
        s = h["summary"]
        e = (s.get("source_offsets") or {}).get("epoch")
        if e in epochs and "metrics" in s:
            out[e] = {
                "hot_conversations": int(s["metrics"].get("hot_conversations", 0)),
                "hot_keys": int(s["metrics"].get("hot_keys_detected", 0)),
            }
    return out


def max_files(table, version: int) -> int:
    """Most files any bucket holds at ``version`` (manifest only)."""
    return max((len(fs) for fs in table.snapshot_at(version).buckets.values()), default=0)


# ----------------------------------------------------------------- relay
#: source commits made before the ticks (untimed); see ``relay_workload``
RELAY_SEED_EPOCHS = 2


def maintain(table, compact_files: int) -> None:
    """The ingest and relay daemons' stats-driven compaction rule: once
    some bucket holds ``compact_files`` files, compact exactly those
    buckets."""
    if table.refresh().file_stats()["max_files_per_bucket"] >= compact_files:
        table.compact(min_files=compact_files)


def relay_workload(bench: Bench) -> None:
    """Seed the source, bootstrap the replica, then run ``relay_ticks``
    ticks of: source epoch, ``sync_once``, one scan operation on the
    replica, the compaction rule on the source and on the replica.

    Every epoch adds one file to every bucket of both tables, and a
    compacted bucket holds one file, so each table compacts every
    ``relay_compact_files - 1`` ticks. The source compacts after the
    tick's sync, and the next sync's interval then holds a rewrite,
    which the feed diffs in full instead of reading only the appended
    delta. The source is seeded with two commits, so the schedule
    repeats from the first tick; at ``relay_compact_files=3`` a cycle is
    two ticks: a delta-only sync, a scan of a replica holding two files
    per bucket, then the source compacts; a full-diff sync, a scan of
    three files per bucket, then the replica compacts. Each median is
    over whole cycles, so a run's values do not depend on how far fold
    debt had grown when it stopped.
    """
    size, spark = bench.size, bench.spark
    seeds = RELAY_SEED_EPOCHS
    files = materialize_log(
        bench, size.relay_epoch_events, size.relay_epoch_events, seeds - 1 + size.relay_ticks
    )
    bench.phase("generate")
    # the source is the replica's input: seeded once, untimed, like the
    # change log itself
    src = LakeTable.create(
        spark, bench.path("source"), STORED, KEY_COLUMNS,
        n_buckets=size.n_buckets, merge_policy="lww",
    )
    for k in range(seeds):
        cdc_apply.apply_changes(src, read_epoch(spark, files[k]), stream_id=STREAM_ID, epoch_id=k)
    bench.phase("seed")

    def build(rep: int):
        dst = DirTable.create(
            spark, bench.path(f"replica-{rep}"), STORED, KEY_COLUMNS,
            n_buckets=size.n_buckets, merge_policy="replace",
        )
        cdc_relay.sync_once(src, dst)
        return dst

    dst = bench.setup(build, size.relay_setup_reps)
    bench.phase("setup")
    # untimed warm-up of the tick's read path on the replica
    with bench.span("bench.scan_warmup"):
        scan(dst)

    applied = files[:seeds]
    ticks = []
    bench.start_timed()
    for k in range(seeds, seeds + size.relay_ticks):
        with bench.span("bench.tick"):
            tick = {"file": files[k]}
            tick["apply"] = bench.op("bench.source_epoch", lambda: cdc_apply.apply_changes(
                src, read_epoch(spark, files[k]), stream_id=STREAM_ID, epoch_id=k,
                source_offsets={"epoch": k},
            ))
            if tick["apply"] is not None:
                applied.append(files[k])
            tick["sync"] = bench.op("bench.sync", lambda: cdc_relay.sync_once(src, dst))
            tick["scan"] = scan_op(bench, dst, size.tick_scans)
            tick["source_maintenance"] = bench.op(
                "bench.source_maintenance", lambda: maintain(src, size.relay_compact_files)
            )
            tick["replica_maintenance"] = bench.op(
                "bench.replica_maintenance", lambda: maintain(dst, size.relay_compact_files)
            )
        tick["files_per_bucket"] = (
            src.refresh().file_stats()["max_files_per_bucket"],
            dst.refresh().file_stats()["max_files_per_bucket"],
        )
        ticks.append(tick)
    bench.stop_timed()
    bench.phase("ticks")

    # a tick's events count as replicated only if all its writes succeeded
    cycle = ("apply", "sync", "source_maintenance", "replica_maintenance")
    whole = [t for t in ticks if all(t[op] is not None for op in cycle)]
    if not whole:
        raise RuntimeError("no relay tick whose writes all succeeded")
    events = parquet_rows([t["file"] for t in whole])
    m = bench.result.metrics
    m["events_per_s"] = events / sum(t[op] for t in whole for op in cycle)
    m["epoch_s"] = median([t["apply"] for t in ticks if t["apply"] is not None], "source epoch")
    m["replica_lag_s"] = median([t["sync"] for t in ticks if t["sync"] is not None], "sync")
    m["scan_s"] = median([t["scan"] for t in ticks if t["scan"] is not None], "scan")
    m["write_bytes_per_event"] = (
        bytes_written_since(os.path.join(dst.path, "data"), *bench.timed_wall) / events
    )
    m["table_bytes"] = float(referenced_bytes(dst.refresh().current()))

    # design check: the schedule repeats every compaction cycle
    period = size.relay_compact_files - 1
    files_seen = [t["files_per_bucket"] for t in ticks]
    design_ok = all(files_seen[i] == files_seen[i + period] for i in range(len(ticks) - period))
    if not design_ok:
        print(f"[cdcbench] relay cycle check failed: {files_seen}", file=sys.stderr)
    bench.result.notes.update(
        ticks=len(ticks),
        tick_times=[{k: v for k, v in t.items() if k != "file"} for t in ticks],
        events=events,
        apply_skew=skew_summaries(src, set(range(seeds, seeds + len(ticks)))),
        max_files_per_bucket=max((f[0] for f in files_seen), default=0),
        replica_log_depth=len(glob.glob(os.path.join(dst.path, "_log", "v*.json"))),
    )
    check_tables(bench, applied, [("source", src), ("replica", dst)], extra_ok=design_ok)


# ----------------------------------------------------------------- check
def check_tables(bench: Bench, log_files: list[str], tables, extra_ok: bool = True) -> None:
    """Compare each table's live rows with the LWW reference over the
    log files applied to it. Any mismatch marks the run incorrect and
    every one of its operations failed."""
    ref = oracle.reference_digest(log_files)
    ok = extra_ok
    checks = {}
    for name, table in tables:
        got = oracle.table_digest(table, bench.path(f"export-{name}"))
        checks[name] = {"rows": got[0], "matches": got == ref}
        ok = ok and got == ref
    bench.result.notes["oracle"] = {"reference_rows": ref[0], **checks}
    bench.phase("check")
    bench.result.notes["phases"] = bench.phases
    if not ok:
        bench.result.correct = False
        bench.result.failed = bench.result.attempted


def median(values: list[float], what: str) -> float:
    """Median of a metric's samples. With none (every such operation
    failed) the run has no value to report and fails."""
    if not values:
        raise RuntimeError(f"no successful {what} operation to report")
    return statistics.median(values)


WORKLOADS = {
    "ingest_cow": lambda b: ingest_workload(b, mor=False),
    "ingest_mor_skew": lambda b: ingest_workload(b, mor=True),
    "relay_read": relay_workload,
}

