"""Outside-in tracing for the traced run (``--trace 1``).

Spans are recorded by wrapping public entry points of the engine's
modules from here, the benchmark's own code; the engine itself carries
no tracing. The untraced run installs none of these wrappers.

A span has a name, start, end, parent span, thread and the run id. Each
span also tags the Spark jobs it submits with a job group
(``span:<id>:<name>``), so the Spark event log can attribute task CPU,
GC, shuffle and spill to the layer that caused them. Spans are kept in
memory and written out when the run ends.

A layer's self time is its span's duration minus the part of that
interval its child spans on the same thread cover. Children on another
thread (the lineage job ``apply_changes`` runs beside its merge) are
reported as overlapped and are not subtracted.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict

GROUP_PREFIX = "span:"


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._installed: list[tuple[object, str, object]] = []
        #: newest open span per name, for side threads that start
        #: without a parent of their own (see ``span(adopt=...)``)
        self._open_by_name: dict[str, int] = {}
        self._open_attrs: dict[int, dict] = {}

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, adopt: str | None = None, **attrs):
        """Record a span around the ``with`` body. ``adopt``: when this
        thread has no open span, take the newest open span of that name
        (on any thread) as the parent and mark this span overlapped."""
        stack = self._stack()
        overlapped = False
        if stack:
            parent = stack[-1]
        elif adopt is not None and adopt in self._open_by_name:
            parent, overlapped = self._open_by_name[adopt], True
        else:
            parent = None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "overlapped": overlapped,
            "thread": threading.get_ident(),
            "run_id": self.run_id,
            "wall_start": time.time(),
            "start": time.perf_counter(),
            **attrs,
        }
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}:{name}")
        stack.append(sid)
        prev_open = self._open_by_name.get(name)
        self._open_by_name[name] = sid
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec.update(self._open_attrs.pop(sid, {}))
            stack.pop()
            if prev_open is None:
                self._open_by_name.pop(name, None)
            else:
                self._open_by_name[name] = prev_open
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def add_span(self, name: str, start: float, end: float, parent=None, **attrs) -> int:
        """Record a span measured by the caller (perf_counter bounds)."""
        sid = next(self._ids)
        with self._lock:
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "parent": parent,
                    "overlapped": False,
                    "thread": threading.get_ident(),
                    "run_id": self.run_id,
                    "wall_start": time.time() - (time.perf_counter() - start),
                    "start": start,
                    "end": end,
                    **attrs,
                }
            )
        return sid

    def annotate(self, **attrs) -> None:
        """Add attributes to this thread's innermost open span."""
        stack = self._stack()
        if stack:
            self._open_attrs.setdefault(stack[-1], {}).update(attrs)

    # --------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str, adopt=None, after=None, call=None):
        """Replace ``owner.attr`` by a wrapper that records a span named
        ``name``. ``call(original)`` may return the callable to invoke in
        place of the original; ``after(rec, args, kwargs, result)`` may
        annotate the span record before it closes."""
        original = getattr(owner, attr)
        invoke = call(original) if call is not None else original

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name, adopt=adopt) as rec:
                result = invoke(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, result)
                return result

        self._installed.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._installed):
            setattr(owner, attr, original)
        self._installed.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec, default=str) + "\n")


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the public functions each layer of the per-layer table is
    measured at. Module-level names are wrapped in the module that calls
    them (``ingest`` and ``relay`` hold their own references to
    ``apply_changes`` / ``commit_with_retry``)."""
    from etl_framework_spark.cdc import apply as cdc_apply
    from etl_framework_spark.cdc import relay as cdc_relay
    from etl_framework_spark.lakehouse import dirtable as lh_dirtable
    from etl_framework_spark.lakehouse import feed as lh_feed
    from etl_framework_spark.lakehouse import table as lh_table
    from etl_framework_spark.streaming import ingest as st_ingest

    t = tracer
    LakeTable, DirTable = lh_table.LakeTable, lh_dirtable.DirTable

    def counting_retries(original):
        """Record ``CommitConflict`` retries on the commit span: every
        call of ``op`` past the first is one."""

        def with_count(table, op, *args, **kwargs):
            attempts = 0

            def counted(tbl):
                nonlocal attempts
                attempts += 1
                return op(tbl)

            try:
                return original(table, counted, *args, **kwargs)
            finally:
                t.annotate(retries=max(attempts - 1, 0))

        return with_count

    def files_written(rec, args, kwargs, result):
        paths = args[0] if args else kwargs.get("paths", [])
        rec["files"] = len(paths)
        rec["bytes"] = sum(os.path.getsize(p) for p in paths if os.path.exists(p))

    def merge_mode(rec, args, kwargs, result):
        table = args[0]
        rec["mode"] = kwargs.get("mode") or ("mor" if table.merge_policy else "cow")

    def feed_rows(rec, args, kwargs, result):
        # The relay hands merge its persisted feed, so this count reads
        # the cache. It runs in its own span, which is charged to tracing.
        merge_mode(rec, args, kwargs, result)
        source = args[1] if len(args) > 1 else kwargs["source"]
        if (kwargs.get("summary") or {}).get("operation") == "relay":
            with t.span("trace.probe") as probe:
                probe["rows"] = source.count()

    def fast_path(rec, args, kwargs, result):
        rec["hit"] = result[0] is not None

    t.wrap(cdc_apply, "apply_changes", "apply.apply_changes")
    t.wrap(st_ingest, "apply_changes", "apply.apply_changes")
    t.wrap(cdc_apply, "detect_skew", "apply.detect_skew")
    t.wrap(cdc_apply, "compute_lineage", "apply.lineage", adopt="apply.apply_changes")
    t.wrap(cdc_apply, "commit_with_retry", "apply.commit", call=counting_retries)
    t.wrap(lh_table, "collect_file_ranges", "table.footer_stats", after=files_written)
    t.wrap(lh_dirtable, "collect_file_ranges", "dirtable.footer_stats", after=files_written)
    t.wrap(LakeTable, "touched_buckets", "table.touched_buckets")
    t.wrap(LakeTable, "merge", "table.merge", after=merge_mode)
    t.wrap(LakeTable, "compact", "table.compact")
    t.wrap(LakeTable, "changes_between", "feed.plan")
    t.wrap(lh_feed, "delta_fast_path", "feed.fast_path", after=fast_path)
    t.wrap(DirTable, "merge", "dirtable.merge", after=feed_rows)
    t.wrap(DirTable, "compact", "dirtable.compact")
    t.wrap(cdc_relay, "sync_once", "relay.sync")
    t.wrap(cdc_relay, "commit_with_retry", "relay.replica_apply", call=counting_retries)


# ------------------------------------------------------------- summary
def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SpanTree:
    """Parent/child index over recorded spans with self times.

    ``trace.probe`` spans (work the tracer itself adds) are cut out of
    every ancestor's duration."""

    def __init__(self, spans: list[dict]):
        self.spans = {s["id"]: s for s in spans}
        self.children: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s)
        self.probe_s = {sid: self._probe_time(sid) for sid in self.spans}

    def _probe_time(self, sid: int) -> float:
        total = 0.0
        for c in self.children.get(sid, []):
            if c["name"] == "trace.probe":
                total += c["end"] - c["start"]
            else:
                total += self._probe_time(c["id"])
        return total

    def duration(self, s: dict) -> float:
        return s["end"] - s["start"] - self.probe_s[s["id"]]

    def self_time(self, s: dict) -> float:
        covered = _union_length(
            [(c["start"], c["end"]) for c in self.children.get(s["id"], []) if not c["overlapped"]]
        )
        return s["end"] - s["start"] - covered

    def blocking_path(self, root: dict) -> tuple[dict[str, float], dict[str, float]]:
        """Self time per span name under ``root`` along the blocking
        path, and the overlapped (side-thread) spans by name."""
        selfs: dict[str, float] = defaultdict(float)
        overlaps: dict[str, float] = defaultdict(float)
        stack = [root]
        while stack:
            s = stack.pop()
            selfs[s["name"]] += self.self_time(s)
            for c in self.children.get(s["id"], []):
                if c["overlapped"]:
                    overlaps[c["name"]] += c["end"] - c["start"]
                else:
                    stack.append(c)
        return dict(selfs), dict(overlaps)


def adopt_into(spans: list[dict], roots: list[dict]) -> None:
    """Give parentless spans the root span whose interval holds their
    start (the stream calls the engine from its own thread, so the
    benchmark's epoch spans are built from ``on_batch`` marks)."""
    for s in spans:
        if s["parent"] is not None or s["name"].startswith("bench."):
            continue
        for r in roots:
            if r["start"] <= s["start"] < r["end"]:
                s["parent"] = r["id"]
                break


def spark_task_metrics(eventlog_dir: str, wall_from: float, wall_to: float, span_names: dict) -> dict:
    """Task metrics of the Spark jobs submitted inside the wall-clock
    window, in total and per layer. A job's layer is the span that set
    its job group (``span:<id>:<name>``); jobs without one are
    ``other``."""
    job_layer: dict[int, str] = {}
    job_in_window: dict[int, bool] = {}
    stage_job: dict[int, int] = {}
    zero = lambda: {"task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0}  # noqa: E731
    per_layer: dict[str, dict] = defaultdict(zero)
    for path in glob.glob(os.path.join(eventlog_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith(GROUP_PREFIX):
                        sid = int(group[len(GROUP_PREFIX):].split(":", 1)[0])
                        job_layer[jid] = span_names.get(sid, "other").split(".", 1)[0]
                    else:
                        job_layer[jid] = "other"
                    job_in_window[jid] = wall_from <= ev["Submission Time"] / 1000 <= wall_to
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid is None or not job_in_window.get(jid):
                        continue
                    tm = ev.get("Task Metrics") or {}
                    acc = per_layer[job_layer[jid]]
                    acc["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    total = zero()
    for acc in per_layer.values():
        for k, v in acc.items():
            total[k] += v
    return {"total": total, "per_layer": dict(per_layer)}
