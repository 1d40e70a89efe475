"""Per-layer metrics and the blocking-path summary of a traced run.

Every ``*_s`` layer metric is seconds per timed operation (an ingest
epoch, or a relay tick); counts and bytes are per timed operation too,
except ``table.max_files_per_bucket`` and ``dirtable.log_depth``, which
are the largest value seen, and ``feed.fast_path_ratio``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

from tracing import SpanTree, adopt_into

#: layers the Spark task metrics are attributed to: span name prefixes,
#: and ``other`` for jobs no span tagged
SPARK_LAYERS = ("apply", "table", "feed", "dirtable", "relay", "bench", "other")

#: e2e metrics compared between the traced and the untraced run
OVERHEAD_METRICS = ("epoch_s", "replica_lag_s", "scan_s", "events_per_s", "setup_s")


def per_layer(workload: str, bench, tracer, spark_metrics: dict, cpu_s: float) -> tuple[dict, dict]:
    notes = bench.result.notes
    t0, t1 = bench.timed
    if workload.startswith("ingest"):
        roots = _epoch_spans(tracer, notes)
        adopt_into(tracer.spans, roots)
        timed_roots = [r for r in roots if r["timed"]]
        n_ops = max(len(timed_roots), 1)
    else:
        timed_roots = []
        n_ops = max(notes.get("ticks", 0), 1)

    _materialize_spans(tracer)
    tree = SpanTree(tracer.spans)
    window = [s for s in tracer.spans if t0 <= s["start"] < t1]

    def total(name: str, key=None) -> float:
        out = 0.0
        for s in window:
            if s["name"] == name:
                out += tree.duration(s) if key is None else float(s.get(key, 0) or 0)
        return out

    def per_op(name: str, key=None) -> float:
        return total(name, key) / n_ops

    overhead = []
    for r in timed_roots:
        apply_s = sum(
            tree.duration(c) for c in tree.children.get(r["id"], [])
            if c["name"] in ("apply.apply_changes", "table.compact")
        )
        overhead.append(tree.duration(r) - apply_s)

    def rewrites(s: dict) -> bool:
        """Written by a bucket rewrite: compaction or a copy-on-write merge."""
        p = s["parent"]
        while p is not None:
            ps = tree.spans[p]
            if ps["name"] == "table.compact" or (ps["name"] == "table.merge" and ps.get("mode") == "cow"):
                return True
            p = ps["parent"]
        return False

    rewritten = sum(
        float(s.get("bytes", 0)) for s in window
        if s["name"] == "table.footer_stats" and rewrites(s)
    )
    fast = [s for s in window if s["name"] == "feed.fast_path"]
    skew = notes.get("apply_skew", {})
    # the ingest workloads scan after the timed section
    scans = [s for s in tracer.spans if s["name"] == "bench.scan"]
    size = bench.size
    scans_per_op = size.tick_scans if workload == "relay_read" else size.scan_repeats

    m = {
        "ingest.batch_overhead_s": sum(overhead) / n_ops if overhead else 0.0,
        "apply.detect_skew_s": per_op("apply.detect_skew"),
        "apply.lineage_s": per_op("apply.lineage"),
        "apply.hot_conversations": _mean([v["hot_conversations"] for v in skew.values()]),
        "apply.hot_keys": _mean([v["hot_keys"] for v in skew.values()]),
        "apply.commit_retries": total("apply.commit", "retries"),
        "table.touched_buckets_s": per_op("table.touched_buckets"),
        "table.merge_s": per_op("table.merge"),
        "table.footer_stats_s": per_op("table.footer_stats"),
        "table.files_written": per_op("table.footer_stats", "files"),
        "table.compact_s": per_op("table.compact"),
        "table.compactions": sum(1 for s in window if s["name"] == "table.compact") / n_ops,
        "table.bytes_rewritten": rewritten / n_ops,
        "table.scan_s": (
            sum(tree.duration(s) for s in scans) / (len(scans) * scans_per_op) if scans else 0.0
        ),
        "table.max_files_per_bucket": float(notes.get("max_files_per_bucket", 0)),
        "feed.plan_s": per_op("feed.plan"),
        "feed.materialize_s": per_op("feed.materialize"),
        "feed.fast_path_ratio": sum(1 for s in fast if s.get("hit")) / len(fast) if fast else 0.0,
        "feed.rows": per_op("trace.probe", "rows"),
        "dirtable.merge_s": per_op("dirtable.merge"),
        "dirtable.log_depth": float(notes.get("replica_log_depth", 0)),
        "relay.sync_s": per_op("relay.sync"),
        "relay.replica_apply_s": per_op("relay.replica_apply"),
        "proc.cpu_s": cpu_s / n_ops,
    }
    tot = spark_metrics["total"]
    for k in ("shuffle_write_bytes", "spill_bytes", "task_cpu_s", "gc_s"):
        m[f"spark.{k}"] = tot[k] / n_ops
    for layer in SPARK_LAYERS:
        acc = spark_metrics["per_layer"].get(layer, {})
        m[f"spark.task_cpu_s.{layer}"] = acc.get("task_cpu_s", 0.0) / n_ops
        m[f"spark.shuffle_write_bytes.{layer}"] = acc.get("shuffle_write_bytes", 0.0) / n_ops

    self_by_layer: dict[str, float] = defaultdict(float)
    for s in window:
        if not s["overlapped"]:
            self_by_layer[s["name"].split(".", 1)[0]] += tree.self_time(s) / n_ops
    summary = {
        "workload": workload,
        "seed": bench.seed,
        "timed_ops": n_ops,
        "self_time_per_op_s": dict(self_by_layer),
        "spark": spark_metrics,
    }
    if timed_roots:
        summary["epoch_s_blocking_path"] = _blocking(tree, timed_roots)
    syncs = [s for s in window if s["name"] == "relay.sync"]
    if syncs:
        summary["replica_lag_s_blocking_path"] = _blocking(tree, syncs)
    ticks = [s for s in window if s["name"] == "bench.source_epoch"]
    if ticks:
        summary["epoch_s_blocking_path"] = _blocking(tree, ticks)
    return m, summary


def _materialize_spans(tracer) -> None:
    """``sync_once`` persists and counts the feed between planning it
    and applying it to the replica; that gap becomes a ``feed.materialize``
    span under the sync."""
    by_parent: dict[int, dict[str, dict]] = defaultdict(dict)
    for s in tracer.spans:
        if s["parent"] is not None:
            by_parent[s["parent"]][s["name"]] = s
    for s in list(tracer.spans):
        kids = by_parent.get(s["id"], {})
        if s["name"] == "relay.sync" and "feed.plan" in kids and "relay.replica_apply" in kids:
            tracer.add_span(
                "feed.materialize", kids["feed.plan"]["end"],
                kids["relay.replica_apply"]["start"], parent=s["id"],
            )


def _epoch_spans(tracer, notes: dict) -> list[dict]:
    """One ``bench.epoch`` span per stream batch, from the previous
    batch's ``on_batch`` to its own (the first batch has no start)."""
    marks = notes.get("stream_marks", [])
    timed_from = notes.get("timed_from")
    timed_ids = set(notes.get("timed_epoch_ids", []))
    roots = []
    for i in range(1, len(marks)):
        eid, end = marks[i][0], marks[i][1]
        sid = tracer.add_span(
            "bench.epoch", marks[i - 1][1], end,
            epoch=eid, timed=timed_from is not None and eid in timed_ids,
        )
        roots.append(next(s for s in tracer.spans if s["id"] == sid))
    return roots


def _blocking(tree: SpanTree, roots: list[dict]) -> dict:
    """Mean wall of ``roots`` split into self time per span name along
    the blocking path, with side-thread work listed as overlapped. The
    root's own self time is the unattributed remainder."""
    selfs: dict[str, float] = defaultdict(float)
    overlaps: dict[str, float] = defaultdict(float)
    wall = unattributed = 0.0
    for r in roots:
        s, o = tree.blocking_path(r)
        for k, v in s.items():
            selfs[k] += v / len(roots)
        for k, v in o.items():
            overlaps[k] += v / len(roots)
        wall += tree.duration(r) / len(roots)
        unattributed += tree.self_time(r) / len(roots)
    probe = selfs.pop("trace.probe", 0.0)
    selfs.pop(roots[0]["name"], None)
    return {
        "root": roots[0]["name"],
        "ops": len(roots),
        "wall_s": wall,
        "self_s": dict(selfs),
        "overlapped_s": dict(overlaps),
        "unattributed_s": unattributed,
        "attributed_share": (wall - unattributed) / wall if wall else 0.0,
        "tracing_probe_s": probe,
    }


def overhead(untraced_path: str, traced_metrics: dict) -> dict:
    """Relative change of the e2e metrics of this traced run against the
    untraced run of the same workload and seed, if one was recorded."""
    if not os.path.exists(untraced_path):
        return {"status": f"no untraced run recorded at {os.path.basename(untraced_path)}"}
    with open(untraced_path) as f:
        base = json.load(f)["metrics"]
    out = {}
    for k in OVERHEAD_METRICS:
        if k in base and k in traced_metrics and base[k]:
            out[k] = {
                "untraced": base[k],
                "traced": traced_metrics[k],
                "change": (traced_metrics[k] - base[k]) / base[k],
            }
    return out


def _mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0
