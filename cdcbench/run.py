"""Run one CDC benchmark workload and print its result as one JSON line.

    python3 cdcbench/run.py --workload ingest_cow --seed 1 --seconds 15 --trace 0

Run from the repository root. Each run is a fresh process with its own
Spark session and scratch directory under ``.cdcbench/``, which is
removed at the end. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` wraps the engine's layers (see ``tracing.py``) and prints
the per-layer metrics, and writes the spans and a per-layer summary to
``.cdcbench/out/``. The last line of standard output is the result:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

A run whose tables differ from the LWW reference prints
``"correct": false`` and exits with status 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

from report import SPARK_LAYERS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Spark's JVM heap: pinned (-Xms = -Xmx) so heap growth cannot drift
#: across a run, and at most half of physical memory.
HEAP_MB = 2048

E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "epoch_s": "s",
    "replica_lag_s": "s",
    "scan_s": "s",
    "write_bytes_per_event": "B/event",
    "table_bytes": "B",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "ingest.batch_overhead_s": "s",
    "apply.detect_skew_s": "s",
    "apply.lineage_s": "s",
    "apply.hot_conversations": "count",
    "apply.hot_keys": "count",
    "apply.commit_retries": "count",
    "table.touched_buckets_s": "s",
    "table.merge_s": "s",
    "table.footer_stats_s": "s",
    "table.files_written": "count",
    "table.compact_s": "s",
    "table.compactions": "count",
    "table.bytes_rewritten": "B",
    "table.scan_s": "s",
    "table.max_files_per_bucket": "count",
    "feed.plan_s": "s",
    "feed.materialize_s": "s",
    "feed.fast_path_ratio": "ratio",
    "feed.rows": "count",
    "dirtable.merge_s": "s",
    "dirtable.log_depth": "count",
    "relay.sync_s": "s",
    "relay.replica_apply_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "proc.cpu_s": "s",
}
for _layer in SPARK_LAYERS:
    LAYER_UNITS[f"spark.task_cpu_s.{_layer}"] = "s"
    LAYER_UNITS[f"spark.shuffle_write_bytes.{_layer}"] = "B"


def pin_environment(work: str) -> dict:
    """Environment every run is measured under; set before the JVM
    starts. Returned so each result can echo it."""
    ncpu = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_mb = min(HEAP_MB, mem_kb // 1024 // 2)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None
    return {"nproc": ncpu, "mem_total_mb": mem_kb // 1024, "heap_mb": heap_mb, **env}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest_cow", "ingest_mor_skew", "relay_read"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="each workload times a fixed number of epochs or ticks; "
                   "this only sets the deadline (plus 120 s) for a stalled stream")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "smoke"], default="full",
                   help="smoke: tiny tables, for the benchmark's own tests")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import etl_framework_spark
    except ImportError as e:
        print(f"cdcbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(etl_framework_spark.__file__).startswith(ROOT + os.sep):
        print(
            f"cdcbench: the engine must come from {ROOT}, "
            f"not {etl_framework_spark.__file__}",
            file=sys.stderr,
        )
        return 2

    state = os.path.join(ROOT, ".cdcbench")
    out_dir = os.path.join(state, "out")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(state, f"work-{run_id}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    env = pin_environment(work)
    signal.signal(signal.SIGTERM, lambda *_: _terminate(work))
    try:
        record = run(args, work, out_dir, run_id, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = record["result"]
    units = LAYER_UNITS if args.trace else E2E_UNITS
    names = [n for n in units if n in record["metrics"]]
    line = {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": record["metrics"][n], "unit": units[n]} for n in names},
    }
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"cdcbench_env": env}))
    print(json.dumps(line))
    return 0 if result["correct"] else 1


def _terminate(work: str) -> None:
    """SIGTERM: kill the JVM and its workers, remove the scratch dir and
    exit at once. A graceful ``spark.stop()`` from a signal handler can
    deadlock against the streaming query's threads."""
    import procstat

    pids = procstat.descendants()
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    procstat.stop_processes(pids, timeout_s=5)
    shutil.rmtree(work, ignore_errors=True)
    os._exit(143)


def run(args, work: str, out_dir: str, run_id: str, env: dict) -> dict:
    import etl_framework_spark
    import procstat
    import workloads

    log4j = os.path.join(os.path.dirname(etl_framework_spark.__file__), "log4j2.properties")
    conf = {
        # the session's own log4j setting, plus a heap fixed at its
        # maximum and a JVM temp dir inside the run's scratch dir
        "spark.driver.extraJavaOptions": (
            f"-Dlog4j2.configurationFile=file:{log4j} -Xms{env['heap_mb']}m"
            f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
    }
    eventlog = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(eventlog)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + eventlog
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"

    steal_start = procstat.host_cpu_ticks()
    start = time.perf_counter()
    spark = etl_framework_spark.get_spark(app_name="cdcbench", extra_conf=conf)
    session_s = time.perf_counter() - start
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    tracer = None
    try:
        with procstat.PeakRss() as rss:
            if args.trace:
                import tracing

                tracer = tracing.Tracer(spark, run_id)
                tracing.install_wrappers(tracer)
            bench = workloads.Bench(
                spark, work, workloads.SIZES[args.size], args.seed, args.seconds, tracer
            )
            workloads.WORKLOADS[args.workload](bench)
        metrics = dict(bench.result.metrics)
        metrics["setup_s"] = session_s + statistics.median(bench.setup_times)
        metrics["peak_rss_mb"] = rss.peak / 2**20
        if tracer is not None:
            tracer.uninstall()
    finally:
        pids = procstat.descendants()
        spark.stop()
        try:
            gateway.shutdown()
        except Exception as e:  # the JVM may already be gone
            print(f"[cdcbench] gateway shutdown: {e!r}", file=sys.stderr)
        if jvm is not None:
            jvm.stdin.close()
            jvm.wait(timeout=60)
        stopped = procstat.stop_processes(pids)
        if stopped:
            print(f"[cdcbench] had to signal {stopped}", file=sys.stderr)

    result = bench.result
    record = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "size": args.size,
        "trace": args.trace,
        "env": env,
        "pyspark": __import__("pyspark").__version__,
        "result": {"correct": result.correct, "attempted": result.attempted, "failed": result.failed},
        "setup_times": bench.setup_times,
        "peak_rss_by_command": rss.at_peak,
        "host_steal_share": procstat.steal_share(steal_start),
        "session_s": session_s,
        "notes": result.notes,
        "metrics": metrics,
    }
    if tracer is not None:
        import report

        spark_metrics = tracing.spark_task_metrics(
            eventlog, *bench.timed_wall, {s["id"]: s["name"] for s in tracer.spans}
        )
        layer, summary = report.per_layer(
            args.workload, bench, tracer, spark_metrics, bench.cpu[1] - bench.cpu[0]
        )
        metrics.update(layer)
        untraced = os.path.join(out_dir, f"{args.workload}-s{args.seed}-trace0.json")
        summary["tracing_overhead"] = report.overhead(untraced, metrics)
        tracer.write(os.path.join(out_dir, f"{args.workload}-s{args.seed}-spans.jsonl"))
        with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-layers.json"), "w") as f:
            json.dump(summary, f, indent=1)
        print(json.dumps({"cdcbench_layers": summary}), file=sys.stderr)
    return record


if __name__ == "__main__":
    sys.exit(main())
