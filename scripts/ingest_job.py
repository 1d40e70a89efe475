"""spark-submit entrypoint: tail a change-log directory into a LakeTable.

Cluster usage (north rule: multi-executor via --py-files):

    cd /root/repo && zip -r /tmp/etl_framework_spark.zip etl_framework_spark
    spark-submit --py-files /tmp/etl_framework_spark.zip \
        scripts/ingest_job.py \
        --table /lake/transcripts --changes /logs/transcripts \
        --checkpoint /ckpt/transcripts --create --continuous

Local smoke:

    python scripts/ingest_job.py --table /tmp/t --changes /tmp/log \
        --checkpoint /tmp/ck --create --master 'local[8]'
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--table", required=True, help="LakeTable path")
    ap.add_argument("--changes", required=True, help="change-log directory to tail")
    ap.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    ap.add_argument("--stream-id", default="cdc")
    ap.add_argument("--create", action="store_true", help="create table if missing")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--maintenance-every", type=int, default=0,
                    help="run compact + expire_snapshots every N epochs (0=off)")
    ap.add_argument("--continuous", action="store_true",
                    help="run a processing-time trigger instead of draining once")
    ap.add_argument("--trigger", default="10 seconds")
    ap.add_argument("--max-files-per-trigger", type=int, default=16)
    ap.add_argument("--master", default="cluster",
                    help="'cluster' (default) leaves the master to spark-submit")
    args = ap.parse_args()

    from pyspark.sql import types as T

    from etl_framework_spark.lakehouse import LakeTable
    from etl_framework_spark.schemas import CHANGE_SCHEMA, KEY_COLUMNS, TRANSCRIPT_SCHEMA
    from etl_framework_spark.session import get_spark
    from etl_framework_spark.streaming import start_ingest

    spark = get_spark(app_name=f"ingest-{args.stream_id}", master=args.master)
    if args.create and not LakeTable.exists(args.table):
        LakeTable.create(
            spark,
            args.table,
            schema=T.StructType(TRANSCRIPT_SCHEMA.fields),
            key_columns=KEY_COLUMNS,
            n_buckets=args.n_buckets,
        )
    q = start_ingest(
        spark,
        args.table,
        args.changes,
        args.checkpoint,
        CHANGE_SCHEMA,
        stream_id=args.stream_id,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=not args.continuous,
        processing_time=args.trigger,
        maintenance_every=args.maintenance_every,
    )
    q.awaitTermination()
    t = LakeTable(spark, args.table)
    print(f"table version={t.version} live_rows={t.current().count()}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
