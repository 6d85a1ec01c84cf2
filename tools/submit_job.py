"""spark-submit entry point for the CDC streaming pipeline.

Cluster usage (the production shape the engine targets):

  zip -r engine.zip battetl_spark
  spark-submit --py-files engine.zip \
      --conf spark.sql.shuffle.partitions=<2-3x total cores> \
      tools/submit_job.py --events-dir s3://.../wal --table s3://.../transcripts \
      --checkpoint s3://.../ckpt [--num-buckets 4096] [--merge-mode mor]

Local smoke (what the sandbox runs):

  python tools/submit_job.py --events-dir /tmp/ev --table /tmp/t \
      --checkpoint /tmp/ck --create --demo-events 100000
"""

from __future__ import annotations

import argparse
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--events-dir", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--num-buckets", type=int, default=64)
    ap.add_argument(
        "--merge-mode",
        choices=["cow", "mor"],
        default="cow",
        help="mor = delta-append ingest (write cost proportional to batch "
             "bytes; auto-compaction folds deltas, reads resolve until then)",
    )
    ap.add_argument(
        "--source",
        choices=["files", "log"],
        default="files",
        help="files = parquet change-event dirs under --events-dir; "
             "log = a FilePartitionedLog at --events-dir (Kafka-shaped "
             "partitioned log; a real deployment swaps in "
             "kafka_to_change_events over readStream.format('kafka'))",
    )
    ap.add_argument("--max-files-per-trigger", type=int, default=4)
    ap.add_argument("--create", action="store_true", help="create table if absent")
    ap.add_argument("--demo-events", type=int, default=0,
                    help="write N synthetic events into --events-dir first")
    ap.add_argument("--continuous", action="store_true",
                    help="keep tailing (processingTime trigger) instead of "
                         "draining available data and exiting")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from battetl_spark.lake import LakeTable
    from battetl_spark.schemas import KEY_COLS, TRANSCRIPT_TABLE_SCHEMA
    from battetl_spark.streaming import CdcStream, read_change_event_stream

    # spark-submit supplies master/conf; local fallback for the sandbox
    spark = SparkSession.builder.appName("battetl_spark-cdc").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    if args.demo_events:
        from battetl_spark.fixtures import spark_change_events

        spark_change_events(spark, args.demo_events).coalesce(4).write.mode(
            "append"
        ).parquet(args.events_dir)

    if LakeTable.exists(args.table):
        table = LakeTable.load(spark, args.table)
    elif args.create:
        table = LakeTable.create(
            spark, args.table, TRANSCRIPT_TABLE_SCHEMA,
            num_buckets=args.num_buckets, key_cols=KEY_COLS, sort_cols=KEY_COLS,
        )
    else:
        raise SystemExit(f"table {args.table} does not exist (use --create)")

    def report(epoch, result):
        print(
            f"epoch={epoch} applied={result.applied} "
            f"ins={result.rows_inserted} upd={result.rows_updated} "
            f"del={result.rows_deleted} snapshot={result.snapshot_id}"
        )

    stream = CdcStream(
        table, args.checkpoint, merge_mode=args.merge_mode, on_batch=report,
    )
    if args.source == "log":
        from battetl_spark.streaming import FilePartitionedLog

        events = FilePartitionedLog.open(spark, args.events_dir).read_stream(
            max_files_per_trigger=args.max_files_per_trigger
        )
    else:
        events = read_change_event_stream(
            spark, args.events_dir,
            max_files_per_trigger=args.max_files_per_trigger,
        )
    if args.continuous:
        q = stream.start(events, available_now=False, processing_time="10 seconds")
        q.awaitTermination()
    else:
        stream.run_to_completion(events)
        print(f"final rows: {table.scan().count()}")


if __name__ == "__main__":
    main()
