"""spark-submit entry point for the CDC ingest job.

    spark-submit --master <cluster> \
      --py-files $(python -c 'from tickers_daily_intraday_etl_spark.session import build_pyfiles_zip; print(build_pyfiles_zip())') \
      run_pipeline.py --feed <dir> --table <dir> --checkpoint <dir> \
      [--num-buckets 128] [--salt 16] [--feed-format parquet] \
      [--compact-every N] [--compact-delta-threshold K] \
      [--merge-mode cow|mor] [--evolved-schema] [--maintain-every N] \
      [--vacuum-retain-versions V [--expire-log-checkpoints C]]

Honors whatever master/executor topology spark-submit configures (the
north rule's N / 4N executor deployments); local runs fall back to
sensible local-mode defaults.  Prints one JSON line with rows applied,
batches, and throughput.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--feed", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--num-buckets", type=int, default=128)
    ap.add_argument("--salt", type=int, default=0,
                    help="salted LWW pre-reduce partitions; leave 0 for "
                         "typical mostly-unique CDC batches — the bucket-"
                         "clustered merge already moves the payload through "
                         "ONE shuffle, and salting adds a second crossing "
                         "that only pays off on heavily-duplicated hot-key "
                         "feeds (see cdc/dedup.py lww_winner)")
    ap.add_argument("--feed-format", default="parquet")
    ap.add_argument("--compact-every", type=int, default=None)
    ap.add_argument("--compact-delta-threshold", type=int, default=None,
                    help="size-based trigger: fold any bucket whose live "
                         "merge-on-read delta-file count exceeds K "
                         "(hot buckets only; cold buckets untouched)")
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--merge-mode", choices=["cow", "mor"], default="cow",
                    help="cow rewrites affected buckets; mor writes per-bucket "
                         "delta files (pair with --compact-every to fold them)")
    ap.add_argument("--evolved-schema", action="store_true",
                    help="read the feed with the schema-evolution envelope (source_version)")
    ap.add_argument("--maintain-every", type=int, default=None,
                    help="self-maintenance cadence: every N applied batches "
                         "run vacuum + commit-log expiry DURING the stream "
                         "so a long-running job keeps its _log dir and "
                         "orphan files bounded (complements the post-drain "
                         "--vacuum-retain-versions)")
    ap.add_argument("--vacuum-retain-versions", type=int, default=None,
                    help="after the drain, delete data files referenced by no "
                         "snapshot in the last V versions (time travel below "
                         "that stops working)")
    ap.add_argument("--expire-log-checkpoints", type=int, default=None,
                    help="with --vacuum-retain-versions: also prune commit-log "
                         "entries below the newest C checkpoints (the log-side "
                         "retention; epoch-fence ids survive in the checkpoints)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from tickers_daily_intraday_etl_spark.session import ENGINE_CONF

    # under spark-submit the master/executors and sizing come from the
    # submit command; standalone invocation falls back to local defaults
    spark = SparkSession.builder.appName("cdc-ingest").config(map=ENGINE_CONF).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from tickers_daily_intraday_etl_spark.cdc.schemas import CDC_SCHEMA, CDC_SCHEMA_V2
    from tickers_daily_intraday_etl_spark.streaming import CdcPipeline

    pipe = CdcPipeline(
        spark,
        args.feed,
        args.table,
        args.checkpoint,
        feed_schema=CDC_SCHEMA_V2 if args.evolved_schema else CDC_SCHEMA,
        num_buckets=args.num_buckets,
        salt_partitions=args.salt,
        feed_format=args.feed_format,
        compact_every=args.compact_every,
        compact_delta_files_threshold=args.compact_delta_threshold,
        max_files_per_trigger=args.max_files_per_trigger,
        merge_mode=args.merge_mode,
        maintain_every=args.maintain_every,
        vacuum_retain_versions=args.vacuum_retain_versions or 8,
        expire_log_checkpoints=args.expire_log_checkpoints or 2,
    )
    t0 = time.time()
    lineage = pipe.run_available_now()
    dt = time.time() - t0
    applied = [m for m in lineage if m.get("rows_in")]
    rows = sum(m["rows_in"] for m in applied)
    maintenance = None
    if args.vacuum_retain_versions is not None:
        from tickers_daily_intraday_etl_spark.lake.maintenance import vacuum

        maintenance = vacuum(
            pipe.table,
            retain_last_n_versions=args.vacuum_retain_versions,
            expire_log_checkpoints=args.expire_log_checkpoints,
        )
    print(
        json.dumps(
            {
                "rows_in": rows,
                "batches": len(lineage),
                "sec": round(dt, 2),
                "events_per_sec": round(rows / dt, 1) if dt > 0 else None,
                "table_version": pipe.table.log.latest_version(),
                "maintenance": maintenance,
            }
        )
    )
    sys.stdout.flush()


if __name__ == "__main__":
    main()
