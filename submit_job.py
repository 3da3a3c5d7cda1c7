#!/usr/bin/env python
"""spark-submit entry point — the north_rule's deployment shape.

Package the engine and run the CDC pipeline on any cluster manager:

    zip -r /tmp/sccs_engine.zip scylla_cdc_source_connector_spark
    spark-submit --master <local[N] | yarn | k8s://...> \\
        --py-files /tmp/sccs_engine.zip submit_job.py \\
        --input /path/to/changelog_dir --output /tmp/sccs_out \\
        --mode stream            # or: batch

The session comes from spark-submit's context (master/executors/confs are
CLI-owned); this script only applies the payload batch-size tuning and
declares the job.  In LOCAL mode the driver heap holds the executors, so
size it for the payload: pass `--driver-memory 8g` (or more) for multi-GB
changelog inputs — the 1g default OOMs in the parquet reader on fat
binary rows.  Prints ONE JSON line: rows emitted, elapsed seconds,
throughput.  Running it at two --master local[N] levels on the same input
is exactly the two-cluster-size measurement scale_bench.py automates.

mode=batch : one-shot correlation + envelopes over the input directory.
mode=stream: availableNow Structured Streaming run through the
             exactly-once sink (checkpoint/lineage under --output).
"""

from __future__ import annotations

import argparse
import json
import shutil
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="changelog parquet dir")
    ap.add_argument("--output", required=True, help="work/output root")
    ap.add_argument(
        "--mode",
        choices=("batch", "stream", "stream-iceberg", "mirror", "feed",
                 "records"),
        default="stream",
        help="stream-iceberg: --input is a jarless Iceberg table location "
             "(sources/iceberg_meta.py); one micro-batch per unconsumed "
             "snapshot, exactly-once resume via sink lineage. "
             "mirror: stream-iceberg drain + compacted latest-state "
             "Iceberg mirror under --output/mirror (row-level upserts/"
             "deletes, merge-on-read current state). "
             "feed: --input is an Iceberg table; materialize its row-level "
             "changelog incrementally under --output/feed (exactly-once "
             "batch=<snapshot>/ parquet, resume via the feed hwm). "
             "records: same, but as Debezium-enveloped WIRE records under "
             "--output/records (requires --identifier-columns naming a "
             "PRIMARY KEY of the input table — e.g. the latest-state "
             "mirror; a non-unique key refuses in-plan); production "
             "emit = read the dir and write.format('kafka')",
    )
    ap.add_argument("--fresh", action="store_true",
                    help="clear --output first (otherwise stream resumes)")
    ap.add_argument("--max-files-per-trigger", type=int, default=None,
                    help="stream mode: cap source files per micro-batch "
                         "(1 = one chunk per trigger, the production shape)")
    ap.add_argument("--max-files-per-batch", type=int, default=None,
                    help="stream-iceberg/mirror: split a snapshot larger "
                         "than N files into exactly-once sub-batches "
                         "(backpressure for bulk-import snapshots)")
    ap.add_argument("--identifier-columns", default=None,
                    help="feed and records modes: comma-separated key "
                         "columns for UPDATE_BEFORE/UPDATE_AFTER pairing "
                         "(required by --mode records)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("sccs-cdc-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
    from scylla_cdc_source_connector_spark.tuning import apply_payload_tuning

    apply_payload_tuning(spark)
    if args.fresh:
        shutil.rmtree(args.output, ignore_errors=True)
    cfg = EngineConfig(
        include_before=IncludeMode.FULL,
        include_after=IncludeMode.FULL,
        checkpoint_dir=f"{args.output}/checkpoint",
        output_dir=f"{args.output}/emitted",
        lineage_dir=f"{args.output}/lineage",
    )

    t0 = time.time()
    if args.mode == "batch":
        from scylla_cdc_source_connector_spark.plans.pipeline import cdc_envelopes

        n = cdc_envelopes(
            spark.read.parquet(args.input), cfg, processing_ts_ms=F.lit(0)
        ).count()
    elif args.mode == "stream-iceberg":
        from scylla_cdc_source_connector_spark.streaming.engine import (
            run_iceberg_meta_stream,
        )

        res = run_iceberg_meta_stream(
            spark, cfg, args.input,
            max_files_per_batch=args.max_files_per_batch,
        )
        n = res["emitted_total"]
    elif args.mode == "mirror":
        from scylla_cdc_source_connector_spark.sources import iceberg_meta
        from scylla_cdc_source_connector_spark.streaming.engine import (
            run_iceberg_meta_stream,
        )

        run_iceberg_meta_stream(
            spark, cfg, args.input,
            max_files_per_batch=args.max_files_per_batch,
        )
        iceberg_meta.maintain_latest_state_mirror(
            spark, cfg, f"{args.output}/mirror"
        )
        n = iceberg_meta.read_table(spark, f"{args.output}/mirror").count()
    elif args.mode == "feed":
        from scylla_cdc_source_connector_spark.sources import iceberg_meta

        res = iceberg_meta.maintain_changelog_feed(
            spark,
            args.input,
            f"{args.output}/feed",
            identifier_columns=(
                args.identifier_columns.split(",")
                if args.identifier_columns
                else None
            ),
        )
        n = res["rows"]
    elif args.mode == "records":
        from scylla_cdc_source_connector_spark.operators.kafka_records import (
            maintain_changelog_records,
        )

        if not args.identifier_columns:
            raise SystemExit("--mode records requires --identifier-columns")
        res = maintain_changelog_records(
            spark,
            args.input,
            f"{args.output}/records",
            args.identifier_columns.split(","),
        )
        n = res["records"]
    else:
        from scylla_cdc_source_connector_spark.streaming.engine import run_stream
        from scylla_cdc_source_connector_spark.streaming.sink import read_emitted

        q = run_stream(
            spark,
            cfg,
            args.input,
            available_now=True,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        q.awaitTermination()
        n = read_emitted(spark, cfg).count()

    dt = time.time() - t0
    print(
        json.dumps(
            {
                "mode": args.mode,
                "rows_emitted": n,
                "elapsed_s": round(dt, 2),
                "rows_per_s": round(n / dt, 1) if dt else None,
                "master": spark.sparkContext.master,
                "parallelism": spark.sparkContext.defaultParallelism,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
