"""Incremental CDC apply: materialize the table's latest state from the
emitted envelope stream.

The reference stops at Kafka records; every real consumer then replays
them into a queryable copy of the source table (the Debezium "JDBC sink /
MERGE" pattern).  This module is that downstream, Spark-first and
batch-lineage-driven: it consumes the exactly-once sink's committed
batches (streaming/sink.py lineage) and maintains a bucket-partitioned
parquet table where each primary key holds its last-written image and
deleted keys are absent.

Execution shape (100 TB target):
- the target is partitioned by `bucket = pmod(xxhash64(pk), n_buckets)` —
  the production Iceberg `bucket(pk, N)` layout stand-in;
- one apply pass merges ALL committed-but-unapplied batches: the new
  envelopes reduce to one upsert row per key (max_by over cdc$time_us),
  then ONLY the affected buckets of the target are read back (partition
  pruning on the bucket column), merged last-writer-wins, and rewritten
  via dynamic partition overwrite — untouched buckets never move;
- idempotent + resumable: merge is a pure last-writer-wins function of
  (target, upserts), so re-applying after a crash converges; `_applied`
  marker files (written AFTER the bucket overwrite commits) record
  progress — the one progress protocol, streaming/increment.py.  In production
  the same plan is one Iceberg `MERGE INTO target USING upserts` —
  documented here because this container has no Iceberg runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
from scylla_cdc_source_connector_spark.schemas import DEFAULT_TABLE, TableModel
from scylla_cdc_source_connector_spark.streaming import increment
from scylla_cdc_source_connector_spark.streaming import sink as sink_mod

#: version/tombstone bookkeeping columns stored alongside the image
_META = ("__ts_us", "__deleted")


def _bucket_expr(table: TableModel, n_buckets: int):
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in table.pk_columns]), F.lit(n_buckets)
    ).cast("int")


def read_latest(
    spark: SparkSession, target_dir: str, *, include_deleted: bool = False
) -> DataFrame:
    """The materialized table: one row per live primary key."""
    data = os.path.join(target_dir, "data")
    if not os.path.isdir(data):
        return spark.createDataFrame([], "bucket int")
    df = spark.read.parquet(data)
    return df if include_deleted else df.where(~F.col("__deleted"))


def materialize_latest(
    spark: SparkSession,
    cfg: EngineConfig,
    *,
    target_dir: str,
    table: TableModel = DEFAULT_TABLE,
    n_buckets: int = 16,
) -> int:
    """Apply every committed-but-unapplied sink batch to the target;
    returns the number of upsert/delete rows applied (0 = up to date).

    Deleted keys are RETAINED as `__deleted` tombstone rows rather than
    dropped: a replayed older batch must not resurrect a key that a newer
    applied batch deleted, and the tombstone's __ts_us is what wins that
    merge.  read_latest filters them out; compact them away once their
    __ts_us is older than every unapplied batch's lineage window.
    """
    if cfg.include_after is not IncludeMode.FULL:
        raise ValueError(
            "materialize_latest needs full after-images "
            "(cfg.include_after=FULL) — partial images cannot be merged"
        )
    todo = increment.unapplied_batches(cfg, target_dir, name="apply")
    if not todo:
        return 0
    paths = [sink_mod.batch_output_path(cfg, bid) for bid in todo]
    env = spark.read.parquet(*paths)

    pk = [F.col(c) for c in table.pk_columns]
    img_cols = table.non_pk_columns
    # one upsert row per key across all new batches: last writer wins on
    # the event timestamp (envelopes are unique per (pk, cdc$time_us))
    ordk = F.col("`cdc$time_us`")
    flat = env.select(
        *pk,
        F.col("`cdc$time_us`").alias("__ts_us"),
        (F.col("value.op") == "d").alias("__deleted"),
        *[F.col(f"value.after.{c}").alias(c) for c in img_cols],
    )
    upserts = (
        flat.groupBy(*[c for c in table.pk_columns])
        .agg(
            F.max_by(
                F.struct("__ts_us", "__deleted", *img_cols), F.col("__ts_us")
            ).alias("__row")
        )
        .select(*table.pk_columns, "__row.*")
        .withColumn("bucket", _bucket_expr(table, n_buckets))
    )
    upserts.persist()
    try:
        affected = [
            r["bucket"]
            for r in upserts.select("bucket").distinct().collect()
        ]
        data_dir = os.path.join(target_dir, "data")
        out_cols = [*table.pk_columns, "__ts_us", "__deleted", *img_cols, "bucket"]
        if os.path.isdir(data_dir):
            # partition pruning: only the affected buckets are read back
            current = (
                spark.read.parquet(data_dir)
                .where(F.col("bucket").isin(affected))
                .select(*out_cols)
            )
            merged_in = current.unionByName(upserts.select(*out_cols))
        else:
            merged_in = upserts.select(*out_cols)
        merged = (
            merged_in.groupBy(*table.pk_columns, "bucket")
            .agg(
                F.max_by(
                    F.struct("__ts_us", "__deleted", *img_cols),
                    F.col("__ts_us"),
                ).alias("__row")
            )
            .select(*table.pk_columns, "__row.*", "bucket")
        )
        n = upserts.count()
        # the merge reads the same files the overwrite replaces; break the
        # plan's dependence on them before writing (Spark refuses a write
        # over its own input otherwise).  localCheckpoint materializes only
        # the AFFECTED buckets — in production this whole read-merge-write
        # is one Iceberg MERGE INTO and the checkpoint disappears.
        merged = merged.repartition(max(1, len(affected)), "bucket")
        merged = merged.localCheckpoint(eager=True)
        from scylla_cdc_source_connector_spark.tuning import payload_write_options

        # materialized rows carry the audio payload — byte-sized row
        # groups keep every bucket splittable for downstream scans
        payload_write_options(
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
        ).parquet(data_dir)
        increment.mark_applied(target_dir, todo, n)
        return n
    finally:
        upserts.unpersist()
