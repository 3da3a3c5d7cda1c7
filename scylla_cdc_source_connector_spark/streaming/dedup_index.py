"""Incremental audio-dedup index maintained off the change stream.

A training-data pipeline does not re-fingerprint the corpus per run — it
keeps a fingerprint index CURRENT as the CDC stream flows, and surfaces
"this incoming clip duplicates an existing one" at ingest time.  This
module maintains exactly that, inside the engine's exactly-once sink:

- per micro-batch, the NEW post-image payloads are spectral-fingerprinted
  (audio_fingerprint.py — one vectorized rfft pass, latest version per
  clip within the batch),
- new fingerprints are matched against (committed index ∪ this batch)
  with the pigeonhole Hamming banding join (functions/dedup.py:
  hamming_near_dup_pairs design: complete at the radius, no all-pairs) —
  the NEW side is banded and joined against the banded index, so per
  batch the work is O(|new| · bucket_size), never O(|index|²),
- newly-discovered duplicate pairs land in `_dup_pairs/batch_id=N`, the
  new fingerprints are appended as `_fp_index/batch_id=N`.

Exactly-once: both writes are idempotent (overwrite, keyed by batch_id)
and become visible only through the SAME lineage commit that covers the
main envelope output — a replayed batch rebuilds identical pairs/index
rows.  The index is log-structured: every `compact_every` batches the
committed log is rewritten as one `compact_upto=N` snapshot
(latest-fingerprint-per-clip); readers take the newest committed
snapshot plus the batch dirs after it, so compaction is also replay-safe
(a crash between snapshot write and lineage commit leaves the snapshot
invisible).  Superseded dirs are left for external GC, like checkpoint
log cleanup.

At 10^12 clips the parquet log becomes an Iceberg table partitioned by a
fingerprint block (the banding key), so the per-batch candidate join
prunes to matching partitions; the logic here is layout-independent.

The reference connector has no analog — its consumers see only the
ordered change stream; this is the north_rule's "training-data pipeline
over the change stream" surface (SURVEY §2.9).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.config import EngineConfig
from scylla_cdc_source_connector_spark.streaming.sink import committed_batch_ids

#: persisted index schema (DDL)
FP_INDEX_SCHEMA = "clip_id string, `cdc$time_us` long, fingerprint long"


def fp_index_root(cfg: EngineConfig) -> str:
    return os.path.join(cfg.output_dir, "_fp_index")


def dup_pairs_path(cfg: EngineConfig, batch_id: int) -> str:
    return os.path.join(cfg.output_dir, "_dup_pairs", f"batch_id={batch_id}")


def _index_dirs(cfg: EngineConfig, committed: set[int]) -> list[str]:
    """Live index pieces: newest committed compact snapshot + committed
    batch dirs after it."""
    root = fp_index_root(cfg)
    if not os.path.isdir(root):
        return []
    compact_upto = -1
    for d in os.listdir(root):
        if d.startswith("compact_upto="):
            k = int(d.split("=", 1)[1])
            if k in committed and k > compact_upto:
                compact_upto = k
    out = []
    if compact_upto >= 0:
        out.append(os.path.join(root, f"compact_upto={compact_upto}"))
    for d in os.listdir(root):
        if d.startswith("batch_id="):
            b = int(d.split("=", 1)[1])
            if b in committed and b > compact_upto:
                out.append(os.path.join(root, d))
    return sorted(out)


def read_fp_index(spark: SparkSession, cfg: EngineConfig) -> DataFrame:
    """Committed fingerprint index, latest version per clip."""
    dirs = _index_dirs(cfg, set(committed_batch_ids(cfg)))
    if not dirs:
        return spark.createDataFrame([], FP_INDEX_SCHEMA)
    raw = spark.read.schema(FP_INDEX_SCHEMA).parquet(*dirs)
    return raw.groupBy("clip_id").agg(
        F.max("`cdc$time_us`").alias("cdc$time_us"),
        F.max_by("fingerprint", "`cdc$time_us`").alias("fingerprint"),
    )


def read_dup_pairs(spark: SparkSession, cfg: EngineConfig) -> DataFrame:
    """All committed newly-discovered duplicate pairs
    (clip_id, match_clip_id, hamming, batch_id)."""
    root = os.path.join(cfg.output_dir, "_dup_pairs")
    committed = set(committed_batch_ids(cfg))
    paths = [
        os.path.join(root, d)
        for d in (os.listdir(root) if os.path.isdir(root) else [])
        if d.startswith("batch_id=") and int(d.split("=", 1)[1]) in committed
    ]
    if not paths:
        return spark.createDataFrame(
            [], "clip_id string, match_clip_id string, hamming int, batch_id long"
        )
    return spark.read.parquet(*paths)


def _banded(fp: DataFrame, max_hamming: int) -> DataFrame:
    """Pigeonhole block split over the fingerprint's OCCUPIED bit width
    (audio_fingerprint.FP_BITS = 46, not the full int64 — blocks over the
    constant-zero high bits would collapse the whole index into one
    bucket per such block and degenerate the candidate join to
    O(|new|·|index|); see functions/dedup.py:hamming_band_blocks for the
    completeness argument)."""
    from scylla_cdc_source_connector_spark.audio_fingerprint import FP_BITS
    from scylla_cdc_source_connector_spark.functions.dedup import (
        hamming_band_blocks,
    )

    blocks = hamming_band_blocks("fingerprint", max_hamming, FP_BITS)
    return fp.select(
        "clip_id",
        "fingerprint",
        *(["is_new"] if "is_new" in fp.columns else []),
        F.explode(F.array(*blocks)).alias("b"),
    ).select(
        "clip_id",
        "fingerprint",
        *(["is_new"] if "is_new" in fp.columns else []),
        F.col("b.tbl").alias("tbl"),
        F.col("b.blk").alias("blk"),
    )


def maintain_dedup_index(
    env_df: DataFrame, batch_id: int, cfg: EngineConfig
) -> int:
    """Called from the sink with the PERSISTED envelope DataFrame after
    the main output write; returns the number of new duplicate pairs.

    No-ops structurally when the envelope carries no post-image payload
    (run_stream refuses such configs up front)."""
    spark = env_df.sparkSession
    try:
        after = next(
            f
            for f in env_df.schema["value"].dataType.fields
            if f.name == "after"
        )
        names = {f.name for f in after.dataType.fields}
    except (KeyError, AttributeError, StopIteration):
        return 0
    if not {"bytes", "codec"} <= names:
        return 0

    from scylla_cdc_source_connector_spark.audio_fingerprint import (
        AUDIO_FP_SCHEMA,
        audio_fingerprint_batches,
    )

    clips = (
        env_df.select(
            "clip_id",
            F.col("`cdc$time_us`").alias("t_us"),
            F.col("value.after.bytes").alias("bytes"),
            F.col("value.after.codec").alias("codec"),
        )
        .where("bytes IS NOT NULL")
        # latest post-image per clip within the batch
        .groupBy("clip_id")
        .agg(
            F.max("t_us").alias("cdc$time_us"),
            F.max_by("bytes", "t_us").alias("bytes"),
            F.max_by("codec", "t_us").alias("codec"),
        )
    )
    new_fp = (
        clips.select("clip_id", "bytes", "codec")
        .mapInPandas(audio_fingerprint_batches, AUDIO_FP_SCHEMA)
        .where("fp_ok")
        .join(clips.select("clip_id", "`cdc$time_us`"), "clip_id")
        .select("clip_id", "`cdc$time_us`", "fingerprint")
    )
    new_fp.persist()
    try:
        if new_fp.isEmpty():
            return 0
        committed = set(committed_batch_ids(cfg))
        old = read_fp_index(spark, cfg).select(
            "clip_id", "fingerprint", F.lit(False).alias("is_new")
        )
        allfp = old.unionByName(
            new_fp.select(
                "clip_id", "fingerprint", F.lit(True).alias("is_new")
            )
        )
        a = _banded(new_fp.select("clip_id", "fingerprint"), cfg.dedup_index_max_hamming).alias("a")
        b = _banded(allfp, cfg.dedup_index_max_hamming).alias("b")
        ham = F.bit_count(
            F.col("a.fingerprint").bitwiseXOR(F.col("b.fingerprint"))
        )
        pairs = (
            a.join(
                b,
                (F.col("a.tbl") == F.col("b.tbl"))
                & (F.col("a.blk") == F.col("b.blk"))
                & (F.col("a.clip_id") != F.col("b.clip_id"))
                # new-vs-old always reports; new-vs-new once (id order)
                & (~F.col("b.is_new") | (F.col("a.clip_id") < F.col("b.clip_id"))),
            )
            .filter(ham <= cfg.dedup_index_max_hamming)
            .select(
                F.col("a.clip_id").alias("clip_id"),
                F.col("b.clip_id").alias("match_clip_id"),
                ham.cast("int").alias("hamming"),
                F.lit(batch_id).alias("batch_id"),
            )
            .distinct()
        )
        pairs.persist()
        try:
            n_pairs = pairs.count()
            if n_pairs:
                pairs.write.mode("overwrite").parquet(
                    dup_pairs_path(cfg, batch_id)
                )
            # append this batch's fingerprints to the index log
            new_fp.write.mode("overwrite").parquet(
                os.path.join(fp_index_root(cfg), f"batch_id={batch_id}")
            )
            # periodic compaction: one latest-per-clip snapshot superseding
            # the committed log (visible only once THIS batch commits)
            every = cfg.dedup_index_compact_every
            if every > 0 and batch_id > 0 and batch_id % every == 0:
                live = _index_dirs(cfg, committed)
                if live:
                    snap = (
                        spark.read.schema(FP_INDEX_SCHEMA)
                        .parquet(*live)
                        .unionByName(new_fp)
                        .groupBy("clip_id")
                        .agg(
                            F.max("`cdc$time_us`").alias("cdc$time_us"),
                            F.max_by("fingerprint", "`cdc$time_us`").alias(
                                "fingerprint"
                            ),
                        )
                    )
                    snap.write.mode("overwrite").parquet(
                        os.path.join(
                            fp_index_root(cfg), f"compact_upto={batch_id}"
                        )
                    )
        finally:
            pairs.unpersist()
        return n_pairs
    finally:
        new_fp.unpersist()
