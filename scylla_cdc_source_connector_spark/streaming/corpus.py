"""Incremental training-corpus maintenance off the change stream.

`plans/training_pipeline.training_corpus` is the one-shot recipe; this
module is its STREAMING counterpart: it consumes the exactly-once sink's
committed envelope batches (the one progress protocol,
`streaming/increment.py`) and maintains a log-structured corpus of
quality-gated, trimmed, fixed-window, fingerprint-deduplicated audio
segments that tracks the table — updates replace a clip's segments,
deletes retire them.

Log format (parquet under `target/data/batch_id=N`, one dir per catch-up
pass keyed by its highest consumed sink batch, idempotent overwrite):

    clip_id, __ts_us, __deleted,            -- per-clip version/tombstone
    seg_idx, seg_start_ms, seg_n_samples,   -- null on tombstone rows
    bytes, codec, sr_hz, fingerprint        -- fingerprint null on the
                                            -- per-clip VERSION MARKER row

Every live clip processed in a batch writes a version marker alongside
its admitted segments, so an update that admits ZERO segments (gate
failure, all-silence trim, dedup-blocked) still retires the clip's
previous version — the corpus never serves content the table has
replaced.

Per batch the incremental cost is: the NEW envelopes' payload through
gate→trim→segment→fingerprint (one Arrow pipeline, no shuffle), one slim
anti-join of new fingerprints against the corpus log's pruned
`fingerprint` column (duplicate payloads never re-enter), and one
append.  Nothing rereads old payload.  `read_corpus` resolves the log:
last version per clip wins (tombstone ⇒ gone), then one representative
per fingerprint — the same final shape as the one-shot recipe.

Replay safety mirrors apply.py: only sink batches with committed lineage
are consumed, one catch-up pass merges ALL unapplied batches and writes
its log rows with overwrite keyed by the highest consumed SINK batch id,
and `_applied` markers commit progress afterwards — a crash anywhere
re-converges.  At 10^12 clips the log becomes an
Iceberg table partitioned by a fingerprint block with periodic
latest-per-clip compaction, exactly like streaming/dedup_index.py.

Stated drift vs the one-shot recipe (inherent to first-seen incremental
dedup): if a fingerprint's first-seen representative clip is later
deleted or updated away, a duplicate that was blocked EARLIER does not
retroactively re-enter — the fingerprint drops out of the corpus until
that other clip changes again or a periodic re-derivation
(training_corpus over the full table) re-admits it.  The dedup block is
OWNER-aware over live-resolved fingerprints, not history: a clip whose
re-ingested content matches its own previous version re-admits its
segments under the new version, and a clip re-inserted after a delete
re-enters.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
from scylla_cdc_source_connector_spark.streaming import increment
from scylla_cdc_source_connector_spark.streaming import sink as sink_mod

#: resolved corpus columns (read_corpus output)
CORPUS_COLUMNS = (
    "clip_id",
    "seg_idx",
    "seg_start_ms",
    "seg_n_samples",
    "bytes",
    "codec",
    "sr_hz",
    "fingerprint",
)


def _data_dir(target_dir: str, batch_id: int) -> str:
    return os.path.join(target_dir, "data", f"batch_id={batch_id}")


def _log_paths(target_dir: str) -> list[str]:
    root = os.path.join(target_dir, "data")
    if not os.path.isdir(root):
        return []
    return [os.path.join(root, d) for d in sorted(os.listdir(root))]


def maintain_corpus(
    spark: SparkSession,
    cfg: EngineConfig,
    *,
    target_dir: str,
    window_ms: int = 250,
    hop_ms: int | None = None,
    keep_tail: bool = True,
    min_snr_db: float = 30.0,
) -> int:
    """Apply every committed-but-unapplied sink batch to the corpus log;
    returns the number of log rows appended (segments + tombstones).

    Catch-up is ONE Spark pass regardless of backlog size (the reference
    converts a whole poll batch at once, ScyllaConnectorTask.java:216-219):
    all unapplied batches are read together, reduced to one latest change
    per clip, pushed through the gate→trim→segment→fingerprint pipeline
    once, and the resulting log rows land under the HIGHEST batch id's
    dir; the other consumed ids get 0-row applied markers.  A crash
    between the write and the markers re-converges: the rerun re-derives
    the same rows (possibly merged with newer batches) and read_corpus's
    latest-version/one-per-fingerprint resolution is insensitive to the
    duplicate log rows an orphaned dir can leave behind.

    A committed batch whose output dir was expired before this consumer
    applied it is warned about and recorded as {"expired": true} in its
    applied marker — never silently treated as empty (the progress
    protocol's consumer cursor, increment.unapplied_batches)."""
    from scylla_cdc_source_connector_spark import audio
    from scylla_cdc_source_connector_spark.audio_segment import segment_clips
    from scylla_cdc_source_connector_spark.audio_vad import trim_clips

    if cfg.include_after is not IncludeMode.FULL:
        raise ValueError(
            "maintain_corpus needs include_after=FULL — the post-image "
            "payload must ride the envelope"
        )
    with_data = increment.unapplied_batches(cfg, target_dir, name="corpus")
    if not with_data:
        return 0
    bid = max(with_data)  # merged log rows land under the lead id
    env = spark.read.parquet(
        *[sink_mod.batch_output_path(cfg, b) for b in with_data]
    )
    # one row per clip across ALL consumed batches: its LAST change
    latest = (
        env.groupBy("clip_id")
        .agg(
            F.max("`cdc$time_us`").alias("__ts_us"),
            F.max_by(
                F.struct(
                    F.col("value.op").alias("op"),
                    F.col("value.after.bytes").alias("bytes"),
                    F.col("value.after.codec").alias("codec"),
                    F.col("value.after.sr_hz").alias("sr_hz"),
                ),
                F.col("`cdc$time_us`"),
            ).alias("s"),
        )
        .select("clip_id", "__ts_us", "s.op", "s.bytes", "s.codec", "s.sr_hz")
    )
    tombstones = latest.where(
        (F.col("op") == "d") | F.col("bytes").isNull()
    ).select(
        "clip_id",
        "__ts_us",
        F.lit(True).alias("__deleted"),
        F.lit(None).cast("long").alias("seg_idx"),
        F.lit(None).cast("long").alias("seg_start_ms"),
        F.lit(None).cast("long").alias("seg_n_samples"),
        F.lit(None).cast("binary").alias("bytes"),
        F.lit(None).cast("string").alias("codec"),
        F.lit(None).cast("int").alias("sr_hz"),
        F.lit(None).cast("long").alias("fingerprint"),
    )

    live = latest.where((F.col("op") != "d") & F.col("bytes").isNotNull())
    # per-clip VERSION MARKER for every live clip processed in this
    # batch: a segment-less row carrying the new __ts_us.  Without it,
    # an update whose new payload yields zero admitted segments (fails
    # the SNR gate, trims to all-silence, or is fully blocked by the
    # dedup anti-join) would write nothing, leaving the clip's PREVIOUS
    # version as the latest in the log — read_corpus would keep serving
    # content the table no longer has.  The marker retires the prior
    # version unconditionally; admitted segments ride alongside it.
    markers = live.select(
        "clip_id",
        "__ts_us",
        F.lit(False).alias("__deleted"),
        F.lit(None).cast("long").alias("seg_idx"),
        F.lit(None).cast("long").alias("seg_start_ms"),
        F.lit(None).cast("long").alias("seg_n_samples"),
        F.lit(None).cast("binary").alias("bytes"),
        F.lit(None).cast("string").alias("codec"),
        F.lit(None).cast("int").alias("sr_hz"),
        F.lit(None).cast("long").alias("fingerprint"),
    )
    verdict = audio.make_audio_verdict_udf()
    ok = (
        live.withColumn("__v", verdict(F.col("bytes"), F.col("codec")))
        .where(
            F.col("__v.decode_ok")
            & (F.col("__v.roundtrip_snr_db") >= F.lit(min_snr_db))
        )
        .drop("__v", "op")
    )
    ts = ok.select("clip_id", "__ts_us")
    trimmed = (
        trim_clips(ok)
        .where(F.col("decode_ok") & (F.octet_length("bytes") > 0))
        .select("clip_id", "bytes", "codec", "sr_hz")
    )
    segs = segment_clips(
        trimmed, window_ms=window_ms, hop_ms=hop_ms, keep_tail=keep_tail
    ).select(
        "clip_id",
        "seg_idx",
        "seg_start_ms",
        "seg_n_samples",
        F.col("seg_bytes").alias("bytes"),
        "codec",
        "sr_hz",
    )
    # fingerprint with row pass-through (same shape as the one-shot
    # recipe: one tree, no self-join)
    fp_schema = (
        "clip_id string, seg_idx long, seg_start_ms long, "
        "seg_n_samples long, bytes binary, codec string, sr_hz int, "
        "fingerprint long, fp_ok boolean"
    )

    def fp_passthrough(batches):
        from scylla_cdc_source_connector_spark.audio_fingerprint import (
            audio_fingerprint_batches,
        )

        for pdf in batches:
            st = next(
                audio_fingerprint_batches(
                    iter([pdf[["clip_id", "bytes", "codec"]]])
                )
            )
            o = pdf.copy()
            o["fingerprint"] = st["fingerprint"].values
            o["fp_ok"] = st["fp_ok"].values
            yield o

    new_segs = segs.mapInPandas(fp_passthrough, fp_schema).where("fp_ok")
    # duplicate payloads never re-enter: slim anti-join against the
    # LIVE-resolved fingerprints (latest version per clip, tombstones
    # excluded — a fingerprint retired by an update or delete must
    # not keep blocking re-entry).  Column pruning keeps this pass on
    # 4 slim columns; the payload is never re-read.
    prior = _log_paths(target_dir)
    if prior:
        slim = spark.read.parquet(*prior).select(
            "clip_id", "__ts_us", "__deleted", "fingerprint"
        )
        latest = slim.groupBy("clip_id").agg(
            F.max("__ts_us").alias("__ts_us")
        )
        # OWNER-aware block: a fingerprint blocks re-entry only when a
        # DIFFERENT live clip owns it.  A clip re-ingesting content
        # matching its own previous version must re-admit (the version
        # marker above retires the old rows, so blocking on its own
        # fingerprint would make unchanged content vanish).
        seen = (
            slim.join(latest, ["clip_id", "__ts_us"])
            .where(~F.col("__deleted") & F.col("fingerprint").isNotNull())
            .groupBy("fingerprint")
            .agg(F.min("clip_id").alias("__owner"))
        )
        new_segs = (
            new_segs.join(seen, "fingerprint", "left")
            .where(
                F.col("__owner").isNull()
                | (F.col("__owner") == F.col("clip_id"))
            )
            .drop("__owner")
        )
    # in-batch exact dedup: one representative per fingerprint
    seg_cols = [c for c in CORPUS_COLUMNS if c != "fingerprint"]
    deduped = (
        new_segs.groupBy("fingerprint")
        .agg(
            F.min_by(
                F.struct(*seg_cols), F.struct("clip_id", "seg_idx")
            ).alias("r")
        )
        .select(*[F.col(f"r.{c}").alias(c) for c in seg_cols], "fingerprint")
        .join(ts, "clip_id")
        .select(
            "clip_id",
            "__ts_us",
            F.lit(False).alias("__deleted"),
            "seg_idx",
            "seg_start_ms",
            "seg_n_samples",
            "bytes",
            "codec",
            "sr_hz",
            "fingerprint",
        )
    )
    rows = deduped.unionByName(markers).unionByName(tombstones)
    # segment rows carry pcm bytes — keep the output splittable for the
    # consumers that re-scan it (tuning.PAYLOAD_ROW_GROUP_BYTES rule)
    from scylla_cdc_source_connector_spark.tuning import payload_write_options

    payload_write_options(rows.write.mode("overwrite")).parquet(
        _data_dir(target_dir, bid)
    )
    import pyarrow.parquet as pq

    n_appended = sum(
        pq.read_metadata(os.path.join(_data_dir(target_dir, bid), f)).num_rows
        for f in os.listdir(_data_dir(target_dir, bid))
        if f.endswith(".parquet")
    )
    # constituents applied at 0 rows; the lead id carries the count
    increment.mark_applied(target_dir, [b for b in with_data if b != bid], 0)
    increment.mark_applied(target_dir, [bid], n_appended)
    return n_appended


def read_corpus(spark: SparkSession, target_dir: str) -> DataFrame:
    """Resolve the log: last version per clip wins (tombstone ⇒ clip
    gone), then one representative per fingerprint — the same shape the
    one-shot recipe returns."""
    paths = _log_paths(target_dir)
    if not paths:
        return spark.createDataFrame(
            [],
            "clip_id string, seg_idx long, seg_start_ms long, "
            "seg_n_samples long, bytes binary, codec string, sr_hz int, "
            "fingerprint long",
        )
    log = spark.read.parquet(*paths)
    latest_ts = log.groupBy("clip_id").agg(F.max("__ts_us").alias("__ts_us"))
    # fingerprint IS NOT NULL drops the segment-less version markers: a
    # clip whose latest version admitted zero segments resolves to nothing
    live = (
        log.join(latest_ts, ["clip_id", "__ts_us"])
        .where(~F.col("__deleted") & F.col("fingerprint").isNotNull())
    )
    seg_cols = [c for c in CORPUS_COLUMNS if c != "fingerprint"]
    return (
        live.groupBy("fingerprint")
        .agg(
            F.min_by(F.struct(*seg_cols), F.struct("clip_id", "seg_idx")).alias("r")
        )
        .select(*[F.col(f"r.{c}").alias(c) for c in seg_cols], "fingerprint")
    )
