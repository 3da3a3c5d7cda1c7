"""Engine configuration — the Spark-native analog of ScyllaConnectorConfig.

Defaults mirror the reference's throughput-governing knobs
(BASELINE.md §A; ScyllaConnectorConfig.java):
- confidence window 30 000 ms  (:171-184)  → Structured Streaming watermark
- query time window 30 000 ms  (:159-169)  → micro-batch trigger interval
- incomplete-task timeout 15 000 ms (:309-320) → correlation state TTL
- include modes for before/after images (:856-893)
- pk placement (:279-307, :909-960)

Validation mirrors ScyllaConnector.validate (ScyllaConnector.java:136-194)
and the format cross-checks of ConfigSerializerUtil.java:213-369.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum


class IncludeMode(str, Enum):
    """cdc.include.before / cdc.include.after modes
    (ScyllaConnectorConfig.java:856-893)."""

    NONE = "none"
    FULL = "full"
    ONLY_UPDATED = "only-updated"


class PkPlacement(str, Enum):
    """cdc.include.primary-key.placement targets
    (ScyllaConnectorConfig.java:279-307, 909-960)."""

    KAFKA_KEY = "kafka-key"
    PAYLOAD_AFTER = "payload-after"
    PAYLOAD_BEFORE = "payload-before"
    PAYLOAD_KEY = "payload-key"
    KAFKA_HEADERS = "kafka-headers"


class OutputFormat(str, Enum):
    """Advanced vs legacy record format (ScyllaConnectorConfig output
    format switch; legacy cell-wrapping per ScyllaSchemaLegacy.java:95-130)."""

    ADVANCED = "advanced"
    LEGACY = "legacy"


@dataclass(frozen=True)
class EngineConfig:
    # identity / topic routing (ScyllaTopicSelector.java:12-24)
    topic_prefix: str = "cdc"
    keyspace: str = "audio"
    table: str = "clips"
    connector_name: str = "scylla-cdc-spark"
    connector_version: str = "0.1.0"

    # source windows (ScyllaConnectorConfig.java:159-213)
    confidence_window_ms: int = 30_000  # → withWatermark delay
    query_window_ms: int = 30_000  # → trigger processingTime
    initial_lookback_ms: int = 0

    # correlation / state (ScyllaChangesConsumer.java:37,147-185)
    incomplete_task_timeout_ms: int = 15_000

    # heartbeats: records emitted to the heartbeat output when a window
    # moves without data, so downstream consumers see progress
    # (ScyllaWorkerTransport.java:58-79; interval knob
    # ScyllaConnectorConfig.java:350-363 — the reference REQUIRES a
    # positive interval because its offsets only move with records;
    # 0 disables, matching Heartbeat.HEARTBEAT_INTERVAL semantics)
    heartbeat_interval_ms: int = 30_000

    # record-level admission per micro-batch, PER SHARD — the Spark-native
    # analog of the reference's per-task max.batch.size poll cap
    # (README.md:1363-1370).  Excess rows divert to the replay-safe
    # pending table and drain on subsequent triggers.  0 = unlimited.
    max_records_per_trigger_per_shard: int = 0

    # projections
    include_before: IncludeMode = IncludeMode.NONE
    include_after: IncludeMode = IncludeMode.NONE
    # after every delete envelope, also emit a record with the same key
    # and a NULL value so compacted Kafka topics drop the row — the
    # Debezium `tombstones.on.delete` behavior the reference inherits
    # (observed in CdcPerRowTtlDeleteIT.java: INSERT c → DELETE d →
    # tombstone).  Defaults False here: the flat envelope stream stays
    # 1:1 with changes unless a compacted-topic sink needs tombstones.
    tombstones_on_delete: bool = False
    pk_placements: tuple[PkPlacement, ...] = (PkPlacement.KAFKA_KEY,)
    payload_key_name: str = "key"
    output_format: OutputFormat = OutputFormat.ADVANCED

    # partitioning / scale
    n_shards: int = 32

    # feature gates (ScyllaChangesConsumer.java:98-102 version gate analog)
    preimages_enabled: bool = True
    postimages_enabled: bool = True
    wait_preimage_for_partition_delete: bool = False

    # sink
    checkpoint_dir: str = ""
    output_dir: str = ""
    lineage_dir: str = ""
    # parquet codec for the payload-bearing sink outputs (envelopes,
    # quarantine, pending).  zstd writes ~37% fewer bytes than snappy on
    # the audio envelopes (measured 0.80 vs 1.27 GB on the sf0.1 batch)
    # at comparable CPU — the sink is write-bound, so fewer bytes is
    # directly faster and at 100 TB it is a third less sink I/O.
    output_compression: str = "zstd"
    # parquet row-group size (bytes) for the same payload-bearing outputs.
    # A row group is scanned by exactly ONE task (byte-range-midpoint
    # assignment), so groups must be sized by bytes, never by a row count
    # tuned for narrow rows — a single ~260 MB group makes the file
    # unsplittable for every downstream consumer (the corpus/apply/record
    # converters re-read these files).  ~32 MB keeps outputs splittable to
    # the full executor count while staying above the footer-overhead
    # floor (tuning.PAYLOAD_ROW_GROUP_BYTES; Iceberg table-property
    # analog: write.parquet.row-group-size-bytes).
    output_row_group_bytes: int = 32 << 20

    # streaming audio-validation gate (dead-letter analog of Kafka
    # Connect's errors.tolerance=all + errors.deadletterqueue.topic.name,
    # which the reference inherits from the Connect framework).  When
    # enabled, envelopes whose post-image payload fails vectorized decode
    # or the roundtrip-SNR floor divert to output_dir/_quarantine/
    # batch_id=N with a reason column instead of the emit stream; rows
    # without a payload (deletes, pre-image-only) always pass.  The gate
    # runs as ONE Arrow-vectorized pandas UDF inside the already-persisted
    # envelope plan — no extra shuffle, no second payload pass.
    audio_validation: bool = False
    audio_min_snr_db: float = 30.0

    # normalize-on-ingest (audio_resample.py): when set, every emitted
    # post-image payload is resampled to mono pcm_s16le at this rate
    # inside the exactly-once write path (one scalar Arrow UDF stamped
    # into the persisted envelope plan — no extra shuffle).  Rows the
    # kernel cannot decode keep their original cells; quarantined rows
    # (audio_validation) are dead-lettered with their ORIGINAL payload.
    # Requires include_after=FULL.
    audio_normalize_sr: int | None = None

    # incremental audio-dedup index (streaming/dedup_index.py): per batch,
    # fingerprint new post-images, match against the committed index with
    # the pigeonhole Hamming banding join, emit newly-found duplicate
    # pairs + append to the log-structured index (compacted every
    # `dedup_index_compact_every` batches).  Requires include_after=FULL
    # (the post-image payload must ride the envelope).
    dedup_index: bool = False
    # Radius drives the banding join's bucket width: pigeonhole
    # completeness needs radius+1 blocks over the fingerprint's OCCUPIED
    # width (audio_fingerprint.FP_BITS = 46 bits of the int64 — the split
    # covers exactly those bits), so radius 8 leaves ~5-bit (32-way)
    # buckets — per-batch candidates grow as index_size/32 per block.  The default favors RECALL on raw
    # mixed-codec streams (transcoded copies measure Hamming <= 6).  With
    # normalize-on-ingest (audio_normalize_sr) duplicates measure 0-4, so
    # set 4-5 there: 8-10-bit buckets cut candidate volume ~8-32x at a
    # large index.  For big radii at big indexes, widen the signature
    # instead (functions/dedup.py:hamming_near_dup_pairs docstring).
    dedup_index_max_hamming: int = 8
    dedup_index_compact_every: int = 8

    @property
    def topic(self) -> str:
        # topic = prefix.keyspace.table (ScyllaTopicSelector.java:12-24)
        return f"{self.topic_prefix}.{self.keyspace}.{self.table}"

    @property
    def needs_preimage(self) -> bool:
        return self.include_before is not IncludeMode.NONE

    @property
    def needs_postimage(self) -> bool:
        return self.include_after is not IncludeMode.NONE

    def validate(self) -> None:
        """Config cross-checks (V2/V3 of SURVEY §2.7).

        - before/after include modes require the changelog to carry
          PRE_IMAGE/POST_IMAGE rows (CdcTableOptionsValidator.java:83-149).
        - legacy format is incompatible with include modes and non-default
          pk placement (ConfigSerializerUtil.java:213-369).
        """
        if self.confidence_window_ms < 0:
            raise ValueError("confidence_window_ms must be >= 0")
        if self.n_shards < 1:
            raise ValueError("n_shards must be >= 1")
        if self.needs_preimage and not self.preimages_enabled:
            raise ValueError(
                "cdc.include.before requires preimages enabled on the "
                "changelog (CdcTableOptionsValidator.java:93-149)"
            )
        if self.needs_postimage and not self.postimages_enabled:
            raise ValueError(
                "cdc.include.after requires postimages enabled on the "
                "changelog (CdcTableOptionsValidator.java:93-149)"
            )
        if self.output_format is OutputFormat.LEGACY:
            if self.include_before is not IncludeMode.NONE or (
                self.include_after is not IncludeMode.NONE
            ):
                raise ValueError(
                    "legacy format is incompatible with cdc.include.* "
                    "(ConfigSerializerUtil.java:213-369)"
                )
            if tuple(self.pk_placements) != (PkPlacement.KAFKA_KEY,):
                raise ValueError(
                    "legacy format requires default pk placement "
                    "(ConfigSerializerUtil.java:213-369)"
                )
        if not self.pk_placements:
            raise ValueError("at least one pk placement required")
