"""The streaming CDC engine: source → confidence window → correlation →
envelope projection → exactly-once sink, sequenced per generation.

Lifecycle mirror of SURVEY §3.2:
  spark.readStream (changelog dir; Iceberg in production, parquet file
  source locally) → foreachBatch correlating sink (confidence-window
  filter, per-batch correlation with pending state and replay markers,
  envelope select, exactly-once write; checkpointed).

Generation rollover (SURVEY §2.1 "Generation", ScyllaConnector.java:70-97 /
ScyllaMasterTransport.areTasksFullyConsumedUntil:50-70): the stream set is
fixed within a generation; generation N+1 may only start after every shard
of generation N is fully consumed.  Locally this is driver-side sequencing:
one availableNow run per generation, gated on the lineage high-water marks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.config import EngineConfig
from scylla_cdc_source_connector_spark.schemas import DEFAULT_TABLE, TableModel
from scylla_cdc_source_connector_spark.streaming.sink import make_correlating_sink


def generation_cfg(cfg: EngineConfig, generation: int) -> EngineConfig:
    """Per-generation sink namespaces: streaming batch_ids restart per
    query, so output/lineage dirs must not collide across generations."""
    import dataclasses

    return dataclasses.replace(
        cfg,
        output_dir=os.path.join(cfg.output_dir, f"gen-{generation}"),
        lineage_dir=os.path.join(cfg.lineage_dir, f"gen-{generation}"),
    )


def checkpoint_has_offsets(spark: SparkSession, checkpoint: str) -> bool:
    """True when the checkpoint already holds committed source offsets.

    Resolved through the Hadoop FileSystem of the checkpoint URI — not
    os.path — so HDFS/S3/abfs checkpoints (the production target) are
    detected too.  With a local-only check, every restart against a remote
    checkpoint looked like a fresh start and re-applied the initial
    lookback with a new wall-clock 'now', silently dropping replayed rows
    older than now - lookback (the reference applies lookback only when no
    stored offsets exist, ScyllaConnectorTask.java:197-210)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(checkpoint + "/offsets")
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return False
    # an offsets dir with no committed batch files is still a fresh start
    return len(fs.listStatus(path)) > 0


#: reader options for the production Iceberg changelog source — the exact
#: set run_stream applies with source_format="iceberg" (documented here as
#: the probe the sandbox cannot integration-test: no Iceberg runtime jar /
#: catalog is baked into this container, see iceberg_available()).
ICEBERG_STREAM_OPTIONS = {
    # never replay rows removed by snapshot expiry / compaction deletes
    "streaming-skip-delete-snapshots": "true",
    # compaction rewrites are not new data
    "streaming-skip-overwrite-snapshots": "true",
    # micro-batch admission (K1): files-per-trigger cap, like the parquet
    # file source's maxFilesPerTrigger
    "streaming-max-files-per-micro-batch": None,  # filled from the arg
    # S3 initial lookback: start from the snapshot at now - lookback
    "stream-from-timestamp": None,  # epoch ms, filled on fresh start
}


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg runtime is on the session's classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.SparkTable"
        )
        return True
    except Exception:
        return False


def read_changelog_stream(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: int | None = None,
    source_format: str = "parquet",
    from_timestamp_ms: int | None = None,
    table: TableModel = DEFAULT_TABLE,
) -> DataFrame:
    """S1 sharded windowed scan, Spark-native.

    source_format="parquet" (sandbox default): a parquet file-stream over
    a directory (each file ≙ one CDC time window of arrivals).

    source_format="iceberg" (production): `spark.readStream.format(
    "iceberg")` over the changelog table (`path` is then the catalog table
    name), with ICEBERG_STREAM_OPTIONS — skip-delete/overwrite snapshots,
    files-per-micro-batch admission, and stream-from-timestamp for the
    initial lookback.  Partition pruning on (bucket(clip_id, N),
    hours(cdc$time)) plays the role of the reference's `cdc$stream_id IN
    (...) AND cdc$time >= ... < ...` CQL pushdown (README.md:1357-1370).
    This container carries no Iceberg runtime jar, so the branch raises a
    clear error here and is exercised only up to option assembly in tests
    (tests/test_streaming.py::test_iceberg_source_seam)."""
    if source_format == "iceberg":
        if not iceberg_available(spark):
            raise NotImplementedError(
                "Iceberg runtime not on the classpath in this container; "
                "production: add iceberg-spark-runtime and a catalog, then "
                "this seam passes ICEBERG_STREAM_OPTIONS through unchanged"
            )
        reader = spark.readStream.format("iceberg")
        if max_files_per_trigger:
            reader = reader.option(
                "streaming-max-files-per-micro-batch", max_files_per_trigger
            )
        if from_timestamp_ms is not None:
            reader = reader.option("stream-from-timestamp", from_timestamp_ms)
        return (
            reader.option("streaming-skip-delete-snapshots", "true")
            .option("streaming-skip-overwrite-snapshots", "true")
            .load(path)
        )
    reader = spark.readStream.schema(table.changelog_schema())
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def run_stream(
    spark: SparkSession,
    cfg: EngineConfig,
    input_path: str,
    *,
    generation: int | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    source_format: str = "parquet",
    table: TableModel = DEFAULT_TABLE,
    adopt_schema: bool = False,
):
    """Start one streaming query writing to the exactly-once sink.
    Returns the StreamingQuery (await it / stop it at the call site).

    adopt_schema=True: on (re)start, peek at the source directory's
    current parquet schema and ADOPT it (schema_evolution.adopt — the
    reference's ScyllaSchema.updateChangeSchema:467-472, latest observed
    schema wins, key structure must survive).  Files written before an
    ALTER TABLE ADD are read with nulls for the new columns by the
    parquet source itself; dropped columns vanish because the adopted
    schema no longer names them.  A restart from the same checkpoint
    resumes the file-source offsets with the new schema — the
    micro-batch analog of the per-row schema swap.

    Correlation runs in the foreachBatch sink (make_correlating_sink):
    the codegen'd hash aggregation per micro-batch, an explicit
    pending-state table for cross-micro-batch waits, and marker rows of
    the envelopes emitted inside the confidence window, so a replayed
    changelog row is emitted once — zero Python on the hot path.
    """
    if cfg.dedup_index or cfg.audio_normalize_sr:
        from scylla_cdc_source_connector_spark.config import IncludeMode

        if cfg.include_after is not IncludeMode.FULL:
            which = "dedup_index" if cfg.dedup_index else "audio_normalize_sr"
            raise ValueError(
                f"{which} needs include_after=FULL: the post-image "
                "payload must ride the envelope"
            )
    if adopt_schema:
        if source_format != "parquet":
            raise ValueError("adopt_schema requires the parquet source")
        from scylla_cdc_source_connector_spark.schema_evolution import adopt

        observed = (
            spark.read.option("mergeSchema", "true").parquet(input_path).schema
        )
        table = adopt(table, observed)
    changelog = read_changelog_stream(
        spark,
        input_path,
        max_files_per_trigger=max_files_per_trigger,
        source_format=source_format,
        table=table,
    )
    if generation is not None:
        changelog = changelog.filter(F.col("generation") == generation)
        checkpoint = os.path.join(cfg.checkpoint_dir, f"gen-{generation}")
        cfg = generation_cfg(cfg, generation)
    else:
        checkpoint = cfg.checkpoint_dir
    # refuse to resume a lineage namespace written by a different source
    # mode/location — the Iceberg-meta path numbers batches by snapshot
    # sequence (1-based), this path by checkpoint batch id (0-based)
    from scylla_cdc_source_connector_spark.streaming.sink import stamp_source

    stamp_source(
        cfg, f"file_stream:{source_format}:{os.path.abspath(input_path)}"
    )

    # S3 initial lookback (ScyllaConnectorConfig.java:199-213, applied
    # ScyllaConnectorTask.java:197-210): on FIRST start — no offsets/
    # checkpoint yet — begin at now - lookback instead of stream start.
    # Resumed starts keep the checkpoint's file-source offsets, so the
    # filter is attached only on the fresh-start path like the reference
    # (detected via the checkpoint URI's own FileSystem, not os.path).
    if cfg.initial_lookback_ms > 0 and not checkpoint_has_offsets(
        spark, checkpoint
    ):
        import time as _time

        floor_us = int(_time.time() * 1_000_000) - cfg.initial_lookback_ms * 1000
        changelog = changelog.filter(F.col("`cdc$time_us`") >= floor_us)

    writer = (
        changelog.writeStream.foreachBatch(make_correlating_sink(cfg, table=table))
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        # cfg.table disambiguates concurrent per-table queries of one
        # multi-table connector run (streaming/connector.py)
        .queryName(f"{cfg.connector_name}-{cfg.table}-gen{generation}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{cfg.query_window_ms} milliseconds")
    return writer.start()


def run_generations(
    spark: SparkSession,
    cfg: EngineConfig,
    input_path: str,
    generations: list[int],
    *,
    timeout_s: float = 600.0,
) -> list[int]:
    """Drain generations strictly in order (the generation gate).

    Each generation runs as an availableNow query to completion before the
    next starts — generation N+1's rows are never emitted before N is fully
    consumed, mirroring areTasksFullyConsumedUntil
    (ScyllaMasterTransport.java:50-70).  Returns emitted-count per
    generation."""
    from scylla_cdc_source_connector_spark.streaming.sink import read_lineage

    emitted = []
    for gen in sorted(generations):
        q = run_stream(spark, cfg, input_path, generation=gen, available_now=True)
        q.awaitTermination(timeout_s)
        if q.isActive:
            q.stop()
            raise TimeoutError(f"generation {gen} did not drain in {timeout_s}s")
        n = sum(
            s["n_records"]
            for rec in read_lineage(generation_cfg(cfg, gen))
            for s in rec["shards"]
            if s["generation"] == gen
        )
        emitted.append(n)
    return emitted


#: sub-batch id stride for snapshot-splitting backpressure: batch_id =
#: sequence_number * stride + chunk_index.  Fixed (not derived from the
#: chunk count) so resume recomputes identical ids; a snapshot needing
#: >= stride chunks refuses loudly instead of colliding.
_SPLIT_STRIDE = 1_000_000


def run_iceberg_meta_stream(
    spark: SparkSession,
    cfg: EngineConfig,
    table_location: str,
    *,
    table: TableModel = DEFAULT_TABLE,
    from_timestamp_ms: int | None = None,
    adopt_schema: bool = False,
    partition_ranges: dict[str, tuple] | None = None,
    from_sequence: int | None = None,
    source_identity: str | None = None,
    max_files_per_batch: int | None = None,
) -> dict:
    """Drain an Iceberg changelog table WITHOUT the runtime jar.

    `sources/iceberg_meta.py` resolves the table's metadata in pure Python
    (version-hint -> vN.metadata.json -> manifest list -> manifests) and
    this loop turns each unconsumed snapshot — in sequence-number order —
    into ONE ordered micro-batch through the SAME exactly-once foreachBatch
    sink the file-stream path uses (snapshot == the
    reference's CDC query window, ScyllaStreamingChangeEventSource.java:
    53-103, with the snapshot sequence number playing the window offset).

    Exactly-once/resume: batch_id = the snapshot's sequence number, and the
    sink's lineage record is the commit marker (the sink is an idempotent
    no-op for an already-committed batch_id), so a crash anywhere leaves a
    consistent prefix and a rerun drains only the remainder — no extra
    ledger needed.  `from_timestamp_ms` is the initial-lookback analog (S3)
    applied to snapshot commit times on a fresh start; on resume the
    lineage, not the wall clock, decides (same rule as
    checkpoint_has_offsets on the file path).

    `partition_ranges` scopes the drain to a partition subset — the
    jarless analog of the reference's per-task `cdc$stream_id IN (...)`
    CQL scoping (ConfigSerializerUtil.java:39-52): manifests outside the
    ranges are skipped UNOPENED via the manifest-list field summaries and
    surviving entries are filtered on their partition tuples
    (iceberg_meta.added_files).  NOTE: a scoped drain and a full drain
    are different streams — the partition scope is part of the lineage
    identity, so one EngineConfig cannot alternate between scopes.

    `from_sequence` starts the drain strictly AFTER that snapshot
    sequence number on every run (fresh or resumed) — the initial-
    snapshot handoff point (run_initial_snapshot_then_stream): sequences
    <= from_sequence are already reflected in the backfilled state, so
    they are part of the stream identity, never re-delivered.
    `source_identity` overrides the lineage-namespace stamp for callers
    that compose this drain into a larger stream (same refusal rule).

    `max_files_per_batch=N` is snapshot-splitting backpressure — the jar
    source's `streaming-max-files-per-micro-batch`: a snapshot whose
    file list exceeds N drains as ceil(files/N) deterministic
    sub-batches (sorted file order, batch_id = sequence_number * 10^6 +
    chunk index), each an independently committed exactly-once unit, so
    ONE giant backlog snapshot (a bulk import, a resumed week of
    changes) can never force a micro-batch past executor memory.  A
    crash between sub-batches resumes at the first uncommitted chunk.
    The split factor is part of the stream identity (stamped in
    lineage): changing it mid-stream would re-chunk committed snapshots
    and is refused.

    Returns {"consumed": [snapshot ids run this call],
             "skipped": [snapshot ids already committed],
             "emitted_total": rows in the exactly-once view afterwards
               (sink.emitted_count, a lineage fold — no Spark job),
             "manifests_skipped": pruned-unopened manifest count,
             "files_skipped": entry-level pruned file count}.
    """
    from scylla_cdc_source_connector_spark.sources import iceberg_meta
    from scylla_cdc_source_connector_spark.streaming.sink import (
        committed_batch_ids,
        emitted_count,
        stamp_source,
    )

    if max_files_per_batch is not None and max_files_per_batch < 1:
        raise ValueError("max_files_per_batch must be >= 1")
    scope = ""
    if partition_ranges:
        scope = ":" + ",".join(
            f"{k}=[{lo},{hi}]" for k, (lo, hi) in sorted(partition_ranges.items())
        )
    # the split factor is part of the stream identity EVEN under an
    # explicit source_identity: re-chunking committed snapshots must be
    # refused regardless of how the caller namespaces the lineage
    split_sfx = (
        f":split={max_files_per_batch}"
        if max_files_per_batch is not None
        else ""
    )
    stamp_source(
        cfg,
        (
            source_identity
            or f"iceberg_meta:{os.path.abspath(table_location)}{scope}"
        )
        + split_sfx,
    )

    if adopt_schema:
        # ALTER TABLE dynamism without the jar: adopt the table's CURRENT
        # Iceberg schema (latest observed wins at (re)start, the same rule
        # the parquet path applies — ScyllaSchema.updateChangeSchema
        # analog); files from pre-evolution snapshots read with nulls for
        # the added columns via the explicit read schema
        from scylla_cdc_source_connector_spark.schema_evolution import adopt

        table = adopt(table, iceberg_meta.current_spark_schema(table_location))

    sink_fn = make_correlating_sink(cfg, table=table)
    committed = set(committed_batch_ids(cfg))
    lookback = from_timestamp_ms if not committed else None
    consumed, skipped = [], []
    manifests_skipped = files_skipped = 0
    for b in iceberg_meta.added_files(
        table_location,
        from_timestamp_ms=lookback,
        partition_ranges=partition_ranges,
    ):
        seq = b["sequence_number"]
        if from_sequence is not None and seq <= from_sequence:
            skipped.append(b["snapshot_id"])
            continue
        if max_files_per_batch is None:
            # one batch per snapshot, its id the sequence number
            chunks, bids = [b["files"]], [seq]
        else:
            # split mode: deterministic sorted-file chunks, each its own
            # exactly-once sub-batch (bid = seq * stride + chunk index)
            files = sorted(b["files"])
            chunks = [
                files[i : i + max_files_per_batch]
                for i in range(0, len(files), max_files_per_batch)
            ] or [[]]
            if len(chunks) >= _SPLIT_STRIDE:
                raise ValueError(
                    f"snapshot {b['snapshot_id']} splits into {len(chunks)} "
                    f"sub-batches (>= {_SPLIT_STRIDE}); raise max_files_per_batch"
                )
            bids = [seq * _SPLIT_STRIDE + ci for ci in range(len(chunks))]
        ran = False
        for bid, chunk in zip(bids, chunks):
            if bid in committed:
                continue
            if chunk:
                df = spark.read.schema(table.changelog_schema()).parquet(
                    *chunk
                )
            else:
                # empty snapshot = the heartbeat case: run the sink anyway
                # so lineage/offsets advance exactly like an empty CDC
                # window (K4)
                df = spark.createDataFrame([], table.changelog_schema())
            sink_fn(df, bid)
            ran = True
        if ran:
            manifests_skipped += b["manifests_skipped"]
            files_skipped += b["files_skipped"]
            consumed.append(b["snapshot_id"])
        else:
            skipped.append(b["snapshot_id"])
    return {
        "consumed": consumed,
        "skipped": skipped,
        "emitted_total": emitted_count(cfg),
        "manifests_skipped": manifests_skipped,
        "files_skipped": files_skipped,
    }


def run_initial_snapshot_then_stream(
    spark: SparkSession,
    cfg: EngineConfig,
    mirror_location: str,
    changelog_location: str,
    *,
    table: TableModel = DEFAULT_TABLE,
    n_chunks: int = 8,
    snapshot_streams: int = 8,
    adopt_schema: bool = False,
) -> dict:
    """Initial snapshot + streaming handoff — Debezium's
    `snapshot.mode=initial` for a changelog whose history has been
    EXPIRED (the reference connector never snapshots, S6; a fresh
    consumer of a finite-retention changelog needs this or it simply
    cannot bootstrap).

    Phase A (snapshot): read the latest-state mirror table
    (`maintain_latest_state_mirror` output — one live row per key,
    `_applied` markers recording exactly WHICH changelog snapshot
    sequence numbers its state reflects) and emit every live row as an
    op='r' (READ) envelope, in `n_chunks` deterministic key-hash chunks.
    Each chunk is one idempotent sink batch with a NEGATIVE batch_id
    (chunk k of n -> k - n, disjoint from snapshot sequence numbers >= 1
    by construction), so a crash anywhere in the backfill resumes
    exactly where it stopped — the same lineage-is-the-commit-marker
    rule as the stream.  'r' rows keep the ORIGINAL change time
    (the mirror's __ts_us) so downstream last-writer-wins
    materialization (apply.py) needs no special casing.

    Phase B (stream): run_iceberg_meta_stream(from_sequence=hwm) where
    hwm = max(mirror `_applied`) — the handoff is EXACT (Iceberg
    sequence numbers, not a DBLog-style dedup window): every event
    <= hwm is already inside the snapshot state, everything > hwm
    streams normally.  If retention expired snapshots BEYOND the
    mirror's coverage (oldest surviving sequence > hwm + 1) the
    bootstrap would silently lose changes — refused loudly instead.

    The hwm is pinned in `lineage_dir/_snapshot_phase.json` at first
    run: a resumed bootstrap keeps its original handoff point even if
    the mirror advanced meanwhile.  Requires a mirror maintained from an
    iceberg-meta-path consumer (its `_applied` ids ARE changelog
    sequence numbers; the file-stream path's 0-based ids are not).

    Scale shape: the mirror read is the pruned jarless `read_table`
    scan; chunking is a key-hash predicate on that scan (no shuffle to
    form chunks); each chunk's envelope build is the normal batch
    pipeline (ONE exchange); 'r' rows spread over `snapshot_streams`
    synthetic shards so the per-shard ordered write parallelizes.
    """
    import time as _time

    from scylla_cdc_source_connector_spark.plans.pipeline import cdc_envelopes
    from scylla_cdc_source_connector_spark.sources import iceberg_meta
    from scylla_cdc_source_connector_spark.streaming import increment
    from scylla_cdc_source_connector_spark.streaming.sink import (
        _commit_lineage,
        _write_batch,
        lineage_path,
        stamp_source,
    )

    if n_chunks < 1:
        raise ValueError("n_chunks must be >= 1")
    os.makedirs(cfg.lineage_dir, exist_ok=True)
    os.makedirs(cfg.output_dir, exist_ok=True)

    # ---- pin the handoff point (fresh start) or reload it (resume) ----
    def handoff() -> dict:
        applied = increment.applied_batch_ids(mirror_location)
        if not applied:
            raise ValueError(
                f"mirror {mirror_location} has no _applied markers — "
                "nothing to snapshot from; run run_iceberg_meta_stream "
                "directly for a full-history bootstrap"
            )
        return {"hwm": max(applied), "mirror": os.path.abspath(mirror_location)}

    # a different n_chunks would re-chunk the key space
    phase = increment.pin(
        os.path.join(cfg.lineage_dir, "_snapshot_phase.json"),
        {"n_chunks": n_chunks},
        what="bootstrap",
        init=handoff,
    )
    hwm = phase["hwm"]

    identity = (
        f"iceberg_meta+initial_snapshot:{os.path.abspath(changelog_location)}"
        f":{phase['mirror']}:hwm={hwm}"
    )
    stamp_source(cfg, identity)

    # ---- retention-gap guard: the stream must pick up at hwm + 1 ----
    # (the range walk with files=None reads the metadata JSON only)
    surviving = sorted(
        b["sequence_number"]
        for b in iceberg_meta._snapshot_range(changelog_location, files=None)
    )
    newer = [s for s in surviving if s > hwm]
    if newer and newer[0] > hwm + 1 and hwm + 1 not in surviving:
        raise ValueError(
            f"changelog retention gap: mirror state reflects sequences <= "
            f"{hwm} but the oldest surviving newer snapshot is {newer[0]} — "
            f"sequences {hwm + 1}..{newer[0] - 1} were expired and are in "
            "neither the snapshot nor the stream"
        )

    # ---- phase A: chunked op='r' backfill from the mirror ----
    pk = table.pk_columns
    chunk_expr = F.pmod(F.xxhash64(*[F.col(c) for c in pk]), F.lit(n_chunks))
    state = iceberg_meta.read_table(spark, mirror_location)
    proc_ms = int(_time.time() * 1000)
    snapshot_chunks_run, snapshot_rows = [], 0

    for k in range(n_chunks):
        batch_id = k - n_chunks
        if os.path.exists(lineage_path(cfg, batch_id)):
            continue
        t0 = _time.time()
        chunk = state.where(chunk_expr == k)
        env = cdc_envelopes(
            _snapshot_changelog_rows(chunk, table, snapshot_streams),
            cfg,
            processing_ts_ms=F.lit(proc_ms),
            table=table,
        ).withColumn("value", F.col("value").withField("op", F.lit("r")))
        n, shards, n_quar, n_dups = _write_batch(env, batch_id, cfg, table)
        _commit_lineage(
            cfg,
            batch_id,
            {
                "batch_id": batch_id,
                "phase": "snapshot",
                "chunk": k,
                "snapshot_hwm": hwm,
                "n_records": n,
                "n_quarantined": n_quar,
                "n_dup_pairs": n_dups,
                "shards": shards,
                "committed_at_ms": int(_time.time() * 1000),
                "sink_seconds": round(_time.time() - t0, 3),
            },
        )
        snapshot_chunks_run.append(k)
        snapshot_rows += n

    # ---- phase B: stream strictly after the handoff point ----
    stream = run_iceberg_meta_stream(
        spark,
        cfg,
        changelog_location,
        table=table,
        adopt_schema=adopt_schema,
        from_sequence=hwm,
        source_identity=identity,
    )
    return {
        "snapshot_hwm": hwm,
        "snapshot_chunks_run": snapshot_chunks_run,
        "snapshot_rows": snapshot_rows,
        **stream,  # its emitted_total counts the backfill batches too
    }


def _snapshot_changelog_rows(
    rows: DataFrame,
    table: TableModel,
    snapshot_streams: int,
    *,
    stream_prefix: str = "snapshot",
) -> DataFrame:
    """Latest-state rows (pk cols + __ts_us + image cols) -> synthetic
    changelog rows: one INSERT delta + one POST_IMAGE per key at the
    ORIGINAL change time, spread across `snapshot_streams` synthetic
    shards, in the exact changelog schema — complete under any include
    mode (shared by the initial-snapshot bootstrap and the ad-hoc
    re-snapshot)."""
    from scylla_cdc_source_connector_spark.schemas import (
        OP_POST_IMAGE,
        OP_ROW_INSERT,
    )

    pk = table.pk_columns
    sub = F.pmod(F.xxhash64(*[F.col(c) for c in pk]), F.lit(snapshot_streams))
    meta_common = [
        F.concat(F.lit(stream_prefix + "-"), sub.cast("string")).alias(
            "cdc$stream_id"
        ),
        F.timestamp_micros(F.col("__ts_us")).alias("cdc$time"),
        F.col("__ts_us").alias("cdc$time_us"),
        F.lit(-1).cast("int").alias("generation"),
    ]
    base = [F.col(f.name) for f in table.base_fields()]
    markers = [
        F.lit(None).cast("boolean").alias(f"cdc$deleted_{c}")
        for c in table.non_pk_columns
    ] + [
        F.lit(None)
        .cast(table.deleted_elements_type(c))
        .alias(f"cdc$deleted_elements_{c}")
        for c in table.collection_columns()
        if c in table.non_pk_columns
    ]
    delta = rows.select(
        *meta_common,
        F.lit(OP_ROW_INSERT).cast("int").alias("cdc$operation"),
        F.lit(1).cast("int").alias("cdc$batch_seq_no"),
        *base,
        *markers,
    )
    post = rows.select(
        *meta_common,
        F.lit(OP_POST_IMAGE).cast("int").alias("cdc$operation"),
        F.lit(2).cast("int").alias("cdc$batch_seq_no"),
        *base,
        *markers,
    )
    # exact changelog schema order/nullability
    return delta.unionByName(post).select(
        *[F.col(f"`{f.name}`") for f in table.changelog_schema().fields]
    )


def run_adhoc_resnapshot(
    spark: SparkSession,
    cfg: EngineConfig,
    mirror_location: str,
    request_id: str,
    *,
    table: TableModel = DEFAULT_TABLE,
    keys: list[str] | None = None,
    partition_ranges: dict[str, tuple] | None = None,
    n_chunks: int = 4,
    snapshot_streams: int = 8,
) -> dict:
    """Ad-hoc partial re-snapshot — Debezium's signal-table
    `execute-snapshot` semantics (public signaling contract: an ad-hoc
    snapshot request names a data collection + optional filter, and the
    connector re-emits the CURRENT state of the matching rows as op='r'
    READ records interleaved into the stream; consumers heal corrupted
    or newly-bootstrapped downstream state without a full rebuild).

    `request_id` plays the signal row's id: each request gets its own
    idempotent batch-id block, allocated at first run and pinned in
    `lineage_dir/_resnapshot_<request_id>.json` — re-running the same
    request resumes/no-ops (exactly-once per request), a NEW request id
    allocates the next block below every id already committed.  Batch
    ids stay NEGATIVE so they never collide with changelog snapshot
    sequence numbers, and blocks never overlap the initial-snapshot
    chunks or each other.

    Scope: `keys` (broadcast-sized isin on the first pk column — the
    signal's additional-condition analog) and/or `partition_ranges`
    (pruned at the mirror's manifest level, the reference's per-task
    `cdc$stream_id IN (...)` shape).  Rows are re-emitted at their
    ORIGINAL change time with stream ids `resnapshot-<k>` so downstream
    last-writer-wins materialization is unaffected by replay order.

    Returns {"request_id", "batch_ids", "chunks_run", "n_rows"}.
    """
    import time as _time

    from scylla_cdc_source_connector_spark.plans.pipeline import cdc_envelopes
    from scylla_cdc_source_connector_spark.sources import iceberg_meta
    from scylla_cdc_source_connector_spark.streaming import increment
    from scylla_cdc_source_connector_spark.streaming.sink import (
        _commit_lineage,
        _write_batch,
        committed_batch_ids,
        lineage_path,
    )

    if n_chunks < 1:
        raise ValueError("n_chunks must be >= 1")
    os.makedirs(cfg.lineage_dir, exist_ok=True)
    os.makedirs(cfg.output_dir, exist_ok=True)
    safe = "".join(c if c.isalnum() or c in "-_" else "_" for c in request_id)

    def allocate() -> dict:
        floor = min([b for b in committed_batch_ids(cfg) if b < 0], default=0)
        return {"request_id": request_id, "base": floor - n_chunks}

    # the file name folds request ids that differ only outside
    # [A-Za-z0-9_-], so the pin carries the id itself; a different
    # n_chunks would re-chunk the key space
    block = increment.pin(
        os.path.join(cfg.lineage_dir, f"_resnapshot_{safe}.json"),
        {"request_id": request_id, "n_chunks": n_chunks},
        what="resnapshot request",
        init=allocate,
    )

    pk = table.pk_columns
    state = iceberg_meta.read_table(
        spark, mirror_location, partition_ranges=partition_ranges
    )
    if keys is not None:
        state = state.where(F.col(pk[0]).isin(list(keys)))
    chunk_expr = F.pmod(F.xxhash64(*[F.col(c) for c in pk]), F.lit(n_chunks))
    proc_ms = int(_time.time() * 1000)
    chunks_run, n_rows, batch_ids = [], 0, []
    for k in range(n_chunks):
        batch_id = block["base"] + k
        batch_ids.append(batch_id)
        if os.path.exists(lineage_path(cfg, batch_id)):
            continue
        t0 = _time.time()
        env = cdc_envelopes(
            _snapshot_changelog_rows(
                state.where(chunk_expr == k),
                table,
                snapshot_streams,
                stream_prefix="resnapshot",
            ),
            cfg,
            processing_ts_ms=F.lit(proc_ms),
            table=table,
        ).withColumn("value", F.col("value").withField("op", F.lit("r")))
        n, shards, n_quar, n_dups = _write_batch(env, batch_id, cfg, table)
        _commit_lineage(
            cfg,
            batch_id,
            {
                "batch_id": batch_id,
                "phase": "resnapshot",
                "request_id": request_id,
                "chunk": k,
                "n_records": n,
                "n_quarantined": n_quar,
                "n_dup_pairs": n_dups,
                "shards": shards,
                "committed_at_ms": int(_time.time() * 1000),
                "sink_seconds": round(_time.time() - t0, 3),
            },
        )
        chunks_run.append(k)
        n_rows += n
    return {
        "request_id": request_id,
        "batch_ids": batch_ids,
        "chunks_run": chunks_run,
        "n_rows": n_rows,
    }
