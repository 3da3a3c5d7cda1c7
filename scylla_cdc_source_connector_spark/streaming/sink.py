"""Exactly-once Kafka-record-shaped sink with per-partition lineage.

The reference is at-least-once (pom.xml:135-137): a crash between poll-drain
and Kafka Connect's periodic offset flush replays records.  The north_rule
requires a strict upgrade to exactly-once.  Mechanism:

- `foreachBatch(sink)` — Structured Streaming replays a failed micro-batch
  with the SAME batch_id from the checkpoint;
- the sink writes each batch's envelopes to `output_dir/batch_id=N/` with
  mode("overwrite") — an idempotent write keyed by batch_id, so a replayed
  batch overwrites its own partial output instead of duplicating it;
- a `_SUCCESS`-style lineage commit (`lineage_dir/batch-N.json`, written
  tmp+atomic-rename) records per-shard offsets: (shard, generation,
  window_start=min cdc$time, window_end=max cdc$time, last_change_clip_id,
  last_change_time, n_records) — the Spark analog of the reference's offset
  map {window_start, window_end, change_id_stream_id, change_id_time}
  (SourceInfo.java:32-63, resume parsing ScyllaConnectorTask.java:153-213);
- readers take only batch dirs with a committed lineage file, so an
  uncommitted partial write is invisible → exactly-once end-to-end.

Emission order: rows are repartitioned by shard and sorted by
(cdc$time_us, cdc$batch_seq_no) within each shard before writing — the
same per-task ordering scope the reference guarantees via its per-vnode
worker loop (SURVEY §7.3).

Empty batches still commit a lineage file — the heartbeat that moves
offsets past empty windows (K4, ScyllaWorkerTransport.java:58-79).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from scylla_cdc_source_connector_spark.config import EngineConfig
from scylla_cdc_source_connector_spark.operators.memo import (
    batch_value,
    column_memo,
    plan_settings,
)
from scylla_cdc_source_connector_spark.retry import with_retries
from scylla_cdc_source_connector_spark.schemas import DEFAULT_TABLE, TableModel
from scylla_cdc_source_connector_spark.streaming import increment


def _commit_lineage(cfg: EngineConfig, batch_id: int, rec: dict) -> None:
    """Atomic lineage commit (increment.write_json_atomic), retried with
    the reference's backoff policy on transient I/O errors (K6) — a
    failed commit would otherwise kill the streaming query even though
    the batch output is already idempotently written."""
    with_retries(
        lambda: increment.write_json_atomic(lineage_path(cfg, batch_id), rec)
    )


def lineage_path(cfg: EngineConfig, batch_id: int) -> str:
    return os.path.join(cfg.lineage_dir, f"batch-{batch_id}.json")


def batch_output_path(cfg: EngineConfig, batch_id: int) -> str:
    return os.path.join(cfg.output_dir, f"batch_id={batch_id}")


def pending_path(cfg: EngineConfig, batch_id: int) -> str:
    """Carry-over state of the correlating sink: raw changelog rows of
    groups still incomplete AFTER processing batch_id (versioned per batch
    so a replayed batch rebuilds identical state — exactly-once)."""
    return os.path.join(cfg.output_dir, "_pending", f"batch_id={batch_id}")


def stamp_source(cfg: EngineConfig, identity: str) -> None:
    """Pin the lineage namespace to ONE source identity (mode + location).

    The file-stream path numbers batches with Spark's 0-based checkpoint
    batch ids while the jarless Iceberg path uses 1-based snapshot
    sequence numbers; pointing both modes at one EngineConfig would make
    resume silently skip snapshots as 'already committed'.  The first
    run stamps `lineage_dir/_source.json`; a later run with a DIFFERENT
    identity fails loudly instead."""
    increment.pin(
        os.path.join(cfg.lineage_dir, "_source.json"),
        {"identity": identity},
        what="source",
    )


def committed_batch_ids(cfg: EngineConfig) -> list[int]:
    return increment.batch_ids(cfg.lineage_dir)


def read_lineage(cfg: EngineConfig) -> list[dict]:
    """All committed lineage records, batch order."""
    return [read_lineage_one(cfg, bid) for bid in committed_batch_ids(cfg)]


def read_lineage_one(cfg: EngineConfig, batch_id: int) -> dict:
    """One committed lineage record ({} if the batch never committed)."""
    return increment.read_json(lineage_path(cfg, batch_id))


def read_emitted(
    spark: SparkSession, cfg: EngineConfig, *, merge_schema: bool = False
) -> DataFrame:
    """Exactly-once view of the sink: only batches with committed lineage.

    merge_schema=True unions batches written under DIFFERENT adopted
    table models (schema_evolution): pre-evolution envelopes surface the
    added image fields as nulls."""
    paths = [
        batch_output_path(cfg, bid)
        for bid in committed_batch_ids(cfg)
        if os.path.isdir(batch_output_path(cfg, bid))
    ]
    if not paths:
        return spark.createDataFrame([], "topic string")
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*paths)


def emitted_count(cfg: EngineConfig) -> int:
    """Rows in the exactly-once view (read_emitted) with no Spark job: the
    lineage `n_records` of the committed batches whose output dir still
    exists — the same rule read_emitted lists its paths by."""
    return sum(
        read_lineage_one(cfg, bid)["n_records"]
        for bid in committed_batch_ids(cfg)
        if os.path.isdir(batch_output_path(cfg, bid))
    )


def quarantine_path(cfg: EngineConfig, batch_id: int) -> str:
    return os.path.join(cfg.output_dir, "_quarantine", f"batch_id={batch_id}")


def read_quarantined(spark: SparkSession, cfg: EngineConfig) -> DataFrame:
    """Dead-letter view: envelopes diverted by the audio-validation gate,
    with `quarantine_reason` + the measured verdict.  Exactly-once like
    the emit stream (only committed batches are listed)."""
    paths = [
        quarantine_path(cfg, bid)
        for bid in committed_batch_ids(cfg)
        if os.path.isdir(quarantine_path(cfg, bid))
    ]
    if not paths:
        return spark.createDataFrame([], "quarantine_reason string")
    return spark.read.parquet(*paths)


def heartbeat_path(cfg: EngineConfig, batch_id: int) -> str:
    return os.path.join(cfg.output_dir, "_heartbeat", f"batch_id={batch_id}")


#: heartbeat record schema — offset-bearing progress signal
#: (the Spark shape of Debezium's heartbeat topic record)
HEARTBEAT_SCHEMA = (
    "topic string, shard_id string, generation int, window_end_us long, "
    "batch_id long, n_records long, committed_at_ms long"
)


def read_heartbeats(spark: SparkSession, cfg: EngineConfig):
    """All heartbeat records emitted so far (advisory, at-least-once —
    same delivery class as Debezium's heartbeat topic)."""
    root = os.path.join(cfg.output_dir, "_heartbeat")
    if not os.path.isdir(root) or not os.listdir(root):
        return spark.createDataFrame([], HEARTBEAT_SCHEMA)
    return spark.read.schema(HEARTBEAT_SCHEMA).parquet(
        *(os.path.join(root, d) for d in sorted(os.listdir(root)))
    )


def _make_heartbeat_emitter(cfg: EngineConfig):
    """Per-sink heartbeat timer + writer (K4).

    The reference dispatches a heartbeat record to a heartbeat topic when
    a task's window moves and the heartbeat timer expired
    (ScyllaWorkerTransport.java:58-79); its offsets only advance with
    records, so heartbeats are mandatory on empty windows.  Here the
    lineage commit itself advances offsets, so heartbeat RECORDS are the
    downstream-visible progress signal: emitted unconditionally for an
    EMPTY batch (the offset advance has no other carrier) and
    timer-gated otherwise.  Written idempotently per batch_id
    (overwrite), read via read_heartbeats.

    The per-shard high-water offsets an empty window carries live in the
    emitter's state: folded from lineage once, at the first empty
    window, then kept current from the `shards` of every call (each call
    precedes its batch's lineage commit), so an idle stream reads no
    lineage per trigger."""

    state: dict = {"last_ms": 0.0, "hwm": None}

    def advance(shards: list[dict]) -> None:
        hwm = state["hwm"]
        for s in shards:
            cur = hwm.get(s["shard_id"])
            if cur is None or s["window_end_us"] >= cur["window_end_us"]:
                hwm[s["shard_id"]] = s

    def emit(
        spark: SparkSession,
        batch_id: int,
        n_records: int,
        shards: list[dict],
    ) -> None:
        if cfg.heartbeat_interval_ms <= 0:
            return
        if state["hwm"] is not None:
            advance(shards)
        now_ms = time.time() * 1000
        expired = now_ms - state["last_ms"] >= cfg.heartbeat_interval_ms
        if n_records > 0 and not expired:
            return
        if not shards:
            # empty window: carry the last committed per-shard offsets so
            # consumers see WHERE progress stands, not just that it moved
            if state["hwm"] is None:
                state["hwm"] = {}
                for rec in read_lineage(cfg):
                    advance(rec["shards"])
            shards = list(state["hwm"].values())
        rows = [
            (
                f"__heartbeat.{cfg.connector_name}",
                s["shard_id"],
                s["generation"],
                s["window_end_us"],
                batch_id,
                n_records,
                int(now_ms),
            )
            for s in shards
        ] or [
            # no offsets at all yet: a single engine-level liveness record
            (
                f"__heartbeat.{cfg.connector_name}",
                None,
                None,
                None,
                batch_id,
                n_records,
                int(now_ms),
            )
        ]
        # driver-side pyarrow write: the record set is bounded by the
        # shard count, so a 1-task Spark job here is pure per-trigger
        # overhead (job launch + coalesce(1) measured up to ~5 s in slow
        # host phases).  Same layout/read path (read_heartbeats uses an
        # explicit schema); idempotent overwrite per batch_id.
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = list(zip(*rows))
        tbl = pa.table(
            {
                "topic": pa.array(cols[0], pa.string()),
                "shard_id": pa.array(cols[1], pa.string()),
                "generation": pa.array(cols[2], pa.int32()),
                "window_end_us": pa.array(cols[3], pa.int64()),
                "batch_id": pa.array(cols[4], pa.int64()),
                "n_records": pa.array(cols[5], pa.int64()),
                "committed_at_ms": pa.array(cols[6], pa.int64()),
            }
        )
        d = heartbeat_path(cfg, batch_id)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        pq.write_table(tbl, os.path.join(d, "part-0.parquet"))
        state["last_ms"] = now_ms

    return emit


def _obs_get(obs: Observation, defaults: dict) -> dict:
    """Observation.get, tolerating a plan whose observed subtree never
    executed (e.g. every file/row statically pruned → Catalyst/AQE
    replaces the subtree with an empty relation and the CollectMetrics
    node vanishes with it): the defaults stand in for the missing row."""
    try:
        return {**defaults, **obs.get}
    except Exception:
        return dict(defaults)


def emitted_markers(
    spark: SparkSession, paths: list[str], table: TableModel = DEFAULT_TABLE
) -> DataFrame:
    """OP_EMITTED marker rows for the groups the batch dirs `paths`
    emitted: the slim key columns (cdc$stream_id, generation, pk...,
    cdc$time, cdc$time_us) read with an explicit schema — no inference
    job, and the payload is never scanned."""
    from scylla_cdc_source_connector_spark.schemas import OP_EMITTED

    cl = table.changelog_schema()
    keys = [
        "cdc$stream_id", "generation", *table.pk_columns, "cdc$time", "cdc$time_us"
    ]
    return (
        spark.read.schema(StructType([cl[c] for c in keys]))
        .parquet(*paths)
        .withColumn("cdc$operation", F.lit(OP_EMITTED))
    )


@dataclass(frozen=True)
class _SinkPlan:
    """The sink's own Columns of its per-batch plan (the correlation and
    envelope Columns are memoized by their operators).

    None of them depends on a batch: a micro-batch applies them to its own
    DataFrames and builds only the Columns that carry its values (the
    confidence-window, marker and expiry floors)."""

    arrived: Column  # rows-arrived Observation aggregate
    status: tuple[Column, ...]  # max_ev / n_inc Observation aggregates
    emit: Column  # complete and not marked
    rank: Column  # per-shard admission order (budget cap)
    inc_aggs: tuple[Column, ...]  # the incomplete-keys status plan
    inc_open: Column


@column_memo
def _sink_plan(cfg: EngineConfig, table: TableModel, sc: SparkContext) -> _SinkPlan:
    from pyspark.sql import Window

    from scylla_cdc_source_connector_spark.operators.correlation import (
        is_complete_expr,
    )
    from scylla_cdc_source_connector_spark.schemas import (
        DELTA_OPS,
        OP_EMITTED,
        OP_POST_IMAGE,
        OP_PRE_IMAGE,
    )

    fresh = ~F.col("emitted")
    complete = is_complete_expr(cfg)
    op = F.col("`cdc$operation`")
    seq = F.col("`cdc$batch_seq_no`")
    is_delta = op.isin(list(DELTA_OPS))
    done = is_complete_expr(
        cfg,
        op=F.col("__delta_op"),
        has_pre=F.col("__n_pre") > 0,
        has_post=F.col("__n_post") > 0,
    )
    admission = Window.partitionBy("`cdc$stream_id`").orderBy(
        "`cdc$time_us`",
        "`cdc$batch_seq_no`",
        *[f"`{c}`" for c in table.pk_columns],
    )
    return _SinkPlan(
        arrived=F.count(F.lit(1)).alias("n_arrived"),
        status=(
            F.max("`cdc$time_us`").alias("max_ev"),
            F.count(F.when(fresh & ~complete, F.lit(1))).alias("n_inc"),
        ),
        emit=fresh & complete,
        rank=F.row_number().over(admission),
        inc_aggs=(
            F.count(F.when(op == OP_PRE_IMAGE, F.lit(1))).alias("__n_pre"),
            F.count(F.when(op == OP_POST_IMAGE, F.lit(1))).alias("__n_post"),
            # op of the LAST delta (by batch seq) — matches correlate_batch's
            # last-one-wins slot
            F.max_by(F.when(is_delta, op), F.when(is_delta, seq)).alias(
                "__delta_op"
            ),
            F.max("`cdc$time_us`").alias("__ev_us"),
            F.bool_or(op.eqNullSafe(OP_EMITTED)).alias("__emitted"),
        ),
        inc_open=~done & ~F.col("__emitted"),
    )


def sink_envelopes(
    rows: DataFrame,
    markers: DataFrame | None,
    cfg: EngineConfig,
    table: TableModel = DEFAULT_TABLE,
    obs: Observation | None = None,
    ts_ms: Column | None = None,
) -> DataFrame:
    """The correlating sink's per-batch envelope plan.

    `rows` (new arrivals ∪ carried pending rows) and the OP_EMITTED
    `markers` are correlated together; a group holding a marker was
    already emitted by a committed batch, so it is a replay and is
    dropped.  The envelopes are those of the complete, unmarked groups.
    `obs` observes, while the plan executes, the max event time
    (`max_ev`) and the count of incomplete unmarked groups (`n_inc`).
    `ts_ms` is the envelopes' processing time (build_envelopes).

    The markers ride the correlation's ONE exchange (the repartition on
    cdc$stream_id), so the plan has no join and no second exchange.  The
    operators' Columns come from their memos (operators/memo.py), so a
    repeat batch builds none of them."""
    from scylla_cdc_source_connector_spark.operators.correlation import (
        correlate_batch,
        mask_unused_images,
        needs_delta_flags,
    )
    from scylla_cdc_source_connector_spark.operators.projection import (
        build_envelopes,
    )

    sc = rows.sparkSession.sparkContext
    plan = _sink_plan(plan_settings(cfg), table, sc)
    if markers is not None:
        rows = rows.unionByName(markers, allowMissingColumns=True)
    # require_delta=False: groups whose delta hasn't arrived yet
    # (micro-batch or admission boundary between a group's images and its
    # delta — Scylla batch order puts preimages FIRST) must reach the
    # pending table instead of being silently dropped
    corr = mask_unused_images(
        correlate_batch(
            rows,
            delta_flags=needs_delta_flags(cfg),
            require_delta=False,
            table=table,
            cluster_by_stream=True,
            mark_emitted=True,
        ),
        cfg,
    )
    if obs is not None:
        corr = corr.observe(obs, *plan.status)
    return build_envelopes(
        corr.filter(plan.emit), cfg, processing_ts_ms=ts_ms, table=table
    )


def _window_markers(
    spark: SparkSession,
    cfg: EngineConfig,
    table: TableModel,
    bids: list[int],
    hwm: int,
) -> DataFrame | None:
    """Marker rows for the groups committed batches emitted inside the
    confidence window [hwm − confidence_window, hwm] — the only groups a
    row that passes the confidence filter can belong to.  Lineage is
    walked back from the newest batch and stops at the first whose
    `max_event_us` (monotone) is below the window.  The floor enters the
    plan through memo.batch_value, so the plan's generated code does not
    change with it."""
    if not hwm:
        return None
    floor = hwm - cfg.confidence_window_ms * 1000
    paths = []
    for bid in reversed(bids):
        if read_lineage_one(cfg, bid).get("max_event_us", floor - 1) < floor:
            break
        if os.path.isdir(batch_output_path(cfg, bid)):
            paths.append(batch_output_path(cfg, bid))
    if not paths:
        return None
    return emitted_markers(spark, paths, table).filter(
        F.col("`cdc$time_us`") >= batch_value(floor)
    )


def make_correlating_sink(cfg: EngineConfig, table: TableModel = DEFAULT_TABLE):
    """foreachBatch body over the RAW changelog stream — the engine's one
    streaming correlator.

    The sink runs the whole-stage-codegen'd `correlate_batch` hash
    aggregation (ONE shuffle, map-side partial agg, zero Python) inside
    each micro-batch and carries the cross-batch waits — groups whose
    write batch was split by a micro-batch boundary — in an explicit
    pending-state table:

      batch N input  = micro-batch rows ∪ pending(batch N-1)
                       ∪ markers of groups emitted inside the window
      complete, unmarked groups → envelopes → idempotent batch_id=N output
      incomplete, unmarked, not expired → pending(batch N), committed in
      the same lineage record (tmp+rename) → replay-safe

    Replays: a CDC log row is keyed by (cdc$stream_id, cdc$time,
    cdc$batch_seq_no), so a re-delivered row is the same row and must be
    emitted once.  Within a batch the aggregation collapses it; across
    batches the envelopes already emitted inside the confidence window
    are the state (sink_envelopes): a group holding a marker is not
    emitted, not counted as incomplete and not carried in pending.
    Rows older than the window are dropped by the confidence filter.

    Stale eviction (C4, ScyllaChangesConsumer.java:147-185): incomplete
    groups older than hwm − incomplete_task_timeout are dropped, where
    hwm = max event time seen so far (the engine-maintained watermark,
    persisted in lineage as `max_event_us` — the streaming analog of the
    confidence window S2).

    Plan: every costly Column of the per-batch plan that carries no
    batch's own values is built once per query, by the module-level memos
    of operators/memo.py: the correlation aggregations and image masks
    (operators.correlation), the envelope select list (operators.
    projection), the Observation aggregates, completeness filter,
    admission rank and incomplete-keys aggregations (`_sink_plan`, keyed
    by the cfg's settings without its paths, table and SparkContext).
    The memos live outside this closure, so the new sink
    run_iceberg_meta_stream builds on every pass reuses them, as does a
    query on a new output dir, and a restart that adopts a new schema (a
    new TableModel) builds its own.  A micro-batch builds only its two
    Observations and the Columns of its own values: the confidence-window,
    marker and expiry floors and the processing time `ts_ms`.  Those go
    through memo.batch_value, never a literal, so a repeat batch compiles
    no code: its plan's generated Java source equals the last batch's.
    """
    os.makedirs(cfg.lineage_dir, exist_ok=True)
    os.makedirs(cfg.output_dir, exist_ok=True)
    heartbeat = _make_heartbeat_emitter(cfg)

    def sink(raw_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        if os.path.exists(lineage_path(cfg, batch_id)):
            return  # replayed, already-committed batch: idempotent no-op
        spark = raw_df.sparkSession
        plan = _sink_plan(plan_settings(cfg), table, spark.sparkContext)

        # resume state comes from the LATEST committed lineage record only:
        # hwm is monotone, and a later batch without pending means earlier
        # pending state was consumed (each batch rewrites the pending table)
        bids = committed_batch_ids(cfg)
        latest = read_lineage_one(cfg, bids[-1]) if bids else {}
        prev_hwm = latest.get("max_event_us", 0)
        prev_pending = (
            latest["batch_id"] if latest.get("has_pending") else None
        )
        # exact rows-arrived accounting: a scalar Observation stamped on
        # the raw batch input BEFORE the confidence filter / pending union
        # — evaluated during the main write pass, so lineage records the
        # true per-batch arrival count and metrics need not guess how many
        # times the source was rescanned (numInputRows multiplies per scan)
        obs_in = Observation(f"sink-arrived-{batch_id}")
        raw_df = raw_df.observe(obs_in, plan.arrived)
        # confidence-window enforcement (S2): drop input rows older than the
        # watermark = max event time of prior batches − confidence window,
        # exactly Spark's withWatermark semantics (watermark advances at
        # batch boundaries).  Pending rows were already admitted.
        if prev_hwm > 0:
            raw_df = raw_df.filter(
                F.col("`cdc$time_us`")
                >= batch_value(prev_hwm - cfg.confidence_window_ms * 1000)
            )
        all_rows = raw_df
        n_carried = 0
        if prev_pending is not None and os.path.isdir(
            pending_path(cfg, prev_pending)
        ):
            pdir = pending_path(cfg, prev_pending)
            # pending rows may predate a schema adoption (restart after
            # ALTER TABLE): they are read with the CURRENT input schema —
            # adopted columns surface as NULL, dropped columns vanish — the
            # same rule the source read applies (ScyllaSchema.
            # updateChangeSchema analog, latest observed schema wins); the
            # explicit schema also spares a footer-inference job
            all_rows = raw_df.unionByName(
                spark.read.schema(raw_df.schema).parquet(pdir)
            )
            # footer-only count of the carried backlog (no Spark job);
            # feeds the provably-nothing-deferred skip below
            import pyarrow.parquet as _pq

            n_carried = sum(
                _pq.read_metadata(os.path.join(pdir, f)).num_rows
                for f in os.listdir(pdir)
                if f.endswith(".parquet")
            )
        # The batch input is deliberately NOT persisted.  Spark's SQL cache
        # builds compressed columnar batches, and on a payload-bearing
        # changelog that materialization costs more than the one extra
        # column-pruned scan it would save (measured: the two payload
        # caches dominated sink time ~4:1 over the actual write).  Each
        # pass below reads only the columns it needs straight off the
        # parquet scan; the payload rides exactly ONE pass (the ordered
        # envelope write).  The file source may report numInputRows once
        # per extra metadata pass — a cosmetic double-count.
        cached = None

        # S4/K1 record-level admission (the reference's per-task
        # max.batch.size poll cap, README.md:1363-1370): admit the first
        # K rows PER SHARD in (cdc$time_us, seq) order; the rest divert
        # to the replay-safe pending table and drain on later triggers.
        # Per-shard ranking = one shuffle on the shard key, no global
        # sort, deterministic — a group split by the cap simply completes
        # in a later batch like any boundary-split group.
        deferred = None
        budget = cfg.max_records_per_trigger_per_shard
        if budget and budget > 0:
            # the ranking window is consumed twice (admitted + deferred), so
            # THIS path does persist — the budget cap bounds the batch size,
            # keeping the cache small by construction
            all_rows.persist()
            cached = all_rows
            ranked = all_rows.withColumn("__rn", plan.rank)
            deferred = ranked.filter(F.col("__rn") > budget).drop("__rn")
            all_rows = ranked.filter(F.col("__rn") <= budget).drop("__rn")

        try:
            # Watermark + incomplete-group bookkeeping ride the write pass
            # itself as an Observation on the correlated rows (evaluated
            # while the plan executes — no second execution, no second
            # source scan, so numInputRows stays an honest per-row count).
            # The Observation carries SCALARS ONLY: per-group keys never
            # travel to the driver, so a poison batch where every group is
            # boundary-split costs executor work, not driver memory.  When
            # the count says incomplete groups exist, their keys are
            # computed by the distributed metadata-only status plan below.
            group_keys = [*table.pk_columns, "cdc$time"]
            markers = _window_markers(spark, cfg, table, bids, prev_hwm)
            obs = Observation(f"sink-status-{batch_id}")
            env = sink_envelopes(
                all_rows,
                markers,
                cfg,
                table,
                obs=obs,
                ts_ms=batch_value(int(time.time() * 1000)),
            )
            # the ONE payload pass: scan → correlate → envelope → ordered
            # write (stats are folded from the written files on the driver)
            phases: dict[str, float] = {}
            t_ph = time.time()
            n, shards, n_quar, n_dups = _write_batch(
                env, batch_id, cfg, table=table, stream_clustered=True
            )
            phases["envelope_write"] = round(time.time() - t_ph, 3)

            status = _obs_get(obs, {"max_ev": None, "n_inc": 0})
            max_ev, n_inc = status["max_ev"], status["n_inc"] or 0
            hwm = max(prev_hwm, max_ev or 0)

            # carry incomplete, unexpired groups; expired ones are dropped
            # like the reference's stale-task cleanup.  The extra pass
            # (slim status scan + payload-bearing semi-join, fused into
            # the single pending WRITE job) runs only when incomplete
            # groups actually exist, and stays fully distributed — no key
            # structs ever reach the driver; the carried-row count comes
            # off the written parquet footers, not a separate count job
            # (a per-micro-batch count action measured ~1 s/trigger).
            n_keep = 0
            pend = None
            n_extra_scans = 0
            if n_inc:
                inc_keys = _incomplete_group_keys(
                    all_rows, markers, cfg, table, hwm
                )
                # no broadcast hint: inc_keys is tiny for ordinary
                # boundary splits and AQE picks broadcast then, but a
                # poison all-incomplete batch must not be forced through
                # a driver-side broadcast build
                pend = all_rows.join(inc_keys, group_keys, "left_semi")
                n_extra_scans = 1  # the slim status scan
            if deferred is not None:
                # the budget cap is per shard, so a batch whose TOTAL
                # rows entering the ranking (new arrivals + carried
                # pending backlog) fit the budget provably deferred
                # nothing — skip the pending write + footer scan entirely
                # (no extra count() job; the proof rides the existing
                # observation + the carried dir's parquet footers)
                arrived = _obs_get(obs_in, {"n_arrived": None})["n_arrived"]
                if arrived is not None and arrived + n_carried <= budget:
                    deferred = None
            if deferred is not None:
                pend = (
                    pend.unionByName(deferred) if pend is not None else deferred
                )
            n_source_scans = 1
            t_ph = time.time()
            if pend is not None:
                if cached is None:
                    # the pend write re-reads the (uncached) batch input —
                    # recorded (with the slim status scan) so metrics can
                    # normalize numInputRows back to rows-arrived
                    n_source_scans = 2 + n_extra_scans
                out = pending_path(cfg, batch_id)
                pend.write.mode("overwrite").option(
                    "compression", cfg.output_compression
                ).option(
                    "parquet.block.size", str(cfg.output_row_group_bytes)
                ).parquet(out)
                import pyarrow.parquet as pq

                n_keep = sum(
                    pq.read_metadata(os.path.join(out, f)).num_rows
                    for f in os.listdir(out)
                    if f.endswith(".parquet")
                )
                phases["pending_write"] = round(time.time() - t_ph, 3)
        finally:
            if cached is not None:
                cached.unpersist()

        t_ph = time.time()
        heartbeat(spark, batch_id, n, shards)
        phases["heartbeat"] = round(time.time() - t_ph, 3)
        _commit_lineage(
            cfg,
            batch_id,
            {
                "batch_id": batch_id,
                "n_records": n,
                "n_quarantined": n_quar,
                "n_dup_pairs": n_dups,
                "shards": shards,
                "max_event_us": hwm,
                "has_pending": bool(n_keep),
                "n_source_scans": n_source_scans,
                "n_input_rows": _obs_get(obs_in, {"n_arrived": 0})[
                    "n_arrived"
                ],
                "committed_at_ms": int(time.time() * 1000),
                "sink_seconds": round(time.time() - t0, 3),
                # per-phase breakdown (observability; the unattributed
                # remainder is plan analysis + the budget-ranking persist)
                "sink_phase_seconds": phases,
            },
        )

    return sink


def _incomplete_group_keys(
    all_rows: DataFrame,
    markers: DataFrame | None,
    cfg: EngineConfig,
    table: TableModel,
    hwm: int,
) -> DataFrame:
    """Distributed metadata-only status plan: the group keys of
    correlation groups that are incomplete under cfg's include modes, not
    yet expired at the engine watermark `hwm`, and hold no OP_EMITTED
    marker (a replay of an emitted group is dropped, not carried).

    Re-derives group completeness from the RAW batch input with a slim
    aggregation over (pk, cdc$time, cdc$operation, cdc$batch_seq_no,
    cdc$time_us) only — Catalyst prunes the payload columns from the
    scan, so the audio bytes are never read — then applies the SAME
    completion predicate as the envelope path (is_complete_expr, one
    source of truth) plus the stale-task TTL
    (ScyllaChangesConsumer.java:147-185).  Replaces the former
    per-group key collection through the Observation: key volume now
    scales on executors, never on the driver."""
    sc = all_rows.sparkSession.sparkContext
    plan = _sink_plan(plan_settings(cfg), table, sc)
    if markers is not None:
        all_rows = all_rows.unionByName(markers, allowMissingColumns=True)
    group_keys = [f"`{c}`" for c in (*table.pk_columns, "cdc$time")]
    ttl_floor = batch_value(hwm - cfg.incomplete_task_timeout_ms * 1000)
    return (
        all_rows.groupBy(*group_keys)
        .agg(*plan.inc_aggs)
        .filter(plan.inc_open & (F.col("__ev_us") >= ttl_floor))
        .select(*group_keys)
    )


#: rows of the slim columns the shard-stats fold holds at a time
_FOLD_ROWS = 1 << 18


def _write_batch(
    env_df: DataFrame,
    batch_id: int,
    cfg: EngineConfig,
    table: TableModel = DEFAULT_TABLE,
    stream_clustered: bool = False,
) -> tuple[int, list[dict], int, int]:
    """Idempotent per-batch output write + per-shard offset stats
    (shared by make_correlating_sink and the snapshot backfills).

    The envelope plan executes ONCE, on the ordered write itself (two
    Spark jobs under AQE); the per-shard offset stats are then folded on
    the driver from the part files just written (_fold_shard_stats), so
    no Spark job reads the output back.  The fold doubles as the
    emptiness probe: a batch that wrote no rows leaves no output
    directory.  (Running isEmpty / write / stats as three separate
    actions re-executed the whole upstream plan — in the correlating sink
    that re-ran the correlation aggregation — three times per
    micro-batch; caching the envelope instead was measured WORSE: the
    before+after full images make the cache ~2× the payload, and
    materializing it cost more than the second pass it saved.)

    With cfg.audio_validation / normalize / dedup_index on, the verdict
    and resample columns are stamped into the plan BEFORE a persist and
    the derived outputs (quarantine, emit, index) all read the cache —
    those paths genuinely reuse the decoded verdict several times, which
    is what persist is for."""
    n_quar = 0
    n_dups = 0
    gate = _audio_gate_exprs(env_df, cfg)
    if gate is not None:
        env_df = gate["df"]
    norm = _normalize_exprs(env_df, cfg)
    if norm is not None:
        env_df = norm["df"]
    out = batch_output_path(cfg, batch_id)

    def ordered_write(df: DataFrame) -> tuple[int, list[dict]]:
        # stream_clustered: the correlating sink already shuffled on
        # cdc$stream_id (correlate_batch cluster_by_stream), so the
        # envelopes are shard-clustered as-is and repartitioning again
        # would move the payload through a second exchange for nothing
        if not stream_clustered:
            df = df.repartition(F.col("`cdc$stream_id`"))
        (
            df.sortWithinPartitions("`cdc$time_us`", "`cdc$batch_seq_no`")
            .write.mode("overwrite")
            .option("compression", cfg.output_compression)
            .option("parquet.block.size", str(cfg.output_row_group_bytes))
            .parquet(out)
        )
        n, shards = _fold_shard_stats(out, table)
        if not n:
            shutil.rmtree(out, ignore_errors=True)  # empty batch: no output dir
        return n, shards

    if gate is None and norm is None and not cfg.dedup_index:
        # fast path (no payload post-processing): one plan execution
        return ordered_write(env_df) + (n_quar, n_dups)

    persisted = env_df
    persisted.persist()
    try:
        if gate is not None:
            bad = persisted.filter(~gate["pass"])
            n_quar = bad.count()
            if n_quar:
                (
                    bad.withColumn("quarantine_reason", gate["reason"])
                    .drop("__audio_norm")
                    .write.mode("overwrite")
                    .option("compression", cfg.output_compression)
                    .option(
                        "parquet.block.size", str(cfg.output_row_group_bytes)
                    )
                    .parquet(quarantine_path(cfg, batch_id))
                )
            env_df = persisted.filter(gate["pass"]).drop("__audio_verdict")
        if norm is not None:
            env_df = norm["apply"](env_df)
        n, shards = ordered_write(env_df)
        if n and cfg.dedup_index:
            from scylla_cdc_source_connector_spark.streaming.dedup_index import (
                maintain_dedup_index,
            )

            # gated rows only: quarantined payloads never enter the index
            n_dups = maintain_dedup_index(env_df, batch_id, cfg)
    finally:
        persisted.unpersist()
    return n, shards, n_quar, n_dups


def _fold_shard_stats(out: str, table: TableModel) -> tuple[int, list[dict]]:
    """(records, lineage `shards` entries) of the part files under `out`,
    folded on the driver with pyarrow — no Spark job.

    Only the slim columns are read (cdc$stream_id, generation, pk,
    cdc$time_us, cdc$batch_seq_no, value.op; never the payload), at most
    _FOLD_ROWS rows at a time: each chunk is grouped by (shard,
    generation) with one vectorized group_by, and the partials merge into
    one dict per shard.  Driver memory is therefore one chunk of slim
    columns plus one record per shard, whatever the batch size.

    `last_change_clip_id` is the pk of the shard's row with the greatest
    (cdc$time_us, cdc$batch_seq_no), rendered like Spark's
    concat_ws('|', cast(pk AS string)) (single-pk tables record the raw
    id; lineage is a JSON progress record, not a resume key — offsets live
    in the checkpoint).  _write_batch sorts each part file on exactly that
    order, so a chunk's last row of a shard is its greatest, and the
    partials merge by comparing (cdc$time_us, cdc$batch_seq_no).  The
    per-op tallies land in lineage so the Debezium streaming-metrics
    analog (metrics.connector_metrics: TotalNumberOfCreate/Update/Delete
    EventsSeen) is a driver-only fold, no rescan."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    keys = ["cdc$stream_id", "generation"]
    pk = table.pk_columns
    ops = {"n_creates": "c", "n_updates": "u", "n_deletes": "d"}
    last = pc.ScalarAggregateOptions(skip_nulls=False)
    cols = [*keys, *pk, "cdc$time_us", "cdc$batch_seq_no", "value.op"]
    merged: dict[tuple, dict] = {}  # (shard, generation) -> lineage record
    latest: dict[tuple, tuple] = {}  # -> (cdc$time_us, cdc$batch_seq_no)
    for f in sorted(f for f in os.listdir(out) if f.startswith("part-")):
        pf = pq.ParquetFile(os.path.join(out, f))
        for chunk in pf.iter_batches(batch_size=_FOLD_ROWS, columns=cols):
            op = pc.struct_field(chunk.column("value"), "op")
            # the aggregated columns are "__"-named: no clash with a pk column
            t = pa.table(
                {
                    **{c: chunk.column(c) for c in (*keys, *pk)},
                    "__t": chunk.column("cdc$time_us"),
                    "__s": chunk.column("cdc$batch_seq_no"),
                    **{
                        f"__{n}": pc.fill_null(pc.equal(op, v), False).cast(pa.int64())
                        for n, v in ops.items()
                    },
                }
            )
            partials = t.group_by(keys, use_threads=False).aggregate(
                [
                    ("__t", "min"),
                    ("__t", "max"),
                    ("__t", "count"),
                    *[(f"__{n}", "sum") for n in ops],
                    *[(c, "last", last) for c in ("__t", "__s", *pk)],
                ]
            )
            for r in partials.to_pylist():
                key = (r["cdc$stream_id"], r["generation"])
                m = merged.setdefault(
                    key,
                    {
                        "shard_id": key[0],
                        "generation": key[1],
                        "window_start_us": r["__t_min"],
                        "window_end_us": r["__t_max"],
                        "last_change_clip_id": None,
                        "n_records": 0,
                        **{n: 0 for n in ops},
                    },
                )
                m["window_start_us"] = min(m["window_start_us"], r["__t_min"])
                m["window_end_us"] = max(m["window_end_us"], r["__t_max"])
                m["n_records"] += r["__t_count"]
                for n in ops:
                    m[n] += r[f"__{n}_sum"]
                at = (r["__t_last"], r["__s_last"])
                if at >= latest.get(key, at):
                    latest[key] = at
                    m["last_change_clip_id"] = "|".join(
                        _cast_to_string(r[f"{c}_last"])
                        for c in pk
                        if r[f"{c}_last"] is not None
                    )
    shards = [merged[key] for key in sorted(merged)]
    return sum(s["n_records"] for s in shards), shards


def _cast_to_string(v) -> str:
    """Spark's cast(v AS string) for a pk value (string, integral,
    boolean, date; other types render as Python's str)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return str(v)


def _audio_gate_exprs(env_df: DataFrame, cfg: EngineConfig):
    """Audio-validation gate pieces for _write_batch, or None when the
    gate is off or the envelope carries no post-image payload columns
    (metadata-only configs, adopted schemas without bytes/codec).

    Returns {"df": env+verdict column, "pass": Column, "reason": Column}.
    The verdict is ONE Arrow-vectorized pandas UDF over the post-image
    (audio.make_audio_verdict_udf) — grouped-LUT decode + segmented
    roundtrip-SNR, zero per-row numpy."""
    if not cfg.audio_validation:
        return None
    try:
        after = next(
            f for f in env_df.schema["value"].dataType.fields
            if f.name == "after"
        )
        names = {f.name for f in after.dataType.fields}
    except (KeyError, AttributeError, StopIteration):
        return None
    if not {"bytes", "codec"} <= names:
        return None

    from scylla_cdc_source_connector_spark import audio

    verdict = audio.make_audio_verdict_udf()
    df = env_df.withColumn(
        "__audio_verdict",
        verdict(F.col("value.after.bytes"), F.col("value.after.codec")),
    )
    v = F.col("__audio_verdict")
    # NaN guard: snr is NaN only for rows without a payload, which pass
    # via the isNull arm; failed decodes are caught by decode_ok
    ok = v["decode_ok"] & (
        F.col("value.after.bytes").isNull()
        | (v["roundtrip_snr_db"] >= F.lit(cfg.audio_min_snr_db))
    )
    reason = F.when(~v["decode_ok"], F.lit("decode_failed")).otherwise(
        F.lit(f"snr_below_{cfg.audio_min_snr_db:g}db")
    )
    return {"df": df, "pass": ok, "reason": reason}


def _normalize_exprs(env_df: DataFrame, cfg: EngineConfig):
    """Normalize-on-ingest pieces for _write_batch, or None when off or
    the envelope carries no (bytes, codec, sr_hz) post-image columns.

    Returns {"df": env + __audio_norm column, "apply": fn} — the column
    is stamped BEFORE the persist (one plan execution, like the verdict
    gate); "apply" rewrites value.after in place via withField for rows
    the kernel decoded, so emitted envelopes carry mono pcm_s16le at
    cfg.audio_normalize_sr while undecodable rows keep their original
    cells.  Quarantine output drops the column and dead-letters the
    ORIGINAL payload."""
    if not cfg.audio_normalize_sr:
        return None
    try:
        after = next(
            f for f in env_df.schema["value"].dataType.fields
            if f.name == "after"
        )
        names = {f.name for f in after.dataType.fields}
    except (KeyError, AttributeError, StopIteration):
        return None
    if not {"bytes", "codec", "sr_hz"} <= names:
        return None

    from scylla_cdc_source_connector_spark.audio_resample import (
        make_resample_udf,
    )

    rs = make_resample_udf(target_sr=cfg.audio_normalize_sr)
    df = env_df.withColumn(
        "__audio_norm",
        rs(
            F.col("value.after.bytes"),
            F.col("value.after.codec"),
            F.col("value.after.sr_hz"),
        ),
    )

    def apply(d: DataFrame) -> DataFrame:
        nm = F.col("__audio_norm")
        use = nm["ok"] & F.col("value.after.bytes").isNotNull()
        val = F.col("value")
        for fld in ("bytes", "codec", "sr_hz"):
            val = val.withField(
                f"after.{fld}",
                F.when(use, nm[fld]).otherwise(F.col(f"value.after.{fld}")),
            )
        return d.withColumn("value", val).drop("__audio_norm")

    return {"df": df, "apply": apply}


def expire_emitted(
    cfg: EngineConfig,
    *,
    keep_last: int,
    expire_quarantine: bool = False,
    keep_min_applied: bool = False,
) -> list[int]:
    """Emit-log retention — the Kafka broker's log-retention analog for
    the parquet record stream.  Deletes the OUTPUT payload dirs (and
    their `_records` wire-record siblings; `_quarantine` only when asked)
    of all committed batches except the newest `keep_last`, returning the
    expired batch ids.

    Lineage JSONs are never deleted: they are the offset/progress history
    (tiny), the resume path reads only the newest record, and
    `read_emitted`/`read_kafka_records` already skip ids whose dirs are
    gone — so expiry is invisible to every reader except that old rows
    stop being served, exactly like segment deletion on a Kafka topic.
    The newest batch is always kept (its pending-state dir may still be
    the next batch's carry-over input).  The correlating sink recognises
    a replayed row by the envelopes committed batches emitted inside the
    confidence window, so replays of an expired batch's groups are no
    longer recognised: keep the window's batches if replays can arrive.

    Like Kafka retention vs consumer lag, expiry by default does NOT
    wait for downstream consumers (apply/corpus/records `_applied`
    markers) — those consumers detect the loss (increment.
    unapplied_batches warns and records {"expired": true}).  Pass
    keep_min_applied=True to refuse to expire any batch a REGISTERED
    consumer (every consumer registers itself through
    increment.unapplied_batches) hasn't applied yet: the retention-honours-
    consumer-lag mode, guaranteeing no consumer ever loses a data-bearing
    batch."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the newest batch stays)")
    bids = committed_batch_ids(cfg)
    expired = []
    from scylla_cdc_source_connector_spark.operators.kafka_records import (
        records_path,
    )

    applied_by_all = (
        increment.applied_by_all(cfg, bids) if keep_min_applied else None
    )
    for bid in bids[:-keep_last] if len(bids) > keep_last else []:
        if applied_by_all is not None and bid not in applied_by_all:
            continue  # a lagging registered consumer still needs it
        doomed = [batch_output_path(cfg, bid), records_path(cfg, bid)]
        if expire_quarantine:
            doomed.append(quarantine_path(cfg, bid))
        for d in doomed:
            if os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)
        expired.append(bid)
    return expired


#: Writer properties for the production Iceberg emit path — the exact set
#: iceberg_emit applies (documented here because the sandbox carries no
#: Iceberg runtime jar; see engine.iceberg_available).
ICEBERG_SINK_OPTIONS = {
    # idempotent replay: stage the batch under a write-audit-publish id
    # derived from the micro-batch id; a replayed foreachBatch invocation
    # stages the SAME wap.id and the publish is a no-op (the Iceberg
    # analog of this sink's `batch_id` output dirs + lineage commit)
    "write.wap.id": None,  # filled with f"sccs-batch-{batch_id}"
    # cluster files per shard inside the commit, the parquet
    # repartition/sortWithinPartitions analog
    "write.distribution-mode": "hash",
    "sort-order": "cdc$stream_id, cdc$time_us, cdc$batch_seq_no",
}


def iceberg_emit(env_df: DataFrame, batch_id: int, cfg: EngineConfig, table: str):
    """Production emit seam: ONE atomic Iceberg append per micro-batch.

    Mapping from this sink's exactly-once mechanics to Iceberg:

    * `batch_output_path(batch_id)` dir    → one staged snapshot with
      `wap.id = sccs-batch-{batch_id}` (replay stages the same id; the
      publish step is idempotent, so a crash between write and publish
      re-runs harmlessly — same contract as the overwrite dirs here);
    * `_commit_lineage` JSON               → snapshot summary properties
      (the per-shard window stats ride `snapshot.summary.*` so consumers
      read progress from table metadata, not a side file);
    * `read_emitted` (committed ids only)  → plain reads of the table:
      Iceberg snapshots ARE the committed set, unpublished WAP snapshots
      are invisible.

    This container has no Iceberg runtime, so the seam raises the same
    documented blocker as the source seam rather than a classpath trace.
    """
    from scylla_cdc_source_connector_spark.streaming.engine import (
        iceberg_available,
    )

    if not iceberg_available(env_df.sparkSession):
        raise NotImplementedError(
            "Iceberg runtime not on the classpath in this container; "
            "production: add iceberg-spark-runtime and a catalog, then "
            "this seam writes env_df.writeTo(table).append() under "
            f"ICEBERG_SINK_OPTIONS with wap.id=sccs-batch-{batch_id}"
        )
    spark = env_df.sparkSession
    spark.conf.set("spark.wap.id", f"sccs-batch-{batch_id}")
    (
        env_df.repartition(F.col("`cdc$stream_id`"))
        .sortWithinPartitions("`cdc$time_us`", "`cdc$batch_seq_no`")
        .writeTo(table)
        .append()
    )
