"""Structured Streaming engine tests: batch/stream parity, exactly-once
resume after a simulated crash, generation rollover gate, late-data drop.

Ports of the reference's offset-resume behavior
(ScyllaConnectorTask.getPreviousOffsets:153-213), generation gate
(ScyllaMasterTransport.areTasksFullyConsumedUntil:50-70), and confidence
window (ScyllaConnectorConfig.java:171-184)."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
from scylla_cdc_source_connector_spark.fixtures import FixtureSpec, make_changelog
from scylla_cdc_source_connector_spark.plans.pipeline import cdc_envelopes
from scylla_cdc_source_connector_spark.streaming import sink as sink_mod
from scylla_cdc_source_connector_spark.streaming.engine import (
    generation_cfg,
    run_generations,
    run_stream,
)
from scylla_cdc_source_connector_spark.schemas import NON_PK_COLUMNS

BASE_US = 1_704_067_200_000_000


def _write_chunks(pdf: pd.DataFrame, d: str, n_chunks: int):
    """Write the changelog as n_chunks arrival-ordered parquet files."""
    os.makedirs(d, exist_ok=True)
    size = (len(pdf) + n_chunks - 1) // n_chunks
    paths = []
    for i in range(n_chunks):
        chunk = pdf.iloc[i * size : (i + 1) * size]
        p = os.path.join(d, f"chunk-{i:03d}.parquet")
        _write_one(chunk, p)
        paths.append(p)
    return paths


def _write_one(pdf: pd.DataFrame, path: str):
    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk

    write_changelog_chunk(pdf, path)


def _cfg(tmp, name, **kw) -> EngineConfig:
    return EngineConfig(
        include_before=IncludeMode.FULL,
        include_after=IncludeMode.FULL,
        checkpoint_dir=f"{tmp}/{name}/ckpt",
        output_dir=f"{tmp}/{name}/out",
        lineage_dir=f"{tmp}/{name}/lineage",
        **kw,
    )


def _emit_keys(df):
    return {
        (r["clip_id"], r["cdc$time_us"], r["value"]["op"])
        for r in df.select("clip_id", "`cdc$time_us`", "value.op").withColumnRenamed(
            "op", "value_op"
        ).collect()
        for r in [r]
    }


@pytest.fixture(scope="module")
def stream_spec():
    return FixtureSpec(n_events=1_200, n_clips=150, n_shards=8, n_generations=2)


@pytest.fixture(scope="module")
def stream_pdf(stream_spec):
    return make_changelog(stream_spec)


@pytest.mark.parametrize("mode", ["vectorized"])
def test_stream_matches_batch(spark, tmp_root, stream_pdf, mode):
    """Row-for-row parity: streaming (chunked arrivals, cross-batch
    correlation in the correlating sink) equals the single-shot batch
    plan."""
    d = f"{tmp_root}/stream_in"
    _write_chunks(stream_pdf, d, n_chunks=5)
    cfg = _cfg(tmp_root, f"parity_{mode}")

    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)
    assert not q.isActive

    got = sink_mod.read_emitted(spark, cfg)
    batch_ref = cdc_envelopes(
        spark.read.parquet(d), cfg, processing_ts_ms=F.lit(0)
    )

    got_keys = {
        (r["clip_id"], r["cdc$time_us"], r["op"])
        for r in got.select("clip_id", "`cdc$time_us`", F.col("value.op").alias("op")).collect()
    }
    ref_keys = {
        (r["clip_id"], r["cdc$time_us"], r["op"])
        for r in batch_ref.select("clip_id", "`cdc$time_us`", F.col("value.op").alias("op")).collect()
    }
    assert got_keys == ref_keys
    # no duplicates in the emitted stream
    assert got.count() == len(got_keys)
    # spot-check full envelope equality on updates (before/after content)
    g = {
        (r["clip_id"], r["cdc$time_us"]): (r["b"], r["a"])
        for r in got.where("value.op='u'")
        .select("clip_id", "`cdc$time_us`",
                F.col("value.before.transcript").alias("b"),
                F.col("value.after.transcript").alias("a"))
        .collect()
    }
    w = {
        (r["clip_id"], r["cdc$time_us"]): (r["b"], r["a"])
        for r in batch_ref.where("value.op='u'")
        .select("clip_id", "`cdc$time_us`",
                F.col("value.before.transcript").alias("b"),
                F.col("value.after.transcript").alias("a"))
        .collect()
    }
    assert g == w


def test_exactly_once_after_crash(spark, tmp_root, stream_pdf):
    """Kill/restart: delete the last batch's lineage commit AND checkpoint
    commit marker (crash between output write and commit) → replay is
    idempotent; then feed more data and finish.  No loss, no dupes —
    strictly better than the reference's at-least-once (pom.xml:135-137)."""
    d = f"{tmp_root}/eo_in"
    half = len(stream_pdf) // 2
    _write_chunks(stream_pdf.iloc[:half], d, n_chunks=2)
    cfg = _cfg(tmp_root, "eo")

    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)

    bids = sink_mod.committed_batch_ids(cfg)
    assert len(bids) >= 2
    last = bids[-1]
    # simulate crash after parquet write, before lineage+checkpoint commit
    os.remove(sink_mod.lineage_path(cfg, last))
    for p in (
        os.path.join(cfg.checkpoint_dir, "commits", str(last)),
        os.path.join(cfg.checkpoint_dir, "commits", f".{last}.crc"),
    ):
        if os.path.exists(p):
            os.remove(p)

    # restart: replays batch `last` idempotently, then drains the rest
    chunk2 = stream_pdf.iloc[half:]
    _write_one(chunk2, os.path.join(d, "chunk-late.parquet"))
    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)

    got = sink_mod.read_emitted(spark, cfg)
    ref = cdc_envelopes(spark.read.parquet(d), cfg, processing_ts_ms=F.lit(0))
    assert got.count() == ref.count()
    got_keys = [
        (r["clip_id"], r["cdc$time_us"])
        for r in got.select("clip_id", "`cdc$time_us`").collect()
    ]
    assert len(got_keys) == len(set(got_keys)), "duplicate emissions"


def test_generation_rollover_gate(spark, tmp_root, stream_pdf):
    """Gen N+1 records commit only after gen N fully drained
    (areTasksFullyConsumedUntil analog)."""
    d = f"{tmp_root}/gen_in"
    _write_chunks(stream_pdf, d, n_chunks=3)
    cfg = _cfg(tmp_root, "gens")

    emitted = run_generations(spark, cfg, d, [0, 1], timeout_s=300)
    assert all(n > 0 for n in emitted)

    lin0 = sink_mod.read_lineage(generation_cfg(cfg, 0))
    lin1 = sink_mod.read_lineage(generation_cfg(cfg, 1))
    assert max(r["committed_at_ms"] for r in lin0) <= min(
        r["committed_at_ms"] for r in lin1
    )
    # emitted totals = batch reference per generation
    full = spark.read.parquet(d)
    for gen, n in enumerate(emitted):
        ref_n = cdc_envelopes(
            full.where(F.col("generation") == gen), cfg, processing_ts_ms=F.lit(0)
        ).count()
        assert n == ref_n, (gen, n, ref_n)


def test_initial_lookback_fresh_start_only(spark, tmp_root, stream_pdf):
    """S3 (ScyllaConnectorTask.java:197-210): with initial_lookback_ms set
    and no prior checkpoint, rows older than now - lookback are skipped;
    recent rows still emit.  Fixture event times are in 2024, so a 1-hour
    lookback from wall-clock now excludes ALL fixture rows, while a huge
    lookback includes them all."""
    import dataclasses

    d = f"{tmp_root}/lookback_in"
    _write_chunks(stream_pdf.iloc[:400], d, n_chunks=1)

    cfg = dataclasses.replace(
        _cfg(tmp_root, "lookback_all"), initial_lookback_ms=10**12
    )
    q = run_stream(spark, cfg, d, available_now=True)
    q.awaitTermination(300)
    assert sink_mod.read_emitted(spark, cfg).count() > 0

    cfg2 = dataclasses.replace(
        _cfg(tmp_root, "lookback_none"), initial_lookback_ms=3_600_000
    )
    q = run_stream(spark, cfg2, d, available_now=True)
    q.awaitTermination(300)
    assert sink_mod.read_emitted(spark, cfg2).count() == 0


def test_metrics_surface(spark, tmp_root, stream_pdf):
    """Lineage-folded shard progress, emit-lag percentiles, heartbeat
    detection, query-progress summary (K4 + README.md:188-194 lag)."""
    from scylla_cdc_source_connector_spark.streaming import metrics

    d = f"{tmp_root}/metrics_in"
    _write_chunks(stream_pdf, d, n_chunks=3)
    cfg = _cfg(tmp_root, "metrics")
    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)

    prog = metrics.shard_progress(cfg)
    assert prog, "no shard progress"
    emitted = sink_mod.read_emitted(spark, cfg)
    assert sum(s["n_records"] for s in prog.values()) == emitted.count()
    for s in prog.values():
        assert s["window_end_us"] >= s["window_start_us"]
        assert s["last_change_clip_id"] is not None

    lag = metrics.emitted_lag_report(spark, cfg)
    # processing ts (now) - synthetic 2024 event times: positive, monotone
    assert lag["p50_ms"] > 0
    assert lag["p50_ms"] <= lag["p95_ms"] <= lag["p99_ms"]

    assert metrics.heartbeat_batches(cfg) == [
        r["batch_id"] for r in sink_mod.read_lineage(cfg) if r["n_records"] == 0
    ]

    # cfg-normalized: a pending-writing batch scans its source twice, and
    # the lineage n_source_scans record divides that back out
    summary = metrics.streaming_query_summary(q, cfg)
    assert summary["n_batches"] >= 3
    assert summary["input_rows"] == len(stream_pdf)
    assert summary["batch_ms_p50"] <= summary["batch_ms_max"]

    # Debezium MBean analog: per-op tallies from lineage must equal a
    # groupBy over the emitted envelopes; lag scalars sane and consistent
    mb = metrics.connector_metrics(cfg)
    by_op = {r["op"]: r["n"] for r in (
        emitted.groupBy(F.col("value.op").alias("op"))
        .agg(F.count("*").alias("n")).collect()
    )}
    assert mb["Connected"] and mb["NumberOfCommittedBatches"] == len(
        sink_mod.read_lineage(cfg)
    )
    assert mb["TotalNumberOfEventsSeen"] == emitted.count()
    assert mb["NumberOfEventsFiltered"] == 0
    assert mb["TotalNumberOfCreateEventsSeen"] == by_op.get("c", 0)
    assert mb["TotalNumberOfUpdateEventsSeen"] == by_op.get("u", 0)
    assert mb["TotalNumberOfDeleteEventsSeen"] == by_op.get("d", 0)
    assert mb["MilliSecondsSinceLastEvent"] >= 0
    # synthetic 2024 event times: the sink committed well after the source
    assert mb["MilliSecondsBehindSource"] > 0
    assert set(mb["SourceEventPosition"]) == set(prog)
    assert mb["LastEvent"] == max(
        prog.values(), key=lambda s: s["window_end_us"]
    )["last_change_clip_id"]


@pytest.mark.parametrize("mode", ["vectorized"])
def test_late_data_beyond_watermark_dropped(spark, tmp_root, mode):
    """Confidence-window semantics: a delta arriving with event time older
    than watermark (30 s) is dropped; one within the window is emitted.
    A replay (the same log row again, in a later micro-batch) of a group
    already emitted is emitted once: an UPDATE delta and a
    PARTITION_DELETE, each complete alone under include modes none."""
    cfg = _cfg(tmp_root, f"late_{mode}")
    d = f"{tmp_root}/late_in"
    os.makedirs(d, exist_ok=True)

    def row(clip, t_s, op=2, seq=0):
        t_us = BASE_US + t_s * 1_000_000
        r = {
            "cdc$stream_id": "s0001",
            "cdc$time": dt.datetime(2024, 1, 1) + dt.timedelta(seconds=t_s),
            "cdc$time_us": t_us,
            "cdc$operation": op,
            "cdc$batch_seq_no": seq,
            "generation": 0,
            "clip_id": clip,
            "bytes": None,
            "sr_hz": 8000,
            "dur_ms": 100,
            "codec": "pcm_s16le",
            "transcript": f"{clip}@{t_s}",
        }
        for c in NON_PK_COLUMNS:
            r[f"cdc$deleted_{c}"] = False
        return r

    cfg = _cfg(tmp_root, f"late_{mode}")
    import dataclasses
    cfg = dataclasses.replace(cfg, include_before=IncludeMode.NONE, include_after=IncludeMode.NONE)

    # batch 1 advances watermark to 100-30 = 70 s
    _write_one(
        pd.DataFrame([row("w", 0), row("x", 100, op=1), row("p", 90, op=5)]),
        f"{d}/f0.parquet",
    )
    # batch 2: t=50 (< wm 70: DROP), t=95 (>= wm: keep), and replays of
    # x's UPDATE and p's PARTITION_DELETE (inside the window)
    _write_one(
        pd.DataFrame(
            [
                row("too_late", 50),
                row("ok_late", 95),
                row("x", 100, op=1),
                row("p", 90, op=5),
            ]
        ),
        f"{d}/f1.parquet",
    )

    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)

    got = sink_mod.read_emitted(spark, cfg)
    clips = [r["clip_id"] for r in got.select("clip_id").collect()]
    assert "ok_late" in clips
    assert "too_late" not in clips
    assert {"w", "x", "p"} <= set(clips)
    assert clips.count("x") == 1 and clips.count("p") == 1


def test_heartbeat_records_on_empty_window(spark, tmp_root, stream_pdf):
    """K4: an empty micro-batch (every row dropped by the confidence
    window) must still emit heartbeat RECORDS to the heartbeat output,
    carrying the last committed per-shard offsets — the downstream
    progress signal of ScyllaWorkerTransport.dispatchHeartbeatEvent
    (:58-79).  The lineage commit alone is invisible to consumers of the
    output topic."""
    d = f"{tmp_root}/hb_in"
    os.makedirs(d, exist_ok=True)
    fresh = stream_pdf.iloc[: len(stream_pdf) // 2]
    _write_one(fresh, os.path.join(d, "chunk-000.parquet"))
    # second arrival: rows far OLDER than the watermark the first batch
    # establishes -> all dropped, empty batch
    stale = stream_pdf.iloc[len(stream_pdf) // 2 :].copy()
    stale["cdc$time_us"] = stale["cdc$time_us"] - 10**12
    stale["cdc$time"] = stale["cdc$time"] - pd.Timedelta(days=11)
    _write_one(stale, os.path.join(d, "chunk-001.parquet"))

    cfg = _cfg(tmp_root, "hb", heartbeat_interval_ms=1)
    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)

    recs = sink_mod.read_lineage(cfg)
    empties = [r for r in recs if r["n_records"] == 0]
    assert empties, "expected an empty micro-batch"
    hb = sink_mod.read_heartbeats(spark, cfg)
    empty_bid = empties[0]["batch_id"]
    rows = hb.where(F.col("batch_id") == empty_bid).collect()
    assert rows, "empty batch emitted no heartbeat records"
    # offsets carried forward: shard high-water marks of prior commits
    hwm = {}
    for rec in recs:
        for s in rec["shards"]:
            hwm[s["shard_id"]] = max(
                hwm.get(s["shard_id"], 0), s["window_end_us"]
            )
    for r in rows:
        assert r["topic"] == f"__heartbeat.{cfg.connector_name}"
        assert r["n_records"] == 0
        assert r["window_end_us"] == hwm[r["shard_id"]]
    assert {r["shard_id"] for r in rows} == set(hwm)


def test_record_throttle_defers_to_pending(spark, tmp_root, stream_pdf):
    """S4/K1 record-level admission: with a per-shard per-trigger budget,
    each batch emits at most budget x n_shards records, the overflow
    diverts to the replay-safe pending table, and a follow-up trigger
    drains it with no loss and no duplicates."""
    d = f"{tmp_root}/thr_in"
    # cut on GROUP boundaries: a truncated correlation group would wait in
    # pending forever (its partner rows are never fed), which is correct
    # engine behavior but not what this test measures
    grp = stream_pdf.groupby(["clip_id", "cdc$time_us"], sort=False).ngroup()
    pdf = stream_pdf[grp <= grp.iloc[399]]
    _write_chunks(pdf, d, n_chunks=2)
    budget = 20
    n_shards = pdf["cdc$stream_id"].nunique()
    cfg = _cfg(
        tmp_root, "thr", max_records_per_trigger_per_shard=budget
    )

    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)

    recs = sink_mod.read_lineage(cfg)
    assert recs
    for rec in recs:
        # emitted records come only from admitted rows; a correlation
        # group is >= 2 changelog rows, so the record bound is loose but
        # the admission bound on INPUT rows is exact: emitted groups can
        # never exceed admitted rows
        assert rec["n_records"] <= budget * n_shards
    assert any(r.get("has_pending") for r in recs), "nothing was deferred"

    # drain: extra availableNow passes re-trigger on a tiny tail file each
    # time until the pending backlog is fully consumed
    for i in range(12):
        last = sink_mod.read_lineage(cfg)[-1]
        if not last.get("has_pending"):
            break
        _write_one(pdf.iloc[:0], os.path.join(d, f"tail-{i:03d}.parquet"))
        q = run_stream(spark, cfg, d, available_now=True)
        q.awaitTermination(300)
    assert not sink_mod.read_lineage(cfg)[-1].get("has_pending")

    got = sink_mod.read_emitted(spark, cfg)
    ref = cdc_envelopes(spark.read.parquet(d), cfg, processing_ts_ms=F.lit(0))
    assert got.count() == ref.count()
    keys = [
        (r["clip_id"], r["cdc$time_us"])
        for r in got.select("clip_id", "`cdc$time_us`").collect()
    ]
    assert len(keys) == len(set(keys)), "duplicate emissions"


def test_group_split_between_images_and_delta(spark, tmp_root, stream_spec):
    """Regression: a micro-batch boundary landing BETWEEN a group's
    preimages and its delta (Scylla batch order is [pre..., delta...,
    post...]) must not lose the preimages — the image-only group parks in
    pending until the delta arrives.  Previously correlate_batch's
    delta-required filter silently dropped such groups."""
    pdf = make_changelog(stream_spec)
    # find a group whose first row is a PRE_IMAGE and split exactly there
    grouped = pdf.sort_values(["cdc$time_us", "cdc$batch_seq_no"], kind="stable")
    target = None
    for (_, _), g in grouped.groupby(["clip_id", "cdc$time_us"], sort=True):
        ops = list(g["cdc$operation"])
        # pre first, an UPDATE delta follows (before is null by design
        # for inserts, which would make the assertion vacuous)
        if ops[0] == 0 and 1 in ops and len(ops) >= 3:
            target = g
            break
    assert target is not None, "fixture lacks a pre-led multi-row group"
    idx = list(target.index)
    n_img = sum(1 for o in target["cdc$operation"] if o == 0)
    chunk1 = pdf.loc[idx[:n_img]]  # ONLY the preimages
    chunk2 = pdf.loc[idx[n_img:]]  # delta + post

    d = f"{tmp_root}/split_in"
    os.makedirs(d, exist_ok=True)
    _write_one(chunk1, os.path.join(d, "chunk-000.parquet"))
    _write_one(chunk2, os.path.join(d, "chunk-001.parquet"))
    cfg = _cfg(tmp_root, "split")
    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)

    got = sink_mod.read_emitted(spark, cfg)
    rows = got.collect()
    assert len(rows) == 1
    v = rows[0]["value"]
    # the BEFORE image survived the boundary
    assert v["before"] is not None
    # batch reference over the unified input gives identical before/after
    bref = cdc_envelopes(
        spark.read.parquet(d), cfg, processing_ts_ms=F.lit(0)
    ).collect()
    assert len(bref) == 1
    assert v["before"] == bref[0]["value"]["before"]
    assert v["after"] == bref[0]["value"]["after"]


def test_iceberg_source_seam(spark):
    """The production Iceberg read path: this container has no Iceberg
    runtime, so the seam must fail with the documented blocker (NOT a
    confusing classpath stack trace), and the documented option set must
    stay in sync with the code."""
    from scylla_cdc_source_connector_spark.streaming import engine as eng

    assert not eng.iceberg_available(spark)
    with pytest.raises(NotImplementedError, match="Iceberg runtime"):
        eng.read_changelog_stream(
            spark, "catalog.db.changelog", source_format="iceberg"
        )
    assert set(eng.ICEBERG_STREAM_OPTIONS) == {
        "streaming-skip-delete-snapshots",
        "streaming-skip-overwrite-snapshots",
        "streaming-max-files-per-micro-batch",
        "stream-from-timestamp",
    }


def test_dedup_within_watermark_drops_replays(spark, tmp_root, stream_pdf):
    """Exact replays of changelog rows (an at-least-once upstream writer)
    are emitted once: within a micro-batch the correlation collapses
    them, across micro-batches the sink's emitted-group markers drop
    them.  Emitted envelopes match the batch reference over the
    replay-free input."""
    d = f"{tmp_root}/dedup_wm_in"
    # replay ~20% of rows: once within the same chunk, once in the next
    pdf = stream_pdf.reset_index(drop=True)
    replayed = pdf.iloc[::5]
    n_chunks = 4
    size = (len(pdf) + n_chunks - 1) // n_chunks
    os.makedirs(d, exist_ok=True)
    for i in range(n_chunks):
        chunk = pdf.iloc[i * size : (i + 1) * size]
        dup_same = replayed[
            (replayed.index >= i * size) & (replayed.index < (i + 1) * size)
        ]
        prev = replayed[
            (replayed.index >= (i - 1) * size) & (replayed.index < i * size)
        ]
        _write_one(
            pd.concat([chunk, dup_same, prev], ignore_index=True),
            os.path.join(d, f"chunk-{i:03d}.parquet"),
        )

    # a watermark delay wider than the fixture's time span: no row is
    # late, so the ONLY row-shedding is the replay drop
    cfg = _cfg(tmp_root, "dedup_wm", confidence_window_ms=10**9)
    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)
    assert not q.isActive

    got = sink_mod.read_emitted(spark, cfg)
    ref_d = f"{tmp_root}/dedup_wm_ref"
    os.makedirs(ref_d, exist_ok=True)
    _write_one(pdf, os.path.join(ref_d, "all.parquet"))
    batch_ref = cdc_envelopes(
        spark.read.parquet(ref_d), cfg, processing_ts_ms=F.lit(0)
    )
    got_keys = {
        (r["clip_id"], r["cdc$time_us"], r["op"])
        for r in got.select(
            "clip_id", "`cdc$time_us`", F.col("value.op").alias("op")
        ).collect()
    }
    ref_keys = {
        (r["clip_id"], r["cdc$time_us"], r["op"])
        for r in batch_ref.select(
            "clip_id", "`cdc$time_us`", F.col("value.op").alias("op")
        ).collect()
    }
    assert got_keys == ref_keys
    assert got.count() == len(got_keys)  # replays emitted exactly once


def test_poison_batch_all_incomplete_stays_off_driver(spark, tmp_root):
    """~10⁵ all-incomplete groups in ONE availableNow batch (every group a
    lone pre-image, no delta) — the worst case for incomplete-group
    bookkeeping.  The sink must carry ALL of them to the pending table via
    the distributed metadata-only status plan + semi-join, with the driver
    seeing only scalars (the former per-group Observation collect_list
    shipped one key struct per group to the driver; plan_audit.py pins the
    structural invariant, this pins the behavior + a memory tripwire)."""
    import resource

    n_groups = 100_000
    base = pd.DataFrame(
        {
            "cdc$stream_id": [f"s{i % 16:04d}" for i in range(n_groups)],
            "cdc$time": pd.to_datetime(BASE_US + np.arange(n_groups), unit="us"),
            "cdc$time_us": BASE_US + np.arange(n_groups),
            "cdc$operation": np.zeros(n_groups, dtype=np.int32),  # PRE_IMAGE
            "cdc$batch_seq_no": np.zeros(n_groups, dtype=np.int32),
            "generation": np.zeros(n_groups, dtype=np.int32),
            "clip_id": [f"poison-{i:06d}" for i in range(n_groups)],
            "bytes": [b"\x00\x01" * 8] * n_groups,
            "sr_hz": np.full(n_groups, 16_000, dtype=np.int32),
            "dur_ms": np.full(n_groups, 1, dtype=np.int32),
            "codec": ["pcm_s16le"] * n_groups,
            "transcript": ["x"] * n_groups,
        }
    )
    for c in NON_PK_COLUMNS:
        base[f"cdc$deleted_{c}"] = False
    d = f"{tmp_root}/poison_in"
    _write_chunks(base, d, n_chunks=1)
    cfg = _cfg(tmp_root, "poison")

    rss_before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    q = run_stream(spark, cfg, d, available_now=True)
    q.awaitTermination(600)
    rss_after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss

    assert sink_mod.read_emitted(spark, cfg).count() == 0
    lin = sink_mod.read_lineage(cfg)
    assert lin and lin[-1]["has_pending"]
    assert lin[-1]["n_records"] == 0
    assert lin[-1]["n_input_rows"] == n_groups
    pend = spark.read.parquet(
        sink_mod.pending_path(cfg, lin[-1]["batch_id"])
    )
    assert pend.count() == n_groups
    # Python-driver memory tripwire: scalar-only status means the batch
    # adds no per-group driver state (ru_maxrss is in KiB on Linux)
    assert (rss_after - rss_before) < 256 * 1024, (
        rss_before,
        rss_after,
    )


def test_streaming_windowed_agg_watermark_closes_and_drops_late(
    spark, tmp_root
):
    """The north_rule's windowed aggregates as a REAL append-mode
    Structured Streaming query (not the batch/oracle variant): tumbling
    counts over change events with a 30 s watermark — a window emits
    exactly once when the watermark passes its end, and a late event
    targeting an already-CLOSED window is dropped (a late event whose
    window is still open would be merged — that is the allowed-lateness
    the watermark grants, the confidence-window semantics S2)."""
    from scylla_cdc_source_connector_spark.operators.windows import (
        tumbling_agg,
    )
    from scylla_cdc_source_connector_spark.schemas import DEFAULT_TABLE

    def rows(ts_seconds: list[int]):
        n = len(ts_seconds)
        base = pd.DataFrame(
            {
                "cdc$stream_id": ["s0000"] * n,
                "cdc$time": pd.to_datetime(
                    [BASE_US + t * 1_000_000 for t in ts_seconds], unit="us"
                ),
                "cdc$time_us": [BASE_US + t * 1_000_000 for t in ts_seconds],
                "cdc$operation": np.full(n, 2, dtype=np.int32),  # INSERT
                "cdc$batch_seq_no": np.zeros(n, dtype=np.int32),
                "generation": np.zeros(n, dtype=np.int32),
                "clip_id": [f"w-{t}" for t in ts_seconds],
                "bytes": [b"\x00\x01" * 4] * n,
                "sr_hz": np.full(n, 16_000, dtype=np.int32),
                "dur_ms": np.full(n, 1, dtype=np.int32),
                "codec": ["pcm_s16le"] * n,
                "transcript": ["x"] * n,
            }
        )
        for c in NON_PK_COLUMNS:
            base[f"cdc$deleted_{c}"] = False
        return base

    d = f"{tmp_root}/wagg_in"
    os.makedirs(d, exist_ok=True)
    # trigger 1: windows [0,60) and [60,120) open; watermark -> 40 s
    # trigger 2: t=300 advances the watermark to 270; [0,60) and [60,120)
    #   emit (eviction uses the current watermark)
    # trigger 3: t=800 advances it further.  NOTE Spark's two-watermark
    #   rule (SPARK-40025): LATE-ROW FILTERING uses the PREVIOUS batch's
    #   watermark while eviction uses the current one — so a late row is
    #   only guaranteed dropped once its window end is below the
    #   previous-trigger watermark.
    # trigger 4: the late t=5 targets [0,60), whose end (60) is far below
    #   the previous-trigger filter watermark (270) → DROPPED; t=900
    #   closes [300,360) (and possibly [800,860) on the final flush)
    chunks = [[10, 70], [300], [800], [5, 900]]
    for i, ts in enumerate(chunks):
        p = f"{d}/chunk-{i:03d}.parquet"
        _write_one(rows(ts), p)
        # the file source orders pending files by modification time: pin
        # ascending mtimes so trigger order matches chunk order
        os.utime(p, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    stream = (
        spark.readStream.schema(DEFAULT_TABLE.changelog_schema())
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withWatermark("`cdc$time`", "30 seconds")
    )
    agg = tumbling_agg(
        stream, "cdc$time", "1 minute", [], [F.count("*").alias("n_events")]
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wagg_closed")
        .option(
            "checkpointLocation", f"{tmp_root}/wagg_ck"
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["window_start"].isoformat(), r["n_events"])
        for r in spark.table("wagg_closed").collect()
    }
    base_dt = dt.datetime(2024, 1, 1)  # BASE_US epoch
    # the watermark-closed windows, each emitted once; the late t=5 event
    # absent from the long-closed [0,60) (count stays 1).  availableNow's
    # final flush may also close t=800's window [780,840) once t=900
    # lifts the watermark to 870 — t=900's own window stays open.
    must = {
        ((base_dt + dt.timedelta(seconds=s)).isoformat(), 1)
        for s in (0, 60, 300)
    }
    optional = {((base_dt + dt.timedelta(seconds=780)).isoformat(), 1)}
    assert must <= got <= must | optional, got


def test_expire_emitted_retention(spark, tmp_root, stream_pdf):
    """Kafka-retention analog: expiring old batches removes their payload
    dirs but keeps lineage (offset history) and the newest batch; readers
    serve only the retained rows, resume state is untouched."""
    d = f"{tmp_root}/retention_in"
    _write_chunks(stream_pdf.iloc[:900], d, n_chunks=3)
    cfg = _cfg(tmp_root, "retention")
    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)
    bids = sink_mod.committed_batch_ids(cfg)
    assert len(bids) >= 3
    total = sink_mod.read_emitted(spark, cfg).count()

    expired = sink_mod.expire_emitted(cfg, keep_last=1)
    assert expired == bids[:-1]
    # lineage history intact; newest batch's payload intact
    assert sink_mod.committed_batch_ids(cfg) == bids
    assert os.path.isdir(sink_mod.batch_output_path(cfg, bids[-1]))
    retained = sink_mod.read_emitted(spark, cfg).count()
    assert 0 < retained < total

    # the stream resumes cleanly from the retained state
    _write_one(stream_pdf.iloc[900:1200], os.path.join(d, "chunk-late.parquet"))
    q = run_stream(spark, cfg, d, available_now=True)
    q.awaitTermination(300)
    assert sink_mod.read_emitted(spark, cfg).count() > retained

    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep_last"):
        sink_mod.expire_emitted(cfg, keep_last=0)


def test_retention_honours_lagging_consumer(spark, tmp_root, stream_pdf):
    """keep_min_applied=True refuses to expire batches a registered
    consumer hasn't applied (Kafka retention vs consumer lag,
    README.md:1363-1370); without the guard, the lagging consumer
    detects — never silently absorbs — the loss."""
    import warnings

    from scylla_cdc_source_connector_spark.operators.kafka_records import (
        maintain_kafka_records,
    )
    from scylla_cdc_source_connector_spark.streaming.increment import (
        applied_batch_ids,
        registered_consumers,
    )

    d = f"{tmp_root}/ret_lag_in"
    _write_chunks(stream_pdf.iloc[:900], d, n_chunks=3)
    cfg = _cfg(tmp_root, "ret_lag")
    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)
    bids = sink_mod.committed_batch_ids(cfg)
    assert len(bids) >= 3

    # consumer applies everything so far, then lags behind new batches
    assert maintain_kafka_records(spark, cfg) > 0
    assert "records" in registered_consumers(cfg)
    _write_one(stream_pdf.iloc[900:1050], os.path.join(d, "late-0.parquet"))
    _write_one(stream_pdf.iloc[1050:1200], os.path.join(d, "late-1.parquet"))
    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)
    new_bids = [
        b for b in sink_mod.committed_batch_ids(cfg) if b not in set(bids)
    ]
    assert len(new_bids) >= 2

    # guarded expiry never touches the unapplied new batches
    expired = sink_mod.expire_emitted(cfg, keep_last=1, keep_min_applied=True)
    assert not (set(expired) & set(new_bids))
    for b in new_bids[:-1]:
        assert os.path.isdir(sink_mod.batch_output_path(cfg, b))

    # unguarded expiry drops a data-bearing batch the consumer needs:
    # the consumer must WARN and record {"expired": true}, not silently
    # mark it an empty heartbeat
    sink_mod.expire_emitted(cfg, keep_last=1)
    lost = [
        b
        for b in new_bids[:-1]
        if sink_mod.read_lineage_one(cfg, b).get("n_records", 0) > 0
    ]
    assert lost, "fixture should have data-bearing expired batches"
    with pytest.warns(RuntimeWarning, match="expired before"):
        maintain_kafka_records(spark, cfg)
    target = os.path.join(cfg.output_dir, "_records")
    assert set(applied_batch_ids(target)) == set(sink_mod.committed_batch_ids(cfg))
    import json as _json

    marker = os.path.join(target, "_applied", f"batch-{lost[0]}.json")
    assert _json.load(open(marker))["expired"] is True

    # strict mode raises instead (fresh consumer dir sees the same loss)
    import shutil

    strict_target = os.path.join(cfg.output_dir, "_records")
    shutil.rmtree(os.path.join(strict_target, "_applied"))
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # no stray warning in strict path
        with pytest.raises(RuntimeError, match="expired before"):
            maintain_kafka_records(spark, cfg, strict=True)


@pytest.fixture(scope="module")
def expired_stream(spark, tmp_root, stream_pdf):
    """A committed stream whose data-bearing batches, all but the newest,
    were expired before any consumer applied them."""
    d = f"{tmp_root}/loss_in"
    _write_chunks(stream_pdf.iloc[:900], d, n_chunks=3)
    cfg = _cfg(tmp_root, "loss")
    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)
    sink_mod.expire_emitted(cfg, keep_last=1)
    lost = [
        b
        for b in sink_mod.committed_batch_ids(cfg)
        if not os.path.isdir(sink_mod.batch_output_path(cfg, b))
        and sink_mod.read_lineage_one(cfg, b).get("n_records", 0) > 0
    ]
    assert lost, "fixture should have data-bearing expired batches"
    return cfg, lost


def _loss_consumer(name: str):
    """(call(spark, cfg, target, **kw), marker dir of `target`, takes
    strict) for each committed-batch consumer."""
    from scylla_cdc_source_connector_spark.operators.kafka_records import (
        maintain_kafka_records,
    )
    from scylla_cdc_source_connector_spark.sources import iceberg_meta as im
    from scylla_cdc_source_connector_spark.streaming.apply import (
        materialize_latest,
    )
    from scylla_cdc_source_connector_spark.streaming.corpus import (
        maintain_corpus,
    )

    return {
        "materialize_latest": (
            lambda s, c, t, **kw: materialize_latest(s, c, target_dir=t, **kw),
            False,
        ),
        "maintain_corpus": (
            lambda s, c, t, **kw: maintain_corpus(s, c, target_dir=t, **kw),
            False,
        ),
        # the records consumer's target is fixed under the sink's output
        "maintain_kafka_records": (
            lambda s, c, t, **kw: maintain_kafka_records(s, c, **kw),
            True,
        ),
        "maintain_iceberg_table": (im.maintain_iceberg_table, True),
        "maintain_latest_state_mirror": (im.maintain_latest_state_mirror, True),
    }[name]


@pytest.mark.parametrize(
    "consumer",
    [
        "materialize_latest",
        "maintain_corpus",
        "maintain_kafka_records",
        "maintain_iceberg_table",
        "maintain_latest_state_mirror",
    ],
)
def test_consumer_detects_expired_batches(
    spark, tmp_root, expired_stream, consumer
):
    """Every committed-batch consumer warns about a batch expired before
    it applied it, records the loss as an {"expired": true} applied
    marker, and raises under strict=True where it takes strict."""
    import json as _json
    import shutil
    import warnings

    cfg, lost = expired_stream
    call, takes_strict = _loss_consumer(consumer)

    def target_of(tag):
        if consumer == "maintain_kafka_records":
            return os.path.join(cfg.output_dir, "_records")
        return f"{tmp_root}/loss_{consumer}_{tag}"

    target = target_of("lenient")
    with pytest.warns(RuntimeWarning, match="expired before"):
        call(spark, cfg, target)
    for b in lost:
        marker = os.path.join(target, "_applied", f"batch-{b}.json")
        with open(marker) as fh:
            assert _json.load(fh)["expired"] is True
    assert sorted(
        int(f[len("batch-") : -len(".json")])
        for f in os.listdir(os.path.join(target, "_applied"))
    ) == sink_mod.committed_batch_ids(cfg)

    if not takes_strict:
        return
    strict_target = target_of("strict")
    shutil.rmtree(os.path.join(strict_target, "_applied"), ignore_errors=True)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # no stray warning in strict path
        with pytest.raises(RuntimeError, match="expired before"):
            call(spark, cfg, strict_target, strict=True)


def test_iceberg_sink_seam(spark, stream_pdf):
    """The production Iceberg emit path (one atomic staged-append per
    micro-batch): no Iceberg runtime in this container, so the seam must
    raise the documented blocker, and the documented writer-property set
    must stay in sync with the code."""
    df = spark.createDataFrame(stream_pdf.head(5))
    with pytest.raises(NotImplementedError, match="Iceberg runtime"):
        sink_mod.iceberg_emit(df, 7, _cfg("/tmp", "seam"), "catalog.db.emitted")
    assert set(sink_mod.ICEBERG_SINK_OPTIONS) == {
        "write.wap.id",
        "write.distribution-mode",
        "sort-order",
    }


def test_heartbeat_offsets_fold_lineage_once(spark, tmp_root, monkeypatch):
    """An idle stream's heartbeats carry the per-shard high-water offsets
    without re-reading lineage per trigger: over 20 empty windows after 50
    committed batches the emitter folds lineage once, and every empty
    window's records equal the full fold of the lineage committed by then
    (later windows included, carried from the `shards` of each call)."""
    import builtins

    from scylla_cdc_source_connector_spark.streaming import increment

    cfg = _cfg(tmp_root, "hb_fold", heartbeat_interval_ms=10**9)
    os.makedirs(cfg.lineage_dir, exist_ok=True)
    rng = np.random.default_rng(5)

    def shards_of():
        return [
            {"shard_id": f"s{s}", "generation": int(rng.integers(0, 2)),
             "window_end_us": int(rng.integers(0, 40)) * 1000}
            for s in rng.choice(4, size=int(rng.integers(1, 4)), replace=False)
        ]

    def commit(bid, n, shards):
        increment.write_json_atomic(
            sink_mod.lineage_path(cfg, bid),
            {"batch_id": bid, "n_records": n, "shards": shards},
        )

    def full_fold():
        hwm = {}
        for b in sink_mod.committed_batch_ids(cfg):
            for s in real_one(cfg, b)["shards"]:
                cur = hwm.get(s["shard_id"])
                if cur is None or s["window_end_us"] >= cur["window_end_us"]:
                    hwm[s["shard_id"]] = s
        return {(s["shard_id"], s["generation"], s["window_end_us"]) for s in hwm.values()}

    real_one, real_open = sink_mod.read_lineage_one, builtins.open
    for bid in range(50):
        commit(bid, 3, shards_of())
    emit = sink_mod._make_heartbeat_emitter(cfg)

    reads, opens = [], []
    monkeypatch.setattr(
        sink_mod, "read_lineage_one",
        lambda c, b: reads.append(b) or real_one(c, b),
    )

    def counting_open(path, *a, **kw):
        if str(path).startswith(cfg.lineage_dir):
            opens.append(path)
        return real_open(path, *a, **kw)

    monkeypatch.setattr(builtins, "open", counting_open)
    bid, want = 50, {}
    for _ in range(20):
        emit(spark, bid, 0, [])
        commit(bid, 0, [])
        monkeypatch.setattr(builtins, "open", real_open)
        want[bid] = full_fold()
        monkeypatch.setattr(builtins, "open", counting_open)
        shards = shards_of()
        emit(spark, bid + 1, 3, shards)
        commit(bid + 1, 3, shards)
        bid += 2
    monkeypatch.setattr(builtins, "open", real_open)
    assert len(reads) == 50 and len(opens) == 50 + 40  # one fold + the commits
    hb = sink_mod.read_heartbeats(spark, cfg)
    for b, rows in want.items():
        got = {
            (r["shard_id"], r["generation"], r["window_end_us"])
            for r in hb.where(F.col("batch_id") == b).collect()
        }
        assert got == rows, b


def test_consumer_registration_written_only_on_change(tmp_root):
    """A steady consumer's pass leaves its `_consumers/<name>.json` as it
    is (same inode, same mtime); a changed target dir rewrites it."""
    from scylla_cdc_source_connector_spark.streaming import increment

    cfg = _cfg(tmp_root, "consumer_reg")
    path = os.path.join(cfg.output_dir, "_consumers", "c.json")
    increment.unapplied_batches(cfg, f"{tmp_root}/consumer_reg/t1", name="c")
    st = os.stat(path)
    increment.unapplied_batches(cfg, f"{tmp_root}/consumer_reg/t1", name="c")
    st2 = os.stat(path)
    assert (st2.st_ino, st2.st_mtime_ns) == (st.st_ino, st.st_mtime_ns)
    increment.unapplied_batches(cfg, f"{tmp_root}/consumer_reg/t2", name="c")
    assert os.stat(path).st_ino != st.st_ino
    assert increment.registered_consumers(cfg) == {
        "c": os.path.abspath(f"{tmp_root}/consumer_reg/t2")
    }
