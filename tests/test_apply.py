"""Incremental CDC apply (streaming/apply.py): the materialized table
equals the batch last-writer-wins state, applies are incremental and
idempotent, and deletes tombstone rather than resurrect."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
from scylla_cdc_source_connector_spark.fixtures import (
    FixtureSpec,
    make_changelog,
    write_changelog_chunk,
)
from scylla_cdc_source_connector_spark.plans.pipeline import cdc_envelopes
from scylla_cdc_source_connector_spark.streaming.apply import (
    materialize_latest,
    read_latest,
)
from scylla_cdc_source_connector_spark.streaming.increment import applied_batch_ids
from scylla_cdc_source_connector_spark.streaming.engine import run_stream


def _cfg(tmp, name) -> EngineConfig:
    return EngineConfig(
        include_before=IncludeMode.FULL,
        include_after=IncludeMode.FULL,
        checkpoint_dir=f"{tmp}/{name}/ckpt",
        output_dir=f"{tmp}/{name}/out",
        lineage_dir=f"{tmp}/{name}/lineage",
    )


def _reference_state(spark, input_dir, cfg):
    """Batch last-writer-wins state: latest envelope per clip, deletes
    absent, live rows = their after image."""
    env = cdc_envelopes(
        spark.read.parquet(input_dir), cfg, processing_ts_ms=F.lit(0)
    )
    latest = (
        env.groupBy("clip_id")
        .agg(
            F.max_by(
                F.struct(
                    F.col("value.op").alias("op"),
                    F.col("value.after.transcript").alias("transcript"),
                    F.col("value.after.sr_hz").alias("sr_hz"),
                    F.col("`cdc$time_us`").alias("ts"),
                ),
                F.col("`cdc$time_us`"),
            ).alias("r")
        )
        .where("r.op <> 'd'")
    )
    return {
        row["clip_id"]: (row["r"]["transcript"], row["r"]["sr_hz"], row["r"]["ts"])
        for row in latest.collect()
    }


@pytest.fixture(scope="module")
def apply_setup(spark, tmp_root):
    pdf = make_changelog(FixtureSpec(n_events=1_500, n_clips=150, n_shards=8))
    d = f"{tmp_root}/apply_in"
    os.makedirs(d, exist_ok=True)
    size = (len(pdf) + 4) // 5
    for i in range(5):
        write_changelog_chunk(
            pdf.iloc[i * size : (i + 1) * size],
            os.path.join(d, f"chunk-{i:03d}.parquet"),
        )
    cfg = _cfg(tmp_root, "apply")
    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=2)
    q.awaitTermination(300)
    assert not q.isActive
    return d, cfg


def test_materialize_matches_batch_state(spark, tmp_root, apply_setup):
    d, cfg = apply_setup
    target = f"{tmp_root}/apply_target"
    n = materialize_latest(spark, cfg, target_dir=target)
    assert n > 0
    got = {
        r["clip_id"]: (r["transcript"], r["sr_hz"], r["__ts_us"])
        for r in read_latest(spark, target)
        .select("clip_id", "transcript", "sr_hz", "__ts_us")
        .collect()
    }
    assert got == _reference_state(spark, d, cfg)


def test_reapply_is_noop_and_idempotent(spark, tmp_root, apply_setup):
    d, cfg = apply_setup
    target = f"{tmp_root}/apply_target2"
    n1 = materialize_latest(spark, cfg, target_dir=target)
    before = sorted(
        read_latest(spark, target).select("clip_id", "__ts_us").collect()
    )
    assert materialize_latest(spark, cfg, target_dir=target) == 0
    after = sorted(
        read_latest(spark, target).select("clip_id", "__ts_us").collect()
    )
    assert before == after and n1 > 0
    # crash-replay: wipe the applied markers (the data survives) and
    # re-apply everything — last-writer-wins must converge to the same rows
    import shutil

    shutil.rmtree(os.path.join(target, "_applied"))
    assert applied_batch_ids(target) == []
    materialize_latest(spark, cfg, target_dir=target)
    again = sorted(
        read_latest(spark, target).select("clip_id", "__ts_us").collect()
    )
    assert again == before


def test_reapply_over_negative_batch_ids(spark, tmp_root, apply_setup):
    """Snapshot backfills commit NEGATIVE sink batch ids (`batch--1.json`);
    a consumer's second pass over them is a no-op, not a parse error."""
    import shutil

    from scylla_cdc_source_connector_spark.streaming import sink as sink_mod

    _, src = apply_setup
    cfg = _cfg(tmp_root, "apply_neg")
    shutil.copytree(src.output_dir, cfg.output_dir)
    shutil.copytree(src.lineage_dir, cfg.lineage_dir)
    first = sink_mod.committed_batch_ids(cfg)[0]
    shutil.copytree(
        sink_mod.batch_output_path(cfg, first), sink_mod.batch_output_path(cfg, -1)
    )
    shutil.copy(sink_mod.lineage_path(cfg, first), sink_mod.lineage_path(cfg, -1))
    target = f"{tmp_root}/apply_neg_target"
    assert materialize_latest(spark, cfg, target_dir=target) > 0
    assert materialize_latest(spark, cfg, target_dir=target) == 0
    assert applied_batch_ids(target) == sink_mod.committed_batch_ids(cfg)


def test_incremental_equals_oneshot(spark, tmp_root, apply_setup):
    """Applying batch-by-batch reaches the same state as one shot; a
    delete applied in an early pass stays deleted (tombstone wins)."""
    d, cfg = apply_setup
    from scylla_cdc_source_connector_spark.streaming import sink as sink_mod

    bids = sink_mod.committed_batch_ids(cfg)
    assert len(bids) >= 2
    inc = f"{tmp_root}/apply_inc"
    # simulate arrival: hide later batches by renaming their lineage
    import json

    lineage = [
        (bid, sink_mod.lineage_path(cfg, bid)) for bid in bids
    ]
    half = len(bids) // 2
    hidden = []
    for bid, p in lineage[half:]:
        os.rename(p, p + ".hold")
        hidden.append(p)
    try:
        materialize_latest(spark, cfg, target_dir=inc)
    finally:
        for p in hidden:
            os.rename(p + ".hold", p)
    materialize_latest(spark, cfg, target_dir=inc)

    oneshot = f"{tmp_root}/apply_oneshot"
    materialize_latest(spark, cfg, target_dir=oneshot)
    a = sorted(
        read_latest(spark, inc).select("clip_id", "__ts_us").collect()
    )
    b = sorted(
        read_latest(spark, oneshot).select("clip_id", "__ts_us").collect()
    )
    assert a == b
