"""Streaming audio-validation gate (dead-letter quarantine) tests.

The Kafka-Connect framework the reference runs in diverts poison records
to a dead-letter queue (errors.tolerance=all +
errors.deadletterqueue.topic.name); this engine's analog validates the
decoded audio payload itself (per BASELINE.json input_hint: PCM decode by
codec + SNR floor) inside the exactly-once sink: failing envelopes land
in output_dir/_quarantine/batch_id=N with a reason, the emit stream stays
clean, and a crash replay rebuilds both identically."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
from scylla_cdc_source_connector_spark.fixtures import (
    FixtureSpec,
    make_changelog,
    write_changelog_chunk,
)
from scylla_cdc_source_connector_spark.schemas import OP_POST_IMAGE
from scylla_cdc_source_connector_spark.streaming import sink as sink_mod
from scylla_cdc_source_connector_spark.streaming.engine import run_stream


def _cfg(tmp, name, **kw):
    return EngineConfig(
        include_before=IncludeMode.FULL,
        include_after=IncludeMode.FULL,
        checkpoint_dir=f"{tmp}/{name}/ckpt",
        output_dir=f"{tmp}/{name}/out",
        lineage_dir=f"{tmp}/{name}/lineage",
        audio_validation=True,
        **kw,
    )


@pytest.fixture(scope="module")
def poisoned(tmp_root_mod):
    """Changelog with two poisoned post-image payloads: an odd-length
    pcm_s16le blob and a garbage WAV container.  Returns (input_dir,
    poisoned_clip_ids, n_postimages)."""
    pdf = make_changelog(FixtureSpec(n_events=600, n_clips=80, n_shards=4))
    post = pdf.index[pdf["cdc$operation"] == OP_POST_IMAGE]
    i0, i1 = post[0], post[1]
    pdf.at[i0, "bytes"] = b"\x01\x02\x03"  # odd length -> corrupt pcm16
    pdf.at[i0, "codec"] = "pcm_s16le"
    pdf.at[i1, "bytes"] = b"RIFF\x00\x00\x00\x00WAVEnope"
    pdf.at[i1, "codec"] = "wav"
    bad_keys = {
        (pdf.at[i0, "clip_id"], int(pdf.at[i0, "cdc$time_us"])),
        (pdf.at[i1, "clip_id"], int(pdf.at[i1, "cdc$time_us"])),
    }
    d = f"{tmp_root_mod}/quarantine_in"
    os.makedirs(d, exist_ok=True)
    half = len(pdf) // 2
    write_changelog_chunk(pdf.iloc[:half], f"{d}/c0.parquet")
    write_changelog_chunk(pdf.iloc[half:], f"{d}/c1.parquet")
    return d, bad_keys, int((pdf["cdc$operation"] == OP_POST_IMAGE).sum())


@pytest.fixture(scope="module")
def tmp_root_mod(tmp_path_factory):
    return str(tmp_path_factory.mktemp("quarantine"))


@pytest.mark.parametrize("mode", ["vectorized"])
def test_quarantine_diverts_poison_rows(spark, tmp_root_mod, poisoned, mode):
    d, bad_keys, _ = poisoned
    cfg = _cfg(tmp_root_mod, f"q_{mode}")
    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)

    quar = sink_mod.read_quarantined(spark, cfg)
    got_bad = {
        (r["clip_id"], r["cdc$time_us"])
        for r in quar.select("clip_id", "`cdc$time_us`").collect()
    }
    assert got_bad == bad_keys
    reasons = {r["quarantine_reason"] for r in quar.collect()}
    assert reasons == {"decode_failed"}
    # verdict column rides along for triage
    assert quar.filter("__audio_verdict.decode_ok").count() == 0

    # the emit stream contains NO envelope for the poisoned (key, time)
    emitted = sink_mod.read_emitted(spark, cfg)
    got = {
        (r["clip_id"], r["cdc$time_us"])
        for r in emitted.select("clip_id", "`cdc$time_us`").collect()
    }
    assert not (got & bad_keys)
    assert len(got) > 0
    # lineage accounts for the diverted rows
    assert sum(r.get("n_quarantined", 0) for r in sink_mod.read_lineage(cfg)) == 2


def test_quarantine_replay_idempotent(spark, tmp_root_mod, poisoned):
    """Crash after quarantine write but before lineage commit: the replay
    rewrites the same quarantine dir (overwrite) — no duplicates."""
    d, bad_keys, _ = poisoned
    cfg = _cfg(tmp_root_mod, "q_replay")
    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)

    bids = sink_mod.committed_batch_ids(cfg)
    last = bids[-1]
    os.remove(sink_mod.lineage_path(cfg, last))
    for p in (
        os.path.join(cfg.checkpoint_dir, "commits", str(last)),
        os.path.join(cfg.checkpoint_dir, "commits", f".{last}.crc"),
    ):
        if os.path.exists(p):
            os.remove(p)

    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)
    quar = sink_mod.read_quarantined(spark, cfg)
    assert quar.count() == 2
    # the two poisoned rows may share a clip: distinct (key, time) pairs
    assert quar.select("clip_id", "`cdc$time_us`").distinct().count() == 2


def test_gate_off_emits_everything(spark, tmp_root_mod, poisoned):
    """audio_validation=False (default): poison rows flow through like the
    reference's opaque-BLOB behavior; no quarantine dir appears."""
    d, bad_keys, _ = poisoned
    cfg = EngineConfig(
        include_before=IncludeMode.FULL,
        include_after=IncludeMode.FULL,
        checkpoint_dir=f"{tmp_root_mod}/off/ckpt",
        output_dir=f"{tmp_root_mod}/off/out",
        lineage_dir=f"{tmp_root_mod}/off/lineage",
    )
    q = run_stream(spark, cfg, d, available_now=True)
    q.awaitTermination(300)
    emitted = sink_mod.read_emitted(spark, cfg)
    got = {
        (r["clip_id"], r["cdc$time_us"])
        for r in emitted.select("clip_id", "`cdc$time_us`").collect()
    }
    assert bad_keys <= got
    assert sink_mod.read_quarantined(spark, cfg).count() == 0


def test_gate_noop_for_metadata_only_config(spark, tmp_root_mod, poisoned):
    """Payload-pruned config (include modes = none): the envelope carries
    no post-image payload, so the gate is a structural no-op — nothing
    quarantined, nothing dropped."""
    d, _, _ = poisoned
    cfg = EngineConfig(
        checkpoint_dir=f"{tmp_root_mod}/meta/ckpt",
        output_dir=f"{tmp_root_mod}/meta/out",
        lineage_dir=f"{tmp_root_mod}/meta/lineage",
        audio_validation=True,
    )
    q = run_stream(spark, cfg, d, available_now=True)
    q.awaitTermination(300)
    assert sink_mod.read_quarantined(spark, cfg).count() == 0
    assert sink_mod.read_emitted(spark, cfg).count() > 0
