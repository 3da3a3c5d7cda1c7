"""Incremental training-corpus maintenance (streaming/corpus.py): the
resolved corpus tracks the table through the change stream — updates
replace a clip's segments, deletes retire them, re-inserts return,
duplicate payloads never re-enter, applies are incremental and
idempotent."""

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
from scylla_cdc_source_connector_spark.plans.training_pipeline import (
    training_corpus,
)
from scylla_cdc_source_connector_spark.streaming.increment import applied_batch_ids
from scylla_cdc_source_connector_spark.streaming.corpus import (
    maintain_corpus,
    read_corpus,
)
from scylla_cdc_source_connector_spark.streaming.engine import run_stream

WINDOW_MS, HOP_MS = 250, 250


def _cfg(tmp, name) -> EngineConfig:
    return EngineConfig(
        include_before=IncludeMode.FULL,
        include_after=IncludeMode.FULL,
        checkpoint_dir=f"{tmp}/{name}/ckpt",
        output_dir=f"{tmp}/{name}/out",
        lineage_dir=f"{tmp}/{name}/lineage",
    )


@pytest.fixture(scope="module")
def driven(spark, tmp_root):
    """Stream the changelog in two halves, maintaining the corpus after
    each; return (cfg, target, input_dir, corpus_after_each_phase)."""
    pdf = make_changelog(
        FixtureSpec(n_events=1_500, n_clips=150)
    ).sort_values("cdc$time_us", kind="stable")
    d = f"{tmp_root}/corpus_in"
    os.makedirs(d, exist_ok=True)
    half = len(pdf) // 2
    write_changelog_chunk(pdf.iloc[:half], f"{d}/chunk-000.parquet")
    cfg = _cfg(tmp_root, "corpus")
    target = f"{tmp_root}/corpus_target"

    q = run_stream(spark, cfg, d, available_now=True)
    q.awaitTermination(300)
    maintain_corpus(spark, cfg, target_dir=target, window_ms=WINDOW_MS, hop_ms=HOP_MS)
    phase1 = read_corpus(spark, target).toPandas()

    write_changelog_chunk(pdf.iloc[half:], f"{d}/chunk-001.parquet")
    q = run_stream(spark, cfg, d, available_now=True)
    q.awaitTermination(300)
    maintain_corpus(spark, cfg, target_dir=target, window_ms=WINDOW_MS, hop_ms=HOP_MS)
    phase2 = read_corpus(spark, target).toPandas()
    return cfg, target, d, (phase1, phase2)


def test_corpus_tracks_live_state(spark, driven):
    cfg, target, d, (p1, p2) = driven
    assert len(p1) > 0 and len(p2) > 0
    assert p2["fingerprint"].is_unique

    # deleted clips (latest delta is a delete) contribute nothing
    cl = spark.read.parquet(d)
    dead = {
        r["clip_id"]
        for r in cl.where(F.col("`cdc$operation`").isin(1, 2, 4))
        .groupBy("clip_id")
        .agg(F.max_by("`cdc$operation`", "`cdc$time_us`").alias("op"))
        .where("op = 4")
        .collect()
    }
    assert dead and not (set(p2["clip_id"]) & dead)

    # every corpus fingerprint is producible from the final live states
    # (one-shot recipe on the same data); the reverse direction admits
    # the documented first-seen drift, measured tiny here
    oneshot = training_corpus(
        cl, cfg, segment_window_ms=WINDOW_MS, segment_hop_ms=HOP_MS
    ).toPandas()
    inc_fps, ref_fps = set(p2["fingerprint"]), set(oneshot["fingerprint"])
    assert inc_fps <= ref_fps
    missing = ref_fps - inc_fps
    assert len(missing) <= max(2, len(ref_fps) // 50), (
        f"drift too large: {len(missing)}/{len(ref_fps)}"
    )


def test_incremental_and_idempotent(spark, driven):
    cfg, target, _, (p1, p2) = driven
    # all committed sink batches are marked applied, and a re-run is a no-op
    assert maintain_corpus(spark, cfg, target_dir=target) == 0
    again = read_corpus(spark, target).toPandas()
    assert set(again["fingerprint"]) == set(p2["fingerprint"])
    assert applied_batch_ids(target)


def test_gate_failed_update_retires_prior_version(spark, tmp_root, driven):
    """An UPDATE whose new payload admits zero segments (here: an
    undecodable codec failing the SNR gate) must still retire the clip's
    previous version — the version marker row carries the new __ts_us so
    read_corpus stops serving the replaced content.  A later update back
    to the clip's own original payload must re-admit it (owner-aware
    dedup: a clip never blocks on its own fingerprints)."""
    import numpy as np
    import pandas as pd

    from scylla_cdc_source_connector_spark import audio
    from scylla_cdc_source_connector_spark.streaming import sink as sink_mod

    cfg = _cfg(tmp_root, "stalever")
    target = f"{tmp_root}/stalever_target"
    os.makedirs(cfg.lineage_dir, exist_ok=True)
    sr = 8000
    pcm = (
        np.sin(2 * np.pi * 500 * np.arange(sr) / sr) * 0.5 * 32767
    ).astype(np.int16)
    good = audio.encode(pcm, "pcm_s16le")

    def env_rows(op, ts, payload, codec):
        return pd.DataFrame(
            {
                "clip_id": ["clip-s"],
                "cdc$time_us": [ts],
                "value": [
                    {
                        "op": op,
                        "after": {"bytes": payload, "codec": codec, "sr_hz": sr},
                    }
                ],
            }
        )

    schema = (
        "clip_id string, `cdc$time_us` long, "
        "value struct<op string, after struct<bytes binary, codec string, sr_hz int>>"
    )
    phases = [
        ("c", 10, good, "pcm_s16le"),   # insert: segments admitted
        ("u", 20, b"\x01\x02\x03", "opus"),  # update: gate-failed payload
        ("u", 30, good, "pcm_s16le"),   # update back to own original
    ]
    counts = []
    for bid, (op, ts, payload, codec) in enumerate(phases):
        df = spark.createDataFrame(env_rows(op, ts, payload, codec), schema)
        df.write.mode("overwrite").parquet(sink_mod.batch_output_path(cfg, bid))
        sink_mod._commit_lineage(
            cfg, bid, {"batch_id": bid, "n_records": 1, "shards": []}
        )
        maintain_corpus(spark, cfg, target_dir=target, window_ms=WINDOW_MS)
        counts.append(len(read_corpus(spark, target).toPandas()))
    assert counts[0] > 0, "insert must admit segments"
    assert counts[1] == 0, (
        "gate-failed update must retire the prior version's segments"
    )
    assert counts[2] == counts[0], (
        "re-ingesting the clip's own content must re-admit it"
    )


def test_delete_then_reinsert_returns(spark, tmp_root, driven):
    """A clip deleted and later re-inserted with the SAME payload must
    re-enter the corpus: the dedup anti-join blocks on live-resolved
    fingerprints, not on history."""
    import numpy as np
    import pandas as pd

    cfg0, target0, d, _ = driven
    # craft three synthetic sink batches directly (envelope-shaped)
    from scylla_cdc_source_connector_spark import audio
    from scylla_cdc_source_connector_spark.streaming import sink as sink_mod

    cfg = _cfg(tmp_root, "resurrect")
    target = f"{tmp_root}/resurrect_target"
    os.makedirs(cfg.lineage_dir, exist_ok=True)
    sr = 8000
    pcm = (
        np.sin(2 * np.pi * 700 * np.arange(sr) / sr) * 0.5 * 32767
    ).astype(np.int16)
    raw = audio.encode(pcm, "pcm_s16le")

    def env_rows(op, ts, payload):
        return pd.DataFrame(
            {
                "clip_id": ["clip-r"],
                "cdc$time_us": [ts],
                "value": [
                    {
                        "op": op,
                        "after": None
                        if op == "d"
                        else {"bytes": payload, "codec": "pcm_s16le", "sr_hz": sr},
                    }
                ],
            }
        )

    schema = (
        "clip_id string, `cdc$time_us` long, "
        "value struct<op string, after struct<bytes binary, codec string, sr_hz int>>"
    )
    for bid, (op, ts) in enumerate([("c", 10), ("d", 20), ("c", 30)]):
        df = spark.createDataFrame(env_rows(op, ts, raw), schema)
        df.write.mode("overwrite").parquet(sink_mod.batch_output_path(cfg, bid))
        sink_mod._commit_lineage(
            cfg, bid, {"batch_id": bid, "n_records": 1, "shards": []}
        )
        maintain_corpus(spark, cfg, target_dir=target, window_ms=WINDOW_MS)
        got = read_corpus(spark, target).toPandas()
        if op == "d":
            assert len(got) == 0, "delete must retire the clip's segments"
        else:
            assert len(got) > 0 and set(got["clip_id"]) == {"clip-r"}
