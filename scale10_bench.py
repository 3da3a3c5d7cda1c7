#!/usr/bin/env python
"""sf1-equivalent (10x sf0.1, ~18 GB payload) evidence run — VERDICT r3 #1/#10.

Every r1-r3 number came from sf0.1 (~1.8 GB, comfortably page-cached).
This script synthesizes a 10x changelog (10 chunks x 100k events, the
bench.py fixture spec with per-chunk seeds and disjoint clip-id spaces)
and measures, on the SAME engine code paths the sf0.1 bench uses:

- batch envelope pipeline (FULL/FULL) wall + events/s, best-of-2
- the composed training-data recipe (plans/training_pipeline.py), best-of-2
- streaming exactly-once micro-batched run (1 chunk/trigger -> 10 batches,
  cross-batch pending carryover) with per-batch emit-latency p50/p95/max,
  plus a paired zero-logic write control (read the envelopes the sink just
  wrote, write the same bytes back) bounding the box's write ceiling
- scaling pairs 2 -> 8 cores (north_rule evidence at this sf): payload,
  metadata (8x in-plan replication — no extra storage), and the pure-scan
  control that measures the BOX's shared-bandwidth ceiling.  Interleaved
  rounds, min per level (BASELINE.md §D variance protocol).

Input lives on /dev/shm (tmpfs): this box's disk writes back at
~75 MB/s, which would make every job IO-theater; production reads come
from distributed storage whose aggregate bandwidth scales with
executors.  Streaming output goes to real disk (/tmp) — the sink's
write path is part of what is being measured.

Prints ONE JSON line; the driver-visible artifact is BENCH_sf1.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

N_CHUNKS = 10
EVENTS_PER_CHUNK = 100_000
#: default tmpfs (BASELINE.md §D-r4 rationale).  The VERDICT r4 #4
#: disk-resident campaign sets SPARK_GRAFT_SF1_INPUT_DIR=/tmp/... and
#: SPARK_GRAFT_SF1_DROP_CACHES=1 so the measured READ truly comes off
#: the block device, not RAM.
IN_DIR = os.environ.get(
    "SPARK_GRAFT_SF1_INPUT_DIR", "/dev/shm/sccs_sf1_changelog_v2"
)
STREAM_ROOT = os.environ.get("SPARK_GRAFT_SF1_STREAM_ROOT", "/tmp/sccs_sf1_stream")
ROUNDS = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "2"))
META_REPLICAS = 8
#: ≥3 samples for the composed recipe at sf1 (VERDICT r4 #7)
TRAIN_REPEATS = int(os.environ.get("SPARK_GRAFT_SF1_TRAIN_REPEATS", "3"))


def drop_caches() -> bool:
    """Evict the page cache (tmpfs pages are NOT affected) so the next
    read is disk-resident.  Returns True when the drop took effect."""
    if os.environ.get("SPARK_GRAFT_SF1_DROP_CACHES") != "1":
        return False
    try:
        os.sync()
        with open("/proc/sys/vm/drop_caches", "w") as fh:
            fh.write("3")
        return True
    except OSError:
        return False


def _selected_jobs() -> list[str]:
    """Jobs to measure; SPARK_GRAFT_SCALE_JOBS="metadata,metadata_fused"
    narrows a campaign to the jobs under study."""
    default = "payload,metadata,scan_control"
    return os.environ.get("SPARK_GRAFT_SCALE_JOBS", default).split(",")


def prepare_input() -> tuple[str, int]:
    """10 chunks, each an independent bench-spec changelog with a unique
    seed and a per-chunk clip-id suffix (disjoint key spaces, so the union
    is a valid single changelog 10x the size).  Each chunk's event times
    are shifted onto a DISJOINT window (chunk i starts 1100 s after chunk
    i-1's base — past each ~1000 s span), so arrival order == event-time
    order across micro-batch boundaries; without the shift every chunk
    restarts at the fixture epoch and chunks 2..N arrive beyond the
    confidence window, indistinguishable from pathological late data (the
    v1 run emitted only chunk 1's envelopes).  clip_reference_pcm depends
    only on (clip_index, sr, dur), so clips agreeing on those across
    chunks are genuine cross-chunk exact duplicates — the dedup stages see
    a realistic duplicate rate instead of an all-unique corpus."""
    from scylla_cdc_source_connector_spark.fixtures import (
        FixtureSpec,
        make_changelog,
        write_changelog_chunk,
    )

    os.makedirs(IN_DIR, exist_ok=True)
    have = [f for f in os.listdir(IN_DIR) if f.endswith(".parquet")]
    if len(have) != N_CHUNKS:
        shutil.rmtree(IN_DIR)
        os.makedirs(IN_DIR)
        for i in range(N_CHUNKS):
            spec = FixtureSpec(
                n_events=EVENTS_PER_CHUNK,
                n_clips=EVENTS_PER_CHUNK // 10,
                n_shards=64,
                n_generations=2,
                min_dur_ms=200,
                max_dur_ms=500,
                seed=42 + i,
            )
            pdf = make_changelog(spec)
            pdf["clip_id"] = pdf["clip_id"] + f"-x{i}"
            shift_us = i * 1_100_000_000
            pdf["cdc$time_us"] = pdf["cdc$time_us"] + shift_us
            pdf["cdc$time"] = pdf["cdc$time"] + __import__(
                "pandas"
            ).to_timedelta(shift_us, unit="us")
            write_changelog_chunk(
                pdf, os.path.join(IN_DIR, f"chunk-{i:03d}.parquet")
            )
            print(
                f"[scale10] chunk {i + 1}/{N_CHUNKS} ({len(pdf)} rows)",
                file=sys.stderr,
                flush=True,
            )
    import pyarrow.parquet as pq

    rows = sum(
        pq.read_metadata(os.path.join(IN_DIR, f)).num_rows
        for f in sorted(os.listdir(IN_DIR))
        if f.endswith(".parquet")
    )
    gb = sum(
        os.path.getsize(os.path.join(IN_DIR, f))
        for f in os.listdir(IN_DIR)
        if f.endswith(".parquet")
    ) / 1e9
    print(f"[scale10] input ready: {rows} rows, {gb:.1f} GB", file=sys.stderr)
    return IN_DIR, rows


def _session(cpus: int):
    from pyspark.sql import SparkSession

    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/sccs-spark-local")
    os.makedirs(local_dir, exist_ok=True)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "32g"))
        .config("spark.local.dir", local_dir)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # ~10 kB binary payloads: bound column-vector + Arrow batch memory
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .appName(f"scylla-cdc-spark-sf1-{cpus}")
        .getOrCreate()
    )


def worker(cpus: int) -> None:
    """One JVM at one parallelism level: payload / metadata / scan jobs."""
    from pyspark.sql import functions as F

    spark = _session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    from scylla_cdc_source_connector_spark import audio
    from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
    from scylla_cdc_source_connector_spark.plans.pipeline import cdc_envelopes

    cfg_none = EngineConfig()
    cfg_full = EngineConfig(
        include_before=IncludeMode.FULL, include_after=IncludeMode.FULL
    )

    def job_payload() -> int:
        env = cdc_envelopes(
            spark.read.parquet(IN_DIR), cfg_full, processing_ts_ms=F.lit(0)
        )
        decoded = env.select(
            "clip_id",
            F.col("value.after.bytes").alias("bytes"),
            F.col("value.after.codec").alias("codec"),
        ).where("bytes IS NOT NULL")
        return (
            decoded.mapInPandas(audio.audio_stats_batches, audio.AUDIO_STATS_SCHEMA)
            .where("decode_ok AND roundtrip_snr_db >= 30.0")
            .count()
        )

    def _meta_env():
        """Payload-pruned envelope plan over META_REPLICAS in-plan copies
        of the input (per-replica clip suffix keeps key spaces disjoint):
        the metadata path is ~40x cheaper per row than payload, so it needs
        more rows for the parallel fraction to dominate fixed costs; the
        replication happens in the scan plan, not on disk."""
        reps = []
        for r in range(META_REPLICAS):
            reps.append(
                spark.read.parquet(IN_DIR).withColumn(
                    "clip_id", F.concat("clip_id", F.lit(f"-r{r}"))
                )
            )
        changelog = reps[0]
        for d in reps[1:]:
            changelog = changelog.unionByName(d)
        return cdc_envelopes(changelog, cfg_none, processing_ts_ms=F.lit(0)).select(
            "clip_id", "`cdc$time`", F.col("value.op").alias("op")
        )

    def _meta_queries(env):
        from scylla_cdc_source_connector_spark.operators.skew import salted_agg
        from scylla_cdc_source_connector_spark.operators.windows import tumbling_agg

        return (
            env.groupBy("op").count(),
            tumbling_agg(
                env, "cdc$time", "1 minute", ["op"], [F.count("*").alias("n")]
            ),
            salted_agg(env, ["clip_id"], {"n_events": ("count", "")}, n_salt=8)
            .orderBy(F.desc("n_events"))
            .limit(10),
        )

    def job_metadata() -> int:
        q1, q2, q3 = _meta_queries(_meta_env())
        return q1.count() + q2.count() + q3.count()

    def job_metadata_fused() -> int:
        """The same three aggregates as ONE action: each branch reduced to
        a single-row count, unioned, summed.  Isolates the per-action fixed
        cost (driver planning/codegen/submission of the 8-way-union plan,
        parallelism-independent) that job_metadata pays three times — the
        Amdahl term behind its 4->16 efficiency drop (BASELINE.md §D-r4)."""
        q1, q2, q3 = _meta_queries(_meta_env())
        fused = (
            q1.agg(F.count("*").alias("n"))
            .unionByName(q2.agg(F.count("*").alias("n")))
            .unionByName(q3.agg(F.count("*").alias("n")))
        )
        return int(fused.agg(F.sum("n").alias("s")).first()["s"])

    def job_scan_control() -> int:
        row = (
            spark.read.parquet(IN_DIR)
            .select(F.sum(F.length("bytes")).alias("b"), F.count("*").alias("n"))
            .first()
        )
        return int(row["n"])

    out = {"cpus": cpus}
    all_jobs = {
        "payload": job_payload,
        "metadata": job_metadata,
        "metadata_fused": job_metadata_fused,
        "scan_control": job_scan_control,
    }
    for name in _selected_jobs():
        job = all_jobs[name]
        job()  # warmup
        best_s, n = None, 0
        for _ in range(2):
            t0 = time.time()
            n = job()
            s = time.time() - t0
            best_s = s if best_s is None else min(best_s, s)
        out[name] = {"seconds": best_s, "n": n}
    spark.stop()
    print(json.dumps(out))


def headline(rows: int) -> dict:
    """Batch + training + micro-batched exactly-once streaming at
    local[32] on the sf1 input — the same code paths bench.py times at
    sf0.1, so the two artifacts are directly comparable."""
    from pyspark.sql import functions as F

    spark = _session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
    from scylla_cdc_source_connector_spark.plans.pipeline import cdc_envelopes
    from scylla_cdc_source_connector_spark.plans.training_pipeline import (
        training_corpus,
    )
    from scylla_cdc_source_connector_spark.streaming.engine import run_stream

    cfg_full = EngineConfig(
        include_before=IncludeMode.FULL, include_after=IncludeMode.FULL
    )
    out: dict = {"rows": rows}
    samples: dict[str, list[float]] = {}

    def timed_best(name: str, fn, repeats: int):
        ss, r = [], None
        for _ in range(repeats):
            t0 = time.time()
            r = fn()
            ss.append(round(time.time() - t0, 3))
        samples[name] = ss
        out[name + "_sec"] = min(ss)
        return r

    out["input_dir"] = IN_DIR
    changelog = spark.read.parquet(IN_DIR)

    def batch_once():
        # disk campaign: every sample starts cold (page cache dropped),
        # so best-of-N is the best COLD read, not a warmed rerun
        out["page_cache_dropped"] = drop_caches() or out.get(
            "page_cache_dropped", False
        )
        return (
            cdc_envelopes(changelog, cfg_full, processing_ts_ms=F.lit(0))
            .where("value.op IS NOT NULL")
            .count()
        )

    out["batch_envelope_rows"] = timed_best("batch_pipeline", batch_once, repeats=2)
    out["events_per_sec_batch"] = round(rows / out["batch_pipeline_sec"], 1)

    timed_best(
        "training_pipeline",
        lambda: training_corpus(changelog).count(),
        repeats=TRAIN_REPEATS,
    )

    # streaming exactly-once, 1 chunk per trigger -> N_CHUNKS micro-batches
    shutil.rmtree(STREAM_ROOT, ignore_errors=True)
    drop_caches()
    scfg = EngineConfig(
        include_before=IncludeMode.FULL,
        include_after=IncludeMode.FULL,
        checkpoint_dir=f"{STREAM_ROOT}/ck",
        output_dir=f"{STREAM_ROOT}/out",
        lineage_dir=f"{STREAM_ROOT}/lin",
    )
    t0 = time.time()
    q = run_stream(spark, scfg, IN_DIR, max_files_per_trigger=1)
    q.awaitTermination(3600)
    out["streaming_microbatched_sec"] = round(time.time() - t0, 3)
    out["events_per_sec_streaming"] = round(
        rows / out["streaming_microbatched_sec"], 1
    )
    durs = sorted(
        p["durationMs"]["triggerExecution"]
        for p in (q.recentProgress or [])
        if p.get("durationMs", {}).get("triggerExecution") is not None
        and p.get("numInputRows", 0) > 0
    )
    if durs:
        pct = lambda f: durs[min(int(f * len(durs)), len(durs) - 1)]  # noqa: E731
        out["emit_latency"] = {
            "batch_latency_ms_p50": pct(0.50),
            "batch_latency_ms_p95": pct(0.95),
            "batch_latency_ms_max": durs[-1],
            "n_batches": len(durs),
        }
    from scylla_cdc_source_connector_spark.streaming import sink as sink_mod

    out["emitted_rows"] = sink_mod.read_emitted(spark, scfg).count()

    # paired zero-logic write control: the box's write ceiling on the same
    # byte volume/codec the sink just paid.  Skippable for the disk
    # campaign: input (16 GB) + streaming output (16 GB) + a control copy
    # (16 GB) would overflow the 39 GB root volume, and the control's
    # write ceiling is already pinned by the tmpfs-input artifact.
    env_out = f"{STREAM_ROOT}/out"
    if os.environ.get("SPARK_GRAFT_SF1_SKIP_CONTROL") == "1":
        out["control_payload_write_sec"] = None
        out["control_skipped"] = "disk-space (see BENCH_sf1.json for the control)"
    else:
        batch_dirs = [
            os.path.join(env_out, p)
            for p in os.listdir(env_out)
            if p.startswith("batch_id=")
        ]
        ctrl_out = "/tmp/sccs_sf1_ctrl_write"
        shutil.rmtree(ctrl_out, ignore_errors=True)
        t0 = time.time()
        spark.read.parquet(*batch_dirs).write.option(
            "compression", "zstd"
        ).parquet(ctrl_out)
        out["control_payload_write_sec"] = round(time.time() - t0, 3)
        shutil.rmtree(ctrl_out, ignore_errors=True)
    out["output_gb"] = round(
        sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(env_out)
            for f in fs
        )
        / 1e9,
        2,
    )
    out["timing_samples"] = samples
    spark.stop()
    return out


def main(scaling_only: bool = False, headline_only: bool = False) -> None:
    _, rows = prepare_input()
    result = {
        "metric": "sf1-equivalent (10x sf0.1) engine evidence",
        "input_rows": rows,
        "input_dir": IN_DIR,
        "sf": "sf1-synthetic (10 x 100k-event bench chunks)",
    }
    if not scaling_only:
        result["headline"] = headline(rows)
    if headline_only:
        print(json.dumps(result))
        return

    # the N / 4N pair; SPARK_GRAFT_SCALE_LEVELS="4,16" measures a second
    # pair (round-3 protocol: report both 2->8 and 4->16)
    levels = [
        int(x)
        for x in os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "2,8").split(",")
    ]
    best: dict[str, dict[int, float]] = {}
    all_rows = {
        "payload": rows,
        "metadata": rows * META_REPLICAS,
        "metadata_fused": rows * META_REPLICAS,
        "scan_control": rows,
    }
    job_rows = {j: all_rows[j] for j in _selected_jobs()}
    runs = []
    for rnd in range(ROUNDS):
        for cpus in levels:
            t_start = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker", str(cpus)],
                capture_output=True,
                text=True,
                timeout=3600,
                check=True,
            )
            rec = json.loads(proc.stdout.strip().splitlines()[-1])
            runs.append(rec)
            print(
                f"[scale10] round {rnd + 1}/{ROUNDS} local[{cpus}] "
                f"({time.time() - t_start:.0f}s wall): "
                + " ".join(f"{j}={rec[j]['seconds']:.1f}s" for j in job_rows),
                file=sys.stderr,
                flush=True,
            )
            for job in job_rows:
                cur = best.setdefault(job, {}).get(cpus)
                t = rec[job]["seconds"]
                best[job][cpus] = t if cur is None else min(cur, t)
    result["scaling"] = {}
    lo, hi = levels[0], levels[-1]
    for job, times in best.items():
        thr_lo = job_rows[job] / times[lo]
        thr_hi = job_rows[job] / times[hi]
        result["scaling"][job] = {
            f"thr_{lo}_rows_per_s": round(thr_lo, 1),
            f"thr_{hi}_rows_per_s": round(thr_hi, 1),
            f"efficiency_{lo}to{hi}": round((thr_hi / thr_lo) / (hi / lo), 3),
        }
    result["scaling_runs"] = runs
    print(json.dumps(result))


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]))
    else:
        main(
            scaling_only="--scaling-only" in sys.argv[1:],
            headline_only="--headline-only" in sys.argv[1:],
        )
