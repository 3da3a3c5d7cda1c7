"""The three workloads.  Each drives the engine only through its public
entry points:

* ``backfill``: ``streaming.engine.run_stream(available_now=True,
  max_files_per_trigger=1)`` drains a pre-written, payload-bearing
  backlog cut one row inside a write batch at every file boundary.
* ``tail``: one long-running ``run_stream`` query with a short
  processing-time trigger, fed by a closed-loop generator that publishes
  window i+1 only after window i's lineage record is visible.
* ``cdc_out``: closed-loop waves over a jarless Iceberg changelog table:
  ``append_files`` -> ``run_iceberg_meta_stream`` ->
  ``maintain_latest_state_mirror`` (position deletes) ->
  ``maintain_changelog_records(["clip_id"])``.

A workload has a warm-up over a disjoint input, a timed phase over a fresh
namespace, an untimed output check, and (traced runs) per-layer numbers.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from cdcbench import trace as tr
from cdcbench.inputs import EVENT_KEY, Cut

#: processing-time trigger of the tail query, ms
TAIL_TRIGGER_MS = 100
#: how long the tail generator waits for one window before calling it failed
WINDOW_TIMEOUT_S = 60.0


def p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


def _progress_start(ts: str) -> float:
    return (
        _dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=_dt.timezone.utc)
        .timestamp()
    )


def engine_cfg(ns: str, **kw):
    from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode

    # full before/after images: a group is complete only with its images,
    # so a file boundary inside a write batch leaves pending state
    return EngineConfig(
        include_before=IncludeMode.FULL,
        include_after=IncludeMode.FULL,
        checkpoint_dir=os.path.join(ns, "ck"),
        output_dir=os.path.join(ns, "out"),
        lineage_dir=os.path.join(ns, "lin"),
        **kw,
    )


@dataclass
class Phase:
    """What one timed (or traced) pass observed."""

    ns: str
    cfg: object
    wall_s: float
    events: int
    latencies_ms: list[float]
    first_job: int
    #: untimed preparation inside the phase (cdc_out's priming wave); it
    #: counts toward setup_s
    prep_s: float = 0.0
    run_id: str = ""
    progress: list[dict] = field(default_factory=list)
    created: list[float] = field(default_factory=list)
    waves: list[dict] = field(default_factory=list)
    tracer: tr.Tracer | None = None


def _stream_progress(q) -> list[dict]:
    """One record per executed micro-batch of query q."""
    seen, out = set(), []
    for p in q.recentProgress:
        d = p["durationMs"]
        if "addBatch" not in d or p["batchId"] in seen:
            continue
        seen.add(p["batchId"])
        out.append(
            {
                "batch": p["batchId"],
                "start": _progress_start(p["timestamp"]),
                "trigger_ms": float(d["triggerExecution"]),
                "add_batch_ms": float(d["addBatch"]),
            }
        )
    return sorted(out, key=lambda r: r["batch"])


def _link_files(manifest: dict, dest: str) -> list[str]:
    """Hard-link the cached input files into dest (no bytes copied)."""
    os.makedirs(dest, exist_ok=True)
    out = []
    for name in manifest["files"]:
        p = os.path.join(dest, name)
        os.link(os.path.join(manifest["dir"], name), p)
        out.append(p)
    return out


def _input_files(manifest: dict) -> list[str]:
    return [os.path.join(manifest["dir"], f) for f in manifest["files"]]


# --------------------------------------------------------------------------
# output checks
# --------------------------------------------------------------------------


def _expected_by_batch(spark, files: list[str], cfg):
    """(batch, clip_id, cdc$time_us, op) rows the batch pipeline emits over
    `files`, each tagged with the micro-batch that completes its group:
    the last file holding one of the group's rows, an exact duplicate
    counting at its first arrival."""
    from pyspark.sql import functions as F

    from scylla_cdc_source_connector_spark.plans.pipeline import cdc_envelopes
    from scylla_cdc_source_connector_spark.schemas import DEFAULT_TABLE

    schema = DEFAULT_TABLE.changelog_schema()
    raw = spark.read.schema(schema).parquet(*files)
    env = cdc_envelopes(raw, cfg, processing_ts_ms=F.lit(0))
    file_idx = F.regexp_extract(F.input_file_name(), r"part-(\d+)\.parquet", 1)
    done = (
        raw.select(*[F.col(f"`{c}`") for c in EVENT_KEY])
        .withColumn("f", file_idx.cast("int"))
        .groupBy(*[f"`{c}`" for c in EVENT_KEY])
        .agg(F.min("f").alias("f"))
        .groupBy("clip_id", "`cdc$time_us`")
        .agg(F.max("f").alias("batch"))
    )
    return env.select(
        "clip_id", "`cdc$time_us`", F.col("value.op").alias("op")
    ).join(done, ["clip_id", "cdc$time_us"])


def check_stream(spark, phase: Phase, files: list[str]) -> tuple[int, int]:
    """backfill / tail: the emitted (key, cdc$time_us, op) multiset of each
    batch equals the batch pipeline's over the same input.  Returns
    (attempted, failed) batches."""
    from pyspark.sql import functions as F

    from scylla_cdc_source_connector_spark.streaming.sink import (
        batch_output_path,
        committed_batch_ids,
    )

    cfg = phase.cfg
    attempted = set(range(len(files)))
    committed = set(committed_batch_ids(cfg)) & attempted
    expected = _expected_by_batch(spark, files, cfg)
    paths = [
        batch_output_path(cfg, b)
        for b in sorted(committed)
        if os.path.isdir(batch_output_path(cfg, b))
    ]
    cols = ["batch", "clip_id", "cdc$time_us", "op"]
    expected = expected.select(*[F.col(f"`{c}`") for c in cols])
    if paths:
        emitted = (
            spark.read.option("basePath", cfg.output_dir)
            .parquet(*paths)
            .select(
                F.col("batch_id").cast("int").alias("batch"),
                "clip_id",
                "`cdc$time_us`",
                F.col("value.op").alias("op"),
            )
        )
    else:
        emitted = expected.limit(0)
    diff = emitted.exceptAll(expected).unionByName(expected.exceptAll(emitted))
    bad = {r["batch"] for r in diff.select("batch").distinct().collect()}
    failed = (attempted - committed) | (bad & attempted)
    return len(attempted), len(failed)


# --------------------------------------------------------------------------
# per-layer numbers shared by the streaming workloads
# --------------------------------------------------------------------------

LAYER_METRICS = (
    ("engine.trigger_overhead_ms_p50", "ms"),
    ("engine.poll_wait_ms_p50", "ms"),
    ("sink.add_batch_ms_p50", "ms"),
    ("sink.jobs_per_batch", "count"),
    ("sink.stages_per_batch", "count"),
    ("sink.driver_ms_p50", "ms"),
    ("sink.envelope_write_ms_p50", "ms"),
    ("sink.pending_write_ms_p50", "ms"),
    ("sink.pending_batches", "count"),
    ("sink.source_scans_per_batch", "count"),
    ("sink.heartbeat_writes", "count"),
    ("scan.self_ms", "ms"),
    ("scan.rows_read_per_event", "rows/event"),
    ("correlation.self_ms", "ms"),
    ("correlation.shuffle_write_bytes", "bytes"),
    ("projection.self_ms", "ms"),
    ("kafka_records.self_ms", "ms"),
    ("kafka_records.records_pass_ms_p50", "ms"),
    ("iceberg_meta.stream_pass_ms_p50", "ms"),
    ("iceberg_meta.mirror_pass_ms_p50", "ms"),
    ("iceberg_meta.metadata_ms_p50", "ms"),
    ("iceberg_meta.read_changelog_ms_p50", "ms"),
    ("iceberg_meta.jobs_per_wave", "count"),
    *tr.SPARK_TOTALS,
    ("host.control_ms", "ms"),
    ("trace.overhead_latency_p50_ms", "ms"),
    ("trace.overhead_events_per_s", "1/s"),
)


def sink_layers(phase: Phase) -> dict[str, float]:
    """Sink numbers read off the committed lineage records."""
    from scylla_cdc_source_connector_spark.streaming.sink import read_lineage

    lin = read_lineage(phase.cfg)
    ph = [r.get("sink_phase_seconds", {}) for r in lin]
    hb = os.path.join(phase.cfg.output_dir, "_heartbeat")
    return {
        "sink.envelope_write_ms_p50": p50(
            [p["envelope_write"] * 1000 for p in ph if "envelope_write" in p]
        ),
        "sink.pending_write_ms_p50": p50(
            [p["pending_write"] * 1000 for p in ph if "pending_write" in p]
        ),
        "sink.pending_batches": float(sum(bool(r.get("has_pending")) for r in lin)),
        "sink.source_scans_per_batch": (
            sum(r.get("n_source_scans", 1) for r in lin) / len(lin) if lin else 0.0
        ),
        "sink.heartbeat_writes": float(
            len(os.listdir(hb)) if os.path.isdir(hb) else 0
        ),
    }


def query_layers(phase: Phase, jobs: list[dict]) -> dict[str, float]:
    """Per-micro-batch numbers from progress and the batch-tagged jobs."""
    pr = phase.progress
    by_batch: dict[int, list[dict]] = {p["batch"]: [] for p in pr}
    for j in jobs:
        b = tr.batch_of(j, phase.run_id)
        if b in by_batch:
            by_batch[b].append(j)
    n = len(pr) or 1
    driver = []
    for p in pr:
        bj = by_batch.get(p["batch"], [])
        busy = tr.covered_seconds([(j["submit"], j["done"]) for j in bj]) * 1000
        driver.append(max(0.0, p["add_batch_ms"] - busy))
    out = {
        "engine.trigger_overhead_ms_p50": p50(
            [p["trigger_ms"] - p["add_batch_ms"] for p in pr]
        ),
        "sink.add_batch_ms_p50": p50([p["add_batch_ms"] for p in pr]),
        "sink.jobs_per_batch": sum(len(v) for v in by_batch.values()) / n,
        "sink.stages_per_batch": sum(
            j["stages"] for v in by_batch.values() for j in v
        )
        / n,
        "sink.driver_ms_p50": p50(driver),
    }
    if phase.created:
        out["engine.poll_wait_ms_p50"] = p50(
            [
                (p["start"] - phase.created[p["batch"]]) * 1000
                for p in pr
                if p["batch"] < len(phase.created)
            ]
        )
    return out


def ladder(spark, files: list[str], cfg, reps: int = 3) -> dict[str, float]:
    """Per-layer self time of the batch operators over the same input.

    A span around a lazy DataFrame builder would time only plan
    construction, so each prefix of the pipeline (scan; + correlation;
    + envelope projection; + wire records) is executed to the `noop`
    sink and a layer's self time is the difference between consecutive
    prefixes (medians of `reps` interleaved rounds)."""
    from pyspark.sql import functions as F

    from scylla_cdc_source_connector_spark.operators.change_typing import (
        admissible_only,
    )
    from scylla_cdc_source_connector_spark.operators.correlation import (
        complete_only,
        correlate_batch,
        mask_unused_images,
        needs_delta_flags,
    )
    from scylla_cdc_source_connector_spark.operators.kafka_records import (
        kafka_records,
    )
    from scylla_cdc_source_connector_spark.operators.projection import (
        build_envelopes,
    )
    from scylla_cdc_source_connector_spark.schemas import DEFAULT_TABLE

    def prefixes():
        scan = spark.read.schema(DEFAULT_TABLE.changelog_schema()).parquet(*files)
        corr = complete_only(
            mask_unused_images(
                correlate_batch(
                    admissible_only(scan), delta_flags=needs_delta_flags(cfg)
                ),
                cfg,
            ),
            cfg,
        )
        env = build_envelopes(corr, cfg, processing_ts_ms=F.lit(0))
        return [
            ("scan", scan),
            ("correlation", corr),
            ("projection", env),
            ("kafka_records", kafka_records(env)),
        ]

    ms: dict[str, list[float]] = {}
    shuffle: list[float] = []
    for _ in range(reps):
        for name, df in prefixes():
            j0 = tr.last_job_id(spark)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            ms.setdefault(name, []).append((time.perf_counter() - t0) * 1000)
            if name == "correlation":
                shuffle.append(
                    float(
                        sum(
                            j.get("shuffle_write_bytes", 0)
                            for j in tr.jobs_after(spark, j0)
                        )
                    )
                )
    med = {k: p50(v) for k, v in ms.items()}
    return {
        "scan.self_ms": med["scan"],
        "correlation.self_ms": med["correlation"] - med["scan"],
        "projection.self_ms": med["projection"] - med["correlation"],
        "kafka_records.self_ms": med["kafka_records"] - med["projection"],
        "correlation.shuffle_write_bytes": p50(shuffle),
    }


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------


class Workload:
    """One workload.  A unit is one micro-batch, window or wave; the timed
    phase runs a fixed number of units, so a run's work and its counts
    repeat exactly."""

    name = ""
    cut_mode = "whole"
    dur_ms = (20, 60)
    dup_frac = 0.01
    unit_events = 100
    units = 3
    warm_units = 3
    warm_unit_events = 0

    def cuts(self, scale: float = 1.0) -> dict[str, Cut]:
        """Warm-up and timed inputs.  `scale` < 1 shrinks the events per
        unit and the warm-up (smoke tests)."""

        def mk(n: int, events: int) -> Cut:
            return Cut(
                n_files=n,
                events_per_file=max(10, round(events * scale)),
                mode=self.cut_mode,
                min_dur_ms=self.dur_ms[0],
                max_dur_ms=self.dur_ms[1],
                dup_frac=self.dup_frac,
            )

        return {
            "warm": mk(
                max(1, round(self.warm_units * scale)),
                self.warm_unit_events or self.unit_events,
            ),
            "timed": mk(self.units, self.unit_events),
        }

    def warmup(self, ctx, manifest: dict) -> Phase:
        return self.phase(ctx, manifest, ctx.ns("warm"))

    def phase(self, ctx, manifest: dict, ns: str, tracer=None) -> Phase:
        raise NotImplementedError

    def end_to_end(self, phase: Phase, manifest: dict) -> dict[str, float]:
        return {
            "events_per_s": phase.events / phase.wall_s,
            "latency_p50_ms": p50(phase.latencies_ms),
            "latency_p90_ms": pct(phase.latencies_ms, 0.90),
        }

    def check(self, ctx, phase: Phase, manifest: dict) -> tuple[int, int]:
        return check_stream(ctx.spark, phase, _input_files(manifest))

    def layers(self, ctx, phase: Phase, manifest: dict, jobs: list[dict]) -> dict:
        """Per-layer numbers of a traced phase; `jobs` are its Spark jobs."""
        out = {
            **sink_layers(phase),
            **query_layers(phase, jobs),
            **tr.spark_totals(jobs),
            "scan.rows_read_per_event": sum(j.get("input_records", 0) for j in jobs)
            / phase.events,
        }
        out.update(ladder(ctx.spark, _input_files(manifest), phase.cfg))
        return out


class Backfill(Workload):
    """Catch-up drain of a payload-bearing backlog, one file per trigger."""

    name = "backfill"
    cut_mode = "split"
    dur_ms = (200, 500)
    # no trailing duplicates: the last batch ends clean, so pending state
    # is only ever the one split group per boundary
    dup_frac = 0.0
    unit_events = 1500
    # four batches; all but the last write pending state, and the last,
    # which only reads it, was the fastest in every run measured, so the
    # median is the mean of two batches that write it
    units = 4
    # three batches: the middle one both reads and writes pending state,
    # the path every timed batch but the first and last takes
    warm_units = 3
    warm_unit_events = 600

    def _drain(self, ctx, input_dir: str, ns: str):
        from scylla_cdc_source_connector_spark.streaming import engine

        cfg = engine_cfg(ns)
        q = engine.run_stream(
            ctx.spark, cfg, input_dir, available_now=True, max_files_per_trigger=1
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"backfill query failed: {q.exception()}")
        return q, cfg

    def phase(self, ctx, manifest: dict, ns: str, tracer=None) -> Phase:
        j0 = tr.last_job_id(ctx.spark)
        t0 = time.perf_counter()
        q, cfg = self._drain(ctx, manifest["dir"], ns)
        wall = time.perf_counter() - t0
        pr = _stream_progress(q)
        return Phase(
            ns=ns,
            cfg=cfg,
            wall_s=wall,
            events=manifest["total_events"],
            latencies_ms=[p["trigger_ms"] for p in pr],
            first_job=j0,
            run_id=str(q.runId),
            progress=pr,
            tracer=tracer,
        )


class Tail(Workload):
    """Closed loop, one writer, one long-running processing-time query."""

    name = "tail"
    # 10 windows: the nearest-rank p90 is the 9th, so one window, the
    # trailing-duplicate one that carries pending state, lies beyond it
    units = 10
    # window latency falls from ~1.75 s to ~1.1 s over the first dozen
    # windows of a session (one probe of 40) and then flattens; six
    # warm-up windows take the timed ones past the steepest part
    warm_units = 6

    def phase(self, ctx, manifest: dict, ns: str, tracer=None) -> Phase:
        from scylla_cdc_source_connector_spark.streaming import engine
        from scylla_cdc_source_connector_spark.streaming.sink import lineage_path

        cfg = engine_cfg(ns, query_window_ms=TAIL_TRIGGER_MS)
        staged = _link_files(manifest, os.path.join(ns, "staged"))
        input_dir = os.path.join(ns, "in")
        os.makedirs(input_dir)
        j0 = tr.last_job_id(ctx.spark)
        q = engine.run_stream(ctx.spark, cfg, input_dir, available_now=False)
        created, lat = [], []
        try:
            t0 = time.perf_counter()
            for i, src in enumerate(staged):
                # stamp, then publish atomically: the window exists for the
                # engine from this instant on
                c = time.time()
                os.rename(src, os.path.join(input_dir, os.path.basename(src)))
                created.append(c)
                done = lineage_path(cfg, i)
                deadline = c + WINDOW_TIMEOUT_S
                while not os.path.exists(done):
                    if q.exception() is not None or time.time() > deadline:
                        break
                    time.sleep(0.002)
                if not os.path.exists(done):
                    break
                lat.append((time.time() - c) * 1000)
            wall = time.perf_counter() - t0
            # the lineage record lands inside the trigger: let the trigger
            # finish (offset commit, progress record) before stopping
            deadline = time.time() + WINDOW_TIMEOUT_S
            progress = _stream_progress(q)
            while len(progress) < len(lat) and time.time() < deadline:
                time.sleep(0.02)
                progress = _stream_progress(q)
        finally:
            q.stop()
        return Phase(
            ns=ns,
            cfg=cfg,
            wall_s=wall,
            events=manifest["total_events"],
            latencies_ms=lat,
            first_job=j0,
            run_id=str(q.runId),
            progress=progress,
            created=created,
            tracer=tracer,
        )


class CdcOut(Workload):
    """Closed-loop waves: append -> drain -> latest-state mirror -> records.

    A wave on an empty mirror is faster than one on a populated mirror
    (3.6 s against 4.6 s on one probe), so each phase first runs one
    untimed priming wave over its first file; every timed wave then runs
    on a populated mirror.  The priming wave counts toward setup_s."""

    name = "cdc_out"
    # one priming wave and two timed waves
    units = 3
    # the warm-up namespace runs only its priming wave: with the timed
    # phase's own priming wave, two waves run before the first timed one
    warm_units = 1

    def phase(self, ctx, manifest: dict, ns: str, tracer=None) -> Phase:
        from scylla_cdc_source_connector_spark.operators import kafka_records as kr
        from scylla_cdc_source_connector_spark.schemas import DEFAULT_TABLE
        from scylla_cdc_source_connector_spark.sources import iceberg_meta as im
        from scylla_cdc_source_connector_spark.streaming import engine

        loc = os.path.join(ns, "changelog")
        mirror = os.path.join(ns, "mirror")
        records = os.path.join(ns, "records")
        cfg = engine_cfg(ns)
        im.create_table(loc, DEFAULT_TABLE.changelog_schema())
        files = _link_files(manifest, os.path.join(loc, "data"))
        tracer = tracer or tr.Tracer()
        waves, lat = [], []

        def wave(i: int, path: str) -> float:
            with tracer.span("wave", req=i):
                with tracer.span("iceberg_meta.append"):
                    im.append_files(loc, [path], timestamp_ms=(i + 1) * 1000)
                committed = time.perf_counter()
                with tracer.span("iceberg_meta.stream_pass"):
                    engine.run_iceberg_meta_stream(ctx.spark, cfg, loc)
                with tracer.span("iceberg_meta.mirror_pass"):
                    im.maintain_latest_state_mirror(
                        ctx.spark, cfg, mirror, delete_mode="position"
                    )
                with tracer.span("kafka_records.records_pass"):
                    res = kr.maintain_changelog_records(
                        ctx.spark, mirror, records, ["clip_id"]
                    )
                ms = (time.perf_counter() - committed) * 1000
            waves.append({"wave": i, "snapshots": res["consumed"], "timed": i > 0})
            return ms

        t_prep = time.perf_counter()
        wave(0, files[0])
        prep_s = time.perf_counter() - t_prep
        j0 = tr.last_job_id(ctx.spark)
        t0 = time.perf_counter()
        for i, path in enumerate(files[1:], start=1):
            lat.append(wave(i, path))
        wall = time.perf_counter() - t0
        return Phase(
            ns=ns,
            cfg=cfg,
            wall_s=wall,
            events=sum(manifest["file_events"][1:]),
            latencies_ms=lat,
            first_job=j0,
            prep_s=prep_s,
            waves=waves,
            tracer=tracer,
        )

    def check(self, ctx, phase: Phase, manifest: dict) -> tuple[int, int]:
        """Every record value parses, one record per (key, commit), and each
        wave's record count equals its read_changelog group count.  The
        priming wave is checked too."""
        from pyspark.sql import functions as F

        from scylla_cdc_source_connector_spark.sources import iceberg_meta as im

        spark = ctx.spark
        mirror = os.path.join(phase.ns, "mirror")
        records_dir = os.path.join(phase.ns, "records")
        recs = spark.read.parquet(records_dir).select("key", "value", "batch")
        got: dict[int, list[tuple[str, bool]]] = {}
        for r in recs.collect():
            try:
                value = json.loads(bytes(r["value"]).decode())
                key = json.loads(bytes(r["key"]).decode())["clip_id"]
                ok = value["op"] in ("c", "u", "d")
            except (ValueError, KeyError, TypeError):
                key, ok = None, False
            got.setdefault(int(r["batch"]), []).append((key, ok))
        groups = {
            int(r["_commit_snapshot_id"]): r["n"]
            for r in im.read_changelog(spark, mirror, identifier_columns=["clip_id"])
            .groupBy("_commit_snapshot_id")
            .agg(F.countDistinct("clip_id").alias("n"))
            .collect()
        }
        failed = 0
        for w in phase.waves:
            ok = bool(w["snapshots"])
            for sid in w["snapshots"]:
                rows = got.get(sid, [])
                keys = [k for k, _ in rows]
                ok = ok and all(v for _, v in rows)
                ok = ok and len(set(keys)) == len(keys) == groups.get(sid, -1)
            failed += not ok
        return len(phase.waves), failed

    def layers(self, ctx, phase: Phase, manifest: dict, jobs: list[dict]) -> dict:
        t = phase.tracer
        spans = t.spans
        timed = [w["wave"] for w in phase.waves if w["timed"]]

        def per_wave(name: str) -> list[float]:
            sums: dict[object, float] = {}
            for s in t.outermost(name):
                sums[s.req] = sums.get(s.req, 0.0) + s.ms
            return [sums.get(w, 0.0) for w in timed]

        # `jobs` start after the priming wave
        wave_jobs = 0
        for j in jobs:
            i = tr.span_of(j, spans)
            if i is not None and spans[i].req in timed:
                wave_jobs += 1
        out = {
            **sink_layers(phase),
            **tr.spark_totals(jobs),
            "scan.rows_read_per_event": sum(j.get("input_records", 0) for j in jobs)
            / phase.events,
            "iceberg_meta.stream_pass_ms_p50": p50(per_wave("iceberg_meta.stream_pass")),
            "iceberg_meta.mirror_pass_ms_p50": p50(per_wave("iceberg_meta.mirror_pass")),
            "kafka_records.records_pass_ms_p50": p50(
                per_wave("kafka_records.records_pass")
            ),
            "iceberg_meta.metadata_ms_p50": p50(per_wave("iceberg_meta.metadata")),
            "iceberg_meta.read_changelog_ms_p50": p50(
                per_wave("iceberg_meta.read_changelog")
            ),
            "iceberg_meta.jobs_per_wave": wave_jobs / max(1, len(timed)),
        }
        out.update(ladder(ctx.spark, _input_files(manifest), phase.cfg))
        return out


def install_spans(tracer: tr.Tracer) -> None:
    """Wrap the engine's public layer functions with spans (traced runs)."""
    from scylla_cdc_source_connector_spark.operators import kafka_records as kr
    from scylla_cdc_source_connector_spark.sources import iceberg_meta as im
    from scylla_cdc_source_connector_spark.streaming import engine

    tracer.wrap(engine, "run_stream", "engine.run_stream")
    for fn in ("current_metadata", "snapshots", "added_files", "scan_files"):
        tracer.wrap(im, fn, "iceberg_meta.metadata")
    tracer.wrap(im, "read_changelog", "iceberg_meta.read_changelog")
    tracer.wrap(kr, "changelog_kafka_envelopes", "kafka_records.envelopes")
    tracer.wrap(kr, "kafka_records", "kafka_records.serialize")


WORKLOADS = {w.name: w for w in (Backfill(), Tail(), CdcOut())}
