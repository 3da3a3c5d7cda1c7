"""The correlating sink's per-batch plan, driven on static batches.

Pins what the lineage `shards` records hold (against a brute-force fold
over the exactly-once view, and the driver-side stats fold against a
Spark aggregate), the driver-only `emitted_count` fold, that the plan's
Column lists are built once per query, not once per micro-batch, and that
a repeat micro-batch compiles no code."""

from __future__ import annotations

import dataclasses
import os
import time

import numpy as np

import pytest
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
from scylla_cdc_source_connector_spark.fixtures import (
    FixtureSpec,
    make_changelog,
    write_changelog_chunk,
)
from scylla_cdc_source_connector_spark.schemas import (
    DEFAULT_TABLE,
    OP_POST_IMAGE,
    TableModel,
)
from scylla_cdc_source_connector_spark.streaming import sink as sink_mod


def _cfg(tmp, name, **kw) -> EngineConfig:
    return EngineConfig(
        include_before=IncludeMode.FULL,
        include_after=IncludeMode.FULL,
        tombstones_on_delete=True,
        checkpoint_dir=f"{tmp}/{name}/ckpt",
        output_dir=f"{tmp}/{name}/out",
        lineage_dir=f"{tmp}/{name}/lineage",
        **kw,
    )


def _batches(spark, tmp, name, pdf, bounds):
    """Static micro-batches cut at row offsets `bounds`; an empty range is
    an empty batch read off an empty parquet file."""
    schema = DEFAULT_TABLE.changelog_schema()
    out = []
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        p = f"{tmp}/{name}/in/part-{i:03d}.parquet"
        os.makedirs(os.path.dirname(p), exist_ok=True)
        write_changelog_chunk(pdf.iloc[lo:hi], p)
        out.append(spark.read.schema(schema).parquet(p))
    return out


def _run(sink, batches):
    for bid, df in enumerate(batches):
        sink(df, bid)


@pytest.fixture(scope="module")
def stream_pdf():
    return make_changelog(FixtureSpec(n_events=600, n_clips=60, n_shards=4, seed=11))


def test_lineage_shard_stats_match_emitted_fold(spark, tmp_root, stream_pdf):
    """Every `shards` field of every lineage record equals a brute-force
    fold over read_emitted, tombstones and an empty batch included."""
    cfg = _cfg(tmp_root, "shard_stats")
    n = len(stream_pdf)
    # cuts inside write batches (pending carry-over), one empty batch
    bounds = [0, n // 3 + 1, n // 3 + 1, 2 * n // 3 + 1, n]
    batches = _batches(spark, tmp_root, "shard_stats", stream_pdf, bounds)
    _run(sink_mod.make_correlating_sink(cfg), batches)

    rows = (
        sink_mod.read_emitted(spark, cfg)
        .select(
            F.regexp_extract(F.input_file_name(), r"batch_id=(-?\d+)", 1)
            .cast("long")
            .alias("bid"),
            "`cdc$stream_id`",
            "generation",
            "clip_id",
            "`cdc$time_us`",
            F.col("value.op").alias("op"),
        )
        .collect()
    )
    want: dict[tuple, dict] = {}
    for r in rows:
        s = want.setdefault(
            (r["bid"], r["cdc$stream_id"], r["generation"]),
            {"times": [], "ops": [], "pk_at": {}},
        )
        s["times"].append(r["cdc$time_us"])
        s["ops"].append(r["op"])
        s["pk_at"].setdefault(r["cdc$time_us"], set()).add(r["clip_id"])

    lineage = sink_mod.read_lineage(cfg)
    assert [r["batch_id"] for r in lineage] == list(range(len(bounds) - 1))
    assert any(r["n_records"] == 0 and r["shards"] == [] for r in lineage)
    assert any(r["op"] is None for r in rows), "no tombstone emitted"
    got_keys = set()
    for rec in lineage:
        assert rec["n_records"] == sum(s["n_records"] for s in rec["shards"])
        if rec["n_records"]:
            assert len(rec["shards"]) > 1, "batch should span shards"
        for s in rec["shards"]:
            key = (rec["batch_id"], s["shard_id"], s["generation"])
            got_keys.add(key)
            w = want[key]
            assert s["window_start_us"] == min(w["times"])
            assert s["window_end_us"] == max(w["times"])
            assert s["n_records"] == len(w["times"])
            assert s["n_creates"] == w["ops"].count("c")
            assert s["n_updates"] == w["ops"].count("u")
            assert s["n_deletes"] == w["ops"].count("d")
            # max_by breaks ties at the max time arbitrarily
            assert s["last_change_clip_id"] in w["pk_at"][max(w["times"])]
    assert got_keys == set(want)


def test_emitted_count_matches_read_emitted(spark, tmp_root, stream_pdf):
    """The driver-only lineage fold equals the exactly-once view's count:
    tombstones on, rows quarantined by the audio gate, batches expired."""
    pdf = stream_pdf.copy()
    post = pdf.index[pdf["cdc$operation"] == OP_POST_IMAGE]
    pdf.at[post[0], "bytes"] = b"\x01\x02\x03"  # odd length: corrupt pcm16
    pdf.at[post[0], "codec"] = "pcm_s16le"
    cfg = _cfg(tmp_root, "emitted_count", audio_validation=True)
    n = len(pdf)
    bounds = [0, n // 4, n // 2, 3 * n // 4, n]
    batches = _batches(spark, tmp_root, "emitted_count", pdf, bounds)
    _run(sink_mod.make_correlating_sink(cfg), batches)

    assert sink_mod.read_quarantined(spark, cfg).count() > 0
    assert sink_mod.read_emitted(spark, cfg).where("value IS NULL").count() > 0
    assert sink_mod.emitted_count(cfg) == sink_mod.read_emitted(spark, cfg).count()
    assert sink_mod.expire_emitted(cfg, keep_last=2)
    assert sink_mod.emitted_count(cfg) == sink_mod.read_emitted(spark, cfg).count()


def test_repeat_batch_reuses_the_plan(spark, tmp_root, stream_pdf, monkeypatch):
    """A repeat batch builds (almost) no Column: at most a fifth of the
    `pyspark.sql.functions` builder calls of the batch that built the
    plan.  A restart that adopts a new schema (a new TableModel, as
    run_stream(adopt_schema=True) makes) builds its own plan and reads the
    pending rows written under the old schema."""
    from pyspark.sql.functions import builtin

    from scylla_cdc_source_connector_spark.schema_evolution import adopt

    calls = {"n": 0}
    for name in [n for n in dir(builtin) if n.startswith("_invoke_function")]:
        real = getattr(builtin, name)

        def counted(*a, _real=real, **kw):
            calls["n"] += 1
            return _real(*a, **kw)

        monkeypatch.setattr(builtin, name, counted)

    # settings no other test uses: the memo keys on settings, not paths,
    # so the first batch here is the one that builds the plan
    settings = {"connector_name": "plan-reuse"}
    cfg = _cfg(tmp_root, "plan_reuse", **settings)
    n = len(stream_pdf)
    b0, b1, b2 = _batches(
        spark, tmp_root, "plan_reuse", stream_pdf, [0, n // 3, 2 * n // 3, n]
    )
    # the same rows under a new input schema (an adopted column)
    b2 = b2.withColumns(
        {
            "speaker": F.lit(None).cast("string"),
            "cdc$deleted_speaker": F.lit(None).cast("boolean"),
        }
    )
    adopted = adopt(DEFAULT_TABLE, b2.schema)

    def run(sink, df, bid) -> tuple[int, int]:
        calls["n"] = 0
        misses = sink_mod._sink_plan.cache_info().misses
        sink(df, bid)
        return calls["n"], sink_mod._sink_plan.cache_info().misses - misses

    sink = sink_mod.make_correlating_sink(cfg)
    built, built_misses = run(sink, b0, 0)
    repeat, repeat_misses = run(sink, b1, 1)
    assert sink_mod.read_lineage_one(cfg, 1)["has_pending"]
    rebuilt, rebuilt_misses = run(
        sink_mod.make_correlating_sink(cfg, adopted), b2, 2
    )
    assert (built_misses, repeat_misses, rebuilt_misses) == (1, 0, 1)
    assert repeat * 5 <= built, (repeat, built)
    assert rebuilt >= 5 * max(repeat, 1), (rebuilt, repeat)
    assert all(r["n_records"] for r in sink_mod.read_lineage(cfg))
    after = spark.read.parquet(sink_mod.batch_output_path(cfg, 2))
    assert "speaker" in after.select("value.after.*").columns

    # a new sink over the same cfg (run_iceberg_meta_stream builds one
    # per pass) hits the same plan
    cfg2 = dataclasses.replace(cfg)
    sc = spark.sparkContext
    assert sink_mod._sink_plan(cfg2, DEFAULT_TABLE, sc) is sink_mod._sink_plan(
        cfg, DEFAULT_TABLE, sc
    )

    # a query on a new output dir with the same settings (a generation of
    # run_generations, a fresh namespace) builds no plan on its first batch
    moved = _cfg(tmp_root, "plan_reuse_moved", **settings)
    first, first_misses = run(sink_mod.make_correlating_sink(moved), b0, 0)
    assert first_misses == 0
    assert first * 5 <= built, (first, built)
    n_moved = sink_mod.read_lineage_one(moved, 0)["n_records"]
    assert n_moved == sink_mod.read_lineage_one(cfg, 0)["n_records"]


def test_plan_memo_under_concurrent_queries(spark, tmp_root):
    """Concurrent queries (connector.run_tables) share the process-wide
    memo: each thread's second lookup returns the plan the memo holds for
    its key, and threads on one key end up with one plan."""
    import sys
    import threading

    sc = spark.sparkContext
    cfgs = [_cfg(tmp_root, f"plan_threads_{i % 3}") for i in range(8)]
    seen: list[tuple[int, object]] = []  # (key, plan of the 2nd lookup)
    errors: list[Exception] = []
    barrier = threading.Barrier(len(cfgs))

    def lookup(i: int) -> None:
        try:
            barrier.wait(timeout=60)
            sink_mod._sink_plan(cfgs[i], DEFAULT_TABLE, sc)
            barrier.wait(timeout=60)
            seen.append(
                (i % 3, sink_mod._sink_plan(cfgs[i], DEFAULT_TABLE, sc))
            )
        except Exception as e:  # reported by the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=lookup, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(seen) == 8
    for key in range(3):
        held = {id(plan) for k, plan in seen if k == key}
        assert len(held) == 1, "threads on one key hold different plans"


def _split_cuts(pdf, k: int) -> list[int]:
    """Row offsets cutting `pdf` into k batches, every interior cut one row
    inside a multi-row (stream, cdc$time) write batch, so every batch
    carries pending rows in and out."""
    st = pdf["cdc$stream_id"].to_numpy()
    tu = pdf["cdc$time_us"].to_numpy()
    starts = np.flatnonzero(np.r_[True, (st[1:] != st[:-1]) | (tu[1:] != tu[:-1])])
    sizes = np.diff(np.r_[starts, len(pdf)])
    cuts = []
    for i in range(1, k):
        j = np.searchsorted(starts, len(pdf) * i // k)
        while sizes[j] < 2:
            j += 1
        cuts.append(int(starts[j]) + 1)
    return [0, *cuts, len(pdf)]


def test_repeat_batch_compiles_no_code(spark, tmp_root, stream_pdf, monkeypatch):
    """From the third sink call on (the first builds the plan, the second
    is the first with a confidence floor, markers and carried pending
    rows) a micro-batch compiles no code: its per-batch values (the
    floors, the processing time) reach the plan through memo.batch_value,
    so the generated Java source equals the last batch's.  Each batch's
    envelopes carry one `ts_ms`, taken within the sink call."""
    cfg = _cfg(tmp_root, "no_recompile")
    bounds = _split_cuts(stream_pdf, 5)
    batches = _batches(spark, tmp_root, "no_recompile", stream_pdf, bounds)
    real_markers = sink_mod._window_markers
    marked = []

    def window_markers(*a, **kw):
        m = real_markers(*a, **kw)
        marked.append(m is not None)
        return m

    monkeypatch.setattr(sink_mod, "_window_markers", window_markers)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = compiles.METRIC_COMPILATION_TIME()
    sink = sink_mod.make_correlating_sink(cfg)
    per_call = []
    for bid, df in enumerate(batches):
        before, t0 = compiled.getCount(), int(time.time() * 1000)
        sink(df, bid)
        t1 = int(time.time() * 1000)
        per_call.append(compiled.getCount() - before)
        ts = {
            r[0]
            for r in spark.read.parquet(sink_mod.batch_output_path(cfg, bid))
            .where("value IS NOT NULL")
            .select("value.ts_ms")
            .collect()
        }
        assert len(ts) == 1 and t0 <= ts.pop() <= t1, (bid, ts, t0, t1)
    lineage = sink_mod.read_lineage(cfg)
    assert marked == [False] + [True] * (len(batches) - 1)
    assert all(r["has_pending"] for r in lineage[:-1])
    assert per_call[0] > 0
    assert per_call[2:] == [0] * (len(batches) - 2), per_call


#: a composite key of an int and a string (test_composite_pk's shape)
_COMPOSITE = TableModel(
    columns=(("pk1", "int"), ("pk2", "string"), ("v", "string")),
    partition_key=("pk1",),
    clustering_key=("pk2",),
)


@pytest.mark.parametrize("name", ["default", "composite"])
def test_shard_stats_fold_matches_spark_aggregate(
    spark, tmp_root, stream_pdf, monkeypatch, name
):
    """The driver-side fold of _write_batch equals a Spark groupBy over the
    files it wrote: a multi-file, many-row-group output, tombstones tying
    their delete's cdc$time_us, folded in one-row-group chunks and in
    chunks of 7 rows (partials merged across chunks and row groups)."""
    from scylla_cdc_source_connector_spark.plans.pipeline import cdc_envelopes

    table = {"default": DEFAULT_TABLE, "composite": _COMPOSITE}[name]
    cfg = _cfg(tmp_root, f"fold_{name}", output_row_group_bytes=1024)
    (df,) = _batches(spark, tmp_root, f"fold_{name}", stream_pdf, [0, len(stream_pdf)])
    env = cdc_envelopes(df, cfg, processing_ts_ms=F.lit(0))
    if table is _COMPOSITE:
        # the composite key: an int that repeats across clips + the clip id
        env = env.withColumns(
            {
                "pk1": (F.crc32("clip_id") % 3).cast("int"),
                "pk2": F.col("clip_id"),
            }
        ).drop("clip_id")

    def fold(bid: int) -> list[dict]:
        n, shards, _, _ = sink_mod._write_batch(env, bid, cfg, table=table)
        assert n == sum(s["n_records"] for s in shards) > 0
        return shards

    out = sink_mod.batch_output_path(cfg, 0)
    whole = fold(0)
    monkeypatch.setattr(sink_mod, "_FOLD_ROWS", 7)
    chunked = fold(1)

    import pyarrow.parquet as pq

    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) > 1
    assert max(pq.ParquetFile(os.path.join(out, f)).num_row_groups for f in parts) > 1

    t, seq = F.col("`cdc$time_us`"), F.col("`cdc$batch_seq_no`")
    op = F.col("value.op")
    want = [
        r.asDict()
        for r in spark.read.parquet(out)
        .groupBy(F.col("`cdc$stream_id`").alias("shard_id"), "generation")
        .agg(
            F.min(t).alias("window_start_us"),
            F.max(t).alias("window_end_us"),
            F.max_by(
                F.concat_ws("|", *[F.col(c).cast("string") for c in table.pk_columns]),
                F.struct(t, seq),
            ).alias("last_change_clip_id"),
            F.count("*").alias("n_records"),
            F.count(F.when(op == "c", 1)).alias("n_creates"),
            F.count(F.when(op == "u", 1)).alias("n_updates"),
            F.count(F.when(op == "d", 1)).alias("n_deletes"),
        )
        .orderBy("shard_id", "generation")
        .collect()
    ]
    assert whole == want
    assert chunked == want
